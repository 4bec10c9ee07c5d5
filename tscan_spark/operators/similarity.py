"""Embedding similarity search (approximate-nearest-neighbor family).

Over the ``embeddings`` table (vec_id, embedding: array<float>, label):

- :func:`brute_force_topk` — exact cosine top-k for a query subset.
  The dot products are *fixed-point integer sums* per dimension
  (round(x*y*1e12) summed as int64), so results are bit-identical across
  engines and partitionings — no float-reduction-order sensitivity.
  At scale this is the baseline: queries broadcast, one pass over the
  corpus, top-k via per-query window.
- :func:`lsh_bucket_topk` — the scale path: sign-bit bucketing on fixed
  dimensions (a deterministic random-hyperplane degenerate); candidates
  only meet within their bucket, turning the all-pairs crossJoin into a
  bucket-local join. Same exact cosine on the candidates.

Both return (q_id, vec_id, rank, cosine).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tscan_spark import corpus

N_QUERIES = 8  # vec_id < N_QUERIES form the query set
TOP_K = 5
FP12 = 1_000_000_000_000  # 1e12 fixed-point scale for products
SIGN_DIMS = [1, 8, 21, 34]  # bucket = sign bits of these dims (1-based)


def _round_half_up(v: np.ndarray) -> np.ndarray:
    """Spark's ``ROUND(v, 0)`` (HALF_UP, ties away from zero) on doubles.

    Compares the fractional part with 0.5 instead of flooring v+0.5:
    the addition rounds 0.49999999999999994 (one ulp below the tie) up
    to 1.0, where Spark gives 0."""
    av = np.abs(v)
    whole = np.floor(av)
    return np.sign(v) * (whole + (av - whole >= 0.5))


@lru_cache(maxsize=None)
def _np_dot_fp_udf():
    """Vectorized exact int64 fixed-point dot of two float-array columns
    (pandas/Arrow batches -> one numpy expression per batch, guide §4.2).

    Bit-identical to the JVM per-term expression
    ``SUM(CAST(ROUND(x*y*FP12, 0) AS BIGINT))``: products are computed
    in float64 exactly like Spark's double cast, and Spark's
    ROUND(HALF_UP) by :func:`_round_half_up`. Replaces
    a zip_with/aggregate HOF fold, which is CodegenFallback — i.e.
    interpreted per element — and measured 5.9s vs 1.2-3.3s for this
    Arrow path on the near-dup verify at sf0.1. An unrolled 64-term
    codegen sum was slower still (blows the codegen size limits);
    corpus-side hot paths keep the exploded hash-agg form
    (:func:`_dots_long`)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def np_dot_fp(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        v = np.vstack(a.values).astype("float64") * np.vstack(
            b.values
        ).astype("float64") * FP12
        return pd.Series(_round_half_up(v).astype("int64").sum(axis=1))

    return np_dot_fp


def _emb_long(emb: DataFrame, extra: list[str] | None = None) -> DataFrame:
    """Embeddings in long form (vec_id, dim, x) — codegen-friendly."""
    return emb.select(
        "vec_id",
        *(extra or []),
        F.posexplode("embedding").alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))


def _dots_long(emb: DataFrame, q: DataFrame, join_keys: list[str]) -> DataFrame:
    """Fixed-point dot products via explode + broadcast + hash agg.

    The per-dimension product terms are summed by a codegen hash
    aggregate instead of a per-row HOF fold — ~20x faster at corpus
    scale and identical integer results.
    """
    prod = F.round(F.col("x") * F.col("qx") * FP12, 0).cast("long")
    return (
        emb.join(F.broadcast(q), join_keys)
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum(prod).alias("dot_fp"))
    )


def _cosine() -> Column:
    dot = F.col("dot_fp") / F.lit(float(FP12))
    na = F.sqrt(F.col("norm_a") / F.lit(float(FP12)))
    nb = F.sqrt(F.col("norm_b") / F.lit(float(FP12)))
    return F.round(dot / (na * nb), 6)


def _rank_topk(pairs: DataFrame) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: query dims broadcast against the exploded
    corpus; dot products as codegen hash aggregates."""
    emb = corpus.load(spark, sf_dir, "embeddings")
    long = _emb_long(emb)
    q_long = long.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "dim", F.col("x").alias("qx")
    )
    dots = _dots_long(long, q_long, ["dim"])
    norms = long.groupBy("vec_id").agg(
        F.sum(F.round(F.col("x") * F.col("x") * FP12, 0).cast("long")).alias("norm_fp")
    )
    pairs = (
        dots.join(
            F.broadcast(norms.withColumnRenamed("vec_id", "q_id")).withColumnRenamed(
                "norm_fp", "norm_a"
            ),
            "q_id",
        )
        .join(norms.withColumnRenamed("norm_fp", "norm_b"), "vec_id")
        .withColumn("cosine", _cosine())
    )
    return _rank_topk(pairs)


_SQL_FP_DOT = (
    "SUM(CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    f" * {FP12}, 0) AS BIGINT))"
)


def _sql_norms_cte() -> str:
    return f"""
norms AS (
    SELECT a.vec_id,
           SUM(CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
               * {FP12}, 0) AS BIGINT)) AS norm_fp
    FROM embeddings a CROSS JOIN range(1, 65) r(i)
    GROUP BY a.vec_id
)"""


def sql_brute_force_topk() -> str:
    return f"""
WITH {_sql_norms_cte().strip()},
dots AS (
    SELECT b.vec_id AS q_id, a.vec_id,
           {_SQL_FP_DOT} AS dot_fp
    FROM embeddings a
    CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) b
    CROSS JOIN range(1, 65) r(i)
    WHERE a.vec_id <> b.vec_id
    GROUP BY b.vec_id, a.vec_id
),
scored AS (
    SELECT dots.q_id, dots.vec_id,
           ROUND((dot_fp / {float(FP12)})
                 / (sqrt(na.norm_fp / {float(FP12)}) * sqrt(nb.norm_fp / {float(FP12)})),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = dots.q_id
    JOIN norms nb ON nb.vec_id = dots.vec_id
),
ranked AS (
    SELECT q_id, vec_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank,
           cosine
    FROM scored
)
SELECT q_id, vec_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}"""


def _bucket(emb: Column) -> Column:
    """Deterministic sign-bit bucket over fixed dimensions."""
    b = F.lit(0)
    for k, d in enumerate(SIGN_DIMS):
        b = b + F.when(F.element_at(emb, d) > 0, F.lit(2**k)).otherwise(0)
    return b.cast("int")


def lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: sign-bit LSH buckets, exact cosine within bucket.

    The corpus-side join key is the bucket id, so the pair space shrinks
    ~2^|SIGN_DIMS|x; recall is partial by design (ANN) but deterministic.
    """
    emb = corpus.load(spark, sf_dir, "embeddings").withColumn(
        "bucket", _bucket(F.col("embedding"))
    )
    long = _emb_long(emb, extra=["bucket"])
    q_long = long.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "bucket", "dim", F.col("x").alias("qx")
    )
    dots = _dots_long(long, q_long, ["bucket", "dim"])
    norms = long.groupBy("vec_id").agg(
        F.sum(F.round(F.col("x") * F.col("x") * FP12, 0).cast("long")).alias("norm_fp")
    )
    pairs = (
        dots.join(
            F.broadcast(norms.withColumnRenamed("vec_id", "q_id")).withColumnRenamed(
                "norm_fp", "norm_a"
            ),
            "q_id",
        )
        .join(norms.withColumnRenamed("norm_fp", "norm_b"), "vec_id")
        .withColumn("cosine", _cosine())
    )
    return _rank_topk(pairs)


def sql_lsh_bucket_topk() -> str:
    bucket_sql = " + ".join(
        f"(CASE WHEN embedding[{d}] > 0 THEN {2**k} ELSE 0 END)"
        for k, d in enumerate(SIGN_DIMS)
    )
    return f"""
WITH {_sql_norms_cte().strip()},
bucketed AS (
    SELECT vec_id, embedding, CAST({bucket_sql} AS INT) AS bucket
    FROM embeddings
),
dots AS (
    SELECT b.vec_id AS q_id, a.vec_id,
           {_SQL_FP_DOT} AS dot_fp
    FROM bucketed a
    JOIN (SELECT * FROM bucketed WHERE vec_id < {N_QUERIES}) b USING (bucket)
    CROSS JOIN range(1, 65) r(i)
    WHERE a.vec_id <> b.vec_id
    GROUP BY b.vec_id, a.vec_id
),
scored AS (
    SELECT dots.q_id, dots.vec_id,
           ROUND((dot_fp / {float(FP12)})
                 / (sqrt(na.norm_fp / {float(FP12)}) * sqrt(nb.norm_fp / {float(FP12)})),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = dots.q_id
    JOIN norms nb ON nb.vec_id = dots.vec_id
),
ranked AS (
    SELECT q_id, vec_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank,
           cosine
    FROM scored
)
SELECT q_id, vec_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}"""


# ---------------------------------------------------------------------------
# Multiprobe hyperplane LSH (the production ANN shape)
# ---------------------------------------------------------------------------
#
# The 4-sign-dim bucket variant above has only 16 buckets — at corpus
# scale buckets hold ~n/16 vectors and the bucket join degenerates
# toward all-pairs. This variant uses N_PLANES random-hyperplane bits
# (deterministic small-integer weights, replayable in SQL) => 2^N_PLANES
# buckets, and MULTIPROBES: each query also searches every bucket at
# Hamming distance 1 (flip one bit), recovering most of the recall the
# finer partition loses. Corpus side stays keyed by its single bucket —
# probe fan-out multiplies only the (tiny) query side.

N_PLANES = 8


def n_planes_for(n_vectors: int, target_bucket: int = 1024) -> int:
    """Cardinality-derived hyperplane count.

    Budget math: 2^p buckets hold ~n/2^p vectors each; the bucket-local
    pair space is ~n * (bucket size) * (p+1 probes). Solving for an
    expected bucket occupancy of ``target_bucket`` gives
    p = ceil(log2(n / target_bucket)) — e.g. 10^9 vectors at target
    1024 => 20 planes => ~1M buckets, candidate work per query
    ~1024 * 21 exact cosines instead of 10^9. The registered demo
    queries pin N_PLANES=8 because the DuckDB oracle string is rendered
    statically; production callers pass
    ``n_planes=n_planes_for(table_count)``.
    """
    import math

    return max(2, math.ceil(math.log2(max(2, n_vectors) / target_bucket)))


def _plane_weight(k: int, dim0: int) -> int:
    """Deterministic hyperplane weight in [-3, 3] for plane k, 0-based
    dim (shared literal rule with the SQL oracle)."""
    return (k * 31 + dim0 * 17) % 7 - 3


def _proj_buckets(long: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, bucket): sign bits of the fixed-point projections."""
    xfp = F.round(F.col("x") * FP12, 0).cast("long")
    # weight expression by dim: ((k*31 + dim*17) % 7) - 3
    projs = [
        F.sum(xfp * ((F.lit(k * 31) + F.col("dim") * 17) % 7 - 3)).alias(f"p{k}")
        for k in range(n_planes)
    ]
    agg = long.groupBy("vec_id").agg(*projs)
    b = F.lit(0)
    for k in range(n_planes):
        b = b + F.when(F.col(f"p{k}") > 0, F.lit(2**k)).otherwise(0)
    return agg.select("vec_id", b.cast("int").alias("bucket"))


def multiprobe_topk(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    """Multiprobe hyperplane-LSH top-k with exact cosine rerank.

    Plan: one pass computes per-vector buckets (codegen hash agg over
    the exploded form); queries explode to their own bucket + the
    N_PLANES Hamming-1 probes; candidates meet on the bucket key; the
    exact fixed-point cosine reranks. The pair space shrinks
    ~2^N_PLANES/(N_PLANES+1)x vs all-pairs (28x at 8 planes).
    """
    emb = corpus.load(spark, sf_dir, "embeddings")
    long = _emb_long(emb)
    if n_planes is None:
        n_planes = N_PLANES  # oracle-pinned demo resolution; production
        # callers derive it: n_planes_for(emb.count())
    buckets = _proj_buckets(long, n_planes)
    corpus_long = long.join(buckets, "vec_id")
    # query probes: own bucket + flip each bit once
    probes = F.array(
        F.col("bucket").cast("int"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(2**k)).cast("int")
            for k in range(n_planes)
        ],
    )
    q_buckets = (
        buckets.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.explode(probes).alias("bucket"))
    )
    q_long = (
        long.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), "dim", F.col("x").alias("qx"))
        .join(q_buckets, "q_id")
    )
    dots = _dots_long(corpus_long, q_long, ["bucket", "dim"])
    norms = long.groupBy("vec_id").agg(
        F.sum(F.round(F.col("x") * F.col("x") * FP12, 0).cast("long")).alias("norm_fp")
    )
    pairs = (
        dots.join(
            F.broadcast(norms.withColumnRenamed("vec_id", "q_id")).withColumnRenamed(
                "norm_fp", "norm_a"
            ),
            "q_id",
        )
        .join(norms.withColumnRenamed("norm_fp", "norm_b"), "vec_id")
        .withColumn("cosine", _cosine())
    )
    return _rank_topk(pairs)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup family)
# ---------------------------------------------------------------------------

NEAR_DUP_TAU = 0.43  # exact-cosine acceptance threshold on candidates


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: hyperplane-LSH candidates (own bucket
    + Hamming-1 probes, so only bucket-local pairs are scored — never
    all-pairs), exact fixed-point cosine verify, pairs with
    cosine >= NEAR_DUP_TAU.

    Output: (vec_id_a, vec_id_b, cosine) with a < b. The oracle replays
    the SAME bucket rule, so the check pins both the LSH candidate
    semantics and the exact verify.
    """
    emb = corpus.load(spark, sf_dir, "embeddings")
    long = _emb_long(emb)
    buckets = _proj_buckets(long)
    probes = F.array(
        F.col("bucket").cast("int"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(2**k)).cast("int")
            for k in range(N_PLANES)
        ],
    )
    a_probes = buckets.select(
        F.col("vec_id").alias("vec_id_a"), F.explode(probes).alias("bucket")
    )
    cand = (
        a_probes.join(
            buckets.select(F.col("vec_id").alias("vec_id_b"), "bucket"), "bucket"
        )
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b")
        # no distinct: a vector's 9 probe values (own bucket + 8
        # single-bit flips) are pairwise distinct, so a given
        # (vec_id_a, vec_id_b) can match on AT MOST one probe row —
        # candidates are unique by construction and the former
        # distinct() paid a full exchange + aggregate for nothing
        # (verified: pair count == distinct count at all three SFs;
        # the oracle's DISTINCT dedupes the same already-unique set)
    )
    # verify at PAIR grain: each candidate picks up both embedding
    # arrays by key and the fixed-point dot folds inside the row
    # (identical int64 terms/sum as the exploded hash-agg form). The
    # former explode-join shape pushed |cand| x 64 rows through a
    # (vec_id, dim) exchange + aggregate — 10.8M shuffled rows for
    # 169k candidates at sf0.1 and the measured hotspot of this query
    # (guide §2.3: shuffle pair keys + arrays, not exploded terms).
    pa = emb.select(F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("emb_a"))
    pb = emb.select(F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("emb_b"))
    dots = (
        cand.join(pa, "vec_id_a")
        .join(pb, "vec_id_b")
        .select(
            "vec_id_a",
            "vec_id_b",
            _np_dot_fp_udf()(F.col("emb_a"), F.col("emb_b")).alias("dot_fp"),
        )
    )
    norms = long.groupBy("vec_id").agg(
        F.sum(F.round(F.col("x") * F.col("x") * FP12, 0).cast("long")).alias("norm_fp")
    )
    pairs = (
        dots.join(
            F.broadcast(
                norms.select(F.col("vec_id").alias("vec_id_a"),
                             F.col("norm_fp").alias("norm_a"))
            ),
            "vec_id_a",
        )
        .join(
            F.broadcast(
                norms.select(F.col("vec_id").alias("vec_id_b"),
                             F.col("norm_fp").alias("norm_b"))
            ),
            "vec_id_b",
        )
        .withColumn("cosine", _cosine())
        .where(F.col("cosine") >= NEAR_DUP_TAU)
    )
    return pairs.select("vec_id_a", "vec_id_b", "cosine")


def sql_embedding_near_dup() -> str:
    xfp = f"CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {FP12}, 0) AS BIGINT)"
    projs = ",\n           ".join(
        f"SUM({xfp} * ((({k} * 31 + (i - 1) * 17) % 7) - 3)) AS p{k}"
        for k in range(N_PLANES)
    )
    bucket = " + ".join(
        f"(CASE WHEN p{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(N_PLANES)
    )
    probe_list = ", ".join(
        ["CAST(bucket AS INT)"]
        + [f"CAST(xor(bucket, {2**k}) AS INT)" for k in range(N_PLANES)]
    )
    return f"""
WITH {_sql_norms_cte().strip()},
proj AS (
    SELECT vec_id,
           {projs}
    FROM embeddings CROSS JOIN range(1, 65) r(i)
    GROUP BY vec_id
),
bucketed AS (
    SELECT vec_id, CAST({bucket} AS INT) AS bucket FROM proj
),
aprobes AS (
    SELECT vec_id AS vec_id_a, unnest([{probe_list}]) AS bucket
    FROM bucketed
),
cand AS (
    SELECT DISTINCT a.vec_id_a, b.vec_id AS vec_id_b
    FROM aprobes a JOIN bucketed b USING (bucket)
    WHERE a.vec_id_a < b.vec_id
),
dots AS (
    SELECT c.vec_id_a, c.vec_id_b,
           SUM(CAST(ROUND(CAST(a.embedding[i] AS DOUBLE)
               * CAST(b.embedding[i] AS DOUBLE) * {FP12}, 0) AS BIGINT)) AS dot_fp
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.vec_id_a
    JOIN embeddings b ON b.vec_id = c.vec_id_b
    CROSS JOIN range(1, 65) r(i)
    GROUP BY c.vec_id_a, c.vec_id_b
)
SELECT dots.vec_id_a, dots.vec_id_b,
       ROUND((dot_fp / {float(FP12)})
             / (sqrt(na.norm_fp / {float(FP12)}) * sqrt(nb.norm_fp / {float(FP12)})),
             6) AS cosine
FROM dots
JOIN norms na ON na.vec_id = dots.vec_id_a
JOIN norms nb ON nb.vec_id = dots.vec_id_b
WHERE ROUND((dot_fp / {float(FP12)})
            / (sqrt(na.norm_fp / {float(FP12)}) * sqrt(nb.norm_fp / {float(FP12)})),
            6) >= {NEAR_DUP_TAU}"""


# ---------------------------------------------------------------------------
# Cardinality-DERIVED multiprobe ANN (the production parameter path)
# ---------------------------------------------------------------------------
#
# The demo queries above pin N_PLANES=8; production derives the plane
# count from the table cardinality via n_planes_for. This variant
# exercises that exact path end-to-end under an oracle: the Spark side
# counts the table and calls n_planes_for(n, SCALED_TARGET_BUCKET); the
# DuckDB oracle replays the SAME formula in SQL (planes rendered up to
# SCALED_MAX_PLANES, masked by the derived count), so the derived
# resolution — not a pinned constant — is what the correctness gate
# hashes. At sf0.01 (500 vectors) the formula gives 4 planes; at sf0.1
# (2000) it gives 6 — both different from the pinned demo's 8.

SCALED_TARGET_BUCKET = 32
SCALED_MAX_PLANES = 12  # oracle renders this many plane columns; the
# derived count masks them (supports up to 32 * 2^12 ≈ 131k vectors)


def multiprobe_topk_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe ANN with the hyperplane count DERIVED from the table
    cardinality (``n_planes_for``) instead of the pinned demo constant —
    the parameterization a 10^9-vector corpus would use (20 planes at
    target 1024). The count() is a parquet-metadata read (row-group
    stats), not a data scan."""
    n = corpus.load(spark, sf_dir, "embeddings").count()
    p = n_planes_for(n, SCALED_TARGET_BUCKET)
    assert p <= SCALED_MAX_PLANES, (
        f"derived {p} planes > oracle's rendered {SCALED_MAX_PLANES}; "
        "raise SCALED_MAX_PLANES (or the target bucket) in lockstep"
    )
    return multiprobe_topk(spark, sf_dir, n_planes=p)


def sql_multiprobe_topk_scaled() -> str:
    """DuckDB replay of the cardinality-derived multiprobe query: the
    plane count is computed IN SQL from COUNT(*) with the same formula
    as :func:`n_planes_for`, and the bucket/probe constructions mask the
    statically rendered SCALED_MAX_PLANES projections by it."""
    pmax = SCALED_MAX_PLANES
    xfp = f"CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {FP12}, 0) AS BIGINT)"
    projs = ",\n           ".join(
        f"SUM({xfp} * ((({k} * 31 + (i - 1) * 17) % 7) - 3)) AS p{k}"
        for k in range(pmax)
    )
    bucket = " + ".join(
        f"(CASE WHEN {k} < np AND p{k} > 0 THEN {2**k} ELSE 0 END)"
        for k in range(pmax)
    )
    return f"""
WITH {_sql_norms_cte().strip()},
params AS (
    SELECT GREATEST(2, CAST(CEIL(LOG2(GREATEST(2, COUNT(*))
               / {float(SCALED_TARGET_BUCKET)})) AS INT)) AS np
    FROM embeddings
),
proj AS (
    SELECT vec_id,
           {projs}
    FROM embeddings CROSS JOIN range(1, 65) r(i)
    GROUP BY vec_id
),
bucketed AS (
    SELECT vec_id, CAST({bucket} AS INT) AS bucket
    FROM proj CROSS JOIN params
),
qprobes AS (
    SELECT vec_id AS q_id, bucket
    FROM bucketed WHERE vec_id < {N_QUERIES}
    UNION ALL
    SELECT b.vec_id AS q_id, CAST(xor(b.bucket, (1 << r.k)) AS INT) AS bucket
    FROM bucketed b CROSS JOIN params CROSS JOIN range(0, {pmax}) r(k)
    WHERE b.vec_id < {N_QUERIES} AND r.k < params.np
),
dots AS (
    SELECT q.q_id, a.vec_id,
           {_SQL_FP_DOT} AS dot_fp
    FROM embeddings a
    JOIN bucketed ba ON ba.vec_id = a.vec_id
    JOIN qprobes q ON q.bucket = ba.bucket
    JOIN embeddings b ON b.vec_id = q.q_id
    CROSS JOIN range(1, 65) r(i)
    WHERE a.vec_id <> q.q_id
    GROUP BY q.q_id, a.vec_id
),
scored AS (
    SELECT dots.q_id, dots.vec_id,
           ROUND((dot_fp / {float(FP12)})
                 / (sqrt(na.norm_fp / {float(FP12)}) * sqrt(nb.norm_fp / {float(FP12)})),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = dots.q_id
    JOIN norms nb ON nb.vec_id = dots.vec_id
),
ranked AS (
    SELECT q_id, vec_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank,
           cosine
    FROM scored
)
SELECT q_id, vec_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse k-means quantizer + cell probing
# ---------------------------------------------------------------------------
#
# The other scale path: instead of hash buckets, a small centroid
# codebook partitions the corpus into K cells (the "inverted file");
# each query scores only the vectors in its NPROBE nearest cells.
# Construction here is one deterministic Lloyd round over fixed-point
# integer vectors so the DuckDB oracle replays it bit-for-bit:
#
#   seeds      K corpus vectors at fixed ids (deterministic stand-in for
#              k-means|| sampling; production would sample)
#   assign 1   every vector to argmax dot(x, seed)/|seed| (x-norm is
#              constant per vector, so it drops out of the argmax)
#   update     centroid = per-dim FLOOR(mean) of the FP6 members — pure
#              integer, reduction-order-free
#   assign 2   final cell per vector against the updated codebook
#   probe      each query ranks cells, searches its top NPROBE
#   rerank     exact FP12 cosine on the cell-local candidates
#
# At 10^9 vectors production sizes the codebook ~sqrt(n) cells
# (ivf_cells_for) and broadcasts it (K*dim floats, KBs); the corpus-side
# cost is two scans (assign) + a cell-keyed join — never all-pairs.

K_CELLS = 8  # demo codebook size (oracle renders it statically)
NPROBE = 2  # cells searched per query
FP6 = 1_000_000  # 1e6 fixed-point for the quantizer integer math


def ivf_cells_for(n_vectors: int) -> int:
    """Cardinality-derived codebook size: ~sqrt(n) cells balances the
    two per-query costs (K centroid scores + NPROBE*n/K exact cosines) —
    10^9 vectors => ~32k cells of ~32k members. The registered demo pins
    K_CELLS=8 because the oracle SQL is rendered statically; production
    callers pass ``k_cells=ivf_cells_for(table_count)``."""
    import math

    return max(2, math.isqrt(max(4, n_vectors)))


def _fp6_long(long: DataFrame) -> DataFrame:
    """(vec_id, dim, xfp6): the FP6 integer form the quantizer runs on."""
    return long.select(
        "vec_id", "dim", F.round(F.col("x") * FP6, 0).cast("long").alias("xfp6")
    )


def _cell_scores(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, score): dot(x, c)/|c| per vector x cell — the
    argmax-equivalent of cosine (the |x| factor is constant per vector).
    Integer dot, then one deterministic double division."""
    dots = (
        vecs.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.col("xfp6") * F.col("cfp6")).alias("dot"))
    )
    cnorm = cent.groupBy("cid").agg(
        F.sum(F.col("cfp6") * F.col("cfp6")).alias("cnrm")
    )
    return dots.join(F.broadcast(cnorm), "cid").select(
        "vec_id", "cid", (F.col("dot") / F.sqrt(F.col("cnrm"))).alias("score")
    )


def _argmax_cells(scores: DataFrame, n_keep: int = 1) -> DataFrame:
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_keep)
        .select("vec_id", "cid")
    )


def ivf_topk(
    spark: SparkSession, sf_dir: str, k_cells: int | None = None
) -> DataFrame:
    """IVF ANN top-k: one-Lloyd-round codebook, NPROBE cell probing,
    exact fixed-point cosine rerank. Same output contract as the LSH
    family: (q_id, vec_id, rank, cosine)."""
    if k_cells is None:
        k_cells = K_CELLS  # oracle-pinned demo; production derives it:
        # ivf_cells_for(emb.count())
    emb = corpus.load(spark, sf_dir, "embeddings")
    long = _emb_long(emb)
    # NOT persisted: the exploded FP6 frame is a narrow projection whose
    # recompute is cheaper than InMemoryRelation round-trips (measured
    # 2.6s vs 3.05s at sf0.1); exchange reuse dedupes the aggregates
    fp6 = _fp6_long(long)
    # seeds: the K vectors right after the query block
    seeds = fp6.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + k_cells)
    ).select(
        (F.col("vec_id") - N_QUERIES).cast("int").alias("cid"),
        "dim",
        F.col("xfp6").alias("cfp6"),
    )
    assign1 = _argmax_cells(_cell_scores(fp6, seeds))
    # Lloyd update: per-dim FLOOR(mean) of member vectors (exact int)
    cent = (
        assign1.join(fp6, "vec_id")
        .groupBy("cid", "dim")
        .agg(F.floor(F.sum("xfp6") / F.count("*")).cast("long").alias("cfp6"))
    )
    cells = _argmax_cells(_cell_scores(fp6, cent))
    q_probes = _argmax_cells(
        _cell_scores(fp6.where(F.col("vec_id") < N_QUERIES), cent), n_keep=NPROBE
    ).select(F.col("vec_id").alias("q_id"), F.col("cid").alias("cell"))
    corpus_long = long.join(
        cells.select("vec_id", F.col("cid").alias("cell")), "vec_id"
    )
    q_long = (
        long.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), "dim", F.col("x").alias("qx"))
        .join(q_probes, "q_id")
    )
    dots = _dots_long(corpus_long, q_long, ["cell", "dim"])
    norms = long.groupBy("vec_id").agg(
        F.sum(F.round(F.col("x") * F.col("x") * FP12, 0).cast("long")).alias("norm_fp")
    )
    pairs = (
        dots.join(
            F.broadcast(norms.withColumnRenamed("vec_id", "q_id")).withColumnRenamed(
                "norm_fp", "norm_a"
            ),
            "q_id",
        )
        .join(norms.withColumnRenamed("norm_fp", "norm_b"), "vec_id")
        .withColumn("cosine", _cosine())
    )
    return _rank_topk(pairs)


def sql_ivf_topk() -> str:
    """DuckDB replay of the IVF construction: same FP6 integer
    quantizer, same FLOOR-mean Lloyd update, same deterministic
    argmax tie-break (score DESC, cid ASC)."""
    return f"""
WITH {_sql_norms_cte().strip()},
fp6 AS (
    SELECT vec_id, i AS dim,
           CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {FP6}, 0) AS BIGINT) AS xfp6
    FROM embeddings CROSS JOIN range(1, 65) r(i)
),
seeds AS (
    SELECT CAST(vec_id - {N_QUERIES} AS INT) AS cid, dim, xfp6 AS cfp6
    FROM fp6
    WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_CELLS}
),
sd1 AS (
    SELECT v.vec_id, s.cid, SUM(v.xfp6 * s.cfp6) AS dot
    FROM fp6 v JOIN seeds s USING (dim)
    GROUP BY v.vec_id, s.cid
),
sn1 AS (SELECT cid, SUM(cfp6 * cfp6) AS cnrm FROM seeds GROUP BY cid),
assign1 AS (
    SELECT vec_id, cid FROM (
        SELECT d.vec_id, d.cid,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id
                                  ORDER BY d.dot / sqrt(n.cnrm) DESC,
                                           d.cid ASC) AS rn
        FROM sd1 d JOIN sn1 n USING (cid)
    ) WHERE rn = 1
),
cent AS (
    SELECT a.cid, v.dim,
           CAST(FLOOR(SUM(v.xfp6) / COUNT(*)) AS BIGINT) AS cfp6
    FROM assign1 a JOIN fp6 v USING (vec_id)
    GROUP BY a.cid, v.dim
),
sd2 AS (
    SELECT v.vec_id, c.cid, SUM(v.xfp6 * c.cfp6) AS dot
    FROM fp6 v JOIN cent c USING (dim)
    GROUP BY v.vec_id, c.cid
),
sn2 AS (SELECT cid, SUM(cfp6 * cfp6) AS cnrm FROM cent GROUP BY cid),
ranked_cells AS (
    SELECT d.vec_id, d.cid,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id
                              ORDER BY d.dot / sqrt(n.cnrm) DESC,
                                       d.cid ASC) AS rn
    FROM sd2 d JOIN sn2 n USING (cid)
),
cells AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
qprobes AS (
    SELECT vec_id AS q_id, cid AS cell FROM ranked_cells
    WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}
),
dots AS (
    SELECT q.q_id, a.vec_id,
           {_SQL_FP_DOT} AS dot_fp
    FROM embeddings a
    JOIN cells ca ON ca.vec_id = a.vec_id
    JOIN qprobes q ON q.cell = ca.cell
    JOIN embeddings b ON b.vec_id = q.q_id
    CROSS JOIN range(1, 65) r(i)
    WHERE a.vec_id <> q.q_id
    GROUP BY q.q_id, a.vec_id
),
scored AS (
    SELECT dots.q_id, dots.vec_id,
           ROUND((dot_fp / {float(FP12)})
                 / (sqrt(na.norm_fp / {float(FP12)}) * sqrt(nb.norm_fp / {float(FP12)})),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = dots.q_id
    JOIN norms nb ON nb.vec_id = dots.vec_id
),
ranked AS (
    SELECT q_id, vec_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank,
           cosine
    FROM scored
)
SELECT q_id, vec_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}"""


def sql_multiprobe_topk() -> str:
    xfp = f"CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {FP12}, 0) AS BIGINT)"
    projs = ",\n           ".join(
        f"SUM({xfp} * ((({k} * 31 + (i - 1) * 17) % 7) - 3)) AS p{k}"
        for k in range(N_PLANES)
    )
    bucket = " + ".join(
        f"(CASE WHEN p{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(N_PLANES)
    )
    probe_list = ", ".join(
        ["CAST(bucket AS INT)"]
        + [f"CAST(xor(bucket, {2**k}) AS INT)" for k in range(N_PLANES)]
    )
    return f"""
WITH {_sql_norms_cte().strip()},
proj AS (
    SELECT vec_id,
           {projs}
    FROM embeddings CROSS JOIN range(1, 65) r(i)
    GROUP BY vec_id
),
bucketed AS (
    SELECT vec_id, CAST({bucket} AS INT) AS bucket FROM proj
),
qprobes AS (
    SELECT vec_id AS q_id, unnest([{probe_list}]) AS bucket
    FROM bucketed WHERE vec_id < {N_QUERIES}
),
dots AS (
    SELECT q.q_id, a.vec_id,
           {_SQL_FP_DOT} AS dot_fp
    FROM embeddings a
    JOIN bucketed ba ON ba.vec_id = a.vec_id
    JOIN qprobes q ON q.bucket = ba.bucket
    JOIN embeddings b ON b.vec_id = q.q_id
    CROSS JOIN range(1, 65) r(i)
    WHERE a.vec_id <> q.q_id
    GROUP BY q.q_id, a.vec_id
),
scored AS (
    SELECT dots.q_id, dots.vec_id,
           ROUND((dot_fp / {float(FP12)})
                 / (sqrt(na.norm_fp / {float(FP12)}) * sqrt(nb.norm_fp / {float(FP12)})),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = dots.q_id
    JOIN norms nb ON nb.vec_id = dots.vec_id
),
ranked AS (
    SELECT q_id, vec_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank,
           cosine
    FROM scored
)
SELECT q_id, vec_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}"""


# ---------------------------------------------------------------------------
# ANN quality evaluation: IVF recall vs the exact ground truth
# ---------------------------------------------------------------------------


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF index against brute-force ground truth.

    A production ANN deployment is tuned by measuring recall in the
    SAME engine that builds the index — this runs both registered
    pipelines (exact cosine top-k and IVF probe top-k) and scores the
    overlap per query: n_hits = |IVF top-k ∩ exact top-k|, recall =
    n_hits / k.  Both sides reuse the registered operators verbatim,
    so the evaluation cannot drift from what users actually query.

    Plan: the two top-k plans (each already bounded: query-block
    broadcast, candidate-bounded rerank) plus one (q_id, vec_id)
    equi-join at top-k cardinality (N_QUERIES * k rows — trivially
    small at any corpus size) and a q_id-grain aggregate.
    """
    exact = brute_force_topk(spark, sf_dir).select("q_id", "vec_id")
    approx = ivf_topk(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    scored = exact.join(approx, ["q_id", "vec_id"], "left")
    return (
        scored.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("int").alias("n_hits"),
            F.round(
                F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1)), 6
            ).alias("recall"),
        )
        .orderBy("q_id")
    )


def sql_ann_recall_eval() -> str:
    return f"""
WITH exact AS (
    SELECT q_id, vec_id FROM ({sql_brute_force_topk()})
),
approx AS (
    SELECT q_id, vec_id, 1 AS hit FROM ({sql_ivf_topk()})
)
SELECT exact.q_id,
       CAST(COUNT(*) AS INT) AS n_exact,
       CAST(COALESCE(SUM(approx.hit), 0) AS INT) AS n_hits,
       ROUND(COALESCE(SUM(approx.hit), 0) * 1.0 / COUNT(*), 6) AS recall
FROM exact
LEFT JOIN approx USING (q_id, vec_id)
GROUP BY exact.q_id
ORDER BY exact.q_id"""
