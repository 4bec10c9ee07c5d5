"""DSIR-style importance weighting over hashed n-gram features.

Data Selection via Importance Resampling (Xie et al., 2023, public
arXiv 2302.03169): score every raw document by the log-likelihood
ratio of a TARGET domain's hashed n-gram distribution vs the RAW
corpus distribution; resampling by these weights shifts the corpus
mix toward the target domain.  The reference has per-word frequency
bands against static lexicons (freqLog, tscan.cxx:462-471) but no
corpus-vs-target reweighting; at 100 TB this is the standard tool for
"make the web crawl look like Wikipedia".

Feature space: hashed unigrams + bigrams, ``content_hash(gram) %
N_BUCKETS`` — the hash is the engine's portable polynomial
(corpus.content_hash_expr), so the DuckDB oracle replays bucket
assignment bit-for-bit.  The target domain is ``source = 'src0'``
(the synthetic corpus's analog of "the high-quality slice").

Plan shape (the part that matters at 100 TB):

- ONE corpus-sized frame: the hashed feature grain (doc_id, source,
  bucket) — the unigram and bigram ``cid`` rows of corpus.ngrams, built
  inside each document's token array (no window, no word string in any
  exchange), reduced to per-doc bucket counts.  Persisted under the
  cache contract for its two consumers; at scale this persist is the
  staging-table materialization (cache.py).
- Both distributions come from ONE pass over that grain: a single
  N_BUCKETS-row aggregate computes cnt_raw and cnt_target together
  (count + conditional count), so the target subset is never
  rescanned.
- The log-ratio dimension is N_BUCKETS rows — broadcast into the
  scoring join; totals ride a 1-row cross join.
- Laplace (+1) smoothing on both numerator and denominator keeps
  every bucket finite without branching.

Output: (doc_id, n_feat, dsir_logw) for every document, logw rounded
to 9 dp.  Positive logw = looks more like the target domain than the
raw mix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tscan_spark import corpus
from tscan_spark.cache import with_cache as _with_cache

N_BUCKETS = 512
TARGET_SOURCE = "src0"


def _feature_grain(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bucket) — one row per unigram and per bigram."""
    grams = corpus.ngrams(docs, (1, 2), "doc_id", "source", ids=("cid",))
    return grams.select("doc_id", "source", (F.col("cid") % N_BUCKETS).alias("bucket"))


def dsir_importance(
    spark: SparkSession, sf_dir: str, staging_dir: str | None = None
) -> DataFrame:
    """``staging_dir=None``: the reduced grain persists in memory.
    ``staging_dir=<path>``: it is written ONCE to a staging parquet
    table and both consumers scan it — the cache.py contract's
    production form (object-store/Iceberg path on a cluster)."""
    docs = corpus.load(spark, sf_dir, "documents")
    # feature-grain REDUCTION before the cache (round-4 advice #5): the
    # raw (doc, source, bucket) grain is one row per feature occurrence
    # (~17M rows at the witness scale) and the persist write was the
    # scaling wall (eff 0.54, BENCH.md).  Aggregating to per-doc bucket
    # counts FIRST shrinks the materialized frame by the per-doc bucket
    # collision factor and moves the reduction into the map-side-combine
    # aggregate; every downstream sum replays exactly as cnt * lam_fp
    # (integer multiply, still reduction-order-free).
    reduced = _feature_grain(docs).groupBy("doc_id", "source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    if staging_dir is not None:
        import os

        path = os.path.join(staging_dir, "dsir_grain")
        reduced.write.mode("overwrite").parquet(path)
        feats = spark.read.parquet(path)
    else:
        feats = reduced.persist()

    one = F.lit(1.0)
    nb = F.lit(float(N_BUCKETS))
    counts = feats.groupBy("bucket").agg(
        F.sum("cnt").alias("cnt_raw"),
        F.sum(
            F.when(F.col("source") == TARGET_SOURCE, F.col("cnt")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("cnt_tgt"),
    )
    tot = counts.agg(
        F.sum("cnt_raw").alias("tot_raw"), F.sum("cnt_tgt").alias("tot_tgt")
    )
    # fixed-point encode lam at the (tiny) bucket grain so the per-doc
    # sum of hundreds of lam terms is an exact BIGINT add —
    # reduction-order-free across shuffles and engines (round-4 advice;
    # same convention as the similarity/drift families)
    lam = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("cnt_tgt") + one) / (F.col("tot_tgt") + nb))
                / ((F.col("cnt_raw") + one) / (F.col("tot_raw") + nb))
            )
            * F.lit(1e9),
            0,
        )
        .cast("long")
        .alias("lam_fp"),
    )
    out = (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("int").alias("n_feat"),
            # overflow bound: the per-doc sum equals sum over features of
            # lam_fp, <= n_feat * max|lam_fp| ~ n_feat * ln(tot)*1e9 —
            # safe in BIGINT for docs up to ~10^8 features
            F.round(F.sum(F.col("cnt") * F.col("lam_fp")) / F.lit(1e9), 9).alias(
                "dsir_logw"
            ),
        )
        .orderBy("doc_id")
    )
    return _with_cache(out, feats) if staging_dir is None else out


SQL_DSIR_IMPORTANCE = f"""
WITH {corpus.SQL_TOK_CTE},
big0 AS (
    SELECT doc_id, source,
           word || ' ' || lead(word) OVER (
               PARTITION BY doc_id ORDER BY word_idx) AS bigram
    FROM tok
),
feats AS (
    SELECT doc_id, source, {corpus.sql_content_hash("word")} % {N_BUCKETS} AS bucket
    FROM tok
    UNION ALL
    SELECT doc_id, source, {corpus.sql_content_hash("bigram")} % {N_BUCKETS} AS bucket
    FROM big0 WHERE bigram IS NOT NULL
),
counts AS (
    SELECT bucket,
           COUNT(*) AS cnt_raw,
           SUM(CASE WHEN source = '{TARGET_SOURCE}' THEN 1 ELSE 0 END) AS cnt_tgt
    FROM feats GROUP BY 1
),
tot AS (SELECT SUM(cnt_raw) AS tot_raw, SUM(cnt_tgt) AS tot_tgt FROM counts),
lam AS (
    SELECT bucket,
           CAST(ROUND(ln(((cnt_tgt + CAST(1.0 AS DOUBLE))
               / (tot_tgt + CAST({N_BUCKETS}.0 AS DOUBLE)))
              / ((cnt_raw + CAST(1.0 AS DOUBLE))
                 / (tot_raw + CAST({N_BUCKETS}.0 AS DOUBLE)))) * 1e9)
               AS BIGINT) AS lam_fp
    FROM counts CROSS JOIN tot
)
SELECT feats.doc_id,
       CAST(COUNT(*) AS INT) AS n_feat,
       ROUND(SUM(lam.lam_fp) / 1e9, 9) AS dsir_logw
FROM feats JOIN lam USING (bucket)
GROUP BY 1
ORDER BY doc_id
"""
