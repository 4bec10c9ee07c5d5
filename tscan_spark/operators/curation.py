"""Corpus-curation operators for training-data pipelines:
decontamination, repetition filters, sequence packing, domain mixing.

These are the steps between "raw filtered crawl" and "training batches"
that the dedup/quality/sampling family does not cover:

- decontaminate_ngram : flag documents that share word n-grams with a
  holdout (benchmark) set, the standard test-set-decontamination step.
- quality_repetition  : Gopher-style repetition statistics (top-2-gram
  token fraction, duplicate 2-/3-gram fractions, duplicate-word
  fraction) with a keep flag.
- pack_sequences      : deterministic greedy packing of tokenized
  documents into fixed token-budget bins per (source, shard) — the
  batch-construction step before writing training shards.
- domain_mix_rates    : solve per-source keep rates that realize a
  target domain mixture at the maximum feasible corpus size.

All pure DataFrame expressions (corpus.ngrams array slices + hash
aggregates, no UDFs); every rule is replayable in ANSI SQL so the
DuckDB oracles match
bit-for-bit. Reference analog: the reference filters its input corpus
by document-level gates before feature extraction (tscan.cxx sentence /
word filters); these operators are the corpus-scale generalization the
brief asks for beyond the reference's own surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tscan_spark import corpus

# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------
#
# Holdout = every doc with doc_id % HOLDOUT_MOD == 0 (a deterministic
# stand-in for the benchmark table; production passes a real benchmark
# DataFrame). A corpus doc is contaminated when >= DECON_MIN_HITS of its
# distinct N-grams appear anywhere in the holdout.
#
# Physical plan: both sides reduce to DISTINCT (doc_id, cid) over the
# corpus.ngrams rows (built inside each document's array, no window);
# the holdout side collapses to DISTINCT cid and joins the corpus grams
# on cid; one doc-keyed hash aggregate counts hits. In production the
# benchmark is orders of magnitude smaller than the corpus, so the
# gram-id join is a broadcast and the corpus is touched exactly once;
# here the holdout is corpus-derived, so we leave the join strategy to
# AQE (it stays a shuffle hash join keyed on cid — no quadratic term
# at any scale). The cid is the 31-bit replayable content hash (oracle
# constraint); at 100 TB key on the 64-bit sid — same plan, wider key.

DECON_N = 8  # n-gram order (test-set decontamination convention: 8-13)
HOLDOUT_MOD = 10  # doc_id % 10 == 0 -> holdout "benchmark" doc
DECON_MIN_HITS = 1


def _sql_grams_cte(n: int, name: str = "grams") -> str:
    leads = ",\n               ".join(
        f"lead(word, {i}) OVER (PARTITION BY doc_id ORDER BY word_idx) AS w{i}"
        for i in range(1, n)
    )
    concat = " || ' ' || ".join(["word"] + [f"w{i}" for i in range(1, n)])
    return f"""
{name} AS (
    SELECT DISTINCT doc_id, {corpus.sql_content_hash(f"({concat})")} AS gram_id
    FROM (
        SELECT doc_id, word,
               {leads}
        FROM tok
    )
    WHERE w{n - 1} IS NOT NULL
)"""


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per non-holdout doc, how many of its
    distinct DECON_N-grams appear in the holdout set, and the keep
    verdict. Output: doc_id, n_grams, n_hit, hit_frac, contaminated."""
    docs = corpus.load(spark, sf_dir, "documents")
    grams = corpus.ngrams(docs, DECON_N, "doc_id", ids=("cid",)).distinct()
    holdout = (
        grams.where(F.col("doc_id") % HOLDOUT_MOD == 0)
        .select("cid")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    body = grams.where(F.col("doc_id") % HOLDOUT_MOD != 0)
    joined = body.join(holdout, "cid", "left")
    out = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("hit_frac"),
        (F.col("n_hit") >= DECON_MIN_HITS).alias("contaminated"),
    )


def sql_decontaminate_ngram() -> str:
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + ","
        + _sql_grams_cte(DECON_N)
        + f""",
holdout AS (
    SELECT DISTINCT gram_id FROM grams WHERE doc_id % {HOLDOUT_MOD} = 0
),
hits AS (
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           SUM(CASE WHEN h.gram_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
    FROM grams g LEFT JOIN holdout h USING (gram_id)
    WHERE g.doc_id % {HOLDOUT_MOD} <> 0
    GROUP BY g.doc_id
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_hit AS BIGINT) AS n_hit,
       ROUND(n_hit * 1.0 / n_grams, 6) AS hit_frac,
       n_hit >= {DECON_MIN_HITS} AS contaminated
FROM hits"""
    )


# ---------------------------------------------------------------------------
# repetition filters (Gopher rules 2.1, token-grain variants)
# ---------------------------------------------------------------------------
#
# Gopher filters on "fraction of characters in the most common 2-gram"
# and "fraction of characters in duplicate n-grams"; the synthetic
# corpus has no newline structure, so the engine computes the
# token-count analogs, which are the same gates modulo the unit:
#
#   top2_frac  = 2 * max count over 2-grams / n_tok
#   dup2_frac  = 1 - distinct 2-grams / total 2-grams
#   dup3_frac  = 1 - distinct 3-grams / total 3-grams
#   dupw_frac  = 1 - distinct words   / n_tok
#
# keep iff top2_frac <= TOP2_MAX and dup3_frac <= DUP3_MAX.
#
# Plan: the positional grams come from corpus.ngrams inside each doc's
# own token array (no shuffle) and are grouped on their 64-bit sid; each
# fraction is one doc-keyed hash aggregate.
# The 2-gram max-count needs a (doc, sid) pre-aggregate — two-level
# hash agg, map-side partials on both levels, no window over the
# corpus. Production materializes the token grain once (staging
# contract, PLANS.md) so the three gram passes scan columnar staging,
# not the raw text.

TOP2_MAX = 0.20
DUP3_MAX = 0.90


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition statistics + keep flag per document."""
    documents = corpus.load(spark, sf_dir, "documents")
    tok = corpus.tokens_long(documents)
    base = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct("word").alias("n_uniq"),
    )
    g2 = (
        corpus.ngrams(documents, 2, "doc_id", ids=("sid",))
        .groupBy("doc_id", "sid")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("max2"),
            F.count(F.lit(1)).alias("uniq2"),
            F.sum("c").alias("tot2"),
        )
    )
    g3 = (
        corpus.ngrams(documents, 3, "doc_id", ids=("sid",))
        .groupBy("doc_id", "sid")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("uniq3"), F.sum("c").alias("tot3"))
    )
    j = base.join(g2, "doc_id").join(g3, "doc_id")
    top2 = 2.0 * F.col("max2") / F.col("n_tok")
    dup2 = 1.0 - F.col("uniq2") / F.col("tot2")
    dup3 = 1.0 - F.col("uniq3") / F.col("tot3")
    dupw = 1.0 - F.col("n_uniq") / F.col("n_tok")
    return j.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.round(top2, 6).alias("top2_frac"),
        F.round(dup2, 6).alias("dup2_frac"),
        F.round(dup3, 6).alias("dup3_frac"),
        F.round(dupw, 6).alias("dupw_frac"),
        ((F.round(top2, 6) <= TOP2_MAX) & (F.round(dup3, 6) <= DUP3_MAX)).alias(
            "keep"
        ),
    )


def sql_quality_repetition() -> str:
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + f""",
base AS (
    SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT word) AS n_uniq
    FROM tok GROUP BY doc_id
),
p2 AS (
    SELECT doc_id, word || ' ' || w1 AS gram
    FROM (SELECT doc_id, word,
                 lead(word, 1) OVER (PARTITION BY doc_id ORDER BY word_idx) AS w1
          FROM tok)
    WHERE w1 IS NOT NULL
),
g2 AS (
    SELECT doc_id, MAX(c) AS max2, COUNT(*) AS uniq2, SUM(c) AS tot2
    FROM (SELECT doc_id, gram, COUNT(*) AS c FROM p2 GROUP BY doc_id, gram)
    GROUP BY doc_id
),
p3 AS (
    SELECT doc_id, word || ' ' || w1 || ' ' || w2 AS gram
    FROM (SELECT doc_id, word,
                 lead(word, 1) OVER (PARTITION BY doc_id ORDER BY word_idx) AS w1,
                 lead(word, 2) OVER (PARTITION BY doc_id ORDER BY word_idx) AS w2
          FROM tok)
    WHERE w2 IS NOT NULL
),
g3 AS (
    SELECT doc_id, COUNT(*) AS uniq3, SUM(c) AS tot3
    FROM (SELECT doc_id, gram, COUNT(*) AS c FROM p3 GROUP BY doc_id, gram)
    GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tok AS BIGINT) AS n_tok,
       ROUND(2.0 * g2.max2 / b.n_tok, 6) AS top2_frac,
       ROUND(1.0 - g2.uniq2 * 1.0 / g2.tot2, 6) AS dup2_frac,
       ROUND(1.0 - g3.uniq3 * 1.0 / g3.tot3, 6) AS dup3_frac,
       ROUND(1.0 - b.n_uniq * 1.0 / b.n_tok, 6) AS dupw_frac,
       (ROUND(2.0 * g2.max2 / b.n_tok, 6) <= {TOP2_MAX}
        AND ROUND(1.0 - g3.uniq3 * 1.0 / g3.tot3, 6) <= {DUP3_MAX}) AS keep
FROM base b JOIN g2 USING (doc_id) JOIN g3 USING (doc_id)"""
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------
#
# Batch construction: concatenate tokenized documents into fixed
# token-budget bins (training "sequences" of PACK_BUDGET tokens). A
# true first-fit pack is inherently sequential, so the distributed
# contract is the standard streaming one: documents are sharded
# deterministically (doc_id % n_shards), ordered by doc_id within a
# (source, shard), and a document starts the bin its exclusive prefix
# token sum falls in: bin = floor(prefix_sum / PACK_BUDGET). Every bin
# holds >= PACK_BUDGET - max_doc_tok and <= PACK_BUDGET + max_doc_tok
# tokens (the straddling doc is split/padded by the trainer — the
# `spill_tok` column is exactly that carry).
#
# Scale shape: the only window is a running sum partitioned by
# (source, shard) — and the shard count is CARDINALITY-DERIVED, not a
# constant (round-4 advice: a fixed 8 capped window parallelism at
# sources*8 single-task running sums — ~80 tasks each streaming
# ~1.25 TB at 100 TB / 10 sources).  `pack_shards_for` is the same
# budget-math convention as similarity.n_planes_for: an exact integer
# ceil-div of the corpus token count by (n_sources * target-per-shard),
# so every (source, shard) window task streams <= ~PACK_TOKENS_PER_SHARD
# tokens regardless of corpus size, and the oracle replays the identical
# formula from its own COUNT.  One token-count aggregate + one
# broadcast of the 1-row stats + one window + one (source, shard, bin)
# hash aggregate — no global sort at any scale.

PACK_BUDGET = 2048  # tokens per training sequence bin
# production ceiling for a single (source, shard) running-sum task:
# ~1e8 tokens ~ 400 MB of (doc_id, n_tok) pairs through one window task
PACK_TOKENS_PER_SHARD = 100_000_000


def _shards_expr(tokens_per_shard: int):
    """shards = max(1, ceil(tot_tok / (n_src * tokens_per_shard))) as an
    exact integer expression over the 1-row stats frame — `DIV` keeps
    the whole derivation in BIGINT so both engines agree bit-for-bit
    (no float log/ceil at a boundary)."""
    return F.expr(
        f"CAST(GREATEST(1, (tot_tok + n_src * {tokens_per_shard} - 1) "
        f"DIV (n_src * {tokens_per_shard})) AS INT)"
    )


def pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    tokens_per_shard: int = PACK_TOKENS_PER_SHARD,
) -> DataFrame:
    """Greedy streaming sequence packing. Output per bin: source,
    shard, bin_id, n_docs, n_tok_bin, fill, spill_tok.

    ``tokens_per_shard`` bounds the token volume any single window task
    streams; the shard count is derived from the corpus token count so
    the plan keeps the same per-task budget at any scale."""
    tok = corpus.tokens_long(corpus.load(spark, sf_dir, "documents"))
    docs = tok.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_tok")
    )
    stats = docs.agg(
        F.sum("n_tok").cast("long").alias("tot_tok"),
        F.countDistinct("source").cast("long").alias("n_src"),
    )
    d = docs.crossJoin(F.broadcast(stats)).withColumn(
        "n_shards", _shards_expr(tokens_per_shard)
    )
    d = d.withColumn(
        "shard", (F.col("doc_id") % F.col("n_shards")).cast("int")
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("prefix", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    d = d.withColumn(
        "bin_id", F.floor(F.col("prefix") / PACK_BUDGET).cast("long")
    )
    bins = d.groupBy("source", "shard", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tok_bin"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        (F.min("prefix") + F.sum("n_tok")).alias("_end"),
    )
    return bins.select(
        "source",
        "shard",
        "bin_id",
        "n_docs",
        "n_tok_bin",
        "first_doc",
        "last_doc",
        F.round(F.col("n_tok_bin") / float(PACK_BUDGET), 6).alias("fill"),
        F.greatest(
            F.lit(0), (F.col("_end") - (F.col("bin_id") + 1) * PACK_BUDGET)
        )
        .cast("long")
        .alias("spill_tok"),
    )


def sql_pack_sequences(tokens_per_shard: int = PACK_TOKENS_PER_SHARD) -> str:
    # DuckDB's // is integer division on BIGINTs — the exact replay of
    # Spark's DIV in _shards_expr
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + f""",
docs AS (
    SELECT doc_id, source, COUNT(*) AS n_tok
    FROM tok GROUP BY doc_id, source
),
stats AS (
    SELECT CAST(GREATEST(1,
               (SUM(n_tok) + COUNT(DISTINCT source) * {tokens_per_shard} - 1)
               // (COUNT(DISTINCT source) * {tokens_per_shard})) AS INT)
           AS n_shards
    FROM docs
),
pre AS (
    SELECT docs.*,
           CAST(doc_id % n_shards AS INT) AS shard,
           COALESCE(SUM(n_tok) OVER (
               PARTITION BY source, doc_id % n_shards
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
    FROM docs CROSS JOIN stats
),
b AS (
    SELECT *, CAST(FLOOR(prefix / {PACK_BUDGET}) AS BIGINT) AS bin_id FROM pre
),
bins AS (
    SELECT source, shard, bin_id,
           COUNT(*) AS n_docs,
           SUM(n_tok) AS n_tok_bin,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           MIN(prefix) + SUM(n_tok) AS _end
    FROM b GROUP BY source, shard, bin_id
)
SELECT source, shard, bin_id,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tok_bin AS BIGINT) AS n_tok_bin,
       first_doc, last_doc,
       ROUND(n_tok_bin / {float(PACK_BUDGET)}, 6) AS fill,
       CAST(GREATEST(0, _end - (bin_id + 1) * {PACK_BUDGET}) AS BIGINT) AS spill_tok
FROM bins"""
    )


# ---------------------------------------------------------------------------
# domain mixing
# ---------------------------------------------------------------------------
#
# Given target mixture weights per source, solve the per-source keep
# rates that realize the mixture at the maximum corpus size with all
# rates <= 1: T = min_s(n_s / w_s), rate_s = w_s * T / n_s. The weights
# here derive deterministically from the source name (1 + suffix % 4,
# normalized) so both engines compute them; production passes a real
# weights table (it is tiny — always broadcast).
#
# Plan: one (source) hash aggregate over the documents scan, then all
# math on the ~|sources| rows via unpartitioned windows — the window IS
# over the dimension table (20 rows), never the corpus, so the single-
# task sort is constant-cost at any corpus scale.


def domain_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep rates realizing the target domain mixture."""
    d = corpus.load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_raw = 1 + F.regexp_extract("source", r"(\d+)$", 1).cast("long") % 4
    per_src = per_src.withColumn("w_raw", w_raw)
    wall = Window.partitionBy()  # |sources| rows only — never the corpus
    per_src = per_src.withColumn(
        "target_w", F.col("w_raw") / F.sum("w_raw").over(wall)
    )
    per_src = per_src.withColumn(
        "t_max", F.min(F.col("n_docs") / F.col("target_w")).over(wall)
    )
    rate = F.least(
        F.lit(1.0), F.col("target_w") * F.col("t_max") / F.col("n_docs")
    )
    return per_src.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("target_w", 6).alias("target_w"),
        F.round(rate, 6).alias("keep_rate"),
        F.floor(F.col("n_docs") * F.round(rate, 6)).cast("long").alias(
            "expected_docs"
        ),
    )


def sql_domain_mix_rates() -> str:
    return """
WITH per_src AS (
    SELECT source, COUNT(*) AS n_docs,
           1 + CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 4 AS w_raw
    FROM documents
    GROUP BY source
),
norm AS (
    SELECT *,
           w_raw * 1.0 / SUM(w_raw) OVER () AS target_w
    FROM per_src
),
t AS (
    SELECT *, MIN(n_docs / target_w) OVER () AS t_max FROM norm
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       ROUND(target_w, 6) AS target_w,
       ROUND(LEAST(1.0, target_w * t_max / n_docs), 6) AS keep_rate,
       CAST(FLOOR(n_docs * ROUND(LEAST(1.0, target_w * t_max / n_docs), 6))
            AS BIGINT) AS expected_docs
FROM t"""


# ---------------------------------------------------------------------------
# token-budget selection (quality-ranked data selection under a budget)
# ---------------------------------------------------------------------------
#
# The data-selection step (DSIR/DoReMi-adjacent): given a per-source
# token budget, keep the highest-quality documents whose cumulative
# token count fits. Here the budget is BUDGET_FRAC of each source's
# total tokens (scale-free, deterministic); quality is the engine's
# Gopher/C4-style component score (textstats.quality_score formula,
# inlined with the source key kept).
#
# Physical plan: ONE token-grain hash aggregate to the doc grain, one
# |sources|-row aggregate for the budgets (broadcast back), and a
# cumulative window partitioned BY SOURCE — the sort is per-source,
# never global. At 100 TB the exact rank is replaced by a two-pass
# quantile cut: approx_quantile the score to the budget percentile per
# source, filter score >= cut, and only rank the boundary stratum —
# same selection, no large sort; the registered query keeps the exact
# window because the oracle must replay it bit-for-bit.

BUDGET_FRAC = 0.4


def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-quality docs per source within a 40% token budget.

    Columns: source, doc_id, n_tok, quality, cum_tok, rk (per-source
    quality rank). A doc is kept when its INCLUSIVE cumulative token
    count fits the budget (first over-budget doc is cut).
    """
    from tscan_spark.operators.textstats import STOP_LEMMATA

    tok = corpus.tokens_long(corpus.load(spark, sf_dir, "documents"))
    doc = tok.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.length("word")).alias("n_chars"),
        F.sum(F.col("word").isin(STOP_LEMMATA).cast("int")).alias("n_stop"),
        F.countDistinct("word").alias("n_uniq"),
    )
    avg_wlen = F.col("n_chars") / F.col("n_tok")
    len_ok = ((F.col("n_tok") >= 20) & (F.col("n_tok") <= 200)).cast("int")
    wlen_ok = ((avg_wlen >= 3.0) & (avg_wlen <= 10.0)).cast("int")
    quality = F.round(
        0.25 * len_ok
        + 0.25 * wlen_ok
        + 0.25 * (1.0 - F.col("n_stop") / F.col("n_tok"))
        + 0.25 * (F.col("n_uniq") / F.col("n_tok")),
        6,
    )
    doc = doc.withColumn("quality", quality)
    wsrc = Window.partitionBy("source")
    worder = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = doc.select(
        "source",
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        "quality",
        F.sum("n_tok")
        .over(worder.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_tok"),
        F.row_number().over(worder).alias("rk"),
        F.floor(F.sum("n_tok").over(wsrc) * F.lit(BUDGET_FRAC)).alias("budget"),
    )
    return (
        ranked.where(F.col("cum_tok") <= F.col("budget"))
        .select("source", "doc_id", "n_tok", "quality", "cum_tok", "rk")
        .orderBy("source", "rk")
    )


def sql_select_token_budget() -> str:
    from tscan_spark.operators.textstats import STOP_LEMMATA

    stop_lits = ", ".join(f"'{w}'" for w in STOP_LEMMATA)
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + f""",
d AS (
    SELECT source, doc_id,
           COUNT(*) AS n_tok,
           SUM(length(word)) AS n_chars,
           SUM(CASE WHEN word IN ({stop_lits}) THEN 1 ELSE 0 END) AS n_stop,
           COUNT(DISTINCT word) AS n_uniq
    FROM tok GROUP BY source, doc_id
),
q AS (
    SELECT source, doc_id, n_tok,
           ROUND(0.25 * (CASE WHEN n_tok >= 20 AND n_tok <= 200 THEN 1 ELSE 0 END)
                 + 0.25 * (CASE WHEN n_chars * 1.0 / n_tok >= 3.0
                                 AND n_chars * 1.0 / n_tok <= 10.0 THEN 1 ELSE 0 END)
                 + 0.25 * (1.0 - n_stop * 1.0 / n_tok)
                 + 0.25 * (n_uniq * 1.0 / n_tok), 6) AS quality
    FROM d
),
r AS (
    SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok, quality,
           CAST(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tok,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id) AS INT) AS rk,
           FLOOR(SUM(n_tok) OVER (PARTITION BY source) * {BUDGET_FRAC})
               AS budget
    FROM q
)
SELECT source, doc_id, n_tok, quality, cum_tok, rk
FROM r WHERE cum_tok <= budget
ORDER BY source, rk"""
    )


# ---------------------------------------------------------------------------
# cross-source contamination matrix
# ---------------------------------------------------------------------------
#
# The corpus-audit counterpart of per-document decontamination: which
# SOURCES share verbatim n-gram content (mirror sites, syndication,
# cross-crawl duplication)? Output is the upper-triangular source x
# source overlap matrix over distinct DECON_N-grams.
#
# Physical plan: corpus.ngrams rows reduced to distinct (source, cid) —
# corpus-linear, no window — then a gram-keyed self-join. Per gram the
# fan-out is (k choose 2) where k <= |sources| is the gram's source posting size,
# so the join output is bounded by |grams| x |sources|^2 with sources a
# small constant (hundreds at web scale) — never doc-quadratic. The
# per-source totals are |sources| rows, broadcast back. Pairs with zero
# shared grams are absent by construction (inner join) — the matrix is
# sparse on purpose.


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise n-gram Jaccard between sources.

    Columns: src_a, src_b (src_a < src_b), grams_a, grams_b,
    grams_both, jaccard (6 dp)."""
    docs = corpus.load(spark, sf_dir, "documents")
    g = corpus.ngrams(docs, DECON_N, "source", ids=("cid",)).distinct()
    tot = g.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(b, "cid")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("grams_both"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n").alias("grams_a"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n").alias("grams_b"))
    return (
        pairs.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "grams_a",
            "grams_b",
            "grams_both",
            F.round(
                F.col("grams_both")
                / (F.col("grams_a") + F.col("grams_b") - F.col("grams_both")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def sql_source_overlap_matrix() -> str:
    leads = ",\n               ".join(
        f"lead(word, {i}) OVER (PARTITION BY doc_id ORDER BY word_idx) AS w{i}"
        for i in range(1, DECON_N)
    )
    concat = " || ' ' || ".join(["word"] + [f"w{i}" for i in range(1, DECON_N)])
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + f""",
g AS (
    SELECT DISTINCT source, {corpus.sql_content_hash(f"({concat})")} AS gram_id
    FROM (
        SELECT source, doc_id, word,
               {leads}
        FROM tok
    )
    WHERE w{DECON_N - 1} IS NOT NULL
),
tot AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY source
),
p AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS grams_both
    FROM g a JOIN g b USING (gram_id)
    WHERE a.source < b.source
    GROUP BY a.source, b.source
)
SELECT p.src_a, p.src_b,
       ta.n AS grams_a, tb.n AS grams_b, p.grams_both,
       ROUND(p.grams_both * 1.0 / (ta.n + tb.n - p.grams_both), 6) AS jaccard
FROM p
JOIN tot ta ON p.src_a = ta.source
JOIN tot tb ON p.src_b = tb.source
ORDER BY p.src_a, p.src_b"""
    )


# ---------------------------------------------------------------------------
# temperature-flattened source sampling
# ---------------------------------------------------------------------------
#
# The multilingual/multi-domain sampling convention (mT5/XLM-R): sample
# sources proportionally to share^TAU, TAU < 1 flattening the head so
# low-resource sources are upweighted. Emitted as per-source sampling
# rates plus the expected token counts at the corpus' max feasible
# size (same feasibility rule as domain_mix_rates: no source can be
# sampled above 1.0). |sources|-row aggregate arithmetic end-to-end —
# the corpus is touched once for token totals.

MIX_TAU = 0.7


def temperature_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep rates realizing the share^TAU mixture.

    Columns: source, n_tok, share, target_w, keep_rate, expected_tok."""
    tok = corpus.tokens_long(corpus.load(spark, sf_dir, "documents"))
    per_src = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    wall = Window.partitionBy()  # |sources| rows only
    share = F.col("n_tok") / F.sum("n_tok").over(wall)
    per_src = per_src.withColumn("share", share)
    pw = F.pow(F.col("share"), F.lit(MIX_TAU))
    per_src = per_src.withColumn("target_w", pw / F.sum(pw).over(wall))
    per_src = per_src.withColumn(
        "t_max", F.min(F.col("n_tok") / F.col("target_w")).over(wall)
    )
    rate = F.least(
        F.lit(1.0), F.col("target_w") * F.col("t_max") / F.col("n_tok")
    )
    return per_src.select(
        "source",
        "n_tok",
        F.round("share", 6).alias("share"),
        F.round("target_w", 6).alias("target_w"),
        F.round(rate, 6).alias("keep_rate"),
        F.floor(F.col("n_tok") * F.round(rate, 6)).cast("long").alias(
            "expected_tok"
        ),
    ).orderBy("source")


def sql_temperature_mix_rates() -> str:
    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + f""",
per_src AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY source
),
s AS (
    SELECT source, n_tok,
           n_tok * 1.0 / SUM(n_tok) OVER () AS share
    FROM per_src
),
t AS (
    SELECT source, n_tok, share,
           POW(share, {MIX_TAU}) / SUM(POW(share, {MIX_TAU})) OVER () AS target_w
    FROM s
),
m AS (
    SELECT source, n_tok, share, target_w,
           MIN(n_tok / target_w) OVER () AS t_max
    FROM t
)
SELECT source, n_tok,
       ROUND(share, 6) AS share,
       ROUND(target_w, 6) AS target_w,
       ROUND(LEAST(1.0, target_w * t_max / n_tok), 6) AS keep_rate,
       CAST(FLOOR(n_tok * ROUND(LEAST(1.0, target_w * t_max / n_tok), 6))
            AS BIGINT) AS expected_tok
FROM m
ORDER BY source"""
    )


# ---------------------------------------------------------------------------
# end-to-end curation funnel (composition of the gates above)
# ---------------------------------------------------------------------------


def curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel as ONE query: decontamination ->
    repetition-quality gate -> exact-dedup keeper selection ->
    per-source funnel accounting.

    This is the composition a production run executes nightly; each
    stage is the registered operator above, so the funnel doubles as
    an integration test that the gates compose (shared doc_id grain,
    consistent holdout exclusion).  Candidates are the non-holdout
    docs (the holdout IS the benchmark being protected).  The dedup
    keeper is chosen among docs that survived BOTH gates — lowest
    doc_id per md5(text) group (the `dedup_exact` policy).

    Plan: three doc-grain lineages (decon grams, quality grams, md5)
    joined on doc_id, a text_hash-partitioned keeper window over the
    survivor subset only, one source-grain funnel aggregate.
    Production materializes the token grain once (staging contract,
    PLANS.md) so the gram passes scan columnar staging, not raw text.

    Output per source: candidates, decon survivors, quality
    survivors, final keepers, and tokens retained.
    """
    docs = corpus.load(spark, sf_dir, "documents")
    decon = decontaminate_ngram(spark, sf_dir).select("doc_id", "contaminated")
    qual = quality_repetition(spark, sf_dir).select(
        "doc_id", "n_tok", F.col("keep").alias("q_keep")
    )
    cand = (
        docs.select("doc_id", "source", F.md5("text").alias("text_hash"))
        .join(decon, "doc_id")
        .join(qual, "doc_id")
    )
    surv = cand.where(~F.col("contaminated") & F.col("q_keep"))
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    keepers = (
        surv.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.lit(True).alias("is_keeper"))
    )
    funnel = cand.join(keepers, "doc_id", "left")
    pass1 = ~F.col("contaminated")
    pass2 = pass1 & F.col("q_keep")
    final = F.col("is_keeper").isNotNull()
    return (
        funnel.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_candidates"),
            F.sum(pass1.cast("int")).cast("int").alias("n_decon_pass"),
            F.sum(pass2.cast("int")).cast("int").alias("n_quality_pass"),
            F.sum(final.cast("int")).cast("int").alias("n_final"),
            F.sum(F.when(final, F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_final"),
        )
        .orderBy("source")
    )


def sql_curate_pipeline() -> str:
    return f"""
WITH decon AS (
    SELECT doc_id, contaminated FROM ({sql_decontaminate_ngram()})
),
qual AS (
    SELECT doc_id, n_tok, keep FROM ({sql_quality_repetition()})
),
cand AS (
    SELECT d.doc_id, d.source, md5(d.text) AS text_hash,
           decon.contaminated, qual.n_tok, qual.keep
    FROM documents d
    JOIN decon USING (doc_id)
    JOIN qual USING (doc_id)
),
surv AS (
    SELECT doc_id, text_hash,
           ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
    FROM cand WHERE NOT contaminated AND keep
),
kept AS (SELECT doc_id FROM surv WHERE rn = 1)
SELECT cand.source,
       CAST(COUNT(*) AS INT) AS n_candidates,
       CAST(SUM(CASE WHEN NOT contaminated THEN 1 ELSE 0 END) AS INT)
           AS n_decon_pass,
       CAST(SUM(CASE WHEN NOT contaminated AND keep THEN 1 ELSE 0 END) AS INT)
           AS n_quality_pass,
       CAST(SUM(CASE WHEN kept.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS n_final,
       CAST(SUM(CASE WHEN kept.doc_id IS NOT NULL THEN n_tok ELSE 0 END)
            AS BIGINT) AS tokens_final
FROM cand LEFT JOIN kept USING (doc_id)
GROUP BY cand.source
ORDER BY cand.source"""
