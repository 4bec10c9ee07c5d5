"""Query registry: every implemented operator exposed as
(spark, sf_dir) -> DataFrame plus, where expressible, a DuckDB oracle SQL
string over the same parquet views. This is what __spark_entry__
re-exports to the driver."""

from __future__ import annotations

from functools import lru_cache as _lru_cache

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tscan_spark import annotate, corpus, pipeline
from tscan_spark.operators import asof, overlap, temporal
from tscan_spark.session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# ---------------------------------------------------------------------------
# T-Scan ladder (SURVEY.md §2.2, §2.5, §2.7)
# ---------------------------------------------------------------------------


@query(
    "tscan_word_features",
    oracle=(
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + ",\n"
        + annotate.sql_annot_cte().strip()
        + """
SELECT doc_id, par_idx, sent_idx, word_idx, word, l_word,
       CAST(char_cnt AS INT) AS char_cnt, tag, lemma,
       CAST(is_content AS INT) AS is_content, CAST(is_neg AS INT) AS is_neg,
       CAST(is_stop AS INT) AS is_stop, conn_type, sit_type
FROM annot"""
    ),
)
def q_word_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W9, W18, W23 per-token classifier battery (broadcast lexicons)."""
    tok = annotate.annotate(corpus.tokens_long(corpus.load(spark, sf_dir, "documents")))
    return tok.select(
        "doc_id",
        "par_idx",
        "sent_idx",
        "word_idx",
        "word",
        "l_word",
        F.col("char_cnt").cast("int").alias("char_cnt"),
        "tag",
        "lemma",
        F.col("is_content").cast("int").alias("is_content"),
        F.col("is_neg").cast("int").alias("is_neg"),
        F.col("is_stop").cast("int").alias("is_stop"),
        "conn_type",
        "sit_type",
    )


@query(
    "tscan_sentence_features",
    oracle=pipeline.sql_sentence_features()
    + " SELECT * EXCLUDE (wfl_fp) FROM sentf",
)
def q_sentence_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 sentence fold: counter sums at (doc, par, sent) grain."""
    return pipeline.sentence_features(spark, sf_dir).drop("sent_wfl", "wfl_fp")


@query("tscan_doc_features", oracle=pipeline.sql_doc_features())
def q_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 document merge + A4 TTR + A6 rarity + D1/D2/D5 ratio select."""
    return pipeline.doc_features(spark, sf_dir)


@query(
    "docs_tokenized",
    oracle="""
WITH """
    + corpus.SQL_TOK_CTE.strip()
    + f""",
tokid AS (
    SELECT tok.*, CAST({corpus.sql_content_hash("word")} AS INT) AS token_id
    FROM tok
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       array_to_string(list(token_id ORDER BY word_idx), ',') AS tokens_str,
       CAST(COUNT(*) AS INT) AS n_tok,
       source
FROM tokid
GROUP BY doc_id, source""",
)
def q_docs_tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE.json input_hint invariant (exact token arrays).

    The registered witness emits the arrays comma-joined — the driver's
    canonicalizer sorts columns before hashing and cannot sort numpy
    array cells (the round-1 red row); the scalar form carries the same
    exact-equality information. The array-shaped API is
    :func:`tscan_spark.corpus.docs_tokenized` (exercised by entry/tests).
    """
    docs = corpus.docs_tokenized(corpus.load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.concat_ws(",", F.transform("tokens", lambda t: t.cast("string"))).alias(
            "tokens_str"
        ),
        "n_tok",
        "source",
    )


# ---------------------------------------------------------------------------
# Window / lag operators (SURVEY.md §2.6)
# ---------------------------------------------------------------------------

_ANNOT_PRELUDE = (
    "WITH " + corpus.SQL_TOK_CTE.strip() + ",\n" + annotate.sql_annot_cte().strip()
)


@query(
    "sentence_overlap",
    oracle=_ANNOT_PRELUDE + overlap.SQL_SENTENCE_OVERLAP_TMPL,
)
def q_sentence_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 sentence->sentence argument overlap (lag-1 candidate buffers,
    paragraph reset, first sentence NA)."""
    return overlap.sentence_overlap(spark, sf_dir)


@query(
    "doc_sliding_overlap",
    oracle=_ANNOT_PRELUDE
    + overlap.SQL_DOC_SLIDING_OVERLAP_TMPL.format(n=overlap.OVERLAP_SIZE),
)
def q_doc_sliding_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 document sliding-buffer overlap (rowsBetween(-N, -1))."""
    return overlap.doc_sliding_overlap(spark, sf_dir)


# ---------------------------------------------------------------------------
# Event-time operators (north rule L4)
# ---------------------------------------------------------------------------


@query("sessionize_events", oracle=temporal.SQL_SESSIONIZE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user (30-min gap)."""
    return temporal.sessionize(spark, sf_dir)


@query("backfill_events", oracle=temporal.SQL_BACKFILL)
def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill of error-event values (last non-null over time)."""
    return temporal.backfill(spark, sf_dir)


@query("lag_lead_events", oracle=temporal.SQL_LAG_LEAD)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag/lead values + inter-event gap."""
    return temporal.lag_lead(spark, sf_dir)


@query("rolling_event_features", oracle=temporal.SQL_ROLLING)
def q_rolling_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour count/sum/mean per user via an event-time RANGE
    frame (fixed-point value sums; timestamp peers aggregate together
    in both engines)."""
    return temporal.rolling_features(spark, sf_dir)


# ---------------------------------------------------------------------------
# Point-in-time as-of lexicon join (SURVEY.md §2.4 J5, the north-rule core)
# ---------------------------------------------------------------------------


@query("asof_lexicon_features", oracle=asof.sql_asof_doc_features())
def q_asof_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc features against the latest lexicon snapshot <= event_ts
    (sorted-partition merge_asof kernel; zero temporal leakage)."""
    return asof.asof_doc_features(spark, sf_dir, strategy="merge")


@query("asof_lexicon_features_broadcast", oracle=asof.sql_asof_doc_features())
def q_asof_features_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via the broadcast + max_by physical strategy."""
    return asof.asof_doc_features(spark, sf_dir, strategy="broadcast")


@query("asof_lexicon_features_array", oracle=asof.sql_asof_doc_features())
def q_asof_features_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via the broadcast timeline-array strategy — the
    zero-shuffle / zero-Python plan for a broadcastable snapshot
    dimension (asof.asof_join_array)."""
    return asof.asof_doc_features(spark, sf_dir, strategy="array")


# ---------------------------------------------------------------------------
# Order-sensitive sequential kernels (SURVEY.md §2.3, A5)
# ---------------------------------------------------------------------------

from tscan_spark.operators import sequential  # noqa: E402


@query("multiword_matches", oracle=sequential.sql_multiword_matches())
def q_multiword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M7 greedy multi-word lexicon matching (longest match, consumed
    tokens skipped) as an applyInPandas kernel; oracle is a recursive
    CTE replaying the same scan."""
    return sequential.multiword_matches(spark, sf_dir)


@query("als_connectives", oracle=sequential.sql_als_connectives())
def q_als_connectives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 checkAls (sentstats.cxx:366-424): backward scan from each
    trigger occurrence to the nearest comp/opsom set-word, with the
    ADJ-before-VG and sentence-initial fallbacks, as a pure
    last_value(ignorenulls) window plan."""
    return sequential.als_connectives(spark, sf_dir)


@query("doc_mtld", oracle=sequential.sql_doc_mtld())
def q_mtld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 MTLD (bidirectional, threshold 0.720) over the full 15-stream
    battery; the oracle is a recursive CTE replaying the exact
    reset-on-threshold fold in both directions."""
    return sequential.doc_mtld(spark, sf_dir)


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

from tscan_spark.operators import dedup, similarity, textstats  # noqa: E402


@query("dedup_exact", oracle=dedup.SQL_EXACT_DEDUP)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups via md5(text) hash-groupBy."""
    return dedup.exact_dedup(spark, sf_dir)


@query("dedup_ngram_jaccard", oracle=dedup.sql_ngram_jaccard())
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram shingle Jaccard (inverted-index
    candidate join)."""
    return dedup.ngram_jaccard_pairs(spark, sf_dir)


@query("dedup_minhash_lsh", oracle=dedup.sql_minhash_lsh_pairs())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 4-band LSH candidates, exact-Jaccard verified."""
    return dedup.minhash_lsh_pairs(spark, sf_dir)


@query("dedup_containment", oracle=dedup.sql_containment_pairs())
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset pairs: shingle containment >= 0.8 on
    either side (catches partial copies Jaccard under-reports); same
    light/heavy posting split + exact verification as the Jaccard
    family."""
    return dedup.containment_pairs(spark, sf_dir)


@query("dedup_clusters", oracle=dedup.sql_dedup_clusters())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> keep-list closure: connected components over verified
    simhash near-dup edges (iterative min-label propagation, rounds =
    cluster diameter; large-star/small-star at 10^12 scale) + canonical
    lowest-doc_id keep policy. Oracle: recursive reachability CTE."""
    return dedup.dedup_clusters(spark, sf_dir)


@query("dedup_substring_spans", oracle=dedup.sql_substring_spans())
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022 analog): merge
    overlapping corpus-duplicated SPAN_K-grams into maximal spans; per
    doc span count, duplicated-token fraction and surviving token count.
    One gram-multiplicity aggregate — no posting-list self-join."""
    return dedup.substring_spans(spark, sf_dir)


@query("simhash_docs", oracle=dedup.sql_simhash_docs())
def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document."""
    return dedup.simhash_docs(spark, sf_dir)


@query("simhash_pairs", oracle=dedup.sql_simhash_pairs())
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming<=3) via 4x4-bit band buckets."""
    return dedup.simhash_pairs(spark, sf_dir)


@query("similarity_bruteforce_topk", oracle=similarity.sql_brute_force_topk())
def q_sim_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the query vectors (fixed-point
    dot products, bit-identical across engines)."""
    return similarity.brute_force_topk(spark, sf_dir)


@query("similarity_lsh_topk", oracle=similarity.sql_lsh_bucket_topk())
def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit-bucketed ANN top-5 (the scale path)."""
    return similarity.lsh_bucket_topk(spark, sf_dir)


@query("dedup_embedding_cosine", oracle=similarity.sql_embedding_near_dup())
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: hyperplane-LSH bucket+probe
    candidates (never all-pairs), exact fixed-point cosine verify,
    threshold acceptance — the embedding member of the dedup family."""
    return similarity.embedding_near_dup(spark, sf_dir)


@query("similarity_multiprobe_topk", oracle=similarity.sql_multiprobe_topk())
def q_sim_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe hyperplane-LSH ANN (8 planes = 256 buckets, Hamming-1
    probe fan-out on the query side only, exact cosine rerank) — the
    production ANN shape; pair space ~28x smaller than all-pairs."""
    return similarity.multiprobe_topk(spark, sf_dir)


@query("similarity_multiprobe_topk_scaled", oracle=similarity.sql_multiprobe_topk_scaled())
def q_sim_multiprobe_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe ANN with the hyperplane count DERIVED from the table
    cardinality (n_planes_for(count, target) — 4 planes at 500 vectors,
    6 at 2000, 20 at 10^9) — oracles the production parameter path the
    pinned demos can't; the DuckDB side replays the same derivation in
    SQL from COUNT(*)."""
    return similarity.multiprobe_topk_scaled(spark, sf_dir)


@query("similarity_ivf_topk", oracle=similarity.sql_ivf_topk())
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: deterministic one-Lloyd-round coarse
    quantizer (K_CELLS fixed-point centroids), NPROBE-cell probing,
    exact FP12 cosine rerank — the centroid-codebook scale path
    alongside the hyperplane-LSH family (production sizes the codebook
    via ivf_cells_for ~ sqrt(n) and broadcasts it)."""
    return similarity.ivf_topk(spark, sf_dir)


@query("lang_id", oracle=textstats.sql_lang_id())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-voting language identification."""
    return textstats.lang_id(spark, sf_dir)


@query("quality_score", oracle=textstats.sql_quality_score())
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style document quality components + weighted score."""
    return textstats.quality_score(spark, sf_dir)


@query(
    "token_stats",
    oracle="WITH " + corpus.SQL_TOK_CTE.strip() + textstats.SQL_TOKEN_STATS,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts + BPE-ish subword estimate."""
    return textstats.token_stats(spark, sf_dir)


@query("doc_fingerprint", oracle=textstats.sql_fingerprint())
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive positional polynomial fingerprint per document."""
    return textstats.fingerprint(spark, sf_dir)


@query("sample_stratified", oracle=textstats.sql_sample_stratified())
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated stratified corpus sample: quality-band
    strata, per-mille keep rates, inverse-probability weights — the
    curation down-sampling step of a training-data pipeline (one token
    scan + one doc-grain hash aggregate; no rand(), replayable)."""
    return textstats.sample_stratified(spark, sf_dir)


@query("pii_redact", oracle=textstats.sql_pii_redact())
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (emails / phones / IPv4) over the synthetic
    PII-bearing contact column: regexp_count + chained regexp_replace,
    all whole-stage-codegen expressions, patterns in the Java-regex /
    RE2 common subset."""
    return textstats.pii_redact(spark, sf_dir)


# ---------------------------------------------------------------------------
# Corpus curation (decontamination, repetition gates, packing, mixing)
# ---------------------------------------------------------------------------

from tscan_spark.operators import curation  # noqa: E402


@query("decontaminate_ngram", oracle=curation.sql_decontaminate_ngram())
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag corpus docs sharing 8-grams with
    the holdout set (distinct gram-id join + one doc-keyed aggregate;
    with a real benchmark table the gram side broadcasts)."""
    return curation.decontaminate_ngram(spark, sf_dir)


@query("quality_repetition", oracle=curation.sql_quality_repetition())
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates: top-2-gram fraction, duplicate
    2-/3-gram and duplicate-word fractions + keep flag (doc-bounded
    window leads + two-level hash aggregates, no corpus-wide window)."""
    return curation.quality_repetition(spark, sf_dir)


@query("pack_sequences", oracle=curation.sql_pack_sequences())
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic streaming sequence packing into PACK_BUDGET-token
    bins per (source, shard): exclusive prefix-sum binning with spill
    carry — the batch-construction step before writing training
    shards; the shard count is derived from the corpus token count
    (curation.PACK_TOKENS_PER_SHARD per window task, exact integer
    formula replayed by the oracle's own COUNT) so no window task ever
    streams more than the per-task token budget at any corpus size."""
    return curation.pack_sequences(spark, sf_dir)


# a second shard count over the same corpus: the fine target forces
# multiple shards even at test SF, proving the shard derivation and the
# bin invariants hold across shardings (round-4 advice — the invariant
# check across the two lives in tests/test_operators.py)
PACK_FINE_TARGET = 256


@query(
    "pack_sequences_fine",
    oracle=curation.sql_pack_sequences(tokens_per_shard=PACK_FINE_TARGET),
)
def q_pack_sequences_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences at a 256-token-per-shard budget: same operator,
    cardinality-derived shard count > 1 at every test SF — the second
    registered sharding the scale argument requires."""
    return curation.pack_sequences(
        spark, sf_dir, tokens_per_shard=PACK_FINE_TARGET
    )


@query("domain_mix_rates", oracle=curation.sql_domain_mix_rates())
def q_domain_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture solver: per-source keep rates realizing target
    weights at max feasible size (one source-keyed aggregate; windows
    run over the |sources|-row dimension only)."""
    return curation.domain_mix_rates(spark, sf_dir)


# ---------------------------------------------------------------------------
# BPE tokenizer-training step
# ---------------------------------------------------------------------------

from tscan_spark.operators import bpe  # noqa: E402


@query("bpe_top_pairs", oracle=bpe.sql_bpe_top_pairs())
def q_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule selection: corpus-weighted adjacent char-pair
    counts over the vocabulary dimension, top-N by (count DESC, pair
    ASC) — the aggregation at the heart of tokenizer training."""
    return bpe.bpe_top_pairs(spark, sf_dir)


@query("bpe_apply_merge", oracle=bpe.sql_bpe_apply_merge())
def q_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the #1 BPE merge to every vocabulary word's symbol
    sequence (left-to-right non-overlapping replace, identical
    semantics both engines); symbol counts before/after."""
    return bpe.bpe_apply_merge(spark, sf_dir)


@query("bpe_tokenize", oracle=bpe.sql_bpe_tokenize())
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer apply: replay the full learned merge table in rank
    order (merge rows pivoted to one broadcast row; chained codegen
    replaces)."""
    return bpe.bpe_tokenize(spark, sf_dir)


# ---------------------------------------------------------------------------
# Skew machinery under the driver gate
# ---------------------------------------------------------------------------

from tscan_spark.operators import skew  # noqa: E402


@query("salted_word_counts", oracle=skew.sql_salted_word_counts())
def q_salted_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation witness: per-word counts through
    the skew path, provably identical to a plain groupBy (the
    oracle)."""
    return skew.salted_word_counts(spark, sf_dir)


# ---------------------------------------------------------------------------
# Snapshot table format with time travel (Iceberg analog)
# ---------------------------------------------------------------------------

from tscan_spark.sources import snapshots  # noqa: E402


@query("snapshot_time_travel", oracle=snapshots.sql_snapshot_time_travel())
def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-analog snapshot table: 3 append commits (manifest chain,
    atomic commit), then an AS-OF read that must see exactly the first
    two — the table-level no-future-data rule (row-level counterpart:
    operators/asof.py)."""
    return snapshots.snapshot_time_travel(spark, sf_dir)


# ---------------------------------------------------------------------------
# Frog/CGN feature-string source + decoder (W3/W4 full format path)
# ---------------------------------------------------------------------------

from tscan_spark.sources import frog_feats  # noqa: E402


@query("frog_feature_decode", oracle=frog_feats.sql_frog_decode())
def q_frog_feature_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CGN positional feature-string render + FULL string decode
    (toCGN head tag + per-family positional properties, cgn.cxx:356-383)
    with a round-trip consistency flag vs the analog W4 props — pure
    regexp/split codegen expressions at token grain."""
    return frog_feats.frog_decode(spark, sf_dir)


# ---------------------------------------------------------------------------
# Word-form analysis (S5/S6 full: dictionary compound split, re-lemmatize)
# ---------------------------------------------------------------------------

from tscan_spark.operators import wordform  # noqa: E402


@query("compound_split", oracle=wordform.sql_compound_split())
def q_compound_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-driven compound splitter (fillN head/satellite analog,
    tscan.cxx:223-262): direct + linking-s splits validated against the
    corpus vocabulary, longest head wins; vocabulary-grain work only,
    corpus consumers broadcast-join the result."""
    return wordform.compound_split(spark, sf_dir)


@query("relemmatize", oracle=wordform.sql_relemmatize())
def q_relemmatize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-validated suffix-strip re-lemmatization cascade
    (-heden->-heid, -en, -s, -e; findInflected order,
    tscan.cxx:1676-1724) at vocabulary grain."""
    return wordform.relemmatize(spark, sf_dir)


# ---------------------------------------------------------------------------
# Trained bigram LM (S4 full: Wopr-analog source trained as a Spark job)
# ---------------------------------------------------------------------------

from tscan_spark.operators import lm  # noqa: E402


@query("lm_bigram_doc", oracle=lm.sql_lm_bigram_doc())
def q_lm_bigram_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document mean logprob + perplexity under a corpus-TRAINED add-one
    bigram LM (the Wopr-source analog, tscan.cxx:1978-2064): one lag
    window, one bigram hash aggregate, one shuffle join on (prev, word);
    context totals + vocab scalar broadcast."""
    return lm.lm_bigram_doc(spark, sf_dir)


@query("lm_perplexity_buckets", oracle=lm.sql_lm_perplexity_buckets())
def q_lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles per source on trained-LM
    perplexity; exact fixed-point rank here, approx-quantile cutpoints
    at corpus scale (see operators/lm.py docstring)."""
    return lm.lm_perplexity_buckets(spark, sf_dir)


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns + stubbed decode over mapInPandas)
# ---------------------------------------------------------------------------

from tscan_spark.operators import multimodal  # noqa: E402


@query("multimodal_decode", oracle=multimodal.SQL_DECODE_FEATURES)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> mapInPandas decode -> typed feature struct
    (codec stubbed deterministically; plumbing and batch shape real)."""
    return multimodal.decode_features(spark, sf_dir)


# ---------------------------------------------------------------------------
# W21/A8 prevalence battery (fill_prevalences tscan.cxx:707-742)
# ---------------------------------------------------------------------------

from tscan_spark import lexicons as _lexicons  # noqa: E402
from tscan_spark.functions.scalars import fp_mean as _fp_mean  # noqa: E402
from tscan_spark.functions.scalars import sql_fp_mean as _sql_fp_mean  # noqa: E402


@query(
    "prevalence_features",
    oracle=(
        _ANNOT_PRELUDE
        + ",\n"
        + __import__("tscan_spark.lexicons", fromlist=["x"]).sql_prevalence_cte().strip()
        + f"""
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS word_cnt,
       CAST(COUNT(prev_pct) AS BIGINT) AS covered_cnt,
       {_sql_fp_mean("prev_pct", "COUNT(prev_pct)")} AS prevalence_p,
       {_sql_fp_mean("prev_z", "COUNT(prev_pct)")} AS prevalence_z
FROM annot LEFT JOIN prev USING (lemma)
GROUP BY doc_id"""
    ),
)
def q_prevalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W21/A8: lemma prevalence lookup (percentage + z-score) with mean
    over the COVERED words only (unknown lemmas skipped, as in the
    reference's prevalenceP/prevalenceZ), at doc grain."""
    documents = corpus.load(spark, sf_dir, "documents")
    tok = annotate.annotate(corpus.tokens_long(documents))
    return _prevalence_agg(spark, sf_dir, tok)


def _prevalence_agg(spark: SparkSession, sf_dir: str, tok: DataFrame) -> DataFrame:
    """Prevalence doc aggregate over any token grain carrying `lemma`."""
    documents = corpus.load(spark, sf_dir, "documents")
    dim = _lexicons.prevalence_dim(documents)
    j = tok.join(F.broadcast(dim), "lemma", "left")
    covered = F.count("prev_pct")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("word_cnt"),
        covered.cast("long").alias("covered_cnt"),
        _fp_mean("prev_pct", covered).alias("prevalence_p"),
        _fp_mean("prev_z", covered).alias("prevalence_z"),
    )


# ---------------------------------------------------------------------------
# S10 problems.log side output (checkNoun tscan.cxx:1385-1393)
# ---------------------------------------------------------------------------


@query(
    "problems_log",
    oracle=(
        _ANNOT_PRELUDE
        + ",\n"
        + annotate.sql_annot_ext_cte().strip()
        + """
SELECT doc_id, sent_idx, word_idx,
       'N' AS problem_type, word, lemma
FROM annot_ext
WHERE sem_unfound = 1"""
    ),
)
def q_problems_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: the problems.log side output — one row per UNFOUND noun
    (the reference writes "N,word,lemma" lines when showProblems is on,
    tscan.cxx:1385-1393). A pure filter over the annotated grain; at
    scale this is the classic side-output-as-second-sink pattern (write
    main + filtered problem stream from one persisted token grain)."""
    tok = annotate.annotate_extended(
        annotate.annotate(corpus.tokens_long(corpus.load(spark, sf_dir, "documents")))
    )
    return tok.where(F.col("sem_unfound") == 1).select(
        "doc_id",
        "sent_idx",
        "word_idx",
        F.lit("N").alias("problem_type"),
        "word",
        "lemma",
    )


# ---------------------------------------------------------------------------
# Annotation dim consumed as INPUT (S2 Frog contract; W5/W14/W17)
# ---------------------------------------------------------------------------

from tscan_spark import vocab_dim  # noqa: E402


@query("tscan_word_features_dim", oracle=vocab_dim.sql_word_features_dim())
def q_word_features_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: annotations CONSUMED from the vocab dimension table
    (tag/lemma/morphemes as input columns, tscan.cxx:3131-3231), with
    W5 morpheme counts, W7 first-morpheme negation guard, W14 general
    noun/verb classes + the 6 derived booleans, W17 user labels."""
    return vocab_dim.word_features_dim(spark, sf_dir)


@query("tscan_general_doc_features", oracle=vocab_dim.sql_general_doc_features())
def q_general_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 doc battery: general-class counts + 6 boolean counters."""
    return vocab_dim.general_doc_features(spark, sf_dir)


# ---------------------------------------------------------------------------
# NER + NP chunks (W27 lookupNer remap, J4 interval join, A11 np_length)
# ---------------------------------------------------------------------------

from tscan_spark.operators import ner  # noqa: E402


@query("ner_token_lookup", oracle=ner.sql_token_ner())
def q_ner_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W27 lookupNer (ner.cxx:8-41) as a J4 interval join: every token
    against the entity span covering it -> per-word BIO code."""
    return ner.token_ner(spark, sf_dir)


@query("ner_features", oracle=ner.sql_ner_features())
def q_ner_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-grain NER battery: per-class token counts, entity counts,
    mean entity length, PER-as-personal-reference (NER::toSem)."""
    return ner.ner_features(spark, sf_dir)


@query("np_chunk_features", oracle=ner.sql_np_chunk_features())
def q_np_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 np_length (tscan.cxx:2105-2124): NP chunk count, summed
    sizes, mean length, indefinite-NP count at doc grain."""
    return ner.np_chunk_features(spark, sf_dir)


# ---------------------------------------------------------------------------
# Extended T-Scan battery (W4/W7/W10-W16/W24-W26, D4/D8/D9)
# ---------------------------------------------------------------------------

from tscan_spark import pipeline_ext  # noqa: E402


@query("tscan_doc_features_ext", oracle=pipeline_ext.sql_doc_features_ext())
def q_doc_features_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended classifier battery at doc grain: semantic-type fan-out,
    strict content + TTR, morph negation + multiNeg, nominalizations,
    compounds, personal references, verb forms, abbreviations,
    question count, LiNT-style readability with level bands."""
    return pipeline_ext.doc_features_ext(spark, sf_dir)


# ---------------------------------------------------------------------------
# Semantic fan-out + compound freq block + D5 densities (A1/D5 widen)
# ---------------------------------------------------------------------------

from tscan_spark import pipeline_ratios  # noqa: E402


@query("tscan_doc_ratios", oracle=pipeline_ratios.sql_doc_ratios())
def q_doc_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-type fan-out (broad+strict per class, tscan.cxx:
    2402-2606), compound head/sat frequency block incl.
    word_freq_log_corr (tscan.cxx:1786-1798), and 16 per-1000-word
    densities with NA-on-zero semantics (structstats.cxx ratio style)."""
    return pipeline_ratios.doc_ratios(spark, sf_dir)


@query(
    "tscan_paragraph_features_ext", oracle=pipeline_ratios.sql_paragraph_features_ext()
)
def q_paragraph_features_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 widen: the extended counter battery merged at paragraph grain
    (parstats shape — the reference emits its battery per paragraph)."""
    return pipeline_ratios.paragraph_features_ext(spark, sf_dir)


@query(
    "tscan_sentence_features_ext", oracle=pipeline_ratios.sql_sentence_features_ext()
)
def q_sentence_features_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 widen: the extended classifier battery summed at sentence
    grain (~30 counters: morph neg, pers refs, nominalizations,
    compounds, adverb types, verb forms, abbreviations, conn/sit/sem
    classes broad+strict)."""
    return pipeline_ratios.sentence_features_ext(spark, sf_dir)


@query("tscan_word_csv", oracle=pipeline_ratios.sql_word_csv())
def q_word_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6/S9: the full word-grain CSV vector (wordStats::toCSV,
    wordstats.cxx:396-682) — every classifier + frequency/band feature,
    one row per token."""
    return pipeline_ratios.word_csv(spark, sf_dir)


# ---------------------------------------------------------------------------
# Relational fundamentals over the star schema (§2.9 + broadcast joins)
# ---------------------------------------------------------------------------

from tscan_spark.operators import relational  # noqa: E402


@query("rel_pricing_summary", oracle=relational.SQL_PRICING_SUMMARY)
def q_rel_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+filter+agg+sort (fixed-point exact sums)."""
    return relational.pricing_summary(spark, sf_dir)


@query("rel_revenue_by_nation", oracle=relational.SQL_REVENUE_BY_NATION)
def q_rel_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with broadcast dimensions."""
    return relational.revenue_by_nation(spark, sf_dir)


@query("rel_top_orders", oracle=relational.SQL_TOP_ORDERS)
def q_rel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders (window top-k)."""
    return relational.top_orders_per_customer(spark, sf_dir)


@query("rel_customers_without_orders", oracle=relational.SQL_CUSTOMERS_WITHOUT_ORDERS)
def q_rel_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join set difference."""
    return relational.customers_without_orders(spark, sf_dir)


# ---------------------------------------------------------------------------
# Paragraph grain (A2) + long-format metrics sink (S8 analog)
# ---------------------------------------------------------------------------


@query(
    "tscan_paragraph_features",
    oracle=pipeline.sql_sentence_features()
    + """,
parf AS (
    SELECT doc_id, par_idx,
           SUM(word_cnt) AS word_cnt,
           SUM(content_cnt) AS content_cnt,
           SUM(neg_cnt) AS neg_cnt,
           SUM(char_sum) AS char_sum,
           COUNT(*) AS sent_cnt
    FROM sentf GROUP BY doc_id, par_idx
)
SELECT doc_id, par_idx,
       CAST(word_cnt AS BIGINT) AS word_cnt,
       CAST(content_cnt AS BIGINT) AS content_cnt,
       CAST(neg_cnt AS BIGINT) AS neg_cnt,
       CAST(char_sum AS BIGINT) AS char_sum,
       CAST(sent_cnt AS BIGINT) AS sent_cnt,
       ROUND(CASE WHEN sent_cnt <> 0 THEN word_cnt * 1.0 / sent_cnt END, 6)
           AS wrd_per_zin
FROM parf""",
)
def q_paragraph_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 paragraph merge: sentence counters summed at (doc, par) grain
    (parStats ctor src/tscan.cxx:3014-3035)."""
    sent = pipeline.sentence_features(spark, sf_dir)
    par = sent.groupBy("doc_id", "par_idx").agg(
        F.sum("word_cnt").cast("long").alias("word_cnt"),
        F.sum("content_cnt").cast("long").alias("content_cnt"),
        F.sum("neg_cnt").cast("long").alias("neg_cnt"),
        F.sum("char_sum").cast("long").alias("char_sum"),
        F.count(F.lit(1)).cast("long").alias("sent_cnt"),
    )
    return par.withColumn(
        "wrd_per_zin",
        F.round(
            F.when(F.col("sent_cnt") != 0, F.col("word_cnt") / F.col("sent_cnt")), 6
        ),
    )


# every numeric column of the doc_features vector, unpivoted — the
# reference emits its whole vector as <metric> annotations
# (addOneMetric, structstats.cxx:1051-1368)
_METRIC_COLS: list[str] = (
    pipeline._SENT_SUM_COLS
    + ["sent_cnt", "par_cnt", "uniq_words", "uniq_lemmas"]
    + [f"conn_{c.lower()}_cnt" for c in pipeline.CONN_CLASSES]
    + [f"sit_{s.lower()}_cnt" for s in pipeline.SIT_CLASSES]
    + [
        "wrd_per_zin", "let_per_wrd", "ttr_words", "ttr_lemmas", "content_d",
        "neg_d", "conn_d",
    ]
    + [f"freq{band[3:]}_p" for band, _ in _lexicons.BANDS]
    + [
        "word_freq_log", "wfl_sent_avg", "rarity",
    ]
)


@query(
    "tscan_metrics_long",
    oracle="""
SELECT doc_id, metric, value FROM (
    SELECT doc_id,
           unnest(["""
    + ",".join(f"'{c}'" for c in _METRIC_COLS)
    + """])
               AS metric,
           unnest(["""
    + ",".join(f"CAST({c} AS DOUBLE)" for c in _METRIC_COLS)
    + """]) AS value
    FROM ("""
    + pipeline.sql_doc_features()
    + """) wide
)""",
)
def q_metrics_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 analog: the FULL wide doc-feature vector -> long
    (doc_id, metric, value) sink format (the reference's <metric>
    annotations, addOneMetric structstats.cxx:1051-1368)."""
    doc = pipeline.doc_features(spark, sf_dir)
    return doc.select("doc_id", _metrics_stack_expr()).select(
        "doc_id", F.col("kv.metric").alias("metric"), F.col("kv.value").alias("value")
    )


@_lru_cache(maxsize=None)
def _metrics_stack_expr():
    """The ~50-struct unpivot array, built once per process (constant
    Column tree; per-call rebuild was ~300 py4j round trips)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("metric"), F.col(c).cast("double").alias("value")
                )
                for c in _METRIC_COLS
            ]
        )
    ).alias("kv")


# ---------------------------------------------------------------------------
# Parse-tree (§2.8) and surprisal (A10) operators
# ---------------------------------------------------------------------------

from tscan_spark.operators import parse, surprisal  # noqa: E402


@query("parse_dep_distance", oracle=parse.sql_dep_distance())
def q_dep_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/A7: dependency distances over synthesized trees with the
    doc-grain avg-of-avgs semantics (al_gem / al_max vs flat mean)."""
    return parse.dep_distance(spark, sf_dir)


@query("parse_tree_depth", oracle=parse.sql_tree_depth())
def q_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2-shaped iterative tree walk (parent-chain depth) as an Arrow
    kernel; oracle is a recursive CTE replaying the walk."""
    return parse.tree_depth(spark, sf_dir)


@query("parse_clause_counts", oracle=parse.sql_clause_counts())
def q_clause_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3-P8 + P2 battery: finite-verb/conjunction/small-conjunct
    counts, adverbials under clause cats, relative/adverbial/complement
    clauses, NP-mod stats, and the D-level cascade (with the -1
    missing-parse sentinel), all from one parent-joined aggregation."""
    return parse.clause_counts(spark, sf_dir)


@query("parse_doc_summary", oracle=parse.sql_doc_parse_summary())
def q_doc_parse_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 correctedClauseCnt (max at sentence, SUM at doc), dLevel -1
    exclusion from doc means, parse-fail counter, clause density."""
    return parse.doc_parse_summary(spark, sf_dir)


@query("parse_embedded_clauses", oracle=parse.sql_embedded_clauses())
def q_embedded_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 embedding (mvInbedCnt analog): clause nodes inside another
    clause via an ancestor-walk Arrow kernel; recursive-CTE oracle."""
    return parse.embedded_clauses(spark, sf_dir)


@query("parse_cache_join", oracle=parse.sql_parse_cache_join())
def q_parse_cache_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: sentence grain LEFT-joined to the parse cache (hits reuse the
    cached summary, misses recompute) with provenance; the S11
    write-back of misses is parse.write_back_misses (pytest-covered)."""
    return parse.parse_cache_join(spark, sf_dir)


@query("parse_verb_features", oracle=parse.sql_verb_features())
def q_verb_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W29 verb classification (PASSIVE/COPULA/TIME/MODAL/HEAD by lemma
    class + sibling relations, Alpino.cxx:640-726) and W28 imperative
    detection (smain with no su sibling, Alpino.cxx:956-966)."""
    return parse.verb_features(spark, sf_dir)


@query("parse_dep_pairs", oracle=parse.sql_dep_pair_distances())
def q_dep_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: mean dependency distance per pair type — ALL 17 DD_types
    (Alpino.h:45-48; getDependencyDist Alpino.cxx:294-614; MMtoString
    columns AL_sub_ww..AL_ww_znwbwp + AL_gem, structstats.cxx:326-330,
    391-409) over the full-space node attributes (fine_rel x lcat x
    head pos)."""
    return parse.dep_pair_distances(spark, sf_dir)


@query("tscan_nominalization", oracle=parse.sql_nominalization())
def q_nominalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W24 checkNominal FULL rule (wordstats.cxx:61-138): morpheme-final
    suffix with plural strip, >4-char tail match, single-morpheme word
    tail match, and the Alpino verb-under-NP variant — each arm emitted
    separately at token grain."""
    return parse.nominalization(spark, sf_dir)


@query("parse_verb_doc", oracle=parse.sql_verb_doc_summary())
def q_verb_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W29/W28 doc merge: per-class verb counts + imperative sentence
    count (feeds Lijdv_d / Lijdv_dz and the imperative block in the
    unified profile, structstats.cxx:1443-1480)."""
    return parse.verb_doc_summary(spark, sf_dir)


@query("surprisal_features", oracle=surprisal.sql_surprisal_features())
def q_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: sentence LM-aggregate norms -> doc avg-of-avgs."""
    return surprisal.surprisal_features(spark, sf_dir)


@query(
    "surprisal_paragraph_features",
    oracle=surprisal.sql_surprisal_paragraph_features(),
)
def q_surprisal_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 at paragraph grain: the Wopr cells of the reference's
    paragraph CSV (avg-of-avgs within the paragraph,
    structstats.cxx:984-1000) — the last Wopr-dependent surface."""
    return surprisal.surprisal_paragraph_features(spark, sf_dir)


@query(
    "tscan_staph_bands",
    oracle=(
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + ",\n"
        + __import__("tscan_spark.lexicons", fromlist=["x"]).sql_word_freq_cte().strip()
        + ",\n"
        + __import__("tscan_spark.lexicons", fromlist=["x"]).sql_staph_cte().strip()
        + """
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS word_cnt,
       CAST(SUM(is_f50) AS BIGINT) AS f50_cnt,
       CAST(SUM(is_f65) AS BIGINT) AS f65_cnt,
       CAST(SUM(is_f77) AS BIGINT) AS f77_cnt,
       CAST(SUM(is_f80) AS BIGINT) AS f80_cnt,
       ROUND(SUM(is_f80) * 100.0 / COUNT(*), 6) AS f80_p
FROM tok JOIN staph_b USING (word)
GROUP BY doc_id"""
    ),
)
def q_staph_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W22 Staphorsius cumulative-frequency band counts per document."""
    from tscan_spark import lexicons

    documents = corpus.load(spark, sf_dir, "documents")
    tok = corpus.tokens_long(documents)
    wf = lexicons.with_staph_bands(lexicons.word_freq(documents))
    j = tok.join(F.broadcast(wf), "word")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("word_cnt"),
        *[
            F.sum(f"is_{band}").cast("long").alias(f"{band}_cnt")
            for band, _ in lexicons.STAPH_BANDS
        ],
        F.round(F.sum("is_f80") * 100.0 / F.count(F.lit(1)), 6).alias("f80_p"),
    )


from tscan_spark import pipeline_sem  # noqa: E402


@query("tscan_sem_fine", oracle=pipeline_sem.sql_doc_sem_fine())
def q_sem_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-grained semantic/POS-subtype battery: the reference's
    concreet / verb-ATP / intensifier-subtype / formal-subtype /
    word-sort CSV blocks (concreetToCSV structstats.cxx:672-790,
    verbToCSV 831-866, intensToCSV 938-948, formalToCSV 963-975,
    wordSortToCSV 883-931) over the documented synthetic analog
    taxonomies — ~112 doc-grain cells, one hash aggregate."""
    return pipeline_sem.doc_sem_fine(spark, sf_dir)


_PAR_KEYS = ("doc_id", "par_idx")


@query(
    "tscan_sem_fine_par", oracle=pipeline_sem.sql_doc_sem_fine(keys=_PAR_KEYS)
)
def q_sem_fine_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fine-taxonomy battery at PARAGRAPH grain (the
    reference's per-paragraph CSV carries the same blocks,
    structstats.cxx:975-1002 chain) — identical single-pass aggregate
    keyed (doc_id, par_idx)."""
    return pipeline_sem.doc_sem_fine(spark, sf_dir, keys=_PAR_KEYS)


# ---------------------------------------------------------------------------
# Flagship unified document profile (the reference's wide document.csv)
# ---------------------------------------------------------------------------
#
# structStats::toCSV emits ONE wide row per document (structstats.cxx:
# 89-121); this joins every doc-grain battery into that shape. Each
# side is an independent aggregate of the same token grain, so the plan
# is N parallel aggregation subtrees converging in doc_id equi-joins
# (AQE broadcasts the smaller sides at bench scale; co-partitioned
# shuffle joins at corpus scale).
#
# _PROFILE_PARTS is the only place that says which battery contributes
# which columns: a part contributes its battery's output columns minus
# its drops, in the battery's order, on both engines (SELECT * over the
# doc_id join). A battery that gains a column adds it to the profile.

_PROFILE_PARTS: list[tuple[str, list[str]]] = [
    # (query name, columns dropped to keep the join collision-free)
    ("tscan_doc_features", []),
    ("tscan_doc_features_ext", ["word_cnt", "sent_cnt"]),
    (
        "tscan_doc_ratios",
        [
            "word_cnt", "neg_cnt", "intens_cnt", "formal_cnt",
            "conn_causaal_cnt", "conn_temporeel_cnt", "conn_contrastief_cnt",
            "conn_comparatief_cnt", "conn_opsommend_wg_cnt",
            "conn_opsommend_zin_cnt",
            "sit_time_cnt", "sit_space_cnt", "sit_emotion_cnt", "sit_cause_cnt",
            "morph_neg_cnt", "pers_ref_cnt", "nominal_cnt", "compound_cnt",
            "sem_concrete_cnt", "sem_abstract_cnt", "sem_human_cnt",
            "morph_neg_d", "pers_ref_d", "nominal_d", "neg_d",
            # morpheme sums/ratios also come from the annotation-dim
            # battery (tscan_general_doc_features) — keep that provenance
            "morph_sum", "morf_per_wrd", "wrd_per_morf",
            # emitted by the base battery / the cross-battery ratio block
            "let_per_wrd", "namen_p", "namen_d",
        ],
    ),
    ("parse_doc_summary", ["sent_cnt"]),
    ("parse_verb_doc", ["sent_cnt"]),
    # al_gem: the profile keeps parse_dep_distance's avg-of-avgs AL_gem
    ("parse_dep_pairs", ["al_gem"]),
    # AL_gem / AL_max top predictors (structstats.cxx:193, 408-425)
    ("parse_dep_distance", ["sent_cnt"]),
    # MTLD battery incl. MTLD_inhwrd_zonder_abw top predictor
    ("doc_mtld", []),
    ("tscan_general_doc_features", ["word_cnt"]),
    ("ner_features", ["word_cnt"]),
    ("np_chunk_features", []),
    ("prevalence_features", ["word_cnt"]),
    # fine-taxonomy battery (concreet/ATP/intens/formal/wordSort blocks)
    ("tscan_sem_fine", []),
]

# sentDifficulties / verb / misc ratio block over the joined parts
# (structstats.cxx:330-470, 1443-1480). Each entry is (name, numerator
# SQL, denominator SQL, kind) with kind "prop" (num/den) or "dens"
# (per-1000); the SAME SQL string renders in Spark (F.expr) and DuckDB,
# so the two sides cannot drift.
_NAME_TOK = "per_tok_cnt + loc_tok_cnt + org_tok_cnt + eve_tok_cnt + misc_tok_cnt"
_PROFILE_RATIOS: list[tuple[str, str, str, str]] = [
    ("zin_per_wrd", "sent_cnt", "word_cnt", "prop"),
    ("dzin_per_wrd", "corrected_clause_cnt", "word_cnt", "prop"),
    ("wrd_per_dz", "word_cnt", "corrected_clause_cnt", "prop"),
    ("inhwrd_dz", "inh_cnt", "corrected_clause_cnt", "prop"),
    ("inhwrd_dz_zonder_abw", "inh_strict_cnt", "corrected_clause_cnt", "prop"),
    ("betr_bijzin_per_zin", "betr_cnt", "sent_cnt", "prop"),
    ("bijw_bijzin_per_zin", "bijw_cnt", "sent_cnt", "prop"),
    ("compl_bijzin_per_zin", "compl_cnt", "sent_cnt", "prop"),
    ("fin_bijzin_per_zin", "betr_cnt + bijw_cnt + compl_cnt", "sent_cnt", "prop"),
    ("betr_bijzin_los", "los_betr_cnt", "sent_cnt", "prop"),
    ("pv_hzin_per_zin", "smain_cnt", "sent_cnt", "prop"),
    ("pv_bijzin_per_zin", "ssub_cnt", "sent_cnt", "prop"),
    ("pv_ww1_per_zin", "sv1_cnt", "sent_cnt", "prop"),
    ("hzin_conj", "cnj_smain_cnt", "sent_cnt", "prop"),
    ("bijzin_conj", "cnj_ssub_cnt", "sent_cnt", "prop"),
    ("ww1_conj", "cnj_sv1_cnt", "sent_cnt", "prop"),
    ("pv_alpino_per_zin", "clause_cnt", "sent_cnt", "prop"),
    ("kconj_per_zin", "small_cnj_cnt", "sent_cnt", "prop"),
    ("kconj_dz", "small_cnj_cnt", "corrected_clause_cnt", "prop"),
    ("bijw_bep_d", "adverbial_cnt", "word_cnt", "dens"),
    ("bijw_bep_dz", "adverbial_cnt", "corrected_clause_cnt", "prop"),
    (
        "bijv_bep_dz_zbijzin",
        "GREATEST(np_mod_cnt - betr_cnt, 0)",
        "corrected_clause_cnt",
        "prop",
    ),
    ("d_level_gt4_p", "d_level_gt4_cnt", "sent_cnt", "prop"),
    ("lijdv_d", "passive_cnt", "word_cnt", "dens"),
    ("lijdv_dz", "passive_cnt", "corrected_clause_cnt", "prop"),
    ("koppel_ww_d", "copula_cnt", "word_cnt", "dens"),
    ("tijd_ww_d", "time_cnt", "word_cnt", "dens"),
    ("modaal_ww_d", "modal_cnt", "word_cnt", "dens"),
    ("hoofd_ww_d", "head_cnt", "word_cnt", "dens"),
    ("imp_per_zin", "imperative_sent_cnt", "sent_cnt", "prop"),
    ("ontk_zin_d", "neg_cnt", "word_cnt", "dens"),
    ("ontk_zin_dz", "neg_cnt", "corrected_clause_cnt", "prop"),
    ("ontk_morf_d", "morph_neg_cnt", "word_cnt", "dens"),
    ("ontk_morf_dz", "morph_neg_cnt", "corrected_clause_cnt", "prop"),
    ("ontk_tot_d", "neg_cnt + morph_neg_cnt", "word_cnt", "dens"),
    ("ontk_tot_dz", "neg_cnt + morph_neg_cnt", "corrected_clause_cnt", "prop"),
    ("meerv_ontk_d", "multi_neg_cnt", "word_cnt", "dens"),
    ("meerv_ontk_dz", "multi_neg_cnt", "corrected_clause_cnt", "prop"),
    ("pers_vnw_d", "pron_cnt", "word_cnt", "dens"),
    ("namen_d", _NAME_TOK, "word_cnt", "dens"),
    ("namen_p", _NAME_TOK, f"({_NAME_TOK}) + noun_cnt", "prop"),
    # Conc_nw_ruim_p / Conc_nw_strikt_p top predictors
    # (structstats.cxx:188-190): concrete nouns over COVERED nouns
    ("conc_nw_ruim_p", "sem_concrete_cnt", "noun_cnt - sem_unfound_cnt", "prop"),
    (
        "conc_nw_strikt_p",
        "sem_concrete_strict_cnt",
        "noun_cnt - sem_unfound_cnt",
        "prop",
    ),
    # coherence block: per-clause connective rates (coherenceToCSV)
    ("conn_causaal_dz", "conn_causaal_cnt", "corrected_clause_cnt", "prop"),
    ("conn_temporeel_dz", "conn_temporeel_cnt", "corrected_clause_cnt", "prop"),
    ("conn_contrastief_dz", "conn_contrastief_cnt", "corrected_clause_cnt", "prop"),
    ("conn_comparatief_dz", "conn_comparatief_cnt", "corrected_clause_cnt", "prop"),
    ("conn_opsommend_wg_dz", "conn_opsommend_wg_cnt", "corrected_clause_cnt", "prop"),
    ("conn_opsommend_zin_dz", "conn_opsommend_zin_cnt", "corrected_clause_cnt", "prop"),
    # persoonlijkheid block: per-person pronoun densities
    ("pers_vnw1_d", "pron1_cnt", "word_cnt", "dens"),
    ("pers_vnw2_d", "pron2_cnt", "word_cnt", "dens"),
    ("pers_vnw3_d", "pron3_cnt", "word_cnt", "dens"),
    # F4 per-clause participle rates + infinitival complements per
    # sentence (verbToCSV structstats.cxx:843-866, sentDifficulties 408)
    ("vd_bv_dz", "vd_bv_cnt", "corrected_clause_cnt", "prop"),
    ("vd_nw_dz", "vd_nw_cnt", "corrected_clause_cnt", "prop"),
    ("vd_vrij_dz", "vd_vrij_cnt", "corrected_clause_cnt", "prop"),
    ("ovd_bv_dz", "ovd_bv_cnt", "corrected_clause_cnt", "prop"),
    ("ovd_nw_dz", "ovd_nw_cnt", "corrected_clause_cnt", "prop"),
    ("ovd_vrij_dz", "ovd_vrij_cnt", "corrected_clause_cnt", "prop"),
    ("infin_compl_bep_per_zin", "infin_compl_cnt", "sent_cnt", "prop"),
]


def _profile_ratio_expr(num: str, den: str, kind: str) -> str:
    mult = " * 1000.0" if kind == "dens" else ""
    return f"ROUND(CASE WHEN {den} <> 0 THEN ({num}) * 1.0 / ({den}){mult} END, 6)"


# D4 — the reference's EXACT LiNT readability formulas
# (structstats.cxx:1004-1041), computed over the profile's own ratio
# columns (same predictors, engine-native names): wrd_freq_log_zn_corr
# -> word_freq_log_corr_zn, plus bijv_bep_dz_zbijzin / alg_nw_d /
# al_max / inhwrd_dz_zonder_abw / conc_nw_ruim_p. Clamped to [0,100];
# level bands at <=34 / <=46 / <=60 (reference's level1..3). The same
# strings render in Spark (F.expr) and DuckDB. NULL inputs (zero
# denominators upstream) collapse to score 0 via GREATEST's
# null-skipping — identical in both engines.
_LINT_RAW = {
    1: (
        "100 - (-14.857 + 19.487 * word_freq_log_corr_zn"
        " - 5.965 * bijv_bep_dz_zbijzin - 0.093 * alg_nw_d"
        " - 0.995 * al_max)"
    ),
    2: (
        "100 - (3.204 + 15.845 * word_freq_log_corr_zn"
        " - 1.331 * al_max - 3.829 * inhwrd_dz_zonder_abw"
        " + 13.096 * conc_nw_ruim_p)"
    ),
}


def _lint_col_sql() -> list[tuple[str, str]]:
    out = []
    for i, raw in sorted(_LINT_RAW.items()):
        score = f"LEAST(100.0, GREATEST(0.0, {raw}))"
        out.append((f"lint_score_{i}", f"ROUND({score}, 6)"))
        out.append(
            (
                f"lint_level_{i}",
                f"CAST(CASE WHEN ({score}) <= 34 THEN 1"
                f" WHEN ({score}) <= 46 THEN 2"
                f" WHEN ({score}) <= 60 THEN 3 ELSE 4 END AS INT)",
            )
        )
    return out


def _profile_sql(sides: list[str]) -> str:
    """The profile's SQL, the same text in Spark and DuckDB: ``SELECT *``
    over the doc_id join of ``sides`` (one FROM item per
    ``_PROFILE_PARTS`` entry), with the cross-battery ratio block and
    the LiNT block on top. The ratios are cast to DOUBLE because Spark's
    ROUND over the decimal division would otherwise return a decimal;
    DuckDB's is already DOUBLE."""
    inner = f"SELECT *\nFROM {sides[0]} b0" + "".join(
        f"\nJOIN {side} b{i} USING (doc_id)" for i, side in enumerate(sides[1:], 1)
    )
    ratios = ",\n       ".join(
        f"CAST(({_profile_ratio_expr(num, den, kind)}) AS DOUBLE) AS {name}"
        for name, num, den, kind in _PROFILE_RATIOS
    )
    lint = ",\n       ".join(f"{sql} AS {name}" for name, sql in _lint_col_sql())
    return (
        f"SELECT q.*,\n       {lint}\nFROM (\n"
        f"SELECT p.*,\n       {ratios}\nFROM (\n{inner}\n) p\n) q"
    )


def _sql_doc_profile() -> str:
    """DuckDB oracle: each battery's oracle minus the part's drops."""
    sides = [
        f"(SELECT * EXCLUDE ({', '.join(drops)}) FROM ({ORACLES[name]}\n))"
        if drops
        else f"({ORACLES[name]}\n)"
        for name, drops in _PROFILE_PARTS
    ]
    return _profile_sql(sides)


def _profile_grain(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """ONE fully-annotated token grain feeding every token-derived
    battery in the profile: base + extended annotations, the banded
    frequency lexicon (broadcast), and the content-gated freq-log.

    Sharing this single analyzed subtree (instead of each battery
    re-deriving its own identical lineage) cuts the profile's Catalyst
    analysis time ~5x and lets the physical planner reuse one scan
    shape across the aggregation paths.

    ``spread=True`` (the STAGED materialization path only): raise the
    scan to the session's parallelism before the annotation ladder when
    the input has fewer files than that — the generated test tables are
    single-file, single-row-group tables, so the whole 42-column ladder
    would otherwise execute on ONE task feeding the staging write
    (measured: grain write 3.5-3.8 -> 1.6-1.8 s at sf0.1). A real corpus
    already has >= parallelism files and keeps its scan; the spread is
    paid ONCE into the materialization and amortized by all ~13 staged
    battery reads (unlike a blanket scan spread, which was measured a
    net loss and reverted — OPTIMIZATION_r06.md). The file count comes
    from ``inputFiles()``, which works on classic and Spark Connect
    sessions alike. Values are partitioning-independent (bitwise
    118-query audit + pinned test)."""
    documents = corpus.load(spark, sf_dir, "documents")
    if spread:
        par = spark.sparkContext.defaultParallelism
        if len(documents.inputFiles()) < par:
            documents = documents.repartition(par)
    tok = annotate.annotate_extended(
        annotate.annotate(corpus.tokens_long(documents))
    )
    from tscan_spark.lexicons import with_band_flags, word_freq

    grain = tok.join(F.broadcast(with_band_flags(word_freq(documents))), "word", "left")
    gate = (F.col("is_content") == 1) & (F.col("is_stop") == 0)
    return grain.withColumn("content_freq_log", F.when(gate, F.col("wf_freq_log")))


def _doc_profile_impl(
    spark: SparkSession, sf_dir: str, staging_dir: str | None = None
) -> DataFrame:
    """Shared-grain plan: ONE annotated token grain feeds every
    token-level battery and ONE parse-node grain (derived from the same
    token grain) feeds every parse battery — the profile's ~12
    aggregation paths share two analyzed lineages instead of 12
    independent ones (the round-2 multi-scan finding). The parts are
    built one after another: building them on 8 threads saved 0.3 s of
    a ~6 s build (one traced staged run), too little for a pool. The
    profile's columns are whatever each battery emits minus its
    ``_PROFILE_PARTS`` drops; no column list is kept anywhere else.

    ``staging_dir=None`` (in-memory variant): the grains are NOT
    persisted — both are pure codegen projections over a small scan,
    and every materialization strategy measured SLOWER than recompute
    at sf0.1: plain persist 37s vs 27s (round 2), eager localCheckpoint
    23.4s -> 31.4s for the pair (round 6 A/B) — the materialization
    barrier plus block encode/decode per consumer outweighs the ~12
    recomputed codegen passes at this scale. Each aggregation path
    physically recomputes the grain lineage; fine at bench scale, ~12
    corpus passes at 100 TB (use staging_dir there).

    ``staging_dir=<path>`` (the PRODUCTION shape, PLANS.md:158-164):
    the two grains are materialized ONCE to staging parquet tables and
    every battery scans the staging tables — 2 corpus passes + one
    doc_mtld scan + K vocabulary-sized broadcasts, never 12. On a
    cluster ``staging_dir`` is an object-store/Iceberg path; a
    resumable variant of the same write is
    ``jobs/run_features.py --checkpoint`` (per-bucket lineage ledger,
    operators/checkpoint.py).
    """
    if staging_dir is not None:
        import os

        gpath = os.path.join(staging_dir, "token_grain")
        npath = os.path.join(staging_dir, "parse_nodes")
        _profile_grain(spark, sf_dir, spread=True).write.mode(
            "overwrite"
        ).parquet(gpath)
        grain = spark.read.parquet(gpath)
        parse.parse_nodes(spark, sf_dir, tok=grain).write.mode("overwrite").parquet(
            npath
        )
        nodes = spark.read.parquet(npath)
    else:
        grain = _profile_grain(spark, sf_dir)
        nodes = parse.parse_nodes(spark, sf_dir, tok=grain)
    frames = {
        "tscan_doc_features": pipeline.doc_features(spark, sf_dir, wordf=grain),
        "tscan_doc_features_ext": pipeline_ext.doc_features_ext(
            spark, sf_dir, wordf=grain
        ),
        "tscan_doc_ratios": pipeline_ratios.doc_ratios(spark, sf_dir, wordf=grain),
        "prevalence_features": _prevalence_agg(spark, sf_dir, grain),
        "parse_doc_summary": parse.doc_parse_summary(spark, sf_dir, nodes=nodes),
        "parse_verb_doc": parse.verb_doc_summary(spark, sf_dir, nodes=nodes),
        "parse_dep_pairs": parse.dep_pair_distances(spark, sf_dir, nodes=nodes),
        "parse_dep_distance": parse.dep_distance(spark, sf_dir, nodes=nodes),
        "ner_features": ner.ner_features(spark, sf_dir, tok=grain),
        "np_chunk_features": ner.np_chunk_features(spark, sf_dir, tok=grain),
        "tscan_general_doc_features": vocab_dim.general_doc_features(
            spark, sf_dir, tok=grain
        ),
        "tscan_sem_fine": pipeline_sem.doc_sem_fine(spark, sf_dir, wordf=grain),
        "doc_mtld": sequential.doc_mtld(spark, sf_dir, grain=grain),
    }
    # ONE parameterized spark.sql call assembles the 13-way doc_id join
    # + cross-battery ratio block + D4 LiNT scores (the same SQL text
    # shape as the oracle). The former left-deep .join() chain + two
    # wide selects re-analyzed the accumulated ~510-column plan on the
    # JVM once per DataFrame call (~14 full tree traversals, 2.6 s of
    # the profile's warm construction at sf0.1); the single SQL text
    # resolves every part subtree once.
    parts = {
        f"b{i}": frames[name].drop(*drops)
        for i, (name, drops) in enumerate(_PROFILE_PARTS)
    }
    sides = [f"{{b{i}}}" for i in range(len(_PROFILE_PARTS))]
    return spark.sql(_profile_sql(sides), **parts)


@query("tscan_doc_profile", oracle=_sql_doc_profile())
def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide per-document output vector (structStats::toCSV shape):
    base counters + extended battery + fan-out/compound/density block +
    parse summary + NER + NP chunks + prevalence, one row per doc."""
    return _doc_profile_impl(spark, sf_dir)


@query("tscan_doc_profile_staged", oracle=_sql_doc_profile())
def q_doc_profile_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME profile vector through the production staged plan: the
    annotated token grain and the parse-node grain are written ONCE to
    staging parquet and all ~12 aggregation paths scan the staging
    tables — the 100 TB shape (2 corpus passes, not 12; PLANS.md
    'tscan_doc_profile — staged'). Values identical to
    ``tscan_doc_profile`` (same oracle string)."""
    import hashlib
    import os
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        "tscan_spark_staging",
        hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    return _doc_profile_impl(spark, sf_dir, staging_dir=root)


# ---------------------------------------------------------------------------
# Drift monitoring & training-set construction (brief: LLM-pipeline ops)
# ---------------------------------------------------------------------------

from tscan_spark.operators import drift as _drift  # noqa: E402
from tscan_spark.operators import training as _training  # noqa: E402


@query("token_drift_kl", oracle=_drift.SQL_TOKEN_DRIFT_KL)
def q_token_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus distribution
    (drift monitor over the same unigram statistics the reference's
    frequency ladder consumes, tscan.cxx:462-471)."""
    return _drift.token_drift_kl(spark, sf_dir)


@query("vocab_growth", oracle=_drift.SQL_VOCAB_GROWTH)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve per (source, arrival bucket):
    new/cumulative type counts — source-saturation monitoring."""
    return _drift.vocab_growth(spark, sf_dir)


@query("training_order_shuffle", oracle=_training.SQL_TRAINING_ORDER_SHUFFLE)
def q_training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: hash-keyed global permutation into
    N_SHARDS training shards with stable in-shard positions."""
    return _training.training_order_shuffle(spark, sf_dir)


@query("quality_logreg", oracle=_training.sql_quality_logreg())
def q_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression quality classifier trained in-engine by
    K full-batch GD iterations (one model-sized aggregate per step);
    the oracle replays the exact training trajectory via chained CTEs."""
    return _training.quality_logreg(spark, sf_dir)


from tscan_spark.operators import incremental as _incremental  # noqa: E402


@query("incremental_features", oracle=_incremental.SQL_INCREMENTAL_FEATURES)
def q_incremental_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental feature materialization over snapshot-table appends
    (Iceberg incremental-scan analog): per-commit delta -> per-doc
    features -> derived-table commit stamped with source_snapshot_id;
    the oracle checks incremental == batch and per-delta row placement."""
    return _incremental.incremental_features(spark, sf_dir)


@query("select_token_budget", oracle=curation.sql_select_token_budget())
def q_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked data selection under a per-source token budget
    (one doc-grain aggregate + a per-source cumulative window; the
    100 TB variant cuts by approx-quantile instead of the exact rank)."""
    return curation.select_token_budget(spark, sf_dir)


@query("source_overlap_matrix", oracle=curation.sql_source_overlap_matrix())
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: pairwise 8-gram Jaccard
    between sources (gram-keyed self-join over the distinct
    (source, gram) reduction — bounded by posting size, never
    doc-quadratic)."""
    return curation.source_overlap_matrix(spark, sf_dir)


@query("temperature_mix_rates", oracle=curation.sql_temperature_mix_rates())
def q_temperature_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source sampling (share^0.7, mT5/XLM-R
    convention): per-source keep rates + expected token counts at the
    max feasible corpus size; |sources|-row arithmetic after one
    token-total aggregate."""
    return curation.temperature_mix_rates(spark, sf_dir)


@query("dedup_keep_best", oracle=dedup.sql_dedup_keep_best())
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution with the production keep policy:
    keep each cluster's highest-quality member (Gopher/C4 score,
    doc_id tiebreak) instead of the lowest doc_id."""
    return dedup.dedup_keep_best(spark, sf_dir)


@query("dedup_incremental", oracle=_incremental.SQL_DEDUP_INCREMENTAL)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: each snapshot commit's delta is deduplicated
    against the accumulated fingerprint index (prefix-fingerprint key);
    the oracle replays the whole commit history as one batch window —
    incremental == batch for the dedup index."""
    return _incremental.dedup_incremental(spark, sf_dir)


from tscan_spark.operators import clustering  # noqa: E402


@query("kmeans_clusters", oracle=clustering.SQL_KMEANS_CLUSTERS)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embedding column: Lloyd iterations
    as two hash aggregates per round over the exploded grain, model
    state driver-side as literals (no lineage growth), fixed-point
    trajectory replayed end-to-end by the chained-CTE oracle."""
    return clustering.kmeans_clusters(spark, sf_dir)


from tscan_spark.operators import ranking as _ranking  # noqa: E402


@query("bm25_scores", oracle=_ranking.SQL_BM25_SCORES)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance over the corpus with corpus-derived query terms
    (top-3 global tokens): one token-grain aggregate, everything else
    vocabulary/doc-grain reductions; scoring semi-joins the 3-row
    broadcast query dimension before touching doc lengths."""
    return _ranking.bm25_scores(spark, sf_dir)


@query("tfidf_keywords", oracle=_ranking.SQL_TFIDF_KEYWORDS)
def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by TF-IDF: the BM25 token-grain tf
    reused, vocabulary-grain idf broadcast, doc-partitioned window
    top-k (no global sort), integer-deterministic rank ordering."""
    return _ranking.tfidf_keywords(spark, sf_dir)


from tscan_spark.operators import weighting as _weighting  # noqa: E402


@query("dsir_importance", oracle=_weighting.SQL_DSIR_IMPORTANCE)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed unigram+bigram log-likelihood
    ratio vs the src0 target domain): one persisted feature grain, one
    512-bucket aggregate computing BOTH distributions, broadcast
    log-ratio dimension into the per-doc scoring aggregate."""
    return _weighting.dsir_importance(spark, sf_dir)


@query("zipf_fit", oracle=textstats.SQL_ZIPF_FIT)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent + R^2 over the corpus's own frequency
    law: (source, word) aggregate, source-partitioned rank window,
    regr_slope/regr_r2 moment aggregates."""
    return textstats.zipf_fit(spark, sf_dir)


@query("source_length_stats", oracle=textstats.SQL_SOURCE_LENGTH_STATS)
def q_source_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution with exact interpolated
    percentiles (same interpolation on both engines); doc-grain count
    then one source-grain aggregate."""
    return textstats.source_length_stats(spark, sf_dir)


@query("unigram_entropy", oracle=textstats.SQL_UNIGRAM_ENTROPY)
def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the unigram distribution via the
    ln(tot) - sum(c ln c)/tot decomposition — no totals join."""
    return textstats.unigram_entropy(spark, sf_dir)


@query("multimodal_resize", oracle=multimodal.SQL_RESIZE_FEATURES)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided-downsample "resize" stub behind the real mapInPandas
    batch contract — one narrow pass, payload stays binary in-engine."""
    return multimodal.resize_features(spark, sf_dir)


@query("multimodal_frame_sample", oracle=multimodal.SQL_FRAME_SAMPLE)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-Nth-frame sampling: the batch-explode mapInPandas shape
    (one payload row -> many frame rows), fan-out inside the narrow
    pass."""
    return multimodal.frame_sample(spark, sf_dir)


@query("curate_pipeline", oracle=curation.sql_curate_pipeline())
def q_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel: decontamination -> repetition gate
    -> exact-dedup keeper -> per-source accounting, composed from the
    registered gate operators on the shared doc_id grain."""
    return curation.curate_pipeline(spark, sf_dir)


@query("eval_split", oracle=_training.sql_eval_split())
def q_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-keyed train/val/test split accounting: pure
    projection assignment (stable under corpus growth), one doc-grain
    token count, one (source, split) aggregate."""
    return _training.eval_split(spark, sf_dir)


@query("ann_recall_eval", oracle=similarity.sql_ann_recall_eval())
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF index vs brute-force ground truth, composed
    from the two registered top-k pipelines plus one top-k-cardinality
    join."""
    return similarity.ann_recall_eval(spark, sf_dir)


@query("dedup_recall_eval", oracle=dedup.sql_dedup_recall_eval())
def q_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/agreement of the MinHash-LSH stage vs the exact n-gram
    Jaccard pairs — the banding-resolution sizing measurement, composed
    from the two registered pipelines plus one pair-cardinality
    full-outer join."""
    return dedup.dedup_recall_eval(spark, sf_dir)


@query("quality_quantile_gate", oracle=textstats.sql_quality_quantile_gate())
def q_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality floor at the exact interpolated quartile with
    keep accounting: doc-grain quality aggregate, source-grain
    percentile, broadcast threshold join."""
    return textstats.quality_quantile_gate(spark, sf_dir)


from tscan_spark.operators import collocation as _collocation  # noqa: E402
from tscan_spark.operators import drift as _drift_ops  # noqa: E402


@query("pmi_collocations", oracle=_collocation.SQL_PMI_COLLOCATIONS)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram PMI collocations over the corpus's own unigram model:
    one token pass + doc-bounded lead window, vocabulary-grain counts
    broadcast twice into the gated pair scoring."""
    return _collocation.pmi_collocations(spark, sf_dir)


@query("source_embedding_drift", oracle=_drift_ops.sql_source_embedding_drift())
def q_source_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding centroid + cosine cohesion on the FP6
    integer quantizer (reduction-order-free, oracle-exact); one
    embeddings pass, sources x dims centroid broadcast back."""
    return _drift_ops.source_embedding_drift(spark, sf_dir)


@query("rel_shipping_priority", oracle=relational.SQL_SHIPPING_PRIORITY)
def q_rel_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-table join with pushed date
    predicates, broadcast customer filter, exact-integer top-N."""
    return relational.shipping_priority(spark, sf_dir)


@query("rel_local_supplier_volume", oracle=relational.SQL_LOCAL_SUPPLIER_VOLUME)
def q_rel_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-table star with the same-nation residual,
    broadcast dimensions, fixed-point exact revenue."""
    return relational.local_supplier_volume(spark, sf_dir)


@query("lang_label_audit", oracle=textstats.sql_lang_label_audit())
def q_lang_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-predicted language confusion summary (metadata
    label-quality gate): lang_id doc aggregate + one (lang, pred)
    aggregate, corpus touched once."""
    return textstats.lang_label_audit(spark, sf_dir)


from tscan_spark.sources import textio as _textio  # noqa: E402


@query("jsonl_roundtrip", oracle=_textio.SQL_JSONL_ROUNDTRIP)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source contract: write documents as JSONL, read back under
    the pinned explicit schema, prove losslessness with order-free
    per-source content digests the oracle recomputes from parquet."""
    return _textio.jsonl_roundtrip(spark, sf_dir)


@query(
    "corpus_stats_summary",
    oracle=f"""
WITH {__import__('tscan_spark.corpus', fromlist=['corpus']).SQL_TOK_CTE}
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_vocab,
       CAST(COUNT(DISTINCT source) AS INT) AS n_sources,
       ROUND(COUNT(*) * 1.0 / COUNT(DISTINCT doc_id), 6) AS avg_doc_len
FROM tok""",
)
def q_corpus_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus overview (the engine's `DESCRIBE corpus` entry
    point): a single token-grain pass with combined distinct
    aggregates."""
    tok = corpus.tokens_long(corpus.load(spark, sf_dir, "documents"))
    return tok.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("word").cast("long").alias("n_vocab"),
        F.countDistinct("source").cast("int").alias("n_sources"),
        F.round(
            F.count(F.lit(1)) / F.countDistinct("doc_id"), 6
        ).alias("avg_doc_len"),
    )


# ---------------------------------------------------------------------------
# Driver-gate rotation (round 5)
# ---------------------------------------------------------------------------
# The driver's correctness gate hashes roughly the first 50 entries of
# QUERIES in iteration order, so insertion order decides which queries
# ever get a driver row.  Rounds 1-4 hashed the same definition-order
# prefix; 42 queries (the whole round-4 LLM-pipeline battery plus the
# parse tail and the flagship profile) never got one.  This block
# rotates the dict so those 42 lead, padded to 50 with the
# least-recently-hashed queries (surprisal_features / tscan_staph_bands
# were last hashed in round 1, the next five in round 3) plus the
# round-5-registered pack_sequences_fine.  The remaining queries keep
# their relative definition order after the prefix.
#
# Round-6 rotation (applied below, same policy): the 5 never-GREEN
# queries lead (the round-5 hash-reds, now dtype-aligned — VERDICT r5
# "Next round" #1 requires them hashed green this round), then
# ascending most-recent-hashed-round over the union of
# CORRECTNESS_r01..r05 (the r3-hashed block first — the r1-hashed
# name was since renamed — then the r4-hashed alphabetically to 50).
# Round-7 rotation note: rerun the same policy against the union
# including CORRECTNESS_r06.json — the r5-hashed block (45 green rows)
# is then the least-recent and rotates in.
_GATE_ROTATION_PREFIX = [
    "tscan_doc_profile",
    "tscan_doc_profile_staged",
    "token_drift_kl",
    "vocab_growth",
    "kmeans_clusters",
    "parse_dep_distance",
    "parse_doc_summary",
    "parse_tree_depth",
    "prevalence_features",
    "problems_log",
    "rel_customers_without_orders",
    "rel_pricing_summary",
    "rel_revenue_by_nation",
    "rel_top_orders",
    "tscan_doc_features_ext",
    "tscan_doc_ratios",
    "tscan_general_doc_features",
    "tscan_metrics_long",
    "tscan_paragraph_features",
    "tscan_paragraph_features_ext",
    "tscan_sentence_features_ext",
    "tscan_word_csv",
    "tscan_word_features_dim",
    "als_connectives",
    "asof_lexicon_features",
    "asof_lexicon_features_broadcast",
    "backfill_events",
    "bpe_apply_merge",
    "bpe_tokenize",
    "bpe_top_pairs",
    "compound_split",
    "decontaminate_ngram",
    "dedup_clusters",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_substring_spans",
    "doc_fingerprint",
    "doc_mtld",
    "doc_sliding_overlap",
    "docs_tokenized",
    "domain_mix_rates",
    "frog_feature_decode",
    "lag_lead_events",
    "lang_id",
    "lm_bigram_doc",
    "lm_perplexity_buckets",
    "multimodal_decode",
]


def _rotate_gate_order() -> None:
    missing = [n for n in _GATE_ROTATION_PREFIX if n not in QUERIES]
    if missing:  # a rename must update the rotation list, loudly
        raise KeyError(f"gate rotation names unknown queries: {missing}")
    prefix = set(_GATE_ROTATION_PREFIX)
    order = _GATE_ROTATION_PREFIX + [n for n in QUERIES if n not in prefix]
    rotated_q = {n: QUERIES[n] for n in order}
    QUERIES.clear()
    QUERIES.update(rotated_q)
    rotated_o = {n: ORACLES[n] for n in order if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(rotated_o)


_rotate_gate_order()
