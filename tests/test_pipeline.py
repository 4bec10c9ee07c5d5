"""Correctness of the tokenize -> annotate -> aggregate ladder vs DuckDB."""

import hashlib

import pytest

from tests.conftest import SF_DIR, assert_matches_oracle
from tscan_spark import corpus, pipeline

# sha256 of ",".join(columns) of both document profiles, in order
PROFILE_COLUMNS_SHA256 = (
    "a3b60eaf4ec99ba9cba222ab3d0526d6d5c2517c7884736da65397d4673a9136"
)


def test_tokens_long_matches_oracle(spark, oracle):
    documents = corpus.load(spark, SF_DIR, "documents")
    df = corpus.tokens_long(documents)
    sql = f"WITH {corpus.SQL_TOK_CTE.strip()} SELECT * FROM tok"
    assert_matches_oracle(df, oracle, sql)


def test_docs_tokenized_shape(spark):
    documents = corpus.load(spark, SF_DIR, "documents")
    docs = corpus.docs_tokenized(documents)
    row = docs.first()
    assert row.n_tok == len(row.tokens)
    assert dict(docs.dtypes)["tokens"] == "array<int>"
    assert dict(docs.dtypes)["doc_id"] == "string"
    # token array reproducibility (exact-equality invariant)
    a = {r.doc_id: r.tokens for r in docs.collect()}
    b = {r.doc_id: r.tokens for r in corpus.docs_tokenized(documents).collect()}
    assert a == b


def test_doc_features_match_oracle(spark, oracle):
    df = pipeline.doc_features(spark, SF_DIR)
    assert_matches_oracle(df, oracle, pipeline.sql_doc_features())


def test_sentence_features_match_oracle(spark, oracle):
    df = pipeline.sentence_features(spark, SF_DIR).drop("sent_wfl", "wfl_fp")
    sql = (
        pipeline.sql_sentence_features()
        + " SELECT * EXCLUDE (wfl_fp) FROM sentf"
    )
    assert_matches_oracle(df, oracle, sql)


def test_doc_features_ext_match_oracle(spark, oracle):
    from tscan_spark import pipeline_ext

    df = pipeline_ext.doc_features_ext(spark, SF_DIR)
    assert_matches_oracle(df, oracle, pipeline_ext.sql_doc_features_ext())


def test_vocab_content_hash_ids_unique(spark):
    """Content-hash token ids must be collision-free over the corpus
    vocabulary (the hash replaced the global dense_rank; MTLD/fingerprint
    distinctness and token-array equality all ride on injectivity)."""
    from pyspark.sql import functions as F

    v = corpus.vocab(corpus.load(spark, SF_DIR, "documents"))
    row = v.agg(
        F.countDistinct("token_id").alias("ids"),
        F.countDistinct("word").alias("words"),
    ).first()
    assert row.ids == row.words


def test_docs_tokenized_scalar_witness_matches_array(spark):
    """The registered scalar witness (comma-joined ids) carries exactly
    the array invariant."""
    from tscan_spark.registry import QUERIES

    docs = corpus.docs_tokenized(corpus.load(spark, SF_DIR, "documents"))
    arr = {r.doc_id: list(r.tokens) for r in docs.collect()}
    scal = {
        r.doc_id: [int(x) for x in r.tokens_str.split(",")]
        for r in QUERIES["docs_tokenized"](spark, SF_DIR).collect()
    }
    assert arr == scal


def test_sentence_features_ext_match_oracle(spark, oracle):
    from tscan_spark.registry import ORACLES, QUERIES

    df = QUERIES["tscan_sentence_features_ext"](spark, SF_DIR)
    assert_matches_oracle(df, oracle, ORACLES["tscan_sentence_features_ext"])


def test_word_csv_match_oracle(spark, oracle):
    from tscan_spark.registry import ORACLES, QUERIES

    df = QUERIES["tscan_word_csv"](spark, SF_DIR)
    assert_matches_oracle(df, oracle, ORACLES["tscan_word_csv"])


@pytest.mark.parametrize("name", ["tscan_doc_profile", "tscan_doc_profile_staged"])
def test_doc_profile_match_oracle(spark, oracle, name):
    from tscan_spark.registry import ORACLES, QUERIES

    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, oracle, ORACLES[name])
    # The profile's columns are whatever its batteries emit minus the
    # drops in registry._PROFILE_PARTS, so pin the exact contract: a
    # battery that gains a column, or two parts left sharing a name,
    # changes the hash or the count.
    assert len(df.columns) == 560
    assert len(set(df.columns)) == len(df.columns)
    digest = hashlib.sha256(",".join(df.columns).encode()).hexdigest()
    assert digest == PROFILE_COLUMNS_SHA256


def test_staged_profile_grain_spreads_single_file_input(spark, tmp_path):
    """The staged profile spreads the token grain to the session's
    parallelism when the documents table has fewer files than that (the
    one-file test tables), and leaves an input with enough files alone."""
    import os

    from tscan_spark import registry

    par = spark.sparkContext.defaultParallelism
    staging = tmp_path / "staging"
    registry._doc_profile_impl(spark, SF_DIR, staging_dir=str(staging))
    parts = [f for f in os.listdir(staging / "token_grain") if f.startswith("part-")]
    assert len(parts) == par

    spread_dir = tmp_path / "sf"
    documents = corpus.load(spark, SF_DIR, "documents")
    documents.repartition(par).write.parquet(str(spread_dir / "documents.parquet"))
    grain = registry._profile_grain(spark, str(spread_dir), spread=True)
    assert "RoundRobinPartitioning" not in grain._jdf.queryExecution().toString()
