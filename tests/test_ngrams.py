"""The n-gram builder (corpus.ngrams) against a window-built reference,
and the cache release of the queries that persist its output.

The reference is the plan the DuckDB oracles use: token grain from
``tokens_long``, ``lead()`` over ``word_idx``, the gram string joined
with spaces and hashed with ``content_hash_expr``. The builder must give
the same (doc_id, pos, cid) rows, one for one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tscan_spark import corpus
from tscan_spark.cache import release_caches
from tscan_spark.registry import QUERIES

# double, leading and trailing spaces (empty tokens shift the raw index),
# documents shorter than every n, tokens past the 64-entry power table,
# and non-ASCII characters
EDGE_TEXTS = [
    "a  b c",
    "  lead  spaces here",
    "trailing space ",
    "x",
    "",
    "one two",
    " ".join(["w" * 70, "tail", "z" * 130, "end"]),
    "héllo wörld ñandú  ünïcode déjà vu",
    "  ".join(f"t{i}" for i in range(20)),
]


@pytest.fixture(scope="module")
def docs(spark):
    real = corpus.load(spark, SF_DIR, "documents").select("doc_id", "text", "source")
    edge = spark.createDataFrame(
        [(10_000_000 + i, t, "edge") for i, t in enumerate(EDGE_TEXTS)],
        "doc_id long, text string, source string",
    )
    return real.unionByName(edge)


def _reference(docs, n):
    w = Window.partitionBy("doc_id").orderBy("word_idx")
    parts = [F.col("word")] + [F.lead("word", i).over(w) for i in range(1, n)]
    return (
        corpus.tokens_long(docs)
        .select(
            "doc_id",
            F.col("word_idx").alias("pos"),
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "pos", "gram", corpus.content_hash_expr("gram").alias("cid"))
    )


@pytest.mark.parametrize("n", [1, 2, 3, 8, 15])
def test_ngrams_match_string_hash_row_by_row(spark, docs, n):
    got = corpus.ngrams(docs, n, "doc_id", pos=True)
    assert got.columns == ["doc_id", "pos", "cid", "sid"]
    assert dict(got.dtypes) == {
        "doc_id": "bigint", "pos": "int", "cid": "bigint", "sid": "bigint"
    }
    ref = _reference(docs, n)
    got_rows = sorted(got.select("doc_id", "pos", "cid").collect())
    ref_rows = sorted(ref.select("doc_id", "pos", "cid").collect())
    assert len(got_rows) > 0
    assert got_rows == ref_rows
    # sid is a function of the gram string, and distinct grams keep
    # distinct sids on this input
    j = got.join(ref, ["doc_id", "pos"])
    per_gram = j.groupBy("gram").agg(F.countDistinct("sid").alias("k"))
    assert per_gram.where(F.col("k") != 1).count() == 0
    assert j.select("sid").distinct().count() == j.select("gram").distinct().count()


def test_ngrams_edge_positions(spark, docs):
    edge = docs.where(F.col("source") == "edge")
    pos: dict[int, list[int]] = {}
    for r in corpus.ngrams(edge, 2, "doc_id", pos=True, ids=("cid",)).collect():
        pos.setdefault(r.doc_id - 10_000_000, []).append(r.pos)
    # "a  b c": raw split ["a", "", "b", "c"]
    assert sorted(pos[0]) == [0, 2]
    # "  lead  spaces here": raw split ["", "", "lead", "", "spaces", "here"]
    assert sorted(pos[1]) == [2, 4]
    # shorter than n: "x" and "" give no bigram
    assert 3 not in pos and 4 not in pos
    # ids without positions drop the column
    assert corpus.ngrams(edge, 2, "doc_id", ids=("sid",)).columns == ["doc_id", "sid"]


def test_ngrams_several_orders_equal_single_orders(spark, docs):
    both = corpus.ngrams(docs, (1, 2), "doc_id", pos=True)
    singles = corpus.ngrams(docs, 1, "doc_id", pos=True).unionByName(
        corpus.ngrams(docs, 2, "doc_id", pos=True)
    )
    assert both.columns == singles.columns
    assert sorted(both.collect()) == sorted(singles.collect())


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_minhash_lsh",
        "dedup_recall_eval",
    ],
)
def test_dedup_queries_release_every_cache(spark, name):
    spark.catalog.clearCache()
    df = QUERIES[name](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    release_caches(df)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
