"""The tokenization contract: documents -> token grain -> docs table.

The reference consumes a FoLiA document tree (doc -> paragraph ->
sentence -> word, /root/reference/include/tscan/stats.h:107) produced by
the Frog tokenizer.  The engine's canonical input (BASELINE.json
``input_hint``) is the flat pre-tokenized table::

    docs(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

This module derives that shape *deterministically* from the synthetic
``documents`` parquet (whitespace tokenization, dense-rank vocabulary,
fixed-size sentence/paragraph chunking, event timestamps derived from
``doc_id``).  Every rule here is intentionally expressible in plain ANSI
SQL so the DuckDB oracle can replicate it exactly.

Contract (shared with every ``oracle_sql`` entry):

- token     = ``split(text, ' ')`` elements, empty strings dropped
- word_idx  = 0-based position within the document
- sent_idx  = word_idx // 10          (fixed sentence length)
- par_idx   = sent_idx // 4           (fixed paragraph length)
- token_id  = polynomial content hash of the word (see ``token_id_expr``)
- event_ts  = DATE '2024-01-01' + (doc_id % 90) days

Token ids are **content-derived** (``hash(word)``), not dense ranks: a
global ``dense_rank`` needs an unpartitioned window — a single-task sort
over the vocabulary, a hard scale-killer once the keyed set approaches
corpus cardinality (shingles, web vocabularies). The content hash is a
pure per-row expression (scan-parallel, zero shuffle, zero broadcast)
and is explicit integer arithmetic, so the DuckDB oracle replays it
bit-for-bit. At production scale the modulus would be 64-bit (e.g.
xxhash64); here it stays a 31-bit polynomial because the oracle must be
able to replay every intermediate without BIGINT overflow (DuckDB
*raises* on overflow rather than wrapping).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SENT_LEN = 10  # tokens per synthetic sentence
PAR_LEN = 4  # sentences per synthetic paragraph

# Content-hash parameters (shared by token ids, shingle ids, simhash).
# All intermediates stay < 2^39: acc < 2^31, *131 + 127 — safe in signed
# 64-bit on both engines (DuckDB BIGINT raises on overflow).
HASH_BASE = 131
HASH_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)


def content_hash_expr(col: Column | str) -> Column:
    """Deterministic polynomial hash of a string column.

    ``h = fold(chars, (acc, c) -> (acc * 131 + ascii(c)) mod (2^31-1))``
    — a per-row codegen expression; replaces the reference's global
    vocabulary ranks without any global sort (the round-1 scale-killer).
    """
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
    )


def sql_content_hash(col: str) -> str:
    """The same hash as an ANSI/DuckDB expression (list_reduce fold)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({col}, ''), "
        f"ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD})"
    )

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst prunes columns/pushes filters."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def tokens_long(documents: DataFrame) -> DataFrame:
    """Explode documents to token grain with tree coordinates.

    Spark mapping of the FoLiA word nodes (SURVEY.md §1.3): one row per
    token with (doc_id, par_idx, sent_idx, word_idx, word).  This is a
    pure narrow map — no shuffle; the explode multiplies rows ~50x but
    stays within the same partitions, so it scales linearly with input
    splits at any corpus size.
    """
    tok = documents.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), " ")).alias("word_idx", "word"),
    ).where(F.col("word") != "")
    return tok.select(
        "doc_id",
        "source",
        F.col("word_idx").cast("int").alias("word_idx"),
        F.floor(F.col("word_idx") / SENT_LEN).cast("int").alias("sent_idx"),
        F.floor(F.col("word_idx") / (SENT_LEN * PAR_LEN)).cast("int").alias("par_idx"),
        "word",
    )


# 131^k mod p for k < _POW_N as one SQL literal (a single py4j call)
_POW_N = 64
_POW_SQL = "array({})".format(
    ", ".join(f"{pow(HASH_BASE, k, HASH_MOD)}L" for k in range(_POW_N))
)


def _pow_len(w: Column) -> Column:
    """131^len(w) mod p: the multiplier that appends ``w`` to a hash.
    Looked up for short tokens, folded for longer ones (``length`` and
    ``split(w, '')`` both count code points)."""
    n = F.length(w)
    fold = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(1).cast("long"),
        lambda acc, _: (acc * HASH_BASE) % HASH_MOD,
    )
    return F.when(n < _POW_N, F.element_at(F.expr(_POW_SQL), n + 1)).otherwise(fold)


def _explode(df: DataFrame, keep: list, arr: Column, name: str) -> DataFrame:
    # explode_outer + null filter, not explode: for an inner explode
    # Catalyst infers a size(array) > 0 filter and pushes it below the
    # projection, which then computes the array (every token hash) twice
    return df.select(*keep, F.explode_outer(arr).alias(name)).where(
        F.col(name).isNotNull()
    )


def ngrams(
    documents: DataFrame,
    n: int | tuple[int, ...],
    *keys: str,
    pos: bool = False,
    ids: tuple[str, ...] = ("cid", "sid"),
) -> DataFrame:
    """Positional (non-distinct) word n-grams: (keys..., [pos], cid, sid).

    One row per gram of ``tokens_long``'s consecutive non-empty tokens,
    built inside each document's own token array: every token is hashed
    once, the array is zipped with its shifted slices, and the gram ids
    are composed arithmetically. No Window, no Exchange, and no gram
    string is ever built.

    - ``cid``: the 31-bit content hash of the space-joined gram,
      bit-identical to ``content_hash_expr(concat_ws(" ", gram))`` (the
      value the DuckDB oracles compute), composed with the polynomial
      identity h(x || " " || y) = ((h(x)*131 + 32) mod p) * 131^len(y)
      + h(y) mod p. Intermediates stay below 2^63: both factors < 2^31.
    - ``sid``: ``xxhash64`` over the n per-token ``xxhash64`` values — a
      64-bit id for set algebra (a collision needs ~2^32 distinct grams).
    - ``pos`` (optional): the raw split index of the gram's first token,
      i.e. ``tokens_long``'s ``word_idx`` (empty tokens count).

    ``ids`` names the ids to emit; the per-token hash behind an id is
    computed only when that id is asked for. ``n`` may be several
    orders, e.g. ``(1, 2)``: one row per gram of each order, all from
    one hashing pass over the tokens.
    """
    ns = (n,) if isinstance(n, int) else tuple(sorted(n))
    lo, hi = ns[0], ns[-1]

    def token(w: Column, i: Column | None = None) -> Column:
        f = []
        if "cid" in ids:
            f.append(content_hash_expr(w).alias("h"))
            if hi > 1:
                f.append(_pow_len(w).alias("p"))
        if "sid" in ids:
            f.append(F.xxhash64(w).alias("x"))
        if i is not None:
            f.append(i.alias("pos"))
        return F.struct(*f)

    raw = F.split(F.col("text"), " ")
    if pos:
        toks = F.array_compact(
            F.transform(raw, lambda w, i: F.when(w != "", token(w, i)))
        )
    else:
        toks = F.transform(F.array_remove(raw, ""), lambda w: token(w))
    # arrays_zip pads the shorter slices with nulls: row i holds tokens
    # i .. i+hi-1, and its order-k gram exists where token k-1 is set
    m = F.size("toks") - (lo - 1)
    z = F.arrays_zip(*[F.slice("toks", i + 1, m) for i in range(hi)])
    g = _explode(
        documents.select(*keys, toks.alias("toks")),
        list(keys),
        F.when(F.size("toks") >= lo, z),
        "g",
    )
    t = [F.col("g").getField(str(i)) for i in range(hi)]

    def gram_ids(k: int) -> list[Column]:
        out = []
        if "cid" in ids:
            cid = t[0]["h"]
            for e in t[1:k]:
                cid = ((cid * HASH_BASE + 32) % HASH_MOD * e["p"] + e["h"]) % HASH_MOD
            out.append(cid.alias("cid"))
        if "sid" in ids:
            out.append(F.xxhash64(*[e["x"] for e in t[:k]]).alias("sid"))
        return out

    lead = [*keys, *([t[0]["pos"].alias("pos")] if pos else [])]
    if len(ns) == 1:
        return g.select(*lead, *gram_ids(hi))
    per_order = F.array(
        *[F.when(t[k - 1].isNotNull(), F.struct(*gram_ids(k))) for k in ns]
    )
    head = [*keys, *(["pos"] if pos else [])]
    return _explode(g, lead, per_order, "o").select(*head, "o.*")


def vocab(documents: DataFrame) -> DataFrame:
    """Corpus vocabulary with content-hash token ids (deterministic).

    Mirrors the reference's lexicon keying by surface word; tiny by
    construction (vocabulary << corpus), so always broadcastable. The id
    is a per-row hash, not a rank — no global window, no single-task
    sort (round-1 scale-killer removed); uniqueness over the synthetic
    vocabulary is asserted in tests.
    """
    return (
        tokens_long(documents)
        .select("word")
        .distinct()
        .select(content_hash_expr("word").cast("int").alias("token_id"), "word")
    )


def docs_tokenized(documents: DataFrame) -> DataFrame:
    """documents -> the BASELINE.json input_hint shape.

    ``docs(doc_id string, tokens array<int32>, n_tok int32, source)``.
    token ids are content hashes computed inline — the whole query is a
    narrow scan + one doc_id groupBy, with no vocabulary join at all;
    ``sort_array`` over (word_idx, token_id) structs keeps the array in
    document order regardless of shuffle order — the per-row invariant
    vs the reference is exact token-array equality.
    """
    tok = tokens_long(documents).withColumn(
        "token_id", content_hash_expr("word").cast("int")
    )
    seq = tok.groupBy("doc_id", "source").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("word_idx", "token_id"))),
            lambda s: s["token_id"],
        ).alias("tokens")
    )
    return seq.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "tokens",
        F.size("tokens").cast("int").alias("n_tok"),
        "source",
    )


def with_event_ts(df: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """Deterministic per-document event timestamp for point-in-time joins."""
    return df.withColumn(
        "event_ts",
        F.to_timestamp(
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col(doc_id) % 90).cast("int"))
        ),
    )


# The same contract as an ANSI-SQL CTE prelude, reused by oracle_sql().
# Integer division uses `//` (DuckDB CAST on doubles rounds, it does not
# truncate — `//` sidesteps that).
SQL_TOK_CTE = """
tok0 AS (
    SELECT doc_id,
           source,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS word_idx,
           unnest(string_split(text, ' ')) AS word
    FROM documents
),
tok AS (
    SELECT doc_id,
           source,
           word_idx,
           CAST(word_idx // {sent_len} AS INT) AS sent_idx,
           CAST(word_idx // {par_len_tok} AS INT) AS par_idx,
           word
    FROM tok0
    WHERE word <> ''
)""".format(sent_len=SENT_LEN, par_len_tok=SENT_LEN * PAR_LEN)
