"""Fine-grained semantic / POS-subtype battery (the `concreet`, verb-
ATP, intensifier-subtype, formal-subtype and word-sort CSV blocks).

The reference resolves every noun/adjective/verb against licensed
Dutch lexicons into the full SEM::Type inventory (sem.h:9-35) and
emits per-class proportions over the COVERED population plus per-1000
densities (concreetToCSV structstats.cxx:672-790, verbToCSV 831-866,
intensToCSV 938-948, formalToCSV 963-975, wordSortToCSV 883-931).

The engine carries the same fan-out over the documented synthetic
analogs.  Fine classes are a deterministic REFINEMENT of the coarse
analog classes (annotate.NOUN_SEM — CONCRETE/ABSTRACT/HUMAN), picked
by content-hash of the lemma WITHIN the coarse class, so every fine
cell nests exactly under its coarse cell (sum(concrete noun
subclasses) == the engine's established Conc_nw counts), precisely the
reference's isStrictNoun/isBroadNoun containment (sem.cxx).  Verb
concreteness / ATP coverage uses the prevalence-dim convention
(hash-gated coverage with a deliberate uncovered remainder, cf.
lexicons.prevalence_dim).  Intensifier and formal subtypes are
POS-typed exactly like the reference's Intensify::Type /
Formal::Type enums (intensify.h:10, formal.h:10): the subtype is the
hit token's CGN tag; the multiword subtypes (Int_combi / Form_vzg)
are carried by the M4/M6 phrase matchers (operators/sequential.py,
`multiword_matches`).

Everything is one hash-aggregate over the annotated token grain —
a single corpus pass, all-JVM codegen, no extra shuffle beyond the
doc_id groupBy.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tscan_spark import annotate, corpus
from tscan_spark.functions.scalars import (
    density,
    proportion,
    sql_density,
    sql_proportion,
)

# --- fine-class inventories (reference sem.h:9-35; names follow the
# reference CSV headers, structstats.cxx:583-648) -------------------------

NOUN_FINE = {
    # CONCRETE_NONHUMAN..BROAD_CONCRETE_MEASURE_NOUN
    "CONCRETE": [
        "plantdier", "gebr_vw", "subst_conc", "voed_verz", "concr_ov",
        "gebeuren_conc", "plaats", "tijd", "maat",
    ],
    # ABSTRACT_SUBSTANCE/DYNAMIC/INSTITUT/NONDYNAMIC
    "ABSTRACT": ["subst_abstr", "gebeuren_abstr", "organisatie", "ov_abstr"],
}
NOUN_FINE_ALL = NOUN_FINE["CONCRETE"] + NOUN_FINE["ABSTRACT"]

ADJ_FINE = {
    # NONHUMAN_SHAPE/COLOR/MATTER/SOUND/OTHER + TECH
    "CONCRETE": [
        "vorm_omvang", "kleur", "stof", "geluid", "waarn_nmens_ov", "technisch",
    ],
    # HUMAN_ADJ + EMO_ADJ
    "HUMAN": ["waarn_mens", "emosoc"],
    # TIME/PLACE/SPEC_POS/SPEC_NEG/POS/NEG/EVALUATIVE/EPI_POS/EPI_NEG/
    # ABSTRACT_ADJ + UNDEFINED_ADJ (covered-but-unlabeled)
    "ABSTRACT": [
        "tijd_bvnw", "plaats_bvnw", "spec_positief", "spec_negatief",
        "alg_positief", "alg_negatief", "alg_ev_zr", "ep_positief",
        "ep_negatief", "ov_abstr_bvnw", "undefined_bvnw",
    ],
}
ADJ_FINE_ALL = ADJ_FINE["CONCRETE"] + ADJ_FINE["HUMAN"] + ADJ_FINE["ABSTRACT"]
# Waarn_nmens = the five non-human perception classes (TECH is separate,
# structstats.cxx:704-717)
ADJ_NONHUMAN = ["vorm_omvang", "kleur", "stof", "geluid", "waarn_nmens_ov"]
ADJ_SPEC_EV = ["spec_positief", "spec_negatief"]
ADJ_ALG_EV = ["alg_positief", "alg_negatief", "alg_ev_zr"]
ADJ_EP_EV = ["ep_positief", "ep_negatief"]
# subjective = the evaluative classes + emotion (subjectiveAdjCnt,
# structstats.cxx:749-750 — analog aggregate)
ADJ_SUBJ = ADJ_SPEC_EV + ADJ_ALG_EV + ADJ_EP_EV + ["emosoc"]

# verb concreteness (CONCRETE/ABSTRACT/UNDEFINED_VERB) and the
# action/state/process taxonomy (ABSTRACT_ACTION..UNDEFINED_PROCESS);
# coverage is hash-gated with a deliberate uncovered remainder
WW_CONC = ["conc", "conc", "abstr", "abstr", "undef"]  # h % 5
WW_ATP = ["actie", "actie", "toest", "toest", "proces", "proces", "undef_atp"]  # h % 7
WW_COV_MOD = 4  # h % 4 != 0 -> covered (same shape as prevalence_dim)

# F4 participle position splits (Vd/Ovd x bv/nw/vrij,
# structstats.cxx:843-866): the non-finite analog form refines into
# inf / vd (past participle) / od (present participle) by lemma hash,
# and a participle carries a position attribute (bv = adjectival,
# nw = nominal, vrij = free) — the same hash-refinement convention as
# the semantic fine classes, so Vd+Ovd+Inf nests exactly under the
# established inf_cnt population
PART_FORMS = ["inf", "vd", "od"]
PART_POS = ["bv", "nw", "vrij"]
# engine column family per participle form ('od' emits as the
# reference's Ovd_* naming)
PART_COLS = [("vd", "vd"), ("od", "ovd")]

# intensifier / formal POS subtypes: CGN tag -> reference enum name
# (Intensify::Type intensify.h:10; Formal::Type formal.h:10). BVBW =
# an adjective in free (adverbial) position; COMBI/VZG are the
# multiword classes, carried by the M4/M6 matchers.
INT_TAGS = [("bvnw", "ADJ-prenom"), ("bvbw", "ADJ-vrij"), ("bw", "BW"),
            ("nw", "N"), ("tuss", "TSW"), ("ww", "WW")]
FORM_TAGS = [("bvnw", "ADJ"), ("bw", "BW"), ("vgw", "VG"), ("vnw", "VNW"),
             ("vz", "VZ"), ("ww", "WW"), ("znw", "N")]


def _salt_const(salt: str) -> tuple[int, int]:
    """(B^|salt| mod M, hash(salt)) so that
    hash(lemma || salt) == (hash(lemma) * c1 + c2) mod M — the salted
    polynomial hash derives ALGEBRAICALLY from one base fold."""
    c1 = pow(corpus.HASH_BASE, len(salt), corpus.HASH_MOD)
    c2 = 0
    for ch in salt:
        c2 = (c2 * corpus.HASH_BASE + ord(ch)) % corpus.HASH_MOD
    return c1, c2


def _salt_hash(salt: str, base: Column | None = None) -> Column:
    """hash(lemma || salt), identical to corpus.content_hash_expr over
    the concatenation. When ``base`` (= hash(lemma), computed ONCE per
    row) is given, the salted value is pure codegen arithmetic —
    without it each call would be an interpreted higher-order fold over
    the string, and this battery takes seven salted hashes per row
    (measured 7.9s -> arithmetic path 2x faster at sf0.1)."""
    if base is None:
        return corpus.content_hash_expr(F.concat(F.col("lemma"), F.lit(salt)))
    c1, c2 = _salt_const(salt)
    return (base * F.lit(c1) + F.lit(c2)) % F.lit(corpus.HASH_MOD)


def _sql_salt_hash(salt: str) -> str:
    return corpus.sql_content_hash(f"(lemma || '{salt}')")


def _pick(h: Column, options: list[str]) -> Column:
    return F.element_at(
        F.array(*[F.lit(o) for o in options]), (h % len(options) + 1).cast("int")
    )


def _sql_pick(h: str, options: list[str]) -> str:
    arms = " ".join(f"WHEN {i} THEN '{o}'" for i, o in enumerate(options))
    return f"CASE ({h}) % {len(options)} {arms} END"


def _grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = corpus.load(spark, sf_dir, "documents")
    return annotate.annotate_extended(
        annotate.annotate(corpus.tokens_long(documents))
    )


def doc_sem_fine(
    spark: SparkSession,
    sf_dir: str,
    wordf: DataFrame | None = None,
    keys: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Fine-taxonomy vector (~112 columns) at the grain given by
    ``keys`` — ("doc_id",) for the document CSV, ("doc_id", "par_idx")
    for the paragraph CSV (the reference emits the same blocks per
    paragraph, structstats.cxx:975-1002 chain)."""
    tok = wordf if wordf is not None else _grain(spark, sf_dir)
    # ONE interpreted hash fold per row; every salted hash below is
    # codegen arithmetic on it (see _salt_hash)
    tok = tok.select(
        "*", corpus.content_hash_expr(F.col("lemma")).alias("_lh")
    )
    t = tok.select(*keys, *_sem_proj_cols())
    doc = t.groupBy(*keys).agg(*_sem_aggs())
    return doc.select(*_sem_out_cols(keys))


@lru_cache(maxsize=None)
def _sem_proj_cols() -> tuple:
    """Token-grain subtype projection, built once per process (constant
    Column trees; the per-call rebuild was py4j round-trip cost)."""
    lh = F.col("_lh")
    tag, sem = F.col("tag"), F.col("noun_sem")

    noun_cov = (tag == "N") & sem.isNotNull()
    adj_cov = (tag == "ADJ") & sem.isNotNull()
    h_nw, h_adj = _salt_hash("#nw", lh), _salt_hash("#adj", lh)
    noun_fine = F.when(
        noun_cov & (sem == "CONCRETE"), _pick(h_nw, NOUN_FINE["CONCRETE"])
    ).when(noun_cov & (sem == "ABSTRACT"), _pick(h_nw, NOUN_FINE["ABSTRACT"]))
    adj_fine = (
        F.when(adj_cov & (sem == "CONCRETE"), _pick(h_adj, ADJ_FINE["CONCRETE"]))
        .when(adj_cov & (sem == "HUMAN"), _pick(h_adj, ADJ_FINE["HUMAN"]))
        .when(adj_cov & (sem == "ABSTRACT"), _pick(h_adj, ADJ_FINE["ABSTRACT"]))
    )
    is_ww = tag == "WW"
    ww_cov = is_ww & (_salt_hash("#wwcov", lh) % WW_COV_MOD != 0)
    ww_conc = F.when(ww_cov, _pick(_salt_hash("#wwc", lh), WW_CONC))
    ww_atp = F.when(ww_cov, _pick(_salt_hash("#atp", lh), WW_ATP))
    int_sub = F.when(
        F.col("is_intens") == 1,
        F.when((tag == "ADJ") & (F.col("adj_pos") == "prenom"), "bvnw")
        .when((tag == "ADJ") & (F.col("adj_pos") == "vrij"), "bvbw")
        .when(tag == "BW", "bw")
        .when(tag == "N", "nw")
        .when(tag == "TSW", "tuss")
        .when(tag == "WW", "ww"),
    )
    form_sub = F.when(
        F.col("is_formal") == 1,
        F.when(tag == "ADJ", "bvnw")
        .when(tag == "BW", "bw")
        .when(tag == "VG", "vgw")
        .when(tag == "VNW", "vnw")
        .when(tag == "VZ", "vz")
        .when(tag == "WW", "ww")
        .when(tag == "N", "znw"),
    )
    part_form = F.when(
        F.col("verb_form") == "inf", _pick(_salt_hash("#part", lh), PART_FORMS)
    )
    part_pos = F.when(
        part_form.isin("vd", "od"), _pick(_salt_hash("#ppos", lh), PART_POS)
    )
    return (
        "sent_idx",
        tag.alias("tag"),
        part_form.alias("part_form"),
        part_pos.alias("part_pos"),
        noun_fine.alias("noun_fine"),
        adj_fine.alias("adj_fine"),
        noun_cov.cast("int").alias("noun_cov"),
        adj_cov.cast("int").alias("adj_cov"),
        ww_cov.cast("int").alias("ww_cov"),
        ww_conc.alias("ww_conc"),
        ww_atp.alias("ww_atp"),
        int_sub.alias("int_sub"),
        form_sub.alias("form_sub"),
        F.col("adverb_type").isNotNull().cast("int").alias("bw_cov"),
        # null-safe: verb_form is NULL off the WW tag
        F.coalesce((F.col("verb_form") == "pv").cast("int"), F.lit(0)).alias(
            "is_pv_frog"
        ),
        F.col("lemma").isin(annotate.STOP_LEMMATA).cast("int").alias("is_lidw"),
    )


@lru_cache(maxsize=None)
def _sem_aggs() -> tuple:
    tag = F.col("tag")

    def cnt(cond, name: str) -> Column:
        # when(cond, 1).otherwise(0), NOT cond.cast("int"): equality
        # against a NULL subtype column yields NULL, and a doc whose
        # every row is NULL would make SUM() NULL where the oracle's
        # CASE WHEN ... ELSE 0 sums to 0
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    aggs = [
        F.count(F.lit(1)).cast("long").alias("word_cnt"),
        F.countDistinct("sent_idx").cast("long").alias("sent_cnt"),
        F.sum("noun_cov").cast("long").alias("covered_noun_cnt"),
        F.sum("adj_cov").cast("long").alias("covered_adj_cnt"),
        F.sum("ww_cov").cast("long").alias("covered_ww_cnt"),
        cnt(tag == "N", "noun_cnt"),
        cnt(tag == "ADJ", "adj_cnt"),
        cnt(tag == "WW", "ww_cnt"),
        cnt(tag == "BW", "bw_cnt"),
        F.sum(F.when(tag == "BW", F.col("bw_cov")).otherwise(0))
        .cast("long")
        .alias("covered_bw_cnt"),
        F.sum("is_pv_frog").cast("long").alias("pv_frog_cnt"),
        F.sum("is_lidw").cast("long").alias("lidw_cnt"),
        cnt(tag == "SPEC", "spec_tag_cnt"),
        cnt(tag == "TSW", "tuss_tag_cnt"),
        cnt(tag == "LET", "interp_tag_cnt"),
    ]
    for k in NOUN_FINE_ALL:
        aggs.append(cnt(F.col("noun_fine") == k, f"{k}_nw_cnt"))
    for k in ADJ_FINE_ALL:
        aggs.append(cnt(F.col("adj_fine") == k, f"{k}_adj_cnt"))
    for k in ["conc", "abstr", "undef"]:
        aggs.append(cnt(F.col("ww_conc") == k, f"{k}_ww_cnt"))
    for k in ["actie", "toest", "proces", "undef_atp"]:
        aggs.append(cnt(F.col("ww_atp") == k, f"{k}_ww_cnt"))
    for k, _ in INT_TAGS:
        aggs.append(cnt(F.col("int_sub") == k, f"int_{k}_cnt"))
    for k, _ in FORM_TAGS:
        aggs.append(cnt(F.col("form_sub") == k, f"form_{k}_cnt"))
    for form, col in PART_COLS:
        for pos in PART_POS:
            aggs.append(
                cnt(
                    (F.col("part_form") == form) & (F.col("part_pos") == pos),
                    f"{col}_{pos}_cnt",
                )
            )
    return tuple(aggs)


@lru_cache(maxsize=None)
def _sem_out_cols(keys: tuple[str, ...]) -> tuple:
    r6 = lambda c: F.round(c, 6)  # noqa: E731
    wc = F.col("word_cnt")
    out = [
        F.col(k).cast("long" if k == "doc_id" else "int").alias(k) for k in keys
    ]
    for k in NOUN_FINE_ALL:
        out.append(
            r6(proportion(F.col(f"{k}_nw_cnt"), "covered_noun_cnt")).alias(f"{k}_nw_p")
        )
        out.append(r6(density(F.col(f"{k}_nw_cnt"), wc)).alias(f"{k}_nw_d"))
    for k in ADJ_FINE_ALL:
        nm = k if k.endswith("_bvnw") else f"{k}_bvnw"
        out.append(
            r6(proportion(F.col(f"{k}_adj_cnt"), "covered_adj_cnt")).alias(f"{nm}_p")
        )
        if k != "undefined_bvnw":  # reference emits Undefined_bvnw_p only
            out.append(r6(density(F.col(f"{k}_adj_cnt"), wc)).alias(f"{nm}_d"))

    def agg_sum(members: list[str], suffix: str) -> Column:
        s = None
        for k in members:
            c = F.col(f"{k}_{suffix}")
            s = c if s is None else s + c
        return s

    for nm, members in [
        ("waarn_nmens_bvnw", ADJ_NONHUMAN),
        ("spec_ev_bvnw", ADJ_SPEC_EV),
        ("alg_ev_bvnw", ADJ_ALG_EV),
        ("ep_ev_bvnw", ADJ_EP_EV),
        ("subj_bvnw", ADJ_SUBJ),
    ]:
        out.append(
            r6(proportion(agg_sum(members, "adj_cnt"), "covered_adj_cnt")).alias(
                f"{nm}_p"
            )
        )
        out.append(r6(density(agg_sum(members, "adj_cnt"), wc)).alias(f"{nm}_d"))
    out += [
        r6(
            proportion(
                F.col("covered_adj_cnt") - F.col("undefined_bvnw_adj_cnt"),
                "covered_adj_cnt",
            )
        ).alias("gelabeld_bvnw_p"),
        r6(proportion("covered_adj_cnt", "adj_cnt")).alias("gedekte_bvnw_p"),
        # verbs (verbToCSV structstats.cxx:831-841: ATP proportions over
        # verbCnt, concreteness over coveredVerbs)
        r6(proportion("conc_ww_cnt", "covered_ww_cnt")).alias("conc_ww_p"),
        r6(density("conc_ww_cnt", wc)).alias("conc_ww_d"),
        r6(proportion("abstr_ww_cnt", "covered_ww_cnt")).alias("abstr_ww_p"),
        r6(density("abstr_ww_cnt", wc)).alias("abstr_ww_d"),
        r6(proportion("undef_ww_cnt", "covered_ww_cnt")).alias("undefined_ww_p"),
        r6(proportion("covered_ww_cnt", "ww_cnt")).alias("gedekte_ww_p"),
        r6(proportion("actie_ww_cnt", "ww_cnt")).alias("actieww_p"),
        r6(density("actie_ww_cnt", wc)).alias("actieww_d"),
        r6(proportion("toest_ww_cnt", "ww_cnt")).alias("toestww_p"),
        r6(density("toest_ww_cnt", wc)).alias("toestww_d"),
        r6(proportion("proces_ww_cnt", "ww_cnt")).alias("procesww_p"),
        r6(density("proces_ww_cnt", wc)).alias("procesww_d"),
        r6(proportion("undef_atp_ww_cnt", "covered_ww_cnt")).alias(
            "undefined_atp_ww_p"
        ),
        r6(proportion("covered_bw_cnt", "bw_cnt")).alias("gedekte_bw_p"),
    ]
    for k, _ in INT_TAGS:
        out.append(r6(density(F.col(f"int_{k}_cnt"), wc)).alias(f"int_{k}_d"))
    for k, _ in FORM_TAGS:
        out.append(r6(density(F.col(f"form_{k}_cnt"), wc)).alias(f"form_{k}_d"))
    for _, col in PART_COLS:
        for pos in PART_POS:
            # counts kept: the profile's ratio block renders the
            # per-clause *_dz variants from them
            out.append(F.col(f"{col}_{pos}_cnt"))
            out.append(r6(density(F.col(f"{col}_{pos}_cnt"), wc)).alias(
                f"{col}_{pos}_d"
            ))
    out += [
        # wordSort densities (structstats.cxx:883-931): Frog-tag cells —
        # the article analog is the stop-article list (STOP_LEMMATA);
        # TSW/LET cannot occur in the synthetic tagset, so those
        # densities compute 0 over this corpus (documented F2 analogs)
        r6(density("lidw_cnt", wc)).alias("lidw_d"),
        r6(density("spec_tag_cnt", wc)).alias("spec_d"),
        r6(density("tuss_tag_cnt", wc)).alias("tuss_d"),
        r6(density("interp_tag_cnt", wc)).alias("interp_d"),
        # Pv_Frog_d / Pv_Frog_per_zin (sentDifficulties
        # structstats.cxx:316): the Frog-side finite-verb counter —
        # tag-grain verb_form, independent of the parse-side pv counts
        r6(density("pv_frog_cnt", wc)).alias("pv_frog_d"),
        r6(proportion("pv_frog_cnt", "sent_cnt")).alias("pv_frog_per_zin"),
    ]
    return tuple(out)


# --- DuckDB oracle (rendered from the same inventories) -------------------


def sql_doc_sem_fine(keys: tuple[str, ...] = ("doc_id",)) -> str:
    h_nw, h_adj = _sql_salt_hash("#nw"), _sql_salt_hash("#adj")
    noun_fine = (
        "CASE WHEN tag = 'N' AND noun_sem = 'CONCRETE' "
        f"THEN {_sql_pick(h_nw, NOUN_FINE['CONCRETE'])} "
        "WHEN tag = 'N' AND noun_sem = 'ABSTRACT' "
        f"THEN {_sql_pick(h_nw, NOUN_FINE['ABSTRACT'])} END"
    )
    adj_fine = (
        "CASE WHEN tag = 'ADJ' AND noun_sem = 'CONCRETE' "
        f"THEN {_sql_pick(h_adj, ADJ_FINE['CONCRETE'])} "
        "WHEN tag = 'ADJ' AND noun_sem = 'HUMAN' "
        f"THEN {_sql_pick(h_adj, ADJ_FINE['HUMAN'])} "
        "WHEN tag = 'ADJ' AND noun_sem = 'ABSTRACT' "
        f"THEN {_sql_pick(h_adj, ADJ_FINE['ABSTRACT'])} END"
    )
    ww_cov = f"tag = 'WW' AND ({_sql_salt_hash('#wwcov')}) % {WW_COV_MOD} <> 0"
    ww_conc = f"CASE WHEN {ww_cov} THEN {_sql_pick(_sql_salt_hash('#wwc'), WW_CONC)} END"
    ww_atp = f"CASE WHEN {ww_cov} THEN {_sql_pick(_sql_salt_hash('#atp'), WW_ATP)} END"
    int_sub = (
        "CASE WHEN is_intens = 1 THEN "
        "CASE WHEN tag = 'ADJ' AND adj_pos = 'prenom' THEN 'bvnw' "
        "WHEN tag = 'ADJ' AND adj_pos = 'vrij' THEN 'bvbw' "
        "WHEN tag = 'BW' THEN 'bw' WHEN tag = 'N' THEN 'nw' "
        "WHEN tag = 'TSW' THEN 'tuss' WHEN tag = 'WW' THEN 'ww' END END"
    )
    form_sub = (
        "CASE WHEN is_formal = 1 THEN "
        "CASE WHEN tag = 'ADJ' THEN 'bvnw' WHEN tag = 'BW' THEN 'bw' "
        "WHEN tag = 'VG' THEN 'vgw' WHEN tag = 'VNW' THEN 'vnw' "
        "WHEN tag = 'VZ' THEN 'vz' WHEN tag = 'WW' THEN 'ww' "
        "WHEN tag = 'N' THEN 'znw' END END"
    )
    part_form = (
        "CASE WHEN verb_form = 'inf' "
        f"THEN {_sql_pick(_sql_salt_hash('#part'), PART_FORMS)} END"
    )
    part_pos = (
        f"CASE WHEN ({part_form}) IN ('vd', 'od') "
        f"THEN {_sql_pick(_sql_salt_hash('#ppos'), PART_POS)} END"
    )
    stop_lits = ", ".join(f"'{w}'" for w in annotate.STOP_LEMMATA)

    sums = [
        "COUNT(*) AS word_cnt",
        "COUNT(DISTINCT sent_idx) AS sent_cnt",
        "SUM(noun_cov) AS covered_noun_cnt",
        "SUM(adj_cov) AS covered_adj_cnt",
        "SUM(CASE WHEN ww_cov THEN 1 ELSE 0 END) AS covered_ww_cnt",
        "SUM(CASE WHEN tag = 'N' THEN 1 ELSE 0 END) AS noun_cnt",
        "SUM(CASE WHEN tag = 'ADJ' THEN 1 ELSE 0 END) AS adj_cnt",
        "SUM(CASE WHEN tag = 'WW' THEN 1 ELSE 0 END) AS ww_cnt",
        "SUM(CASE WHEN tag = 'BW' THEN 1 ELSE 0 END) AS bw_cnt",
        "SUM(CASE WHEN tag = 'BW' AND adverb_type IS NOT NULL THEN 1 ELSE 0 END)"
        " AS covered_bw_cnt",
        "SUM(CASE WHEN verb_form = 'pv' THEN 1 ELSE 0 END) AS pv_frog_cnt",
        f"SUM(CASE WHEN lemma IN ({stop_lits}) THEN 1 ELSE 0 END) AS lidw_cnt",
        "SUM(CASE WHEN tag = 'SPEC' THEN 1 ELSE 0 END) AS spec_tag_cnt",
        "SUM(CASE WHEN tag = 'TSW' THEN 1 ELSE 0 END) AS tuss_tag_cnt",
        "SUM(CASE WHEN tag = 'LET' THEN 1 ELSE 0 END) AS interp_tag_cnt",
    ]
    for k in NOUN_FINE_ALL:
        sums.append(f"SUM(CASE WHEN noun_fine = '{k}' THEN 1 ELSE 0 END) AS {k}_nw_cnt")
    for k in ADJ_FINE_ALL:
        sums.append(f"SUM(CASE WHEN adj_fine = '{k}' THEN 1 ELSE 0 END) AS {k}_adj_cnt")
    for k in ["conc", "abstr", "undef"]:
        sums.append(f"SUM(CASE WHEN ww_conc = '{k}' THEN 1 ELSE 0 END) AS {k}_ww_cnt")
    for k in ["actie", "toest", "proces", "undef_atp"]:
        sums.append(f"SUM(CASE WHEN ww_atp = '{k}' THEN 1 ELSE 0 END) AS {k}_ww_cnt")
    for k, _ in INT_TAGS:
        sums.append(f"SUM(CASE WHEN int_sub = '{k}' THEN 1 ELSE 0 END) AS int_{k}_cnt")
    for k, _ in FORM_TAGS:
        sums.append(
            f"SUM(CASE WHEN form_sub = '{k}' THEN 1 ELSE 0 END) AS form_{k}_cnt"
        )
    for form, col in PART_COLS:
        for pos in PART_POS:
            sums.append(
                f"SUM(CASE WHEN part_form = '{form}' AND part_pos = '{pos}' "
                f"THEN 1 ELSE 0 END) AS {col}_{pos}_cnt"
            )

    outs = [
        f"CAST({k} AS {'BIGINT' if k == 'doc_id' else 'INT'}) AS {k}"
        for k in keys
    ]

    def p(num: str, den: str, name: str) -> str:
        return f"ROUND({sql_proportion(num, den)}, 6) AS {name}"

    def d(num: str, name: str) -> str:
        return f"ROUND({sql_density(num, 'word_cnt')}, 6) AS {name}"

    for k in NOUN_FINE_ALL:
        outs.append(p(f"{k}_nw_cnt", "covered_noun_cnt", f"{k}_nw_p"))
        outs.append(d(f"{k}_nw_cnt", f"{k}_nw_d"))
    for k in ADJ_FINE_ALL:
        nm = k if k.endswith("_bvnw") else f"{k}_bvnw"
        outs.append(p(f"{k}_adj_cnt", "covered_adj_cnt", f"{nm}_p"))
        if k != "undefined_bvnw":
            outs.append(d(f"{k}_adj_cnt", f"{nm}_d"))
    for nm, members in [
        ("waarn_nmens_bvnw", ADJ_NONHUMAN),
        ("spec_ev_bvnw", ADJ_SPEC_EV),
        ("alg_ev_bvnw", ADJ_ALG_EV),
        ("ep_ev_bvnw", ADJ_EP_EV),
        ("subj_bvnw", ADJ_SUBJ),
    ]:
        s = " + ".join(f"{k}_adj_cnt" for k in members)
        outs.append(p(f"({s})", "covered_adj_cnt", f"{nm}_p"))
        outs.append(d(f"({s})", f"{nm}_d"))
    outs += [
        p("(covered_adj_cnt - undefined_bvnw_adj_cnt)", "covered_adj_cnt",
          "gelabeld_bvnw_p"),
        p("covered_adj_cnt", "adj_cnt", "gedekte_bvnw_p"),
        p("conc_ww_cnt", "covered_ww_cnt", "conc_ww_p"),
        d("conc_ww_cnt", "conc_ww_d"),
        p("abstr_ww_cnt", "covered_ww_cnt", "abstr_ww_p"),
        d("abstr_ww_cnt", "abstr_ww_d"),
        p("undef_ww_cnt", "covered_ww_cnt", "undefined_ww_p"),
        p("covered_ww_cnt", "ww_cnt", "gedekte_ww_p"),
        p("actie_ww_cnt", "ww_cnt", "actieww_p"),
        d("actie_ww_cnt", "actieww_d"),
        p("toest_ww_cnt", "ww_cnt", "toestww_p"),
        d("toest_ww_cnt", "toestww_d"),
        p("proces_ww_cnt", "ww_cnt", "procesww_p"),
        d("proces_ww_cnt", "procesww_d"),
        p("undef_atp_ww_cnt", "covered_ww_cnt", "undefined_atp_ww_p"),
        p("covered_bw_cnt", "bw_cnt", "gedekte_bw_p"),
    ]
    for k, _ in INT_TAGS:
        outs.append(d(f"int_{k}_cnt", f"int_{k}_d"))
    for k, _ in FORM_TAGS:
        outs.append(d(f"form_{k}_cnt", f"form_{k}_d"))
    for _, col in PART_COLS:
        for pos in PART_POS:
            outs.append(f"CAST({col}_{pos}_cnt AS BIGINT) AS {col}_{pos}_cnt")
            outs.append(d(f"{col}_{pos}_cnt", f"{col}_{pos}_d"))
    outs += [
        d("lidw_cnt", "lidw_d"),
        d("spec_tag_cnt", "spec_d"),
        d("tuss_tag_cnt", "tuss_d"),
        d("interp_tag_cnt", "interp_d"),
        d("pv_frog_cnt", "pv_frog_d"),
        p("pv_frog_cnt", "sent_cnt", "pv_frog_per_zin"),
    ]

    return (
        "WITH "
        + corpus.SQL_TOK_CTE.strip()
        + ",\n"
        + annotate.sql_annot_cte().strip()
        + ",\n"
        + annotate.sql_annot_ext_cte().strip()
        + f""",
fine AS (
    SELECT {", ".join(keys)}, sent_idx, tag, lemma, is_intens, is_formal,
           adj_pos, adverb_type, verb_form,
           {noun_fine} AS noun_fine,
           {adj_fine} AS adj_fine,
           CASE WHEN tag = 'N' AND noun_sem IS NOT NULL THEN 1 ELSE 0 END
               AS noun_cov,
           CASE WHEN tag = 'ADJ' AND noun_sem IS NOT NULL THEN 1 ELSE 0 END
               AS adj_cov,
           ({ww_cov}) AS ww_cov,
           {ww_conc} AS ww_conc,
           {ww_atp} AS ww_atp,
           {int_sub} AS int_sub,
           {form_sub} AS form_sub,
           {part_form} AS part_form,
           {part_pos} AS part_pos
    FROM annot_ext
),
docagg AS (
    SELECT {", ".join(keys)},
           {",{}           ".format(chr(10)).join(sums)}
    FROM fine
    GROUP BY {", ".join(keys)}
)
SELECT {",{}       ".format(chr(10)).join(outs)}
FROM docagg"""
    )
