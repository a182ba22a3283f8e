"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)       -> flagship KG pipeline (sf0.001) returning triples.
queries()/oracle_sql() -> one entry per implemented operator family:
  - kg_*        : the Fonduer-semantics pipeline (parse -> mentions ->
                  candidates -> label -> triples) over the arithmetic-
                  deterministic synthetic corpus; the oracle reconstructs
                  expected outputs from the corpus formulas in pure SQL.
  - dedup_*     : exact / MinHash / n-gram-Jaccard / SimHash / embedding-LSH
                  dedup (+ stream_dedup: cross-batch stateful streaming).
  - text_*      : token counting, quality scoring, language-ID, fingerprints.
  - sim_*       : cosine top-k (exact) + LSH-bucketed ANN (approximate but
                  deterministic — the oracle reproduces the buckets).
  - mm_*        : multimodal binary-column plumbing.
  - rel_*       : classic relational operators (SURVEY.md §2.10 checklist):
                  scan/filter/agg/join/window/set-op/sort-limit.

EVERY query carries an oracle (zero rows-only entries): everything md5-based
is replicated exactly in SQL — MinHash signatures/band keys/LSH pairs,
SimHash bit voting (hex-nibble integer arithmetic), embedding LSH buckets
(md5-Rademacher ±1 hyperplanes, exact sign-flip dot products), entity
canonicalization incl. connected components via a recursive CTE — and the
featurization queries are per-family key censuses whose counts the oracle
rebuilds from the corpus formulas.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fonduer_spark.corpus import PRED, gold_triples_sql
from fonduer_spark.functions import analytics as an
from fonduer_spark.functions import dedup as dd
from fonduer_spark.functions import multimodal as mm
from fonduer_spark.functions import similarity as sim
from fonduer_spark.functions import sketches as sk
from fonduer_spark.functions import textstats as ts
from fonduer_spark.functions import temporal as tmpf
from fonduer_spark.linking import pagerank
from fonduer_spark.triples import normalize_surface
from fonduer_spark.pipeline import kg_stages


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive scan spread (opt guide §2.5 'input skew' / §6): the
    driver's parquet inputs are single small one-row-group files, so every
    scan is ONE task and the hash/explode-heavy operators downstream run
    serially (BENCH_r06 'machine' capture: dedup_minhash_pairs obtained 1.3
    of 32 cores). Repartition up to the session's default parallelism ONLY
    when the source scan yields fewer partitions — at production scale a
    100 TB table already scans with >= parallelism splits and this is a
    no-op (the guard, not a constant, is what makes it scale-adaptive).
    Hash-partitioning on the id key is deterministic under task retry
    (SPARK-38388); partitioning never changes row content, and every
    aggregation on these paths is order-safe (md5 mins, integer counts,
    per-row arithmetic)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # .rdd on a pure scan plan (no exchanges) is planning-only — no job
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


def _docs(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """``spread=False`` for pure narrow per-row projections (token counts,
    ratio stats): their per-row work is cheaper than the spread's one
    shuffle round-trip, and at scale the scan is already parallel — the
    spread only pays when heavy per-row work (shingle explodes, md5
    families, parses) sits between the scan and the first exchange."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _spread(df, "doc_id") if spread else df


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), "vec_id")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry: flagship query
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end KG construction on sf0.001 -> (subj, pred, obj)."""
    return (
        kg_stages(spark, "/root/testdata/sf0.001")["triples"]
        .select("subj", "pred", "obj")
        .orderBy("subj", "obj")
    )


# ---------------------------------------------------------------------------
# KG pipeline queries
# ---------------------------------------------------------------------------
def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        kg_stages(spark, sf_dir)["triples"]
        .select("subj", "pred", "obj")
        .orderBy("subj", "obj")
    )


def q_kg_part_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = kg_stages(spark, sf_dir)["mentions"]
    return (
        m.where(F.col("mention_type") == "part")
        .groupBy(F.col("span_text").alias("part"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("part")
    )


def q_kg_candidates_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = kg_stages(spark, sf_dir)["candidates"]
    return (
        c.groupBy("url")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .orderBy("url")
    )


def q_kg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Featurization census, oracle-checked (was rows-only): the FULL
    feature bag (textual + tabular + structural libraries over sentences
    with the aligned/head vocabularies joined in) exploded to keys and
    counted per (url, slot_family). The DuckDB oracle reconstructs every
    count from the corpus formulas — e.g. a part slot emits exactly
    8 + n_rows + 5*footer tabular keys (ROW/COL_NUM + CELL + 3 ROW_WORDS +
    column vocabulary + COL_HEAD), a temp slot 13 + n_rows (+1 for the
    footer 'ok' cell in the max column) — so a window off-by-one, a
    dropped vocabulary join, or a broken dedup shifts a count and fails
    the hash."""
    from fonduer_spark.featurize import featurize

    st = kg_stages(spark, sf_dir)
    feats = featurize(st["candidates"], st["sentences"])
    return _family_census(feats)


def _family_census(feats: DataFrame) -> DataFrame:
    """Explode feature keys -> (url, slot_family, n) census. Slot = the
    e{i}_ prefix ('' for relation-level keys); family = the feature-library
    family the key belongs to, classified by name prefix."""
    key = F.col("key")
    stripped = F.regexp_replace(key, r"^e\d+_", "")
    slot = F.regexp_extract(key, r"^(e\d+_)", 1)
    family = (
        F.when(stripped.rlike(
            "^(CONTAINS_|LEFT_|RIGHT_|STARTS_WITH|LENGTH_)"), "textual")
        .when(stripped.rlike("^(W_|WORD_SEQ|LEMMA_SEQ|POS_SEQ|DEP_)"),
              "lingual")
        .when(stripped.rlike("^TDL_"), "tdl")
        .when(stripped.rlike("^(ROW_|COL_|CELL_)"), "tabular")
        .when(stripped.rlike(
            "^(TAG_|PARENT_TAG|ANCESTOR_|PREV_SIB|NEXT_SIB|NODE_POS"
            "|FIRST_NODE|LAST_NODE|HTML_ATTR)"), "structural")
        .when(stripped.rlike(
            "^(ALIGNED_|PAGE_|SAME_PAGE|HORZ_ALIGNED|VERT_ALIGNED)"),
            "visual")
        .otherwise("rel")
    )
    return (
        feats.select("url", F.explode("keys").alias("key"))
        .select("url", F.concat(slot, family).alias("family"))
        .groupBy("url", "family")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("url", "family")
    )


def _nary_row_throttler(df: DataFrame):
    """The (part, tmin, tmax) throttler of the n-ary queries: all three
    slots in one table, both temps on the part's row, tmin left of tmax."""
    same_tab = (
        F.col("m0_table_sid").isNotNull()
        & (F.col("m0_table_sid") == F.col("m1_table_sid"))
        & (F.col("m0_table_sid") == F.col("m2_table_sid"))
    )

    def row_olap(a, b):
        return ~(
            (F.col(f"{a}_row_start") > F.col(f"{b}_row_end"))
            | (F.col(f"{b}_row_start") > F.col(f"{a}_row_end"))
        )

    return (
        same_tab & row_olap("m0", "m1") & row_olap("m0", "m2")
        & (F.col("m1_col_start") < F.col("m2_col_start"))
    )


def q_kg_nary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-ary featurization census, oracle-checked: the ternary
    (part, tmin, tmax) candidates of kg_nary featurized end-to-end — slot
    prefixes e0_/e1_/e2_, relation-level features over all three slots —
    and counted per (url, slot_family); every count reconstructed from the
    corpus formulas (mirrors reference multinary feature extraction,
    tests/features/test_features.py:239)."""
    from fonduer_spark.candidates_op import extract_candidates_nary
    from fonduer_spark.featurize import featurize

    st = kg_stages(spark, sf_dir)
    cands = extract_candidates_nary(
        st["mentions"], "part_tmin_tmax", ["part", "temp", "temp"],
        throttler=_nary_row_throttler)
    return _family_census(featurize(cands, st["sentences"]))


def q_kg_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH + connected-components entity canonicalization —
    oracle-checked end to end: the DuckDB oracle reconstructs every mention
    surface from the corpus formulas, reproduces the md5 signatures/band
    keys/Jaccard verify, and solves the components with a recursive CTE."""
    from fonduer_spark.linking import canonical_entities

    st = kg_stages(spark, sf_dir)
    return canonical_entities(st["mentions"])


def q_kg_triples_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second relation from the same candidates: label-model NEGATIVES with
    a negative object are the stg_temp_min triples — demonstrating
    multi-relation output from one candidate set."""
    from fonduer_spark.triples import materialize_triples

    scored = kg_stages(spark, sf_dir)["scored"]
    neg = scored.where(
        (F.col("prob") < 0.5) & (F.col("b_span_text").try_cast("int") < 0))
    return (
        materialize_triples(neg, pred="stg_temp_min", prob_threshold=0.0)
        .select("subj", "pred", "obj")
        .orderBy("subj", "obj")
    )


def q_kg_feature_rowcol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular head-ngram features, oracle-checked: candidates whose object
    slot carries e1_COL_HEAD_WORDS_[max] (the column-head vocabulary joined
    in by featurize) are exactly the (part, temp_max) pairs — one per body
    row per table, reconstructible from the corpus formulas."""
    from fonduer_spark.featurize import featurize

    st = kg_stages(spark, sf_dir)
    feats = featurize(st["candidates"], st["sentences"])
    return (
        feats.where(F.array_contains("keys", "e1_COL_HEAD_WORDS_[max]"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("url")
    )


def q_kg_triples_headerlf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same gold triples derived via a *head-ngram vocabulary LF* instead of
    the numeric-sign LF: with_head_ngrams joins each object mention's
    column-head cell vocabulary; the LF votes TRUE iff it contains 'max'
    (the relational form of the reference's get_head_ngrams LF pattern,
    hardware_lfs.py). One LF -> prob 1.0/0.0; threshold 0.75 also drops
    abstains (missing vocab)."""
    from fonduer_spark.data_model_utils import with_head_ngrams
    from fonduer_spark.labeling import with_marginals
    from fonduer_spark.triples import materialize_triples

    st = kg_stages(spark, sf_dir)
    cands = with_head_ngrams(st["candidates"], st["sentences"],
                             slot="b_", axis="col")
    lfs = {
        "lf_col_header_max": F.when(
            F.arrays_overlap(F.col("b_col_head_ngrams"),
                             F.array(F.lit("max"))), 1
        ).otherwise(0),
    }
    scored = with_marginals(cands, lfs)
    return (
        materialize_triples(scored, pred=PRED, prob_threshold=0.75)
        .select("subj", "pred", "obj")
        .orderBy("subj", "obj")
    )


def q_kg_ner_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NER-matcher path, oracle-checked: parse with the deterministic
    RegexTaggerParser (rule-based POS/NER; the spaCy-free stand-in), then
    extract NumberMatcher mentions (RegexMatchEach over ner_tags =
    CARDINAL). Per doc: 3 standalone numbers (title, h1, figcaption) +
    2 per table caption + 2 temps per body row — pure corpus arithmetic."""
    from fonduer_spark.corpus import load_docs
    from fonduer_spark.matchers import NumberMatcher
    from fonduer_spark.mention_spaces import MentionNgrams
    from fonduer_spark.mentions_op import MentionSpec, extract_mentions_fused
    from fonduer_spark.parse import ParseConfig

    docs = load_docs(spark, sf_dir)
    specs = [MentionSpec("number", MentionNgrams(n_min=1, n_max=1),
                         NumberMatcher())]
    m = extract_mentions_fused(
        docs, specs, parse_cfg=ParseConfig(lingual="regex_tagger"))
    return (
        m.groupBy("url")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("url")
    )


def q_kg_triples_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH relations (stg_temp_max + stg_temp_min) materialized from ONE
    scored candidate set in ONE pass (materialize_triples_multi): the parse/
    extract/label lineage is scanned once with pred as an extra groupBy key —
    the multi-relation plan a real KB build needs (vs re-deriving the
    pipeline per relation, as kg_triples + kg_triples_min each do)."""
    from fonduer_spark.triples import materialize_triples_multi

    scored = kg_stages(spark, sf_dir)["scored"]
    obj_int = F.col("b_span_text").try_cast("int")
    rules = [
        ("stg_temp_max", F.col("prob") >= 0.5),
        ("stg_temp_min", (F.col("prob") < 0.5) & (obj_int < 0)),
    ]
    return (
        materialize_triples_multi(scored, rules)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    )


def _visual_candidates(spark: SparkSession, sf_dir: str, cfg):
    """The hOCR lineage of the visual queries: each document rendered as
    hOCR (render_hocr, preprocessed by sources.rewrite_hocr), mentions
    parsed under ``cfg`` (a ParseConfig with visual="hocr", so words carry
    bboxes), and (part, temp) candidates throttled by same_page AND
    is_horz_aligned. Returns (docs, render, candidates), so a caller can
    parse the same pages again for their sentences."""
    from fonduer_spark.candidates_op import extract_candidates
    from fonduer_spark.corpus import load_docs, render_hocr
    from fonduer_spark.data_model_utils import is_horz_aligned, same_page
    from fonduer_spark.mentions_op import extract_mentions_fused
    from fonduer_spark.pipeline import default_mention_specs
    from fonduer_spark.sources import rewrite_hocr

    def render(i, _text):
        return rewrite_hocr(render_hocr(int(i)))

    docs = load_docs(spark, sf_dir)
    mentions = extract_mentions_fused(
        docs, default_mention_specs(), render=render, parse_cfg=cfg)
    cands = extract_candidates(
        mentions, "part_temp_visual", "part", "temp",
        throttler=lambda df: same_page() & is_horz_aligned(),
        throttler_kind="column",
    )
    return docs, render, cands


def q_kg_visual_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual-modality pipeline, oracle-checked: the corpus rendered as hOCR
    (one ocr_page per table, one ocr_line per body row), preprocessed by
    sources.rewrite_hocr, parsed with ParseConfig(visual='hocr') so words
    carry bboxes, and candidates throttled by same_page AND is_horz_aligned
    — the same (part, temp) pairs recovered through BBOX GEOMETRY instead of
    table structure: 2 per body row per doc."""
    from fonduer_spark.parse import ParseConfig

    _, _, cands = _visual_candidates(spark, sf_dir,
                                     ParseConfig(visual="hocr"))
    return (
        cands.groupBy("url")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("url")
    )


def q_kg_features_lingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lingual + dependency-tree featurization census, oracle-checked: the
    pipeline parsed with the deterministic RegexTaggerParser (lemmas/POS/
    dep arcs populated), candidates featurized, and the lingual + TDL
    family keys counted per (url, slot_family). Each single-token cell
    span yields exactly 3 lingual keys (LEMMA_SEQ + POS_SEQ +
    DEP_LABEL_[root]; no DEP_HEAD — the token is its own root) and 3 tree
    keys (TDL_LEMMA/TDL_DEP/TDL_DEP_LEMMA indicators; a one-token star
    tree has no parents/children/siblings), so the census checks the
    NLP gating end-to-end (SimpleParser would yield zero)."""
    from fonduer_spark.candidates_op import extract_candidates, same_row
    from fonduer_spark.corpus import load_docs
    from fonduer_spark.featurize import featurize
    from fonduer_spark.mentions_op import extract_mentions_fused
    from fonduer_spark.parse import (
        ParseConfig, contexts_of, corpus_docs, parse_webpages)
    from fonduer_spark.pipeline import default_mention_specs

    cfg = ParseConfig(lingual="regex_tagger")
    docs = load_docs(spark, sf_dir)
    mentions = extract_mentions_fused(
        docs, default_mention_specs(), parse_cfg=cfg)
    cands = extract_candidates(
        mentions, "part_temp", "part", "temp",
        throttler=same_row, throttler_kind="column")
    sentences = contexts_of(
        parse_webpages(docs, cfg, source=corpus_docs()), "sentence")
    feats = featurize(cands, sentences)
    census = _family_census(feats)
    return census.where(
        F.col("family").rlike("(lingual|tdl)$")).orderBy("url", "family")


def q_kg_visual_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual featurization census, oracle-checked: the hOCR pipeline
    (header line + body lines at arithmetic bboxes) parsed with the
    regex tagger, candidates featurized with the visual library, and the
    visual-family keys counted per (url, slot_family). Each slot carries
    exactly 12 ALIGNED_* lemmas (the header's {part,min,max} bare +
    LEFT_/RIGHT_/CENTER_-prefixed, via the cumulative alignment-group
    protocol of visual_aligned_lemmas) + 1 PAGE_ key; each candidate adds
    SAME_PAGE + HORZ_ALIGNED (never VERT_*: the columns are 10+pt apart)."""
    from fonduer_spark.featurize import featurize
    from fonduer_spark.parse import (
        ParseConfig, contexts_of, corpus_docs, parse_webpages)

    cfg = ParseConfig(visual="hocr", lingual="regex_tagger")
    docs, render, cands = _visual_candidates(spark, sf_dir, cfg)
    sentences = contexts_of(
        parse_webpages(docs, cfg, source=corpus_docs(render)), "sentence")
    feats = featurize(cands, sentences,
                      libs=("textual", "tabular", "structural", "visual"))
    census = _family_census(feats)
    return census.where(F.col("family").endswith("visual")).orderBy(
        "url", "family")


def q_kg_visual_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LF-helper page percentiles, oracle-checked: the hOCR pipeline's
    candidates mapped through get_page_vert_percentile (subject slot) and
    get_page_horz_percentile (object slot) — reference
    utils/data_model_utils/visual.py:295-381 as column expressions — then
    censused per (url, rounded pct pair). Deterministic: each percentile is
    ONE IEEE division of exact ints (word k of body row r sits at
    x0=100k+10, y0=20r+10 by the render_hocr arithmetic; page dims are the
    reference's Letter 612x792 defaults), and no 6-dp rounding boundary is
    reachable for denominators 612/792 (no solution to K*1e6 === d/2 mod d),
    so Spark and DuckDB round identically."""
    from fonduer_spark.data_model_utils import (
        get_page_horz_percentile, get_page_vert_percentile)
    from fonduer_spark.parse import ParseConfig

    _, _, cands = _visual_candidates(spark, sf_dir,
                                     ParseConfig(visual="hocr"))
    return (
        cands.select(
            "url",
            F.round(get_page_vert_percentile("a_"), 6).alias("vert_pct"),
            F.round(get_page_horz_percentile("b_"), 6).alias("horz_pct"),
        )
        .groupBy("url", "vert_pct", "horz_pct")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("url", "vert_pct", "horz_pct")
    )


def q_kg_rowcol_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LF-helper tabular extrema, oracle-checked: the structural pipeline's
    candidates mapped through get_{min,max}_{row,col}_num (reference
    utils/data_model_utils/tabular.py:103-168, tested at
    tests/utils/data_model_utils/test_tabular.py:127-139) as column
    expressions, integer-summed per url (exact arithmetic: part sits at
    (r+1, 0), tmin at col 1, tmax at col 2; the header is row 0)."""
    scored = kg_stages(spark, sf_dir)["candidates"]
    from fonduer_spark.data_model_utils import (
        get_max_col_num, get_max_row_num, get_min_col_num, get_min_row_num)

    return (
        scored.select(
            "url",
            get_min_row_num("a_").alias("rmin"),
            get_max_row_num("a_").alias("rmax"),
            get_min_col_num("b_").alias("cmin"),
            get_max_col_num("b_").alias("cmax"),
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("rmin").cast("long").alias("sum_row_min"),
            F.sum("rmax").cast("long").alias("sum_row_max"),
            F.sum("cmin").cast("long").alias("sum_col_min"),
            F.sum("cmax").cast("long").alias("sum_col_max"),
        )
        .orderBy("url")
    )


def _label_model_lfs():
    """Three always-voting LFs over the object temp value v with KNOWN
    accuracy structure: lf_sign is exact (v>0 iff gold tmax); lf_mod3 /
    lf_mod5 copy it but flip whenever abs(v) is divisible by 3 / 5 —
    error indicators that are independent of each other (CRT) and of the
    label, i.e. exactly the conditional-independence regime the triplet
    estimator assumes. Rows with abs(v) % 15 == 0 are double-flips where
    MAJORITY VOTE is wrong (1 vs 2) and the accuracy-weighted model is
    right."""
    v = F.col("b_span_text").try_cast("int")
    sign = v > 0
    return {
        "lf_sign": F.when(sign, 1).otherwise(0),
        "lf_mod3": F.when(sign != (F.pmod(F.abs(v), 3) == 0), 1).otherwise(0),
        "lf_mod5": F.when(sign != (F.pmod(F.abs(v), 5) == 0), 1).otherwise(0),
    }


def q_kg_label_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy-estimating (snorkel-parity) generative label model, oracle-
    checked end to end: triplet_label_model fits per-LF accuracies from the
    pairwise vote moments in ONE aggregation pass (method of moments:
    e_i = sqrt(E_ij*E_ik/E_jk)); the DuckDB oracle reconstructs every vote
    from the corpus formulas and replays the identical moment/sqrt/clamp
    arithmetic (exact integer sums -> one double division -> IEEE sqrt, so
    the 6-dp rounding matches bit-for-bit)."""
    from fonduer_spark.labeling import triplet_label_model

    cands = kg_stages(spark, sf_dir)["candidates"]
    model = triplet_label_model(cands, _label_model_lfs())
    out = spark.createDataFrame(
        [(n, model[n]["accuracy"]) for n in sorted(model)],
        "lf string, acc double",
    )
    return out.select("lf", F.round("acc", 6).alias("acc")).orderBy("lf")


def q_kg_triples_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gold triples recovered through the WEIGHTED label model on a
    conflicting-LF set where majority vote fails: on double-flip rows
    (abs(v) % 15 == 0) the vote is 1-2 against the truth, so
    majority-vote marginals drop those gold triples; triplet_marginals
    weights lf_sign by its near-1 estimated accuracy and recovers the
    exact gold set (oracle: the same gold_triples_sql as kg_triples)."""
    from fonduer_spark.labeling import triplet_marginals
    from fonduer_spark.triples import materialize_triples

    cands = kg_stages(spark, sf_dir)["candidates"]
    scored = triplet_marginals(cands, _label_model_lfs())
    return (
        materialize_triples(scored, pred=PRED, prob_threshold=0.5)
        .select("subj", "pred", "obj")
        .orderBy("subj", "obj")
    )


MULTICLASS_VALUES = ("cold", "warm", "hot")


def _multiclass_lfs():
    """Three value-space LFs over a 3-class thermal band (reference
    candidate_subclass values/cardinality, candidate.py:107-136 + the
    labeler's value mapping, labeler.py:436-465): band(v) = cold (v<0),
    warm (v<115), hot (else). lf_band is exact; lf_m3 rotates the class
    by +1 (mod 3) when abs(v) % 3 == 0; lf_m5 ABSTAINS (NULL) when
    abs(v) % 7 == 0 and rotates when abs(v) % 5 == 0 — exercising k-ary
    value mapping, abstain, and independent error structure at once."""
    v = F.col("b_span_text").try_cast("int")
    b = F.when(v < 0, 0).when(v < 115, 1).otherwise(2)
    vals = F.array(*[F.lit(x) for x in MULTICLASS_VALUES])
    exact = F.element_at(vals, b + 1)
    rot = F.element_at(vals, F.pmod(b + 1, 3) + 1)
    a = F.abs(v)
    return {
        "lf_band": exact,
        "lf_m3": F.when(F.pmod(a, 3) == 0, rot).otherwise(exact),
        "lf_m5": F.when(F.pmod(a, 7) == 0, F.lit(None).cast("string"))
                  .when(F.pmod(a, 5) == 0, rot).otherwise(exact),
    }


def q_kg_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-valued (cardinality-3) relation end to end: LF outputs in the
    candidate class's value space map to stored {0..k} votes, per-class
    majority vote yields a probs vector and an argmax pred_value (integer
    vote counts decide — exact under any partitioning). The oracle replays
    band/rotate/abstain votes and the count argmax from the corpus
    formulas; probs are integer counts over ONE double division."""
    from fonduer_spark.labeling import apply_lfs, majority_vote_marginals_k

    cands = kg_stages(spark, sf_dir)["candidates"]
    labels = apply_lfs(cands, _multiclass_lfs(), values=MULTICLASS_VALUES)
    mv = majority_vote_marginals_k(labels, 3, values=MULTICLASS_VALUES)
    slots = cands.select(
        "candidate_sid", F.col("a_span_text").alias("subj"),
        F.col("b_span_text").try_cast("int").alias("obj"))
    return (
        mv.join(slots, "candidate_sid")
        .select(
            "url", "subj", "obj", "pred_value", "n_votes",
            F.round(F.col("probs")[0], 6).alias("p_cold"),
            F.round(F.col("probs")[1], 6).alias("p_warm"),
            F.round(F.col("probs")[2], 6).alias("p_hot"),
        )
        .orderBy("url", "subj", "obj")
    )


def q_kg_multiclass_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest triplet label model at cardinality 3, oracle-checked:
    all 3 classes' pairwise vote moments come from a SINGLE aggregation
    pass; the DuckDB oracle rebuilds every ±1 OvR vote from the corpus
    formulas and replays the identical moment/sqrt/clamp arithmetic per
    class (exact integer sums -> one double division -> IEEE sqrt)."""
    from fonduer_spark.labeling import ovr_triplet_label_model

    cands = kg_stages(spark, sf_dir)["candidates"]
    model = ovr_triplet_label_model(
        cands, _multiclass_lfs(), 3, values=MULTICLASS_VALUES)
    rows = [(c, lf, model[c][lf]["accuracy"])
            for c in sorted(model) for lf in sorted(model[c])]
    out = spark.createDataFrame(rows, "class_idx int, lf string, acc double")
    return out.select(
        "class_idx", "lf", F.round("acc", 6).alias("acc")
    ).orderBy("class_idx", "lf")


def q_kg_multiclass_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-ary weighted label model END TO END: fit the one-vs-rest
    triplet model, score every candidate distributed, output the argmax
    pred_value. The oracle replays moments -> accuracies -> log-odds
    weights -> per-class z -> argmax in SQL. Only the DISCRETE argmax is
    hash-compared (z margins are O(weight) >> float noise, and the shared
    logit-prior constant cancels across classes), so the ln/exp in the
    weights never touches a hashed float — the r4 determinism rule."""
    from fonduer_spark.labeling import (
        ovr_triplet_label_model, score_with_label_model_k)

    cands = kg_stages(spark, sf_dir)["candidates"]
    lfs = _multiclass_lfs()
    model = ovr_triplet_label_model(cands, lfs, 3, values=MULTICLASS_VALUES)
    scored = score_with_label_model_k(cands, lfs, model,
                                      values=MULTICLASS_VALUES)
    return (
        scored.select(
            "url", F.col("a_span_text").alias("subj"),
            F.col("b_span_text").try_cast("int").alias("obj"),
            "pred_value",
        ).orderBy("url", "subj", "obj")
    )


def q_kg_multiclass_discrim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-class DISCRIMINATIVE layer end to end (VERDICT r5 task #1):
    majority-vote k-ary labels -> one-hot soft-label vectors ->
    train_logreg_k (softmax head sized by cardinality, reference
    learning/task.py:59-219) -> distributed k-class scoring
    (score_with_model_k) -> argmax pred_value.

    Oracle determinism: epochs=1 / zero init / l2=0 / no intercept over
    INTEGER features (band one-hot + |v|%3 indicator, scaled x3 so x/3 is
    exact) and one-hot labels makes every gradient sum integer-exact —
    w[j][k] = lr*((sum x_j y_k - sum x_j / 3)/n) is replayed verbatim by
    the DuckDB oracle; only the discrete argmax is hash-compared (the r4
    float-determinism rule). A learns-3-class multi-epoch test covers the
    iterative path (tests/test_learning_k.py)."""
    from fonduer_spark.labeling import apply_lfs, majority_vote_marginals_k
    from fonduer_spark.learning import score_with_model_k, train_logreg_k

    cands = kg_stages(spark, sf_dir)["candidates"].select(
        "candidate_sid", "candidate_type", "url",
        "a_span_text", "b_span_text")
    labels = apply_lfs(cands, _multiclass_lfs(), values=MULTICLASS_VALUES)
    mv = majority_vote_marginals_k(labels, 3, values=MULTICLASS_VALUES)
    onehot = mv.select(
        "candidate_sid",
        F.array(*[(F.col("pred_idx") == i).cast("double")
                  for i in range(3)]).alias("probs"))
    v = F.col("b_span_text").try_cast("int")
    feats = cands.select(
        "candidate_sid", "url", F.col("a_span_text").alias("subj"),
        v.alias("obj"),
        F.array(F.lit("f_cold"), F.lit("f_warm"), F.lit("f_hot"),
                F.lit("f_m3")).alias("keys"),
        F.array(
            (v < 0).cast("double") * 3,
            ((v >= 0) & (v < 115)).cast("double") * 3,
            (v >= 115).cast("double") * 3,
            (F.pmod(F.abs(v), 3) == 0).cast("double") * 3,
        ).alias("values"))
    W, B = train_logreg_k(feats, onehot, 3, lr=0.5, epochs=1, l2=0.0,
                          fit_intercept=False)
    scored = score_with_model_k(feats, W, B, values=list(MULTICLASS_VALUES))
    return (
        scored.select("url", "subj", "obj", "pred_value")
        .orderBy("url", "subj", "obj")
    )


def q_kg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental keyed upsert promoted to the contract (reference
    clear=False update mode, tests/e2e/test_incremental.py:82-112):
    commit a mentions snapshot that is WRONG for 10% of the documents
    (every doc_id % 10 == 0 carries STALE_-prefixed part spans), then
    upsert_stage recomputes exactly those documents and MERGEs by url —
    matched urls are replaced wholesale, the other 90% carry over as a
    parquet scan. The post-merge table must equal the full batch rerun:
    the oracle is the same per-part census as kg_part_mentions, and it
    fails in BOTH failure directions (stale rows surviving add STALE_
    parts; missed inserts drop parts)."""
    import tempfile

    from fonduer_spark.checkpoints import CheckpointedPipeline
    from fonduer_spark.corpus import load_docs
    from fonduer_spark.mentions_op import extract_mentions_fused
    from fonduer_spark.pipeline import default_mention_specs

    tmp = tempfile.mkdtemp(prefix="kginc_")
    specs = default_mention_specs()
    docs = load_docs(spark, sf_dir)
    base = docs.where(F.col("doc_id") % 10 != 0)
    late = docs.where(F.col("doc_id") % 10 == 0)
    cp = CheckpointedPipeline(spark, tmp, signature="inc-demo")
    cp.stage(
        "mentions",
        lambda: extract_mentions_fused(base, specs).unionByName(
            extract_mentions_fused(late, specs)
            .withColumn("span_text",
                        F.concat(F.lit("STALE_"), F.col("span_text")))
        ),
    )
    merged = cp.upsert_stage(
        "mentions", lambda: extract_mentions_fused(late, specs),
        keys=["url"],
    )
    return (
        merged.where(F.col("mention_type") == "part")
        .groupBy(F.col("span_text").alias("part"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("part")
    )


def q_kg_stream_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING engine path, oracle-checked: web pages written as a
    parquet drop, readStream -> the same fused parse+mention stage
    (mapInPandas is streaming-compatible) -> availableNow append sink with
    checkpointing -> the sunk mentions match the batch oracle exactly
    (incremental ingest produces identical rows to batch)."""
    import os
    import tempfile

    from fonduer_spark.corpus import make_web_pages
    from fonduer_spark.pipeline import default_mention_specs
    from fonduer_spark.streaming import (
        run_stream_to_parquet, stream_mentions, stream_web_pages)

    tmp = tempfile.mkdtemp(prefix="kgstream_")
    pages_dir = os.path.join(tmp, "pages")
    out_dir = os.path.join(tmp, "out")
    cp_dir = os.path.join(tmp, "cp")
    make_web_pages(spark, sf_dir).write.parquet(pages_dir)
    stream = stream_web_pages(spark, pages_dir)
    run_stream_to_parquet(
        stream_mentions(stream, default_mention_specs()), out_dir, cp_dir)
    m = spark.read.parquet(out_dir)
    return (
        m.where(F.col("mention_type") == "part")
        .groupBy(F.col("span_text").alias("part"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("part")
    )


def q_kg_stream_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pipeline STREAMED end to end (VERDICT r5 task #6): the
    corpus written as a multi-file drop, streamed 2 files per trigger, each
    micro-batch running the same fused candidates -> majority-vote labels
    -> partial triple aggregation, incrementally MERGEd into the snapshot
    graph table by (subj, pred, obj) via foreachBatch. The final committed
    table must equal the batch kg_triples row-for-row — same gold oracle
    (micro-batch slicing must be invisible: max/sum combine across
    batches, candidate extraction is doc-local)."""
    import os
    import tempfile

    from fonduer_spark.streaming import stream_triples_incremental

    tmp = tempfile.mkdtemp(prefix="kgstreamtriples_")
    in_dir = os.path.join(tmp, "docs")
    _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).repartition(8).write.parquet(in_dir)
    out = stream_triples_incremental(
        spark, in_dir, os.path.join(tmp, "work"), pred=PRED)
    return out.select("subj", "pred", "obj").orderBy("subj", "obj")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch STREAMING exact-dedup, oracle-checked: documents (plus a
    deterministic duplicate of doc_id < 100 re-keyed +1000000) written as a
    multi-file drop, streamed 2 files per trigger through the
    applyInPandasWithState dedup operator — duplicate content arriving in
    LATER micro-batches still folds into the same state row — and the
    final per-hash (count, first doc) recovered from the update-mode sink
    matches the batch GROUP BY exactly."""
    import os
    import tempfile

    from fonduer_spark.streaming import (
        run_stream_updates_to_parquet, stream_dedup_state)

    tmp = tempfile.mkdtemp(prefix="streamdedup_")
    in_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    cp_dir = os.path.join(tmp, "cp")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    docs.unionByName(dups).repartition(8).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(in_dir)
    )
    run_stream_updates_to_parquet(stream_dedup_state(stream), out_dir, cp_dir)
    sunk = spark.read.parquet(out_dir)
    return (
        sunk.groupBy("text_hash")
        .agg(F.max("n_seen").cast("long").alias("n_docs"),
             F.min("first_doc").cast("long").alias("first_doc"))
        .orderBy("text_hash")
    )


_STREAM_DEDUP_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100
)
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM all_docs GROUP BY 1 ORDER BY 1
"""


def q_stream_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation running as a REAL STREAM,
    oracle-checked: the events table replayed as parquet micro-batches
    (maxFilesPerTrigger bounds each trigger), a 1-day tumbling window with
    a watermark spanning the dataset (so state never expires and the final
    update per window equals the batch aggregate), update-mode sink via
    foreachBatch, and the recovered final state per (window, type) — each
    update strictly grows n_events, so max_by(n_events) is the last write —
    must match the batch GROUP BY oracle exactly. The late-data DROP
    behavior (short watermark, controlled trigger order) is exercised in
    test_streaming_api."""
    import os
    import tempfile

    from fonduer_spark.streaming import (
        run_stream_updates_to_parquet, windowed_event_counts)

    tmp = tempfile.mkdtemp(prefix="kgevw_")
    # watermarks require TIMESTAMP (the parquet column is TIMESTAMP_NTZ);
    # the session timezone is pinned UTC so the cast preserves wall time
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value")
    # several files -> several micro-batches
    ev.repartition(8).write.parquet(os.path.join(tmp, "in"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(os.path.join(tmp, "in"))
    )
    agg = windowed_event_counts(stream, window="1 day",
                                watermark="36500 days")
    run_stream_updates_to_parquet(
        agg, os.path.join(tmp, "out"), os.path.join(tmp, "cp"))
    out = spark.read.parquet(os.path.join(tmp, "out"))
    final = (
        out.groupBy("window_start", "event_type")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("s"))
        .select(
            "event_type",
            F.col("window_start").cast("timestamp_ntz").alias("day"),
            F.col("s.n_events").cast("long").alias("n_events"),
            F.col("s.sum_value").alias("sum_value"),
        )
    )
    return final.orderBy("event_type", "day")


def q_kg_nary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-ary (ternary) candidate extraction, oracle-checked: one
    (part, tmin, tmax) candidate per body row via extract_candidates_nary
    with a same-row + column-order throttler — the distinct fact tuples
    match the corpus formulas."""
    from fonduer_spark.candidates_op import extract_candidates_nary

    mentions = kg_stages(spark, sf_dir)["mentions"]
    c = extract_candidates_nary(
        mentions, "part_tmin_tmax", ["part", "temp", "temp"],
        throttler=_nary_row_throttler)
    return (
        c.select(
            F.col("m0_span_text").alias("part"),
            F.col("m1_span_text").try_cast("int").alias("tmin"),
            F.col("m2_span_text").try_cast("int").alias("tmax"),
        )
        .distinct()
        .orderBy("part", "tmin", "tmax")
    )


def q_kg_nullable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nullable candidate slots, oracle-checked (reference candidate
    nullables, candidate.py:100-102 + candidates.py:268): part_temp with a
    nullable temp slot — every part also pairs with None. With the
    same-row throttler OR'd with the null arm, each body row yields its 2
    (part, temp) pairs plus 1 (part, NULL) candidate -> 3 per row."""
    from fonduer_spark.candidates_op import extract_candidates, same_row

    mentions = kg_stages(spark, sf_dir)["mentions"]
    cands = extract_candidates(
        mentions, "part_temp_opt", "part", "temp",
        throttler=lambda df: F.col("b_stable_id").isNull() | same_row(),
        throttler_kind="column",
        nullables=(False, True),
    )
    return (
        cands.groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.count(F.when(F.col("b_stable_id").isNull(), 1))
            .cast("long").alias("n_null_slot"),
        )
        .orderBy("url")
    )


def q_kg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-level P/R/F1 of the pipeline's triples vs the corpus gold —
    the engine's port of the reference's entity_level_f1 evaluation
    (tests/shared/hardware_utils.py:71-131). The oracle asserts the exact
    quality floor (P = R = 1.0 on the synthetic gold per FIXTURES.md §4).
    The gold side is a native Spark plan over the documents table
    (corpus.gold_triples_spark) — at scale it would be a parquet read of a
    labeled split; nothing round-trips through the driver."""
    from fonduer_spark.corpus import gold_triples_spark
    from fonduer_spark.labeling import entity_level_prf1

    got = kg_stages(spark, sf_dir)["triples"].select("subj", "pred", "obj")
    gold = gold_triples_spark(spark, sf_dir)
    m = entity_level_prf1(got, gold, ["subj", "pred", "obj"])
    return spark.createDataFrame(
        [(round(m["precision"], 6), round(m["recall"], 6), round(m["f1"], 6))],
        "precision double, recall double, f1 double",
    )


def _url_sql(doc_id: str) -> str:
    """DuckDB twin of corpus.url_of over the SQL expression ``doc_id``.
    printf, not lpad: lpad truncates to its width, so id 1000000 would
    become d100000 — doc 100000's url."""
    return f"'https://fixture.test/d' || printf('%06d', {doc_id})"


_KG_CELLS_CTE = """
WITH docs AS (SELECT doc_id AS i FROM documents),
tabs AS (
  SELECT i, unnest(range(0, 1 + (i % 2) + CASE WHEN i % 50 = 0 THEN 6 ELSE 0 END)) AS t
  FROM docs
),
cells AS (SELECT i, t, unnest(range(0, 3 + ((i + t) % 3))) AS r FROM tabs)
"""

_KG_PART_MENTIONS_SQL = _KG_CELLS_CTE + """
SELECT part, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT 'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
       || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS part
  FROM cells
) GROUP BY part ORDER BY part
"""

_KG_CANDS_SQL = _KG_CELLS_CTE + """
SELECT """ + _url_sql("i") + """ AS url,
       CAST(2 * count(*) AS BIGINT) AS n_candidates
FROM cells GROUP BY i ORDER BY url
"""

# kg_visual_percentile oracle: two candidates per body row r — (part, tmin)
# and (part, tmax); the subject's bbox top is 20r+10, the object's left edge
# is 110 (tmin, word 1) or 210 (tmax, word 2) by the render_hocr arithmetic;
# percentiles divide by the reference's Letter-page defaults 792/612.
_KG_VISUAL_PCT_SQL = _KG_CELLS_CTE + """
, slots AS (SELECT i, r, unnest([110, 210]) AS bleft FROM cells)
SELECT """ + _url_sql("i") + """ AS url,
       round((20*r + 10) / 792.0, 6) AS vert_pct,
       round(bleft / 612.0, 6) AS horz_pct,
       CAST(count(*) AS BIGINT) AS n
FROM slots GROUP BY 1, 2, 3 ORDER BY url, vert_pct, horz_pct
"""

# kg_rowcol_minmax oracle: per body row r, two candidates whose subject cell
# sits at (row r+1, col 0) and whose object cell at cols 1 (tmin) and 2
# (tmax); no mention-bearing cell spans rows/cols, so min == max.
_KG_ROWCOL_MINMAX_SQL = _KG_CELLS_CTE + """
SELECT """ + _url_sql("i") + """ AS url,
       CAST(2 * count(*) AS BIGINT) AS n,
       CAST(SUM(2 * (r + 1)) AS BIGINT) AS sum_row_min,
       CAST(SUM(2 * (r + 1)) AS BIGINT) AS sum_row_max,
       CAST(SUM(3) AS BIGINT) AS sum_col_min,
       CAST(SUM(3) AS BIGINT) AS sum_col_max
FROM cells GROUP BY i ORDER BY url
"""

# kg_label_model oracle: replay the triplet estimator exactly — votes in ±1
# space from the corpus formulas (v = tmax or tmin per body row; lf_mod3/5
# flip lf_sign when abs(v) % 3/5 == 0), pairwise moments as exact integer
# sums over ONE double division, then the same (E_ij*E_ik)/E_jk -> abs ->
# sqrt -> clamp -> (1+e)/2 arithmetic as triplet_label_model (names sorted:
# lf_mod3 < lf_mod5 < lf_sign fixes the operand order).
_KG_LABEL_MODEL_SQL = _KG_CELLS_CTE + """
, cands AS (
  SELECT unnest([85 + ((i*3 + r*7) % 60), -(40 + ((i + r) % 30))]) AS v
  FROM cells
),
votes AS (
  SELECT CASE WHEN v > 0 THEN 1 ELSE -1 END AS s,
         CASE WHEN (v > 0) != (abs(v) % 3 = 0) THEN 1 ELSE -1 END AS m3,
         CASE WHEN (v > 0) != (abs(v) % 5 = 0) THEN 1 ELSE -1 END AS m5
  FROM cands
),
mo AS (
  SELECT
    SUM(m3*m5) / CAST(count(*) AS DOUBLE) AS e35,
    SUM(m3*s)  / CAST(count(*) AS DOUBLE) AS e3s,
    SUM(m5*s)  / CAST(count(*) AS DOUBLE) AS e5s
  FROM votes
),
est AS (
  SELECT 'lf_mod3' AS lf, sqrt(abs((e35 * e3s) / e5s)) AS e FROM mo
  UNION ALL
  SELECT 'lf_mod5', sqrt(abs((e35 * e5s) / e3s)) FROM mo
  UNION ALL
  SELECT 'lf_sign', sqrt(abs((e3s * e5s) / e35)) FROM mo
)
SELECT lf, round((1.0 + least(greatest(e, 0.0), 0.9999)) / 2.0, 6) AS acc
FROM est ORDER BY lf
"""

# kg_multiclass / kg_multiclass_model shared vote CTE: each body row yields
# a tmax and a tmin candidate; the 3-class band is cold (v<0) / warm
# (v<115) / hot; lf_m3 rotates the class +1 mod 3 when abs(v)%3==0, lf_m5
# abstains (NULL) when abs(v)%7==0 and rotates when abs(v)%5==0 — the SQL
# replica of _multiclass_lfs over the corpus formulas.
_KG_MULTICLASS_CTE = _KG_CELLS_CTE + """
, slots AS (
  SELECT i,
         'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
              || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS subj,
         unnest([85 + ((i*3 + r*7) % 60), -(40 + ((i + r) % 30))]) AS v
  FROM cells
),
lf AS (
  SELECT i, subj, v, b,
    CASE WHEN abs(v) % 3 = 0 THEN (b + 1) % 3 ELSE b END AS m3,
    CASE WHEN abs(v) % 7 = 0 THEN NULL
         WHEN abs(v) % 5 = 0 THEN (b + 1) % 3 ELSE b END AS m5
  FROM (
    SELECT i, subj, v,
      CASE WHEN v < 0 THEN 0 WHEN v < 115 THEN 1 ELSE 2 END AS b
    FROM slots
  )
)
"""

# Per-candidate majority vote: INTEGER per-class counts, argmax with the
# lowest-index tiebreak (c0 >= c1 >= c2 chain == Spark's
# array_position(counts, array_max(counts))), probs = count over ONE
# double division of n_votes, 6-dp rounded.
_KG_MULTICLASS_SQL = _KG_MULTICLASS_CTE + """
, counted AS (
  SELECT i, subj, v,
    (CASE WHEN b = 0 THEN 1 ELSE 0 END) + (CASE WHEN m3 = 0 THEN 1 ELSE 0 END)
      + (CASE WHEN m5 = 0 THEN 1 ELSE 0 END) AS c0,
    (CASE WHEN b = 1 THEN 1 ELSE 0 END) + (CASE WHEN m3 = 1 THEN 1 ELSE 0 END)
      + (CASE WHEN m5 = 1 THEN 1 ELSE 0 END) AS c1,
    (CASE WHEN b = 2 THEN 1 ELSE 0 END) + (CASE WHEN m3 = 2 THEN 1 ELSE 0 END)
      + (CASE WHEN m5 = 2 THEN 1 ELSE 0 END) AS c2,
    2 + (CASE WHEN m5 IS NULL THEN 0 ELSE 1 END) AS nv
  FROM lf
)
SELECT """ + _url_sql("i") + """ AS url,
       subj, v AS obj,
       CASE WHEN c0 >= c1 AND c0 >= c2 THEN 'cold'
            WHEN c1 >= c2 THEN 'warm' ELSE 'hot' END AS pred_value,
       nv AS n_votes,
       round(c0 / CAST(nv AS DOUBLE), 6) AS p_cold,
       round(c1 / CAST(nv AS DOUBLE), 6) AS p_warm,
       round(c2 / CAST(nv AS DOUBLE), 6) AS p_hot
FROM counted ORDER BY url, subj, obj
"""

# One-vs-rest triplet replay: per class c the ±1 votes are
# (vote == c -> +1, other class -> -1, abstain -> 0); moments are exact
# integer product-sums over the co-vote count, then the same
# (E_ij*E_ik)/E_jk -> abs -> sqrt -> clamp -> (1+e)/2 arithmetic as
# ovr_triplet_label_model (names sorted lf_band < lf_m3 < lf_m5 fixes
# operand order class-by-class).
_KG_MULTICLASS_MODEL_SQL = _KG_MULTICLASS_CTE + """
, votes AS (
  SELECT cls,
    CASE WHEN b = cls THEN 1 ELSE -1 END AS vb,
    CASE WHEN m3 = cls THEN 1 ELSE -1 END AS v3,
    CASE WHEN m5 IS NULL THEN 0 WHEN m5 = cls THEN 1 ELSE -1 END AS v5
  FROM lf CROSS JOIN (SELECT unnest([0, 1, 2]) AS cls)
),
mo AS (
  SELECT cls,
    SUM(vb*v3) / CAST(SUM(abs(vb*v3)) AS DOUBLE) AS e_b3,
    SUM(vb*v5) / CAST(SUM(abs(vb*v5)) AS DOUBLE) AS e_b5,
    SUM(v3*v5) / CAST(SUM(abs(v3*v5)) AS DOUBLE) AS e_35
  FROM votes GROUP BY cls
),
est AS (
  SELECT cls, 'lf_band' AS lf, sqrt(abs((e_b3 * e_b5) / e_35)) AS e FROM mo
  UNION ALL SELECT cls, 'lf_m3', sqrt(abs((e_b3 * e_35) / e_b5)) FROM mo
  UNION ALL SELECT cls, 'lf_m5', sqrt(abs((e_b5 * e_35) / e_b3)) FROM mo
)
SELECT cls AS class_idx, lf,
       round((1.0 + least(greatest(e, 0.0), 0.9999)) / 2.0, 6) AS acc
FROM est ORDER BY class_idx, lf
"""

# kg_multiclass_weighted: the full OvR scoring replay — UNROUNDED
# accuracies -> log-odds weights -> per-candidate per-class z (vote * w,
# same sorted-LF order as score_with_label_model_k; the shared
# logit-prior constant is dropped — it cancels in the argmax) -> the same
# c0 >= c1 >= c2 lowest-index argmax chain. Only the discrete pred_value
# is compared, so 1-ulp ln differences between engines cannot flip it
# (margins are O(weights)).
_KG_MULTICLASS_WEIGHTED_SQL = _KG_MULTICLASS_CTE + """
, votes AS (
  SELECT cls, i, subj, v,
    CASE WHEN b = cls THEN 1 ELSE -1 END AS vb,
    CASE WHEN m3 = cls THEN 1 ELSE -1 END AS v3,
    CASE WHEN m5 IS NULL THEN 0 WHEN m5 = cls THEN 1 ELSE -1 END AS v5
  FROM lf CROSS JOIN (SELECT unnest([0, 1, 2]) AS cls)
),
mo AS (
  SELECT cls,
    SUM(vb*v3) / CAST(SUM(abs(vb*v3)) AS DOUBLE) AS e_b3,
    SUM(vb*v5) / CAST(SUM(abs(vb*v5)) AS DOUBLE) AS e_b5,
    SUM(v3*v5) / CAST(SUM(abs(v3*v5)) AS DOUBLE) AS e_35
  FROM votes GROUP BY cls
),
wt AS (
  SELECT cls, ln(ab/(1.0-ab)) AS w_b, ln(a3/(1.0-a3)) AS w_3,
         ln(a5/(1.0-a5)) AS w_5
  FROM (
    SELECT cls,
      (1.0 + least(greatest(sqrt(abs((e_b3*e_b5)/e_35)), 0.0), 0.9999))/2.0 AS ab,
      (1.0 + least(greatest(sqrt(abs((e_b3*e_35)/e_b5)), 0.0), 0.9999))/2.0 AS a3,
      (1.0 + least(greatest(sqrt(abs((e_b5*e_35)/e_b3)), 0.0), 0.9999))/2.0 AS a5
    FROM mo)
),
z AS (
  SELECT vo.i, vo.subj, vo.v, vo.cls,
         vo.vb*w.w_b + vo.v3*w.w_3 + vo.v5*w.w_5 AS z
  FROM votes vo JOIN wt w USING (cls)
),
pick AS (
  SELECT i, subj, v,
    CASE WHEN z0 >= z1 AND z0 >= z2 THEN 'cold'
         WHEN z1 >= z2 THEN 'warm' ELSE 'hot' END AS pred_value
  FROM (
    SELECT i, subj, v,
      MAX(CASE WHEN cls = 0 THEN z END) AS z0,
      MAX(CASE WHEN cls = 1 THEN z END) AS z1,
      MAX(CASE WHEN cls = 2 THEN z END) AS z2
    FROM z GROUP BY i, subj, v)
)
SELECT """ + _url_sql("i") + """ AS url,
       subj, v AS obj, pred_value
FROM pick ORDER BY url, subj, obj
"""

# kg_multiclass_discrim: full k-class DISCRIMINATIVE replay — majority-vote
# hard labels (the counted/argmax CTE of kg_multiclass) -> one-hot y ->
# one softmax gradient step from zero init (train_logreg_k epochs=1, lr=0.5,
# l2=0, no intercept) over four integer features (band one-hot x3 scale +
# the |v|%3 indicator). At zero init softmax is exactly 1/3, so every
# gradient sum is integer-exact: w[j][k] = lr * ((sum(x_j*y_k) -
# sum(x_j)/3) / n) is pure aggregation arithmetic both engines compute
# bit-identically; logits are per-candidate dot products in the same
# feature order, and only the DISCRETE argmax is hash-compared (margins
# are O(lr * x / K) >> float noise — the r4 determinism rule).
_KG_MULTICLASS_DISCRIM_SQL = _KG_MULTICLASS_CTE + """
, counted AS (
  SELECT i, subj, v, b,
    CASE WHEN abs(v) % 3 = 0 THEN 1 ELSE 0 END AS xm,
    (CASE WHEN b = 0 THEN 1 ELSE 0 END) + (CASE WHEN m3 = 0 THEN 1 ELSE 0 END)
      + (CASE WHEN m5 = 0 THEN 1 ELSE 0 END) AS c0,
    (CASE WHEN b = 1 THEN 1 ELSE 0 END) + (CASE WHEN m3 = 1 THEN 1 ELSE 0 END)
      + (CASE WHEN m5 = 1 THEN 1 ELSE 0 END) AS c1,
    (CASE WHEN b = 2 THEN 1 ELSE 0 END) + (CASE WHEN m3 = 2 THEN 1 ELSE 0 END)
      + (CASE WHEN m5 = 2 THEN 1 ELSE 0 END) AS c2
  FROM lf
),
x AS (
  SELECT i, subj, v,
    CASE WHEN c0 >= c1 AND c0 >= c2 THEN 0
         WHEN c1 >= c2 THEN 1 ELSE 2 END AS y,
    CASE WHEN b = 0 THEN 3 ELSE 0 END AS x1,
    CASE WHEN b = 1 THEN 3 ELSE 0 END AS x2,
    CASE WHEN b = 2 THEN 3 ELSE 0 END AS x3,
    xm * 3 AS x4
  FROM counted
),
agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
    SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3, SUM(x4) AS s4,
    SUM(CASE WHEN y = 0 THEN x1 ELSE 0 END) AS s1_0,
    SUM(CASE WHEN y = 1 THEN x1 ELSE 0 END) AS s1_1,
    SUM(CASE WHEN y = 2 THEN x1 ELSE 0 END) AS s1_2,
    SUM(CASE WHEN y = 0 THEN x2 ELSE 0 END) AS s2_0,
    SUM(CASE WHEN y = 1 THEN x2 ELSE 0 END) AS s2_1,
    SUM(CASE WHEN y = 2 THEN x2 ELSE 0 END) AS s2_2,
    SUM(CASE WHEN y = 0 THEN x3 ELSE 0 END) AS s3_0,
    SUM(CASE WHEN y = 1 THEN x3 ELSE 0 END) AS s3_1,
    SUM(CASE WHEN y = 2 THEN x3 ELSE 0 END) AS s3_2,
    SUM(CASE WHEN y = 0 THEN x4 ELSE 0 END) AS s4_0,
    SUM(CASE WHEN y = 1 THEN x4 ELSE 0 END) AS s4_1,
    SUM(CASE WHEN y = 2 THEN x4 ELSE 0 END) AS s4_2
  FROM x
),
w AS (
  SELECT
    0.5 * ((s1_0 - s1/3.0) / n) AS w10,
    0.5 * ((s1_1 - s1/3.0) / n) AS w11,
    0.5 * ((s1_2 - s1/3.0) / n) AS w12,
    0.5 * ((s2_0 - s2/3.0) / n) AS w20,
    0.5 * ((s2_1 - s2/3.0) / n) AS w21,
    0.5 * ((s2_2 - s2/3.0) / n) AS w22,
    0.5 * ((s3_0 - s3/3.0) / n) AS w30,
    0.5 * ((s3_1 - s3/3.0) / n) AS w31,
    0.5 * ((s3_2 - s3/3.0) / n) AS w32,
    0.5 * ((s4_0 - s4/3.0) / n) AS w40,
    0.5 * ((s4_1 - s4/3.0) / n) AS w41,
    0.5 * ((s4_2 - s4/3.0) / n) AS w42
  FROM agg
),
z AS (
  SELECT i, subj, v,
    x1*w10 + x2*w20 + x3*w30 + x4*w40 AS z0,
    x1*w11 + x2*w21 + x3*w31 + x4*w41 AS z1,
    x1*w12 + x2*w22 + x3*w32 + x4*w42 AS z2
  FROM x CROSS JOIN w
)
SELECT """ + _url_sql("i") + """ AS url,
       subj, v AS obj,
       CASE WHEN z0 >= z1 AND z0 >= z2 THEN 'cold'
            WHEN z1 >= z2 THEN 'warm' ELSE 'hot' END AS pred_value
FROM z ORDER BY url, subj, obj
"""

# kg_features oracle: per-(url, slot_family) feature-key counts rebuilt from
# the corpus formulas. Derivation (verified against the semantic model of
# featurize.py, not fitted): each body row r of table t yields 2 candidates
# (part,tmin) and (part,tmax); per candidate
#   e0_textual    = 3   (CONTAINS + STARTS_WITH_CAPITAL + LENGTH)
#   e0_tabular    = 8 + n_rows + 5*footer
#                   (ROW/COL_NUM 2, CELL 1, ROW_WORDS 3 {part,tmin,tmax},
#                    COL_WORDS 1 header 'part' + n_rows parts + 5 footer
#                    ngrams {all,values,nominal,all values,values nominal},
#                    COL_HEAD 1; ROW_HEAD gated off: the part IS the row head)
#   e0_structural = 8   (TAG, PARENT, 4 ANCESTOR, FIRST_NODE, NEXT_SIB)
#   e1_textual    = 2   (CONTAINS_[_NUMBER] + LENGTH; digits not capital)
#   e1_tabular    = 13 + n_rows (+1 for the footer 'ok' cell, col 2 only)
#                   (2 + CELL 1 + ROW 3 + COL 3-header-ngrams + n_rows temps
#                    + ROW_HEAD 1 + COL_HEAD 3)
#   e1_structural = 9   (TAG, PARENT, 4 ANCESTOR, PREV_SIB, NODE_POS,
#                        NEXT_SIB | LAST_NODE)
#   rel           = 6   (SAME_TABLE + ROW/COL_DIFF + MANHATTAN +
#                        COMMON_ANCESTOR + LOWEST_ANCESTOR_DEPTH)
# All counts are exact because every vocabulary member is distinct by
# construction (part codes/temps distinct per axis; headers non-numeric).
_KG_FEATURES_SQL = _KG_CELLS_CTE + """
, kf AS (
  SELECT i, t, r, 3 + ((i + t) % 3) AS nr,
         CASE WHEN (i + t) % 5 = 0 THEN 1 ELSE 0 END AS f
  FROM cells
),
agg AS (
  SELECT i,
    SUM(6) AS e0_textual,
    SUM(2 * (8 + nr + 5 * f)) AS e0_tabular,
    SUM(16) AS e0_structural,
    SUM(4) AS e1_textual,
    SUM(26 + 2 * nr + f) AS e1_tabular,
    SUM(18) AS e1_structural,
    SUM(12) AS rel
  FROM kf GROUP BY i
)
SELECT """ + _url_sql("i") + """ AS url,
       fam AS family, CAST(n AS BIGINT) AS n
FROM (
  SELECT i, 'e0_textual' AS fam, e0_textual AS n FROM agg
  UNION ALL SELECT i, 'e0_tabular', e0_tabular FROM agg
  UNION ALL SELECT i, 'e0_structural', e0_structural FROM agg
  UNION ALL SELECT i, 'e1_textual', e1_textual FROM agg
  UNION ALL SELECT i, 'e1_tabular', e1_tabular FROM agg
  UNION ALL SELECT i, 'e1_structural', e1_structural FROM agg
  UNION ALL SELECT i, 'rel', rel FROM agg
)
ORDER BY url, family
"""

# kg_nary_features oracle: one ternary (part, tmin, tmax) candidate per body
# row; per-slot counts as in _KG_FEATURES_SQL (part = e0, tmin = e1 col 1,
# tmax = e2 col 2), relation-level = the same 6 keys over all three slots.
_KG_NARY_FEATURES_SQL = _KG_CELLS_CTE + """
, kf AS (
  SELECT i, t, r, 3 + ((i + t) % 3) AS nr,
         CASE WHEN (i + t) % 5 = 0 THEN 1 ELSE 0 END AS f
  FROM cells
),
agg AS (
  SELECT i,
    SUM(3) AS e0_textual,
    SUM(8 + nr + 5 * f) AS e0_tabular,
    SUM(8) AS e0_structural,
    SUM(2) AS e1_textual,
    SUM(13 + nr) AS e1_tabular,
    SUM(9) AS e1_structural,
    SUM(2) AS e2_textual,
    SUM(13 + nr + f) AS e2_tabular,
    SUM(9) AS e2_structural,
    SUM(6) AS rel
  FROM kf GROUP BY i
)
SELECT """ + _url_sql("i") + """ AS url,
       fam AS family, CAST(n AS BIGINT) AS n
FROM (
  SELECT i, 'e0_textual' AS fam, e0_textual AS n FROM agg
  UNION ALL SELECT i, 'e0_tabular', e0_tabular FROM agg
  UNION ALL SELECT i, 'e0_structural', e0_structural FROM agg
  UNION ALL SELECT i, 'e1_textual', e1_textual FROM agg
  UNION ALL SELECT i, 'e1_tabular', e1_tabular FROM agg
  UNION ALL SELECT i, 'e1_structural', e1_structural FROM agg
  UNION ALL SELECT i, 'e2_textual', e2_textual FROM agg
  UNION ALL SELECT i, 'e2_tabular', e2_tabular FROM agg
  UNION ALL SELECT i, 'e2_structural', e2_structural FROM agg
  UNION ALL SELECT i, 'rel', rel FROM agg
)
ORDER BY url, family
"""

_KG_FEATURE_ROWCOL_SQL = _KG_CELLS_CTE + """
SELECT """ + _url_sql("i") + """ AS url,
       CAST(count(*) AS BIGINT) AS n
FROM cells GROUP BY i ORDER BY url
"""

_KG_NULLABLE_SQL = _KG_CELLS_CTE + """
SELECT """ + _url_sql("i") + """ AS url,
       CAST(3 * count(*) AS BIGINT) AS n_candidates,
       CAST(count(*) AS BIGINT) AS n_null_slot
FROM cells GROUP BY i ORDER BY url
"""

_KG_TRIPLES_ALL_SQL = _KG_CELLS_CTE + """
, parts AS (
  SELECT i, t, r,
    'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
         || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS subj
  FROM cells
)
SELECT DISTINCT subj, 'stg_temp_max' AS pred,
       CAST(85 + ((i*3 + r*7) % 60) AS VARCHAR) AS obj FROM parts
UNION
SELECT DISTINCT subj, 'stg_temp_min' AS pred,
       CAST(-(40 + ((i + r) % 30)) AS VARCHAR) AS obj FROM parts
ORDER BY subj, pred, obj
"""


# kg_entities oracle: reconstruct every mention surface from the corpus
# formulas (temp-matcher tokens: title/h1/figcaption doc number, caption
# table+doc numbers, tmin/tmax per body row — gated to the matcher's 1-3
# digit full-match; part-matcher tokens: the part codes), then reproduce the
# linking pipeline in SQL: char-3-shingle MinHash (k=12) -> 6 band keys ->
# bucket pairs -> exact Jaccard verify >= 0.6 -> connected components via a
# recursive CTE (min reachable label). Deterministic because every hash is
# md5.
_KG_ENTITIES_SQL = r"""
WITH RECURSIVE docs AS (SELECT doc_id AS i FROM documents),
tabs AS (
  SELECT i, unnest(range(0, 1 + (i % 2) + CASE WHEN i % 50 = 0 THEN 6 ELSE 0 END)) AS t
  FROM docs
),
cells AS (SELECT i, t, unnest(range(0, 3 + ((i + t) % 3))) AS r FROM tabs),
toks AS (
  -- temp-matcher tokens (-?\d{1,3} full match): title i, h1 i, figcaption i,
  -- caption t and i per table, tmin/tmax per body row
  SELECT CAST(i AS VARCHAR) AS s FROM docs WHERE i BETWEEN -999 AND 999
  UNION ALL SELECT CAST(i AS VARCHAR) FROM docs WHERE i BETWEEN -999 AND 999
  UNION ALL SELECT CAST(i AS VARCHAR) FROM docs WHERE i BETWEEN -999 AND 999
  UNION ALL SELECT CAST(t AS VARCHAR) FROM tabs
  UNION ALL SELECT CAST(i AS VARCHAR) FROM tabs WHERE i BETWEEN -999 AND 999
  UNION ALL SELECT CAST(-(40 + ((i + r) % 30)) AS VARCHAR) FROM cells
  UNION ALL SELECT CAST(85 + ((i*3 + r*7) % 60) AS VARCHAR) FROM cells
  -- part-matcher tokens
  UNION ALL SELECT 'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
         || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) FROM cells
),
forms AS (
  SELECT upper(s) AS surface, CAST(count(*) AS BIGINT) AS n_refs
  FROM toks GROUP BY 1
),
shf AS (
  SELECT surface,
    list_distinct(CASE WHEN length('^' || lower(surface) || '$') >= 3 THEN
      list_transform(range(0, length('^' || lower(surface) || '$') - 2),
        k -> substring('^' || lower(surface) || '$', k + 1, 3))
    ELSE ['^' || lower(surface) || '$'] END) AS sh
  FROM forms
),
sig AS (SELECT surface, sh, list_min(list_transform(sh, s -> md5(s || '#0'))) AS h0,
    list_min(list_transform(sh, s -> md5(s || '#1'))) AS h1,
    list_min(list_transform(sh, s -> md5(s || '#2'))) AS h2,
    list_min(list_transform(sh, s -> md5(s || '#3'))) AS h3,
    list_min(list_transform(sh, s -> md5(s || '#4'))) AS h4,
    list_min(list_transform(sh, s -> md5(s || '#5'))) AS h5,
    list_min(list_transform(sh, s -> md5(s || '#6'))) AS h6,
    list_min(list_transform(sh, s -> md5(s || '#7'))) AS h7,
    list_min(list_transform(sh, s -> md5(s || '#8'))) AS h8,
    list_min(list_transform(sh, s -> md5(s || '#9'))) AS h9,
    list_min(list_transform(sh, s -> md5(s || '#10'))) AS h10,
    list_min(list_transform(sh, s -> md5(s || '#11'))) AS h11 FROM shf),
keyed AS (SELECT surface, unnest(['0' || '|' || h0 || '|' || h1, '1' || '|' || h2 || '|' || h3, '2' || '|' || h4 || '|' || h5, '3' || '|' || h6 || '|' || h7, '4' || '|' || h8 || '|' || h9, '5' || '|' || h10 || '|' || h11]) AS bk FROM sig),
pairs AS (
  SELECT DISTINCT x.surface AS a, y.surface AS b
  FROM keyed x JOIN keyed y USING (bk) WHERE x.surface < y.surface
),
edges AS (
  SELECT a, b FROM pairs
  JOIN shf sa ON sa.surface = a JOIN shf sb ON sb.surface = b
  WHERE len(list_intersect(sa.sh, sb.sh)) /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.6
),
sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
reach AS (
  SELECT surface AS v, surface AS c FROM forms
  UNION
  SELECT e.b AS v, r.c AS c FROM reach r JOIN sym e ON e.a = r.v
),
comp AS (SELECT v, min(c) AS component FROM reach GROUP BY v)
SELECT coalesce(component, f.surface) AS entity_id, f.surface, n_refs
FROM forms f LEFT JOIN comp ON comp.v = f.surface
ORDER BY entity_id, surface
"""

# kg_features_lingual oracle: 3 lingual + 3 TDL keys per slot per
# candidate (single-token cell sentences under the regex tagger), 2
# candidates per body row.
_KG_FEATURES_LINGUAL_SQL = _KG_CELLS_CTE + """
, agg AS (SELECT i, SUM(2 * 3) AS n3 FROM cells GROUP BY i)
SELECT """ + _url_sql("i") + """ AS url,
       fam AS family, CAST(n AS BIGINT) AS n
FROM (
  SELECT i, 'e0_lingual' AS fam, n3 AS n FROM agg
  UNION ALL SELECT i, 'e0_tdl', n3 FROM agg
  UNION ALL SELECT i, 'e1_lingual', n3 FROM agg
  UNION ALL SELECT i, 'e1_tdl', n3 FROM agg
)
ORDER BY url, family
"""

# kg_visual_feats oracle: per candidate, 13 visual keys per slot (12
# ALIGNED_ + PAGE_) and 2 relation-level (SAME_PAGE + HORZ_ALIGNED); 2
# candidates per body row.
_KG_VISUAL_FEATS_SQL = _KG_CELLS_CTE + """
, agg AS (
  SELECT i, SUM(2 * 13) AS per_slot, SUM(2 * 2) AS rel FROM cells GROUP BY i
)
SELECT """ + _url_sql("i") + """ AS url,
       fam AS family, CAST(n AS BIGINT) AS n
FROM (
  SELECT i, 'e0_visual' AS fam, per_slot AS n FROM agg
  UNION ALL SELECT i, 'e1_visual', per_slot FROM agg
  UNION ALL SELECT i, 'visual', rel FROM agg
)
ORDER BY url, family
"""

_KG_NER_NUMBERS_SQL = _KG_CELLS_CTE + """
, tc AS (SELECT i, count(*) AS nt FROM tabs GROUP BY i)
, cc AS (SELECT i, count(*) AS nc FROM cells GROUP BY i)
SELECT """ + _url_sql("d.i") + """ AS url,
       CAST(3 + 2*tc.nt + 2*cc.nc AS BIGINT) AS n
FROM docs d JOIN tc ON tc.i = d.i JOIN cc ON cc.i = d.i
ORDER BY url
"""

_KG_NARY_SQL = _KG_CELLS_CTE + """
SELECT DISTINCT
  'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
       || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS part,
  CAST(-(40 + ((i + r) % 30)) AS INTEGER) AS tmin,
  CAST(85 + ((i*3 + r*7) % 60) AS INTEGER) AS tmax
FROM cells ORDER BY part, tmin, tmax
"""

_KG_TRIPLES_MIN_SQL = _KG_CELLS_CTE + """
SELECT DISTINCT
  'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
       || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS subj,
  'stg_temp_min' AS pred,
  CAST(-(40 + ((i + r) % 30)) AS VARCHAR) AS obj
FROM cells ORDER BY subj, obj
"""


# ---------------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicates(_docs(spark, sf_dir)).select(
        "text_hash",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dd.minhash_signature(F.col("text"), k=4, shingle_n=3)
    return _docs(spark, sf_dir).select(
        "doc_id",
        sig.getItem(0).alias("sig0"),
        sig.getItem(1).alias("sig1"),
    )


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding + bucket pair join — oracle-checked: the md5-based
    signatures and band keys are reproduced in SQL (same construction as
    the dedup_lsh_verified oracle, without the verify stage)."""
    return dd.minhash_lsh_pairs(_docs(spark, sf_dir), k=16, bands=8).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
    )


def q_dedup_minhash_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs under Kirsch-Mitzenmacher double hashing — ONE
    md5 per shingle (vs k in the md5 family; the digest parse runs once in
    a codegen Project, the k mins are integer arithmetic), oracle-checked
    via hex-nibble parsing of the same digest halves in SQL."""
    return dd.minhash_lsh_pairs(
        _docs(spark, sf_dir), k=16, bands=8, family="km"
    ).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All-pairs Jaccard is O(sum df^2) by nature — bounded here to a fixed
    # doc subset; at corpus scale near-dup detection goes through
    # dedup_minhash_pairs (LSH) with Jaccard verify inside buckets.
    return dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir).where(F.col("doc_id") < 1000),
        shingle_n=2, threshold=0.02, max_df=200
    ).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jaccard",
    )


def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path near-dup operator, oracle-checked end to end:
    MinHash-LSH bucketed candidate pairs + exact Jaccard verify within
    buckets (never all-pairs). md5-based signatures and band keys are
    reproducible in SQL."""
    return dd.lsh_verified_pairs(
        _docs(spark, sf_dir), k=16, bands=8, shingle_n=3, threshold=0.1
    ).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jaccard",
    )


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup REMOVAL end to end (dd.near_dup_keep): verified LSH pairs
    -> connected components -> smallest-id canonical per cluster, oracle-
    checked through the full composition (md5 signatures, band joins,
    in-bucket Jaccard verify, recursive transitive closure)."""
    return dd.near_dup_keep(
        _docs(spark, sf_dir), k=16, bands=8, shingle_n=3, threshold=0.1
    ).orderBy("doc_id")


def q_dedup_embcos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded sign-LSH + in-bucket
    cosine verify (never all-pairs; the 100-TB shape, mirroring
    dedup_lsh_verified). md5-Rademacher hyperplanes make buckets, pairs and
    cosines all reproducible in the DuckDB oracle. The cartesian
    embedding_near_dup_pairs stays as the bounded ground-truth kernel
    (tests only). Recall < 1 by construction: 1-(1-p^k)^L, k=4 planes,
    L=4 tables."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 1000)
    return dd.embedding_near_dup_pairs_lsh(
        emb, dim=64, threshold=0.4, n_planes=4, n_tables=4
    ).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "cos",
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash, oracle-checked (was rows-only): the DuckDB oracle
    reproduces the numpy bit voting with pure integer arithmetic — token
    hash = the big-endian first 8 bytes of md5(token) via hex-nibble
    decomposition, per-bit count-weighted ±1 votes, and the signed-64
    wraparound of the final bit pattern."""
    return dd.simhash(_docs(spark, sf_dir))


_DD_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"

# dedup_simhash oracle: bit-exact SimHash in SQL. Bit j of a token's 64-bit
# hash (big-endian first 8 md5 bytes) lives in hex nibble 16 - j//4
# (1-indexed from the left) at in-nibble position j%4; votes are
# count-weighted ±1 sums per bit; the final pattern wraps to signed 64-bit.
_POW2 = ", ".join(f"({j}, {1 << j})" for j in range(64))
_DEDUP_SIMHASH_SQL = f"""
WITH pow2(j, p) AS (VALUES {_POW2}),
t AS (
  SELECT doc_id, unnest({_DD_TOKS}) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
tc AS (
  SELECT doc_id, tok, count(*) AS c, md5(tok) AS h
  FROM t GROUP BY doc_id, tok
),
votes AS (
  SELECT doc_id, j,
    SUM(c * (2 * ((strpos('0123456789abcdef',
                          substring(h, CAST(16 - j // 4 AS INTEGER), 1))
                   - 1) // CAST(2 ** (j % 4) AS INTEGER) % 2) - 1)) AS vote,
    any_value(p) AS p
  FROM tc, pow2 GROUP BY doc_id, j
),
sh AS (
  SELECT doc_id,
         SUM(CASE WHEN vote > 0 THEN CAST(p AS HUGEINT) ELSE 0 END) AS u
  FROM votes GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CASE WHEN u >= 9223372036854775808
                 THEN u - 18446744073709551616 ELSE u END AS BIGINT)
         AS simhash
FROM sh
UNION ALL
SELECT CAST(doc_id AS BIGINT), 0 FROM documents WHERE length(trim(text)) = 0
ORDER BY doc_id
"""
_DD_SHINGLES2 = f"""
CASE WHEN len({_DD_TOKS}) >= 2 THEN
  list_transform(range(0, len({_DD_TOKS}) - 1),
                 i -> array_to_string(({_DD_TOKS})[i+1:i+2], ' '))
ELSE [array_to_string({_DD_TOKS}, ' ')] END
"""

_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""

_DEDUP_MINHASH_SIG_SQL = f"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN len({_DD_TOKS}) >= 3 THEN
      list_transform(range(0, len({_DD_TOKS}) - 2),
                     i -> array_to_string(({_DD_TOKS})[i+1:i+3], ' '))
    ELSE [array_to_string({_DD_TOKS}, ' ')] END AS shingles
  FROM documents
)
SELECT doc_id,
  list_min(list_transform(shingles, s -> md5(s || '#0'))) AS sig0,
  list_min(list_transform(shingles, s -> md5(s || '#1'))) AS sig1
FROM sh ORDER BY doc_id
"""

# 3-token shingles (signature + verify share them; list_distinct does not
# change mins and matches the Spark verify's array_distinct)
_DD_SHINGLES3 = f"""
list_distinct(CASE WHEN len({_DD_TOKS}) >= 3 THEN
  list_transform(range(0, len({_DD_TOKS}) - 2),
                 i -> array_to_string(({_DD_TOKS})[i+1:i+3], ' '))
ELSE [array_to_string({_DD_TOKS}, ' ')] END)
"""
_LSH_K, _LSH_BANDS = 16, 8
_LSH_SIG_COLS = ",\n    ".join(
    f"list_min(list_transform(shingles, s -> md5(s || '#{i}'))) AS h{i}"
    for i in range(_LSH_K)
)
_LSH_ROWS = _LSH_K // _LSH_BANDS
_LSH_BAND_KEYS = ", ".join(
    "'" + str(b) + "' || '|' || "
    + " || '|' || ".join(f"h{b * _LSH_ROWS + j}" for j in range(_LSH_ROWS))
    for b in range(_LSH_BANDS)
)
_DEDUP_MINHASH_PAIRS_SQL = f"""
WITH sh AS (
  SELECT doc_id AS doc, {_DD_SHINGLES3} AS shingles FROM documents
),
sig AS (SELECT doc, {_LSH_SIG_COLS} FROM sh),
keyed AS (SELECT doc, unnest([{_LSH_BAND_KEYS}]) AS bk FROM sig)
SELECT DISTINCT CAST(x.doc AS BIGINT) AS a, CAST(y.doc AS BIGINT) AS b
FROM keyed x JOIN keyed y USING (bk) WHERE x.doc < y.doc
ORDER BY a, b
"""

def _duck_hex8(expr: str, off: int) -> str:
    """Parse 8 hex chars of a digest string (1-based ``off``) into an
    integer — nibble-by-nibble strpos arithmetic, the same trick as the
    SimHash oracle."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {off + i}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)) + ")"


# dedup_minhash_km oracle: ONE md5 per shingle split into two 32-bit
# halves, h_i = (h1 + i*h2) mod 2^32 (Kirsch-Mitzenmacher double hashing)
# — integer mins, then the same band-key join as the md5 family.
_KM_SIG_COLS = ",\n    ".join(
    f"min((h1 + {i} * h2) % 4294967296) AS h{i}" for i in range(_LSH_K)
)
_KM_BAND_KEYS = ", ".join(
    "'" + str(b) + "' || '|' || "
    + " || '|' || ".join(
        f"CAST(h{b * _LSH_ROWS + j} AS VARCHAR)" for j in range(_LSH_ROWS))
    for b in range(_LSH_BANDS)
)
_DEDUP_MINHASH_KM_SQL = f"""
WITH sh AS (
  SELECT doc_id AS doc, {_DD_SHINGLES3} AS shingles FROM documents
),
ex AS (SELECT doc, unnest(shingles) AS s FROM sh),
hh AS (
  SELECT doc, {_duck_hex8('md5(s)', 1)} AS h1, {_duck_hex8('md5(s)', 9)} AS h2
  FROM ex
),
sig AS (SELECT doc, {_KM_SIG_COLS} FROM hh GROUP BY doc),
keyed AS (SELECT doc, unnest([{_KM_BAND_KEYS}]) AS bk FROM sig)
SELECT DISTINCT CAST(x.doc AS BIGINT) AS a, CAST(y.doc AS BIGINT) AS b
FROM keyed x JOIN keyed y USING (bk) WHERE x.doc < y.doc
ORDER BY a, b
"""

_DEDUP_LSH_VERIFIED_SQL = f"""
WITH sh AS (
  SELECT doc_id AS doc, {_DD_SHINGLES3} AS shingles FROM documents
),
sig AS (SELECT doc, {_LSH_SIG_COLS} FROM sh),
keyed AS (SELECT doc, unnest([{_LSH_BAND_KEYS}]) AS bk FROM sig),
pairs AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM keyed x JOIN keyed y USING (bk) WHERE x.doc < y.doc
),
v AS (
  SELECT a, b,
    round(len(list_intersect(sa.shingles, sb.shingles)) /
          (len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
  FROM pairs JOIN sh sa ON sa.doc = a JOIN sh sb ON sb.doc = b
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, jaccard
FROM v WHERE jaccard >= 0.1 ORDER BY a, b
"""

# dedup_keep oracle: the verified-pairs CTE above, closed transitively by
# a recursive CTE (smallest reachable id = canonical, numeric min == the
# engine's zero-padded lexicographic min), kept = doc is its canonical.
_DEDUP_KEEP_SQL = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS doc, {_DD_SHINGLES3} AS shingles FROM documents
),
sig AS (SELECT doc, {_LSH_SIG_COLS} FROM sh),
keyed AS (SELECT doc, unnest([{_LSH_BAND_KEYS}]) AS bk FROM sig),
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM keyed x JOIN keyed y USING (bk) WHERE x.doc < y.doc
),
e AS (
  SELECT a, b FROM cand
  JOIN sh sa ON sa.doc = a JOIN sh sb ON sb.doc = b
  WHERE round(len(list_intersect(sa.shingles, sb.shingles)) /
        (len(sa.shingles) + len(sb.shingles)
         - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.1
),
verts AS (SELECT a AS x FROM e UNION SELECT b FROM e),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
reach AS (
  SELECT x AS v, x AS c FROM verts
  UNION
  SELECT s.b AS v, r.c AS c FROM reach r JOIN sym s ON s.a = r.v
),
comp AS (SELECT v, min(c) AS canonical FROM reach GROUP BY v)
SELECT CAST(v AS BIGINT) AS doc_id, CAST(canonical AS BIGINT) AS canonical,
       CAST(CASE WHEN v = canonical THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM comp ORDER BY doc_id
"""

def _duck_list(vals) -> str:
    return "[" + ", ".join(str(v) for v in vals) + "]"


def _duck_dot(a: str, b: str) -> str:
    """Sequential-fold dot product: bit-identical to Spark's
    F.aggregate(zip_with(a, b, *), 0.0, +) left fold. DuckDB's built-in
    list_dot_product accumulates in a different order and drifts by 1 ulp
    on ~1e-5 of pairs — enough to flip a 6-decimal rounding (observed at
    sf0.1); list_reduce folds left-to-right like Spark, and IEEE754 makes
    identical op order => identical bits."""
    return (f"list_reduce(list_transform(range(1, len({a}) + 1), "
            f"i -> ({a})[i] * ({b})[i]), (x, y) -> x + y)")


def _duck_bucket(n_planes: int, prefix: str, dim: int = 64,
                 vec: str = "v") -> str:
    """DuckDB expression for the md5-Rademacher sign bucket — the exact
    twin of similarity.md5_bucket (same planes, same ±1 exact-sign-flip
    dot products)."""
    from fonduer_spark.functions.similarity import rademacher_planes

    planes = rademacher_planes(dim, n_planes, prefix)
    return " + ".join(
        f"(CASE WHEN {_duck_dot(vec, _duck_list(p))} > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )


_EMB_LSH_BAND_KEYS = ", ".join(
    f"'{t}' || '|' || CAST({_duck_bucket(4, f't{t}p')} AS VARCHAR)"
    for t in range(4)
)
_DEDUP_EMBCOS_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id < 1000),
keyed AS (SELECT vec_id, unnest([{_EMB_LSH_BAND_KEYS}]) AS bk FROM e),
pairs AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM keyed x JOIN keyed y USING (bk) WHERE x.vec_id < y.vec_id
),
v AS (
  SELECT a, b,
    round({_duck_dot('ea.v', 'eb.v')} /
          (sqrt({_duck_dot('ea.v', 'ea.v')}) *
           sqrt({_duck_dot('eb.v', 'eb.v')})), 6) AS cos
  FROM pairs JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, cos
FROM v WHERE cos >= 0.4 ORDER BY a, b
"""

_DEDUP_JACCARD_SQL = f"""
WITH ds AS (
  SELECT doc_id AS doc, list_distinct({_DD_SHINGLES2}) AS sh FROM documents
  WHERE doc_id < 1000
),
sizes AS (SELECT doc, len(sh) AS n_sh FROM ds),
ex0 AS (SELECT doc, unnest(sh) AS s FROM ds),
hot AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) > 200),
ex AS (SELECT * FROM ex0 WHERE s NOT IN (SELECT s FROM hot)),
common AS (
  SELECT x.doc AS a, y.doc AS b, CAST(count(*) AS BIGINT) AS common
  FROM ex x JOIN ex y USING (s) WHERE x.doc < y.doc GROUP BY x.doc, y.doc
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       round(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = a
JOIN sizes sb ON sb.doc = b
WHERE round(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.02
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# text analysis queries
# ---------------------------------------------------------------------------
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", ts.token_count(F.col("text")).cast("long").alias("n_tokens")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = ts.quality_stats(_docs(spark, sf_dir, spread=False))
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "mean_token_len", "punct_ratio", "stopword_ratio", "digit_ratio",
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", ts.lang_id(F.col("text")).alias("lang_guess")
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", ts.fingerprint(F.col("text")).alias("fp")
    )


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-token count (letter/digit runs + single symbols) — the
    subword-budget proxy; one codegen'd regexp_count."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        ts.bpe_token_count(F.col("text")).cast("long").alias("n_bpe"),
    )


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction, oracle-checked: deterministic synthetic PII (an email
    and an 8-digit account number derived from doc_id) appended to every
    document, then masked by scrub_pii — regex families chosen to behave
    identically under Java regex and RE2, so the oracle reproduces the
    masked text md5 and the per-kind counts exactly."""
    d = _docs(spark, sf_dir)
    pii_text = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com or call "),
        (F.col("doc_id") * 7919 + F.lit(10_000_000)).cast("string"),
        F.lit(" now"),
    )
    counts = ts.pii_counts(pii_text)
    return d.select(
        "doc_id",
        F.md5(ts.scrub_pii(pii_text)).alias("scrubbed_md5"),
        counts.getField("n_emails").cast("long").alias("n_emails"),
        counts.getField("n_digit_runs").cast("long").alias("n_digit_runs"),
    ).orderBy("doc_id")


_TEXT_PII_SQL = f"""
WITH p AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com or call '
         || CAST(doc_id * 7919 + 10000000 AS VARCHAR) || ' now' AS t
  FROM documents
)
SELECT doc_id,
  md5(regexp_replace(
        regexp_replace(t, '{ts.EMAIL_RGX}', '<EMAIL>', 'g'),
        '{ts.LONG_DIGITS_RGX}', '<DIGITS>', 'g')) AS scrubbed_md5,
  CAST(len(regexp_extract_all(t, '{ts.EMAIL_RGX}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{ts.LONG_DIGITS_RGX}')) AS BIGINT)
    AS n_digit_runs
FROM p ORDER BY doc_id
"""


def q_text_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSITE training-data curation pass, oracle-checked: quality
    stats + language-ID + exact-dedup canonicalization composed into the
    one filter a pretraining pipeline runs per document — keep docs with
    >= 30 tokens, stopword_ratio >= 0.02, detected-English, and drop
    non-canonical exact duplicates. One relational plan: two aggregations
    + a broadcast anti-join; every predicate a column expression."""
    docs = _docs(spark, sf_dir)
    q = ts.quality_stats(docs)
    lang = docs.select("doc_id", ts.lang_id(F.col("text")).alias("lg"))
    hashed = docs.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    dups = dd.exact_duplicates(docs)
    noncanon = (
        hashed.join(dups, "text_hash")
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id")
    )
    return (
        q.join(lang, "doc_id")
        .where(
            (F.col("n_tokens") >= 30)
            & (F.col("stopword_ratio") >= 0.02)
            & (F.col("lg") == "en")
        )
        .join(F.broadcast(noncanon), "doc_id", "left_anti")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .orderBy("doc_id")
    )


def q_text_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling (functions/sampling.py):
    per-language Bernoulli rates keyed on md5(doc_id || salt) — the kept
    set is identical across engines/partitionings/reruns, so the oracle
    reproduces it exactly (hex-nibble md5 threshold in SQL). The 100 TB
    shape is a pure filter: predicate-pushdown friendly, zero shuffles."""
    from fonduer_spark.functions.sampling import stratified_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    out = stratified_sample(
        d, "lang", {"en": 0.8, "zh": 0.3, "es": 0.3},
        salt="bench", default_rate=0.1)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "lang").orderBy("doc_id")


_CMS_PROBES = ["the", "spark", "batch", "window", "stream", "zzz_absent"]


def q_text_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (sketches.cms_sketch /
    cms_estimate): build a 3x512 md5-hashed CMS over the corpus word
    stream (bounded memory regardless of corpus size, cell-wise
    mergeable across shards), point-query six probe words, and join the
    exact census — est_count >= true_count always (collisions only add).
    Every cell and estimate replays exactly in the oracle."""
    from fonduer_spark.cache import cached
    from fonduer_spark.functions import sketches as skx

    words = _docs(spark, sf_dir).select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).where(F.col("w") != "")
    # persisted: cms_estimate's shape check plus the probe join both read
    # the (<= width*depth cells) sketch
    sketch = cached(skx.cms_sketch(words, "w", width=512, depth=3))
    probes = spark.createDataFrame([(p,) for p in _CMS_PROBES], "w string")
    est = skx.cms_estimate(sketch, probes, "w", width=512, depth=3)
    true = (
        words.join(F.broadcast(probes), "w")
        .groupBy("w").agg(F.count(F.lit(1)).alias("true_count"))
    )
    return (
        est.join(true, "w", "left")
        .select(
            F.col("w").alias("word"), "est_count",
            F.coalesce("true_count", F.lit(0))
            .cast("long").alias("true_count"))
        .orderBy("word")
    )


def _text_cms_counts_sql() -> str:
    probes = ", ".join(f"('{p}')" for p in _CMS_PROBES)
    bucket = _duck_hex8(
        "md5(CAST(row AS VARCHAR) || ':' || w)", 1) + " % 512"
    return f"""
WITH wd AS (
  SELECT w FROM (
    SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
  WHERE w <> ''
),
cells AS (
  SELECT row, {bucket} AS bucket, count(*) AS cnt
  FROM wd, unnest(range(0, 3)) AS d(row)
  GROUP BY row, bucket
),
pr AS (SELECT w FROM (VALUES {probes}) p(w)),
pk AS (
  SELECT w, row, {bucket} AS bucket
  FROM pr, unnest(range(0, 3)) AS d(row)
),
est AS (
  SELECT pk.w, min(COALESCE(cells.cnt, 0)) AS est_count
  FROM pk LEFT JOIN cells USING (row, bucket)
  GROUP BY pk.w
),
tr AS (SELECT w, count(*) AS true_count FROM wd JOIN pr USING (w) GROUP BY w)
SELECT est.w AS word,
       CAST(est.est_count AS BIGINT) AS est_count,
       CAST(COALESCE(tr.true_count, 0) AS BIGINT) AS true_count
FROM est LEFT JOIN tr ON tr.w = est.w
ORDER BY word
"""


def q_text_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (sampling.priority_sample,
    Duffield-Lund-Thorup priority sampling): keep the 200 documents with
    the smallest md5-uniform/weight priorities, weighting by n_chars —
    the fixed-budget quality/length-weighted subset selection step of
    corpus curation. Plans as TakeOrdered (per-partition heap, no global
    sort); priority = one IEEE division of exact integers, so the oracle
    reproduces the kept set and ranks bit-for-bit."""
    from fonduer_spark.functions.sampling import priority_sample

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return (
        priority_sample(d, weight_col="n_chars", k=200, salt="prio")
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "weight", "rank")
        .orderBy("rank")
    )


_TEXT_SAMPLE_PRIORITY_SQL = f"""
WITH s AS (
  SELECT doc_id, n_chars,
         ({_duck_hex8("md5(CAST(doc_id AS VARCHAR) || ':prio')", 1)} + 1)
         / CAST(n_chars AS DOUBLE) AS pr
  FROM documents WHERE n_chars > 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS weight,
       CAST(row_number() OVER (ORDER BY pr, doc_id) AS INTEGER) AS rank
FROM s ORDER BY pr, doc_id LIMIT 200
"""


def q_text_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-per-stratum quota sampling (sampling.quota_sample): keep
    exactly min(20, |lang|) documents per language, ranked by
    md5(doc_id || salt) — the corpus-mixing step when the mixture is
    specified as COUNTS, not Bernoulli rates. The 100 TB shape is the
    two-phase distributed top-k (per-(stratum, hash-bucket) rank, then
    rank the <= k*n_buckets survivors), which is provably equal to the
    oracle's single global row_number() per stratum — so the kept set
    AND each quota_rank replay exactly."""
    from fonduer_spark.functions.sampling import quota_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return (
        quota_sample(d, "lang", k=20, salt="bench-quota", n_buckets=8)
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "lang", "quota_rank")
        .orderBy("lang", "quota_rank")
    )


_TEXT_SAMPLE_QUOTA_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(rn AS INTEGER) AS quota_rank
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':bench-quota'), doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 20
ORDER BY lang, quota_rank
"""


def q_rel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling census (functions/profiling.py): per
    column of lineitem, row/null counts, EXACT distinct cardinality,
    total canonical-string length, and lexicographic bounds — the
    "profile before you train" ingest step. The plan is ONE scan + a
    two-level aggregation (map-side partial agg collapses to distinct
    (column, value) pairs before any shuffle; no Catalyst Expand from
    multi-countDistinct, no per-column job loop — plan-asserted).
    l_shipdate is pre-cast to DATE so its canonical string form is
    engine-independent."""
    from fonduer_spark.functions.profiling import profile_columns

    cols = ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
            "l_shipdate"]
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        F.to_date("l_shipdate").cast("string").alias("l_shipdate"))
    return profile_columns(li, cols).orderBy("col_name")


_REL_PROFILE_SQL = """
WITH m AS (
  SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS val
  FROM lineitem
  UNION ALL
  SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', l_returnflag FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', l_linestatus FROM lineitem
  UNION ALL
  SELECT 'l_shipdate', CAST(CAST(l_shipdate AS DATE) AS VARCHAR)
  FROM lineitem
)
SELECT col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN val IS NULL THEN 1 END), 0) AS BIGINT)
         AS n_null,
       CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct,
       CAST(COALESCE(SUM(CASE WHEN val IS NOT NULL THEN LENGTH(val) END),
                     0) AS BIGINT) AS sum_len,
       MIN(val) AS lex_min,
       MAX(val) AS lex_max
FROM m
GROUP BY col_name
ORDER BY col_name
"""


def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing
    (sampling.pack_token_stream): every document's global token start
    offset, bin id and in-bin offset under a 2048-token capacity. The
    distributed two-phase prefix sum (per-bucket subtotals + broadcast
    prefix offsets + partition-local window) must equal the oracle's
    global SUM() OVER (ORDER BY doc_id) — exact integer arithmetic, so
    the equality is bitwise. bucket_size=100 forces the multi-bucket
    path even at sf0.01."""
    from fonduer_spark.functions.sampling import pack_token_stream

    out = pack_token_stream(
        _docs(spark, sf_dir), capacity=2048,
        n_tokens=ts.token_count(F.col("text")), bucket_size=100)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("start_offset").cast("long").alias("start_offset"),
        F.col("bin_id").cast("long").alias("bin_id"),
        F.col("bin_offset").cast("long").alias("bin_offset"),
    ).orderBy("doc_id")


def q_text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup (Lee et al. family, VERDICT r5
    task #4) oracle-checked end to end: a fixed 10-token banner is appended
    to every doc_id % 5 == 0 document (derived input), so those documents
    share banner-spanning 8-grams; dedup_substrings must strip the covered
    tokens from every sharer EXCEPT the keeper (min doc_id), while any
    NATURAL cross-doc 8-gram repeats in the small-vocabulary corpus are
    handled identically — the DuckDB oracle replays the FULL algorithm
    (gram hashing, keeper election, coverage union, positional rebuild),
    not just the banner arithmetic. Hash-compared on md5(text_dedup) plus
    the integer token counts; no floats anywhere."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    banner = ("shared banner token alpha beta gamma delta epsilon zeta "
              "omega")
    aug = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" " + banner)))
        .otherwise(F.col("text")))
    out = dd.dedup_substrings(aug, k=8)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("text_dedup").alias("dedup_md5"),
        "n_tokens", "n_tokens_removed",
    ).orderBy("doc_id")


_TEXT_SUBSTRING_DEDUP_SQL = """
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CASE WHEN doc_id % 5 = 0 THEN text ||
           ' shared banner token alpha beta gamma delta epsilon zeta omega'
         ELSE text END AS text
  FROM documents
),
toks AS (
  SELECT id, text, string_split_regex(trim(text), '\\s+') AS t FROM base
),
occ AS (
  SELECT id, s.s AS s, md5(array_to_string(t[s.s : s.s + 7], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS s) s
  WHERE len(trim(text)) > 0 AND len(t) >= 8
),
shared AS (
  SELECT h, min(id) AS keeper
  FROM occ GROUP BY h HAVING count(DISTINCT id) >= 2
),
cov AS (
  SELECT DISTINCT o.id, o.s + x.x AS p
  FROM occ o JOIN shared sh USING (h),
       LATERAL (SELECT unnest(generate_series(0, 7)) AS x) x
  WHERE o.id <> sh.keeper
),
tokpos AS (
  SELECT id, p.p AS p, t[p.p] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS p) p
  WHERE len(trim(text)) > 0
),
kept AS (
  SELECT tp.id, string_agg(tp.tok, ' ' ORDER BY tp.p) AS text_dedup,
         count(*) AS n_kept
  FROM tokpos tp LEFT JOIN cov ON tp.id = cov.id AND tp.p = cov.p
  WHERE cov.p IS NULL
  GROUP BY tp.id
),
nt AS (
  SELECT id, CASE WHEN len(trim(text)) > 0 THEN len(t) ELSE 0 END AS n_toks
  FROM toks
)
SELECT nt.id AS doc_id,
       md5(coalesce(k.text_dedup, '')) AS dedup_md5,
       CAST(nt.n_toks AS BIGINT) AS n_tokens,
       CAST(nt.n_toks - coalesce(k.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM nt LEFT JOIN kept k USING (id)
ORDER BY doc_id
"""


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal oracle-checked end to end: a
    deterministic cookie-banner line is injected into every even doc
    (same derived-input pattern as kg_incremental), its document
    frequency (50%) exceeds the 30% threshold, and
    strip_boilerplate_lines must remove EXACTLY it — the md5 of every
    cleaned text equals the md5 of the original untouched text, which is
    the entire oracle. A removed content line, a surviving banner, or a
    reordered rebuild all flip the hash."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    aug = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("COOKIE NOTICE ACCEPT ALL\n"), F.col("text")))
        .otherwise(F.col("text")))
    out = ts.strip_boilerplate_lines(aug, max_df_frac=0.3)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("text_clean").alias("clean_md5"),
        "n_lines_removed",
    ).orderBy("doc_id")


_TEXT_BOILERPLATE_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(text) AS clean_md5,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_lines_removed
FROM documents ORDER BY doc_id
"""


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination oracle-checked end to end: the
    'benchmark' is a deterministic 8-token excerpt (tokens 3-10) of every
    doc_id % 97 == 0 document — derived input, so the oracle rebuilds the
    same excerpts in SQL — and ngram_contamination must flag exactly the
    documents containing any excerpt verbatim (each source doc flags
    itself; random-token texts make cross-hits possible only where the
    oracle also finds them)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.split(F.trim("text"), r"\s+")
    bench = (
        d.where((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 10))
        .select(F.array_join(F.slice(toks, 3, 8), " ").alias("text"))
    )
    out = ts.ngram_contamination(d, bench, n=8)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
    ).orderBy("doc_id")


_TEXT_DECON_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
bench AS (
  SELECT DISTINCT array_to_string(t[3:10], ' ') AS g
  FROM toks WHERE doc_id % 97 = 0 AND len(t) >= 10
),
cgrams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 8 + 2),
                               i -> array_to_string(t[i:i+7], ' '))) AS g
  FROM toks WHERE len(t) >= 8
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(DISTINCT c.g) AS BIGINT) AS n_hits
FROM cgrams c JOIN bench b ON b.g = c.g
GROUP BY doc_id ORDER BY doc_id
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-token ratio, top-bigram
    fraction) — relational bigram census, not per-row O(n^2)."""
    return ts.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_LTOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _marker_sql(markers) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_LTOKS}, x -> x IN ({lst})))"


_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS BIGINT)
    AS n_tokens
FROM documents ORDER BY doc_id
"""

# text_sample oracle: the md5-threshold Bernoulli keep-set replayed
# exactly — hash = first 8 md5 hex nibbles as a 32-bit integer, kept iff
# hash / 2^32 < the stratum rate. The division by a power of two is exact
# in binary FP and hash-value spacing (2^-32) dwarfs the double-literal
# rounding of the rates, so the comparison cannot flip between engines.
_TEXT_SAMPLE_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE {_duck_hex8("md5(CAST(doc_id AS VARCHAR) || ':bench')", 1)}
      / 4294967296.0
      < CASE lang WHEN 'en' THEN CAST(0.8 AS DOUBLE)
                  WHEN 'zh' THEN CAST(0.3 AS DOUBLE)
                  WHEN 'es' THEN CAST(0.3 AS DOUBLE)
                  ELSE CAST(0.1 AS DOUBLE) END
ORDER BY doc_id
"""

# text_pack oracle: the packing layout from ONE global window — the
# distributed two-phase prefix sum must reproduce it bit-for-bit (all
# integer arithmetic; 'div'/% match DuckDB's // and %).
_TEXT_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len({_TOKS}) END AS BIGINT) AS n_tokens
  FROM documents
), p AS (
  SELECT doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 2048 AS BIGINT) AS bin_id,
       CAST(start_offset % 2048 AS BIGINT) AS bin_offset
FROM p ORDER BY doc_id
"""

_SW = ", ".join(f"'{w}'" for w in ts.EN_STOPWORDS)
_QUALITY_SQL = f"""
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        ELSE length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOKS}) END, 6)
    AS mean_token_len,
  round(CASE WHEN length(text) = 0 THEN 0.0
        ELSE length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / length(text) END, 6)
    AS punct_ratio,
  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        ELSE len(list_filter({_LTOKS}, x -> x IN ({_SW}))) / len({_TOKS}) END, 6)
    AS stopword_ratio,
  round(CASE WHEN length(text) = 0 THEN 0.0
        ELSE length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) END, 6)
    AS digit_ratio
FROM documents ORDER BY doc_id
"""

_LANG_SQL = f"""
WITH s AS (
  SELECT doc_id,
    {_marker_sql(ts.LANG_MARKERS['en'])} AS s_en,
    {_marker_sql(ts.LANG_MARKERS['es'])} AS s_es,
    {_marker_sql(ts.LANG_MARKERS['de'])} AS s_de,
    {_marker_sql(ts.LANG_MARKERS['fr'])} AS s_fr
  FROM documents
)
SELECT doc_id,
  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
       WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
       WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
       WHEN s_fr > 0 THEN 'fr'
       ELSE 'und' END AS lang_guess
FROM s ORDER BY doc_id
"""

_FINGERPRINT_SQL = """
SELECT doc_id,
  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
FROM documents ORDER BY doc_id
"""

_BPE_TOKENS_SQL = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{ts.BPE_ISH_RGX}')) AS BIGINT) AS n_bpe
FROM documents ORDER BY doc_id
"""

_TEXT_CURATE_SQL = f"""
WITH q AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_tokens,
    round(CASE WHEN length(trim(text)) = 0 THEN 0.0
          ELSE len(list_filter({_LTOKS}, x -> x IN ({_SW}))) / len({_TOKS}) END, 6)
      AS stopword_ratio,
    {_marker_sql(ts.LANG_MARKERS['en'])} AS s_en,
    {_marker_sql(ts.LANG_MARKERS['es'])} AS s_es,
    {_marker_sql(ts.LANG_MARKERS['de'])} AS s_de,
    {_marker_sql(ts.LANG_MARKERS['fr'])} AS s_fr,
    md5(text) AS text_hash
  FROM documents
),
dups AS (
  SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id
  FROM documents GROUP BY 1 HAVING count(*) > 1
),
noncanon AS (
  SELECT doc_id FROM q JOIN dups USING (text_hash)
  WHERE doc_id <> canonical_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM q
WHERE n_tokens >= 30 AND stopword_ratio >= 0.02
  AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0
  AND doc_id NOT IN (SELECT doc_id FROM noncanon)
ORDER BY doc_id
"""

_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, {_LTOKS} AS toks,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_LTOKS}) END AS n_toks
  FROM documents
),
dup AS (
  SELECT doc_id, n_toks,
    CASE WHEN n_toks > 0
         THEN round(1 - len(list_distinct(toks)) / n_toks, 6)
         ELSE 0.0 END AS dup_token_ratio
  FROM t
),
bi AS (
  SELECT doc_id,
    unnest(list_transform(range(0, n_toks - 1),
                          i -> toks[i+1] || ' ' || toks[i+2])) AS bg
  FROM t WHERE n_toks >= 2
),
top AS (
  SELECT doc_id, round(max(c) / sum(c), 6) AS top_bigram_ratio
  FROM (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(n_toks AS BIGINT) AS n_toks, dup_token_ratio,
       coalesce(top_bigram_ratio, 0.0) AS top_bigram_ratio
FROM dup d LEFT JOIN top ON top.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# similarity queries
# ---------------------------------------------------------------------------
_QUERY_IDS = list(range(8))


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_topk(_emb(spark, sf_dir), _QUERY_IDS, k=5).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMEANS-quantizer IVF path oracle-checked (VERDICT r5 task #5):
    seeded pyspark.ml KMeans centroids drive the same assign -> cell join
    -> verify -> top-k plumbing, probed EXHAUSTIVELY (nprobe ==
    n_centroids) so the result must equal the exact top-k regardless of
    where the learned centroids land — the float content of the ml fit
    never reaches the hash-compared output, while the entire kmeans
    plumbing (training, broadcast assignment, probing, ranking) is
    exercised end to end. The recall/efficiency operating points of
    partial probing are bench-reported (sim_ivf_kmeans_offcentroid_
    recall_at5), where approximation belongs."""
    return sim.ivf_bucketed_ann(
        _emb(spark, sf_dir), _QUERY_IDS, dim=64, k=5,
        n_centroids=16, nprobe=16, quantizer="kmeans",
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN with the md5-Rademacher plane family — the bucket
    assignment, the own-bucket probe, the cosine scores and the top-k ranks
    are ALL reproduced by the DuckDB oracle (was rows-only with numpy
    Gaussian planes). Approximate by construction (recall < 1): a neighbor
    outside the query's sign bucket is invisible, identically in both
    engines."""
    return sim.lsh_bucketed_ann(
        _emb(spark, sf_dir), _QUERY_IDS, dim=64, k=5, family="md5"
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_sim_ann_mt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT ann_topk operating point (4-table sign-LSH, 4 planes,
    1-bit multiprobe, md5-Rademacher family) oracle-checked end to end:
    per-table buckets, the own+flip probe set, the cross-table candidate
    union with pair dedup, cosine scores and ranks are ALL replayed in
    SQL. This is the configuration whose recall@5 >= 0.9 the bench
    reports — now correctness-gated, not just unit-tested."""
    return sim.lsh_bucketed_ann(
        _emb(spark, sf_dir), _QUERY_IDS, dim=64, k=5, n_planes=4,
        multiprobe=1, n_tables=4, family="md5",
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN with the deterministic fixed coarse quantizer (the
    embeddings of ids 0..15): each vector joins its argmin-distance cell,
    queries probe their 2 nearest cells — O(N * nprobe / n_centroids) work
    per query. The oracle replays the assignment exactly: the injected
    ||c||^2 literals, the -2*dot distances via the sequential-fold dot, the
    (distance, index) tie order, the probe set, the cosine scores and the
    ranks."""
    return sim.ivf_bucketed_ann(
        _emb(spark, sf_dir), _QUERY_IDS, dim=64, k=5,
        n_centroids=16, nprobe=2,
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


_SIM_ANN_IVF_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS j, v AS c FROM e WHERE vec_id < 16),
a AS (
  SELECT e.vec_id, e.v, cents.j,
         ({_duck_dot('cents.c', 'cents.c')})
         - 2 * ({_duck_dot('e.v', 'cents.c')}) AS d
  FROM e CROSS JOIN cents
),
ranked_cells AS (
  SELECT vec_id, v, j,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
  FROM a
),
assign AS (SELECT vec_id, v, j AS cell FROM ranked_cells WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, j AS cell
  FROM ranked_cells
  WHERE rn <= 2 AND vec_id IN ({", ".join(map(str, _QUERY_IDS))})
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round({_duck_dot('p.qv', 'c.v')} /
               (sqrt({_duck_dot('p.qv', 'p.qv')}) *
                sqrt({_duck_dot('c.v', 'c.v')})), 6) AS score
  FROM probes p JOIN assign c USING (cell) WHERE c.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


_SIM_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings
           WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({_duck_dot('q.qv', 'c.cv')} /
               (sqrt({_duck_dot('q.qv', 'q.qv')}) *
                sqrt({_duck_dot('c.cv', 'c.cv')})), 6) AS score
  FROM q, c WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""

_SIM_ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_duck_bucket(6, 'plane')} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({_duck_dot('q.qv', 'c.v')} /
               (sqrt({_duck_dot('q.qv', 'q.qv')}) *
                sqrt({_duck_dot('c.v', 'c.v')})), 6) AS score
  FROM q JOIN b c USING (bucket) WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""

# sim_ann_mt oracle: the 4-table multiprobe default — per-table buckets
# (table 0 keeps the legacy 'plane' prefix, tables 1-3 use t{i}plane),
# probe set = own bucket + each 1-bit flip (xor), candidates unioned
# across tables with DISTINCT pair dedup, then the same exact-cosine
# scoring and rank window as the single-table oracle.
_SIM_ANN_MT_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v,
      {_duck_bucket(4, 'plane')} AS b0,
      {_duck_bucket(4, 't1plane')} AS b1,
      {_duck_bucket(4, 't2plane')} AS b2,
      {_duck_bucket(4, 't3plane')} AS b3 FROM e),
c AS (
  SELECT vec_id, v, t.tbl,
    CASE t.tbl WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END
      AS bucket
  FROM b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS tbl) t
),
qp AS (
  SELECT query_id, qv, tbl, unnest([qb, xor(qb, 1), xor(qb, 2),
                                    xor(qb, 4), xor(qb, 8)]) AS probe
  FROM (SELECT vec_id AS query_id, v AS qv, tbl, bucket AS qb FROM c
        WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))}))
),
pairs AS (
  SELECT DISTINCT qp.query_id, c.vec_id AS neighbor_id
  FROM qp JOIN c ON c.tbl = qp.tbl AND c.bucket = qp.probe
  WHERE c.vec_id <> qp.query_id
),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         round({_duck_dot('q.v', 'n.v')} /
               (sqrt({_duck_dot('q.v', 'q.v')}) *
                sqrt({_duck_dot('n.v', 'n.v')})), 6) AS score
  FROM pairs p JOIN e q ON q.vec_id = p.query_id
               JOIN e n ON n.vec_id = p.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# multimodal queries
# ---------------------------------------------------------------------------
def q_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.media_from_docs(_docs(spark, sf_dir))
    return media.select(
        "media_id", F.octet_length("payload").cast("long").alias("n_bytes")
    )


def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing, oracle-checked: documents typed as
    video blobs (duration = 10 ms/char), sampled at 1 frame/s inside
    mapInPandas — each blob expands partition-locally into its frame grid;
    the oracle reproduces the grid from length(text) and the fake frame
    hash as md5(md5(text || ':' || idx))."""
    media = mm.media_from_docs(_docs(spark, sf_dir), with_duration=True)
    frames = mm.sample_frames(media, every_ms=1000)
    return (
        frames.select(
            "media_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.col("t_ms").cast("long").alias("t_ms"),
            "frame_hash",
        )
        .orderBy("media_id", "frame_idx")
    )


_MM_FRAMES_SQL = """
WITH d AS (
  SELECT doc_id AS media_id, text, length(text) * 10 AS dur FROM documents
),
f AS (
  SELECT media_id, text,
         unnest(range(0, dur // 1000)) AS i
  FROM d WHERE dur >= 1000
)
SELECT media_id, CAST(i AS BIGINT) AS frame_idx,
       CAST(i * 1000 AS BIGINT) AS t_ms,
       md5(md5(text || ':' || CAST(i AS VARCHAR))) AS frame_hash
FROM f ORDER BY media_id, frame_idx
"""


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction, canonicalized: the fake decoder derives
    each feature i from md5(payload) bytes [2i, 2i+2) as round(int/65536, 6);
    posexplode + de-quantize (round(value * 65536)) recovers the exact
    integer, making the whole mapInPandas stage oracle-checkable in SQL."""
    media = mm.media_from_docs(_docs(spark, sf_dir))
    feats = mm.extract_features(media, decoder="fake")
    return feats.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.posexplode("features").alias("idx", "value"),
    ).select(
        "media_id",
        "n_bytes",
        F.col("idx").cast("long").alias("idx"),
        F.round(F.col("value") * 65536).cast("long").alias("qval"),
    )


_MM_META_SQL = """
SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents ORDER BY media_id
"""

# hex nibble -> int via strpos; feature i of the fake decoder is the big-endian
# 16-bit int at md5-hex chars [4i+1, 4i+4]
_MM_NIBBLE = "(strpos('0123456789abcdef', substring(h, 4*idx+{off}, 1)) - 1)"
_MM_QVAL = " + ".join(
    f"{_MM_NIBBLE.format(off=o + 1)} * {16 ** (3 - o)}" for o in range(4)
)
_MM_FEATURES_SQL = f"""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(idx AS BIGINT) AS idx,
       CAST({_MM_QVAL} AS BIGINT) AS qval
FROM (SELECT doc_id, text, md5(text) AS h FROM documents),
     (SELECT unnest(range(8)) AS idx)
ORDER BY media_id, idx
"""


# ---------------------------------------------------------------------------
# classic relational operators (§2.10 checklist)
# ---------------------------------------------------------------------------
def q_rel_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_REL_AGG_SQL = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2
"""


def q_rel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_REL_JOIN_SQL = """
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q_rel_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
        .alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


_REL_FILTER_AGG_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_rel_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed quantiles (percentile_disc semantics) per group:
    p50/p90/p99 of l_quantity by return flag, selected by INTEGER rank
    arithmetic — rank ceil(p*n) computed as (p_num*n + p_den-1) div p_den
    over a value-ordered window, never float interpolation (Spark's
    `percentile` and DuckDB's quantile_cont interpolate with doubles,
    which is exactly the cross-engine float hazard the integer form
    avoids). One shuffle on the group key; the k-th value is well-defined
    under ties because ordering is by value."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q"))
    w = Window.partitionBy("l_returnflag").orderBy("q")
    ranked = li.select(
        "l_returnflag", "q",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("l_returnflag")).alias("n"),
    )
    pick = (
        ranked.select(
            "l_returnflag", "q", "n",
            *[
                (F.col("rn") == F.expr(f"({num} * n + {den - 1}) div {den}"))
                .alias(f"is_p{name}")
                for name, num, den in
                (("50", 1, 2), ("90", 9, 10), ("99", 99, 100))
            ],
        )
    )
    return (
        pick.groupBy("l_returnflag")
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.max(F.when(F.col("is_p50"), F.col("q"))).alias("p50"),
            F.max(F.when(F.col("is_p90"), F.col("q"))).alias("p90"),
            F.max(F.when(F.col("is_p99"), F.col("q"))).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


_REL_QUANTILES_SQL = """
WITH r AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS BIGINT)) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       CAST(max(n) AS BIGINT) AS n_rows,
       max(CASE WHEN rn = (1 * n + 1) // 2 THEN q END) AS p50,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN q END) AS p90,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN q END) AS p99
FROM r GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_rel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


_REL_WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders WHERE o_custkey < 100 ORDER BY o_custkey, o_orderkey
"""


def q_rel_setop(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 150000).select("o_custkey")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return hi.intersect(urgent).orderBy("o_custkey")


_REL_SETOP_SQL = """
SELECT o_custkey FROM orders WHERE o_totalprice > 150000
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY o_custkey
"""


def q_rel_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.col("event_type"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type", "day")
    )


_REL_EVENTS_SQL = """
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_rel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
        .select("p_partkey", "p_name", F.round("p_retailprice", 2).alias("price"))
        .limit(20)
    )


_REL_TOPK_SQL = """
SELECT p_partkey, p_name, round(p_retailprice, 2) AS price
FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 20
"""


def q_rel_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage: JSON field extraction from events.props."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


_REL_JSON_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (grouping-sets family)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "sum_qty",
        )
        .orderBy("rf", "ls")
    )


_REL_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY rf, ls
"""


def q_rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all grouping-set combinations)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
        )
        .orderBy("rf", "ls")
    )


_REL_CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) ORDER BY rf, ls
"""


def q_rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (orders count per status x priority) — expressed as
    conditional aggregation so the plan is one groupBy, no special
    operator needed at scale."""
    o = _t(spark, sf_dir, "orders")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", pris)
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderstatus",
            *[F.coalesce(F.col(p), F.lit(0)).cast("long").alias(f"p{i + 1}")
              for i, p in enumerate(pris)],
        )
        .orderBy("o_orderstatus")
    )


_REL_PIVOT_SQL = """
SELECT o_orderstatus,
  CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p1,
  CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS p2,
  CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3,
  CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4,
  CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p5
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_rel_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no order above 100k."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


_REL_ANTIJOIN_SQL = """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
ORDER BY c_custkey
"""


def q_rel_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_REL_SEMIJOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
ORDER BY c_custkey
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023) oracle-checked
    end to end: the fixed 16-cell coarse quantizer (the embeddings of ids
    0..15 — same deterministic assignment as sim_ann_ivf, replayed in SQL
    with injected ||c||^2 literals, -2*dot distances and (d, j) tie order),
    within-cell cosine pairs at threshold 0.4, and the min-id-domination
    survivor rule via NOT-EXISTS. Pairwise work is O(sum |cell|^2), never
    all-pairs — n_centroids is the 100-TB knob (grow ~linearly with N)."""
    return dd.semantic_dedup(
        _emb(spark, sf_dir), dim=64, threshold=0.4, n_centroids=16,
    ).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
        "kept",
    ).orderBy("vec_id")


_DEDUP_SEMANTIC_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS j, v AS c FROM e WHERE vec_id < 16),
a AS (
  SELECT e.vec_id, e.v, cents.j,
         ({_duck_dot('cents.c', 'cents.c')})
         - 2 * ({_duck_dot('e.v', 'cents.c')}) AS d
  FROM e CROSS JOIN cents
),
r AS (
  SELECT vec_id, v, j,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
  FROM a
),
asg AS (SELECT vec_id, v, j AS cell FROM r WHERE rn = 1),
dom AS (
  SELECT DISTINCT y.vec_id AS b
  FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id
  WHERE round(({_duck_dot('x.v', 'y.v')}) /
              (sqrt({_duck_dot('x.v', 'x.v')}) *
               sqrt({_duck_dot('y.v', 'y.v')})), 6) >= 0.4
)
SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
       CAST(a.cell AS INTEGER) AS cell,
       CAST(CASE WHEN d.b IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM asg a LEFT JOIN dom d ON a.vec_id = d.b
ORDER BY vec_id
"""


def q_text_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher line/paragraph repetition rules (Rae et al. 2021, Table A1)
    oracle-checked end to end. The fixture docs are single-line, so the
    query derives a multi-line corpus deterministically (the
    text_boilerplate derived-input pattern): lines A/B/C are token slices
    [1..5]/[6..10]/[11..15]; every doc_id % 3 == 0 repeats line A, every
    doc_id % 5 == 0 repeats paragraph B — the oracle rebuilds the same
    corpus in SQL and replays the full duplicate-line/paragraph census
    (counts and char-weighted fractions, exact integer sums -> one double
    division -> round 6)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.split(F.col("text"), " ")
    la = F.array_join(F.slice(t, 1, 5), " ")
    lb = F.array_join(F.slice(t, 6, 5), " ")
    lc = F.array_join(F.slice(t, 11, 5), " ")
    para1 = F.concat(
        la, F.lit("\n"), lb, F.lit("\n"),
        F.when(F.col("doc_id") % 3 == 0, la).otherwise(lc))
    para3 = F.when(F.col("doc_id") % 5 == 0, lb).otherwise(
        F.concat(la, F.lit(" "), lc))
    seeded = d.select(
        "doc_id",
        F.concat(para1, F.lit("\n\n"), lb, F.lit("\n\n"), para3)
        .alias("text"))
    return (
        ts.gopher_repetition(seeded)
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "n_lines", "frac_dup_lines", "frac_dup_lines_chars",
                "n_paras", "frac_dup_paras", "frac_dup_paras_chars")
        .orderBy("doc_id")
    )


_TEXT_GOPHER_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (
  SELECT doc_id,
         coalesce(array_to_string(t[1:5], ' '), '') AS la,
         coalesce(array_to_string(t[6:10], ' '), '') AS lb,
         coalesce(array_to_string(t[11:15], ' '), '') AS lc
  FROM w
),
seeded AS (
  SELECT doc_id,
         la || chr(10) || lb || chr(10) ||
         (CASE WHEN doc_id % 3 = 0 THEN la ELSE lc END) ||
         chr(10) || chr(10) || lb || chr(10) || chr(10) ||
         (CASE WHEN doc_id % 5 = 0 THEN lb ELSE la || ' ' || lc END) AS text
  FROM s
),
lu AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS u FROM seeded),
lg AS (SELECT doc_id, u, count(*) AS cnt FROM lu
       WHERE trim(u) <> '' GROUP BY 1, 2),
lagg AS (
  SELECT doc_id, sum(cnt) AS n, sum(cnt - 1) AS dup,
         sum((cnt - 1) * len(u)) AS dupc, sum(cnt * len(u)) AS totc
  FROM lg GROUP BY 1
),
pu AS (SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS u
       FROM seeded),
pg AS (SELECT doc_id, u, count(*) AS cnt FROM pu
       WHERE trim(u) <> '' GROUP BY 1, 2),
pagg AS (
  SELECT doc_id, sum(cnt) AS n, sum(cnt - 1) AS dup,
         sum((cnt - 1) * len(u)) AS dupc, sum(cnt * len(u)) AS totc
  FROM pg GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(l.n, 0) AS BIGINT) AS n_lines,
       coalesce(round(l.dup / l.n, 6), 0.0) AS frac_dup_lines,
       coalesce(round(l.dupc / l.totc, 6), 0.0) AS frac_dup_lines_chars,
       CAST(coalesce(p.n, 0) AS BIGINT) AS n_paras,
       coalesce(round(p.dup / p.n, 6), 0.0) AS frac_dup_paras,
       coalesce(round(p.dupc / p.totc, 6), 0.0) AS frac_dup_paras_chars
FROM documents d
LEFT JOIN lagg l USING (doc_id)
LEFT JOIN pagg p USING (doc_id)
ORDER BY doc_id
"""


def q_text_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-ratio data selection (Xie et al. 2023,
    arXiv:2302.03169) oracle-checked end to end: hashed unigram buckets
    (md5 % 256 — the engine-portable feature hash), add-one-smoothed
    target/raw bucket counts, the linearized importance score as exact
    integer sums -> double products -> ONE division -> round(6), and the
    keep decision at threshold 1.0. Target corpus = every 7th doc (the
    derived-input pattern)."""
    from fonduer_spark.functions import sampling as sp

    d = _docs(spark, sf_dir)
    return sp.importance_ratio(
        d, d.where(F.col("doc_id") % 7 == 0), n_buckets=256, threshold=1.0,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "s_target", "s_raw", "score", "kept",
    ).orderBy("doc_id")


_TEXT_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_duck_hex8('md5(t)', 1)} % 256 AS b
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
        FROM documents)
  WHERE length(t) > 0
),
raw AS (SELECT b, count(*) AS raw_cnt FROM tok GROUP BY b),
tgt AS (SELECT b, count(*) AS tgt_cnt FROM tok
        WHERE doc_id % 7 = 0 GROUP BY b),
tot AS (SELECT (SELECT sum(raw_cnt) FROM raw) + 256 AS r_tot,
               (SELECT coalesce(sum(tgt_cnt), 0) FROM tgt) + 256 AS t_tot),
sums AS (
  SELECT tok.doc_id AS doc_id,
         sum(coalesce(tgt.tgt_cnt, 0) + 1) AS s_target,
         sum(raw.raw_cnt + 1) AS s_raw
  FROM tok JOIN raw ON tok.b = raw.b LEFT JOIN tgt ON tok.b = tgt.b
  GROUP BY tok.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(s.s_target, 0) AS BIGINT) AS s_target,
       CAST(coalesce(s.s_raw, 0) AS BIGINT) AS s_raw,
       coalesce(round((CAST(s.s_target AS DOUBLE) * tot.r_tot)
                      / (CAST(s.s_raw AS DOUBLE) * tot.t_tot), 6),
                0.0) AS score,
       CAST(CASE WHEN coalesce(round((CAST(s.s_target AS DOUBLE) * tot.r_tot)
                      / (CAST(s.s_raw AS DOUBLE) * tot.t_tot), 6), 0.0)
                      >= 1.0
                 THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM documents d LEFT JOIN sums s ON d.doc_id = s.doc_id CROSS JOIN tot
ORDER BY doc_id
"""


# the synthetic URL fixture: 8-doc groups share a page behind scheme-case /
# www / default-port / param-order / tracking-param / fragment / trailing-
# slash variants — every canonicalization rule is load-bearing for the
# group collapse the oracle checks
def _derived_urls(d: DataFrame) -> DataFrame:
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("https")) \
        .otherwise(F.lit("HTTPS"))
    host = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("Example.COM"))
        .when(F.col("doc_id") % 4 == 1, F.lit("www.example.com"))
        .when(F.col("doc_id") % 4 == 2, F.lit("example.com:443"))
        .otherwise(F.lit("example.com"))
    )
    path = F.concat(
        F.lit("/items/"), F.expr("doc_id div 8").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")))
    query = (
        F.when(F.col("doc_id") % 3 == 1, F.lit("?b=2&a=1&utm_source=feed"))
        .when(F.col("doc_id") % 3 == 2, F.lit("?a=1&b=2"))
        .otherwise(F.lit("?a=1&b=2&gclid=XYZ"))
    )
    frag = F.when(F.col("doc_id") % 5 == 0, F.lit("#sec")).otherwise(F.lit(""))
    return d.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), host, path, query, frag).alias("url"),
    )


def q_dedup_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl dedup over the input-hint table shape: the corpus web
    pages (url, warc_ts = epoch + doc_id seconds) unioned with a
    deterministic second crawl of every third url one day later;
    weburl.latest_snapshot keeps the newest snapshot per url via ONE
    groupBy max(struct) — no window sort. The oracle rebuilds both crawls
    from the doc_id formulas and replays max/count per url."""
    from fonduer_spark.corpus import make_web_pages
    from fonduer_spark.functions import weburl as wu

    pages = make_web_pages(spark, sf_dir).select("url", "warc_ts")
    doc_id = F.substring("url", 23, 6).cast("long")
    recrawl = (
        pages.where(doc_id % 3 == 0)
        .select("url", (F.col("warc_ts")
                        + F.expr("INTERVAL 1 DAY")).alias("warc_ts"))
    )
    return (
        wu.latest_snapshot(pages.unionByName(recrawl))
        .select("url", F.col("warc_ts").alias("kept_ts"), "n_versions")
        .orderBy("url")
    )


_DEDUP_RECRAWL_SQL = """
WITH c1 AS (
  SELECT """ + _url_sql("doc_id") + """
           AS url,
         TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (doc_id) SECOND
           AS warc_ts,
         doc_id
  FROM documents
),
u AS (
  SELECT url, warc_ts FROM c1
  UNION ALL
  SELECT url, warc_ts + INTERVAL 1 DAY FROM c1 WHERE doc_id % 3 = 0
)
SELECT url, max(warc_ts) AS kept_ts,
       CAST(count(*) AS BIGINT) AS n_versions
FROM u GROUP BY url ORDER BY url
"""


def q_dedup_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup with full RFC-3986-style canonicalization
    (weburl.canon_url: scheme/host case, www, default ports, tracking
    params, param sort, fragment, trailing slash) oracle-checked end to
    end — the oracle replays the ENTIRE canonicalization in DuckDB SQL
    over the same derived URL fixture, so every rule is hash-verified,
    not just the group collapse."""
    from fonduer_spark.functions import weburl as wu

    pages = _derived_urls(_docs(spark, sf_dir).select("doc_id"))
    return wu.dedup_urls(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "canon_url",
        F.col("canonical_id").cast("long").alias("canonical_id"),
        "kept",
    ).orderBy("doc_id")


_DEDUP_URLS_SQL = """
WITH p AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
    (CASE CAST(doc_id % 4 AS INTEGER)
       WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'www.example.com'
       WHEN 2 THEN 'example.com:443' ELSE 'example.com' END) ||
    '/items/' || CAST(doc_id // 8 AS VARCHAR) ||
    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
    (CASE CAST(doc_id % 3 AS INTEGER)
       WHEN 1 THEN '?b=2&a=1&utm_source=feed'
       WHEN 2 THEN '?a=1&b=2' ELSE '?a=1&b=2&gclid=XYZ' END) ||
    (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM p
),
hp AS (
  SELECT doc_id, scheme, rest,
    lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport
  FROM parts
),
c AS (
  SELECT doc_id,
    scheme || '://' ||
    regexp_replace(
      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
           ELSE hostport END,
      '^www\\.', '') ||
    regexp_replace(regexp_extract(rest, '^[^/?#]*([^?#]*)', 1),
                   '/+$', '') ||
    (CASE WHEN len(list_filter(
            string_split(regexp_extract(rest, '[?]([^#]*)', 1), '&'),
            x -> len(x) > 0 AND NOT regexp_matches(
              x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)=')))
          > 0
     THEN '?' || array_to_string(list_sort(list_filter(
            string_split(regexp_extract(rest, '[?]([^#]*)', 1), '&'),
            x -> len(x) > 0 AND NOT regexp_matches(
              x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)='))), '&')
     ELSE '' END) AS canon
  FROM hp
),
w AS (SELECT canon, min(doc_id) AS canonical_id FROM c GROUP BY canon)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       c.canon AS canon_url,
       CAST(w.canonical_id AS BIGINT) AS canonical_id,
       CAST(CASE WHEN c.doc_id = w.canonical_id THEN 1 ELSE 0 END
            AS INTEGER) AS kept
FROM c JOIN w USING (canon)
ORDER BY doc_id
"""


def q_text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style QUALITY-CLASSIFIER corpus filtering (the CCNet /
    LLaMA-pipeline step: train a linear classifier on hashed bag-of-words
    features against a reference corpus, keep docs the model scores
    target-like) — exercised through the package's real train+score path
    (learning.train_logreg -> score_margin_with_model/score_with_model)
    and replayed ARITHMETICALLY by the oracle, the kg_multiclass_discrim
    float-determinism discipline:

    - features: dense 64-bucket md5-hashed unigram counts (integers);
    - labels: lang == 'en' (the derived-input pattern);
    - fit: zero init, epochs=1, lr=0.5 (a power of two), l2=0 ->
      every gradient sum is an exact multiple of 0.5, so
      w_j = -(0.5*((0.5*I_j)/n)) with I_j = sum (1-2y)*cnt integer —
      ONE rounding division per weight, bit-replayable in SQL;
    - score: the margin fold runs left-to-right over the fixed bucket
      order (learning._margin_expr), zero entries are exact no-ops, so
      the oracle's list_reduce over the doc's nonzero buckets (ascending)
      reproduces the margin bit-for-bit; kept = sigmoid(margin) >= 0.5
      (== margin >= 0 away from the measure-zero boundary).
    """
    from fonduer_spark.learning import (
        score_margin_with_model, score_with_model, train_logreg)

    d = _docs(spark, sf_dir)
    tok = F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    cnts = (
        d.select("doc_id", tok)
        .where(F.length("tok") > 0)
        .select("doc_id",
                (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
                 .cast("long") % 64).alias("b"))
        .groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = cnts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("b", "cnt"))).alias("m"))
    keys_lit = F.array(*[F.lit(f"qb{j:02d}") for j in range(64)])
    vals = F.array(*[
        F.coalesce(F.element_at(F.col("m"), F.lit(j).cast("long")),
                   F.lit(0)).cast("double")
        for j in range(64)
    ])
    feats = (
        d.select("doc_id", "lang").join(m, "doc_id", "left")
        .select(
            F.col("doc_id").cast("string").alias("candidate_sid"),
            "doc_id", "lang",
            keys_lit.alias("keys"), vals.alias("values"))
    )
    marginals = feats.select(
        "candidate_sid",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("prob"))
    W, B = train_logreg(feats, marginals, l2=0.0, lr=0.5, epochs=1)
    scored = score_with_model(score_margin_with_model(feats, W, B), W, B)
    return scored.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("model_margin", 6).alias("margin"),
        (F.col("model_prob") >= 0.5).cast("int").alias("kept"),
    ).orderBy("doc_id")


_TEXT_QUALITY_MODEL_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_duck_hex8('md5(t)', 1)} % 64 AS b
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
        FROM documents)
  WHERE length(t) > 0
),
c AS (SELECT doc_id, b, count(*) AS cnt FROM tok GROUP BY 1, 2),
lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents),
nn AS (SELECT count(*) AS n FROM documents),
ij AS (
  SELECT c.b AS b, sum((1 - 2 * lab.y) * c.cnt) AS i_j
  FROM c JOIN lab USING (doc_id) GROUP BY c.b
),
wj AS (
  SELECT b, -(0.5 * ((0.5 * CAST(i_j AS DOUBLE)) / nn.n)) AS w
  FROM ij CROSS JOIN nn
),
wl AS (
  SELECT list(coalesce(wj.w, 0.0) ORDER BY r.j) AS wlist
  FROM range(0, 64) r(j) LEFT JOIN wj ON wj.b = r.j
),
bias AS (
  SELECT -(0.5 * ((0.5 * CAST(nn.n - 2 * s.sy AS DOUBLE)) / nn.n)) AS bv
  FROM nn CROSS JOIN (SELECT sum(y) AS sy FROM lab) s
),
pl AS (
  SELECT doc_id, list(struct_pack(b := b, cnt := cnt) ORDER BY b) AS ps
  FROM c GROUP BY doc_id
),
z AS (
  SELECT d.doc_id AS doc_id,
    CASE WHEN pl.ps IS NULL THEN bias.bv
         ELSE list_reduce(
                list_transform(pl.ps,
                  p -> wl.wlist[CAST(p.b AS INTEGER) + 1] * p.cnt),
                (a, x) -> a + x) + bias.bv
    END AS zv
  FROM documents d LEFT JOIN pl USING (doc_id)
  CROSS JOIN wl CROSS JOIN bias
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(zv, 6) AS margin,
       CAST(CASE WHEN zv >= 0 THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM z ORDER BY doc_id
"""


def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate corpus-wide k-NN graph (similarity.knn_graph): banded
    md5-Rademacher LSH candidates (the dedup_embcos family — never
    all-pairs), one cosine per undirected pair mirrored into both
    directions, per-source top-3 by (cos desc, dst). Buckets, cosines,
    and ranks all reproduce in the DuckDB oracle."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 600)
    return sim.knn_graph(emb, dim=64, k=3, n_planes=4, n_tables=4).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "cos",
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("src", "rank")


def q_rel_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE session_window
    (streaming.sessionize, 2-hour gap): per-user sessions, window =
    [first_ts, last_ts + gap). The oracle replays it relationally — lag
    island detection (diff >= gap starts a session, matching the
    half-open window), running-sum session ids, then the same census.
    Values are summed as exact integer cents so the aggregate is
    order-independent across engines."""
    from fonduer_spark.streaming import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, gap="2 hours").select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
    ).orderBy("user_id", "session_start")


_REL_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              >= INTERVAL 2 HOUR
         THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT user_id, ts, cents,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 2 HOUR AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-lite keyword retrieval (textstats.keyword_search): integer-
    quantized idf (N*10^6 div df), per-doc integer scores, global top-20
    by (score desc, id) planned as TakeOrderedAndProject. Exact integer
    arithmetic end to end — the oracle replays tf, df, idf and ranks."""
    return ts.keyword_search(
        _docs(spark, sf_dir), ["table", "merge", "stream"], top_k=20,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score").cast("long").alias("score"),
        "rank",
    ).orderBy("rank")


_TEXT_SEARCH_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
  FROM documents
),
hits AS (SELECT doc_id, t FROM tok
         WHERE t IN ('table', 'merge', 'stream')),
nn AS (SELECT count(*) AS n FROM documents),
idf AS (
  SELECT t, (nn.n * 1000000) // count(DISTINCT doc_id) AS idf
  FROM hits CROSS JOIN nn GROUP BY t, nn.n
),
tf AS (SELECT doc_id, t, count(*) AS tf FROM hits GROUP BY 1, 2),
sc AS (
  SELECT tf.doc_id AS doc_id, sum(tf.tf * idf.idf) AS score
  FROM tf JOIN idf USING (t) GROUP BY tf.doc_id
),
top AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM sc
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(score AS BIGINT) AS score,
       CAST(rank AS INTEGER) AS rank
FROM top WHERE rank <= 20 ORDER BY rank
"""


def q_rel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed as-of join (temporal.asof_join): every click event is
    matched to the most recent error event at-or-before it by the same
    user — the classic point-in-time lookup, built as ONE union + running
    window max of a fixed-width-packed (ts, id) string (no join
    explosion, one shuffle by user). The oracle replays the identical
    union-and-running-max construction; ties are total-ordered by
    (ts, side, packed) in both engines."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click")
    errors = ev.where(F.col("event_type") == "error")
    return tmpf.asof_join(
        clicks, errors, key="user_id", ts="ts", right_id="event_id",
    ).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        # -1 sentinel for "no error yet": keeps the column non-nullable so
        # pandas/arrow bridges can't widen BIGINT-with-NULLs to float64
        F.coalesce(F.col("asof_event_id"), F.lit(-1)).cast("long")
        .alias("asof_event_id"),
    ).orderBy("event_id")


_REL_ASOF_SQL = """
WITH u AS (
  SELECT user_id, ts, 0 AS side, CAST(NULL AS VARCHAR) AS packed, event_id
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, -1 AS side,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
         lpad(CAST(event_id AS VARCHAR), 12, '0') AS packed,
         NULL AS event_id
  FROM events WHERE event_type = 'error'
),
m AS (
  SELECT event_id, user_id, side,
         max(packed) OVER (PARTITION BY user_id ORDER BY ts, side, packed
                           ROWS UNBOUNDED PRECEDING) AS best
  FROM u
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(COALESCE(CAST(substr(best, 21, 12) AS BIGINT), -1) AS BIGINT)
         AS asof_event_id
FROM m WHERE side = 0
ORDER BY event_id
"""


def q_rel_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (temporal.range_join_agg): per view event, the
    count + exact-integer-cent sum of click events by the same user in
    the following 10 minutes. Spark plans an equi-join on (user, time
    bucket) with the probe side exploded to 2 buckets — never a cartesian
    (plan-asserted in tests) — then exact range filtering; the oracle is
    the plain inequality join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    views = ev.where(F.col("event_type") == "view")
    clicks = ev.where(F.col("event_type") == "click")
    return tmpf.range_join_agg(
        views, clicks, key="user_id", ts="ts", left_id="event_id",
        window_us=600_000_000, cents_col="value",
    ).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "n_after", "cents_after",
    ).orderBy("event_id")


_REL_RANGE_SQL = """
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS lus
           FROM events WHERE event_type = 'view'),
r AS (SELECT user_id, epoch_us(ts) AS rus,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'click')
SELECT CAST(l.event_id AS BIGINT) AS event_id,
       CAST(l.user_id AS BIGINT) AS user_id,
       CAST(count(r.rus) AS BIGINT) AS n_after,
       CAST(COALESCE(sum(r.cents), 0) AS BIGINT) AS cents_after
FROM l LEFT JOIN r
  ON r.user_id = l.user_id
 AND r.rus > l.lus AND r.rus <= l.lus + 600000000
GROUP BY l.event_id, l.user_id
ORDER BY event_id
"""


def q_rel_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (temporal.time_rollup): the
    per-hour AND per-day event rollups from ONE Spark ROLLUP pass (one
    scan, one shuffle, map-side partials — not one job per resolution).
    hour = -1 encodes the day-level row (no NULLs through the pandas
    bridge); sums are exact integer cents. The oracle is the same
    GROUP BY ROLLUP in DuckDB."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return tmpf.time_rollup(ev).orderBy("day", "hour")


_REL_ROLLUP_TIME_SQL = """
WITH b AS (
  SELECT date_trunc('day', ts) AS day, hour(ts) AS hour,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT day,
       CAST(COALESCE(hour, -1) AS BIGINT) AS hour,
       CAST(GROUPING(day, hour) AS BIGINT) AS level,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM b
GROUP BY ROLLUP(day, hour)
HAVING GROUPING(day, hour) < 3
ORDER BY day, hour
"""


def q_text_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token cardinality via the deterministic KMV
    bottom-k sketch (sketches.kmv_distinct) — the engine-reproducible
    alternative to HLL (Spark's HLL++ and DuckDB's HLL disagree by
    construction; md5 bottom-k + floor division replays bit-for-bit).
    The oracle rebuilds the k smallest 32-bit hash prefixes per language
    and applies the same (k-1)*2^32 div h_k estimator."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("tok"),
    )
    return (
        sk.kmv_distinct(toks, "tok", "lang", k=64)
        .select("lang",
                F.col("n_distinct_est").cast("long").alias("n_distinct_est"))
        .orderBy("lang")
    )


_TEXT_DISTINCT_KMV_SQL = f"""
WITH raw AS (
  SELECT lang,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
  FROM documents
),
tok AS (
  SELECT DISTINCT lang, {_duck_hex8("md5(t)", 1)} AS h FROM raw
),
topk AS (
  SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM tok
),
agg AS (
  SELECT lang, count(*) AS n, max(h) AS hk
  FROM topk WHERE rn <= 64 GROUP BY lang
)
SELECT lang,
       CAST(CASE WHEN n < 64 THEN n
                 ELSE (63 * 4294967296) // greatest(hk, 1) END AS BIGINT)
         AS n_distinct_est
FROM agg ORDER BY lang
"""


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph centrality over the MATERIALIZED triple graph: 3 iterations
    of exact-integer PageRank (linking.pagerank — floor-division only, so
    rank values are engine-reproducible bit-for-bit) on the (subj -> obj)
    edges the pipeline extracts. The oracle rebuilds the gold edge set
    from the corpus formulas and unrolls the SAME three integer
    iterations as CTEs."""
    triples = kg_stages(spark, sf_dir)["triples"]
    edges = triples.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return (
        pagerank(edges, iters=3, scale=10**12)
        .select(F.col("v").alias("node"),
                F.col("rank_scaled").cast("long").alias("rank_scaled"))
        .orderBy("node")
    )


def _kg_pagerank_sql(seeds: tuple = ()) -> str:
    # one integer PageRank step: contribs into v, then the damped update.
    # With seeds, restart mass (init + base term) lands on seeds ONLY —
    # the personalized variant, same floor-division arithmetic.
    if seeds:
        in_seeds = "IN (" + ", ".join(f"'{s}'" for s in seeds) + ")"
        init = f"CASE WHEN v {in_seeds} THEN 1000000000000 ELSE 0 END"
        base = f"CASE WHEN n.v {in_seeds} THEN 150000000000 ELSE 0 END"
    else:
        init = "1000000000000"
        base = "150000000000"
    step = """
c{i} AS (
  SELECT e.dst AS v, sum(r.rank // o.d) AS inflow
  FROM edges e
  JOIN r{p} r ON r.v = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.v, {base} + (85 * COALESCE(c.inflow, 0)) // 100 AS rank
  FROM nodes n LEFT JOIN c{i} c ON c.v = n.v
)"""
    steps = ",".join(step.format(i=i, p=i - 1, base=base)
                     for i in (1, 2, 3))
    return f"""
WITH docs AS (SELECT doc_id AS i FROM documents),
tabs AS (
  SELECT i, unnest(range(0, 1 + (i % 2) + CASE WHEN i % 50 = 0 THEN 6 ELSE 0 END)) AS t
  FROM docs
),
cells AS (SELECT i, t, unnest(range(0, 3 + ((i + t) % 3))) AS r FROM tabs),
edges AS (
  SELECT DISTINCT
    'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
         || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS src,
    CAST(85 + ((i*3 + r*7) % 60) AS VARCHAR) AS dst
  FROM cells
),
nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT v, CAST({init} AS BIGINT) AS rank FROM nodes),
{steps}
SELECT v AS node, CAST(rank AS BIGINT) AS rank_scaled
FROM r3 ORDER BY node
"""


def q_kg_pagerank_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank around a seed entity set (linking.pagerank
    with seeds): restart mass lands only on the seeds, so rank measures
    relevance to the query entities rather than global centrality — the
    standard KG neighborhood-ranking pass. Same exact-integer floor-
    division arithmetic as kg_pagerank; the oracle unrolls the same three
    seeded iterations as CTEs."""
    triples = kg_stages(spark, sf_dir)["triples"]
    edges = triples.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return (
        pagerank(edges, iters=3, scale=10**12, seeds=["85", "90", "95"])
        .select(F.col("v").alias("node"),
                F.col("rank_scaled").cast("long").alias("rank_scaled"))
        .orderBy("node")
    )


def q_kg_cooccur_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohesion census of the extracted KG: build the entity co-occurrence
    graph (edge = two part entities asserted in the same document at
    prob >= 0.5) and count triangles per node via degree-oriented
    compact-forward (linking.triangle_counts — the skew-safe MapReduce
    standard; orientation bounds wedge fan-out by O(sqrt(|E|)) so hub
    entities cannot blow up the join). The oracle rebuilds the per-doc
    entity census from the corpus formulas and replays the identical
    orientation + wedge-closure joins in SQL; all outputs exact integers."""
    from fonduer_spark.linking import cooccurrence_edges, triangle_counts
    from fonduer_spark.triples import normalize_surface

    scored = kg_stages(spark, sf_dir)["scored"]
    ents = scored.where(F.col("prob") >= 0.5).select(
        "url", normalize_surface(F.col("a_span_text")).alias("ent"))
    edges = cooccurrence_edges(ents, doc_col="url", ent_col="ent")
    return triangle_counts(edges).orderBy("node")


_KG_COOCCUR_TRIANGLES_SQL = """
WITH docs AS (SELECT doc_id AS i FROM documents),
tabs AS (
  SELECT i, unnest(range(0, 1 + (i % 2) + CASE WHEN i % 50 = 0 THEN 6 ELSE 0 END)) AS t
  FROM docs
),
cells AS (SELECT i, t, unnest(range(0, 3 + ((i + t) % 3))) AS r FROM tabs),
ents AS (
  SELECT DISTINCT i,
    'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
         || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS ent
  FROM cells
),
edges AS (
  SELECT DISTINCT x.ent AS a, y.ent AS b
  FROM ents x JOIN ents y ON x.i = y.i AND x.ent < y.ent
),
deg AS (
  SELECT v, count(*) AS degree
  FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY v
),
orient AS (
  SELECT
    CASE WHEN da.degree < db.degree
              OR (da.degree = db.degree AND e.a < e.b)
         THEN e.a ELSE e.b END AS lo,
    CASE WHEN da.degree < db.degree
              OR (da.degree = db.degree AND e.a < e.b)
         THEN e.b ELSE e.a END AS hi
  FROM edges e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
),
wed AS (
  SELECT p.lo AS apex, p.hi AS h1, q.hi AS h2
  FROM orient p JOIN orient q ON p.lo = q.lo AND p.hi < q.hi
),
tri AS (SELECT apex, h1, h2 FROM wed JOIN edges e ON e.a = wed.h1 AND e.b = wed.h2),
pern AS (
  SELECT v, count(*) AS nt
  FROM (SELECT apex AS v FROM tri
        UNION ALL SELECT h1 FROM tri
        UNION ALL SELECT h2 FROM tri)
  GROUP BY v
)
SELECT deg.v AS node,
       CAST(deg.degree AS BIGINT) AS degree,
       CAST(COALESCE(pern.nt, 0) AS BIGINT) AS n_triangles
FROM deg LEFT JOIN pern ON pern.v = deg.v
ORDER BY node
"""


# Gold (part -> temp) edge CTEs shared by the neighborhood-function
# oracles — identical formulas to _kg_pagerank_sql's edge rebuild; the
# {doc_filter} slot subsamples docs for the exact variant (exact h-hop
# expansion is Theta(sum deg^h), so the exact query runs on a
# deterministic 1-in-20 doc subset while the KMV sketch variant takes the
# FULL graph — that asymmetry IS the operator's scale story).
_GOLD_EDGE_CTES = """
docs AS (SELECT doc_id AS i FROM documents{doc_filter}),
tabs AS (
  SELECT i, unnest(range(0, 1 + (i % 2) + CASE WHEN i % 50 = 0 THEN 6 ELSE 0 END)) AS t
  FROM docs
),
cells AS (SELECT i, t, unnest(range(0, 3 + ((i + t) % 3))) AS r FROM tabs),
edges AS (
  SELECT DISTINCT
    'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
         || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS src,
    CAST(85 + ((i*3 + r*7) % 60) AS VARCHAR) AS dst
  FROM cells
),
sym AS (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst, src FROM edges WHERE src <> dst
)"""


def _kg_edge_pairs(spark: SparkSession, sf_dir: str, every: int = 0):
    """Asserted (src, dst) entity pairs from the scored candidate frame at
    prob >= 0.5 (the same edge set materialize_triples keeps — max(prob)
    >= t over a group iff any member >= t); ``every`` > 0 keeps only docs
    whose id is a multiple (deterministic subsample, replayed by the
    oracle's doc_filter)."""
    scored = kg_stages(spark, sf_dir)["scored"]
    kept = scored.where(F.col("prob") >= 0.5)
    if every:
        doc_i = F.expr("try_cast(substr(url, -6) as int)")
        kept = kept.where(doc_i % int(every) == 0)
    return kept.select(
        normalize_surface(F.col("a_span_text")).alias("src"),
        normalize_surface(F.col("b_span_text")).alias("dst"),
    )


def q_kg_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 2-hop neighborhood census over the extracted entity graph
    (linking.neighborhood_counts): per node, degree and #distinct nodes
    within 2 hops — on a deterministic 1-in-20 doc subsample, because
    exact h-hop expansion is Theta(sum deg^h) and the operator HARD-FAILS
    on hubs rather than hiding the blow-up (max_degree guard). The oracle
    rebuilds the gold edges for the same doc subset and replays the
    symmetric self-join + distinct-union reach count."""
    from fonduer_spark.linking import neighborhood_counts

    pairs = _kg_edge_pairs(spark, sf_dir, every=20)
    return neighborhood_counts(pairs, hops=2).orderBy("node")


_KG_2HOP_SQL = f"""
WITH {_GOLD_EDGE_CTES.format(doc_filter=" WHERE doc_id % 20 = 0")},
deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY src),
hop2 AS (
  SELECT DISTINCT f.src AS src, s.dst AS dst
  FROM sym f JOIN sym s ON f.dst = s.src
  WHERE f.src <> s.dst
),
reach AS (SELECT src, dst FROM sym UNION SELECT src, dst FROM hop2),
cnt AS (SELECT src, count(*) AS n_reach FROM reach GROUP BY src)
SELECT c.src AS node,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(c.n_reach AS BIGINT) AS n_reach
FROM cnt c JOIN deg d ON d.src = c.src
ORDER BY node
"""


def q_kg_2hop_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched 2-hop neighborhood sizes on the FULL entity graph — the
    ANF/HyperBall scale path (linking.neighborhood_kmv): per-node
    bottom-64 KMV sketches of md5 neighbor hashes, merged one hop via a
    single |E|-linear join (NO dependence on hub degree — the reason the
    sketch family exists), re-estimated with the exact-integer
    (k-1)*2^32 div h_k rule. Deterministic end-to-end, so the oracle
    replays every estimate bit-for-bit."""
    from fonduer_spark.linking import neighborhood_kmv

    pairs = _kg_edge_pairs(spark, sf_dir)
    return neighborhood_kmv(pairs, k=64).orderBy("node")


def _kg_2hop_kmv_sql() -> str:
    h_dst = _duck_hex8("md5(dst)", 1)
    h_self = _duck_hex8("md5(src)", 1)
    return f"""
WITH {_GOLD_EDGE_CTES.format(doc_filter="")},
nh AS (SELECT DISTINCT src, {h_dst} AS h FROM sym),
sk1 AS (
  SELECT src, h FROM (
    SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h) AS rn
    FROM nh
  ) WHERE rn <= 64
),
pulled AS (SELECT e.src AS src, m.h AS h FROM sym e JOIN sk1 m ON m.src = e.dst),
merged AS (
  SELECT src, h,
         row_number() OVER (PARTITION BY src ORDER BY h) AS rn
  FROM (SELECT src, h FROM sk1 UNION SELECT src, h FROM pulled)
  WHERE h <> {h_self}
),
agg AS (SELECT src, count(*) AS n, max(h) AS hk FROM merged WHERE rn <= 64 GROUP BY src)
SELECT src AS node,
       CAST(CASE WHEN n < 64 THEN n
                 ELSE (63 * 4294967296) // greatest(hk, 1) END AS BIGINT)
         AS n_2hop_est
FROM agg ORDER BY node
"""


def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (functions/bpe.py): one
    corpus-wide word-frequency census, then 3 merge rounds over the
    vocab-sized table — winner per round by exact-integer pair count with
    (count DESC, left, right) tie-break; merges applied via leftmost
    non-overlapping string replace, identical semantics in both engines.
    The oracle unrolls the same 3 rounds as chained CTEs."""
    from fonduer_spark.functions import bpe

    return bpe.bpe_train(_docs(spark, sf_dir), text_col="text", rounds=3)


def _text_bpe_train_sql() -> str:
    # double-space symbol gaps + single-space sentinels: replace of
    # ' l  r ' -> ' lr ' is exact greedy BPE application (see
    # fonduer_spark/functions/bpe.py module docstring)
    rnd = """
sy{k} AS (SELECT freq, string_split(trim(seq), '  ') AS s FROM s{p}),
pr{k} AS (SELECT s[i] AS l, s[i+1] AS r, freq
          FROM sy{k}, unnest(range(1, len(s))) AS u(i)),
cn{k} AS (SELECT l, r, sum(freq) AS cnt FROM pr{k} GROUP BY l, r),
t{k} AS (SELECT l, r, l || r AS m, cnt FROM cn{k}
         ORDER BY cnt DESC, l, r LIMIT 1),
s{k} AS (SELECT freq,
           replace(seq,
                   ' ' || (SELECT l FROM t{k}) || '  ' || (SELECT r FROM t{k}) || ' ',
                   ' ' || (SELECT m FROM t{k}) || ' ') AS seq
         FROM s{p})"""
    rounds = ",".join(rnd.format(k=k, p=k - 1) for k in (1, 2, 3))
    return f"""
WITH words AS (
  SELECT w AS word, count(*) AS freq
  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
s0 AS (SELECT freq,
         ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS seq
       FROM words),
{rounds}
SELECT CAST(k AS INTEGER) AS round, l AS left_sym, r AS right_sym,
       m AS merged, CAST(cnt AS BIGINT) AS pair_count
FROM (SELECT 1 AS k, l, r, m, cnt FROM t1
      UNION ALL SELECT 2, l, r, m, cnt FROM t2
      UNION ALL SELECT 3, l, r, m, cnt FROM t3)
ORDER BY round
"""


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer train + encode end-to-end: learn 3 BPE merges from the
    corpus (bpe_train), then apply them in round order to every document
    and count the resulting tokens per doc (bpe_encode — one corpus pass
    of pure column replaces + one groupBy). The oracle chains the same
    training CTEs and replays the per-doc encode with the learned merges
    as scalar subqueries."""
    from fonduer_spark.functions import bpe

    docs = _docs(spark, sf_dir)
    merges = bpe.bpe_train(docs, text_col="text", rounds=3)
    return (
        bpe.bpe_encode(docs, merges, text_col="text", id_col="doc_id")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "n_tokens")
        .orderBy("doc_id")
    )


def _text_bpe_encode_sql() -> str:
    # reuse the training rounds (t1..t3, s0..s3 CTEs), then encode the
    # per-doc word stream with the learned merges applied in round order
    train = _text_bpe_train_sql()
    train_ctes = train.split("WITH ", 1)[1].rsplit("SELECT CAST(k", 1)[0]
    train_ctes = train_ctes.rstrip().rstrip(",")
    enc = """
docw AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
  FROM documents
),
e0 AS (
  SELECT doc_id,
         ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS seq
  FROM docw WHERE w <> ''
),
e1 AS (SELECT doc_id,
         replace(seq, ' ' || (SELECT l FROM t1) || '  ' || (SELECT r FROM t1) || ' ',
                 ' ' || (SELECT m FROM t1) || ' ') AS seq FROM e0),
e2 AS (SELECT doc_id,
         replace(seq, ' ' || (SELECT l FROM t2) || '  ' || (SELECT r FROM t2) || ' ',
                 ' ' || (SELECT m FROM t2) || ' ') AS seq FROM e1),
e3 AS (SELECT doc_id,
         replace(seq, ' ' || (SELECT l FROM t3) || '  ' || (SELECT r FROM t3) || ' ',
                 ' ' || (SELECT m FROM t3) || ' ') AS seq FROM e2),
cnt AS (
  SELECT doc_id, sum(len(string_split(trim(seq), '  '))) AS n_tokens
  FROM e3 GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(cnt.n_tokens, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN cnt USING (doc_id)
ORDER BY doc_id
"""
    return "WITH " + train_ctes + "," + enc


def q_sim_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering = connected components over the thresholded
    approximate k-NN graph (similarity.semantic_clusters): knn_graph edges
    at cos >= 0.4, undirected, every vector a vertex (singletons survive),
    cluster = smallest member id. The oracle replays the knn construction
    AND the transitive closure (recursive CTE) AND the size census."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 600)
    return sim.semantic_clusters(
        emb, dim=64, threshold=0.4, k=3, n_planes=4, n_tables=4,
    ).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.col("n_members").cast("long").alias("n_members"),
    ).orderBy("vec_id")


_SIM_CLUSTERS_SQL = f"""
WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE vec_id < 600),
keyed AS (SELECT vec_id, unnest([{_EMB_LSH_BAND_KEYS}]) AS bk FROM e),
pairs AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM keyed x JOIN keyed y USING (bk) WHERE x.vec_id < y.vec_id
),
sc AS (
  SELECT a, b,
    round({_duck_dot('ea.v', 'eb.v')} /
          (sqrt({_duck_dot('ea.v', 'ea.v')}) *
           sqrt({_duck_dot('eb.v', 'eb.v')})), 6) AS cos
  FROM pairs JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
),
edges AS (
  SELECT a AS src, b AS dst, cos FROM sc
  UNION ALL
  SELECT b AS src, a AS dst, cos FROM sc
),
r AS (
  SELECT src, dst, cos,
         row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
  FROM edges
),
sel AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM r WHERE rank <= 3 AND cos >= 0.4 GROUP BY 1, 2
),
verts AS (SELECT vec_id AS x FROM e),
sym AS (SELECT a, b FROM sel UNION ALL SELECT b AS a, a AS b FROM sel),
reach AS (
  SELECT x AS v, x AS c FROM verts
  UNION
  SELECT s.b AS v, r2.c AS c FROM reach r2 JOIN sym s ON s.a = r2.v
),
comp AS (SELECT v, min(c) AS cluster FROM reach GROUP BY v),
sz AS (SELECT cluster, count(*) AS n_members FROM comp GROUP BY cluster)
SELECT CAST(comp.v AS BIGINT) AS vec_id,
       CAST(comp.cluster AS BIGINT) AS cluster,
       CAST(sz.n_members AS BIGINT) AS n_members
FROM comp JOIN sz USING (cluster)
ORDER BY vec_id
"""


_SIM_KNN_GRAPH_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id < 600),
keyed AS (SELECT vec_id, unnest([{_EMB_LSH_BAND_KEYS}]) AS bk FROM e),
pairs AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM keyed x JOIN keyed y USING (bk) WHERE x.vec_id < y.vec_id
),
sc AS (
  SELECT a, b,
    round({_duck_dot('ea.v', 'eb.v')} /
          (sqrt({_duck_dot('ea.v', 'ea.v')}) *
           sqrt({_duck_dot('eb.v', 'eb.v')})), 6) AS cos
  FROM pairs JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
),
edges AS (
  SELECT a AS src, b AS dst, cos FROM sc
  UNION ALL
  SELECT b AS src, a AS dst, cos FROM sc
),
r AS (
  SELECT src, dst, cos,
         row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
  FROM edges
)
SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, cos,
       CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3 ORDER BY src, rank
"""


def q_sim_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized maximum-inner-product top-k
    (similarity.quantized_topk): per-vector symmetric scalar quantization
    (scale = max|v|/127, codes = floor(v*127/max|v|)) then top-k by the
    rescaled int64 code dot — the 4x-compressed index path. floor (not
    round) and integer dots make every rank and 6-decimal score
    bit-reproducible in the DuckDB oracle."""
    return sim.quantized_topk(_emb(spark, sf_dir), _QUERY_IDS, k=5).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "qscore",
        F.col("rank").cast("long").alias("rank"),
    )


_QZ_CODES = """
codes AS (
  SELECT vec_id, maxabs,
         CASE WHEN maxabs = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(
                     v, x -> CAST(floor(x * 127.0 / maxabs) AS BIGINT))
         END AS c
  FROM (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS maxabs
        FROM e)
)"""

_SIM_QUANTIZED_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_QZ_CODES},
q AS (SELECT vec_id AS query_id, c AS qc, maxabs AS qm FROM codes
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
scored AS (
  SELECT q.query_id, n.vec_id AS neighbor_id,
         CAST({_duck_dot('q.qc', 'n.c')} AS DOUBLE)
           * (q.qm / 127.0) * (n.maxabs / 127.0) AS s
  FROM q, codes n WHERE n.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY s DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       round(s, 6) AS qscore, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_text_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (sketches.bloom_build/bloom_contains): the
    bounded-memory seen-set for 10^12-row streams. Build a 1024-bit bitmap
    (packed int64 words, ONE map-side-combinable bit_or groupBy) over the
    tokens of even-numbered documents, probe the distinct tokens of odd
    documents — member = 1 has no false negatives and a measurable
    false-positive share; the oracle replays every decision via
    distinct-position membership (bit (w, b) set <=> some inserted token
    hashed to position 64w + b), with the same Kirsch-Mitzenmacher
    double-hash positions as the minhash_km family."""
    docs = _docs(spark, sf_dir)

    def toks(side: DataFrame) -> DataFrame:
        return side.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
            .alias("tok")
        ).where(F.length("tok") > 0)

    ins = toks(docs.where(F.col("doc_id") % 2 == 0))
    probes = toks(docs.where(F.col("doc_id") % 2 == 1))
    bm = sk.bloom_build(ins, "tok", m=1024, k_hashes=3)
    return sk.bloom_contains(bm, probes, "tok", m=1024, k_hashes=3).orderBy(
        "tok")


def _bloom_pos_sql(h: str, m: int) -> str:
    return (f"({_duck_hex8(h, 1)} + j * {_duck_hex8(h, 9)}) % {int(m)}")


_TEXT_BLOOM_SQL = f"""
WITH it AS (
  SELECT unnest({_DD_TOKS}) AS tok FROM documents WHERE doc_id % 2 = 0
),
ih AS (SELECT DISTINCT tok, md5(tok) AS h FROM it WHERE length(tok) > 0),
ipos AS (
  SELECT DISTINCT {_bloom_pos_sql('h', 1024)} AS pos
  FROM ih CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
),
pt AS (
  SELECT unnest({_DD_TOKS}) AS tok FROM documents WHERE doc_id % 2 = 1
),
ph AS (SELECT DISTINCT tok, md5(tok) AS h FROM pt WHERE length(tok) > 0),
ppos AS (
  SELECT tok, {_bloom_pos_sql('h', 1024)} AS pos
  FROM ph CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
)
SELECT tok,
       CAST(min(CASE WHEN pos IN (SELECT pos FROM ipos) THEN 1 ELSE 0 END)
            AS INTEGER) AS member
FROM ppos GROUP BY tok ORDER BY tok
"""


def q_text_split_leakfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/holdout split (sampling.leakage_safe_split):
    near-dup clusters never straddle the split — the whole cluster
    inherits ONE deterministic Bernoulli decision keyed on its canonical
    id (md5 threshold, the text_sample rule), so a held-out doc can never
    have a near-twin in train. Composes the full dedup_keep chain
    (MinHash-LSH pairs -> Jaccard verify -> connected components); the
    oracle replays it with the recursive-CTE closure + the same md5
    threshold on COALESCE(canonical, doc_id)."""
    from fonduer_spark.functions import sampling as sp

    return sp.leakage_safe_split(
        _docs(spark, sf_dir), frac_train=0.8, salt="bench",
        k=16, bands=8, shingle_n=3, threshold=0.1,
    ).orderBy("doc_id")


_SPLIT_KEY = "COALESCE(comp.canonical, d.doc_id)"
_TEXT_SPLIT_LEAKFREE_SQL = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS doc, {_DD_SHINGLES3} AS shingles FROM documents
),
sig AS (SELECT doc, {_LSH_SIG_COLS} FROM sh),
keyed AS (SELECT doc, unnest([{_LSH_BAND_KEYS}]) AS bk FROM sig),
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM keyed x JOIN keyed y USING (bk) WHERE x.doc < y.doc
),
e AS (
  SELECT a, b FROM cand
  JOIN sh sa ON sa.doc = a JOIN sh sb ON sb.doc = b
  WHERE round(len(list_intersect(sa.shingles, sb.shingles)) /
        (len(sa.shingles) + len(sb.shingles)
         - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.1
),
verts AS (SELECT a AS x FROM e UNION SELECT b FROM e),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
reach AS (
  SELECT x AS v, x AS c FROM verts
  UNION
  SELECT s.b AS v, r.c AS c FROM reach r JOIN sym s ON s.a = r.v
),
comp AS (SELECT v, min(c) AS canonical FROM reach GROUP BY v)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST({_SPLIT_KEY} AS BIGINT) AS split_key,
       CASE WHEN {_duck_hex8(
           f"md5(CAST({_SPLIT_KEY} AS VARCHAR) || ':bench')", 1)}
              / 4294967296.0 < CAST(0.8 AS DOUBLE)
            THEN 'train' ELSE 'holdout' END AS split
FROM documents d LEFT JOIN comp ON comp.v = d.doc_id
ORDER BY doc_id
"""


def q_kg_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop shortest-path distances from a seed entity set over
    the extracted entity graph (linking.bfs_distances): frontier BFS, one
    shuffle join + one settled-set anti-join per hop — k bounded rounds
    regardless of graph size. Same 1-in-20 doc subsample and symmetrized
    gold edge set as kg_2hop; the oracle replays it with a depth-bounded
    recursive CTE + min(d) per node."""
    from fonduer_spark.linking import bfs_distances

    pairs = _kg_edge_pairs(spark, sf_dir, every=20)
    e = pairs.where(F.col("src") != F.col("dst")).distinct()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return bfs_distances(sym, ["85", "90", "95"], max_hops=3).select(
        "node", F.col("dist").cast("long").alias("dist")).orderBy("node")


_KG_SHORTEST_PATHS_SQL = f"""
WITH RECURSIVE {_GOLD_EDGE_CTES.format(doc_filter=" WHERE doc_id % 20 = 0")},
nodes AS (SELECT DISTINCT src AS node FROM sym),
reach AS (
  SELECT node, 0 AS d FROM nodes WHERE node IN ('85', '90', '95')
  UNION
  SELECT s.dst AS node, r.d + 1 AS d
  FROM reach r JOIN sym s ON s.src = r.node
  WHERE r.d < 3
)
SELECT node, CAST(min(d) AS BIGINT) AS dist
FROM reach GROUP BY node ORDER BY node
"""


def q_mm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup over the media payload column
    (multimodal.media_dedup_exact): content key = md5 of the payload
    BYTES (no decode, any modality), canonical = smallest media_id per
    content group, per-row keep decisions. The oracle hashes the same
    utf-8 bytes via md5(text)."""
    media = mm.media_from_docs(_docs(spark, sf_dir))
    return mm.media_dedup_exact(media).orderBy("media_id")


_MM_DEDUP_SQL = """
WITH keyed AS (
  SELECT doc_id AS media_id, md5(text) AS content_key FROM documents
),
groups AS (
  SELECT content_key, min(media_id) AS canonical, count(*) AS n_copies
  FROM keyed GROUP BY content_key
)
SELECT CAST(k.media_id AS BIGINT) AS media_id, k.content_key,
       CAST(g.canonical AS BIGINT) AS canonical,
       CAST(g.n_copies AS BIGINT) AS n_copies,
       CAST(CASE WHEN k.media_id = g.canonical THEN 1 ELSE 0 END AS INTEGER)
         AS kept
FROM keyed k JOIN groups g USING (content_key)
ORDER BY media_id
"""


def q_kg_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the extracted entity graph
    (linking.link_prediction_scores): for every NON-adjacent pair sharing
    >= 2 neighbors, the exact common-neighbor count plus the
    resource-allocation index in integer micro-units (per-apex
    1000000 div deg, integer-summed — no float order-dependence, no
    transcendentals, so DuckDB replays every score bit-for-bit). Same
    gold edge set as kg_2hop on a denser 1-in-5 doc subsample (wedge
    work is Theta(sum deg^2), cheaper than exact 2-hop reach, so the
    operator affords 4x the docs); wedge fan-out is
    apex-degree-capped (the curse-of-the-last-reducer guard, replayed
    identically by the oracle)."""
    from fonduer_spark.linking import link_prediction_scores

    pairs = _kg_edge_pairs(spark, sf_dir, every=5)
    return link_prediction_scores(
        pairs, min_common=2, max_apex_degree=10_000).orderBy("a", "b")


_KG_LINKPRED_SQL = f"""
WITH {_GOLD_EDGE_CTES.format(doc_filter=" WHERE doc_id % 5 = 0")},
deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY src),
apex AS (
  SELECT s.src AS apex, s.dst AS n, 1000000 // d.degree AS w
  FROM sym s JOIN deg d ON d.src = s.src
  WHERE d.degree <= 10000
),
wed AS (
  SELECT f.n AS a, s.n AS b, f.w
  FROM apex f JOIN apex s ON f.apex = s.apex
  WHERE f.n < s.n
),
sc AS (
  SELECT a, b, count(*) AS cn, sum(w) AS ra
  FROM wed GROUP BY a, b HAVING count(*) >= 2
),
und AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst)
SELECT sc.a AS a, sc.b AS b,
       CAST(cn AS BIGINT) AS cn, CAST(ra AS BIGINT) AS ra_micros
FROM sc ANTI JOIN und ON sc.a = und.a AND sc.b = und.b
ORDER BY a, b
"""


def q_rel_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance record linkage
    (linking.fuzzy_join_levenshtein): clean part catalog vs a
    deterministically-dirtied copy (1-in-3 names get a suffix append,
    1-in-3 a prefix substitution — each variant breaks exactly one of
    the two blocking keys, so BOTH passes are exercised). Candidates =
    prefix-8 + suffix-8 equi-join blocks unioned; verify = banded JVM
    levenshtein(threshold=2). Never cartesian. The oracle replays the
    identical blocking union + full levenshtein in DuckDB."""
    from fonduer_spark.linking import fuzzy_join_levenshtein

    p = _t(spark, sf_dir, "part")
    clean = p.select("p_partkey", "p_name")
    dirty = p.select(
        F.col("p_partkey").alias("d_partkey"),
        F.when(F.col("p_partkey") % 3 == 0,
               F.concat(F.col("p_name"), F.lit("x")))
        .when(F.col("p_partkey") % 3 == 1,
              F.concat(F.lit("z"), F.expr("substr(p_name, 2)")))
        .otherwise(F.col("p_name")).alias("d_name"),
    )
    return fuzzy_join_levenshtein(
        clean, dirty, "p_partkey", "d_partkey", "p_name", "d_name",
        max_dist=2, block_len=8,
    ).orderBy("left_id", "right_id")


_REL_FUZZY_JOIN_SQL = """
WITH dirty AS (
  SELECT p_partkey AS d_partkey,
         CASE WHEN p_partkey % 3 = 0 THEN p_name || 'x'
              WHEN p_partkey % 3 = 1 THEN 'z' || substr(p_name, 2)
              ELSE p_name END AS d_name
  FROM part
),
lblk AS (
  SELECT p_partkey, p_name, substr(p_name, 1, 8) AS bk FROM part
  UNION ALL
  SELECT p_partkey, p_name,
         substr(p_name, greatest(length(p_name) - 7, 1)) AS bk FROM part
),
rblk AS (
  SELECT d_partkey, d_name, substr(d_name, 1, 8) AS bk FROM dirty
  UNION ALL
  SELECT d_partkey, d_name,
         substr(d_name, greatest(length(d_name) - 7, 1)) AS bk FROM dirty
),
cand AS (
  SELECT DISTINCT p_partkey, d_partkey, p_name, d_name
  FROM lblk JOIN rblk USING (bk)
)
SELECT p_partkey AS left_id,
       d_partkey AS right_id,
       CAST(levenshtein(p_name, d_name) AS INTEGER) AS lev_dist
FROM cand
WHERE levenshtein(p_name, d_name) <= 2
ORDER BY left_id, right_id
"""


def q_rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped 2-D skyline / Pareto frontier (functions.skyline): per
    return-flag, the line items no other same-flag item beats on BOTH
    cheaper price AND larger quantity (one strict). Two-phase distributed
    sort-scan: partition-local prune (safe — a locally-dominated point
    is globally dominated) then a per-group exact pass; grouped form has
    NO single-partition exchange. Pure comparisons, no arithmetic — no
    cross-engine float hazard; the oracle replays the sort-scan
    characterization (frontier iff qty strictly exceeds the running max
    over all weakly-cheaper points) in one DuckDB window."""
    from fonduer_spark.functions.skyline import skyline_min_max

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("qty"))
    return skyline_min_max(
        li, "price", "qty", by=["flag"]).orderBy("flag", "price")


_REL_SKYLINE_SQL = """
WITH pts AS (
  SELECT DISTINCT l_returnflag AS flag, l_extendedprice AS price,
         l_quantity AS qty
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
scan AS (
  SELECT flag, price, qty,
         max(qty) OVER (PARTITION BY flag ORDER BY price ASC, qty DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS rm
  FROM pts
)
SELECT flag, price, qty FROM scan
WHERE rm IS NULL OR qty > rm
ORDER BY flag, price
"""


def q_dedup_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity self-join via prefix
    filtering (dedup.set_similarity_join, PPJoin-style): 3-gram shingle
    sets, global rare-first token order, per-set prefix of length
    n - ceil(t*n) + 1, candidates = prefix-token equi-join — never
    all-pairs. The oracle is the BRUTE-FORCE all-pairs ground truth, so
    the prefix filter's zero-false-negative completeness guarantee is
    itself what gets oracle-checked (vs dedup_lsh_verified, whose
    approximate recall is by construction < 1)."""
    return dd.set_similarity_join(
        _docs(spark, sf_dir), threshold=0.25, shingle_n=3
    ).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("inter").cast("long").alias("inter"),
        "jaccard",
    ).orderBy("a", "b")


_DD_SHINGLES3 = f"""
CASE WHEN len({_DD_TOKS}) >= 3 THEN
  list_transform(range(0, len({_DD_TOKS}) - 2),
                 i -> array_to_string(({_DD_TOKS})[i+1:i+3], ' '))
ELSE [array_to_string({_DD_TOKS}, ' ')] END
"""

_DEDUP_SETJOIN_SQL = f"""
WITH ds AS (
  SELECT doc_id AS doc,
         list_filter(list_distinct({_DD_SHINGLES3}),
                     s -> length(s) > 0) AS sh
  FROM documents
),
ds2 AS (SELECT doc, sh FROM ds WHERE len(sh) > 0),
sz AS (SELECT doc, len(sh) AS n FROM ds2),
ex AS (SELECT doc, unnest(sh) AS s FROM ds2),
c AS (
  SELECT x.doc AS a, y.doc AS b, CAST(count(*) AS BIGINT) AS inter
  FROM ex x JOIN ex y USING (s) WHERE x.doc < y.doc GROUP BY 1, 2
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, inter,
       round(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM c JOIN sz sa ON c.a = sa.doc JOIN sz sb ON c.b = sb.doc
WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.25
ORDER BY a, b
"""


def q_rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel (analytics.funnel): users completing
    view -> click -> purchase in strict timestamp order; stage k joins
    only stage-(k-1) survivors (cascading semi-join, monotonically
    shrinking frames, every shuffle on the user key). All-integer
    output; the oracle replays the cascade as chained CTEs."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return an.funnel(ev, ["view", "click", "purchase"]).orderBy("stage")


_REL_FUNNEL_SQL = """
WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
       WHERE e.event_type = 'click' GROUP BY e.user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT CAST(0 AS INTEGER) AS stage, 'view' AS step,
       CAST(count(*) AS BIGINT) AS n_users FROM s0
UNION ALL
SELECT CAST(1 AS INTEGER), 'click', CAST(count(*) AS BIGINT) FROM s1
UNION ALL
SELECT CAST(2 AS INTEGER), 'purchase', CAST(count(*) AS BIGINT) FROM s2
ORDER BY stage
"""


def q_rel_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (analytics.cohort_retention): cohort =
    Monday-truncated week of each user's first event; cells count
    distinct active cohort users per week offset. Both engines truncate
    weeks to Monday 00:00, so the day-diff is an exact multiple of 7 —
    all-integer cells, no float hazard."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return an.cohort_retention(ev).select(
        "cohort_week",
        F.col("week_offset").cast("int").alias("week_offset"),
        F.col("n_users").cast("long").alias("n_users"),
    ).orderBy("cohort_week", "week_offset")


_REL_COHORT_SQL = """
WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
      FROM events)
SELECT f.cohort_week AS cohort_week,
       CAST(datediff('day', f.cohort_week, a.act_week) // 7 AS INTEGER)
         AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_rel_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition census over per-user event
    sequences (analytics.event_transitions): lag over (user ORDER BY
    ts, event_id) — the id tiebreak total-orders the sequence, so both
    engines see the identical chain; row probability is ONE division of
    exact integers."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return an.event_transitions(ev).select(
        "from_type", "to_type", F.col("n").cast("long").alias("n"), "p"
    ).orderBy("from_type", "to_type")


_REL_TRANSITIONS_SQL = """
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
),
c AS (SELECT from_type, event_type AS to_type, count(*) AS n
      FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST(n AS BIGINT) /
         CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
FROM c ORDER BY from_type, to_type
"""


def q_rel_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent-pair mining (analytics.basket_pairs):
    distinct (order, part) -> within-basket pairs via a self-equi-join
    on the order key (per-basket cost O(k^2), boundable via
    max_basket_items) -> support >= 2 -> confidence = support /
    baskets-containing-a as ONE integer division."""
    li = _t(spark, sf_dir, "lineitem")
    return an.basket_pairs(
        li, "l_orderkey", "l_partkey", min_support=2
    ).select(
        F.col("item_a").cast("long").alias("item_a"),
        F.col("item_b").cast("long").alias("item_b"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_a").cast("long").alias("n_a"),
        "conf",
    ).orderBy("item_a", "item_b")


_REL_BASKET_SQL = """
WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem),
p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_pairs
      FROM it x JOIN it y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2 HAVING count(*) >= 2),
ia AS (SELECT i AS item_a, count(*) AS n_a FROM it GROUP BY 1)
SELECT CAST(item_a AS BIGINT) AS item_a,
       CAST(item_b AS BIGINT) AS item_b,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_pairs AS BIGINT) / CAST(n_a AS BIGINT) AS conf
FROM p JOIN ia USING (item_a)
ORDER BY item_a, item_b
"""


def q_rel_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (analytics.grouped_pearson) of
    quantity vs price, cross-engine-deterministic: inputs quantized to
    exact integers (units / cents), six raw moments summed as exact
    DECIMAL (order-independent), then ONE constant-size IEEE-double
    expression per group, rounded to 9 — the CLAUDE.md float rule
    applied to a second-moment statistic."""
    li = _t(spark, sf_dir, "lineitem")
    return an.grouped_pearson(
        li, "l_quantity", "l_extendedprice", ["l_returnflag"],
        x_scale=1, y_scale=100,
    ).orderBy("l_returnflag")


_REL_CORR_SQL = """
WITH q AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 1) AS DECIMAL(19,0)) AS xi,
         CAST(round(l_extendedprice * 100) AS DECIMAL(19,0)) AS yi
  FROM lineitem
),
m AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n0,
         CAST(sum(xi) AS DOUBLE) AS sx,
         CAST(sum(yi) AS DOUBLE) AS sy,
         CAST(sum(xi * xi) AS DOUBLE) AS sxx,
         CAST(sum(yi * yi) AS DOUBLE) AS syy,
         CAST(sum(xi * yi) AS DOUBLE) AS sxy
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n0 AS BIGINT) AS n,
       round((n0 * sxy - sx * sy) /
             (sqrt(n0 * sxx - sx * sx) * sqrt(n0 * syy - sy * sy)),
             9) AS corr
FROM m ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KG pipeline (Fonduer semantics)
        "kg_triples": q_kg_triples,
        "kg_triples_min": q_kg_triples_min,
        "kg_triples_headerlf": q_kg_triples_headerlf,
        "kg_triples_all": q_kg_triples_all,
        "kg_feature_rowcol": q_kg_feature_rowcol,
        "kg_ner_numbers": q_kg_ner_numbers,
        "kg_visual_align": q_kg_visual_align,
        "kg_visual_feats": q_kg_visual_feats,
        "kg_visual_percentile": q_kg_visual_percentile,
        "kg_rowcol_minmax": q_kg_rowcol_minmax,
        "kg_label_model": q_kg_label_model,
        "kg_triples_weighted": q_kg_triples_weighted,
        "kg_multiclass": q_kg_multiclass,
        "kg_multiclass_model": q_kg_multiclass_model,
        "kg_multiclass_weighted": q_kg_multiclass_weighted,
        "kg_multiclass_discrim": q_kg_multiclass_discrim,
        "kg_incremental": q_kg_incremental,
        "kg_features_lingual": q_kg_features_lingual,
        "kg_stream_mentions": q_kg_stream_mentions,
        "kg_stream_triples": q_kg_stream_triples,
        "stream_dedup": q_stream_dedup,
        "stream_events_window": q_stream_events_window,
        "kg_nary": q_kg_nary,
        "kg_part_mentions": q_kg_part_mentions,
        "kg_candidates_per_doc": q_kg_candidates_per_doc,
        "kg_nullable": q_kg_nullable,
        "kg_features": q_kg_features,
        "kg_nary_features": q_kg_nary_features,
        "kg_entities": q_kg_entities,
        "kg_quality": q_kg_quality,
        "kg_pagerank": q_kg_pagerank,
        "kg_pagerank_seeded": q_kg_pagerank_seeded,
        "kg_cooccur_triangles": q_kg_cooccur_triangles,
        "kg_2hop": q_kg_2hop,
        "kg_2hop_kmv": q_kg_2hop_kmv,
        "kg_shortest_paths": q_kg_shortest_paths,
        "kg_linkpred": q_kg_linkpred,
        # dedup family
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_minhash_km": q_dedup_minhash_km,
        "dedup_lsh_verified": q_dedup_lsh_verified,
        "dedup_keep": q_dedup_keep,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_embcos": q_dedup_embcos,
        "dedup_simhash": q_dedup_simhash,
        "dedup_setjoin": q_dedup_setjoin,
        "dedup_semantic": q_dedup_semantic,
        "dedup_urls": q_dedup_urls,
        "dedup_recrawl": q_dedup_recrawl,
        # text analysis family
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "text_lang_id": q_text_lang_id,
        "text_fingerprint": q_text_fingerprint,
        "text_bpe_tokens": q_text_bpe_tokens,
        "text_repetition": q_text_repetition,
        "text_curate": q_text_curate,
        "text_pii": q_text_pii,
        "text_sample": q_text_sample,
        "text_sample_priority": q_text_sample_priority,
        "text_sample_quota": q_text_sample_quota,
        "rel_profile": q_rel_profile,
        "text_cms_counts": q_text_cms_counts,
        "text_pack": q_text_pack,
        "text_substring_dedup": q_text_substring_dedup,
        "text_boilerplate": q_text_boilerplate,
        "text_gopher": q_text_gopher,
        "text_dsir": q_text_dsir,
        "text_quality_model": q_text_quality_model,
        "text_search": q_text_search,
        "text_decontaminate": q_text_decontaminate,
        "text_bpe_train": q_text_bpe_train,
        "text_bpe_encode": q_text_bpe_encode,
        # similarity family
        "sim_topk": q_sim_topk,
        "sim_ann_lsh": q_sim_ann_lsh,
        "sim_ann_mt": q_sim_ann_mt,
        "sim_ann_ivf": q_sim_ann_ivf,
        "sim_ann_ivf_kmeans": q_sim_ann_ivf_kmeans,
        "sim_knn_graph": q_sim_knn_graph,
        "sim_clusters": q_sim_clusters,
        "sim_quantized": q_sim_quantized,
        # multimodal family
        "mm_meta": q_mm_meta,
        "mm_features": q_mm_features,
        "mm_frames": q_mm_frames,
        "mm_dedup": q_mm_dedup,
        # classic relational operators
        "rel_agg": q_rel_agg,
        "rel_join": q_rel_join,
        "rel_filter_agg": q_rel_filter_agg,
        "rel_window": q_rel_window,
        "rel_quantiles": q_rel_quantiles,
        "rel_setop": q_rel_setop,
        "rel_events_window": q_rel_events_window,
        "rel_topk": q_rel_topk,
        "rel_semijoin": q_rel_semijoin,
        "rel_json": q_rel_json,
        "rel_rollup": q_rel_rollup,
        "rel_cube": q_rel_cube,
        "rel_pivot": q_rel_pivot,
        "rel_antijoin": q_rel_antijoin,
        "rel_sessions": q_rel_sessions,
        "rel_asof": q_rel_asof,
        "rel_range": q_rel_range,
        "rel_rollup_time": q_rel_rollup_time,
        "rel_fuzzy_join": q_rel_fuzzy_join,
        "rel_skyline": q_rel_skyline,
        "rel_funnel": q_rel_funnel,
        "rel_cohort": q_rel_cohort,
        "rel_transitions": q_rel_transitions,
        "rel_basket": q_rel_basket,
        "rel_corr": q_rel_corr,
        "text_distinct_kmv": q_text_distinct_kmv,
        "text_bloom": q_text_bloom,
        "text_split_leakfree": q_text_split_leakfree,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_triples": gold_triples_sql(),
        "kg_triples_min": _KG_TRIPLES_MIN_SQL,
        "kg_triples_headerlf": gold_triples_sql(),
        "kg_triples_all": _KG_TRIPLES_ALL_SQL,
        "kg_feature_rowcol": _KG_FEATURE_ROWCOL_SQL,
        "kg_features": _KG_FEATURES_SQL,
        "kg_nary_features": _KG_NARY_FEATURES_SQL,
        "kg_ner_numbers": _KG_NER_NUMBERS_SQL,
        # visual pipeline recovers exactly the per-row (part, tmin/tmax)
        # pairs -> same count formula as the structural candidate query
        "kg_visual_align": _KG_CANDS_SQL.replace("n_candidates", "n"),
        "kg_visual_feats": _KG_VISUAL_FEATS_SQL,
        "kg_visual_percentile": _KG_VISUAL_PCT_SQL,
        "kg_rowcol_minmax": _KG_ROWCOL_MINMAX_SQL,
        "kg_label_model": _KG_LABEL_MODEL_SQL,
        "kg_triples_weighted": gold_triples_sql(),
        "kg_multiclass": _KG_MULTICLASS_SQL,
        "kg_multiclass_model": _KG_MULTICLASS_MODEL_SQL,
        "kg_multiclass_weighted": _KG_MULTICLASS_WEIGHTED_SQL,
        "kg_multiclass_discrim": _KG_MULTICLASS_DISCRIM_SQL,
        "kg_incremental": _KG_PART_MENTIONS_SQL,
        "kg_features_lingual": _KG_FEATURES_LINGUAL_SQL,
        "kg_stream_mentions": _KG_PART_MENTIONS_SQL,
        "kg_stream_triples": gold_triples_sql(),
        "stream_dedup": _STREAM_DEDUP_SQL,
        "stream_events_window": _REL_EVENTS_SQL,
        "kg_nary": _KG_NARY_SQL,
        "kg_entities": _KG_ENTITIES_SQL,
        "kg_part_mentions": _KG_PART_MENTIONS_SQL,
        "kg_candidates_per_doc": _KG_CANDS_SQL,
        "kg_nullable": _KG_NULLABLE_SQL,
        "kg_quality": ("SELECT 1.0 AS precision, 1.0 AS recall, 1.0 AS f1"),
        "dedup_exact": _DEDUP_EXACT_SQL,
        "dedup_minhash_sig": _DEDUP_MINHASH_SIG_SQL,
        "dedup_minhash_pairs": _DEDUP_MINHASH_PAIRS_SQL,
        "dedup_minhash_km": _DEDUP_MINHASH_KM_SQL,
        "dedup_lsh_verified": _DEDUP_LSH_VERIFIED_SQL,
        "dedup_keep": _DEDUP_KEEP_SQL,
        "dedup_jaccard": _DEDUP_JACCARD_SQL,
        "dedup_embcos": _DEDUP_EMBCOS_SQL,
        "dedup_simhash": _DEDUP_SIMHASH_SQL,
        "dedup_setjoin": _DEDUP_SETJOIN_SQL,
        "dedup_semantic": _DEDUP_SEMANTIC_SQL,
        "dedup_urls": _DEDUP_URLS_SQL,
        "text_token_count": _TOKEN_COUNT_SQL,
        "text_quality": _QUALITY_SQL,
        "text_lang_id": _LANG_SQL,
        "text_fingerprint": _FINGERPRINT_SQL,
        "text_bpe_tokens": _BPE_TOKENS_SQL,
        "text_repetition": _REPETITION_SQL,
        "text_curate": _TEXT_CURATE_SQL,
        "text_pii": _TEXT_PII_SQL,
        "text_sample": _TEXT_SAMPLE_SQL,
        "text_sample_priority": _TEXT_SAMPLE_PRIORITY_SQL,
        "text_sample_quota": _TEXT_SAMPLE_QUOTA_SQL,
        "rel_profile": _REL_PROFILE_SQL,
        "text_cms_counts": _text_cms_counts_sql(),
        "text_pack": _TEXT_PACK_SQL,
        "text_substring_dedup": _TEXT_SUBSTRING_DEDUP_SQL,
        "text_boilerplate": _TEXT_BOILERPLATE_SQL,
        "text_gopher": _TEXT_GOPHER_SQL,
        "text_dsir": _TEXT_DSIR_SQL,
        "text_quality_model": _TEXT_QUALITY_MODEL_SQL,
        "text_search": _TEXT_SEARCH_SQL,
        "text_decontaminate": _TEXT_DECON_SQL,
        "sim_topk": _SIM_TOPK_SQL,
        "sim_ann_lsh": _SIM_ANN_LSH_SQL,
        "sim_ann_mt": _SIM_ANN_MT_SQL,
        "sim_ann_ivf": _SIM_ANN_IVF_SQL,
        "sim_ann_ivf_kmeans": _SIM_TOPK_SQL,
        "sim_knn_graph": _SIM_KNN_GRAPH_SQL,
        "sim_clusters": _SIM_CLUSTERS_SQL,
        "sim_quantized": _SIM_QUANTIZED_SQL,
        "mm_meta": _MM_META_SQL,
        "mm_features": _MM_FEATURES_SQL,
        "mm_frames": _MM_FRAMES_SQL,
        "mm_dedup": _MM_DEDUP_SQL,
        "rel_agg": _REL_AGG_SQL,
        "rel_join": _REL_JOIN_SQL,
        "rel_filter_agg": _REL_FILTER_AGG_SQL,
        "rel_window": _REL_WINDOW_SQL,
        "rel_quantiles": _REL_QUANTILES_SQL,
        "rel_setop": _REL_SETOP_SQL,
        "rel_events_window": _REL_EVENTS_SQL,
        "rel_topk": _REL_TOPK_SQL,
        "rel_semijoin": _REL_SEMIJOIN_SQL,
        "rel_json": _REL_JSON_SQL,
        "rel_rollup": _REL_ROLLUP_SQL,
        "rel_cube": _REL_CUBE_SQL,
        "rel_pivot": _REL_PIVOT_SQL,
        "rel_antijoin": _REL_ANTIJOIN_SQL,
        "rel_sessions": _REL_SESSIONS_SQL,
        "rel_asof": _REL_ASOF_SQL,
        "rel_range": _REL_RANGE_SQL,
        "dedup_recrawl": _DEDUP_RECRAWL_SQL,
        "rel_rollup_time": _REL_ROLLUP_TIME_SQL,
        "text_distinct_kmv": _TEXT_DISTINCT_KMV_SQL,
        "text_bloom": _TEXT_BLOOM_SQL,
        "text_split_leakfree": _TEXT_SPLIT_LEAKFREE_SQL,
        "kg_pagerank": _kg_pagerank_sql(),
        "kg_pagerank_seeded": _kg_pagerank_sql(("85", "90", "95")),
        "kg_cooccur_triangles": _KG_COOCCUR_TRIANGLES_SQL,
        "kg_2hop": _KG_2HOP_SQL,
        "kg_shortest_paths": _KG_SHORTEST_PATHS_SQL,
        "kg_linkpred": _KG_LINKPRED_SQL,
        "rel_fuzzy_join": _REL_FUZZY_JOIN_SQL,
        "rel_skyline": _REL_SKYLINE_SQL,
        "rel_funnel": _REL_FUNNEL_SQL,
        "rel_cohort": _REL_COHORT_SQL,
        "rel_transitions": _REL_TRANSITIONS_SQL,
        "rel_basket": _REL_BASKET_SQL,
        "rel_corr": _REL_CORR_SQL,
        "kg_2hop_kmv": _kg_2hop_kmv_sql(),
        "text_bpe_train": _text_bpe_train_sql(),
        "text_bpe_encode": _text_bpe_encode_sql(),
    }
