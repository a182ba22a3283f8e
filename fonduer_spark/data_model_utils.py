"""LF helper library: the reference's data_model_utils re-expressed two ways.

The reference exposes per-candidate Python getters with lru_caches
(/root/reference/src/fonduer/utils/data_model_utils/{textual,tabular,
structural}.py). Here the same helpers exist as:

1. **Column expressions over the denormalized candidate frame** (same_table,
   same_row, ... — already in candidates_op) — the fast path for LFs;
2. **Neighborhood-vocabulary DataFrames** (row_ngrams / col_ngrams /
   sentence windows) built once by aggregation and joined onto candidates —
   replacing the reference's per-candidate cell walks
   (tabular.py:219-561) with one shuffle each;
3. **Row-level Python helpers** usable inside pandas LFs for exotic logic
   (overlap/is_superset, utils.py:40-84).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterable, List, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .parse import sentences_of


# ---------------------------------------------------------------------------
# 2. neighborhood vocabularies (one aggregation each, joinable by key).
# Every tabular vocabulary — these LF helpers and featurize's tabular
# library — aggregates the same n-grams (_cell_grams, the one explode of
# cell sentences) the same way (_cell_vocab per cell, _axis_vocab per row or
# column), like the reference computes a cell's row/col/head/cell n-grams
# once in data_model_utils/tabular.py for both its LFs and its features.
# ---------------------------------------------------------------------------
_CELL_KEYS = ("url", "table_sid", "cell_sid", "row_start", "col_start")
# axis key -> the coordinate that is 0 in the axis' head cell: a row's head
# is its col-0 cell, a column's head its row-0 cell
_HEAD_AT = {"row_start": "col_start", "col_start": "row_start"}


def _lower_ngrams_col(words, n_max: int):
    """Array column of lowercased 1..n_max-gram strings of a words array
    (JVM-side; same construction as dedup.shingles)."""
    toks = F.transform(words, lambda w: F.lower(w))

    def ngrams_of(n: int):
        # NB: the lambda must take exactly one arg — F.transform binds a
        # second arg to the element INDEX, which would shadow a default
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    arrs = [toks] + [ngrams_of(n) for n in range(2, n_max + 1)]
    return F.flatten(F.array(*arrs)) if len(arrs) > 1 else arrs[0]


def _distinct(values: Column) -> Column:
    """Aggregate: the distinct non-null values of a group, as an array."""
    return F.array_distinct(F.collect_list(values))


def _cell_grams(sentences: DataFrame, n_max: int) -> DataFrame:
    """Exploded (url, table_sid, cell_sid, row_start, col_start, g) frame of
    lowercased 1..n_max-grams over the sentences of table cells — the one
    explode every tabular vocabulary aggregates."""
    return (
        sentences_of(sentences).where(F.col("cell_sid").isNotNull())
        .select(*_CELL_KEYS, F.explode(
            _lower_ngrams_col(F.col("words"), n_max)).alias("g"))
    )


def _cell_vocab(sentences: DataFrame, n_max: int) -> DataFrame:
    """(url, table_sid, cell_sid, row_start, col_start) -> ngrams[] of each
    table cell with tokens."""
    return (_cell_grams(sentences, n_max).groupBy(*_CELL_KEYS)
            .agg(_distinct(F.col("g")).alias("ngrams")))


def _axis_vocab(sentences: DataFrame, pos: str, n_max: int) -> DataFrame:
    """(url, table_sid, row_start|col_start) -> ngrams[] of every cell on
    the axis + head_ngrams[] of its head cell (null when it has none).

    Alignment is keyed on row_start/col_start: a spanning cell contributes
    at its start coordinate only (documented simplification vs the
    reference's overlap walk)."""
    head = F.col(_HEAD_AT[pos]) == 0
    return (
        _cell_grams(sentences, n_max).groupBy("url", "table_sid", pos)
        .agg(_distinct(F.col("g")).alias("ngrams"),
             F.when(F.max(head), _distinct(F.when(head, F.col("g"))))
             .alias("head_ngrams"))
    )


def _join_slot(candidates: DataFrame, vocab: DataFrame, slot: str,
               keys: Sequence[str]) -> DataFrame:
    """Left-join ``vocab`` onto one candidate slot: ``{slot}{k} == k`` for
    every key ``k``. The vocab keys are dropped; its other columns join as
    named, null where the slot has no match."""
    tmp = {k: f"_vocab_{k}" for k in keys}
    v = vocab.withColumnsRenamed(tmp)
    cond = reduce(operator.and_, [F.col(f"{slot}{k}") == F.col(tmp[k])
                                  for k in keys])
    return candidates.join(v, cond, "left").drop(*tmp.values())


def _with_axis(candidates: DataFrame, sentences: DataFrame, slot: str,
               axis: str, n_max: int, vocab: str, name: str) -> DataFrame:
    """Join the ``vocab`` column of the slot's row|col vocabulary onto the
    candidates as ``name``."""
    pos = f"{axis}_start"
    v = _axis_vocab(sentences, pos, n_max).select(
        "url", "table_sid", pos, F.col(vocab).alias(name))
    return _join_slot(candidates, v, slot, ("url", "table_sid", pos))


def _axis_ngrams(sentences: DataFrame, axis: str, n_max: int,
                 vocab: str = "ngrams") -> DataFrame:
    """(url, table_sid, row|col) -> ngrams[]: the axis' ``vocab`` column
    ("ngrams" or "head_ngrams"; axes without a head cell drop out of the
    latter) keyed the way the public helpers return it."""
    out = _axis_vocab(sentences, f"{axis}_start", n_max)
    if vocab == "head_ngrams":
        out = out.where(F.col(vocab).isNotNull())
    return out.select("url", "table_sid", F.col(f"{axis}_start").alias(axis),
                      F.col(vocab).alias("ngrams"))


def row_ngrams(sentences: DataFrame, n_max: int = 1) -> DataFrame:
    """(url, table_sid, row) -> ngrams[]: every 1..n_max-gram appearing in
    the row (reference get_row_ngrams, tabular.py:219-280, relationally)."""
    return _axis_ngrams(sentences, "row", n_max)


def col_ngrams(sentences: DataFrame, n_max: int = 1) -> DataFrame:
    """(url, table_sid, col) -> ngrams[] (reference get_col_ngrams)."""
    return _axis_ngrams(sentences, "col", n_max)


def cell_ngrams(sentences: DataFrame, n_max: int = 1) -> DataFrame:
    """(url, cell_sid) -> ngrams[]: every 1..n_max-gram appearing in the cell
    (reference get_cell_ngrams, tabular.py:219-258, relationally — one
    aggregation instead of a per-candidate cell walk)."""
    return _cell_vocab(sentences, n_max).select("url", "cell_sid", "ngrams")


def head_ngrams(sentences: DataFrame, axis: str = "row",
                n_max: int = 1) -> DataFrame:
    """(url, table_sid, row|col) -> ngrams[] of the axis head cell: the
    col-0 cell of each row (axis='row') or the row-0 cell of each column
    (axis='col') — reference get_head_ngrams (tabular.py:437-470).
    Join back on the mention's (url, table_sid, row_start|col_start)."""
    return _axis_ngrams(sentences, axis, n_max, "head_ngrams")


def with_row_ngrams(candidates: DataFrame, sentences: DataFrame,
                    slot: str = "b_") -> DataFrame:
    """Join the row vocabulary of a slot's cell onto the candidates frame —
    LFs can then test membership with pure array ops
    (e.g. F.arrays_overlap(F.col('b_row_ngrams'), F.array(F.lit('storage'))))."""
    return _with_axis(candidates, sentences, slot, "row", 1, "ngrams",
                      f"{slot}row_ngrams")


def neighbor_cell_ngrams(sentences: DataFrame, dist: int = 1,
                         n_max: int = 1) -> DataFrame:
    """(url, cell_sid) -> ngrams[] of the cell itself plus every cell within
    ``dist`` along exactly one axis (reference get_neighbor_cell_ngrams,
    tabular.py:260-330: row_diff XOR col_diff, |diff| <= dist) — a bounded
    self-join on (url, table) with coordinate predicates instead of a
    per-candidate walk."""
    pc = _cell_vocab(sentences, n_max)
    a = pc.select(
        F.col("url").alias("u"), F.col("table_sid").alias("t"),
        "cell_sid", F.col("row_start").alias("r"), F.col("col_start").alias("c"),
    )
    b = pc.select(
        F.col("url").alias("u"), F.col("table_sid").alias("t"),
        F.col("row_start").alias("br"), F.col("col_start").alias("bc"),
        F.col("ngrams").alias("bn"),
    )
    rd = F.abs(F.col("r") - F.col("br"))
    cd = F.abs(F.col("c") - F.col("bc"))
    same = (rd == 0) & (cd == 0)
    aligned_near = ((rd == 0) | (cd == 0)) & (rd + cd <= dist)
    joined = a.join(b, ["u", "t"]).where(same | aligned_near)
    return (
        joined.groupBy(F.col("u").alias("url"), "cell_sid")
        .agg(F.array_distinct(F.flatten(F.collect_list("bn"))).alias("ngrams"))
    )


def with_aligned_ngrams(candidates: DataFrame, sentences: DataFrame,
                        slot: str = "b_", n_max: int = 1) -> DataFrame:
    """Join the row-OR-column vocabulary of a slot's cell onto the
    candidates frame as ``{slot}aligned_ngrams`` (reference
    get_aligned_ngrams, tabular.py:403-435: the union of all cells sharing
    the mention's row or column; non-tabular slots keep a null
    vocabulary). Two vocabulary aggregations + one array_union join —
    never a per-candidate cell walk."""
    out = candidates
    for axis in ("row", "col"):
        out = _with_axis(out, sentences, slot, axis, n_max, "ngrams",
                         f"_{axis}_ng")
    merged = F.array_distinct(F.concat(
        F.coalesce(F.col("_row_ng"), F.array().cast("array<string>")),
        F.coalesce(F.col("_col_ng"), F.array().cast("array<string>")),
    ))
    aligned = F.when(
        F.col("_row_ng").isNotNull() | F.col("_col_ng").isNotNull(), merged)
    return out.withColumn(f"{slot}aligned_ngrams", aligned) \
        .drop("_row_ng", "_col_ng")


def with_head_ngrams(candidates: DataFrame, sentences: DataFrame,
                     slot: str = "b_", axis: str = "col",
                     n_max: int = 1) -> DataFrame:
    """Join the axis-head vocabulary of a slot's cell onto the candidates
    frame as ``{slot}{axis}_head_ngrams`` — LFs can then test membership
    with pure array ops (the relational form of the reference's
    get_head_ngrams-driven LFs, e.g. hardware_lfs.py)."""
    return _with_axis(candidates, sentences, slot, axis, n_max,
                      "head_ngrams", f"{slot}{axis}_head_ngrams")


def neighbor_sentence_ngrams(sentences: DataFrame, d: int = 1) -> DataFrame:
    """(url, sentence stable_id) -> words of sentences within distance d by
    position (reference get_neighbor_sentence_ngrams, textual.py:167-197) —
    a window function, not a per-candidate walk."""
    sent = sentences_of(sentences)
    w = Window.partitionBy("url").orderBy("position").rowsBetween(-d, d)
    return sent.select(
        "url",
        F.col("stable_id").alias("sentence_sid"),
        F.array_distinct(
            F.flatten(F.collect_list(F.col("words")).over(w))
        ).alias("neighborhood"),
    )


# ---------------------------------------------------------------------------
# 1. span-window column helpers over the candidate frame
# ---------------------------------------------------------------------------
def get_between_ngrams_col(sent_words: Column, a_we: Column, b_ws: Column) -> Column:
    """Tokens strictly between two same-sentence spans
    (reference get_between_ngrams, textual.py:11-48)."""
    return F.slice(sent_words, a_we + 2, F.greatest(F.lit(0), b_ws - a_we - 1))


def get_left_ngrams_col(sent_words: Column, word_start: Column,
                        window: int = 3) -> Column:
    """Up to ``window`` tokens left of a span (reference get_left_ngrams,
    textual.py:51-88) — pure array slicing over the denormalized columns."""
    start = F.greatest(F.lit(1), word_start - window + 1)
    return F.slice(sent_words, start,
                   F.greatest(F.lit(0), word_start + 1 - start))


def get_right_ngrams_col(sent_words: Column, word_end: Column,
                         window: int = 3) -> Column:
    """Up to ``window`` tokens right of a span (reference get_right_ngrams,
    textual.py:91-128)."""
    return F.slice(sent_words, word_end + 2, window)


# ---------------------------------------------------------------------------
# visual predicates over the candidate frame (reference
# utils/data_model_utils/visual.py:35-155 / utils_visual.py:65-137 — exact
# alignment math: 1.5pt overlap shrink, 2pt borders, 5pt centers) — pure
# column arithmetic, usable as throttlers or LFs
# ---------------------------------------------------------------------------
def _visual_pair() -> Column:
    return F.col("a_page").isNotNull() & F.col("b_page").isNotNull()


def same_page(_df: DataFrame = None) -> Column:
    return _visual_pair() & (F.col("a_page") == F.col("b_page"))


def is_horz_aligned(_df: DataFrame = None) -> Column:
    return _visual_pair() & ~(
        (F.col("a_top") + 1.5 > F.col("b_bottom") - 1.5)
        | (F.col("b_top") + 1.5 > F.col("a_bottom") - 1.5)
    )


def visual_words(sentences: DataFrame) -> DataFrame:
    """Exploded (url, word, page, left, top, right, bottom) frame over
    visually-annotated sentences (hOCR/PDF payloads) — the join source for
    the visual ngram vocabularies."""
    sent = sentences_of(sentences)
    z = F.arrays_zip(
        F.transform(F.col("words"), lambda w: F.lower(w)).alias("w"),
        F.col("page").alias("pg"), F.col("left").alias("l"),
        F.col("top").alias("t"), F.col("right").alias("r"),
        F.col("bottom").alias("b"),
    )
    return (
        sent.where(F.col("page").isNotNull())
        .select("url", F.explode(z).alias("z"))
        .select(
            "url", F.col("z.w").alias("word"), F.col("z.pg").alias("page"),
            F.col("z.l").alias("left"), F.col("z.t").alias("top"),
            F.col("z.r").alias("right"), F.col("z.b").alias("bottom"),
        )
        .where(F.col("page") >= 0)
    )


def _with_aligned_ngrams(candidates: DataFrame, sentences: DataFrame,
                         slot: str, axis: str) -> DataFrame:
    """Join the words visually aligned with a slot's bbox as
    ``{slot}horz_ngrams`` / ``{slot}vert_ngrams`` (reference get_horz_ngrams
    / get_vert_ngrams, visual.py:155-276, with the same 1.5pt-shrink overlap
    math; includes the span's own words). The join is bounded per
    (url, page); candidates without visual info keep a null vocabulary."""
    w = visual_words(sentences)
    cand_keys = candidates.select(
        F.col("candidate_sid").alias("_csid"),
        F.col(f"{slot}url").alias("_u"), F.col(f"{slot}page").alias("_pg"),
        F.col(f"{slot}left").alias("_l"), F.col(f"{slot}top").alias("_t"),
        F.col(f"{slot}right").alias("_r"), F.col(f"{slot}bottom").alias("_b"),
    ).where(F.col("_pg").isNotNull())
    if axis == "horz":
        aligned = ~(
            (F.col("_t") + 1.5 > w.bottom - 1.5)
            | (w.top + 1.5 > F.col("_b") - 1.5)
        )
        out_col = f"{slot}horz_ngrams"
    else:
        aligned = ~(
            (F.col("_l") + 1.5 > w.right - 1.5)
            | (w.left + 1.5 > F.col("_r") - 1.5)
        )
        out_col = f"{slot}vert_ngrams"
    vocab = (
        cand_keys.join(
            w,
            (F.col("_u") == w.url) & (F.col("_pg") == w.page) & aligned,
        )
        .groupBy("_csid")
        .agg(F.array_distinct(F.collect_list("word")).alias(out_col))
        .withColumnRenamed("_csid", "candidate_sid")
    )
    return candidates.join(vocab, "candidate_sid", "left")


def with_horz_ngrams(candidates: DataFrame, sentences: DataFrame,
                     slot: str = "b_") -> DataFrame:
    """Words on the same visual line(s) as the slot's bbox."""
    return _with_aligned_ngrams(candidates, sentences, slot, "horz")


def with_vert_ngrams(candidates: DataFrame, sentences: DataFrame,
                     slot: str = "b_") -> DataFrame:
    """Words in the same visual column(s) as the slot's bbox."""
    return _with_aligned_ngrams(candidates, sentences, slot, "vert")


# ---------------------------------------------------------------------------
# tabular position helpers (reference utils/data_model_utils/tabular.py:
# 103-168, tested at tests/utils/data_model_utils/test_tabular.py:127-139).
# The candidate frame denormalizes each slot's cell coordinates, so these
# are column aliases: null when the slot's sentence is not tabular (the
# coordinate columns are null there), exactly the reference's None return.
# Reference default for candidates: min helpers read the FIRST mention
# (idx=0), max helpers the LAST (idx=-1) — here the caller names the slot.
# ---------------------------------------------------------------------------
def get_min_row_num(slot: str = "a_") -> Column:
    """Lowest row number the slot's mention occupies (tabular.py:148-160)."""
    return F.col(f"{slot}row_start")


def get_max_row_num(slot: str = "b_") -> Column:
    """Largest row number the slot's mention occupies (tabular.py:133-145) —
    row_end differs from row_start only for rowspan-resolved cells."""
    return F.col(f"{slot}row_end")


def get_min_col_num(slot: str = "a_") -> Column:
    """Lowest column number the slot's mention occupies (tabular.py:118-130)."""
    return F.col(f"{slot}col_start")


def get_max_col_num(slot: str = "b_") -> Column:
    """Largest column number the slot's mention occupies (tabular.py:103-115)
    — col_end differs from col_start only for colspan-resolved cells."""
    return F.col(f"{slot}col_end")


# ---------------------------------------------------------------------------
# page-percentile helpers (reference utils/data_model_utils/visual.py:
# 290-381). Default page dims are the reference's Letter pt values.
# ---------------------------------------------------------------------------
DEFAULT_WIDTH = 612
DEFAULT_HEIGHT = 792


def get_page_vert_percentile(slot: str = "a_",
                             page_width: int = DEFAULT_WIDTH,
                             page_height: int = DEFAULT_HEIGHT) -> Column:
    """Fraction of the page above the slot's bbox top: 0.0 at the top of the
    page, 1.0 at the bottom (reference get_page_vert_percentile,
    visual.py:295-337 — ``bbox.top / page_height``). Null when the slot has
    no visual info."""
    return F.col(f"{slot}top") / F.lit(float(page_height))


def get_page_horz_percentile(slot: str = "a_",
                             page_width: int = DEFAULT_WIDTH,
                             page_height: int = DEFAULT_HEIGHT) -> Column:
    """Fraction of the page left of the slot's bbox left edge (reference
    get_page_horz_percentile, visual.py:340-381 — ``bbox.left /
    page_width``)."""
    return F.col(f"{slot}left") / F.lit(float(page_width))


# ---------------------------------------------------------------------------
# reference-parity stubs: these five are unimplemented TODO stubs in the
# reference itself (visual.py:260-287 — each returns None), so parity is a
# documented no-op, kept so LF modules importing the full surface load.
# ---------------------------------------------------------------------------
def get_vert_ngrams_left(c=None):
    """Not implemented in the reference (visual.py:260-263)."""
    return None


def get_vert_ngrams_right(c=None):
    """Not implemented in the reference (visual.py:266-269)."""
    return None


def get_vert_ngrams_center(c=None):
    """Not implemented in the reference (visual.py:272-275)."""
    return None


def get_visual_header_ngrams(c=None, axis=None):
    """Not implemented in the reference (visual.py:278-281)."""
    return None


def get_visual_distance(c=None, axis=None):
    """Not implemented in the reference (visual.py:284-287)."""
    return None


# ---------------------------------------------------------------------------
# table range-diff helpers (reference utils/utils_table.py:12-76, tested at
# tests/utils/test_utils_table.py:7-25): the minimum-magnitude difference
# achievable by picking one integer point inside each (start, end) range and
# comparing consecutive picks. Used by pandas LFs over spanning cells; the
# column-expression equivalents (ROW_DIFF/COL_DIFF min-over-pairs) live in
# featurize.py.
# ---------------------------------------------------------------------------
def min_range_diff(*ranges: tuple, absolute: bool = True) -> int:
    """Minimum-|.|, sign-preserving consecutive difference over one point
    chosen per range. Closed form per consecutive pair (the reference
    brute-forces the integer product, utils_table.py:26-35): overlapping
    ranges contribute 0; disjoint ranges contribute the signed gap
    a_start - b_end (a after b) or a_end - b_start (a before b). The
    global answer is the min-by-|.| over consecutive pairs — equivalent
    because each pair's minimum is achievable independently (the shared
    middle point can satisfy both sides at a range endpoint)."""
    best = None
    for (a0, a1), (b0, b1) in zip(ranges[:-1], ranges[1:]):
        if a1 < b0:
            d = a1 - b0
        elif b1 < a0:
            d = a0 - b1
        else:
            d = 0
        if best is None or abs(d) < abs(best):
            best = d
    if best is None:
        raise ValueError("min_range_diff needs >= 2 ranges")
    return abs(best) if absolute else best


def min_row_diff(rows: Sequence, absolute: bool = True) -> int:
    """Minimum row difference over (row_start, row_end) pairs (reference
    utils_table.py:38-53 over Cell/Sentence objects — here the caller
    passes the denormalized coordinate pairs)."""
    return min_range_diff(*rows, absolute=absolute)


def min_col_diff(cols: Sequence, absolute: bool = True) -> int:
    """Minimum column difference over (col_start, col_end) pairs
    (reference utils_table.py:56-76)."""
    return min_range_diff(*cols, absolute=absolute)


# ---------------------------------------------------------------------------
# 3. row-level python helpers for pandas LFs (reference utils.py:40-84)
# ---------------------------------------------------------------------------
def overlap(a: Iterable, b: Iterable) -> bool:
    """True when the two collections share any element."""
    return not set(a).isdisjoint(b)


def is_superset(a: Iterable, b: Iterable) -> bool:
    """True when a contains every element of b."""
    return set(a) >= set(b)


def get_matches(pattern, words: Sequence[str]) -> List[str]:
    """Words matching a compiled regex (reference get_matches analogue)."""
    return [w for w in words if pattern.search(w)]
