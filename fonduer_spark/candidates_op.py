"""P4 — candidate extraction: the relational core.

The reference materializes a per-document cross product of mention lists with
a throttler + self/nested/symmetric filters inside a Python loop
(/root/reference/src/fonduer/candidates/candidates.py:220-325). Here the
document-local cross product is an **equi-join on url** — Catalyst plans it
as a shuffle/broadcast hash join, AQE splits skewed (hot) documents — and the
filters are pure column predicates over the denormalized mention rows (this
is the BASELINE.json "salted, skew-aware flatMap-style DataFrame transform
replacing Fonduer's Postgres-backed UDFRunner").

Scale notes:
- hot documents explode quadratically; AQE skew-join
  (``spark.sql.adaptive.skewJoin.enabled``) splits their partitions. An
  explicit mention-bucket salt is available via ``salt_buckets`` for clusters
  where AQE is insufficient.
- throttlers that are Column expressions (same_row/same_col/...) are pushed
  into the join condition by Catalyst; opaque Python throttlers run as an
  Arrow-batched filter after the join.
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional, Tuple, Union

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .mentions_op import MENTION_COLUMNS

ColumnThrottler = Callable[[DataFrame], Column]
PandasThrottler = Callable[[pd.DataFrame], "pd.Series"]


def _with_mention_idx(df: DataFrame) -> DataFrame:
    """Per-document generation-order index (reference enumerates each
    mention list in document order, candidates.py:263-274). Deterministic
    under any partitioning: ordered by (sentence_position, emit_seq)."""
    w = (
        Window.partitionBy("url")
        .orderBy("sentence_position", "emit_seq", "char_start")
    )
    return df.withColumn("mention_idx", F.row_number().over(w) - F.lit(1))


def _null_slot_rows(mentions: DataFrame, typed: DataFrame, prefix: str,
                    need_idx: bool) -> DataFrame:
    """One all-null slot row per document (url), the DataFrame analogue of
    the reference appending ``[None]`` to a nullable slot's mention list
    (candidate.py:77-136, candidates.py:263-274): every document's product
    gains the null option for that slot. The null 'mention' enumerates
    LAST in document order, so its mention_idx is the per-doc count of
    that type's mentions (enumerate() index of the appended None).

    Documented divergence: the url universe is derived from the mentions
    frame, so a document with ZERO mentions of ANY type contributes no
    null-slot rows. The reference appends [None] per document regardless
    and would emit an all-null tuple for such a doc under
    self_relations=True (candidates.py:263-306); with the default
    self_relations=False both engines drop it (null-safe a==b), so the
    outputs only differ for empty documents in the non-default mode."""
    types = dict(zip(mentions.schema.names,
                     [f.dataType for f in mentions.schema.fields]))
    urls = mentions.select("url").distinct()
    cols = [
        (F.col("url") if c == "url"
         else F.lit(None).cast(types[c])).alias(f"{prefix}{c}")
        for c in MENTION_COLUMNS
    ]
    if not need_idx:
        return urls.select(cols)
    counts = typed.groupBy("url").agg(F.count(F.lit(1)).alias("_n"))
    return (
        urls.join(counts, "url", "left")
        .select(*cols, F.coalesce(F.col("_n"), F.lit(0))
                .cast("int").alias(f"{prefix}mention_idx"))
    )


def extract_candidates(
    mentions: DataFrame,
    candidate_type: str,
    type_a: str,
    type_b: str,
    throttler: Optional[Union[ColumnThrottler, PandasThrottler]] = None,
    throttler_kind: str = "column",
    self_relations: bool = False,
    nested_relations: bool = False,
    symmetric_relations: bool = True,
    split: int = 0,
    salt_buckets: int = 0,
    nullables: Tuple[bool, bool] = (False, False),
) -> DataFrame:
    """Binary candidate extraction as a document-local join.

    Defaults mirror the reference CandidateExtractor
    (candidates.py:62-71: self=False, nested=False, symmetric=True).

    ``nullables``: per-slot, as in the reference candidate_subclass
    (candidate.py:100-102, tested at tests/candidates/test_candidates.py:
    547): a nullable slot's per-document mention list gains a None entry,
    so every candidate tuple may carry a null in that slot. Filter
    semantics with nulls mirror candidates.py:292-306: the self check is
    null-safe equality (so the all-null tuple is dropped, like the
    reference's ``a == b`` on two Nones), the nested check is skipped when
    either side is null, and the null slot sorts last for the symmetric
    check. NOTE: column throttlers see null slot columns — a throttler
    that should keep null-slot candidates must OR in an isNull() arm.
    """
    a = mentions.where(F.col("mention_type") == type_a)
    b = mentions.where(F.col("mention_type") == type_b)
    need_idx = not symmetric_relations
    if need_idx:
        a = _with_mention_idx(a)
        b = _with_mention_idx(b)

    def prefix_with_idx(df: DataFrame, prefix: str) -> DataFrame:
        cols = [F.col(c).alias(f"{prefix}{c}") for c in MENTION_COLUMNS]
        if need_idx:
            cols.append(F.col("mention_idx").alias(f"{prefix}mention_idx"))
        return df.select(cols)

    ap = prefix_with_idx(a, "a_")
    bp = prefix_with_idx(b, "b_")
    if nullables[0]:
        ap = ap.unionByName(_null_slot_rows(mentions, a, "a_", need_idx))
    if nullables[1]:
        bp = bp.unionByName(_null_slot_rows(mentions, b, "b_", need_idx))

    if salt_buckets > 1:
        # explicit skew salt: replicate one side across buckets
        ap = ap.withColumn(
            "_salt", F.pmod(F.xxhash64("a_stable_id"), F.lit(salt_buckets))
        )
        bp = bp.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        )
        joined = ap.join(
            bp,
            (ap.a_url == bp.b_url) & (ap._salt == bp._salt),
            "inner",
        ).drop("_salt")
    else:
        joined = ap.join(bp, ap.a_url == bp.b_url, "inner")

    any_nullable = nullables[0] or nullables[1]
    cond = F.lit(True)
    if not self_relations:
        # a == b means the same span context (candidates.py:296-298);
        # null-safe so the all-null tuple is dropped (None == None there)
        # while (span, None) tuples survive
        cond = cond & ~F.col("a_stable_id").eqNullSafe(F.col("b_stable_id"))
    if not nested_relations:
        same_sent = F.col("a_sentence_sid") == F.col("b_sentence_sid")
        a_in_b = (
            (F.col("b_char_start") <= F.col("a_char_start"))
            & (F.col("a_char_end") <= F.col("b_char_end"))
        )
        b_in_a = (
            (F.col("a_char_start") <= F.col("b_char_start"))
            & (F.col("b_char_end") <= F.col("a_char_end"))
        )
        not_nested = ~(same_sent & (a_in_b | b_in_a))
        if any_nullable:
            # candidates.py:300-301: skip the nested check when either
            # side is None
            not_nested = (F.col("a_stable_id").isNull()
                          | F.col("b_stable_id").isNull() | not_nested)
        cond = cond & not_nested
    if not symmetric_relations:
        cond = cond & (F.col("a_mention_idx") <= F.col("b_mention_idx"))

    out = joined.where(cond)

    if throttler is not None:
        if throttler_kind == "column":
            out = out.where(throttler(out))  # Catalyst pushes this into the join
        else:
            # opaque Python predicate: Arrow-batched boolean filter
            def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    keep = throttler(pdf)
                    yield pdf[keep]

            out = out.mapInPandas(fn, out.schema)

    out = (
        out.withColumn("candidate_type", F.lit(candidate_type))
        .withColumn("split", F.lit(split))
        .withColumn(
            "candidate_sid",
            # the reference's stable-id tuple holds None for a nullable
            # slot; "NULL" keeps the sid's arity visible (concat_ws alone
            # would silently drop the slot)
            F.concat_ws(
                "~~",
                F.coalesce(F.col("a_stable_id"), F.lit("NULL")),
                F.coalesce(F.col("b_stable_id"), F.lit("NULL")),
            ),
        )
        .withColumn("url", F.col("a_url"))
    )
    if need_idx:
        out = out.drop("a_mention_idx", "b_mention_idx")
    return out


# ---------------------------------------------------------------------------
# Column-expression throttlers (the engine's equivalents of the reference's
# tabular alignment helpers, utils/data_model_utils/tabular.py:31-86 — pure
# arithmetic over the denormalized row/col ranges, no lru_cache needed).
# ---------------------------------------------------------------------------
def _row_aligned() -> Column:
    return ~(
        (F.col("a_row_start") > F.col("b_row_end"))
        | (F.col("b_row_start") > F.col("a_row_end"))
    )


def _col_aligned() -> Column:
    return ~(
        (F.col("a_col_start") > F.col("b_col_end"))
        | (F.col("b_col_start") > F.col("a_col_end"))
    )


def same_table(_df: DataFrame = None) -> Column:
    return (
        F.col("a_table_sid").isNotNull()
        & (F.col("a_table_sid") == F.col("b_table_sid"))
    )


def same_row(_df: DataFrame = None) -> Column:
    return same_table(_df) & _row_aligned()


def same_col(_df: DataFrame = None) -> Column:
    return same_table(_df) & _col_aligned()


def same_cell(_df: DataFrame = None) -> Column:
    return (
        F.col("a_cell_sid").isNotNull()
        & (F.col("a_cell_sid") == F.col("b_cell_sid"))
    )


def write_bucketed_mentions(mentions: DataFrame, table: str,
                            buckets: int = 32) -> None:
    """Persist mentions BUCKETED by url so candidate joins are co-located:
    both sides of the document-local equi-join scan matching buckets and
    Catalyst plans the join with NO shuffle exchange (asserted in
    tests/test_plans.py). The 100-TB layout for iterative candidate
    extraction over a fixed corpus — write the mention table once, run
    every relation's join shuffle-free against it (the storage-side
    complement of AQE/salting, which handle the ad-hoc case)."""
    (
        mentions.write.mode("overwrite")
        .bucketBy(buckets, "url").sortBy("url")
        .format("parquet").saveAsTable(table)
    )


def extract_candidates_nary(
    mentions: DataFrame,
    candidate_type: str,
    types: "list[str]",
    throttler: Optional[ColumnThrottler] = None,
    split: int = 0,
    nullables: Optional["list[bool]"] = None,
) -> DataFrame:
    """Higher-order (n-ary) candidate extraction: iterative document-local
    equi-joins, one per slot. The reference only implements the
    self/nested/symmetric filters for binary relations
    (candidates.py:290-291 'TODO: Make this work for higher-order
    relations'); this engine mirrors that: n-ary applies the throttler only
    (a ``nullables`` slot adds its per-document None option exactly as in
    the binary path; with no arity-2 filters nothing drops the all-null
    tuple — matching the reference, where only the throttler sees it).

    Slots are prefixed m0_, m1_, ... ; candidate_sid is the '~~'-joined
    tuple of slot stable_ids (the reference's stable-id-tuple identity,
    utils/utils.py:51-69), 'NULL' for a null slot.
    """
    nullables = nullables or [False] * len(types)

    def prefixed(df: DataFrame, i: int) -> DataFrame:
        return df.select(
            [F.col(c).alias(f"m{i}_{c}") for c in MENTION_COLUMNS])

    out = None
    for i, t in enumerate(types):
        typed = mentions.where(F.col("mention_type") == t)
        side = prefixed(typed, i)
        if nullables[i]:
            side = side.unionByName(
                _null_slot_rows(mentions, typed, f"m{i}_", need_idx=False))
        if out is None:
            out = side
        else:
            out = out.join(side, out[f"m0_url"] == side[f"m{i}_url"])
    if throttler is not None:
        out = out.where(throttler(out))
    return (
        out.withColumn("candidate_type", F.lit(candidate_type))
        .withColumn("split", F.lit(split))
        .withColumn("candidate_sid", F.concat_ws(
            "~~", *[F.coalesce(F.col(f"m{i}_stable_id"), F.lit("NULL"))
                    for i in range(len(types))]))
        .withColumn("url", F.col("m0_url"))
    )
