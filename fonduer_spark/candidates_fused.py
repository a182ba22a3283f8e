"""Fused doc-local candidate generation: docs -> candidate rows in ONE stage.

The candidate product is document-local by construction (the "join key" is
the document, reference candidates.py:263-274), so the engine offers two
physical strategies:

- ``candidates_op.extract_candidates``: the relational equi-join — the
  general path (cross-document layouts, explicit salting, AQE skew-join);
- this module: a flatMap-style stage fusing render+parse+mention-extraction+
  product+filters+throttler per document — zero shuffles before the final
  aggregation, no intermediate mention materialization/persist. This is the
  BASELINE.json "salted, skew-aware flatMap-style DataFrame transform" in
  its literal form; skew from hot documents is bounded by the per-doc cap
  ``max_mentions_per_doc`` (documents above it are flagged to a side channel
  rather than silently exploding the task).

Both strategies emit identical rows (asserted in tests and by the driver's
oracle, which is strategy-independent).

Marker rows: the fused stage also emits one row per over-cap document
(``candidate_type = OVERFLOW_TYPE``) and per document whose render or parse
raised (``parse.PARSE_ERROR_TYPE``), only url/split set. The over-cap
marker also carries the document's mentions in ``overflow_mentions`` (null
on every other row). ``extract_candidates_auto`` feeds those mentions to
the join path, drops both marker types from its result and warns on the
second; direct callers of ``extract_candidates_fused`` filter them
themselves.
"""

from __future__ import annotations

import warnings
from typing import Callable, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .cache import cached
from .mentions_op import (MENTION_COLUMNS, MENTION_SCHEMA, MentionSpec,
                          mentions_kernel)
from .parse import PARSE_ERROR_TYPE, ParseConfig, corpus_docs, map_documents

CANDIDATE_SCHEMA = T.StructType(
    [T.StructField(p + f.name, f.dataType, True)
     for p in ("a_", "b_") for f in MENTION_SCHEMA.fields]
    + [T.StructField(n, t, True) for n, t in (
        ("candidate_type", T.StringType()), ("split", T.IntegerType()),
        ("candidate_sid", T.StringType()), ("url", T.StringType()))])
CANDIDATE_COLUMNS = [f.name for f in CANDIDATE_SCHEMA.fields]

# slim output: only what labeling + triple materialization consume — cuts
# the per-row pandas/Arrow transfer ~7x on the hot path
SLIM_COLUMNS = ["a_stable_id", "a_span_text", "b_stable_id", "b_span_text",
                "candidate_type", "split", "candidate_sid", "url"]
CANDIDATE_SCHEMA_SLIM = T.StructType(
    [f for f in CANDIDATE_SCHEMA.fields if f.name in SLIM_COLUMNS])

PyThrottler = Callable[[dict, dict], bool]

# candidate_type of the hot-doc overflow marker rows emitted by the fused
# stage (one per over-cap document; url/split and overflow_mentions set)
OVERFLOW_TYPE = "_overflow"

# the fused stage's extra column: an over-cap document's mentions on its
# marker row, null on every other row
OVERFLOW_MENTIONS = T.StructField(
    "overflow_mentions", T.ArrayType(MENTION_SCHEMA), True)


def same_row_py(a: dict, b: dict) -> bool:
    """Python twin of candidates_op.same_row for the fused path."""
    return (
        a["table_sid"] is not None
        and a["table_sid"] == b["table_sid"]
        and not (a["row_start"] > b["row_end"] or b["row_start"] > a["row_end"])
    )


def _doc_candidates(
    mentions_by_type: dict,
    candidate_type: str,
    type_a: str,
    type_b: str,
    throttler: Optional[PyThrottler],
    self_relations: bool,
    nested_relations: bool,
    symmetric_relations: bool,
    split: int,
    out: List[dict],
    slim: bool = False,
) -> None:
    """Product + filters for one document (reference candidates.py:248-325
    semantics, including filter order). Rows set ``overflow_mentions`` to
    None: pandas would fill a missing key with NaN, which Arrow cannot
    convert to an array column."""
    ms_a = mentions_by_type.get(type_a, ())
    ms_b = mentions_by_type.get(type_b, ())
    for ai, a in enumerate(ms_a):
        for bi, b in enumerate(ms_b):
            if throttler is not None and not throttler(a, b):
                continue
            if not self_relations and a["stable_id"] == b["stable_id"]:
                continue
            if not nested_relations and (
                a["sentence_sid"] == b["sentence_sid"]
                and (
                    (b["char_start"] <= a["char_start"]
                     and a["char_end"] <= b["char_end"])
                    or (a["char_start"] <= b["char_start"]
                        and b["char_end"] <= a["char_end"])
                )
            ):
                continue
            if not symmetric_relations and ai > bi:
                continue
            if slim:
                out.append({
                    "candidate_type": candidate_type, "split": split,
                    "candidate_sid": f"{a['stable_id']}~~{b['stable_id']}",
                    "url": a["url"],
                    "a_stable_id": a["stable_id"],
                    "b_stable_id": b["stable_id"],
                    "a_span_text": a["span_text"],
                    "b_span_text": b["span_text"],
                    "overflow_mentions": None,
                })
                continue
            row = {}
            for k in MENTION_COLUMNS:
                row[f"a_{k}"] = a[k]
                row[f"b_{k}"] = b[k]
            row["candidate_type"] = candidate_type
            row["split"] = split
            row["candidate_sid"] = f"{a['stable_id']}~~{b['stable_id']}"
            row["url"] = a["url"]
            row["overflow_mentions"] = None
            out.append(row)


def extract_candidates_fused(
    docs: DataFrame,
    specs: Sequence[MentionSpec],
    candidate_type: str,
    type_a: str,
    type_b: str,
    throttler: Optional[PyThrottler] = None,
    self_relations: bool = False,
    nested_relations: bool = False,
    symmetric_relations: bool = True,
    split: int = 0,
    render=None,
    parse_cfg=None,
    max_mentions_per_doc: int = 10_000,
    slim: bool = False,
) -> DataFrame:
    """(doc_id, text) -> candidate rows, one python stage, no shuffle.

    Hot-doc guard: a document whose mention count exceeds
    ``max_mentions_per_doc`` would make this task quadratic — its product is
    NOT computed here; instead one marker row with
    ``candidate_type = OVERFLOW_TYPE`` is emitted, url/split set, candidate
    columns null and the document's mentions (MENTION_SCHEMA rows, every
    spec type) in ``overflow_mentions``. A document that fails to render or
    parse yields one ``PARSE_ERROR_TYPE`` marker with ``overflow_mentions``
    null (parse.map_documents). The output is the candidate schema
    plus the ``overflow_mentions`` column, null on candidate rows.
    ``extract_candidates_auto`` consumes both markers; callers using this
    function directly must filter or route them themselves.
    """
    schema = CANDIDATE_SCHEMA_SLIM if slim else CANDIDATE_SCHEMA
    schema = T.StructType(schema.fields + [OVERFLOW_MENTIONS])

    def marker(url: str, kind: str) -> dict:
        return dict(dict.fromkeys(schema.fieldNames()), candidate_type=kind,
                    url=url, split=split)

    def emit(url: str, by_type: dict, out: List[dict]) -> None:
        if sum(map(len, by_type.values())) > max_mentions_per_doc:
            # skew overflow: the marker carries the mentions to the join
            # path (extract_candidates_auto); never silently dropped
            out.append(dict(marker(url, OVERFLOW_TYPE), overflow_mentions=[
                m for ms in by_type.values() for m in ms]))
            return
        _doc_candidates(
            by_type, candidate_type, type_a, type_b, throttler,
            self_relations, nested_relations, symmetric_relations,
            split, out, slim=slim,
        )

    cfg = parse_cfg or ParseConfig()
    return map_documents(docs, corpus_docs(render), mentions_kernel(specs, cfg),
                         cfg, schema, emit, marker)


def extract_candidates_auto(
    docs: DataFrame,
    specs: Sequence[MentionSpec],
    candidate_type: str,
    type_a: str,
    type_b: str,
    py_throttler: Optional[PyThrottler] = None,
    column_throttler=None,
    self_relations: bool = False,
    nested_relations: bool = False,
    symmetric_relations: bool = True,
    split: int = 0,
    render=None,
    parse_cfg=None,
    max_mentions_per_doc: int = 10_000,
    slim: bool = False,
    probe: str = "eager",
) -> DataFrame:
    """Fused candidate generation with hot-doc overflow ROUTED, not dropped.

    Normal documents take the fused single-stage path; a document whose
    mention count exceeds ``max_mentions_per_doc`` emits only an overflow
    marker carrying its mentions, and their quadratic product runs through
    the relational join path with explicit salting — the strategy built
    for skew (candidates_op.extract_candidates). Every document is parsed
    once. The union is row-identical to running either strategy alone
    (asserted in tests).

    ``py_throttler``/``column_throttler`` must be the same predicate in its
    two physical forms (e.g. same_row_py / same_row); overflow docs use the
    column form so Catalyst pushes it into the join.

    The fused output is cached, and the call runs it AT CALL TIME as one
    full-width count job: the normal branch and the overflow branch both
    read the cache (one parse pass total). The job counts both marker
    types: it warns if any document failed to parse (the workers log each
    url), and when ZERO documents overflow it returns the normal branch
    alone, so the join-path subtree — several salted-join shuffle stages
    that would all carry zero rows — is never planned. Marker rows of
    both types are never returned. The result reads the cache, so it
    stays until the caller's ``cache.released()`` block exits; with no
    block open it stays until the caller clears it.

    ``probe`` accepts only its default, "eager"; it is kept for callers
    that still pass it, and a later benchmark change drops the keyword.
    """
    from pyspark.sql import functions as F

    from .candidates_op import extract_candidates

    if probe != "eager":
        raise ValueError(f"unknown probe mode {probe!r}: only 'eager'")
    fused = cached(extract_candidates_fused(
        docs, specs, candidate_type, type_a, type_b,
        throttler=py_throttler, self_relations=self_relations,
        nested_relations=nested_relations,
        symmetric_relations=symmetric_relations, split=split,
        render=render, parse_cfg=parse_cfg,
        max_mentions_per_doc=max_mentions_per_doc, slim=slim,
    ))
    kind = F.col("candidate_type")
    cols = SLIM_COLUMNS if slim else CANDIDATE_COLUMNS
    normal = fused.where(~kind.isin(OVERFLOW_TYPE, PARSE_ERROR_TYPE)) \
        .select(*cols)
    # One full-width agg, NOT isEmpty(): take(1) escalates over partition
    # subsets (1 -> 4 -> 20 -> all) and would run the Python parse in
    # sequential low-parallelism waves when no marker exists; the agg
    # fills the cache in one job and counts both marker types.
    n_over, n_failed = fused.agg(
        F.count(F.when(kind == OVERFLOW_TYPE, 1)),
        F.count(F.when(kind == PARSE_ERROR_TYPE, 1)),
    ).first()
    if n_failed:
        warnings.warn(
            f"{n_failed} document(s) failed to parse and have no "
            f"candidates; the workers logged each url",
            UserWarning, stacklevel=2)
    if n_over == 0:
        return normal
    mentions_o = fused.where(kind == OVERFLOW_TYPE) \
        .select(F.explode("overflow_mentions").alias("m")).select("m.*")
    cands_o = extract_candidates(
        mentions_o, candidate_type, type_a, type_b,
        throttler=column_throttler, throttler_kind="column",
        self_relations=self_relations, nested_relations=nested_relations,
        symmetric_relations=symmetric_relations, split=split,
        salt_buckets=8,
    )
    return normal.unionByName(cands_o.select(*cols))
