"""P3 — mention extraction: sentences -> mentions DataFrame.

The reference runs (space, matcher) per document inside a multiprocessing
UDF (/root/reference/src/fonduer/candidates/mentions.py:527-592). Here the
fused space+matcher generator runs inside one ``mapInPandas`` stage over the
sentences frame — shuffle-free, Arrow-batched. Tabular/structural sentence
coordinates are **denormalized onto each mention row**, so downstream
throttlers and feature functions become pure column predicates instead of
re-joins against the sentences table (critical at 100 TB: the candidate join
then never touches the sentences table again).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .matchers import Matcher, RegexMatchSpan
from .mention_spaces import MentionNgrams, MentionSpace, Ngrams
from .parse import (PARSE_ERROR_TYPE, ParseConfig, corpus_docs,  # noqa: F401
                    map_documents, parse_document, sentences_of)
from .spans import ImplicitSpan, SentenceView, Span

_S, _I = T.StringType(), T.IntegerType()
_AS = T.ArrayType(T.StringType())

MENTION_FIELDS = [
    ("mention_type", _S),
    ("url", _S),
    ("stable_id", _S),       # span context identity (type-independent)
    ("sentence_sid", _S),
    ("sentence_position", _I),
    ("char_start", _I),
    ("char_end", _I),
    ("word_start", _I),
    ("word_end", _I),
    ("span_text", _S),
    ("emit_seq", _I),        # per-(sentence, type) generation order
    ("table_sid", _S),
    ("cell_sid", _S),
    ("table_position", _I),
    ("cell_position", _I),
    ("row_start", _I),
    ("row_end", _I),
    ("col_start", _I),
    ("col_end", _I),
    ("xpath", _S),
    ("html_tag", _S),
    ("html_attrs", _AS),
    ("prev_sib_tag", _S),
    ("next_sib_tag", _S),
    ("node_pos", _I),
    ("ancestor_classes", _AS),
    ("ancestor_ids", _AS),
    ("page", _I),        # visual: page of the span's first word (hOCR/PDF)
    ("left", _I),        # visual: span bbox = min/max over its words
    ("top", _I),
    ("right", _I),
    ("bottom", _I),
]
MENTION_COLUMNS = [n for n, _ in MENTION_FIELDS]
MENTION_SCHEMA = T.StructType([T.StructField(n, t, True) for n, t in MENTION_FIELDS])

_SENTENCE_INPUT_COLS = [
    "url", "stable_id", "position", "text", "words", "char_offsets",
    "abs_char_offsets", "lemmas", "pos_tags", "ner_tags",
    "table_sid", "cell_sid", "table_position", "cell_position",
    "row_start", "row_end", "col_start", "col_end", "xpath", "html_tag",
    "html_attrs", "prev_sib_tag", "next_sib_tag", "node_pos",
    "ancestor_classes", "ancestor_ids",
    "page", "left", "top", "right", "bottom",
]


@dataclass
class MentionSpec:
    """One (name, space, matcher) triple — the engine's equivalent of a
    dynamic mention subclass (reference mention.py:66-186): a registry entry,
    not runtime DDL."""

    name: str
    space: MentionSpace
    matcher: Matcher


def _fast_unigram_regex(spec: MentionSpec):
    """Return the compiled regex for specs that reduce to 'match this token':
    Ngrams(1,1, no split) + a bare RegexMatchSpan(match, words). For these,
    spans never overlap so longest-match pruning is a no-op and Span objects
    are only needed for actual matches — a large constant-factor win on the
    hot path. Returns None when the generic fused generator must run."""
    sp, m = spec.space, spec.matcher
    if (
        type(sp) in (Ngrams, MentionNgrams)
    ) and sp.n_min == 1 and sp.n_max == 1 and sp.split_rgx is None \
            and type(m) is RegexMatchSpan and not m.children \
            and m.attrib == "words" and not m.search and m.sep == "":
        return m.r
    return None


def iter_sentence_mentions(row: dict, spec_list, fast_list):
    """Yield mention row-dicts for one sentence row — the single source of
    truth for the mention row shape and stable_id math. Called per sentence
    by the modular ``extract_mentions`` and by ``doc_mentions``, the
    per-document kernel behind the fused, streaming and serving paths.
    Never yields marker rows: those come from ``map_documents``."""
    offs = row["char_offsets"]
    abs0 = (row["abs_char_offsets"][0] - offs[0]) if len(offs) else 0
    url = row["url"]
    base = {
        "url": url,
        "sentence_sid": row["stable_id"],
        "sentence_position": row["position"],
        "table_sid": row.get("table_sid"),
        "cell_sid": row.get("cell_sid"),
        "table_position": row.get("table_position"),
        "cell_position": row.get("cell_position"),
        "row_start": row.get("row_start"),
        "row_end": row.get("row_end"),
        "col_start": row.get("col_start"),
        "col_end": row.get("col_end"),
        "xpath": row.get("xpath"),
        "html_tag": row.get("html_tag"),
        "html_attrs": row.get("html_attrs"),
        "prev_sib_tag": row.get("prev_sib_tag"),
        "next_sib_tag": row.get("next_sib_tag"),
        "node_pos": row.get("node_pos"),
        "ancestor_classes": row.get("ancestor_classes"),
        "ancestor_ids": row.get("ancestor_ids"),
        "page": None, "left": None, "top": None,
        "right": None, "bottom": None,
    }
    # sentence-level per-word visual arrays -> span bbox per mention
    # (page of the first word; bbox = min/max over the span's words,
    # ignoring unaligned words marked -1)
    v_page = row.get("page")
    has_visual = v_page is not None and len(v_page)

    def span_bbox(out: dict, ws: int, we: int) -> None:
        if not has_visual:
            return
        pg = v_page[ws]
        if pg is None or pg < 0:
            return
        lefts = [x for x in row["left"][ws:we + 1] if x >= 0]
        tops = [x for x in row["top"][ws:we + 1] if x >= 0]
        rights = [x for x in row["right"][ws:we + 1] if x >= 0]
        bottoms = [x for x in row["bottom"][ws:we + 1] if x >= 0]
        if lefts:
            out["page"] = int(pg)
            out["left"] = int(min(lefts))
            out["top"] = int(min(tops))
            out["right"] = int(max(rights))
            out["bottom"] = int(max(bottoms))
    sv = None
    for spec, fast in zip(spec_list, fast_list):
        if fast is not None:
            words = row["words"]
            seq = 0
            for i in range(len(words)):
                w = words[i]
                if fast.match(w) is None:
                    continue
                start = offs[i]
                end = start + len(w) - 1
                out = dict(base)
                out.update(
                    mention_type=spec.name,
                    stable_id=(f"{url}::span_mention:"
                               f"{abs0 + start}:{abs0 + end}"),
                    char_start=start, char_end=end,
                    word_start=i, word_end=i,
                    span_text=w, emit_seq=seq,
                )
                span_bbox(out, i, i)
                seq += 1
                yield out
            continue
        if sv is None:
            sv = SentenceView(row)
        for seq, span in enumerate(spec.matcher.apply(spec.space.apply(sv))):
            if isinstance(span, ImplicitSpan):
                sid = span.get_stable_id()
            else:
                sid = (f"{url}::span_mention:"
                       f"{abs0 + span.char_start}:{abs0 + span.char_end}")
            out = dict(base)
            out.update(
                mention_type=spec.name, stable_id=sid,
                char_start=span.char_start, char_end=span.char_end,
                word_start=span.get_word_start_index(),
                word_end=span.get_word_end_index(),
                span_text=span.get_span(), emit_seq=seq,
            )
            span_bbox(out, out["word_start"], out["word_end"])
            yield out


def extract_mentions(
    sentences: DataFrame, specs: Sequence[MentionSpec], dedup: bool = False
) -> DataFrame:
    """Run every (space, matcher) spec over each sentence; emit mention rows.

    Longest-match-only pruning happens inside the fused generator per
    sentence (order-sensitive — see SURVEY.md §2.4), never as a join.

    ``dedup=True`` adds the reference's stable_id uniqueness guarantee
    (mentions.py:560-586 / the UNIQUE constraint on the context FK) via
    dropDuplicates — off by default because generation is already unique
    per run and the shuffle is pure cost; turn on for incremental re-runs
    over a pre-existing mentions table.
    """
    spec_list = list(specs)
    fast_list = [_fast_unigram_regex(s) for s in spec_list]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[dict] = []
            for row in pdf.to_dict("records"):
                out.extend(iter_sentence_mentions(row, spec_list, fast_list))
            yield pd.DataFrame(out, columns=MENTION_COLUMNS)

    out = sentences_of(sentences).select(*_SENTENCE_INPUT_COLS) \
        .mapInPandas(fn, MENTION_SCHEMA)
    if dedup:
        out = out.dropDuplicates(["mention_type", "stable_id"])
    return out


def extract_context_mentions(
    contexts: DataFrame,
    ctx_type: str,
    name: Optional[str] = None,
    figure_types: Optional[Sequence[str]] = None,
    predicate=None,
) -> DataFrame:
    """Whole-context mention spaces: MentionFigures / MentionCells /
    MentionTables / MentionSections / MentionParagraphs / MentionCaptions /
    MentionDocuments (reference mentions.py:164-358) as a projection of the
    contexts frame. Mention stable_id mirrors construct_stable_id for
    *_mention types (models/utils.py:20-28): ``{url}::{type}_mention:{pos}``
    (cells add their row/col starts).

    ``figure_types``: url-suffix filter for MentionFigures (mentions.py:187).
    ``predicate``: optional Column filter (LambdaFunctionFigureMatcher-style
    predicates become column expressions or pandas filters upstream).
    """
    from pyspark.sql import functions as F

    df = contexts.where(F.col("ctx_type") == ctx_type)
    if figure_types:
        cond = None
        for t in figure_types:
            c = F.col("fig_url").endswith(t)
            cond = c if cond is None else (cond | c)
        df = df.where(cond)
    if predicate is not None:
        df = df.where(predicate)
    if ctx_type == "cell":
        sid = F.concat_ws(
            ":",
            F.concat(F.col("url"), F.lit(f"::{ctx_type}_mention")),
            F.col("position"), F.col("row_start"), F.col("col_start"),
        )
    else:
        sid = F.concat_ws(
            ":",
            F.concat(F.col("url"), F.lit(f"::{ctx_type}_mention")),
            F.col("position"),
        )
    return df.select(
        F.lit(name or f"{ctx_type}_mention").alias("mention_type"),
        "url",
        sid.alias("stable_id"),
        F.col("stable_id").alias("context_sid"),
        "position",
        F.col("fig_url"),
        "table_sid", "cell_sid",
        "row_start", "row_end", "col_start", "col_end",
    )


def extract_mentions_fused(
    docs: DataFrame,
    specs: Sequence[MentionSpec],
    render=None,
    parse_cfg=None,
) -> DataFrame:
    """Hot-path fusion: render + parse + mention-extract in ONE mapInPandas.

    The modular stages (parse_webpages -> extract_mentions) are two chained
    Python UDF nodes: the hop between them forks a second worker per task
    and round-trips every context row Python->Arrow->JVM->Arrow->Python.
    Fusing them mirrors the reference's per-document UDFRunner shape
    (utils/udf.py: one worker does parse+extract per doc) while keeping the
    join/aggregation stages JVM-side. Context rows never cross a process
    boundary; only mention rows do (~25x fewer).

    ``docs``: (doc_id, text) frame; ``render(doc_id, text) -> html`` defaults
    to the synthetic corpus renderer. A document that fails to render or
    parse yields one ``PARSE_ERROR_TYPE`` marker row (see map_documents).
    """
    return fused_mentions(docs, corpus_docs(render), specs, parse_cfg)


def doc_mentions(url: str, html: str, cfg, lp, specs, fast) -> Dict[str, List[dict]]:
    """The per-document kernel: parse one page and extract its mentions,
    grouped by mention type in generation order. Raises when the parse
    fails — the caller owns the failure policy (the fused stages emit a
    marker row, serving raises to its caller). ``fast`` is
    ``[_fast_unigram_regex(s) for s in specs]``, built once by the caller."""
    by_type: Dict[str, List[dict]] = {}
    for row in parse_document(url, html, cfg, lp, emit_types={"sentence"}):
        for m in iter_sentence_mentions(row, specs, fast):
            by_type.setdefault(m["mention_type"], []).append(m)
    return by_type


def mentions_kernel(specs, cfg: ParseConfig):
    """``doc_mentions`` bound to ``specs`` and ``cfg``: the
    ``kernel(url, html, lp)`` the fused stages pass to map_documents and
    serving calls once per page."""
    specs = list(specs)
    fast = [_fast_unigram_regex(s) for s in specs]
    return lambda url, html, lp: doc_mentions(url, html, cfg, lp, specs, fast)


def fused_mentions(frame: DataFrame, source: tuple, specs, cfg) -> DataFrame:
    """Flat mention rows (MENTION_SCHEMA) of every document of ``frame``."""

    def marker(url: str, kind: str) -> dict:
        return dict(dict.fromkeys(MENTION_COLUMNS), mention_type=kind, url=url)

    def emit(_url: str, by_type: Dict[str, List[dict]], out: List[dict]) -> None:
        for ms in by_type.values():
            out.extend(ms)

    cfg = cfg or ParseConfig()
    return map_documents(frame, source, mentions_kernel(specs, cfg), cfg,
                         MENTION_SCHEMA, emit, marker)
