"""P1 — the parse operator: HTML web pages -> Context rows.

Re-implements the semantics of the reference's ``ParserUDF``
(/root/reference/src/fonduer/parser/parser.py:168-857) as one vectorized
``mapInPandas`` stage over a document source (web_pages or (doc_id, text)):

- iterative DFS in recursive-DFS order (children pushed reversed; ``.text``
  read before the children, ``.tail`` after, parser.py:601-609, 816-852):
  each stack entry carries its parent context, the DOM is never written to,
  and one dispatch by tag opens a node's context;
- flatten tags (default span/br) + comment removal, then re-serialize the
  cleaned DOM into ``document.text`` (parser.py:785-795) — the byte-identical
  text-per-url invariant surface (defined against htmldom.tostring since lxml
  is unavailable here);
- Section/Table/Cell (occupancy-grid rowspan/colspan resolution,
  parser.py:326-356), Figure (nested/multi-img rules, parser.py:394-470),
  Caption, Paragraph (strip + unicode-hyphen replacements, parser.py:610-620),
  Sentence split via a lingual parser with document-wide absolute char
  offsets and stable_ids (parser.py:472-509);
- structural attach: xpath / html_tag / html_attrs with inline <style> class
  CSS merge (parser.py:510-562); tabular attach: the parent cell's
  row/col coordinates denormalized onto each sentence (parser.py:565-577);
- per-document error isolation: a failing doc becomes one PARSE_ERROR_TYPE
  row plus a worker WARNING, and the pipeline continues (parser.py:236-264).

Scale design: shuffle-free — one scan, one map. ``map_documents`` is the one
per-document batch loop; the fused mention and candidate stages run on it
too, each with its own kernel. Per-document work is independent.
Visual (PDF) parsing is out of scope for the webtext payload; visual columns
stay null so downstream visual features no-op, matching the reference default
``visual_parser=None`` (parser.py:87).
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass
from typing import Any, Dict, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .htmldom import (ChildIndex, Element, child_slot, getpath, parse_html,
                      strip_tags, tostring)
from .lingual import LingualParser, SimpleParser

log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Unified parse-output schema: one wide frame with a ctx_type discriminator.
# (documents/sections/tables/cells/figures/captions/paragraphs/sentences are
# views over this frame; one parse pass feeds them all.)
# ---------------------------------------------------------------------------
_S, _I = T.StringType(), T.IntegerType()
_AS, _AI = T.ArrayType(T.StringType()), T.ArrayType(T.IntegerType())

CONTEXT_FIELDS: List[Tuple[str, T.DataType]] = [
    ("url", _S),
    ("stable_id", _S),
    ("ctx_type", _S),
    ("position", _I),
    ("parent_sid", _S),
    ("name", _S),
    ("text", _S),
    ("row_start", _I),
    ("row_end", _I),
    ("col_start", _I),
    ("col_end", _I),
    ("fig_url", _S),
    ("words", _AS),
    ("char_offsets", _AI),
    ("abs_char_offsets", _AI),
    ("lemmas", _AS),
    ("pos_tags", _AS),
    ("ner_tags", _AS),
    ("dep_parents", _AI),
    ("dep_labels", _AS),
    ("xpath", _S),
    ("html_tag", _S),
    ("html_attrs", _AS),
    ("prev_sib_tag", _S),
    ("next_sib_tag", _S),
    ("node_pos", _I),         # 1-based position among element siblings
    ("ancestor_classes", _AS),  # root-first class attrs up the DOM chain
    ("ancestor_ids", _AS),      # root-first id attrs up the DOM chain
    ("page", _AI),       # per-word visual page (hOCR/PDF payloads; else null)
    ("left", _AI),       # per-word bbox coordinates
    ("top", _AI),
    ("right", _AI),
    ("bottom", _AI),
    ("section_sid", _S),
    ("paragraph_sid", _S),
    ("table_sid", _S),
    ("cell_sid", _S),
    ("table_position", _I),
    ("cell_position", _I),
]
CONTEXT_COLUMNS = [n for n, _ in CONTEXT_FIELDS]
CONTEXT_SCHEMA = T.StructType(
    [T.StructField(n, t, True) for n, t in CONTEXT_FIELDS]
)


@dataclass(frozen=True)
class ParseConfig:
    """Knobs of the parse operator — defaults match the reference Parser
    __init__ defaults (parser.py:70-91)."""

    structural: bool = True
    blacklist: Tuple[str, ...] = ("style", "script")
    flatten: Tuple[str, ...] = ("span", "br")
    strip: bool = True
    replacements: Tuple[Tuple[str, str], ...] = (
        ("[‐‑‒–—−]", "-"),
    )
    tabular: bool = True
    sentence_delim: str = "."
    # lingual annotation level: "simple" (split+tokenize only) or
    # "regex_tagger" (deterministic rule-based POS/NER/lemma/dep — lights up
    # NER matchers and lingual features without spaCy)
    lingual: str = "simple"
    # visual modality: "" (none) or "hocr" — pick up the per-word bbox/page
    # attributes accumulated by sources.rewrite_hocr and attach them to
    # sentences (the engine's HocrVisualParser equivalent)
    visual: str = ""

    def make_lingual_parser(self) -> LingualParser:
        if self.lingual == "regex_tagger":
            from .lingual import RegexTaggerParser

            return RegexTaggerParser(self.sentence_delim)
        return SimpleParser(self.sentence_delim)


def _row(url: str, **kw: Any) -> Dict[str, Any]:
    row = dict.fromkeys(CONTEXT_COLUMNS)
    row["url"] = url
    row.update(kw)
    return row


class _Ctx:
    """A context record: what the operators and the paragraph binding read.
    A table also carries its cell-grid cursor, a cell its span, and every
    record its paragraph binding once a paragraph under it has text."""

    __slots__ = ("ctx_type", "stable_id", "position", "section", "table",
                 "figure", "bind", "grid", "row_idx", "col_idx", "cell_pos",
                 "span")

    def __init__(self, ctx_type: str, stable_id: str, position: int,
                 section: "_Ctx" = None, table: "_Ctx" = None,
                 figure: "_Ctx" = None) -> None:
        self.ctx_type, self.stable_id, self.position = ctx_type, stable_id, position
        self.section, self.table, self.figure = section, table, figure
        self.bind = None


_NO_ATTRS = (None,) * 9  # structural attrs (8) + hOCR state
# the fields one DFS visit reads, as is-tail flags
_TEXT, _TAIL, _TEXT_TAIL = (False,), (True,), (False, True)


def parse_document(
    url: str,
    html_text: str,
    cfg: ParseConfig,
    lingual_parser: LingualParser,
    emit_types: Optional[set] = None,
) -> List[Dict[str, Any]]:
    """Parse one web page into unified context rows (see CONTEXT_FIELDS).

    ``emit_types``: when given, only rows of these ctx_types are emitted
    (the parse still builds the full context graph internally — this is
    output projection, the UDF-level analogue of column pruning). The
    document re-serialization (the byte-identical text invariant surface)
    is skipped unless 'document' is requested.
    """
    replacements = [(re.compile(p, flags=re.UNICODE), r) for p, r in cfg.replacements]
    rows: List[Dict[str, Any]] = []
    want = emit_types.__contains__ if emit_types is not None else (lambda t: True)
    (w_sec, w_fig, w_tab, w_cell, w_cap, w_par, w_sent) = map(want, (
        "section", "figure", "table", "cell", "caption", "paragraph", "sentence"))
    strip, structural, hocr = cfg.strip, cfg.structural, cfg.visual == "hocr"
    split = lingual_parser.split_sentences

    root = parse_html(html_text)
    if cfg.flatten:
        strip_tags(root, cfg.flatten)

    doc = _Ctx("document", f"{url}::document:0:0", 0)
    if want("document"):
        rows.append(_row(url, stable_id=doc.stable_id, ctx_type="document",
                         position=0, text=tostring(root), name=url))

    counters = {"section": 0, "figure": 0, "caption": 0, "table": 0}
    # nodes the DFS skips ("true") or visits for their tail only ("text"):
    # the figure operator's marks, seeded with the source's own visited attrs
    marks: Dict[int, str] = {}
    if "visited" in html_text.lower():
        for el in (root, *root.iterdescendants()):
            if "visited" in el.attrib:
                marks[id(el)] = el.attrib["visited"]

    head = root.find("head")
    styles_text: Optional[str] = None
    if head is not None:
        style_el = head.find("style")
        if style_el is not None:
            styles_text = style_el.text

    # -- context operators, one per tag: (node, parent ctx) -> new ctx or None
    def _open(ctx_type: str, node: Element, parent_sid: str, emit: bool,
              section: _Ctx = None, table: _Ctx = None, figure: _Ctx = None,
              **row: Any) -> _Ctx:
        pos = counters[ctx_type]
        counters[ctx_type] += 1
        ctx = _Ctx(ctx_type, f"{url}::{ctx_type}:{pos}", pos, section, table,
                   figure)
        if emit:
            rows.append(_row(url, stable_id=ctx.stable_id, ctx_type=ctx_type,
                             position=pos, parent_sid=parent_sid,
                             name=node.get("name"), **row))
        return ctx

    def parse_section(node: Element, par: _Ctx) -> _Ctx:
        # reference parser.py:666-701; extended: the root element always
        # opens section 0 so fragment-rooted documents still parse.
        return _open("section", node, doc.stable_id, w_sec)

    def parse_figure(node: Element, par: _Ctx) -> Optional[_Ctx]:
        # reference parser.py:394-470
        if node.tag == "img" and par.ctx_type == "figure":
            return None  # img inside a Figure is handled by the parent figure
        if par.ctx_type == "section":
            section, cell = par, None
        elif par.ctx_type == "cell":
            section, cell = par.table.section, par
        else:
            return None  # nested figures unsupported, same as reference
        if node.tag == "img":
            fig_url = node.get("src")
        else:
            imgs = [c for c in node if c.tag == "img"]
            if len(imgs) == 0:
                return None
            if len(imgs) > 1:
                # multi-img figure: ignore the wrapper, process children solo
                for c in node:
                    if c.tag == "figcaption":
                        marks[id(c)] = "true"
                return None
            marks[id(imgs[0])] = "true"
            fig_url = imgs[0].get("src")
        return _open("figure", node, section.stable_id, w_fig, section=section,
                     cell_sid=cell.stable_id if cell else None, fig_url=fig_url)

    def parse_table(node: Element, par: _Ctx) -> _Ctx:
        # reference parser.py:266-392 (grid: 326-356)
        if par.ctx_type == "cell":
            section = par.table.section
        elif par.ctx_type == "section":
            section = par
        else:
            raise ValueError("Table is not within a Section or Cell")
        ctx = _open("table", node, section.stable_id, w_tab, section=section)
        ctx.grid, ctx.cell_pos, ctx.row_idx, ctx.col_idx = set(), 0, -1, 0
        return ctx

    def parse_row(node: Element, par: _Ctx) -> None:
        if par.ctx_type != "table":
            raise ValueError("Table row parent must be a Table")
        par.col_idx = 0
        par.row_idx += 1

    def parse_cell(node: Element, par: _Ctx) -> _Ctx:
        if par.ctx_type != "table":
            raise ValueError("Cell parent must be a Table")
        if par.row_idx < 0:
            raise ValueError("Table cell encountered before a table row")
        grid, row_start, col_start = par.grid, par.row_idx, par.col_idx
        while (row_start, col_start) in grid:
            col_start += 1
        row_end, col_end = row_start, col_start
        try:
            row_end += int(node.get("rowspan", "1")) - 1
        except ValueError:
            pass
        try:
            col_end += int(node.get("colspan", "1")) - 1
        except ValueError:
            pass
        for r in range(row_start, row_end + 1):
            for c in range(col_start, col_end + 1):
                grid.add((r, c))
        ctx = _Ctx("cell", f"{url}::cell:{par.position}:{row_start}:{col_start}",
                   par.cell_pos, table=par)
        ctx.span = (row_start, row_end, col_start, col_end)
        if w_cell:
            rows.append(_row(url, stable_id=ctx.stable_id, ctx_type="cell",
                             position=par.cell_pos, parent_sid=par.stable_id,
                             table_sid=par.stable_id,
                             table_position=par.position,
                             row_start=row_start, row_end=row_end,
                             col_start=col_start, col_end=col_end,
                             name=node.get("name")))
        par.col_idx = col_start + 1
        par.cell_pos += 1
        return ctx

    def parse_caption(node: Element, par: _Ctx) -> _Ctx:
        # reference parser.py:703-750
        if par.ctx_type == "table":
            table, figure = par, None
        elif par.ctx_type == "figure":
            table, figure = None, par
        else:
            raise ValueError("Caption must be a child of Table or Figure")
        return _open("caption", node, par.stable_id, w_cap, table=table,
                     figure=figure)

    operators = {"html": parse_section, "section": parse_section,
                 "img": parse_figure, "figure": parse_figure,
                 "caption": parse_caption, "figcaption": parse_caption}
    if cfg.tabular:
        operators.update(table=parse_table, tr=parse_row, td=parse_cell,
                         th=parse_cell)

    def bind(par: _Ctx) -> tuple:
        """The (section, caption, cell) a paragraph under ``par`` binds to
        (reference parser.py:583-664), as the sids and cell coordinates its
        paragraph and sentence rows carry; cached on ``par``."""
        section = caption = cell = table = None
        if par.ctx_type == "caption":
            section, caption = (par.table or par.figure).section, par
        elif par.ctx_type == "cell":
            section, cell, table = par.table.section, par, par.table
        elif par.ctx_type == "section":
            section = par
        elif par.ctx_type in ("figure", "table"):
            section = par.section
        else:
            raise ValueError(
                f"Paragraph parent must be Section/Caption/Cell/Figure/"
                f"Table, not {par.ctx_type}"
            )
        par.bind = ((cell or caption or section).stable_id, section.stable_id,
                    cell.stable_id if cell else None,
                    table.stable_id if table else None,
                    table.position if table else None,
                    cell.position if cell else None,
                    *(cell.span if cell else (None,) * 4))
        return par.bind

    def _visual_node_state(node: Element) -> Optional[Dict[str, Any]]:
        """Parse a node's hOCR-accumulated visual attributes into a
        token-aligned consumption state (the engine's HocrVisualParser:
        reference hocr_visual_parser.py:38-160, with the spaCy alignment
        replaced by deterministic substring consumption — every sentence
        word is a substring of exactly one whitespace-delimited hOCR token,
        modulo the delimiter the sentence splitter removed)."""
        toks_attr = node.get("tokens")
        if not toks_attr:
            return None
        for rgx, repl in replacements:  # same normalization as the text
            toks_attr = rgx.sub(repl, toks_attr)
        toks = toks_attr.split()
        try:
            arrays = {
                k: [int(x) for x in (node.get(a) or "").split()]
                for k, a in (("page", "ppageno"), ("left", "left"),
                             ("top", "top"), ("right", "right"),
                             ("bottom", "bottom"))
            }
        except ValueError:
            return None
        if any(len(v) != len(toks) for v in arrays.values()):
            return None
        return {"toks": toks, "arrays": arrays, "ti": 0, "ci": 0}

    def _consume_visual(st: Dict[str, Any], words) -> Optional[Dict[str, list]]:
        """Map each sentence word to its hOCR token's bbox, advancing the
        node-level cursor (tokens may span sentences; the sentence delimiter
        and splits inside a token advance the intra-token position)."""
        toks = st["toks"]
        out = {k: [] for k in ("page", "left", "top", "right", "bottom")}
        for w in words:
            hit = None
            ti, ci = st["ti"], st["ci"]
            for probe in range(ti, min(ti + 3, len(toks))):
                start = ci if probe == ti else 0
                pos = toks[probe].find(w, start)
                if pos >= 0:
                    hit = probe
                    end = pos + len(w)
                    if end >= len(toks[probe]):
                        st["ti"], st["ci"] = probe + 1, 0
                    else:
                        st["ti"], st["ci"] = probe, end
                    break
            for k in out:
                out[k].append(st["arrays"][k][hit] if hit is not None else -1)
        return out

    # one child table per parent, read by getpath and the sibling attrs
    children: ChildIndex = {}

    def sibling_ancestor_attrs(context_node: Element) -> Tuple:
        """(prev_sib_tag, next_sib_tag, node_pos, ancestor_classes,
        ancestor_ids) — the sibling/ancestor context behind the reference's
        PREV_SIB_TAG/NEXT_SIB_TAG/NODE_POS/ANCESTOR_CLASS/ANCESTOR_ID
        structural features (structural_features.py:91-106), captured at
        parse time so featurization never re-walks the DOM."""
        prev_tag = next_tag = None
        pos = None
        par = context_node.getparent()
        if par is not None:
            pos = child_slot(context_node, children)[0]
            if pos > 1:
                prev_tag = par[pos - 2].tag
            if pos < len(par):
                next_tag = par[pos].tag
        anc_classes: List[str] = []
        anc_ids: List[str] = []
        a = context_node.getparent()
        while a is not None:
            c = a.get("class")
            if c:
                anc_classes.append(c)
            i = a.get("id")
            if i:
                anc_ids.append(i)
            a = a.getparent()
        anc_classes.reverse()  # root-first, matching xpath order
        anc_ids.reverse()
        return (prev_tag, next_tag, pos, anc_classes, anc_ids)

    def structural_attrs(context_node: Element) -> Tuple[str, str, List[str]]:
        xpath = getpath(context_node, children)
        html_tag = context_node.tag
        # bookkeeping + hOCR-accumulated visual attrs are not structural
        # signal (the reference clears them too, hocr_visual_parser.py:75-90)
        # — but ONLY for hOCR-rewritten documents; ordinary HTML may
        # legitimately carry attrs named left/top/tokens/... and keeps them
        skip = {"visited"}
        if hocr or "fonduer" in context_node.attrib:
            skip |= {"left", "top", "right", "bottom", "ppageno",
                     "tokens", "x_wconf", "fonduer"}
        html_attrs = [
            f"{k}={v}" for k, v in context_node.attrib.items() if k not in skip
        ]
        # Merge inline <style> class CSS into the style attr
        # (reference parser.py:521-562).
        if styles_text:
            cls = context_node.get("class")
            if cls:
                rgx = re.compile(
                    r"(." + cls + r")([\n\s\r]*)\{(.*?)\}", re.DOTALL
                )
                m = rgx.search(styles_text)
                if m is not None:
                    body = (
                        m.group(3).replace("\r", "").replace("\n", "")
                        .replace("\t", "")
                    )
                    cur = next(
                        (i for i, a in enumerate(html_attrs) if "style" in a), None
                    )
                    if cur is not None:
                        html_attrs[cur] += body
                    else:
                        html_attrs.append("style=" + re.sub(r"\s{1,}", " ", body.strip()))
        return xpath, html_tag, html_attrs

    node_attrs: Dict[int, Tuple] = {}

    def sentence_attrs(node: Optional[Element]) -> Tuple:
        """The structural attrs and the hOCR cursor every sentence of
        ``node``'s text (or of a child's tail) carries, computed once per
        node: the cursor advances across all of them."""
        got = node_attrs.get(id(node))
        if got is None:
            got = _NO_ATTRS
            if node is not None:
                got = ((structural_attrs(node) + sibling_ancestor_attrs(node)
                        if structural else _NO_ATTRS[:8])
                       + (_visual_node_state(node) if hocr else None,))
            node_attrs[id(node)] = got
        return got

    # -- iterative DFS in recursive order (reference parser.py:816-852) -----
    # A stack entry is (node, parent ctx, back from the children): a node
    # with children is pushed again under its own ctx, above them, so its
    # tail is read after its subtree. Nothing is written into the tree.
    n_par = n_sent = abs_offset = 0
    blacklist = set(cfg.blacklist)
    stack: List[Tuple[Element, _Ctx, bool]] = [(root, doc, False)]
    push = stack.append
    while stack:
        node, ctx, again = stack.pop()
        if again:
            fields = _TAIL
        else:
            mark = marks.get(id(node))
            if mark == "true":
                continue
            kids = node._children
            if mark != "text":
                op = operators.get(node.tag)
                par = ctx
                if node is root and op is not parse_section:
                    ctx = parse_section(node, par)
                if op is not None:
                    ctx = op(node, par) or ctx
                if kids:
                    push((node, ctx, True))
                    for c in reversed(kids):
                        if c.tag not in blacklist:
                            push((c, ctx, False))
                    fields = _TEXT
                else:
                    fields = _TEXT_TAIL
            else:
                fields = _TAIL if kids else _TEXT_TAIL
        for tail in fields:
            text = node.tail if tail else node.text
            if text and strip:
                text = text.strip()
            if not text:
                continue
            for rgx, repl in replacements:
                text = rgx.sub(repl, text)
            (parent_sid, section_sid, cell_sid, table_sid, table_pos, cell_pos,
             row_start, row_end, col_start, col_end) = ctx.bind or bind(ctx)
            paragraph_sid = f"{url}::paragraph:{n_par}"
            name = node.attrib.get("name")
            if w_par:
                rows.append(_row(url, stable_id=paragraph_sid,
                                 ctx_type="paragraph", position=n_par,
                                 parent_sid=parent_sid, section_sid=section_sid,
                                 cell_sid=cell_sid, name=name))
            n_par += 1
            attrs = None
            # reference parser.py:472-509 (_parse_sentence)
            for parts in split(text):
                words, offsets = parts["words"], parts["char_offsets"]
                abs_end = abs_offset + offsets[-1] + len(words[-1])
                if w_sent:
                    if attrs is None:
                        # a tail's structural context is its parent node
                        attrs = (sentence_attrs(node._parent if tail else node)
                                 if structural or hocr else _NO_ATTRS)
                    vstate = attrs[8]
                    visual = _consume_visual(vstate, words) if vstate else None
                    # direct dict literal (hot path: one per sentence)
                    rows.append({
                        "url": url,
                        "stable_id": f"{url}::sentence:{abs_offset}:{abs_end}",
                        "ctx_type": "sentence", "position": n_sent,
                        "parent_sid": paragraph_sid, "name": name,
                        "text": parts["text"],
                        "row_start": row_start, "row_end": row_end,
                        "col_start": col_start, "col_end": col_end,
                        "fig_url": None, "words": words,
                        "char_offsets": offsets,
                        "abs_char_offsets": [o + abs_offset for o in offsets],
                        "lemmas": parts["lemmas"], "pos_tags": parts["pos_tags"],
                        "ner_tags": parts["ner_tags"],
                        "dep_parents": parts["dep_parents"],
                        "dep_labels": parts["dep_labels"],
                        "xpath": attrs[0], "html_tag": attrs[1],
                        "html_attrs": attrs[2],
                        "prev_sib_tag": attrs[3], "next_sib_tag": attrs[4],
                        "node_pos": attrs[5],
                        "ancestor_classes": attrs[6], "ancestor_ids": attrs[7],
                        "page": visual["page"] if visual else None,
                        "left": visual["left"] if visual else None,
                        "top": visual["top"] if visual else None,
                        "right": visual["right"] if visual else None,
                        "bottom": visual["bottom"] if visual else None,
                        "section_sid": section_sid,
                        "paragraph_sid": paragraph_sid,
                        "table_sid": table_sid, "cell_sid": cell_sid,
                        "table_position": table_pos, "cell_position": cell_pos,
                    })
                abs_offset = abs_end
                n_sent += 1
    return rows


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------
def decode_html(html):
    """web_pages html (binary) -> str; str passes through."""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


# ctx_type (mention_type, candidate_type) of the marker row a per-document
# stage emits for a document whose render or parse raised: url (and split)
# set, the rest null
PARSE_ERROR_TYPE = "_parse_error"


# A source reads documents off two columns of a frame:
# (column names, url_fn(a, b), html_fn(a, b)).
def corpus_docs(render=None) -> tuple:
    """Source over (doc_id, text): url from the id, html from
    ``render(doc_id, text)`` (default: the synthetic corpus renderer)."""
    from .corpus import render_page, url_of

    return (("doc_id", "text"), lambda i, _text: url_of(int(i)),
            render or (lambda i, text: render_page(int(i), text)))


# source over web_pages (url, html bytes)
WEB_PAGES = (("url", "html"), lambda url, _html: url,
             lambda _url, html: decode_html(html))


def map_documents(frame: DataFrame, source: tuple, kernel, cfg: ParseConfig,
                  schema: T.StructType, emit, marker) -> DataFrame:
    """The one per-document batch loop: per document of ``frame`` run
    ``kernel(url, html, lp)`` (``lp`` built once per task from ``cfg``)
    and pass the result to ``emit(url, result, out)``, which appends
    output rows to ``out``.

    This is the only place a parse failure is caught. The document becomes
    one ``marker(url, PARSE_ERROR_TYPE)`` row plus one worker WARNING naming
    the url — a record for lineage instead of a silent drop (the reference
    logs and skips, parser.py:236-264)."""
    cols, url_fn, html_fn = source
    names = schema.fieldNames()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp = cfg.make_lingual_parser()
        for pdf in batches:
            out: List[dict] = []
            for a, b in zip(pdf[cols[0]], pdf[cols[1]]):
                url = url_fn(a, b)
                try:
                    got = kernel(url, html_fn(a, b), lp)
                except Exception:
                    log.warning("document %s failed to parse; emitting a %s "
                                "marker row", url, PARSE_ERROR_TYPE,
                                exc_info=True)
                    out.append(marker(url, PARSE_ERROR_TYPE))
                    continue
                emit(url, got, out)
            yield pd.DataFrame(out, columns=names)

    return frame.select(*cols).mapInPandas(fn, schema)


def parse_webpages(frame: DataFrame, cfg: Optional[ParseConfig] = None,
                   source: tuple = WEB_PAGES) -> DataFrame:
    """Documents -> unified context rows: map_documents with the
    ``parse_document`` kernel. ``source`` is WEB_PAGES (url, html) or
    ``corpus_docs(render)`` over (doc_id, text). A failed document becomes
    one context row with ``ctx_type = PARSE_ERROR_TYPE``, only url set."""
    cfg = cfg or ParseConfig()

    def kernel(url: str, html: str, lp: LingualParser) -> List[Dict[str, Any]]:
        return parse_document(url, html, cfg, lp)

    return map_documents(frame, source, kernel, cfg, CONTEXT_SCHEMA,
                         lambda _url, rows, out: out.extend(rows),
                         lambda url, kind: _row(url, ctx_type=kind))


def contexts_of(parsed: DataFrame, ctx_type: str) -> DataFrame:
    """View helper: slice the unified frame by context type."""
    return parsed.where(parsed.ctx_type == ctx_type)


def sentences_of(frame: DataFrame) -> DataFrame:
    """The sentence rows of a unified context frame; a frame without a
    ``ctx_type`` column is taken as a sentence slice already and returned
    as is."""
    return (contexts_of(frame, "sentence") if "ctx_type" in frame.columns
            else frame)
