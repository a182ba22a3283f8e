"""P1 — the parse operator: HTML web pages -> Context rows.

Re-implements the semantics of the reference's ``ParserUDF``
(/root/reference/src/fonduer/parser/parser.py:168-857) as one vectorized
``mapInPandas`` stage over a document source (web_pages or (doc_id, text)):

- iterative DFS in recursive-DFS order (children pushed reversed; ``.text``
  visited before children, ``.tail`` after — the visited-flag protocol of
  parser.py:601-609, 816-852);
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

from .htmldom import Element, getpath, parse_html, strip_tags, tostring
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


class _Ctx(dict):
    """A context record under construction; attribute-style access."""

    __getattr__ = dict.get


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

    root = parse_html(html_text)
    if cfg.flatten:
        strip_tags(root, cfg.flatten)

    doc = _Ctx(ctx_type="document", stable_id=f"{url}::document:0:0", position=0)
    if want("document"):
        rows.append(_row(url, stable_id=doc.stable_id, ctx_type="document",
                         position=0, text=tostring(root), name=url))

    counters = {"section": 0, "paragraph": 0, "figure": 0, "caption": 0, "table": 0}
    sent_state = {"idx": 0, "abs_offset": 0}
    tables: Dict[int, Dict[str, Any]] = {}  # per-table grid state by position
    parent: Dict[int, _Ctx] = {}
    context: Dict[int, _Ctx] = {}

    head = root.find("head")
    styles_text: Optional[str] = None
    if head is not None:
        style_el = head.find("style")
        if style_el is not None:
            styles_text = style_el.text

    # -- sub-operators ------------------------------------------------------
    def parse_section(node: Element) -> None:
        # reference parser.py:666-701; extended: the root element always
        # opens section 0 so fragment-rooted documents still parse.
        if node.tag not in ("html", "section") and node._parent is not None:
            return
        ctx = _Ctx(
            ctx_type="section",
            stable_id=f"{url}::section:{counters['section']}",
            position=counters["section"],
            document=doc,
        )
        counters["section"] += 1
        context[id(node)] = ctx
        if want("section"):
            rows.append(_row(url, stable_id=ctx.stable_id, ctx_type="section",
                             position=ctx.position, parent_sid=doc.stable_id,
                             name=node.get("name")))

    def parse_figure(node: Element) -> None:
        # reference parser.py:394-470
        if node.tag not in ("img", "figure"):
            return
        par = parent[id(node)]
        if node.tag == "img" and par.ctx_type == "figure":
            return  # img inside a Figure is handled by the parent figure
        if par.ctx_type == "section":
            section, cell = par, None
        elif par.ctx_type == "cell":
            section, cell = par.table.section, par
        else:
            return  # nested figures unsupported, same as reference
        fig_url = None
        if node.tag == "img":
            fig_url = node.get("src")
        else:
            imgs = [c for c in node if c.tag == "img"]
            if len(imgs) == 0:
                return
            if len(imgs) > 1:
                # multi-img figure: ignore the wrapper, process children solo
                for c in node:
                    if c.tag == "figcaption":
                        c.set("visited", "true")
                return
            imgs[0].set("visited", "true")
            fig_url = imgs[0].get("src")
        ctx = _Ctx(
            ctx_type="figure",
            stable_id=f"{url}::figure:{counters['figure']}",
            position=counters["figure"],
            section=section, cell=cell, fig_url=fig_url,
        )
        counters["figure"] += 1
        context[id(node)] = ctx
        if want("figure"):
            rows.append(_row(url, stable_id=ctx.stable_id, ctx_type="figure",
                             position=ctx.position, parent_sid=section.stable_id,
                             cell_sid=cell.stable_id if cell else None,
                             fig_url=fig_url, name=node.get("name")))

    def parse_table(node: Element) -> None:
        # reference parser.py:266-392 (grid: 326-356)
        if node.tag == "table":
            par = parent[id(node)]
            if par.ctx_type == "cell":
                section = par.table.section
            elif par.ctx_type == "section":
                section = par
            else:
                raise ValueError("Table is not within a Section or Cell")
            pos = counters["table"]
            ctx = _Ctx(
                ctx_type="table", stable_id=f"{url}::table:{pos}",
                position=pos, section=section,
            )
            counters["table"] += 1
            context[id(node)] = ctx
            tables[pos] = {"grid": {}, "cell_pos": 0, "row_idx": -1, "col_idx": 0}
            if want("table"):
                rows.append(_row(url, stable_id=ctx.stable_id, ctx_type="table",
                                 position=pos, parent_sid=section.stable_id,
                                 name=node.get("name")))
        elif node.tag == "tr":
            par = parent[id(node)]
            if par.ctx_type != "table":
                raise ValueError("Table row parent must be a Table")
            st = tables[par.position]
            st["col_idx"] = 0
            st["row_idx"] += 1
        elif node.tag in ("td", "th"):
            par = parent[id(node)]
            if par.ctx_type != "table":
                raise ValueError("Cell parent must be a Table")
            st = tables[par.position]
            if st["row_idx"] < 0:
                raise ValueError("Table cell encountered before a table row")
            while st["grid"].get((st["row_idx"], st["col_idx"])):
                st["col_idx"] += 1
            row_start, col_start = st["row_idx"], st["col_idx"]
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
                    st["grid"][(r, c)] = 1
            ctx = _Ctx(
                ctx_type="cell",
                stable_id=f"{url}::cell:{par.position}:{row_start}:{col_start}",
                position=st["cell_pos"], table=par,
                row_start=row_start, row_end=row_end,
                col_start=col_start, col_end=col_end,
            )
            context[id(node)] = ctx
            if want("cell"):
                rows.append(_row(url, stable_id=ctx.stable_id, ctx_type="cell",
                                 position=st["cell_pos"], parent_sid=par.stable_id,
                                 table_sid=par.stable_id,
                                 table_position=par.position,
                                 row_start=row_start, row_end=row_end,
                                 col_start=col_start, col_end=col_end,
                                 name=node.get("name")))
            st["col_idx"] += 1
            st["cell_pos"] += 1

    def parse_caption(node: Element) -> None:
        # reference parser.py:703-750
        if node.tag not in ("caption", "figcaption"):
            return
        par = parent[id(node)]
        if par.ctx_type == "table":
            table, figure = par, None
        elif par.ctx_type == "figure":
            table, figure = None, par
        else:
            raise ValueError("Caption must be a child of Table or Figure")
        ctx = _Ctx(
            ctx_type="caption",
            stable_id=f"{url}::caption:{counters['caption']}",
            position=counters["caption"], table=table, figure=figure,
        )
        counters["caption"] += 1
        context[id(node)] = ctx
        if want("caption"):
            rows.append(_row(url, stable_id=ctx.stable_id, ctx_type="caption",
                             position=ctx.position,
                             parent_sid=(table or figure).stable_id,
                             name=node.get("name")))

    xpath_cache: Dict[int, str] = {}
    sib_cache: Dict[int, Tuple] = {}
    visual_state: Dict[int, Dict[str, Any]] = {}

    def _visual_node_state(node: Element) -> Optional[Dict[str, Any]]:
        """Lazily parse a node's hOCR-accumulated visual attributes into a
        token-aligned consumption state (the engine's HocrVisualParser:
        reference hocr_visual_parser.py:38-160, with the spaCy alignment
        replaced by deterministic substring consumption — every sentence
        word is a substring of exactly one whitespace-delimited hOCR token,
        modulo the delimiter the sentence splitter removed)."""
        st = visual_state.get(id(node))
        if st is not None:
            return st if st else None
        toks_attr = node.get("tokens")
        if not toks_attr:
            visual_state[id(node)] = {}
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
            visual_state[id(node)] = {}
            return None
        if any(len(v) != len(toks) for v in arrays.values()):
            visual_state[id(node)] = {}
            return None
        st = {"toks": toks, "arrays": arrays, "ti": 0, "ci": 0}
        visual_state[id(node)] = st
        return st

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

    def sibling_ancestor_attrs(context_node: Element) -> Tuple:
        """(prev_sib_tag, next_sib_tag, node_pos, ancestor_classes,
        ancestor_ids) — the sibling/ancestor context behind the reference's
        PREV_SIB_TAG/NEXT_SIB_TAG/NODE_POS/ANCESTOR_CLASS/ANCESTOR_ID
        structural features (structural_features.py:91-106), captured at
        parse time so featurization never re-walks the DOM."""
        got = sib_cache.get(id(context_node))
        if got is not None:
            return got
        prev_tag = next_tag = None
        pos = None
        par = context_node.getparent()
        if par is not None:
            sibs = par.getchildren()
            idx = next(
                i for i, c in enumerate(sibs) if c is context_node)
            pos = idx + 1
            if idx > 0:
                prev_tag = sibs[idx - 1].tag
            if idx < len(sibs) - 1:
                next_tag = sibs[idx + 1].tag
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
        got = (prev_tag, next_tag, pos, anc_classes, anc_ids)
        sib_cache[id(context_node)] = got
        return got

    def structural_attrs(context_node: Element) -> Tuple[str, str, List[str]]:
        xpath = xpath_cache.get(id(context_node))
        if xpath is None:
            xpath = getpath(context_node)
            xpath_cache[id(context_node)] = xpath
        html_tag = context_node.tag
        # bookkeeping + hOCR-accumulated visual attrs are not structural
        # signal (the reference clears them too, hocr_visual_parser.py:75-90)
        # — but ONLY for hOCR-rewritten documents; ordinary HTML may
        # legitimately carry attrs named left/top/tokens/... and keeps them
        skip = {"visited"}
        if cfg.visual == "hocr" or "fonduer" in context_node.attrib:
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

    def emit_sentences(paragraph: _Ctx, node: Element, text: str, fld: str) -> None:
        # reference parser.py:472-509 (_parse_sentence)
        name = node.get("name")
        for parts in lingual_parser.split_sentences(text):
            abs_offset = sent_state["abs_offset"]
            abs_char_offsets = [o + abs_offset for o in parts["char_offsets"]]
            abs_end = abs_offset + parts["char_offsets"][-1] + len(parts["words"][-1])
            stable_id = f"{url}::sentence:{abs_offset}:{abs_end}"
            sent_state["abs_offset"] = abs_end
            if not want("sentence"):
                sent_state["idx"] += 1
                continue
            xpath = html_tag = None
            html_attrs = None
            prev_sib = next_sib = node_pos = None
            anc_classes = anc_ids = None
            visual = None
            context_node = node.getparent() if fld == "tail" else node
            if cfg.structural and context_node is not None:
                xpath, html_tag, html_attrs = structural_attrs(context_node)
                (prev_sib, next_sib, node_pos,
                 anc_classes, anc_ids) = sibling_ancestor_attrs(context_node)
            if cfg.visual == "hocr" and context_node is not None:
                vstate = _visual_node_state(context_node)
                if vstate is not None:
                    visual = _consume_visual(vstate, parts["words"])
            cell = paragraph.cell
            table = cell.table if cell else None
            section = paragraph.section
            # direct dict literal (hot path: one per sentence; dict.fromkeys
            # + update measured ~40% of this function's time)
            rows.append({
                "url": url, "stable_id": stable_id, "ctx_type": "sentence",
                "position": sent_state["idx"],
                "parent_sid": paragraph.stable_id, "name": name,
                "text": parts["text"],
                "row_start": cell.row_start if cell else None,
                "row_end": cell.row_end if cell else None,
                "col_start": cell.col_start if cell else None,
                "col_end": cell.col_end if cell else None,
                "fig_url": None,
                "words": parts["words"],
                "char_offsets": parts["char_offsets"],
                "abs_char_offsets": abs_char_offsets,
                "lemmas": parts["lemmas"], "pos_tags": parts["pos_tags"],
                "ner_tags": parts["ner_tags"],
                "dep_parents": parts["dep_parents"],
                "dep_labels": parts["dep_labels"],
                "xpath": xpath, "html_tag": html_tag,
                "html_attrs": html_attrs,
                "prev_sib_tag": prev_sib, "next_sib_tag": next_sib,
                "node_pos": node_pos,
                "ancestor_classes": anc_classes, "ancestor_ids": anc_ids,
                "page": visual["page"] if visual else None,
                "left": visual["left"] if visual else None,
                "top": visual["top"] if visual else None,
                "right": visual["right"] if visual else None,
                "bottom": visual["bottom"] if visual else None,
                "section_sid": section.stable_id if section else None,
                "paragraph_sid": paragraph.stable_id,
                "table_sid": table.stable_id if table else None,
                "cell_sid": cell.stable_id if cell else None,
                "table_position": table.position if table else None,
                "cell_position": cell.position if cell else None,
            })
            sent_state["idx"] += 1

    def parse_paragraph(node: Element) -> None:
        # reference parser.py:583-664
        par = context.get(id(node), parent[id(node)])
        if len(node) == 0:
            fields = ["text", "tail"]
        elif node.get("visited") == "text":
            fields = ["tail"]
            node.set("visited", "true")
        else:
            fields = ["text"]
            node.set("visited", "text")
            stack.append(node)  # will visit again later for the tail
        for fld in fields:
            text = node.text if fld == "text" else node.tail
            if text and cfg.strip:
                text = text.strip()
            if not text:
                continue
            for rgx, repl in replacements:
                text = rgx.sub(repl, text)
            if par.ctx_type == "caption":
                section = (par.table or par.figure).section
                caption, cell = par, None
            elif par.ctx_type == "cell":
                section, caption, cell = par.table.section, None, par
            elif par.ctx_type == "section":
                section, caption, cell = par, None, None
            elif par.ctx_type == "figure":
                section, caption, cell = par.section, None, None
            elif par.ctx_type == "table":
                section, caption, cell = par.section, None, None
            else:
                raise ValueError(
                    f"Paragraph parent must be Section/Caption/Cell/Figure/"
                    f"Table, not {par.ctx_type}"
                )
            pg = _Ctx(
                ctx_type="paragraph",
                stable_id=f"{url}::paragraph:{counters['paragraph']}",
                position=counters["paragraph"],
                section=section, caption=caption, cell=cell,
            )
            counters["paragraph"] += 1
            if want("paragraph"):
                rows.append(_row(
                    url, stable_id=pg.stable_id, ctx_type="paragraph",
                    position=pg.position,
                    parent_sid=(cell or caption or section).stable_id,
                    section_sid=section.stable_id if section else None,
                    cell_sid=cell.stable_id if cell else None,
                    name=node.get("name"),
                ))
            emit_sentences(pg, node, text, fld)

    # -- iterative DFS in recursive order (reference parser.py:816-852) -----
    stack: List[Element] = [root]
    parent[id(root)] = doc
    context[id(root)] = doc
    blacklist = set(cfg.blacklist)
    while stack:
        node = stack.pop()
        if node.get("visited") == "true":
            node.set("visited", "true")
            continue
        if node.get("visited") != "text":
            parse_section(node)
            parse_figure(node)
            if cfg.tabular:
                parse_table(node)
            parse_caption(node)
        parse_paragraph(node)
        if node.get("visited") != "true":
            for child in reversed(node):
                if child.tag in blacklist:
                    continue
                stack.append(child)
                parent[id(child)] = context.get(id(node), parent[id(node)])
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
