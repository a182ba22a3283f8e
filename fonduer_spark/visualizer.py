"""Bbox-overlay visualizer: the reference's debugging aid, render-free.

The reference Visualizer (src/fonduer/utils/visualizer.py:23-119, exercised
by tests/utils/test_visualizer.py) rasterizes pdf pages with wand/poppler and
strokes candidate/word bounding boxes on the images. Neither wand nor a pdf
rasterizer exists in this container — and at cluster scale the useful
artifact is a small self-contained file, not a notebook Image — so this
module emits standalone SVG/HTML overlays straight from the word coordinates
the parse already carries (hOCR or pdftotext bboxes). Same debugging
surface, same box semantics (5-tuples of page/top/bottom/left/right,
display_candidates alternates blue/red like the reference's
alternate_colors=True), deterministic output (boxes sorted), no new deps.

Driver-side by design: like the reference, these helpers visualize ONE
document at a time (the frames are filtered to a url before collecting) —
a debug tool, not a pipeline stage.
"""

from __future__ import annotations

import html as _html
from collections import defaultdict
from typing import Dict, Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parse import sentences_of

# (page, top, bottom, left, right) — the reference's box 5-tuple layout
# (visualizer.py:44,55).
Box = Tuple[int, int, int, int, int]

COLORS = ("blue", "red")  # reference display_boxes colors (visualizer.py:47)


def svg_page(boxes: Iterable[Tuple[int, int, int, int, Optional[str]]],
             page_width: int = 612, page_height: int = 792) -> str:
    """One page's overlay: each (top, bottom, left, right, label) becomes a
    stroked, transparent-fill rect (the reference's Drawing.rectangle call,
    visualizer.py:59-69) plus an optional small text label."""
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" '
        f'width="{page_width}" height="{page_height}" '
        f'viewBox="0 0 {page_width} {page_height}">',
        f'<rect x="0" y="0" width="{page_width}" height="{page_height}" '
        f'fill="white" stroke="#ccc"/>',
    ]
    for i, (top, bottom, left, right, label) in enumerate(boxes):
        color = COLORS[i % 2] if label is None else "blue"
        parts.append(
            f'<rect x="{left}" y="{top}" width="{right - left}" '
            f'height="{bottom - top}" fill="none" stroke="{color}"/>'
        )
        if label:
            parts.append(
                f'<text x="{left}" y="{top - 1}" font-size="6">'
                f"{_html.escape(label)}</text>"
            )
    parts.append("</svg>")
    return "".join(parts)


def svg_boxes(boxes: List[Box], alternate_colors: bool = False,
              page_width: int = 612, page_height: int = 792) -> Dict[int, str]:
    """Group 5-tuple boxes by page and emit one SVG per page — the direct
    analogue of reference display_boxes (visualizer.py:34-71), with the
    stroked rectangles over a blank page instead of the rasterized pdf.
    Boxes are drawn in sorted order, so output is deterministic under any
    input ordering."""
    by_page: Dict[int, List] = defaultdict(list)
    for page, top, bottom, left, right in sorted(boxes):
        by_page[page].append(
            (top, bottom, left, right, None if alternate_colors else ""))
    return {
        pg: svg_page(bs, page_width, page_height)
        for pg, bs in sorted(by_page.items())
    }


def _doc_html(title: str, pages: Dict[int, str]) -> str:
    body = "".join(
        f"<figure><figcaption>page {pg}</figcaption>{svg}</figure>"
        for pg, svg in pages.items()
    )
    return (f"<html><head><title>{_html.escape(title)}</title></head>"
            f"<body>{body}</body></html>")


def display_words(sentences: DataFrame, url: str,
                  target: Optional[str] = None,
                  page_width: int = 612, page_height: int = 792) -> str:
    """HTML overlay of every word bbox of one document (reference
    display_words, visualizer.py:93-119), each rect labeled with its word;
    ``target`` filters to one word form like the reference's ``target``."""
    sent = sentences_of(sentences)
    rows = (
        sent.where((F.col("url") == url) & F.col("page").isNotNull())
        .select("position", "words", "page", "top", "bottom", "left", "right")
        .orderBy("position")
        .collect()
    )
    by_page: Dict[int, List] = defaultdict(list)
    for r in rows:
        for i, w in enumerate(r.words):
            if r.page[i] is None or r.page[i] < 0:
                continue
            if target is None or w == target:
                by_page[int(r.page[i])].append(
                    (r.top[i], r.bottom[i], r.left[i], r.right[i], w))
    pages = {pg: svg_page(bs, page_width, page_height)
             for pg, bs in sorted(by_page.items())}
    return _doc_html(f"words {url}", pages)


def display_candidates(candidates: DataFrame, url: str,
                       page_width: int = 612, page_height: int = 792) -> str:
    """HTML overlay of every candidate slot bbox of one document (reference
    display_candidates, visualizer.py:73-91: one box per mention of each
    candidate, alternate_colors=True so consecutive boxes alternate
    blue/red). Slots are discovered from the ``{slot}page`` columns, so
    binary (a_/b_) and n-ary (m{i}_) frames both work."""
    slots = sorted(
        c[:-4] for c in candidates.columns
        if c.endswith("page") and c != "page"
    )
    cols = ["candidate_sid"]
    for s in slots:
        cols += [f"{s}page", f"{s}top", f"{s}bottom", f"{s}left", f"{s}right"]
    rows = (
        candidates.where(F.col("url") == url)
        .select(*cols).orderBy("candidate_sid").collect()
    )
    boxes: List[Box] = []
    for r in rows:
        for s in slots:
            if r[f"{s}page"] is None:
                continue
            boxes.append((r[f"{s}page"], r[f"{s}top"], r[f"{s}bottom"],
                          r[f"{s}left"], r[f"{s}right"]))
    pages = svg_boxes(boxes, alternate_colors=True,
                      page_width=page_width, page_height=page_height)
    return _doc_html(f"candidates {url}", pages)
