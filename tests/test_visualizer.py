"""SVG bbox-overlay visualizer (reference utils/visualizer.py:23-119,
tests/utils/test_visualizer.py) — golden assertions over the hOCR fixture,
whose bboxes are pure arithmetic (word k of body row r: x = 100k+10..100k+90,
y = 20r+10..20r+22; header line at y 0..8; one page per table)."""

import pytest
from pyspark.sql import functions as F

from fonduer_spark.corpus import load_docs, n_tables, render_hocr, url_of
from fonduer_spark.mentions_op import extract_mentions_fused
from fonduer_spark.parse import ParseConfig
from fonduer_spark.pipeline import default_mention_specs
from fonduer_spark.sources import rewrite_hocr
from fonduer_spark.visualizer import (
    display_candidates, display_words, svg_boxes, svg_page)


@pytest.fixture(scope="module")
def hocr_mentions(spark):
    docs = load_docs(spark, "/root/testdata/sf0.001", max_docs=2)
    return extract_mentions_fused(
        docs, default_mention_specs(),
        render=lambda i, text: rewrite_hocr(render_hocr(int(i))),
        parse_cfg=ParseConfig(visual="hocr"),
    )


@pytest.fixture(scope="module")
def hocr_sentences(spark):
    from fonduer_spark.parse import contexts_of, corpus_docs, parse_webpages

    docs = load_docs(spark, "/root/testdata/sf0.001", max_docs=2)

    def render(i, _text):
        return rewrite_hocr(render_hocr(int(i)))

    return contexts_of(parse_webpages(
        docs, ParseConfig(visual="hocr"), source=corpus_docs(render)),
        "sentence")


def test_svg_page_golden():
    svg = svg_page([(0, 8, 10, 90, "Part")], page_width=600, page_height=800)
    assert '<rect x="10" y="0" width="80" height="8" fill="none" ' \
           'stroke="blue"/>' in svg
    assert '<text x="10" y="-1" font-size="6">Part</text>' in svg
    assert 'viewBox="0 0 600 800"' in svg


def test_svg_boxes_alternates_and_groups_pages():
    pages = svg_boxes(
        [(1, 10, 22, 10, 90), (0, 10, 22, 10, 90), (0, 10, 22, 110, 190)],
        alternate_colors=True)
    assert sorted(pages) == [0, 1]
    # two boxes on page 0 alternate blue/red (reference alternate_colors)
    assert 'stroke="blue"' in pages[0] and 'stroke="red"' in pages[0]
    assert 'stroke="red"' not in pages[1]


def test_display_words_hocr_golden(hocr_sentences):
    url = url_of(1)
    html = display_words(hocr_sentences, url, page_width=600, page_height=800)
    assert html == display_words(  # deterministic
        hocr_sentences, url, page_width=600, page_height=800)
    # one <figure> per page (= per table of doc 1)
    assert html.count("<figure>") == n_tables(1)
    # the header word 'Part' at its arithmetic bbox, on every page
    assert html.count('<rect x="10" y="0" width="80" height="8" fill="none" '
                      'stroke="blue"/>') == n_tables(1)
    assert ">Part</text>" in html
    # body row 0's first word spans y 10..22
    assert '<rect x="10" y="10" width="80" height="12"' in html


def test_display_words_target_filter(hocr_sentences):
    url = url_of(1)
    html = display_words(hocr_sentences, url, target="Min",
                         page_width=600, page_height=800)
    # only the header 'Min' boxes survive: one per page, at x 110..190
    assert html.count("<rect") == html.count('fill="white"') + n_tables(1)
    assert html.count('<rect x="110" y="0" width="80" height="8"') == n_tables(1)


def test_display_candidates_hocr(spark, hocr_mentions):
    from fonduer_spark.candidates_op import extract_candidates
    from fonduer_spark.data_model_utils import is_horz_aligned, same_page

    cands = extract_candidates(
        hocr_mentions, "part_temp_visual", "part", "temp",
        throttler=lambda df: same_page() & is_horz_aligned(),
        throttler_kind="column",
    )
    url = url_of(1)
    html = display_candidates(cands, url, page_width=600, page_height=800)
    assert html.count("<figure>") == n_tables(1)
    # consecutive slot boxes alternate colors like the reference
    assert 'stroke="blue"' in html and 'stroke="red"' in html
    # a part slot's box: word 0 of a body row (x 10..90, 12pt tall)
    assert '<rect x="10" y="10" width="80" height="12"' in html
    n_cands = cands.where(F.col("url") == url).count()
    # every slot box drawn exactly once; dedup only via sorted() order
    n_rects = html.count("<rect") - html.count('fill="white"')
    assert n_rects == 2 * n_cands
