"""Deterministic synthetic web-page corpus (FIXTURES.md spec).

Every page is a pure **arithmetic** function of its ``doc_id`` (no RNG), so
the expected knowledge-graph output is reconstructible in ANSI SQL — the
DuckDB oracle recomputes the gold (subj, pred, obj) set from the same modular
formulas while the Spark pipeline derives it by actually parsing the HTML.
This mirrors the reference's generator-derived golden counts
(/root/reference/tests/candidates/test_candidates.py:253-323) without its
domain-specific datasheet fixtures.

Formulas (doc i, table t, body row r):
  n_tables(i)    = 1 + (i % 2) + (6 if i % 50 == 0 else 0)   # 2% hot docs -> skew
  n_rows(i, t)   = 3 + ((i + t) % 3)
  part(i, t, r)  = "PN" + str((i*17 + t*5 + r*3) % 900 + 100) + chr(65 + (i+r) % 3)
  temp_max(...)  = 85 + ((i*3 + r*7) % 60)       # positive  -> gold triple
  temp_min(...)  = -(40 + ((i + r) % 30))        # negative  -> labeled out

The page also exercises every parse sub-operator: <span>/<br> flattening,
<script> blacklisting, unicode-hyphen replacement, <style> class CSS merge,
rowspan/colspan footer cells, <figure>/<figcaption>.
"""

from __future__ import annotations

import re
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PRED = "stg_temp_max"


def n_tables(i: int) -> int:
    return 1 + (i % 2) + (6 if i % 50 == 0 else 0)


def n_rows(i: int, t: int) -> int:
    return 3 + ((i + t) % 3)


def part_code(i: int, t: int, r: int) -> str:
    return f"PN{(i * 17 + t * 5 + r * 3) % 900 + 100}{chr(65 + (i + r) % 3)}"


def temp_max(i: int, t: int, r: int) -> int:
    return 85 + ((i * 3 + r * 7) % 60)


def temp_min(i: int, t: int, r: int) -> int:
    return -(40 + ((i + r) % 30))


def _filler(text: str, k: int = 12) -> List[str]:
    """Deterministic lowercase digit-free filler tokens from a source text."""
    toks = re.sub(r"[^a-z ]", "", (text or "").lower()).split()
    toks = toks[:k] if toks else ["filler"]
    return toks


def render_page(i: int, source_text: str = "") -> str:
    """Render the synthetic HTML page for doc i."""
    toks = _filler(source_text)
    half = max(1, len(toks) // 2)
    p1 = " ".join(toks[:half])
    p2 = " ".join(toks[half:]) or "filler"
    tables = []
    for t in range(n_tables(i)):
        rows = [
            "<tr><th>Part</th><th>Min Temp</th><th>Max Temp</th></tr>"
        ]
        for r in range(n_rows(i, t)):
            rows.append(
                f"<tr><td>{part_code(i, t, r)}</td>"
                f"<td>{temp_min(i, t, r)}</td>"
                f"<td>{temp_max(i, t, r)}</td></tr>"
            )
        if (i + t) % 5 == 0:  # footer row with col/rowspan: grid resolution
            rows.append(
                '<tr><td colspan="2">all values nominal</td>'
                '<td rowspan="1">ok</td></tr>'
            )
        tables.append(
            f'<table name="t{t}">'
            f"<caption>Specs table {t} of doc {i}.</caption>"
            + "".join(rows)
            + "</table>"
        )
    # NOTE: the en-dash in the range sentence exercises the unicode-hyphen
    # replacement (reference parser.py:83-85); the glued token "-40–125"
    # matches neither the part nor the temp matcher by construction.
    return (
        "<html><head><title>Doc {i}</title>"
        "<style>.hl {{ color: red; }}</style></head>"
        "<body>"
        '<h1 id="title-{i}">Synthetic fixture page {i}.</h1>'
        '<p class="hl">{p1}. <span>{p2}</span>.</p>'
        "<p>Operating range spans -40–125 degrees.<br>Use with care.</p>"
        "<script>var x = 1;</script>"
        "<!-- synthetic fixture -->"
        "{tables}"
        '<figure><img src="img{i}.png"/>'
        "<figcaption>Figure caption {i}.</figcaption></figure>"
        "</body></html>"
    ).format(i=i, p1=p1, p2=p2, tables="".join(tables))


def url_of(i: int) -> str:
    return f"https://fixture.test/d{i:06d}"


def render_hocr(i: int) -> str:
    """Render doc i as a deterministic hOCR document: one ocr_page per table
    index, a header line ("Part Min Max" at y 0..8 — alphabetic words, so
    the visual-aligned-lemma vocabularies have content), then one ocr_line
    per body row carrying (part, tmin, tmax) as ocrx_words at arithmetic
    bboxes (word k of row r: x = 100k+10..100k+90, y = 20r+10..20r+22).
    Every line's last word carries a trailing sentence delimiter so the
    SimpleParser keeps one sentence per ocr_line (the delimiter is split
    away before matching — '85.' still yields the temp mention '85'). The
    visual-modality twin of render_page — the same gold facts, recoverable
    through bbox alignment instead of table structure."""
    pages = []
    for t in range(n_tables(i)):
        def line(words, y0, y1):
            words = words[:-1] + [words[-1] + "."]
            spans = "".join(
                f'<span class="ocrx_word" '
                f'title="bbox {100 * k + 10} {y0} {100 * k + 90} {y1}">'
                f"{w}</span> "
                for k, w in enumerate(words)
            )
            return (f'<span class="ocr_line" title="bbox 10 {y0} 290 {y1}">'
                    f"{spans}</span>")

        lines = [line(["Part", "Min", "Max"], 0, 8)]
        for r in range(n_rows(i, t)):
            y0, y1 = 20 * r + 10, 20 * r + 22
            lines.append(line(
                [str(part_code(i, t, r)), str(temp_min(i, t, r)),
                 str(temp_max(i, t, r))], y0, y1))
        pages.append(
            f'<div class="ocr_page" title="bbox 0 0 600 800; ppageno {t}">'
            f'<p class="ocr_par">{"".join(lines)}</p></div>'
        )
    return (
        '<html><head><meta name="ocr-capabilities" '
        'content="ocr_page ocr_par ocr_line ocrx_word"/></head>'
        "<body>" + "".join(pages) + "</body></html>"
    )


WEB_PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def load_docs(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int | None = None,
    replicate: int = 1,
) -> DataFrame:
    """(doc_id, text) source frame, url-hash repartitioned (see below)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if max_docs is not None:
        docs = docs.where(F.col("doc_id") < max_docs)
    # Explicit url-hash-equivalent repartitioning (north_rule): the driver's
    # parquet is a single file -> 1 split; spread the per-doc parse work
    # across the cluster. doc_id is the url key (url = url_of(doc_id)).
    # 1x tasks per core and no floor: the per-document stages downstream are
    # Python, and every Python task costs a fixed ~0.2 s of worker CPU
    # whatever it processes; 4x over-decomposition cost ~1.5 s of per-task
    # scheduling + Python-stage churn per pipeline run (measured sweep at 32
    # cores: x4 4.08 s, x2 2.64 s, x1 2.58 s end-to-end) — straggler
    # coverage comes from speculation + AQE rather than task over-splitting.
    # Replicated corpora (the sf1/scaling legs) keep the 4x split: the
    # post-repartition explode multiplies per-task work replicate-fold, so
    # coarse tasks there would re-create the straggler tail the 4x split
    # bounds. At 100 TB, partition count comes from target split size
    # instead. Repartition BEFORE the replicate explode so the inflation
    # itself is distributed, not a serial prefix.
    mult = 4 if replicate > 1 else 1
    n_parts = spark.sparkContext.defaultParallelism * mult
    docs = docs.repartition(n_parts, "doc_id")
    if replicate > 1:
        # Bench-scale corpus inflation: distinct doc indexes per replica so
        # every page is unique (gold formulas only hold for replica 0 —
        # replication is for throughput measurement, not oracle checks).
        docs = docs.select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_rep"),
        ).select(
            (F.col("doc_id") + F.col("_rep") * F.lit(10_000_000)).alias("doc_id"),
            "text",
        )
    return docs


def make_web_pages(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int | None = None,
    replicate: int = 1,
) -> DataFrame:
    """Build the (url, warc_ts, html, text, lang) input table from the
    driver's documents.parquet — html synthesized per doc_id, text empty at
    ingest (filled by P1), exactly the BASELINE.json input_hint shape.

    Distributed: generation happens inside mapInPandas on the executors, so
    the corpus scales with partitions (no driver-side materialization).
    """
    docs = load_docs(spark, sf_dir, max_docs, replicate)

    epoch = pd.Timestamp("2026-01-01T00:00:00")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype(int)
            yield pd.DataFrame({
                "url": [url_of(i) for i in ids],
                "warc_ts": [epoch + pd.Timedelta(seconds=int(i)) for i in ids],
                "html": [
                    render_page(int(i), txt).encode("utf-8")
                    for i, txt in zip(ids, pdf["text"])
                ],
                "text": ["" for _ in ids],
                "lang": ["en" for _ in ids],
            })

    return docs.mapInPandas(gen, schema=WEB_PAGES_SCHEMA)


def gold_triples_spark(
    spark: SparkSession, sf_dir: str, max_docs: int | None = None
) -> DataFrame:
    """The gold (subj, pred, obj) set as a native Spark plan over the same
    modular formulas — for in-pipeline evaluation (entity_level_prf1) the
    gold is a DataFrame derived from the documents table, not a driver-side
    DuckDB detour (at scale it would be a parquet read of a labeled split).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("i"))
    if max_docs is not None:
        docs = docs.where(F.col("i") < max_docs)
    tabs = docs.select(
        "i",
        F.explode(
            F.sequence(
                F.lit(0),
                (F.col("i") % 2)
                + F.when(F.col("i") % 50 == 0, 6).otherwise(0),
            )
        ).alias("t"),
    )
    cells = tabs.select(
        "i", "t",
        F.explode(
            F.sequence(F.lit(0), F.lit(2) + (F.col("i") + F.col("t")) % 3)
        ).alias("r"),
    )
    return cells.select(
        F.concat(
            F.lit("PN"),
            ((F.col("i") * 17 + F.col("t") * 5 + F.col("r") * 3) % 900 + 100)
            .cast("string"),
            F.char(F.lit(65) + (F.col("i") + F.col("r")) % 3),
        ).alias("subj"),
        F.lit(PRED).alias("pred"),
        (F.lit(85) + (F.col("i") * 3 + F.col("r") * 7) % 60)
        .cast("string").alias("obj"),
    ).distinct()


def gold_triples_sql(max_docs: int | None = None, table: str = "documents") -> str:
    """DuckDB SQL reconstructing the gold distinct (subj, pred, obj) set from
    the corpus formulas — the oracle for the end-to-end pipeline query."""
    where = f"WHERE doc_id < {max_docs}" if max_docs is not None else ""
    return f"""
WITH docs AS (SELECT doc_id AS i FROM {table} {where}),
tabs AS (
  SELECT i, unnest(range(0, 1 + (i % 2) + CASE WHEN i % 50 = 0 THEN 6 ELSE 0 END)) AS t
  FROM docs
),
cells AS (SELECT i, t, unnest(range(0, 3 + ((i + t) % 3))) AS r FROM tabs)
SELECT DISTINCT
  'PN' || CAST((i*17 + t*5 + r*3) % 900 + 100 AS VARCHAR)
       || chr(CAST(65 + ((i + r) % 3) AS INTEGER)) AS subj,
  '{PRED}' AS pred,
  CAST(85 + ((i*3 + r*7) % 60) AS VARCHAR) AS obj
FROM cells
ORDER BY subj, obj
"""
