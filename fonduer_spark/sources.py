"""Sources: document preprocessors -> the web_pages input shape.

The reference's DocPreprocessors enumerate local files into Document rows
(/root/reference/src/fonduer/parser/preprocessors/): HTML (one <html> per
file), CSV (row -> pseudo-HTML), TSV (name\\ttext). Here each becomes a
DataFrame transform producing the canonical
(url, warc_ts, html, text, lang) frame the parse operator consumes — the
input table IS the preprocessor; deterministic ids derive from the url/name
column, not file enumeration order (doc_preprocessor.py:70-80 sorts files
for the same reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _finish(df: DataFrame, url_col, html_col) -> DataFrame:
    return df.select(
        url_col.alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html_col, "utf-8").alias("html"),
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )


def html_docs(spark: SparkSession, path: str) -> DataFrame:
    """Directory of .html files -> web_pages (html_doc_preprocessor.py:15-39).

    ``wholetext`` text source: one file = one document; the file path is the
    stable url.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.html")
        .load(path)
        .select("path", "content")
    )
    return raw.select(
        F.col("path").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )


def csv_docs(
    spark: SparkSession, path: str, name_col: str = None, header: bool = True
) -> DataFrame:
    """One CSV row -> one document; columns rendered as <p> paragraphs
    (csv_doc_preprocessor.py:13-107's header-mapping default)."""
    df = spark.read.option("header", str(header).lower()).csv(path)
    cols = df.columns
    # content-derived fallback id: md5 over the concatenated row keeps the
    # url reproducible across runs/partitionings (monotonically_increasing_id
    # is partition-layout-dependent and would destabilize stable_ids and
    # checkpoint-resume signatures). Duplicate rows are common in real CSVs
    # and would collide on the content hash alone, so a per-content
    # row_number disambiguates them ("<md5>#<n>" for the 2nd+ copy) —
    # deterministic given the content multiset, and a narrow shuffle keyed
    # on the (uniform) hash.
    if name_col:
        name = F.col(name_col)
    else:
        from pyspark.sql import Window

        content_hash = F.md5(
            F.concat_ws("\x1f", *[F.coalesce(F.col(c), F.lit(""))
                                  for c in cols])
        )
        df = df.withColumn("_chash", content_hash).withColumn(
            "_cdup",
            F.row_number().over(
                Window.partitionBy("_chash").orderBy(F.lit(1))) - 1,
        )
        name = F.when(
            F.col("_cdup") == 0, F.col("_chash")
        ).otherwise(F.concat_ws("#", "_chash", "_cdup"))
    body = F.concat_ws(
        "", *[F.concat(F.lit("<p>"), F.coalesce(F.col(c), F.lit("")),
                       F.lit("</p>")) for c in cols if c != name_col]
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    return _finish(df, name, html)


def tsv_docs(spark: SparkSession, path: str) -> DataFrame:
    """TSV lines ``name\\ttext`` -> documents (tsv_doc_preprocessor.py:11-64)."""
    df = (
        spark.read.option("sep", "\t")
        .schema("name string, body string")
        .csv(path)
    )
    html = F.concat(F.lit("<doc>"), F.coalesce(F.col("body"), F.lit("")),
                    F.lit("</doc>"))
    return _finish(df, F.col("name"), html)


# ---------------------------------------------------------------------------
# hOCR rewrite (reference hocr_doc_preprocessor.py:46-164)
# ---------------------------------------------------------------------------
_HOCR_VISUAL_KEYS = ("left", "top", "right", "bottom", "ppageno", "tokens")


def _hocr_prop(el, name: str):
    title = el.get("title")
    if not title:
        return None
    for prop in title.split(";"):
        parts = prop.split(None, 1)
        if len(parts) == 2 and parts[0] == name:
            return parts[1]
    return None


def _has_class(el, cls: str) -> bool:
    return cls in (el.get("class") or "").split()


def rewrite_hocr(html_text: str, space: bool = True) -> str:
    """Rewrite one hOCR document exactly like the reference preprocessor
    (hocr_doc_preprocessor.py:80-140): unwrap ocr_line/ocrx_line, accumulate
    each ocrx_word's bbox into its PARENT element's left/top/right/bottom/
    ppageno/tokens attributes (one entry per whitespace token), normalize the
    word text, unwrap the word spans. The returned html parses with the
    ordinary engine parser; ParseConfig(visual="hocr") picks the attributes
    back up and attaches per-word coordinates to sentences."""
    from .htmldom import parse_html, tostring, unwrap_where

    root = parse_html(html_text)
    unwrap_where(
        root,
        lambda el: _has_class(el, "ocr_line") or _has_class(el, "ocrx_line"),
    )
    pages = [el for el in root.iterdescendants() if _has_class(el, "ocr_page")]
    for p, page in enumerate(pages):
        for word in [el for el in page.iterdescendants()
                     if _has_class(el, "ocrx_word")]:
            parent = word.getparent()
            bbox = (_hocr_prop(word, "bbox") or "").split()
            if len(bbox) != 4:
                continue
            left, top, right, bottom = bbox
            toks = (word.text or "").split()
            acc = {k: (parent.get(k) or "").split()
                   for k in _HOCR_VISUAL_KEYS}
            for _ in toks:
                acc["left"].append(left)
                acc["top"].append(top)
                acc["right"].append(right)
                acc["bottom"].append(bottom)
                acc["ppageno"].append(str(p))
            acc["tokens"].extend(toks)
            for k in _HOCR_VISUAL_KEYS:
                parent.set(k, " ".join(acc[k]))
            parent.set("fonduer", "1")
            word.text = (" " if space else "").join(toks)
        # unwrap the word spans; separate consecutive words with one space
        # (the reference relies on inter-span whitespace in the raw hOCR —
        # here the normalization is explicit)
        for word in [el for el in page.iterdescendants()
                     if _has_class(el, "ocrx_word")]:
            if word.tail is None or not word.tail.strip():
                word.tail = " " + (word.tail or "").lstrip()
    unwrap_where(root, lambda el: _has_class(el, "ocrx_word"))
    # normalize whitespace in the marked parents' text so sentence words ==
    # the accumulated tokens (reference: parent.smooth + linebreak cleanup)
    for parent in [el for el in root.iterdescendants()
                   if el.get("fonduer") == "1"]:
        if parent.text:
            parent.text = " ".join(parent.text.split())
    return tostring(root)
