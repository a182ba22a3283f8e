"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All JVM-side column expressions (codegen'd), each
with an exact DuckDB-SQL equivalent so the driver's oracle can check them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker stopwords per language for the n-gram/stopword heuristic language ID
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, 0).otherwise(F.size(tokens(text)))


# BPE-ish pre-tokenization: letter runs, digit runs, single non-space
# symbols — the usual subword-tokenizer upper bound, kept ASCII-simple so
# the Spark and DuckDB regex engines agree exactly
BPE_ISH_RGX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (letters/digits/symbol runs) — the
    standard proxy for subword token counts in training-data budgeting;
    one JVM regexp_count, codegen'd."""
    return F.regexp_count(text, F.lit(BPE_ISH_RGX))


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document:

    - dup_token_ratio: 1 - distinct/total lowercased tokens;
    - top_bigram_ratio: occurrences of the most frequent token bigram over
      all bigram slots.

    The bigram census is relational (explode -> two groupBys) rather than a
    per-row O(n^2) array scan — constant memory per row at any document
    length, shuffles partial-aggregated map-side.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
    ).withColumn("n_toks", F.when(F.length(F.concat_ws("", "toks")) == 0, 0)
                 .otherwise(F.size("toks")))
    dup = base.select(
        "doc_id", "n_toks",
        F.when(
            F.col("n_toks") > 0,
            F.round(1 - F.size(F.array_distinct("toks")) / F.col("n_toks"), 6),
        ).otherwise(F.lit(0.0)).alias("dup_token_ratio"),
    )
    bi = base.where(F.col("n_toks") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 2)),
            )
        ).alias("bg"),
    )
    top = (
        bi.groupBy("doc_id", "bg").count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_bg"),
            F.sum("count").alias("n_bg"),
        )
        .select("doc_id",
                F.round(F.col("top_bg") / F.col("n_bg"), 6)
                .alias("top_bigram_ratio"))
    )
    return (
        dup.join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            "dup_token_ratio",
            F.coalesce("top_bigram_ratio", F.lit(0.0)).alias("top_bigram_ratio"),
        )
    )


def _marker_hits(text: Column, markers) -> Column:
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(text: Column) -> Column:
    """Stopword-marker language guess: argmax of per-language marker hits,
    'und' (undetermined) when no marker fires. Deterministic tie-break by
    language-name order via greatest-first comparison."""
    scores = [(lang, _marker_hits(text, ms)) for lang, ms in LANG_MARKERS.items()]
    best = F.lit("und")
    best_score = F.lit(0)
    for lang, sc in scores:  # later languages win only strictly-greater
        take = sc > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, sc).otherwise(best_score)
    return best


def quality_stats(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document quality metrics (all oracle-checkable):

    n_tokens, n_chars, mean_token_len, punct_ratio (punctuation chars /
    chars), stopword_ratio (EN stopword tokens / tokens), digit_ratio.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_toks = token_count(t)
    n_chars = F.length(t)
    punct = F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", ""))
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(F.split(F.trim(F.lower(t)), r"\s+"),
                             lambda x: F.array_contains(sw, x)))
    return docs.select(
        F.col(id_col),
        n_toks.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(
            F.when(n_toks > 0,
                   F.length(F.regexp_replace(t, r"\s+", "")) / n_toks)
            .otherwise(F.lit(0.0)), 6
        ).alias("mean_token_len"),
        F.round(F.when(n_chars > 0, punct / n_chars).otherwise(0.0), 6)
        .alias("punct_ratio"),
        F.round(F.when(n_toks > 0, n_stop / n_toks).otherwise(0.0), 6)
        .alias("stopword_ratio"),
        F.round(F.when(n_chars > 0, digits / n_chars).otherwise(0.0), 6)
        .alias("digit_ratio"),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the whitespace- and
    case-normalized text (matches DuckDB md5 byte-for-byte)."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))


# ---------------------------------------------------------------------------
# PII scrubbing (training-data curation): mask emails and long digit runs
# with regex families chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB with the 'g' flag) — no lookaround, no backrefs.
# ---------------------------------------------------------------------------
EMAIL_RGX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_DIGITS_RGX = r"\b\d{7,}\b"


def pii_counts(text: Column) -> Column:
    """(n_emails, n_long_digit_runs) as a struct — regexp_count is
    JVM-side; DuckDB mirrors it with len(regexp_extract_all)."""
    return F.struct(
        F.regexp_count(text, F.lit(EMAIL_RGX)).alias("n_emails"),
        F.regexp_count(text, F.lit(LONG_DIGITS_RGX)).alias("n_digit_runs"),
    )


def scrub_pii(text: Column,
              email_token: str = "<EMAIL>",
              digits_token: str = "<DIGITS>") -> Column:
    """Masked text: emails first (so their digits can't double-match),
    then standalone runs of 7+ digits (phone/account-shaped). Pure
    regexp_replace column expressions — whole-stage codegen, order
    deterministic and reproduced by the oracle."""
    no_email = F.regexp_replace(text, EMAIL_RGX, email_token)
    return F.regexp_replace(no_email, LONG_DIGITS_RGX, digits_token)


# ---------------------------------------------------------------------------
# Boilerplate line removal (CCNet-style curation): a newline-delimited line
# whose document frequency exceeds a corpus fraction is navigation/cookie/
# footer chrome, not content — drop it from every document.
# ---------------------------------------------------------------------------
def strip_boilerplate_lines(
    docs: DataFrame,
    max_df_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove lines shared by more than ``max_df_frac`` of documents.

    Scale shape: posexplode lines (order captured as the position), ONE
    groupBy computing per-line distinct-document frequency, the (small)
    boilerplate set broadcast into a left-anti join, then an
    order-preserving rebuild (collect_list of (pos, line) structs,
    array_sort — pos is unique per doc, so document order is exact).
    Documents whose every line is boilerplate survive with empty text
    (right join back to the corpus). One count() action fixes the corpus
    size for the threshold.

    Output: (id, text_clean, n_lines_removed).
    """
    if not 0.0 < max_df_frac <= 1.0:
        raise ValueError("max_df_frac must be in (0, 1]")
    n_docs = docs.count()
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    freq = (
        lines.where(F.length(F.trim("line")) > 0)
        .groupBy("line")
        .agg(F.countDistinct(id_col).alias("df"))
    )
    boiler = freq.where(F.col("df") > F.lit(max_df_frac * n_docs))
    kept = lines.join(F.broadcast(boiler.select("line")), "line", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("_n_kept"),
        )
    )
    n_lines = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).alias("_n_lines"))
    return (
        n_lines.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long").alias("n_lines_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: token-n-gram overlap between the training
# corpus and an evaluation/benchmark set — the standard pre-training
# hygiene check (a doc sharing a long verbatim n-gram with a benchmark
# item leaks test data into training).
# ---------------------------------------------------------------------------
def token_ngrams(text: Column, n: int) -> Column:
    """Whitespace-token n-grams re-joined with single spaces. Documents
    shorter than n tokens yield an empty array (the naive sequence(1,
    size-n+1) would DESCEND to [1, 0] and fabricate grams)."""
    toks = F.split(F.trim(text), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(
        (F.length(F.trim(text)) > 0) & (F.size(toks) >= n), grams
    ).otherwise(F.array().cast("array<string>"))


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document contamination report: (id, n_hits) for every corpus
    document sharing at least one token n-gram with any benchmark item,
    n_hits = how many DISTINCT benchmark n-grams it contains.

    Scale shape: the benchmark side (small by definition — eval sets are
    thousands of items, not billions) collapses to a distinct-gram set
    and BROADCASTS into the join; the corpus side is one explode + one
    aggregation — no shuffle of corpus text, no driver collect. Drop the
    flagged ids with a left-anti join downstream."""
    bgrams = (
        benchmark.select(
            F.explode(token_ngrams(F.col(bench_text_col), n)).alias("g"))
        .distinct()
    )
    cgrams = corpus.select(
        F.col(id_col),
        F.explode(token_ngrams(F.col(text_col), n)).alias("g"),
    )
    return (
        cgrams.join(F.broadcast(bgrams), "g")
        .groupBy(id_col)
        .agg(F.countDistinct("g").alias("n_hits"))
    )


def gopher_repetition(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Gopher repetition filters over LINES and PARAGRAPHS (Rae et al.
    2021, "Scaling Language Models: ... Gopher", Table A1) — the standard
    web-corpus quality gate alongside the token/n-gram signals in
    repetition_stats.

    Definitions (replayed exactly by the DuckDB oracle):

    - lines split on ``\\n``, paragraphs on ``\\n\\n`` (greedy
      left-to-right, identical in both engines); units whose ``trim()`` is
      empty are ignored, the RAW unit string is the duplicate key;
    - ``frac_dup_<u>`` = sum(cnt-1) / sum(cnt) over distinct units — the
      share of occurrences beyond each unit's first;
    - ``frac_dup_<u>_chars`` = sum((cnt-1)*len) / sum(cnt*len) — the share
      of characters those surplus occurrences contribute.

    Exact integer sums -> ONE double division -> round(6) is bit-identical
    in Spark and DuckDB. Relational shape: explode -> (doc, unit) census ->
    per-doc partial-aggregated rollup, twice — constant memory per row at
    any document length, no per-row O(n^2) array scans. Docs with no
    non-empty units report 0 counts / 0.0 fractions.
    """
    def _unit_stats(sep: str, p: str) -> DataFrame:
        g = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(F.split(F.col(text_col), sep)).alias("u"),
            )
            .where(F.length(F.trim("u")) > 0)
            .groupBy("doc_id", "u")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            g.groupBy("doc_id")
            .agg(
                F.sum("cnt").alias("n"),
                F.sum(F.col("cnt") - 1).alias("dup"),
                F.sum((F.col("cnt") - 1) * F.length("u")).alias("dupc"),
                F.sum(F.col("cnt") * F.length("u")).alias("totc"),
            )
            .select(
                "doc_id",
                F.col("n").cast("long").alias(f"n_{p}"),
                F.round(F.col("dup") / F.col("n"), 6).alias(f"frac_dup_{p}"),
                F.round(F.col("dupc") / F.col("totc"), 6)
                .alias(f"frac_dup_{p}_chars"),
            )
        )

    lines = _unit_stats("\n", "lines")
    paras = _unit_stats("\n\n", "paras")
    base = docs.select(F.col(id_col).alias("doc_id"))
    out = base.join(lines, "doc_id", "left").join(paras, "doc_id", "left")
    fills = []
    for p in ("lines", "paras"):
        fills += [
            F.coalesce(f"n_{p}", F.lit(0).cast("long")).alias(f"n_{p}"),
            F.coalesce(f"frac_dup_{p}", F.lit(0.0)).alias(f"frac_dup_{p}"),
            F.coalesce(f"frac_dup_{p}_chars", F.lit(0.0))
            .alias(f"frac_dup_{p}_chars"),
        ]
    return out.select("doc_id", *fills)


def keyword_search(
    docs: DataFrame,
    terms: list,
    top_k: int = 20,
    idf_scale: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25-lite keyword retrieval: score(d) = sum over query terms of
    tf(t, d) * idf_q(t) with the idf QUANTIZED to an integer,
    idf_q = (N * idf_scale) div df(t) — rarer terms weigh more, and the
    whole score stays exact 64-bit integer arithmetic (the oracle-contract
    discipline: no log() idf, no float tie ambiguity; the classic
    log-scaled BM25 weighting is monotone in the same df ranking).

    Relational shape (the inverted-index plan): tokenize -> keep query
    terms only (the filter prunes the explode's output immediately) ->
    per-(doc, term) tf census -> broadcast-join the |terms|-row df/idf
    table -> per-doc sum -> global top-k by (score desc, id) via
    orderBy+limit, which Spark plans as TakeOrderedAndProject (per-
    partition heaps + driver merge — no single-partition sort of the
    corpus). Returns (id, score, rank) with rank dense from 1.

    Overflow bound: score <= n_tokens_per_doc * N * idf_scale; at
    10^12 docs drop idf_scale (or pre-bucket df) to stay under 2^63 —
    documented rather than silently truncated.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    tok = F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok")
    hits = (
        docs.select(F.col(id_col).alias("_id"), tok)
        .where(F.col("tok").isin(list(terms)))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("_n"))
    idf = (
        hits.groupBy("tok").agg(F.countDistinct("_id").alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .select("tok",
                F.expr(f"(_n * {int(idf_scale)}) div _df").alias("_idf"))
    )
    tf = hits.groupBy("_id", "tok").agg(F.count(F.lit(1)).alias("_tf"))
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .groupBy("_id")
        .agg(F.sum(F.col("_tf") * F.col("_idf")).alias("score"))
        .orderBy(F.desc("score"), F.asc("_id"))
        .limit(top_k)
    )
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("score"), F.asc("_id"))
    return scored.select(
        F.col("_id").alias(id_col), "score",
        F.row_number().over(w).cast("int").alias("rank"))
