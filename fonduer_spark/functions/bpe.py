"""Distributed BPE tokenizer training (merge-table learning).

The canonical 100 TB tokenizer-training job (GPT-2/SentencePiece-style
byte-pair encoding): learn the highest-frequency symbol-pair merges from a
corpus. The scale-critical property this implementation shares with real
trainers: the CORPUS is touched exactly once (a word-frequency census —
one shuffle on word); every subsequent merge round iterates over the
vocabulary-sized distinct-word table (Zipf-bounded, millions of rows at
100 TB, never corpus-sized), so round cost is independent of corpus bytes.

Cross-engine determinism (the DuckDB oracle replays every round):
  - a word's symbol sequence is a DOUBLE-space-joined string with a
    single-space sentinel at each end (' h  e  l  l  o '); a merge of
    (l, r) is replace(seq, ' l  r ', ' lr '). Each match consumes one
    space of each boundary gap, so adjacent occurrences in a run still
    match (' a  a  a  a ' -> ' aa  aa ') — this makes the leftmost
    non-overlapping ``replace`` (identical semantics in Spark and
    DuckDB) EXACTLY canonical greedy BPE application, including runs of
    repeated symbols ('aaa' -> [aa, a], as HF/GPT-2 tokenizers do);
  - pair counts are exact integer sums of word frequencies;
  - the winning pair per round is (count DESC, left ASC, right ASC) —
    a total order, no float, no RNG.

Reference scope note: the reference (Fonduer) has no tokenizer-training
operator; this is part of the LLM-data-pipeline surface the brief mandates
beyond reference parity.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import rows_frame


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-token word-frequency census: (word, freq). The single
    corpus-wide pass — one explode + one groupBy(word) with map-side
    partial aggregation."""
    return (
        docs.select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
) -> DataFrame:
    """Learn ``rounds`` BPE merges; returns the merge table
    (round, left_sym, right_sym, merged, pair_count) — one row per round,
    ordered by round.

    Each round over the vocab-sized seqs frame:
      1. pair census: explode adjacent symbol pairs of every distinct
         word, weighted by word frequency (exact integer sum);
      2. winner = argmax by (count DESC, left ASC, right ASC);
      3. apply: seq -> replace(seq, ' l  r ', ' lr ') — leftmost
         non-overlapping over the double-space encoding (= canonical
         greedy BPE, see module docstring), broadcast-joined so the
         rewrite stays a pure column expression (no driver round-trip
         in the loop).

    localCheckpoint per round truncates lineage (same pattern as
    linking.pagerank) so plans stay O(1) in ``rounds``.

    Early stop: when the pair census is exhausted before ``rounds``
    (every word fully merged), training stops and the table has fewer
    rows — the same behavior as textbook trainers; callers must not
    assume exactly ``rounds`` rows (bpe_encode derives the rounds it
    applies from the table itself).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    seqs = (
        word_frequencies(docs, text_col)
        .select(
            "freq",
            # 'abc' -> ' a  b  c '  (chars joined by two spaces, one-space
            # sentinels; regexp appends two spaces per char, rtrim both)
            F.concat(
                F.lit(" "),
                F.expr("rtrim(regexp_replace(word, '(.)', '$1  '))"),
                F.lit(" "),
            ).alias("seq"),
        )
        .localCheckpoint()
    )
    merges = []
    for rnd in range(1, int(rounds) + 1):
        pair_counts = (
            seqs.select(
                "freq", F.expr("split(trim(seq), '  ')").alias("s"))
            # fully-merged single-symbol words contribute no pairs (and
            # sequence(1, 0) would descend + index out of bounds)
            .where(F.expr("size(s) >= 2"))
            .select(
                "freq",
                F.explode(F.expr(
                    "transform(sequence(1, size(s) - 1), i -> "
                    "struct(element_at(s, i) AS l, "
                    "element_at(s, i + 1) AS r))")).alias("p"),
            )
            .groupBy(F.col("p.l").alias("left_sym"),
                     F.col("p.r").alias("right_sym"))
            .agg(F.sum("freq").alias("pair_count"))
        )
        top1 = (
            pair_counts
            .orderBy(F.desc("pair_count"),
                     F.asc("left_sym"), F.asc("right_sym"))
            .limit(1)
            .select(
                F.lit(rnd).cast("int").alias("round"),
                "left_sym", "right_sym",
                F.concat("left_sym", "right_sym").alias("merged"),
                F.col("pair_count").cast("long").alias("pair_count"),
            )
            .localCheckpoint()
        )
        if not top1.take(1):  # pair census exhausted: stop (cheap — top1
            break             # is a checkpointed <=1-row frame)
        merges.append(top1)
        seqs = (
            seqs.crossJoin(F.broadcast(top1))
            .select(
                "freq",
                F.expr(
                    "replace(seq, concat(' ', left_sym, '  ', right_sym, "
                    "' '), concat(' ', merged, ' '))").alias("seq"),
            )
            .localCheckpoint()
        )
    if not merges:  # corpus had no adjacent symbol pairs at all
        return rows_frame(
            docs.sparkSession, [], "round int, left_sym string, "
            "right_sym string, merged string, pair_count long")
    return reduce(DataFrame.unionByName, merges).orderBy("round")


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table to the corpus: (id_col, n_tokens) —
    the per-document BPE token count after all merges, the number every
    sequence-packing / context-budget decision downstream needs. EVERY
    input document appears in the output; documents with no words encode
    to n_tokens = 0 (a left join from the doc census, not a silent drop).

    ``merges`` is the output of :func:`bpe_train`. The merge list is
    collected to the driver first — a BOUNDED collect of at most
    ``rounds`` rows (the merge table IS tiny driver state in every real
    BPE trainer) — then each merge is applied as the same literal
    ' l  r ' -> ' lr ' leftmost replace the trainer used, in round
    order: exactly the greedy application of the learned merge list.
    Everything else is column expressions over one corpus pass + one
    groupBy(id_col). Deriving the rounds from the table itself (rather
    than trusting a rounds parameter) makes an early-stopped trainer
    (pair census exhausted) encode correctly instead of annihilating the
    corpus frame on an empty round.
    """
    merge_rows = sorted(merges.collect(), key=lambda r: r["round"])
    words = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("word"),
    ).where(F.col("word") != "").select(
        "_id",
        F.concat(
            F.lit(" "),
            F.expr("rtrim(regexp_replace(word, '(.)', '$1  '))"),
            F.lit(" "),
        ).alias("seq"),
    )
    seq = F.col("seq")
    for r in merge_rows:
        seq = F.replace(
            seq,
            F.lit(f" {r['left_sym']}  {r['right_sym']} "),
            F.lit(f" {r['merged']} "),
        )
    counts = (
        words.select("_id", seq.alias("seq"))
        .select("_id", F.expr("size(split(trim(seq), '  '))").alias("_n"))
        .groupBy("_id")
        .agg(F.sum("_n").cast("long").alias("n_tokens"))
    )
    return (
        docs.select(F.col(id_col).alias("_id")).distinct()
        .join(counts, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
