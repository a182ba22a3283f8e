"""Deterministic corpus sampling, mixing, and sequence packing.

The training-data operations a 100 TB pipeline runs between curation and
tokenization:

- ``deterministic_sample`` / ``stratified_sample``: reproducible Bernoulli
  sampling keyed on md5(id || salt) — the SAME rows are kept on every
  rerun, any engine, any partitioning (unlike ``DataFrame.sample``, whose
  output depends on partition layout). md5-thresholding makes the sample
  SQL-reproducible, so the driver oracle checks the exact kept set.
- ``weighted_mix``: tagged union of per-source deterministic samples — the
  standard corpus-mixing step (e.g. 3 parts web, 1 part reference text)
  with exact per-source reproducibility.
- ``pack_token_stream``: GPT-style concat-and-chunk packing — lay every
  document's tokens end to end in doc_id order and cut fixed-capacity
  bins; each doc gets its global start offset, bin id, and offset within
  the bin. The cumulative sum is computed SCALE-SAFELY: per-range-bucket
  subtotals are aggregated (one small collect of n_buckets rows), prefix
  offsets broadcast back, and the within-bucket cumsum runs as a
  partitionBy(bucket) window — no global single-partition window, ever.
  Integer arithmetic end to end => bit-identical to the oracle's global
  ``SUM() OVER (ORDER BY doc_id)`` replay.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import rows_frame

# md5 hex is uniform; the first 8 hex digits give a uniform 32-bit integer
_MD5_SPACE = float(1 << 32)


def _keep_hash(id_col: Column, salt: str) -> Column:
    """Uniform [0, 1) double from md5(id || ':' || salt) — deterministic
    across engines, partitionings, and reruns."""
    h = F.md5(F.concat(id_col.cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_MD5_SPACE)


def deterministic_sample(
    df: DataFrame,
    rate: float,
    salt: str = "sample",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each row iff hash(id, salt) < rate. Reproducible Bernoulli
    sample — a pure filter (predicate-pushdown friendly, no shuffle)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.where(_keep_hash(F.col(id_col), salt) < F.lit(rate))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping[str, float],
    salt: str = "sample",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli rates (e.g. keep 100% of high-quality docs,
    10% of the tail): rate resolves via a literal when-chain on the
    stratum column — still one shuffle-free filter."""
    for k, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for stratum {k!r} must be in [0, 1]")
    rate = F.lit(float(default_rate))
    for k, r in rates.items():
        rate = F.when(F.col(strata_col) == k, F.lit(float(r))).otherwise(rate)
    return df.where(_keep_hash(F.col(id_col), salt) < rate)


def weighted_mix(
    sources: Sequence[Tuple[DataFrame, float, str]],
    salt: str = "mix",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus mixing: union of per-source deterministic samples, each row
    tagged with its source name. ``sources`` = [(df, rate, tag), ...];
    schemas must align (unionByName)."""
    out: Optional[DataFrame] = None
    for df, rate, tag in sources:
        part = deterministic_sample(df, rate, salt=f"{salt}:{tag}",
                                    id_col=id_col) \
            .withColumn("mix_source", F.lit(tag))
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("weighted_mix needs at least one source")
    return out


def pack_token_stream(
    docs: DataFrame,
    capacity: int,
    n_tokens: Optional[Column] = None,
    id_col: str = "doc_id",
    bucket_size: int = 100_000,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents ordered by ``id_col``
    form one global token stream cut into ``capacity``-token bins.

    Output columns: id, n_tokens, start_offset (global, exclusive-prefix),
    bin_id = start_offset // capacity, bin_offset = start_offset %
    capacity. A document whose tokens straddle a bin boundary belongs to
    the bin its FIRST token lands in (the chunker splits it downstream) —
    exactly the GPT-style packing convention.

    Scale design (the two-phase distributed prefix sum): rows bucket by
    id range; per-bucket token subtotals aggregate to the driver (ONE row
    per bucket — at 10^12 docs / 100k-per-bucket that is 10^7 small rows,
    still driver-safe; raise bucket_size with corpus size), exclusive
    prefix offsets broadcast back via a range join on the bucket id, and
    the within-bucket running sum is a partitionBy(bucket) window — the
    global ORDER BY window that would serialize the corpus through one
    partition never appears in the plan (plan-asserted in tests).
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    if n_tokens is None:
        # whitespace tokens, empty-safe
        n_tokens = F.when(
            F.length(F.trim(F.col("text"))) == 0, F.lit(0)
        ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    df = docs.select(F.col(id_col),
                     n_tokens.cast("long").alias("n_tokens"))
    # Integer division (`div`), not float `/`: ids above 2^53 (sparse hashed
    # 64-bit ids) round under double division and can misbucket, breaking the
    # bucket-range ordering the two-phase prefix sum depends on.
    df = df.withColumn(
        "_bucket", F.expr(f"`{id_col}` div {int(bucket_size)}"))

    totals = (
        df.groupBy("_bucket").agg(F.sum("n_tokens").alias("_tot"))
        .orderBy("_bucket").collect()
    )
    prefix = {}
    acc = 0
    for r in totals:
        prefix[r._bucket] = acc
        acc += r._tot
    pre = rows_frame(docs.sparkSession, prefix.items(),
                     "_bucket long, _prefix long")

    w = Window.partitionBy("_bucket").orderBy(id_col)
    out = (
        df.join(F.broadcast(pre), "_bucket")
        .withColumn(
            "start_offset",
            F.col("_prefix")
            + F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn("bin_id",
                    F.expr(f"start_offset div {int(capacity)}"))
        .withColumn("bin_offset",
                    F.col("start_offset") % F.lit(capacity))
    )
    return out.select(id_col, "n_tokens", "start_offset", "bin_id",
                      "bin_offset")


def importance_ratio(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 256,
    threshold: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style data selection via hashed n-gram importance weights
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling", arXiv:2302.03169): score every raw document by how much
    its token distribution looks like a small TARGET corpus, under hashed
    unigram bucket features.

    The paper's weight is a product of per-token likelihood ratios; this
    operator computes the *linearized* surrogate — the ratio of the doc's
    mean target-bucket frequency to its mean raw-bucket frequency, add-one
    smoothed:

        score = (S_t * R) / (S_r * T),  S_t = sum_tok (tgt_cnt[b]+1),
                                        S_r = sum_tok (raw_cnt[b]+1),
        R = raw_total + n_buckets,      T = tgt_total + n_buckets

    — monotone in the same signal, but exact integer sums -> double
    products (< 2^53) -> ONE division -> round(6), so the score is
    bit-identical in DuckDB and hash-checkable (no log/exp; the paper's
    log-sum form needs transcendentals the oracle contract avoids).
    score > 1 means "more target-like than the raw average".

    Scale design: bucket = md5-hash(token) % n_buckets, so both count
    tables have AT MOST ``n_buckets`` rows — they and the 1-row totals
    broadcast; the only shuffle is the per-doc groupBy. Token explode is
    map-side; partial aggregation combines before the shuffle. At 100 TB,
    grow n_buckets (the paper uses 10^4 hashed buckets) — the broadcast
    stays KB-scale.

    Returns one row per input doc: (id, s_target, s_raw, score,
    kept = score >= threshold as 0/1); token-less docs score 0.0.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")

    def _tok_buckets(df: DataFrame) -> DataFrame:
        tok = F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok")
        return (
            df.select(F.col(id_col).alias("_id"), tok)
            .where(F.length("tok") > 0)
            .select(
                "_id",
                (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
                 .cast("long") % n_buckets).alias("_b"),
            )
        )

    raw_tok = _tok_buckets(docs)
    raw_cnt = raw_tok.groupBy("_b").agg(F.count(F.lit(1)).alias("_raw"))
    tgt_cnt = (_tok_buckets(target)
               .groupBy("_b").agg(F.count(F.lit(1)).alias("_tgt")))
    totals = (
        raw_cnt.agg(F.sum("_raw").alias("_raw_total"))
        .crossJoin(tgt_cnt.agg(F.sum("_tgt").alias("_tgt_total")))
        .select(
            (F.col("_raw_total") + n_buckets).alias("_R"),
            (F.coalesce(F.col("_tgt_total"), F.lit(0)) + n_buckets)
            .alias("_T"),
        )
    )
    sums = (
        raw_tok
        .join(F.broadcast(raw_cnt), "_b")
        .join(F.broadcast(tgt_cnt), "_b", "left")
        .groupBy("_id")
        .agg(
            F.sum(F.coalesce("_tgt", F.lit(0)) + 1).alias("s_target"),
            F.sum(F.col("_raw") + 1).alias("s_raw"),
        )
    )
    scored = sums.crossJoin(F.broadcast(totals)).select(
        "_id", "s_target", "s_raw",
        F.round(
            (F.col("s_target").cast("double") * F.col("_R"))
            / (F.col("s_raw").cast("double") * F.col("_T")), 6
        ).alias("score"),
    )
    return (
        docs.select(F.col(id_col))
        .join(scored, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.coalesce("s_target", F.lit(0)).cast("long").alias("s_target"),
            F.coalesce("s_raw", F.lit(0)).cast("long").alias("s_raw"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
            F.when(F.coalesce("score", F.lit(0.0)) >= threshold, 1)
            .otherwise(0).cast("int").alias("kept"),
        )
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "priority",
    strata_col: Optional[str] = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield, Lund & Thorup, JACM 2007): each row gets priority
    u / w where u is a deterministic md5-uniform 32-bit integer (+1) and
    w its integer weight; the k SMALLEST priorities win, so heavier rows
    are proportionally likelier to be kept. The curation use: pick a
    fixed-size training subset favoring long / high-quality documents,
    exactly reproducibly (same kept set on any engine, partitioning, or
    rerun — unlike rand()-based reservoir approaches).

    Determinism: u and w are exact integers; priority is ONE IEEE double
    division, bit-identical across engines (the r4 float-determinism
    rule); ties break on id.

    Scale shape: without strata the global top-k plans as TakeOrdered
    (per-partition heap + driver merge of k rows — no global sort, no
    single-partition window over the corpus); with ``strata_col`` it is a
    per-stratum window (one shuffle on the stratum key). Rows with
    non-positive weight are excluded (unsampleable), k >= corpus size
    degenerates to keeping everything.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from .sketches import _hash32

    u = _hash32(F.concat(F.col(id_col).cast("string"),
                         F.lit(":" + salt))) + 1
    w = F.col(weight_col).cast("long")
    scored = (
        df.where(w > 0)
        .withColumn("_pr", u.cast("double") / w.cast("double"))
    )
    base_cols = [F.col(id_col), F.col(weight_col).cast("long").alias("weight")]
    if strata_col is None:
        kept = scored.orderBy(F.asc("_pr"), F.asc(id_col)).limit(int(k))
        # rank window runs over the k already-selected rows only
        win = Window.orderBy(F.asc("_pr"), F.asc(id_col))
        return kept.select(
            *base_cols, F.row_number().over(win).cast("int").alias("rank"))
    win = Window.partitionBy(strata_col).orderBy(F.asc("_pr"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("int"))
        .where(F.col("rank") <= int(k))
        .select(F.col(strata_col), *base_cols, F.col("rank"))
    )


def quota_sample(
    df: DataFrame,
    strata_col: str,
    k: int,
    salt: str = "quota",
    id_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Exact k-per-stratum deterministic sample (quota / balanced
    sampling) — the corpus-mixing step when the mixture is specified as
    COUNTS, not rates ("exactly 1M docs per language"), so Bernoulli
    ``stratified_sample`` cannot express it.

    Rank = md5(id || ':' || salt) ascending, ties broken by id: the kept
    set and each row's ``quota_rank`` are independent of engine,
    partitioning, and rerun, and one SQL row_number() replays them —
    per stratum the output is exactly min(k, |stratum|) rows.

    Scale design: a single row_number() window per stratum sorts the
    WHOLE stratum inside one task — a 10-billion-row 'en' stratum would
    pin one executor. Instead the classic two-phase distributed top-k:
    phase 1 ranks within (stratum, hash-bucket) and keeps k survivors
    per bucket (each sort bounded to ~1/n_buckets of the stratum);
    phase 2 ranks the <= k * n_buckets survivors per stratum. The global
    per-stratum top-k is always a subset of the per-bucket top-ks, so
    the two-phase result is EXACT, and no Exchange SinglePartition ever
    appears in the plan (plan-asserted in tests).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    # bucket from an md5 slice of the SAME digest the rank key uses (the
    # rank key is the full hex string, which includes chars 9-14), so
    # bucket membership is NOT independent of rank order — it does not
    # need to be: the two-phase top-k is exact under ANY deterministic
    # bucketing, because the global top-k is a subset of the per-bucket
    # top-ks regardless of how rows are assigned (ADVICE r6 comment fix)
    bucket = F.pmod(
        F.conv(F.substring(key, 9, 6), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    )
    w1 = Window.partitionBy(strata_col, "_qbucket").orderBy(
        F.asc("_qkey"), F.asc(id_col))
    w2 = Window.partitionBy(strata_col).orderBy(
        F.asc("_qkey"), F.asc(id_col))
    return (
        df.withColumn("_qkey", key)
        .withColumn("_qbucket", bucket)
        .withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= int(k))
        .withColumn("quota_rank", F.row_number().over(w2).cast("int"))
        .where(F.col("quota_rank") <= int(k))
        .drop("_qkey", "_qbucket", "_rn1")
    )


def leakage_safe_split(
    docs: DataFrame,
    frac_train: float = 0.8,
    salt: str = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Cluster-aware train/holdout split: near-duplicate documents NEVER
    straddle the split — the eval-contamination failure a plain per-doc
    hash split ships at web scale (a held-out doc whose near-twin is in
    train is a leaked eval example).

    Every doc's split key is its near-dup cluster canonical
    (near_dup_keep: MinHash-LSH pairs -> verified Jaccard -> connected
    components -> smallest member id); docs in no near-dup pair key on
    themselves. The split decision is the package's deterministic
    Bernoulli rule (md5(key || ':' || salt) / 2^32 < frac_train) applied
    to the CLUSTER key, so all members inherit one decision —
    partitioning-independent, rerun-stable, and replayed exactly by the
    DuckDB oracle (recursive-CTE closure + the same md5 threshold).

    Output: (doc_id, split_key, split) with split in {'train',
    'holdout'}. Scale: the only additions over near_dup_keep are a
    broadcast-sized left join (cluster members only — pairs are a sparse
    subset of the corpus) and a pure filter expression.
    """
    if not 0.0 < frac_train < 1.0:
        raise ValueError(f"frac_train must be in (0, 1), got {frac_train}")
    from .dedup import near_dup_keep

    comp = near_dup_keep(docs, id_col, text_col, k, bands, shingle_n,
                         threshold)
    key = F.coalesce(F.col("canonical"), F.col(id_col))
    return (
        docs.select(F.col(id_col))
        .join(comp.select(id_col, "canonical"), [id_col], "left")
        .select(
            F.col(id_col),
            key.alias("split_key"),
            F.when(_keep_hash(key, salt) < F.lit(float(frac_train)),
                   F.lit("train")).otherwise(F.lit("holdout"))
            .alias("split"),
        )
    )
