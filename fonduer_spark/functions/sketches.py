"""Deterministic cardinality sketches.

KMV (k-minimum-values) distinct-count estimation: hash every value with
md5, keep the k smallest 32-bit hash prefixes per group, and estimate

    n_distinct ~= (k-1) * 2**32 div h_k        (h_k = k-th smallest hash)

— the classic bottom-k estimator (Bar-Yossef et al.), chosen over
HyperLogLog here because it is EXACTLY reproducible: the same md5 prefixes
and the same floor division replay bit-for-bit in the DuckDB oracle,
whereas Spark's approx_count_distinct (HLL++) and DuckDB's HLL disagree by
construction. Groups with fewer than k distinct hashes return the exact
count (the sketch is lossless below its capacity).

Scale design: the only heavy step is deduplicating (group, hash) — a
map-side-combinable shuffle — followed by a per-group top-k window over
the already-distinct hashes. Accuracy is ~1/sqrt(k-2) relative error
(k=64 -> ~13%, k=256 -> ~6%); memory is O(k) per group after the window.
A 32-bit hash space is ample: the estimator needs granularity near the
k-th minimum (~k/n * 2**32), so collisions only matter once n_distinct
approaches 2**32 per group — raise to a wider prefix there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import rows_frame

_SPACE = 1 << 32


def _hash32(col: Column) -> Column:
    """First 8 md5 hex chars as a 32-bit integer (the package's standard
    engine-portable hash; oracles replay it nibble-by-nibble)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _bottom_k(hashes: DataFrame, group_col: str, k: int) -> DataFrame:
    """(group_col, _h): the ``k`` smallest hashes per group of distinct
    (group_col, _h) rows — one KMV sketch per group."""
    w = Window.partitionBy(group_col).orderBy("_h")
    return (
        hashes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .select(group_col, "_h")
    )


def _kmv_estimate(sketch: DataFrame, group_col: str, k: int, key: str,
                  est: str) -> DataFrame:
    """(key, est) per group of a bottom-k ``sketch``: the exact count below
    k hashes, (k-1) * 2**32 div h_k at k."""
    return (
        sketch.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"), F.max("_h").alias("_hk"))
        .select(
            F.col(group_col).alias(key),
            F.when(F.col("_n") < int(k), F.col("_n"))
            .otherwise(F.expr(
                f"{int(k - 1)} * {_SPACE}L div greatest(_hk, 1L)"))
            .cast("long").alias(est),
        )
    )


def kmv_distinct(
    df: DataFrame,
    col: str,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-count estimate: (group_col, n_distinct_est).

    Exact below k distinct hashes, (k-1) * 2**32 div h_k above. All
    arithmetic is integer, so the estimate is engine-reproducible.
    """
    dh = df.select(
        F.col(group_col), _hash32(F.col(col)).alias("_h")).distinct()
    return _kmv_estimate(_bottom_k(dh, group_col, k), group_col, k,
                         group_col, "n_distinct_est")


def cms_sketch(
    df: DataFrame,
    col: str,
    width: int = 512,
    depth: int = 3,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan) of a value stream:
    (row, bucket, cnt) — ``depth`` independent md5 hash rows of ``width``
    buckets each; every occurrence increments one bucket per row.

    THE bounded-memory frequency structure for 100 TB streams: the sketch
    is width*depth cells regardless of input size, built with ONE
    map-side-combinable groupBy after a depth-way explode, and MERGEABLE
    (sketches of corpus shards sum cell-wise — the property approx
    structures need for distributed/streaming aggregation). Estimates
    only ever OVERcount (collisions add), never undercount.

    Deterministic by construction: bucket = 32-bit md5 prefix of
    '<row>:<value>' mod width — the oracle replays every cell exactly
    (unlike rand()-seeded CMS implementations).

    The sketch carries its shape as literal ``width``/``depth`` columns
    so :func:`cms_estimate` can verify it probes with the SAME hash
    space — probing a sketch with mismatched shape would silently
    undercount, the one failure the structure promises cannot happen.
    """
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2, depth >= 1; got {width}/{depth}")
    rows = F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("row")
    return (
        df.select(F.col(col).cast("string").alias("_v"))
        .select("_v", rows)
        .select(
            "row",
            F.pmod(
                _hash32(F.concat(F.col("row").cast("string"),
                                 F.lit(":"), F.col("_v"))),
                F.lit(int(width)),
            ).alias("bucket"),
        )
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("row", "bucket", "cnt",
                F.lit(int(width)).alias("width"),
                F.lit(int(depth)).alias("depth"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    probe_col: str,
    width: int = 512,
    depth: int = 3,
) -> DataFrame:
    """Point-query a CMS: (probe_col, est_count) = min over hash rows of
    the probed cell. Absent cells count 0 (an empty bucket means the
    value never occurred). The probe side is broadcast (it is the small
    query set); the sketch side is width*depth rows at most.

    ``width``/``depth`` must match the shape the sketch was built with —
    verified against the sketch's own shape columns with one tiny job
    (first row of the <= width*depth-cell frame; persist the sketch if
    you will also query it repeatedly), because a mismatched hash space
    would silently UNDERcount, breaking the CMS guarantee."""
    shape = sketch.select("width", "depth").limit(1).collect()
    if shape and (shape[0]["width"] != int(width)
                  or shape[0]["depth"] != int(depth)):
        raise ValueError(
            f"sketch shape {shape[0]['width']}x{shape[0]['depth']} != "
            f"probe shape {int(width)}x{int(depth)}: estimates would "
            "silently undercount")
    keyed = probes.select(F.col(probe_col).alias("_p")).distinct()
    rows = F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("row")
    pk = keyed.select("_p", rows).select(
        "_p", "row",
        F.pmod(
            _hash32(F.concat(F.col("row").cast("string"),
                             F.lit(":"), F.col("_p"))),
            F.lit(int(width)),
        ).alias("bucket"),
    )
    return (
        F.broadcast(pk)
        .join(sketch.select("row", "bucket", "cnt"), ["row", "bucket"],
              "left")
        .groupBy("_p")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
        .select(F.col("_p").alias(probe_col),
                F.col("est_count").cast("long").alias("est_count"))
    )


def _bloom_positions(val: Column, m: int, k_hashes: int) -> Column:
    """Array of ``k_hashes`` bit positions in [0, m) for a value — ONE md5
    split into two 32-bit halves, pos_j = (h1 + j*h2) mod m
    (Kirsch-Mitzenmacher double hashing, the same idiom as the
    minhash_km signature family). Integer-only, oracle-replayable."""
    h = F.md5(val.cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.array(*[
        F.pmod(h1 + F.lit(j) * h2, F.lit(int(m))) for j in range(k_hashes)
    ])


def bloom_build(
    df: DataFrame,
    col: str,
    m: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Distributed Bloom-filter build: a bitmap of ``m`` bits as m/64
    packed int64 words — (word, bits, m, k_hashes).

    THE bounded-memory membership structure for 10^12-row streams (seen-URL
    sets, recrawl filters, shard-local distinct guards): m bits regardless
    of input size, built with ONE map-side-combinable bit_or groupBy after
    a k-way explode, MERGEABLE across corpus shards (bitmaps OR cell-wise),
    no false negatives ever, false positives ~ (1 - e^(-kn/m))^k.

    Absent words are implicitly all-zero — the frame has at most m/64 rows
    (only words with a set bit), so the probe side broadcasts it. The
    shape travels as literal columns so bloom_contains can refuse a
    mismatched probe space (a wrong m/k would yield FALSE NEGATIVES, the
    one failure a Bloom filter promises cannot happen).
    """
    if m < 64 or m % 64 != 0:
        raise ValueError(f"m must be a positive multiple of 64, got {m}")
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    pos = F.explode(
        F.array_distinct(_bloom_positions(F.col(col), m, k_hashes))
    ).alias("pos")
    return (
        df.select(pos)
        # SQL expr: python F.shiftleft only takes a literal shift amount
        .select(F.expr("pos div 64").alias("word"),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(pos % 64 AS INT))").alias("_bit"))
        .groupBy("word")
        .agg(F.bit_or("_bit").alias("bits"))
        .select("word", "bits", F.lit(int(m)).alias("m"),
                F.lit(int(k_hashes)).alias("k_hashes"))
    )


def bloom_contains(
    bitmap: DataFrame,
    probes: DataFrame,
    probe_col: str,
    m: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Probe a Bloom bitmap: (probe_col, member) with member = 1 iff ALL
    k bit positions are set. Inserted values are ALWAYS member = 1 (no
    false negatives); a small share of absent values read 1 (false
    positives from shared bits) — exactly the bits the build set, so the
    oracle reproduces every decision via distinct-position membership
    (bit (w, b) set <=> SOME inserted value hashed to position 64w+b).

    The bitmap side (<= m/64 rows) is collected ONCE — one job over the
    bitmap-build lineage, which also serves the shape check on every row —
    and broadcast from the driver; the probe side streams, so the
    10^12-row membership join costs no shuffle of the big side and the
    caller's bitmap frame is neither re-executed nor cached."""
    words = bitmap.select("word", "bits", "m", "k_hashes").collect()
    for w in words:
        if w["m"] != int(m) or w["k_hashes"] != int(k_hashes):
            raise ValueError(
                f"bitmap shape m={w['m']}/k={w['k_hashes']} != "
                f"probe shape m={int(m)}/k={int(k_hashes)}: mismatched hash "
                "spaces produce false negatives")
    bits = rows_frame(probes.sparkSession,
                      [(w["word"], w["bits"]) for w in words],
                      "word long, bits long")
    pk = probes.select(F.col(probe_col).alias("_p")).distinct().select(
        "_p",
        F.explode(_bloom_positions(F.col("_p"), m, k_hashes)).alias("pos"),
    ).select(
        "_p",
        F.expr("pos div 64").alias("word"),
        F.expr("CAST(pos % 64 AS INT)").alias("_b"),
    )
    # SQL expr: python F.shiftrightunsigned only takes a literal amount
    hit = F.expr(
        "shiftrightunsigned(coalesce(bits, CAST(0 AS BIGINT)), _b) & 1")
    return (
        pk.join(F.broadcast(bits), ["word"], "left")
        .groupBy("_p")
        .agg(F.min(hit).alias("member"))
        .select(F.col("_p").alias(probe_col),
                F.col("member").cast("int").alias("member"))
    )
