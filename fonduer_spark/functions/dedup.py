"""Deduplication operators over a documents table.

All hot paths are JVM-side column expressions (whole-stage codegen):
- exact dedup: hash-groupBy;
- token-shingle generation: F.transform over F.sequence (no explode needed
  for per-row signatures);
- MinHash: per-row array_min over md5(shingle||seed) — md5 is deterministic
  and identical across engines, so signatures are oracle-checkable;
- LSH banding: band-key groupBy then within-bucket pair join;
- n-gram Jaccard: relational shingle self-join (common / (|A|+|B|-common));
- SimHash: vectorized pandas UDF (bit-twiddling is the genuine Python path).

Scale notes: the shingle self-join for Jaccard shuffles on shingle — at
100 TB that is the classic hot-shingle skew join, so stop-shingle filtering
(drop shingles with document frequency above ``max_df``) bounds the blowup;
MinHash-LSH replaces the quadratic join with bucket-local pairs.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import cached


def normalized_tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens of a text column."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles(text: Column, n: int = 3) -> Column:
    """Token n-gram shingles as an array column (JVM-side, no explode)."""
    toks = normalized_tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup groups: md5(text) -> n_docs, canonical (min) doc id.

    One hash-groupBy; at scale the md5 key is uniform so no skew.
    """
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def minhash_signature(text: Column, k: int = 16, shingle_n: int = 3) -> Column:
    """k-wide MinHash signature: per seed, min over md5(shingle || seed).

    String-min over hex md5 is a valid min-hash family; md5 exists with
    identical output in Spark and DuckDB, keeping the signature
    oracle-checkable.
    """
    sh = shingles(text, shingle_n)
    return F.array(*[
        F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(s, F.lit(f"#{i}"))))
        )
        for i in range(k)
    ])


KM_MOD = 1 << 32


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    family: str = "md5",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH.

    signature -> ``bands`` band keys -> groupBy band key -> within-bucket
    pairs (a < b), distinct. The quadratic blowup is bounded per bucket; a
    bucket whose size explodes indicates boilerplate text — cap via
    ``spark.sql.adaptive`` skew splitting at scale. ``bands`` must divide
    ``k`` (ValueError otherwise).

    ``family``:
    - "md5": k independent salted md5s per shingle (string-min family);
    - "km": Kirsch-Mitzenmacher double hashing — ONE md5 per shingle split
      into two 32-bit halves (h1, h2), h_j = (h1 + j*h2) mod 2^32
      (integer-min family). Hashing cost drops k-fold: the md5+parse runs
      in a Project stage (whole-stage codegen CSE computes the digest
      once), and the k mins are pure integer arithmetic in the aggregate.
      Statistically the standard MinHash construction (Kirsch &
      Mitzenmacher, "Less Hashing, Same Performance"); still exactly
      reproducible in SQL via hex-nibble parsing.
    """
    if family not in ("md5", "km"):
        raise ValueError(
            f"unknown MinHash family {family!r}: expected 'md5' or 'km'")
    band_keys = _band_keys(k, bands)
    # Relational MinHash: explode shingles ONCE, then one groupBy computing
    # all k mins in a single pass. (A per-row array expression duplicates
    # the whole signature subtree into every band key because Catalyst does
    # not common-subexpression-eliminate across expressions — measured 30x
    # slower. Explode+agg hashes each shingle exactly k (md5) or 1 (km)
    # times.)
    ex = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    sig = _minhash_sig_frame(ex, k, family)
    return _bucket_pairs(sig.select("doc", F.explode(band_keys).alias("bk")))


def _band_keys(k: int, bands: int) -> Column:
    """The ``bands`` LSH band keys of a (doc, h0..h{k-1}) signature row:
    band number and its k/bands hashes joined by "|". A band with no hash
    would key every document alike (an all-pairs join) and leftover hashes
    would be dropped silently, so ``bands`` must divide ``k``."""
    if bands < 1 or k % bands:
        raise ValueError(
            f"bands must divide k: got k={k}, bands={bands}")
    rows = k // bands
    return F.array(*[
        F.concat_ws("|", F.lit(str(b)),
                    *[F.col(f"h{b * rows + j}") for j in range(rows)])
        for b in range(bands)
    ])


def _bucket_pairs(keyed: DataFrame) -> DataFrame:
    """(doc, bk) rows -> the distinct (a, b) pairs, a < b, that share a
    bucket key: the one bucket self-join of every LSH operator (MinHash
    bands, sign-LSH tables). ``keyed`` should be narrow and cached — both
    join sides read it."""
    a = keyed.select(F.col("doc").alias("a"), "bk")
    b = keyed.select(F.col("doc").alias("b"), "bk")
    return (
        a.join(b, "bk")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _minhash_sig_frame(ex: DataFrame, k: int, family: str) -> DataFrame:
    """(doc, shingle) rows -> persisted (doc, h0..h{k-1}) signature frame.

    Persisting the POST-aggregation signatures (one narrow row per doc —
    k hex strings / ints, a ~500-byte proxy row per document at any scale)
    is the guide-§8 'decide with small rows' move: the band self-join
    otherwise plans the ENTIRE explode+md5+min aggregation subtree once per
    join side (Catalyst does not share subtrees across self-join branches),
    doubling the dominant md5 cost of the operator (measured in the r07
    plan capture: two SortAggregate towers feeding the bucket join). The
    cache is an intra-query intermediate the result reads; the caller's
    ``cache.released()`` block releases it."""
    if family == "km":
        h = F.md5("s")
        hashed = ex.select(
            "doc",
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
        )
        sig = hashed.groupBy("doc").agg(*[
            F.min(F.pmod(F.col("h1") + i * F.col("h2"), F.lit(KM_MOD)))
            .alias(f"h{i}")
            for i in range(k)
        ])
    else:
        sig = ex.groupBy("doc").agg(*[
            F.min(F.md5(F.concat(F.col("s"), F.lit(f"#{i}")))).alias(f"h{i}")
            for i in range(k)
        ])
    return cached(sig)


def lsh_verified_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """THE near-dup operator for scale: MinHash-LSH candidate pairs, then
    exact shingle-Jaccard verification WITHIN buckets only.

    Composition of minhash_lsh_pairs (bucketed — never all-pairs) with a
    per-pair verify join: O(candidate pairs) exact work instead of the
    O(sum df^2) shingle self-join of ngram_jaccard_pairs (which remains the
    bounded ground-truth kernel). Every step is md5/array column
    arithmetic, so the whole operator is oracle-checkable in SQL.
    Output: (a, b, jaccard) with jaccard >= threshold.
    """
    pairs = minhash_lsh_pairs(docs, id_col, text_col, k, bands, shingle_n)
    # persisted: the a-side and b-side verify joins otherwise each re-plan
    # the scan+shingle+distinct subtree (Catalyst shares no subtrees across
    # self-join branches) — one shingle pass instead of two; intra-query
    # intermediate, spills via MEMORY_AND_DISK at scale (the guide-§8
    # trade: cache the per-doc shingle sets once rather than re-deriving
    # them from the corpus per join side)
    sh = cached(docs.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sh"),
    ))
    return _jaccard_verified(pairs, sh, threshold)


def _jaccard_verified(pairs: DataFrame, sets: DataFrame,
                      threshold: float) -> DataFrame:
    """(a, b) candidate pairs + (doc, sh) distinct-element sets -> (a, b,
    jaccard) with the 6-digit rounded Jaccard >= threshold. ``sets`` should
    be cached: both verify joins read it."""
    out = (
        pairs.join(sets.withColumnsRenamed({"doc": "a", "sh": "sha"}), "a")
        .join(sets.withColumnsRenamed({"doc": "b", "sh": "shb"}), "b")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    return (
        out.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def near_dup_keep(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """The operation a curation pipeline actually runs: near-dup REMOVAL.
    lsh_verified_pairs -> undirected connected components over the verified
    pairs -> keep the smallest doc id per cluster. Output: one row per doc
    that appears in at least one near-dup pair — (doc_id, canonical, kept)
    with kept = 1 iff the doc IS its cluster's canonical; docs in no pair
    are implicitly kept (joining this frame back with a left-anti on
    kept = 0 is the drop step).

    Ids travel through the CC operator as zero-padded strings
    (linking.id_components), so negative ids fail fast. The whole
    composition (md5 signatures, band joins, in-bucket verify, recursive
    closure) stays SQL-reproducible. The verified pairs frame is cached (it
    feeds the CC size guard and both CC strategies) in a block of its own:
    connected_components runs eagerly, so the result no longer reads any
    cache and nothing is left cached on return."""
    from ..linking import id_components

    comp = id_components("near_dup_keep", lambda: lsh_verified_pairs(
        docs, id_col, text_col, k, bands, shingle_n, threshold))
    return comp.select(
        F.col("v").alias(id_col),
        F.col("component").alias("canonical"),
        (F.col("v") == F.col("component")).cast("int").alias("kept"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.1,
    max_df: int = 1000,
) -> DataFrame:
    """Pairwise n-gram Jaccard similarity >= threshold, relationally.

    explode(distinct shingles) -> drop hot shingles (df > max_df: stop-
    shingle skew guard) -> self-join on shingle -> |A∩B| -> Jaccard.
    """
    ds = docs.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    sizes = ds.select("doc", F.size("sh").alias("n_sh"))
    ex = ds.select("doc", F.explode("sh").alias("s"))
    hot = (
        ex.groupBy("s").count().where(F.col("count") > max_df).select("s")
    )
    # persisted: the self-join below otherwise re-plans the shingle
    # explode + hot-shingle anti-join once per side (r07; this kernel is
    # doc-capped by contract, so the cached exploded frame is bounded)
    ex = cached(ex.join(F.broadcast(hot), "s", "left_anti"))
    common = (
        ex.alias("x")
        .join(ex.alias("y"), "s")
        .where(F.col("x.doc") < F.col("y.doc"))
        .groupBy(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnsRenamed({"doc": "a", "n_sh": "na"}), "a")
        .join(sizes.withColumnsRenamed({"doc": "b", "n_sh": "nb"}), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


_SIMHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("simhash", T.LongType(), True),
])


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document (Arrow-batched pandas UDF, one pass, no
    shuffle). Bit voting is fully vectorized: md5 per UNIQUE token (hashlib
    releases the GIL; duplicates weighted by count), then one numpy
    bit-unpack + count-weighted matrix product per document — no per-bit
    Python loop. Output is bit-identical to the definitional per-token
    implementation (asserted in tests)."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(bits, dtype=np.uint64)
        weights = np.left_shift(np.uint64(1), shifts)
        for pdf in batches:
            out: List[dict] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = str(text).lower().split()
                if toks:
                    uniq, counts = np.unique(np.array(toks, dtype=object),
                                             return_counts=True)
                    digests = b"".join(
                        hashlib.md5(t.encode()).digest()[:8] for t in uniq
                    )
                    h = np.frombuffer(digests, dtype=">u8").astype(np.uint64)
                    # (U, bits) 0/1 matrix; vote = sum counts * (2*bit - 1)
                    bm = ((h[:, None] >> shifts[None, :]) & np.uint64(1)
                          ).astype(np.int64)
                    votes = counts @ (2 * bm - 1)
                    sh = int((weights * (votes > 0)).sum(dtype=np.uint64))
                else:
                    sh = 0
                # store as signed 64-bit
                if sh >= 1 << 63:
                    sh -= 1 << 64
                out.append({"doc_id": int(did), "simhash": sh})
            yield pd.DataFrame(out, columns=["doc_id", "simhash"])

    return docs.select(id_col, text_col).mapInPandas(fn, _SIMHASH_SCHEMA)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — BRUTE-FORCE KERNEL.

    O(N^2) cartesian by construction: the bounded ground-truth kernel for
    tests and recall floors only (the exact analogue of
    ngram_jaccard_pairs vs the LSH path). The scale path — and the one the
    driver query binds — is ``embedding_near_dup_pairs_lsh`` below.
    """
    from .similarity import cosine

    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 4,
) -> DataFrame:
    """THE embedding near-dup operator for scale: banded sign-LSH candidate
    pairs + exact cosine verification WITHIN buckets — never all-pairs
    (the embedding-space twin of lsh_verified_pairs).

    ``n_tables`` independent hash tables of ``n_planes`` md5-Rademacher
    hyperplanes each (similarity.rademacher_planes): a pair collides when it
    shares a bucket in ANY table, so recall = 1-(1-p^k)^L with
    p = 1-θ/π — the standard banded-LSH recall knob. Candidate work is
    O(sum bucket^2) per table, bucketed like MinHash-LSH bands; AQE skew
    splitting bounds a hot bucket. Because the planes are md5-derived and
    the dots are exact ±1 sign-flips of doubles, the whole operator —
    buckets, pairs, cosines — is reproducible in DuckDB SQL.

    Recall < 1 by construction; ``embedding_near_dup_pairs`` (cartesian)
    stays as the bounded ground-truth kernel.
    """
    from .similarity import _sign_lsh_cos_pairs

    return _sign_lsh_cos_pairs(
        emb, dim, n_planes, n_tables, id_col, vec_col,
    ).where(F.col("cos") >= threshold)


def dedup_substrings(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document exact-substring deduplication (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" family,
    token-window approximation): any ``k``-token window that appears in
    MORE than one document is removed from every document except the
    gram's keeper (the minimum doc id containing it), which retains the
    canonical copy. Token positions covered by ANY removable shared gram
    are dropped; the surviving tokens are re-joined with single spaces in
    original order (whitespace is normalized, the same convention as the
    Jaccard shingles).

    Output: (id, text_dedup, n_tokens, n_tokens_removed).

    Scale shape (100 TB grade): one explode of per-doc gram hashes ->
    ONE groupBy on the md5 gram key (uniform, no skew) computing
    (distinct-doc count, keeper) -> the shared-gram set joins back on the
    hash (shuffle join on a uniform key; never an all-pairs product) ->
    per-doc covered-start sets aggregate in a second groupBy -> the
    rebuild is doc-local column arithmetic (F.filter with the positional
    lambda over a materialized covered-positions column — materialized
    once per row, NOT re-derived per token, the Catalyst no-CSE rule).
    Everything is bounded by O(total tokens); no driver collect.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    text = F.col(text_col)
    toks = F.split(F.trim(text), r"\s+")
    valid = (F.length(F.trim(text)) > 0) & (F.size(toks) >= k)
    grams = F.when(valid, F.transform(
        F.sequence(F.lit(1), F.size(toks) - k + 1),
        lambda s: F.md5(F.array_join(F.slice(toks, s, k), " ")),
    )).otherwise(F.array().cast("array<string>"))
    occ = (
        docs.select(F.col(id_col).alias("_id"),
                    F.posexplode(grams).alias("_p0", "_h"))
        .select("_id", (F.col("_p0") + 1).alias("_s"), "_h")
    )
    shared = (
        occ.groupBy("_h")
        .agg(F.count_distinct("_id").alias("_nd"), F.min("_id").alias("_keep"))
        .where(F.col("_nd") >= 2)
        .select("_h", "_keep")
    )
    removable = (
        occ.join(shared, "_h")
        .where(F.col("_id") != F.col("_keep"))
        .groupBy("_id")
        .agg(F.collect_set("_s").alias("_starts"))
    )
    base = docs.withColumn("_toks", toks).withColumn("_valid", valid)
    joined = base.join(
        removable.withColumnRenamed("_id", id_col), id_col, "left")
    covered = F.array_distinct(F.flatten(F.transform(
        F.coalesce(F.col("_starts"), F.array().cast("array<int>")),
        lambda s: F.sequence(s, s + k - 1))))
    with_cov = joined.withColumn("_covered", covered)
    # positional filter: the TWO-arg lambda binds (element, 0-based index)
    # deliberately (the one-arg rule applies to F.transform's accidental
    # second arg; here the index is the point)
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.array_contains(F.col("_covered"), (i + 1).cast("int")))
    n_tokens = F.when(F.length(F.trim(text)) > 0,
                      F.size(F.col("_toks"))).otherwise(F.lit(0))
    out = with_cov.select(
        F.col(id_col),
        F.when(F.length(F.trim(text)) > 0, F.array_join(kept, " "))
         .otherwise(F.lit("")).alias("text_dedup"),
        n_tokens.cast("long").alias("n_tokens"),
        F.when(F.length(F.trim(text)) > 0,
               F.size(F.col("_covered"))).otherwise(F.lit(0))
         .cast("long").alias("n_tokens_removed"),
    )
    return out


def semantic_dedup(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "fixed",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse quantizer,
    then prune near-duplicates WITHIN each cluster only — pairwise work is
    O(sum |cell|^2), never all-pairs. ``n_centroids`` is the scale knob:
    grow it ~linearly with N so cells stay bounded (the paper runs ~100k
    clusters over 100M+ points); AQE skew-join splitting bounds a hot cell.
    Quantizers are shared with the IVF ANN index
    (similarity.ivf_bucketed_ann): ``"fixed"`` = the embeddings of the
    first ``n_centroids`` ids — a deterministic closed form the DuckDB
    oracle replays bit-for-bit (injected ||c||^2 literals, -2*dot
    distances, (d, j) tie order) — and ``"kmeans"`` = pyspark.ml Lloyd
    iterations broadcast through the identical assignment arithmetic.

    Survivor rule: a vector is KEPT iff no lower-id vector in ITS cluster
    has cosine >= threshold ("min-id domination") — deterministic and
    order-free where the paper keeps a random member per duplicate set,
    and exactly expressible relationally (NOT EXISTS in the oracle). This
    is intentionally NOT transitive-closure dedup (``near_dup_keep`` does
    that for pair streams): if a~b and b~c but a!~c, then b is removed and
    c survives via a — one epsilon-ball representative per seed, the
    paper's per-pair semantics.

    Returns (vec_id, cell, kept int 0/1) for every input row.
    """
    from .similarity import (_coarse_centroids, dot, ivf_assignment_structs,
                             norm)

    cents = _coarse_centroids(emb, dim, n_centroids, id_col, vec_col,
                              quantizer)
    structs = ivf_assignment_structs(F.col(vec_col), cents)
    # persisted: the in-cell self-join and the final kept-join otherwise
    # re-plan the centroid-assignment arithmetic (n_centroids 64-dim dots
    # per vector) once per branch; norms ride along so the per-PAIR verify
    # is one fold, not three (bit-identical — see cosine_topk)
    asg = cached(emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("_n"),
        F.least(*structs)["j"].alias("cell"),
    ))
    lo = asg.select(F.col("vec_id").alias("a"), F.col("v").alias("va"),
                    F.col("_n").alias("_na"), "cell")
    hi = asg.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"),
                    F.col("_n").alias("_nb"), "cell")
    dominated = (
        lo.join(hi, "cell")
        .where(F.col("a") < F.col("b"))
        .where(
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("_na") * F.col("_nb")), 6) >= threshold)
        .select("b")
        .distinct()
        .withColumn("_dom", F.lit(1))
        .withColumnRenamed("b", "vec_id")
    )
    return (
        asg.join(dominated, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.when(F.col("_dom").isNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("int").alias("kept"),
        )
    )


def set_similarity_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.25,
    shingle_n: Optional[int] = 3,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering — the
    scalable exact complement to the approximate MinHash-LSH path
    (lsh_verified_pairs): zero false negatives by the prefix-filtering
    principle (Chaudhuri et al. SSJoin / Xiao et al. PPJoin, public
    literature), so the output EQUALS the all-pairs ground truth without
    ever forming all pairs.

    Plan: distinct tokens per doc -> global token order by (document
    frequency asc, token asc) — rare-first, so hot tokens land at the
    END of each sorted set and almost never inside a prefix (the skew
    guard is the ALGORITHM here, not a max_df cutoff that would break
    exactness) -> per-set prefix of length n - ceil(t*n) + 1 -> an
    equi-join on prefix tokens proposes candidates (complete: two sets
    with J >= t share >= ceil(t*n) tokens, which forces a common token
    inside both prefixes under any shared total order) -> a conservative
    size prune (t * max(na,nb) <= min(na,nb); exact when t is binary-
    representable, e.g. 0.25/0.5) -> exact verify via array_intersect,
    ONE integer division rounded to 6 (same convention as
    ngram_jaccard_pairs, so the DuckDB oracle can be the brute-force
    all-pairs ground truth — the completeness claim itself is what gets
    oracle-checked). Returns (a, b, inter, jaccard) with a < b.

    ``shingle_n``: the set elements — token ``n``-gram shingles (default
    3, the same sets the MinHash path hashes), or ``None`` for unigram
    token sets (degenerate on small shared vocabularies).
    """
    elems = (
        normalized_tokens(F.col(text_col))
        if shingle_n is None
        else shingles(F.col(text_col), shingle_n)
    )
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.filter(
            F.array_distinct(elems),
            lambda t: F.length(t) > 0,
        ).alias("tk"),
    ).where(F.size("tk") > 0)
    ex = toks.select("doc", F.explode("tk").alias("t"))
    dfreq = ex.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        ex.join(dfreq, "t")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list(F.struct("df", "t"))).alias("st"))
    )
    # persisted (r07): four consumers below — both prefix-join sides and
    # both verify side-joins — otherwise each re-plan the whole
    # explode + document-frequency join + sort-collect tower (the rare-
    # first global ordering), i.e. ~4x the dominant ordering cost; one
    # narrow (id, tokens, n) row per doc, the same per-doc-set scale
    # class the verify stage of lsh_verified_pairs caches
    sized = cached(ordered.select(
        "doc",
        F.transform("st", lambda s: s["t"]).alias("tk"),
        F.size("st").alias("n"),
    ))
    pref = sized.select(
        "doc",
        "n",
        F.slice(
            "tk",
            1,
            (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
            .cast("int"),
        ).alias("ptk"),
    )
    cex = pref.select("doc", "n", F.explode("ptk").alias("t"))
    cand = (
        cex.alias("x")
        .join(cex.alias("y"), "t")
        .where(F.col("x.doc") < F.col("y.doc"))
        .where(
            F.lit(threshold) * F.greatest(F.col("x.n"), F.col("y.n"))
            <= F.least(F.col("x.n"), F.col("y.n"))
        )
        .select(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .distinct()
    )
    side = sized.select("doc", "tk", "n")
    return (
        cand.join(side.withColumnsRenamed({"doc": "a", "tk": "ta",
                                           "n": "na"}), "a")
        .join(side.withColumnsRenamed({"doc": "b", "tk": "tb",
                                       "n": "nb"}), "b")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "inter", "jaccard")
    )
