"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  query side is broadcast (small); the corpus side streams, so the plan is
  a broadcast nested-loop + per-query top-k window, no corpus shuffle.
- ``lsh_bucketed_ann``: random-hyperplane LSH scale path — corpus hashed to
  sign-pattern buckets once; a query probes only its bucket. At 100 TB the
  bucketed variant turns O(N) scans per query into O(N / 2^planes).

Dot products run JVM-side via ``F.zip_with`` + ``F.aggregate`` (whole-stage
codegen; no Python in the hot loop).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import cached
from .dedup import _bucket_pairs


def dot(a: Column, b: Column) -> Column:
    # widen to double BEFORE multiplying: float32 products differ from the
    # oracle's double products by an ulp on ~1e-5 of pairs — enough to flip
    # a 6-decimal rounding. With double muls + the sequential left fold,
    # Spark and DuckDB's list_reduce produce bit-identical sums.
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# cosine_topk scans the whole corpus once PER QUERY (broadcast nested loop);
# beyond this many queries the work is a disguised all-pairs scan — route
# through lsh_bucketed_ann instead.
MAX_EXACT_QUERIES = 1024


def _query_list(op: str, query_ids: Sequence[int],
                max_queries: int) -> List[int]:
    """The query ids of an exact (per-query full scan) operator, as a list;
    more than ``max_queries`` of them raise."""
    query_ids = list(query_ids)
    if len(query_ids) > max_queries:
        raise ValueError(
            f"{op} got {len(query_ids)} query ids (> {max_queries}): the "
            "exact path scans the whole corpus once per query, so a large "
            "query set is a disguised all-pairs scan. Use lsh_bucketed_ann "
            "(multiprobe for recall) for large query sets, or raise "
            "max_queries explicitly if the corpus is small."
        )
    return query_ids


def _vectors(emb: DataFrame, id_col: str, vec_col: str, ids: str,
             vecs: str, norms: str, *extra) -> DataFrame:
    """One side of a scored pair: (ids, vecs, norms, *extra), the norm
    folded ONCE PER VECTOR in this projection rather than once per pair."""
    return emb.select(F.col(id_col).alias(ids), F.col(vec_col).alias(vecs),
                      norm(F.col(vec_col)).alias(norms), *extra)


def _cosine(va: str, na: str, vb: str, nb: str) -> Column:
    """The 6-digit cosine of two ``_vectors`` sides. dot/(na*nb) is the
    same IEEE expression tree as cosine(va, vb) — same fold order, same
    multiply order — so it is bit-identical to ``F.round(cosine(va, vb),
    6)``, which the DuckDB oracles replay, at one fold per pair instead of
    three (guide §1.2)."""
    return F.round(dot(F.col(va), F.col(vb)) / (F.col(na) * F.col(nb)), 6)


def _top_k(scored: DataFrame, k: int, by: str, score: str,
           tie: str) -> DataFrame:
    """The ``k`` best rows per ``by``: rank = row_number over (score desc,
    tie asc), rows with rank <= k."""
    w = Window.partitionBy(by).orderBy(F.col(score).desc(), F.col(tie).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _cosine_top_k(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, score, rank) of the candidate pairs of a
    query side ``_vectors(.., "query_id", "qv", "_qn")`` and a corpus side
    ``_vectors(.., "neighbor_id", "cv", "_cn")``."""
    scored = cand.withColumn("score", _cosine("qv", "_qn", "cv", "_cn"))
    return _top_k(scored, k, "query_id", "score", "neighbor_id").select(
        "query_id", "neighbor_id", "score", "rank")


def cosine_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = MAX_EXACT_QUERIES,
) -> DataFrame:
    """Exact top-k cosine neighbors for the given query ids (excluding self).

    Output: (query_id, neighbor_id, score) with rank-stable ordering
    (score desc, neighbor_id asc for ties).

    Guard: the plan is a broadcast nested-loop — O(|queries| * N) dot
    products. A large query set silently becomes an all-pairs scan, so
    query sets beyond ``max_queries`` raise with a pointer to the bucketed
    scale path (``lsh_bucketed_ann``, O(N / 2^planes) per query).
    """
    query_ids = _query_list("cosine_topk", query_ids, max_queries)
    q = _vectors(emb.where(F.col(id_col).isin(query_ids)), id_col, vec_col,
                 "query_id", "qv", "_qn")
    c = _vectors(emb, id_col, vec_col, "neighbor_id", "cv", "_cn")
    return _cosine_top_k(
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id")), k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype("float32")


def rademacher_planes(dim: int, n_planes: int,
                      prefix: str = "plane") -> List[List[float]]:
    """±1 (Rademacher) random-projection hyperplanes derived from md5 parity:
    component (j, d) is +1 iff the first hex digit of md5("{prefix}{j}_{d}")
    is < '8'. Sign-random-projection with symmetric ±1 components is a
    standard LSH family for cosine (Achlioptas-style sparse/sign
    projections); deriving the signs from md5 makes the bucket assignment
    reproducible in ANY engine with md5 — the whole ANN path becomes
    oracle-checkable in SQL, unlike seeded-numpy Gaussian planes."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(
                f"{prefix}{j}_{d}".encode()).hexdigest()[0] < "8" else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def md5_bucket(vec_col: Column, dim: int, n_planes: int,
               prefix: str = "plane") -> Column:
    """Sign-pattern bucket id under the md5-Rademacher planes, as a pure
    JVM column expression (whole-stage codegen; no Python, no Arrow):
    bit j = (dot(v, plane_j) > 0). ±1 multiplication is an exact sign flip
    in IEEE754, so the dot is an order-dependent sum of exact doubles —
    Spark's sequential fold and DuckDB's list_dot_product agree to the last
    ulp except for the measure-zero case dot == 0 boundary."""
    v = vec_col.cast("array<double>")
    planes = rademacher_planes(dim, n_planes, prefix)
    bucket = F.lit(0)
    for j, p in enumerate(planes):
        lit = F.array(*[F.lit(x) for x in p])
        dot_j = F.aggregate(
            F.zip_with(v, lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot_j > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("int")


def ivf_assignment_structs(vec_col: Column,
                           centroids: List[tuple]) -> List[Column]:
    """Per-centroid (distance, index) structs for IVF assignment, as pure
    column arithmetic: d_j = ||c_j||^2 - 2 * v.c_j (the ||v||^2 term is
    constant per row, so argmin is unchanged). ||c_j||^2 is injected as a
    literal computed with the SAME sequential left fold the engines use,
    so Spark and the DuckDB oracle see bit-identical distances; -2* is an
    exact IEEE scaling. Struct ordering (d, then j) makes ties resolve to
    the lowest centroid index in both engines."""
    out = []
    for j, (cid, cvec) in enumerate(centroids):
        c = [float(x) for x in cvec]
        cc = 0.0
        for x in c:
            cc = cc + x * x  # sequential fold, matches list_reduce order
        lit = F.array(*[F.lit(x) for x in c])
        d = F.lit(cc) - F.lit(2.0) * dot(vec_col, lit)
        out.append(F.struct(d.alias("d"), F.lit(j).alias("j")))
    return out


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> List[tuple]:
    """Train the IVF coarse quantizer with pyspark.ml KMeans (distributed
    Lloyd iterations — the production path for data whose clusters the
    fixed first-N quantizer misses). Returns the same (id, vector) list
    shape ivf_bucketed_ann consumes, so swapping quantizers is exactly the
    one-list change the fixed path documents."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feat)
    return [(j, [float(x) for x in c]) for j, c in enumerate(km.clusterCenters())]


def _coarse_centroids(emb: DataFrame, dim: int, n_centroids: int,
                      id_col: str, vec_col: str,
                      quantizer: str) -> List[tuple]:
    """The coarse quantizer of ivf_bucketed_ann and semantic_dedup, as an
    (id, vector) list: ``"fixed"`` = the embeddings of the first
    ``n_centroids`` ids, ``"kmeans"`` = kmeans_centroids. Every centroid
    must have the declared ``dim``."""
    if quantizer == "kmeans":
        cents = kmeans_centroids(emb, n_centroids, vec_col=vec_col)
    elif quantizer == "fixed":
        cents = [
            (r[0], list(r[1])) for r in
            emb.where(F.col(id_col) < n_centroids)
            .select(id_col, vec_col).orderBy(id_col).collect()
        ]
    else:
        raise ValueError(f"unknown quantizer {quantizer!r}: "
                         "expected 'fixed' or 'kmeans'")
    bad = [len(c) for _, c in cents if len(c) != dim]
    if bad:
        raise ValueError(
            f"centroid dimension {bad[0]} != declared dim {dim}")
    return cents


def ivf_bucketed_ann(
    emb: DataFrame,
    query_ids: Sequence[int],
    dim: int,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "fixed",
) -> DataFrame:
    """IVF-style approximate top-k: an inverted-file index over a coarse
    quantizer — every vector is assigned to its nearest centroid cell ONCE
    (one pass, no shuffle beyond the final top-k), and a query scans only
    its ``nprobe`` nearest cells: O(N * nprobe / n_centroids) candidate
    work per query instead of a full scan. The standard ANN scale path
    alongside sign-LSH (lsh_bucketed_ann); nprobe is the recall knob.

    The default coarse quantizer (``quantizer="fixed"``) is the embeddings
    of the first ``n_centroids`` ids — the assignment is a deterministic
    closed form both engines reproduce bit-for-bit (the oracle replays it
    in SQL); ``quantizer="kmeans"`` trains centroids with pyspark.ml KMeans
    (kmeans_centroids) and broadcasts them through the identical
    assign -> cell join -> verify -> top-k plumbing.

    Output shape matches cosine_topk; scores are exact cosines of the
    probed candidates.
    """
    cents = _coarse_centroids(emb, dim, n_centroids, id_col, vec_col,
                              quantizer)
    structs = ivf_assignment_structs(F.col(vec_col), cents)
    bucketed = emb.withColumn("cell", F.least(*structs)["j"])
    probes = F.transform(
        F.slice(F.array_sort(F.array(*structs)), 1, nprobe),
        lambda s: s["j"])
    q = _vectors(bucketed.where(F.col(id_col).isin(list(query_ids))),
                 id_col, vec_col, "query_id", "qv", "_qn",
                 F.explode(probes).alias("cell"))
    c = _vectors(bucketed, id_col, vec_col, "neighbor_id", "cv", "_cn",
                 "cell")
    return _cosine_top_k(
        F.broadcast(q).join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id")), k)


def lsh_bucketed_ann(
    emb: DataFrame,
    query_ids: Sequence[int],
    dim: int,
    k: int = 3,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
    family: str = "gaussian",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's own sign bucket, plus — with
    ``multiprobe=1`` — every bucket at Hamming distance 1 (one hyperplane
    sign flipped). Multiprobe is the recall knob: candidate work grows from
    O(N / 2^planes) to O(N * (1 + planes) / 2^planes) per query, still never
    a full scan.

    ``n_tables > 1`` is the OR-amplification knob (the classic multi-table
    LSH construction): each table hashes with an independent plane set
    (md5 prefix / numpy seed varied per table) and a neighbor is a
    candidate if it collides in ANY table; candidate pairs are deduplicated
    before scoring, so work is <= n_tables * the single-table cost. On data
    whose clusters individual random hyperplanes cut through, recall rises
    roughly geometrically in n_tables while each probe stays bucketed —
    the 4-table configuration is exactly what ann_topk defaults to (IVF
    probes far less per query but needs a representative quantizer to hold
    recall on general queries — see ann_topk's docstring for the trade).

    Same output shape as cosine_topk; recall < 1 by construction (the scale
    path). Bucket assignment is deterministic given the seed.
    """
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    # ALL tables' buckets in ONE projection over ONE corpus scan (a
    # per-table union would re-read the corpus n_tables times — the scan
    # is the dominant cost at 100 TB), then posexplode to (table, bucket)
    # rows. Table 0 keeps the legacy plane derivation (prefix "plane" /
    # the given seed) so single-table results — and the SQL oracle — are
    # unchanged; further tables draw independent planes. Each bucket
    # column is an independent expression (no shared heavy subtree), so
    # Catalyst's missing cross-expression CSE costs nothing here.
    if family == "md5":
        bcols = [
            md5_bucket(F.col(vec_col), dim, n_planes,
                       prefix=f"t{tbl}plane" if tbl else "plane")
            for tbl in range(n_tables)
        ]
    else:
        planes_per_table = [_hyperplanes(dim, n_planes, seed + tbl)
                            for tbl in range(n_tables)]

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def _buckets(v: pd.Series) -> pd.Series:
            mat = np.stack(v.to_numpy())
            weights = 1 << np.arange(n_planes)
            outs = np.stack([
                ((mat @ p.T) > 0) @ weights for p in planes_per_table
            ], axis=1).astype("int32")
            return pd.Series(list(outs))

        bcols = None
    bucketed = emb.withColumn(
        "buckets",
        F.array(*bcols) if bcols is not None else _buckets(F.col(vec_col)))
    c_all = _vectors(bucketed, id_col, vec_col, "neighbor_id", "cv", "_cn",
                     F.posexplode("buckets").alias("ct", "cb"))
    q_all = _vectors(bucketed.where(F.col(id_col).isin(list(query_ids))),
                     id_col, vec_col, "query_id", "qv", "_qn",
                     F.posexplode("buckets").alias("qt", "qb"))
    if multiprobe >= 1:
        # probe set = own bucket + single-bit flips (distinct by
        # construction, so the join never duplicates a neighbor)
        probes = F.array(
            F.col("qb"),
            *[F.col("qb").bitwiseXOR(F.lit(1 << j))
              for j in range(n_planes)],
        )
        q_all = q_all.select("query_id", "qv", "_qn", "qt",
                             F.explode(probes).alias("qb"))
    cand = (
        F.broadcast(q_all)
        .join(c_all, (F.col("qt") == F.col("ct")) & (F.col("qb") == F.col("cb")))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    if n_tables > 1:
        # a pair colliding in several tables must be scored once (within
        # one table the multiprobe buckets are distinct by construction,
        # so single-table plans keep their shuffle-free candidate path)
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    return _cosine_top_k(cand, k)


def ann_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    dim: int,
    k: int = 3,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **knobs,
) -> DataFrame:
    """The DEFAULT approximate-top-k operating point: 4-table sign-LSH
    (4 planes, 1-bit multiprobe) — measured recall@5 is 0.9 / 1.0 on the
    bench fixture's two query sets (centroid-member and general queries),
    robustly >= 0.9 where the single-table config sat at ~0.5.

    Honest cost accounting: on the 2 k-vector fixture the 4-table union
    scores ~((1+planes)*tables/2^planes-overlap) ~ 60-75% of the corpus per
    query — still a bucketed bounded-fanout plan (no CartesianProduct,
    plan-asserted), and at production scale ``n_planes`` rises with log(N)
    to hold per-query candidate work constant while ``n_tables`` holds
    recall. ``method="ivf"`` probes far less (nprobe/n_centroids of the
    corpus) and scores 1.0 when queries are drawn from the indexed
    centroids but 0.4 on general queries under the fixed quantizer — pick
    it when a trained/representative quantizer is available
    (quantizer="kmeans")."""
    if method == "ivf":
        knobs.setdefault("n_centroids", 16)
        knobs.setdefault("nprobe", 2)
        return ivf_bucketed_ann(emb, query_ids, dim, k=k, id_col=id_col,
                                vec_col=vec_col, **knobs)
    if method == "lsh":
        knobs.setdefault("n_planes", 4)
        knobs.setdefault("multiprobe", 1)
        knobs.setdefault("n_tables", 4)
        return lsh_bucketed_ann(emb, query_ids, dim, k=k, id_col=id_col,
                                vec_col=vec_col, **knobs)
    raise ValueError(f"unknown ANN method {method!r}: expected 'ivf' or 'lsh'")


def _sign_lsh_cos_pairs(emb: DataFrame, dim: int, n_planes: int,
                        n_tables: int, id_col: str,
                        vec_col: str) -> DataFrame:
    """(a, b, cos), a < b, for every pair of vectors that shares a bucket in
    any of ``n_tables`` tables of ``n_planes`` md5-Rademacher planes each
    (md5_bucket, prefix "t{table}p"); cos is the exact cosine rounded to 6.
    The candidate stage of embedding_near_dup_pairs_lsh and knn_graph."""
    if n_planes < 1:
        raise ValueError("n_planes must be >= 1")
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    # (doc, bucket-key) proxy rows only — the vector column must NOT ride
    # into the self-join (project early, guide §2.3); persisted so the two
    # join sides share ONE bucket-hash pass instead of Catalyst re-planning
    # the plane dots per side
    keyed = cached(emb.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array(*[
            F.concat_ws(
                "|", F.lit(str(t)),
                md5_bucket(F.col(vec_col), dim, n_planes, prefix=f"t{t}p"),
            )
            for t in range(n_tables)
        ])).alias("bk"),
    ))
    va = _vectors(emb, id_col, vec_col, "a", "va", "_na")
    vb = _vectors(emb, id_col, vec_col, "b", "vb", "_nb")
    return (
        _bucket_pairs(keyed).join(va, "a").join(vb, "b")
        .select("a", "b", _cosine("va", "_na", "vb", "_nb").alias("cos"))
    )


def knn_graph(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole corpus — the
    all-nodes companion to ann_topk's per-query search, and the standard
    first step of graph-based semantic clustering / SemDeDup-style
    epsilon-ball analysis at corpus scale.

    Construction: every vector keys into ``n_tables`` independent banded
    sign-LSH buckets (md5-Rademacher planes — the dedup_embcos family, so
    buckets, cosines and ranks are all reproducible in the DuckDB oracle);
    undirected candidate pairs form WITHIN buckets only (never all-pairs,
    O(sum bucket^2) per table), each pair's exact cosine is computed once
    and mirrored into both directions, and a per-source window keeps the
    top ``k`` by (cosine desc, neighbor id). Approximate by construction:
    a true neighbor missing from all ``n_tables`` buckets is missed —
    recall follows the banded-LSH curve 1-(1-p^planes)^tables.

    Scale: candidate fanout is bounded by bucket sizes (AQE splits a hot
    bucket); the final window shuffles once on the source id with at most
    sum-of-bucket-sizes rows per source. Returns (src, dst, cos, rank).
    """
    scored = _sign_lsh_cos_pairs(emb, dim, n_planes, n_tables, id_col,
                                 vec_col)
    edges = scored.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "cos"
    ).unionByName(scored.select(
        F.col("b").alias("src"), F.col("a").alias("dst"), "cos"))
    return _top_k(edges, k, "src", "cos", "dst")


def semantic_clusters(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic clustering by connected components over the thresholded
    approximate k-NN graph — the corpus-level composition of knn_graph +
    linking.connected_components (the standard "cluster then act" step of
    embedding-space curation: cluster-balanced sampling, per-cluster caps,
    topic buckets).

    Edges = knn_graph edges with cosine >= threshold, undirected + deduped;
    EVERY input vector is a vertex, so isolated vectors come back as
    singleton clusters. Cluster label = smallest member id (ids travel
    through CC as zero-padded strings, linking.id_components — the
    near_dup_keep convention). Returns (id, cluster, n_members).

    Scale: inherits knn_graph's bucketed candidate bound and CC's hybrid
    strategy (driver union-find under the rows+bytes guard, O(log diameter)
    pointer-doubling label propagation above it). The edge frame is
    cached — it feeds CC's size guard and both strategies — in a block of
    its own: CC runs eagerly, so nothing is left cached on return.
    """
    from ..linking import id_components

    comp = id_components(
        "semantic_clusters",
        lambda: knn_graph(emb, dim, k=k, n_planes=n_planes,
                          n_tables=n_tables, id_col=id_col, vec_col=vec_col)
        .where(F.col("cos") >= threshold)
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct(),
        emb.select(F.col(id_col).alias("v")),
    ).select(F.col("v").alias(id_col), F.col("component").alias("cluster"))
    sizes = comp.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"))
    return comp.join(sizes, "cluster").select(id_col, "cluster", "n_members")


def int8_quantize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the standard 4x
    memory compression for embedding indexes (float32 -> int8 codes +
    one float scale per vector).

        scale  = max_i |v_i| / 127
        code_i = floor(v_i * 127.0 / max_i |v_i|)   (all zeros if v == 0)

    floor, not round: Spark and DuckDB agree on IEEE floor bit-for-bit,
    while their half-way rounding conventions are a latent mismatch. The
    two FP ops (one multiply, one divide, identical order) are engine-
    reproducible, so the codes — and everything integer downstream — are
    oracle-checkable exactly. Codes land in [-127, 127] (floor can reach
    -127 only at v_i == -max; the magnitude bound is what the integer-dot
    exactness proof in quantized_topk needs).

    Output: (id, codes array<long>, maxabs double). Pure column
    expressions — no shuffle, no Python.
    """
    v = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    codes = F.when(
        maxabs == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(v, lambda x: F.floor(x * F.lit(127.0) / maxabs)))
    return emb.select(
        F.col(id_col), codes.alias("codes"), maxabs.alias("maxabs"))


def quantized_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = MAX_EXACT_QUERIES,
) -> DataFrame:
    """Top-k maximum-inner-product neighbors over int8-quantized codes —
    the compressed twin of cosine_topk (same broadcast nested-loop shape,
    same query-count guard, 4x less corpus memory and integer multiplies
    in the hot loop).

    approx_dot(a, b) = (sum_i ca_i * cb_i) * (maxabs_a / 127.0)
                                           * (maxabs_b / 127.0)

    The code dot is EXACT int64 arithmetic (|sum| <= dim * 127^2, far
    inside 2^53, so even its double cast is exact), and the three trailing
    FP ops replay in the same order in SQL — the ranking and the 6-decimal
    rounded score are bit-identical in the DuckDB oracle. Ordering is by
    the full approx score (maxabs_b varies per neighbor, so the integer
    dot alone would misrank), ties broken by neighbor id.

    Output: (query_id, neighbor_id, qscore, rank).
    """
    query_ids = _query_list("quantized_topk", query_ids, max_queries)
    qz = int8_quantize(emb, id_col, vec_col)
    q = qz.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("codes").alias("qc"),
        F.col("maxabs").alias("qm"))
    c = qz.select(F.col(id_col).alias("neighbor_id"),
                  F.col("codes").alias("cc"), F.col("maxabs").alias("cm"))
    qdot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "qscore",
            qdot.cast("double")
            * (F.col("qm") / F.lit(127.0)) * (F.col("cm") / F.lit(127.0)))
    )
    return _top_k(scored, k, "query_id", "qscore", "neighbor_id").select(
        "query_id", "neighbor_id", F.round("qscore", 6).alias("qscore"),
        "rank")
