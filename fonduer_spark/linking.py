"""P7 — entity linking & canonicalization (north-rule functionality).

Not present in the reference (its pipeline ends at classified candidates);
mandated by BASELINE.json: "entity linking and minhash/connected-components
canonicalization to materialize (subj, pred, obj) triples".

Pipeline:
  surface forms (distinct normalized mention text)
    -> char-shingle sets -> MinHash signatures (md5-based, both cached)
    -> banded LSH bucket join -> candidate pairs
    -> exact Jaccard verify -> similarity edges
       (signature frame, band keys, bucket join and verify are the
        functions.dedup stages behind lsh_verified_pairs, written once)
    -> connected components (iterative smallest-id label propagation —
       a pure DataFrame loop, no GraphFrames dependency)
    -> entities table (entity_id = lexicographically smallest member).

Scale notes: every stage is join/agg-shaped; the CC loop converges in
O(log(diameter)) iterations, each one self-join + groupBy-min; components of
surface-form similarity graphs have tiny diameters in practice. Each
iteration localCheckpoints to truncate lineage growth. ``id_components``
runs CC over integer ids for near_dup_keep and semantic_clusters.

Caches follow cache.py: an operator whose result reads its caches leaves
them to the caller's ``released()`` block; ``canonical_entities`` and
``id_components``, which run CC eagerly, and ``pagerank``, whose rounds are
checkpointed, release their own.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import cached, released
from .functions.dedup import (_band_keys, _bucket_pairs,
                              _jaccard_verified, _minhash_sig_frame)
from .session import rows_frame
from .triples import normalize_surface


def char_shingles(col: Column, n: int = 3) -> Column:
    """Character n-gram shingles of a (short) surface string."""
    padded = F.concat(F.lit("^"), F.lower(col), F.lit("$"))
    return F.when(
        F.length(padded) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.length(padded) - n),
            lambda i: padded.substr(i + 1, F.lit(n)),
        )),
    ).otherwise(F.array(padded))


def surface_forms(mentions: DataFrame) -> DataFrame:
    """Distinct normalized surface forms of all mentions: (surface, n_refs)."""
    return (
        mentions.select(normalize_surface(F.col("span_text")).alias("surface"))
        .groupBy("surface")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )


def similarity_edges(
    forms: DataFrame,
    k: int = 12,
    bands: int = 6,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """(a, b, jaccard) surface pairs with shingle-Jaccard >= threshold via
    MinHash-LSH: the char-shingle twin of dedup.lsh_verified_pairs, through
    the same signature frame, band keys, bucket join and verify.

    The LSH bucket join bounds the candidate set; the exact Jaccard verify
    (rounded to 6 digits) runs only on bucket-cohabiting pairs. The shingle
    sets and the signatures are cached — each feeds both sides of a join —
    and left to the caller's ``released()`` block.
    """
    band_keys = _band_keys(k, bands)
    sets = cached(forms.select(
        F.col("surface").alias("doc"),
        char_shingles(F.col("surface"), shingle_n).alias("sh"),
    ))
    sig = _minhash_sig_frame(
        sets.select("doc", F.explode("sh").alias("s")), k, "md5")
    pairs = _bucket_pairs(sig.select("doc", F.explode(band_keys).alias("bk")))
    return _jaccard_verified(pairs, sets, jaccard_threshold)


def _fits_on_driver(vertices: DataFrame, edges: DataFrame,
                    driver_threshold: int, driver_max_bytes: int) -> bool:
    """Route to the driver-side union-find only when BOTH the row count and
    the estimated payload bytes are small: a row-count-only guard lets a
    graph of few-but-huge stable_id strings (multi-KB URLs, concatenated
    keys) pressure driver memory. Count and byte-sum are fused into ONE
    aggregate per frame (two jobs total), so the guard costs the same as
    the bare counts it replaced — an unpersisted upstream lineage (e.g.
    near_dup_keep's LSH pipeline) is not recomputed extra times."""
    vr = vertices.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("v")).alias("b")).collect()[0]
    er = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("a") + F.length("b")).alias("b")).collect()[0]
    if (vr.n + er.n) > driver_threshold:
        return False
    return ((vr.b or 0) + (er.b or 0)) <= driver_max_bytes


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
    driver_threshold: int = 200_000,
    driver_max_bytes: int = 64 << 20,
) -> DataFrame:
    """Smallest-label propagation: (vertex, component) with component = the
    lexicographically smallest reachable vertex.

    ``vertices``: single column 'v'; ``edges``: columns 'a','b' (undirected).

    Physical strategy by size (the usual CC hybrid): below
    ``driver_threshold`` total rows AND ``driver_max_bytes`` estimated
    string payload (_fits_on_driver — byte-guarded so wide stable_ids
    can't blow the driver through a small row count) the graph is
    collected and solved with union-find in one pass (the iterative-job
    overhead dominates tiny graphs); above either limit, a pure DataFrame
    loop — each round: labels propagate across edges, then groupBy-min,
    then a pointer-doubling jump (label := label-of-label) making
    convergence O(log diameter) rounds; localCheckpoint truncates lineage.
    Warns if max_iter is exhausted before convergence (split components
    otherwise go unnoticed).
    """
    if _fits_on_driver(vertices, edges, driver_threshold, driver_max_bytes):
        vs = [r.v for r in vertices.collect()]
        parent = {v: v for v in vs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in edges.select("a", "b").collect():
            if r.a in parent and r.b in parent:
                ra, rb = find(r.a), find(r.b)
                if ra != rb:
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        return rows_frame(vertices.sparkSession, [(v, find(v)) for v in vs],
                          "v string, component string")
    # an edge with an endpoint outside ``vertices`` is dropped, as the
    # driver path drops it: joined in, it would add a stray vertex.
    # Checkpointed once, since every round joins it.
    sym = (
        edges.select("a", "b")
        .unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .join(vertices.select(F.col("v").alias("a")), "a", "left_semi")
        .join(vertices.select(F.col("v").alias("b")), "b", "left_semi")
    ).localCheckpoint()
    labels = vertices.select(F.col("v"), F.col("v").alias("component"))
    labels = labels.localCheckpoint()
    converged = False
    for _ in range(max_iter):
        prop = (
            sym.join(labels, sym.a == labels.v)
            .select(F.col("b").alias("v"), F.col("component"))
        )
        hop = (
            labels.select("v", "component").unionByName(prop)
            .groupBy("v")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling: jump each label to its label's label — the
        # combination (one-hop min + doubling) converges in O(log diameter)
        # rounds, not O(diameter)
        lut = hop.select(F.col("v").alias("_cv"), F.col("component").alias("_cc"))
        new_labels = (
            hop.join(lut, hop.component == lut._cv, "left")
            .select(
                "v",
                F.coalesce(
                    F.least("_cc", "component"), F.col("component")
                ).alias("component"),
            )
        ).localCheckpoint()  # truncate lineage each round
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} without "
            "converging; component labels may be split — raise max_iter",
            RuntimeWarning,
        )
    return labels


def id_components(op: str, edges: Callable[[], DataFrame],
                  vertices: DataFrame | None = None) -> DataFrame:
    """connected_components over non-negative int64 ids: (v, component) as
    longs, component = the smallest member id.

    ``edges()`` builds the (a, b) id frame; it is built and cached inside a
    block of this helper's own (its cache feeds CC's size guard and both
    strategies), and CC runs eagerly, so nothing is left cached on return.
    ``vertices`` (column v) defaults to the edge endpoints. Ids travel
    through CC as 19-digit zero-padded strings (every non-negative int64
    fits — Spark's lpad TRUNCATES overlong input, so a narrower pad would
    silently collide ids above its width), so the lexicographic smallest
    label equals the numeric min; a negative id breaks that and fails fast
    via raise_error naming ``op``."""
    def key(c):
        col = F.col(c)
        return F.when(
            col < 0,
            F.raise_error(F.concat(
                F.lit(f"{op} requires non-negative ids, got "),
                col.cast("string"))).cast("string"),
        ).otherwise(F.lpad(col.cast("string"), 19, "0"))

    with released():
        e = cached(edges()).select(key("a").alias("a"), key("b").alias("b"))
        if vertices is None:
            v = (e.select(F.col("a").alias("v"))
                 .unionByName(e.select(F.col("b").alias("v"))).distinct())
        else:
            v = vertices.select(key("v").alias("v"))
        comp = connected_components(v, e)
    return comp.select(F.col("v").cast("long").alias("v"),
                       F.col("component").cast("long").alias("component"))


def canonical_entities(
    mentions: DataFrame,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """entities table: (entity_id, surface, n_refs) — every mention surface
    mapped to its component's canonical id. similarity_edges' caches are
    released by a block of its own: CC runs eagerly, so the result reads
    none of them."""
    forms = surface_forms(mentions)
    with released():
        edges = similarity_edges(forms, jaccard_threshold=jaccard_threshold)
        comps = connected_components(
            forms.select(F.col("surface").alias("v")), edges
        )
    return (
        forms.join(comps, forms.surface == comps.v, "left")
        .select(
            F.coalesce(F.col("component"), F.col("surface")).alias("entity_id"),
            "surface",
            "n_refs",
        )
    )


def canonicalize_triples(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """Rewrite triple subj/obj to canonical entity ids (broadcast map join)."""
    ent = F.broadcast(entities.select("surface", "entity_id"))
    t = (
        triples.join(ent.withColumnsRenamed(
            {"surface": "subj", "entity_id": "subj_entity"}), "subj", "left")
        .join(ent.withColumnsRenamed(
            {"surface": "obj", "entity_id": "obj_entity"}), "obj", "left")
    )
    return t.select(
        F.coalesce("subj_entity", "subj").alias("subj"),
        "pred",
        F.coalesce("obj_entity", "obj").alias("obj"),
        *[c for c in triples.columns if c not in ("subj", "pred", "obj")],
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    seeds: Sequence[str] | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over the materialized graph, in exact
    integer arithmetic: (node, rank_scaled).

    The standard KG centrality pass over the (subj, pred, obj) graph
    tables this pipeline materializes. ``edges``: columns 'src','dst'
    (directed; deduplicated here). Every rank is an integer multiple of
    1/scale computed with floor division ONLY:

        rank_0(v)  = scale
        contrib(e) = rank(src) div outdeg(src)
        rank'(v)   = (den-num)*scale div den
                     + num * sum(contribs into v) div den

    so both engines (Spark and the DuckDB oracle, which unrolls the same
    iterations as CTEs) agree bit-for-bit — no float sums, no ordering
    sensitivity. Dangling nodes (no out-edges) simply leak their mass,
    the usual simplification when the jump constant is fixed rather than
    renormalized per round.

    Scale design: the Pregel-in-DataFrame pattern — each round is one
    shuffle join (ranks ⋈ edges on src; the edge frame is pre-joined with
    out-degrees ONCE and persisted, so every round reuses the same
    src-partitioned build side) plus one groupBy(dst) with map-side
    partial sums. Fixed ``iters`` bounds total work; localCheckpoint per
    round truncates the lineage so plans stay O(1), and the cached edge
    and node frames are released before returning. Overflow bound:
    inflow <= N*scale, so num*inflow needs num*N*scale < 2**63 — at
    10**12 nodes drop ``scale`` accordingly.

    ``seeds`` switches to PERSONALIZED PageRank (entity relevance around
    a query set): restart mass lands ONLY on the seed nodes —
    rank_0(v) = scale for seeds, 0 otherwise, and the damped base term
    applies to seeds only. Same integer arithmetic, same per-round shape;
    non-seed nodes accumulate rank only through inbound paths from the
    seed neighborhood. Seeds not present in the graph contribute nothing
    (distances/relevance are defined over graph nodes).
    """
    base = (damping_den - damping_num) * scale // damping_den
    if seeds is None:
        init_col = F.lit(int(scale))
        base_col = F.lit(int(base))
    else:
        is_seed = F.col("v").isin(list(seeds))
        init_col = F.when(is_seed, F.lit(int(scale))).otherwise(F.lit(0))
        base_col = F.when(is_seed, F.lit(int(base))).otherwise(F.lit(0))
    with released():
        e = edges.select("src", "dst").distinct()
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        ed = cached(e.join(outdeg, "src"))
        nodes = cached(
            e.select(F.col("src").alias("v"))
            .unionByName(e.select(F.col("dst").alias("v")))
            .distinct()
        )
        ranks = nodes.select(
            "v", init_col.cast("long").alias("rank_scaled"))
        for _ in range(int(iters)):
            inflow = (
                ed.join(ranks, ed.src == ranks.v)
                .select(F.col("dst").alias("v"),
                        F.expr("rank_scaled div _d").alias("_c"))
                .groupBy("v")
                .agg(F.sum("_c").alias("_in"))
            )
            ranks = (
                nodes.join(inflow, "v", "left")
                .select(
                    "v",
                    (base_col + F.expr(
                        f"({int(damping_num)} * coalesce(_in, 0L)) "
                        f"div {int(damping_den)}"))
                    .cast("long").alias("rank_scaled"),
                )
                .localCheckpoint()
            )
    return ranks


def cooccurrence_edges(
    doc_entities: DataFrame,
    doc_col: str = "url",
    ent_col: str = "ent",
    max_per_doc: int = 1000,
) -> DataFrame:
    """Entity co-occurrence graph: an undirected edge (a, b), a < b, for
    every pair of distinct entities appearing in the same document.

    The standard KG enrichment step after triple extraction (entities that
    co-occur are candidate relation pairs / graph-embedding context). Shape:
    one shuffle on ``doc_col``, then a per-document self-join — quadratic in
    per-doc entity count, which is why ``max_per_doc`` hard-fails on
    pathological docs instead of silently producing a hot partition: at
    100 TB a single mega-doc (navigation boilerplate listing 10^5 entities)
    would otherwise emit 10^10 pairs. Callers with such docs should cap or
    sample upstream; the guard makes the decision explicit.
    """
    de = cached(
        doc_entities.select(
            F.col(doc_col).alias("_d"), F.col(ent_col).alias("_e"))
        .distinct()
    )
    over = (
        de.groupBy("_d").agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > int(max_per_doc))
        .limit(1).collect()
    )
    if over:
        raise ValueError(
            f"cooccurrence_edges: doc {over[0]._d!r} has {over[0]._n} "
            f"entities (> max_per_doc={max_per_doc}); cap or sample "
            "upstream before building the co-occurrence graph")
    return (
        de.alias("x")
        .join(de.alias("y"), "_d")
        .where(F.col("x._e") < F.col("y._e"))
        .select(F.col("x._e").alias("a"), F.col("y._e").alias("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected graph:
    (node, degree, n_triangles) — the classic cohesion census (local
    clustering numerator) over the materialized entity graph.

    ``edges``: columns 'a','b' (undirected; canonicalized + deduplicated
    here). Algorithm is compact-forward / degree orientation — the
    MapReduce-era standard for counting at scale (Suri & Vassilvitskii,
    WWW'11 "Counting Triangles and the Curse of the Last Reducer"):

      orient each edge from its (degree, id)-smaller endpoint ->
      wedges = self-join of oriented edges on the low endpoint ->
      triangle iff the two high endpoints are themselves an edge.

    Orientation bounds per-node out-degree by O(sqrt(|E|)), so the wedge
    join never explodes on hubs — THE skew property that makes this safe at
    web scale (a naive apex join on raw degree is quadratic in the hub
    degree). Three shuffle joins + one groupBy total; every triangle is
    enumerated exactly once (its (degree,id)-minimal vertex is the unique
    apex). All outputs are exact integers (hash-safe cross-engine).
    """
    e = cached(
        edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = cached(
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("_db"))
    a_is_lo = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    oriented = (
        e.join(da, "a").join(db, "b")
        .select(
            F.when(a_is_lo, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_is_lo, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )
    p, q = oriented.alias("p"), oriented.alias("q")
    wedges = (
        p.join(q, "lo")
        .where(F.col("p.hi") < F.col("q.hi"))
        .select(
            F.col("lo").alias("apex"),
            F.col("p.hi").alias("h1"),
            F.col("q.hi").alias("h2"),
        )
    )
    tri = wedges.join(
        e, (F.col("h1") == F.col("a")) & (F.col("h2") == F.col("b")))
    per_node = (
        tri.select(F.col("apex").alias("v"))
        .unionByName(tri.select(F.col("h1").alias("v")))
        .unionByName(tri.select(F.col("h2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("long").alias("n_triangles"),
        )
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected edge list -> both directions, self-loops dropped,
    deduplicated: columns (src, dst). Accepts either ('a','b') or
    ('src','dst') input naming."""
    cols = edges.columns
    a, b = ("a", "b") if "a" in cols and "b" in cols else ("src", "dst")
    e = (
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    return (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )


def neighborhood_counts(
    edges: DataFrame,
    hops: int = 2,
    max_degree: int = 10_000,
) -> DataFrame:
    """EXACT neighborhood function per node over an undirected graph:
    (node, degree, n_reach) where n_reach = #distinct nodes within
    ``hops`` hops (self excluded) — the classic KG locality census
    (how much of the graph an entity touches in h steps).

    Shape: ``hops - 1`` self-joins of the frontier against the
    symmetrized edge list, each followed by distinct (so the frontier
    never exceeds reachable-pairs), then one groupBy count. All outputs
    exact integers — hash-safe cross-engine.

    Scale: exact h-hop expansion is Theta(sum_v deg(v)^h) pairs — a
    single 10^6-degree hub at web scale emits 10^12 wedges, so
    ``max_degree`` HARD-FAILS on hubs instead of silently creating the
    curse-of-the-last-reducer partition (same contract as
    cooccurrence_edges). The 100 TB path for unbounded graphs is the
    sketch variant :func:`neighborhood_kmv` (ANF / HyperBall family:
    Palmer et al. KDD'02, Boldi et al. WWW'11 — neighborhood sizes via
    mergeable cardinality sketches, O(|E| * k) work per hop, no hub
    blow-up).
    """
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    sym = cached(_symmetrize(edges))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    over = deg.where(F.col("degree") > int(max_degree)).limit(1).collect()
    if over:
        raise ValueError(
            f"neighborhood_counts: node {over[0].src!r} has degree "
            f"{over[0].degree} (> max_degree={max_degree}); exact h-hop "
            "expansion would blow up on this hub — cap upstream or use "
            "neighborhood_kmv (the sketch scale path)")
    frontier = sym
    reach = sym
    for _ in range(int(hops) - 1):
        frontier = (
            frontier.alias("f")
            .join(sym.alias("s"), F.col("f.dst") == F.col("s.src"))
            .select(F.col("f.src").alias("src"), F.col("s.dst").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        reach = reach.unionByName(frontier).distinct()
    return (
        reach.groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_reach"))
        .join(deg, "src")
        .select(
            F.col("src").alias("node"),
            F.col("degree").cast("long").alias("degree"),
            F.col("n_reach").cast("long").alias("n_reach"),
        )
    )


def neighborhood_kmv(
    edges: DataFrame,
    k: int = 64,
) -> DataFrame:
    """Sketched 2-hop neighborhood sizes — the ANF/HyperBall pattern
    (per-node mergeable cardinality sketch, propagated one hop per
    round) with the package's deterministic KMV bottom-k sketch instead
    of HyperLogLog, so the DuckDB oracle replays every estimate
    bit-for-bit: (node, n_2hop_est), self excluded, exact below k.

    Round 1 builds each node's bottom-k sketch of 32-bit md5 neighbor
    hashes; round 2 merges each node's own sketch with its neighbors'
    sketches (KMV closure: bottom-k(union of bottom-k's) == bottom-k of
    the union — exact up to one edge case: the self hash is excluded
    AFTER the component sketches were truncated to k, so when it ranks
    inside the bottom-k the (k+1)-th union element it displaced is lost
    and h_k is slightly biased; the oracle replays the identical
    computation, so the contract is unaffected, but do not rely on an
    unbiased-KMV property here — ADVICE r6) and re-estimates with the
    standard (k-1) * 2**32 div h_k rule.

    Scale: O(|E| * k) rows per propagation round — linear in edges, NO
    dependence on hub degree (the reason ANF exists); one more
    round == one more hop. groupBy/window shuffles only; all arithmetic
    integer."""
    from .functions.sketches import _SPACE, _hash32
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    sym = cached(_symmetrize(edges))
    nh = sym.select(
        "src", _hash32(F.col("dst")).alias("_h")).distinct()
    w = Window.partitionBy("src").orderBy("_h")
    sk1 = cached(
        nh.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .select("src", "_h")
    )
    pulled = (
        sym.alias("e")
        .join(sk1.alias("m"), F.col("e.dst") == F.col("m.src"))
        .select(F.col("e.src").alias("src"), F.col("m._h").alias("_h"))
    )
    merged = (
        sk1.unionByName(pulled)
        .where(F.col("_h") != _hash32(F.col("src")))  # self excluded
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
    )
    return (
        merged.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_n"), F.max("_h").alias("_hk"))
        .select(
            F.col("src").alias("node"),
            F.when(F.col("_n") < int(k), F.col("_n"))
            .otherwise(F.expr(
                f"{int(k - 1)} * {_SPACE}L div greatest(_hk, 1L)"))
            .cast("long").alias("n_2hop_est"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: Sequence[str],
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact shortest-path distances (hop counts) from a seed set, bounded
    at ``max_hops`` — frontier-style BFS, the Pregel-lite pattern: each
    hop is ONE shuffle join (frontier x edges) plus ONE anti-join against
    the settled set, so a k-hop query costs k bounded rounds regardless of
    graph size; no per-node driver loops, no recursion depth tied to
    diameter.

    Directed semantics over ``edges`` as given — pass a symmetrized edge
    frame for undirected graphs. Seeds that are not vertices of the graph
    are ignored (distance is defined over graph nodes). The anti-join
    preserves the BFS invariant: a node is settled the first (= shortest)
    hop it is reached, so re-reachings at larger depth never overwrite.

    Output: (node, dist) for every node within ``max_hops`` of a seed,
    dist = 0 for the seeds themselves. Oracle-reproducible: a recursive
    CTE bounded at the same depth with min(d) per node replays it exactly.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    dist = cached(nodes.where(F.col("node").isin(list(seeds))).select(
        "node", F.lit(0).cast("int").alias("dist")))
    frontier = dist.select("node")
    fwd = edges.select(F.col(src).alias("node"), F.col(dst).alias("_to"))
    for h in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(fwd, "node")
            .select(F.col("_to").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(h).cast("int").alias("dist"))
        )
        nxt = cached(nxt)
        if nxt.isEmpty():
            nxt.unpersist()
            break
        # Per-round cleanup (ADVICE r6): materialize the new cumulative
        # frame while its parents are still cached, then release them —
        # at most two cached frames outlive any round instead of
        # ~2*max_hops. The next frontier reads the materialized union
        # (dist == h rows are exactly nxt), never the released parents.
        new_dist = cached(dist.unionByName(nxt))
        new_dist.count()
        dist.unpersist()
        nxt.unpersist()
        dist = new_dist
        frontier = dist.where(F.col("dist") == h).select("node")
    return dist


def link_prediction_scores(
    edges: DataFrame,
    min_common: int = 2,
    max_apex_degree: int = 10_000,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph — the
    classic KG-completion census (Liben-Nowell & Kleinberg CIKM'03): for
    every NON-adjacent node pair (a < b) sharing >= ``min_common``
    neighbors, emit

      (a, b, cn, ra_micros)

    where ``cn`` is the exact common-neighbor count and ``ra_micros`` is
    the resource-allocation index (Zhou et al. '09: sum over shared
    neighbors w of 1/deg(w) — the RA variant of Adamic-Adar without the
    transcendental log) in integer micro-units: per-apex
    ``weight_scale div deg(w)`` then an integer SUM. Integer-only math on
    purpose — float summation order differs across engines and log() is
    banned from hash-compared output (CLAUDE.md float-determinism rule),
    so the DuckDB oracle replays every score bit-for-bit.

    Shape: one wedge self-join of the symmetrized edge list on the apex
    (the shared neighbor), one groupBy (a, b), one left_anti equi-join
    against the undirected edge set (non-adjacency), all JVM-side.

    Scale: wedge enumeration is Theta(sum_w deg(w)^2) — a web-scale hub
    is the curse-of-the-last-reducer. ``max_apex_degree`` EXCLUDES apexes
    above the cap (rather than hard-failing like neighborhood_counts):
    that is the operator's documented semantics, not a shortcut — a
    mega-hub contributes ~zero RA weight (1/deg) and no predictive signal
    (everything co-occurs with it), which is exactly why production AA/RA
    scorers drop super-nodes. The cap is replayed identically by the
    oracle, so capped results are still exact under the definition.

    Reference has no graph-completion stage (triples are its terminal
    output; /root/reference/src/fonduer/candidates/candidates.py stops at
    extraction) — this extends the KG-construction pipeline per the
    north rule's entity-linking/canonicalization mandate.
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    sym = cached(_symmetrize(edges))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    apex = (
        sym.join(deg.where(F.col("degree") <= int(max_apex_degree)), "src")
        .select(
            F.col("src").alias("apex"),
            F.col("dst").alias("n"),
            F.expr(f"{int(weight_scale)}L div degree").alias("_w"),
        )
    )
    f, s = apex.alias("f"), apex.alias("s")
    wedges = (
        f.join(s, "apex")
        .where(F.col("f.n") < F.col("s.n"))
        .select(
            F.col("f.n").alias("a"),
            F.col("s.n").alias("b"),
            F.col("f._w").alias("_w"),
        )
    )
    scored = (
        wedges.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum("_w").cast("long").alias("ra_micros"),
        )
        .where(F.col("cn") >= int(min_common))
    )
    und = sym.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"))
    return scored.join(und, ["a", "b"], "left_anti")


def fuzzy_join_levenshtein(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    max_dist: int = 2,
    block_len: int = 8,
) -> DataFrame:
    """Blocked edit-distance similarity join — the record-linkage
    workhorse (dirty catalog vs clean catalog): emit
    (left_id, right_id, lev_dist) for every cross pair with
    levenshtein(left_col, right_col) <= ``max_dist``.

    Candidate generation: each row emits TWO block keys — its first
    ``block_len`` characters and its last ``block_len`` characters —
    into ONE keyed frame per side; a cross pair is a candidate when ANY
    key collides (a single equi-join on the unioned keys, then pair
    dedup). Cross-end collisions are deliberately included: a
    front-deletion plus back-insertion shifts the whole string, making
    the clean SUFFIX equal the dirty PREFIX — separate per-pass joins
    would miss exactly that family. Disclosed recall boundary: a pair whose
    every shared window is edited (all four keys differ) is missed;
    exhaustive recall needs the q-gram + length-filter cascade (cf.
    similarity_edges for the shingle/Jaccard path). Verification =
    banded Levenshtein with the threshold pushed into the JVM kernel
    (F.levenshtein(l, r, threshold) computes the O(d*n) band and returns
    -1 above it — never the full DP, never a Python UDF).

    Scale: NEVER cartesian — comparisons are bounded by block
    co-membership (two shuffle equi-joins + one distinct); skewed blocks
    (a hyper-common prefix) are ordinary AQE skew-join territory because
    both passes are plain equi-joins. All outputs exact integers.

    Reference parity: the reference has no approximate string join (its
    entity matching is exact dictionary/regex — matchers.py); this is
    the entity-linking extension the north rule's canonicalization
    stage needs at web scale.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    bl = int(block_len)
    lf = left.select(
        F.col(left_id).alias("_lid"), F.col(left_col).alias("_ls"))
    rf = right.select(
        F.col(right_id).alias("_rid"), F.col(right_col).alias("_rs"))

    # greatest(..., 1): strings shorter than block_len take the whole
    # string in BOTH engines (DuckDB substr with start < 1 shifts the
    # window instead — never rely on negative-start semantics).
    def _keyed(df: DataFrame, c: str) -> DataFrame:
        pre = df.withColumn("_bk", F.expr(f"substr({c}, 1, {bl})"))
        suf = df.withColumn(
            "_bk",
            F.expr(f"substr({c}, greatest(length({c}) - {bl - 1}, 1))"))
        return pre.unionByName(suf)

    cand = (
        _keyed(lf, "_ls").join(_keyed(rf, "_rs"), "_bk")
        .select("_lid", "_rid", "_ls", "_rs")
        .dropDuplicates(["_lid", "_rid"])
    )
    dist = F.levenshtein(F.col("_ls"), F.col("_rs"), int(max_dist))
    return (
        cand.withColumn("_d", dist)
        .where(F.col("_d") >= 0)
        .select(
            F.col("_lid").alias("left_id"),
            F.col("_rid").alias("right_id"),
            F.col("_d").cast("int").alias("lev_dist"),
        )
    )
