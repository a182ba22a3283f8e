"""Entity linking: minhash-LSH edges + connected components."""

import pytest
from pyspark.sql import functions as F

from fonduer_spark.linking import (
    canonical_entities,
    canonicalize_triples,
    char_shingles,
    connected_components,
    similarity_edges,
    surface_forms,
)


def test_char_shingles(spark):
    df = spark.range(1).select(F.lit("abc").alias("s"))
    got = df.select(char_shingles(F.col("s")).alias("sh")).collect()[0].sh
    assert got == ["^ab", "abc", "bc$"]


def test_connected_components_chain_and_islands(spark):
    vertices = spark.createDataFrame([(v,) for v in "abcdefg"], "v string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a string, b string")
    comps = {r.v: r.component
             for r in connected_components(vertices, edges).collect()}
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["d"] == comps["e"] == "d"
    assert comps["f"] == "f" and comps["g"] == "g"


def test_similarity_edges_group_typo_variants(spark):
    mentions = spark.createDataFrame(
        [("PN100A",), ("PN100A",), ("pn100a ",), ("PN100B",), ("ZZ999X",)],
        "span_text string")
    forms = surface_forms(mentions)
    # normalization collapses case/space before LSH:
    # {PN100A, pn100a } -> PN100A; plus PN100B, ZZ999X
    assert forms.count() == 3
    edges = similarity_edges(forms, jaccard_threshold=0.5).collect()
    pairs = {(e.a, e.b) for e in edges}
    assert ("PN100A", "PN100B") in pairs
    assert not any("ZZ999X" in (e.a, e.b) for e in edges)


def test_canonical_entities_and_triple_rewrite(spark):
    mentions = spark.createDataFrame(
        [("PN100A",), ("PN100B",), ("ZZ999X",)], "span_text string")
    ents = canonical_entities(mentions, jaccard_threshold=0.5)
    got = {r.surface: r.entity_id for r in ents.collect()}
    assert got["PN100A"] == got["PN100B"] == "PN100A"
    assert got["ZZ999X"] == "ZZ999X"

    triples = spark.createDataFrame(
        [("PN100B", "p", "85"), ("ZZ999X", "p", "90")],
        "subj string, pred string, obj string")
    out = {(r.subj, r.obj) for r in canonicalize_triples(
        triples, ents).collect()}
    assert out == {("PN100A", "85"), ("ZZ999X", "90")}


def test_connected_components_distributed_path(spark):
    """Force the DataFrame-loop strategy (driver_threshold=0) and check it
    matches the driver-side union-find result, also on an edge whose
    endpoint is not a vertex."""
    vertices = spark.createDataFrame([(v,) for v in "abcdefg"], "v string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a string, b string")
    dist = {r.v: r.component for r in connected_components(
        vertices, edges, driver_threshold=0).collect()}
    drv = {r.v: r.component for r in connected_components(
        vertices, edges).collect()}
    assert dist == drv
    # an edge endpoint that is not a vertex ("b") is dropped by both
    # strategies: no stray vertex, and a and c stay apart
    vertices = spark.createDataFrame([("a",), ("c",)], "v string")
    edges = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  "a string, b string")
    for threshold in (0, 200_000):
        got = sorted(map(tuple, connected_components(
            vertices, edges, driver_threshold=threshold).collect()))
        assert got == [("a", "a"), ("c", "c")], threshold


def test_connected_components_byte_guard(spark):
    """The driver fast path is byte-guarded, not just row-guarded: a graph
    of FEW rows with huge stable_id strings must route to the distributed
    loop (few-KB cap here), and the answer is unchanged."""
    from fonduer_spark.linking import _fits_on_driver

    wide = [("x" * 4096 + v,) for v in "abcd"]
    vertices = spark.createDataFrame(wide, "v string")
    edges = spark.createDataFrame(
        [("x" * 4096 + "a", "x" * 4096 + "b")], "a string, b string")
    # 4 rows — passes any row threshold — but ~24 KB of strings
    assert not _fits_on_driver(vertices, edges, driver_threshold=200_000,
                               driver_max_bytes=8192)
    assert _fits_on_driver(vertices, edges, driver_threshold=200_000,
                           driver_max_bytes=1 << 20)
    comps = {r.v[-1]: r.component[-1] for r in connected_components(
        vertices, edges, driver_max_bytes=8192).collect()}
    assert comps["a"] == comps["b"] == "a"
    assert comps["c"] == "c" and comps["d"] == "d"


def test_triangle_counts_known_graph(spark):
    # K4 on a,b,c,d (4 triangles, each node in 3) plus pendant edge d-e
    from fonduer_spark.linking import triangle_counts

    k4 = [(x, y) for i, x in enumerate("abcd") for y in "abcd"[i + 1:]]
    edges = spark.createDataFrame(
        k4 + [("e", "d"), ("d", "e"), ("a", "a")],  # dup + self loop dropped
        "a string, b string")
    got = {r.node: (r.degree, r.n_triangles)
           for r in triangle_counts(edges).collect()}
    assert got == {
        "a": (3, 3), "b": (3, 3), "c": (3, 3), "d": (4, 3), "e": (1, 0)}


def test_triangle_counts_triangle_free(spark):
    from fonduer_spark.linking import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "a string, b string")
    rows = triangle_counts(edges).collect()
    assert all(r.n_triangles == 0 for r in rows)
    assert {r.node for r in rows} == set("abcd")


def test_cooccurrence_edges_and_guard(spark):
    from fonduer_spark.linking import cooccurrence_edges

    de = spark.createDataFrame(
        [("d1", "x"), ("d1", "y"), ("d1", "x"), ("d2", "y"), ("d2", "z"),
         ("d3", "q")],
        "url string, ent string")
    got = {(r.a, r.b) for r in cooccurrence_edges(de).collect()}
    assert got == {("x", "y"), ("y", "z")}
    with pytest.raises(ValueError, match="max_per_doc"):
        cooccurrence_edges(de, max_per_doc=1)


def test_neighborhood_counts_path_star(spark):
    from fonduer_spark.linking import neighborhood_counts

    # path a-b-c-d-e (+ dup edge + self loop dropped)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
         ("b", "a"), ("c", "c")],
        "a string, b string")
    got = {r.node: (r.degree, r.n_reach)
           for r in neighborhood_counts(edges, hops=2).collect()}
    assert got == {
        "a": (1, 2),  # b, c
        "b": (2, 3),  # a, c, d
        "c": (2, 4),  # b, d, a, e
        "d": (2, 3),  # c, e, b
        "e": (1, 2),  # d, c
    }
    # hops=1 degenerates to degree
    got1 = {r.node: r.n_reach
            for r in neighborhood_counts(edges, hops=1).collect()}
    assert got1 == {"a": 1, "b": 2, "c": 2, "d": 2, "e": 1}
    # star: hub sees k leaves at 1 hop; each leaf sees hub + other leaves
    star = spark.createDataFrame(
        [("hub", f"l{i}") for i in range(5)], "a string, b string")
    gs = {r.node: r.n_reach
          for r in neighborhood_counts(star, hops=2).collect()}
    assert gs["hub"] == 5 and all(gs[f"l{i}"] == 5 for i in range(5))


def test_neighborhood_counts_hub_guard(spark):
    from fonduer_spark.linking import neighborhood_counts

    star = spark.createDataFrame(
        [("hub", f"l{i}") for i in range(6)], "a string, b string")
    with pytest.raises(ValueError, match="max_degree"):
        neighborhood_counts(star, hops=2, max_degree=5)
    with pytest.raises(ValueError, match="hops"):
        neighborhood_counts(star, hops=0)


def test_neighborhood_kmv_exact_below_k(spark):
    from fonduer_spark.linking import neighborhood_counts, neighborhood_kmv

    # below the sketch capacity the KMV estimate IS the exact 2-hop count
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a"),
         ("c", "f")],
        "a string, b string")
    exact = {r.node: r.n_reach
             for r in neighborhood_counts(edges, hops=2).collect()}
    est = {r.node: r.n_2hop_est
           for r in neighborhood_kmv(edges, k=64).collect()}
    assert est == exact
    with pytest.raises(ValueError, match="k must be"):
        neighborhood_kmv(edges, k=1)


def test_neighborhood_kmv_estimates_above_k(spark):
    from fonduer_spark.linking import neighborhood_counts, neighborhood_kmv

    # two hubs sharing all leaves: every node's 2-hop set is the other
    # 101 nodes — far above k=16, so the estimator branch must engage
    # and land within the ~1/sqrt(k-2) relative-error envelope
    edges = spark.createDataFrame(
        [(h, f"l{i}") for h in ("h1", "h2") for i in range(100)],
        "a string, b string")
    exact = {r.node: r.n_reach
             for r in neighborhood_counts(edges, hops=2).collect()}
    est = {r.node: r.n_2hop_est
           for r in neighborhood_kmv(edges, k=16).collect()}
    assert set(est) == set(exact)
    assert all(v == 101 for v in exact.values())
    for node, e in est.items():
        assert 0.4 * exact[node] <= e <= 2.5 * exact[node], (node, e)


def test_link_prediction_common_neighbors(spark):
    # square a-b-c-d-a plus a pendant e on a: non-adjacent diagonals
    # (a,c) and (b,d) each share two degree-≥2 neighbors.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "e")],
        "a string, b string")
    from fonduer_spark.linking import link_prediction_scores

    rows = {(r.a, r.b): (r.cn, r.ra_micros)
            for r in link_prediction_scores(edges, min_common=2).collect()}
    # deg: a=3, b=2, c=2, d=2, e=1
    # (a,c): apexes b,d (deg 2 each) -> cn=2, ra = 2 * (1000000 div 2)
    # (b,d): apexes a (deg 3), c (deg 2) -> 333333 + 500000
    assert rows == {("a", "c"): (2, 1_000_000),
                    ("b", "d"): (2, 833_333)}


def test_link_prediction_excludes_adjacent_and_hubs(spark):
    edges = spark.createDataFrame(
        [("h", x) for x in "abcd"] + [("a", "b")], "a string, b string")
    from fonduer_spark.linking import link_prediction_scores

    # triangle h-a-b: (a,b) adjacent -> excluded even though cn via h
    got = link_prediction_scores(edges, min_common=1).collect()
    pairs = {(r.a, r.b) for r in got}
    assert ("a", "b") not in pairs
    # all non-adjacent spoke pairs share only hub h (deg 4)
    assert {("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")
            } <= pairs
    # capping out the hub apex removes every wedge -> empty
    assert link_prediction_scores(
        edges, min_common=1, max_apex_degree=3).count() == 0


def test_fuzzy_join_levenshtein_two_pass_blocking(spark):
    from fonduer_spark.linking import fuzzy_join_levenshtein

    clean = spark.createDataFrame(
        [(1, "chartreuse goldenrod"), (2, "lavender chocolate"),
         (3, "completely different")],
        "id long, name string")
    dirty = spark.createDataFrame(
        [(10, "chartreuse goldenrodx"),   # suffix edit: prefix block hits
         (20, "zavender chocolate"),      # prefix edit: suffix block hits
         (30, "no relation at all")],
        "id long, name string")
    got = {(r.left_id, r.right_id): r.lev_dist
           for r in fuzzy_join_levenshtein(
               clean, dirty, "id", "id", "name", "name",
               max_dist=2, block_len=8).collect()}
    assert got == {(1, 10): 1, (2, 20): 1}


def test_fuzzy_join_short_strings_whole_string_block(spark):
    from fonduer_spark.linking import fuzzy_join_levenshtein

    clean = spark.createDataFrame([(1, "abc")], "id long, name string")
    dirty = spark.createDataFrame([(2, "abd")], "id long, name string")
    got = fuzzy_join_levenshtein(
        clean, dirty, "id", "id", "name", "name",
        max_dist=2, block_len=8).collect()
    # both shorter than block_len: block key = whole string; the pair
    # differs in the last char so only the PREFIX pass can catch it
    # (substr(,1,8) of 'abc' vs 'abd' differ) -> correctly no candidate
    # from prefix, none from suffix -> empty (the documented recall
    # boundary for edits inside every block key).
    assert got == []
