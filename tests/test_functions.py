"""Training-data operators: dedup / similarity / textstats / multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fonduer_spark.functions import dedup as dd
from fonduer_spark.functions import multimodal as mm
from fonduer_spark.functions import similarity as sim
from fonduer_spark.functions import textstats as ts


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),   # near dup
        (3, "completely different words entirely here now"),
        (4, "el gato y el perro y el raton"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    groups = dd.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2 and groups[0].canonical_id == 0


def test_minhash_identical_sigs_for_dups(spark, docs):
    sig = dd.minhash_signature(F.col("text"), k=8)
    out = {r.doc_id: r.s for r in docs.select("doc_id", sig.alias("s")).collect()}
    assert out[0] == out[1]
    assert out[0] != out[3]
    # near-dup shares most signature slots
    shared = sum(a == b for a, b in zip(out[0], out[2]))
    assert shared >= 4


def test_minhash_lsh_pairs_finds_dups(spark, docs):
    pairs = {(r.a, r.b) for r in dd.minhash_lsh_pairs(
        docs, k=16, bands=8).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_lsh_hash_bits_must_divide_evenly(spark, docs, emb):
    """A band with no MinHash row, leftover MinHash rows or a sign-LSH
    table with no plane would key every document alike (an all-pairs
    join) or drop hashes silently: each raises instead."""
    with pytest.raises(ValueError, match="bands must divide k"):
        dd.minhash_lsh_pairs(docs, k=4, bands=8)
    with pytest.raises(ValueError, match="bands must divide k"):
        dd.minhash_lsh_pairs(docs, k=16, bands=5)
    with pytest.raises(ValueError, match="n_planes must be >= 1"):
        sim.knn_graph(emb, dim=16, n_planes=0)
    with pytest.raises(ValueError, match="n_tables must be >= 1"):
        dd.embedding_near_dup_pairs_lsh(emb, dim=16, n_tables=0)


def test_ngram_jaccard(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in dd.ngram_jaccard_pairs(
        docs, shingle_n=3, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    near = dd.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.3).collect()
    assert any((r.a, r.b) == (0, 2) for r in near)


def test_simhash_dups_equal_and_near_dups_close(spark, docs):
    out = {r.doc_id: r.simhash for r in dd.simhash(docs).collect()}
    assert out[0] == out[1]
    ham = bin((out[0] ^ out[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((out[0] ^ out[3]) & ((1 << 64) - 1)).count("1")
    assert ham < ham_far


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(40, 16).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.randn(16).astype("float32")  # near 0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, emb):
    out = sim.cosine_topk(emb, [0], k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].neighbor_id == 1  # the planted near-duplicate
    assert out[0].score > 0.99


def test_cosine_topk_matches_numpy(spark, emb):
    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    q = mat[5]
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    cos[5] = -np.inf
    top = np.argsort(-cos)[:3]
    got = [r.neighbor_id for r in sim.cosine_topk(emb, [5], k=3).collect()]
    assert got == list(top)


def test_lsh_ann_bucket_determinism_and_recall(spark, emb):
    out1 = sim.lsh_bucketed_ann(emb, [0], dim=16, k=3, n_planes=4).collect()
    out2 = sim.lsh_bucketed_ann(emb, [0], dim=16, k=3, n_planes=4).collect()
    assert [(r.neighbor_id, r.score) for r in out1] == \
           [(r.neighbor_id, r.score) for r in out2]
    # the planted near-dup lands in the same sign bucket
    assert out1 and out1[0].neighbor_id == 1


def test_multimodal_plumbing(spark, docs):
    media = mm.media_from_docs(docs)
    feats = mm.extract_features(media, decoder="fake")
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 6
    assert all(len(r.features) == mm.FEATURE_DIM for r in rows.values())
    # identical payloads -> identical fake features; deterministic
    assert rows[0].features == rows[1].features
    assert rows[0].n_bytes == len(
        "the quick brown fox jumps over the lazy dog")


def test_multimodal_real_decoder_stub(spark, docs):
    media = mm.media_from_docs(docs)
    with pytest.raises(Exception):  # NotImplementedError inside the executor
        mm.extract_features(media, decoder="real").collect()


def test_textstats_values(spark):
    d = spark.createDataFrame(
        [(0, "The cat and the dog."), (1, ""), (2, "  x  ")],
        "doc_id long, text string")
    q = {r.doc_id: r for r in ts.quality_stats(d).collect()}
    assert q[0].n_tokens == 5
    assert q[1].n_tokens == 0
    assert q[2].n_tokens == 1
    assert q[0].stopword_ratio == pytest.approx(0.6)  # the, and, the / 5
    lang = {r.doc_id: r.lang for r in d.select(
        "doc_id", ts.lang_id(F.col("text")).alias("lang")).collect()}
    assert lang[0] == "en" and lang[1] == "und"
    fp = d.select(ts.fingerprint(F.col("text")).alias("f")).collect()
    assert all(len(r.f) == 32 for r in fp if r.f)


def test_simhash_matches_definitional_implementation(spark, docs):
    """The vectorized bit-vote must stay bit-identical to the definitional
    per-token/per-bit loop."""
    import hashlib

    def reference_simhash(text, bits=64):
        votes = [0] * bits
        for tok in str(text).lower().split():
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for i in range(bits):
                votes[i] += 1 if (h >> i) & 1 else -1
        sh = 0
        for i in range(bits):
            if votes[i] > 0:
                sh |= 1 << i
        if sh >= 1 << 63:
            sh -= 1 << 64
        return sh

    got = {r.doc_id: r.simhash for r in dd.simhash(docs).collect()}
    for r in docs.collect():
        assert got[r.doc_id] == reference_simhash(r.text), r.doc_id


def test_lsh_verified_pairs(spark, docs):
    """LSH + within-bucket Jaccard verify: finds the exact dup with
    jaccard 1.0, never crosses unrelated docs."""
    out = {(r.a, r.b): r.jaccard
           for r in dd.lsh_verified_pairs(docs, k=16, bands=8,
                                          threshold=0.1).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 3) not in out
    # verify step prunes bucket-collision false positives below threshold
    assert all(j >= 0.1 for j in out.values())


def test_near_dup_keep(spark, docs):
    """Near-dup removal: pairs close transitively into clusters, the
    smallest id is the kept canonical, docs outside any pair are absent
    (implicitly kept)."""
    rows = {r.doc_id: r for r in
            dd.near_dup_keep(docs, k=16, bands=8, threshold=0.1).collect()}
    cluster = {i for i, r in rows.items() if r.canonical == 0}
    assert 0 in cluster and 1 in cluster          # the exact dup pair
    assert rows[0].kept == 1
    assert all(rows[i].kept == 0 for i in cluster if i != 0)
    assert 3 not in rows and 4 not in rows        # singletons not listed
    # transitive closure on a synthetic chain a~b, b~c (a!~c directly)
    chain = spark.createDataFrame(
        [(10, "aaa bbb ccc ddd eee fff"),
         (11, "aaa bbb ccc ddd eee zzz"),
         (12, "aaa qqq ccc ddd eee zzz")],
        "doc_id long, text string")
    got = {r.doc_id: (r.canonical, r.kept) for r in
           dd.near_dup_keep(chain, k=16, bands=8, threshold=0.3).collect()}
    assert set(got) == {10, 11, 12}
    assert all(c == 10 for c, _ in got.values())
    assert got[10][1] == 1 and got[11][1] == 0 and got[12][1] == 0


def test_near_dup_keep_wide_ids_no_truncation(spark):
    """Ids above 10^12 must survive the string round-trip (lpad TRUNCATES
    overlong input — a 12-wide pad collided 13-digit ids); negative ids
    fail fast instead of silently breaking the min-label invariant."""
    big = 1_000_000_000_000
    d = spark.createDataFrame(
        [(big, "aaa bbb ccc ddd"), (big + 1, "aaa bbb ccc ddd"),
         (7, "zzz yyy xxx www"), (8, "zzz yyy xxx www")],
        "doc_id long, text string")
    got = {r.doc_id: r.canonical for r in
           dd.near_dup_keep(d, k=16, bands=8, threshold=0.5).collect()}
    assert got == {big: big, big + 1: big, 7: 7, 8: 7}
    neg = spark.createDataFrame(
        [(-3, "aaa bbb ccc ddd"), (-5, "aaa bbb ccc ddd")],
        "doc_id long, text string")
    with pytest.raises(Exception, match="non-negative"):
        dd.near_dup_keep(neg, k=16, bands=8, threshold=0.5).collect()


def test_ann_multiprobe_recall(spark):
    """Recall@5 of the LSH ANN vs the exact top-k on real test embeddings:
    multiprobe (1-bit flips) is the recall knob — it must strictly improve
    recall over single-probe, and planes=3 + multiprobe must clear a 0.6
    floor on this (near-random, hardest-case) corpus. Deterministic given
    the hyperplane seed."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(8))
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.cosine_topk(emb, qids, k=5).collect()}

    def recall(planes, mp):
        ann = {(r.query_id, r.neighbor_id)
               for r in sim.lsh_bucketed_ann(
                   emb, qids, dim=64, k=5, n_planes=planes,
                   multiprobe=mp).collect()}
        return len(ann & exact) / len(exact)

    r0, r1 = recall(3, 0), recall(3, 1)
    assert r1 > r0           # multiprobe strictly improves recall
    assert r1 >= 0.6         # empirically 0.70 at sf0.01, seed=42


def test_ann_multitable_recall_and_default(spark):
    """n_tables is the OR-amplification recall knob: recall rises
    monotonically with independent hash tables (0.525 -> 0.675 -> 0.9 at
    sf0.01), candidate pairs are deduplicated across tables, and the
    ann_topk DEFAULT operating point clears 0.9 with a bucketed plan
    (no cartesian / nested-loop join)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(8))
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.cosine_topk(emb, qids, k=5).collect()}

    def recall(nt):
        ann = {(r.query_id, r.neighbor_id)
               for r in sim.lsh_bucketed_ann(
                   emb, qids, dim=64, k=5, n_planes=4, multiprobe=1,
                   n_tables=nt).collect()}
        return len(ann & exact) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, (r1, r2, r4)

    d = sim.ann_topk(emb, qids, dim=64, k=5)
    rows = d.collect()
    pairs = [(r.query_id, r.neighbor_id) for r in rows]
    assert len(pairs) == len(set(pairs))  # cross-table dedup before top-k
    assert len(set(pairs) & exact) / len(exact) >= 0.9
    plan = d._sc._jvm.PythonSQLUtils.explainString(
        d._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    with pytest.raises(ValueError, match="'ivf' or 'lsh'"):
        sim.ann_topk(emb, qids, dim=64, method="faiss")
    with pytest.raises(ValueError, match="n_tables"):
        sim.lsh_bucketed_ann(emb, qids, dim=64, n_tables=0)


def test_ann_multitable_single_scan(spark):
    """Adding hash tables must NOT add corpus scans: all per-table buckets
    come from one projection (posexploded), so the parquet scan count in
    the plan is identical at 1 and 4 tables — at 100 TB the scan is the
    dominant cost and a per-table union would multiply it."""
    import re

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

    def scans(nt):
        d = sim.lsh_bucketed_ann(emb, [0, 1], dim=64, k=3, n_planes=4,
                                 multiprobe=1, n_tables=nt)
        plan = d._sc._jvm.PythonSQLUtils.explainString(
            d._jdf.queryExecution(), "formatted")
        return len(re.findall(r"Scan parquet", plan))

    assert scans(4) == scans(1)


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [(0, "hello world"), (1, "ab12cd!"), (2, ""), (3, "a-b c.d")],
        "doc_id long, text string")
    out = {r.doc_id: r.n for r in df.select(
        "doc_id", ts.bpe_token_count(F.col("text")).alias("n")).collect()}
    # "ab12cd!" -> ab | 12 | cd | !  ;  "a-b c.d" -> a - b c . d
    assert out == {0: 2, 1: 4, 2: 0, 3: 6}


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [(0, "a a a a"),            # all dup; top bigram "a a" = 3/3
         (1, "w x y z"),            # no dups; every bigram unique -> 1/3
         (2, "spam ham spam ham spam"),  # "spam ham" 2 of 4 bigrams
         (3, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in ts.repetition_stats(df).collect()}
    assert out[0].dup_token_ratio == 0.75 and out[0].top_bigram_ratio == 1.0
    assert out[1].dup_token_ratio == 0.0
    assert abs(out[1].top_bigram_ratio - 1 / 3) < 1e-6
    assert abs(out[2].top_bigram_ratio - 0.5) < 1e-6
    assert out[3].n_toks == 0 and out[3].dup_token_ratio == 0.0


def test_embcos_lsh_subset_of_brute_with_recall(spark, emb):
    """The banded-LSH near-dup pairs are a subset of the cartesian kernel's
    ground truth (same cosines), with usable recall at near-dup thresholds."""
    from fonduer_spark.functions.dedup import (
        embedding_near_dup_pairs, embedding_near_dup_pairs_lsh)

    small = emb.where(F.col("vec_id") < 300)
    brute = {(r.a, r.b): r.cos
             for r in embedding_near_dup_pairs(small, threshold=0.3).collect()}
    lsh = {(r.a, r.b): r.cos
           for r in embedding_near_dup_pairs_lsh(
               small, dim=64, threshold=0.3, n_planes=4, n_tables=4
           ).collect()}
    assert set(lsh) <= set(brute)
    for k, v in lsh.items():
        assert brute[k] == v  # identical rounded cosines
    assert len(lsh) >= 0.3 * max(1, len(brute))  # banded-LSH recall floor


def test_cosine_topk_guard_large_query_set(spark, emb):
    """cosine_topk is a per-query full corpus scan (broadcast nested loop);
    query sets beyond max_queries raise and point at lsh_bucketed_ann
    instead of silently planning an all-pairs scan."""
    import pytest

    with pytest.raises(ValueError, match="lsh_bucketed_ann"):
        sim.cosine_topk(emb, list(range(2000)), k=3)
    # explicit opt-out still works for small corpora
    out = sim.cosine_topk(emb, [0, 1], k=1, max_queries=2)
    assert out.count() == 2


def test_ivf_ann_subset_of_brute_with_recall(spark, emb):
    """IVF-bucketed ANN returns exact cosines for the candidates it probes
    (identical rounded scores to brute force on shared pairs), respects the
    nprobe recall knob (more probes => recall monotonically non-decreasing),
    and never plans a cartesian product."""
    brute = {(r.query_id, r.neighbor_id): r.score
             for r in sim.cosine_topk(emb, [0, 5, 9], k=5).collect()}
    got1, got4 = [
        {(r.query_id, r.neighbor_id): r.score
         for r in sim.ivf_bucketed_ann(
             emb, [0, 5, 9], dim=16, k=5, n_centroids=8,
             nprobe=p).collect()}
        for p in (1, 4)
    ]
    for k, v in got4.items():
        if k in brute:
            assert brute[k] == v  # identical rounded cosines
    r1 = len(set(got1) & set(brute)) / len(brute)
    r4 = len(set(got4) & set(brute)) / len(brute)
    assert r4 >= r1  # nprobe is the recall knob
    assert r4 >= 0.3  # sane floor on the fixture

    plan = sim.ivf_bucketed_ann(emb, [0], dim=16, k=3)._sc._jvm \
        .PythonSQLUtils.explainString(
            sim.ivf_bucketed_ann(emb, [0], dim=16, k=3)
            ._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan.split("\n\n")[0]
    # the previously-unused dim parameter now validates the quantizer
    with pytest.raises(ValueError, match="dimension"):
        sim.ivf_bucketed_ann(emb, [0], dim=64, k=3)


def test_ivf_kmeans_quantizer(spark, emb):
    """The trained coarse quantizer (pyspark.ml KMeans) drops into the same
    assign -> probe -> verify plumbing: probing EVERY trained cell is
    exhaustive, so it must reproduce the exact top-k (recall parity with
    brute force — centroids only partition the scan); a partial probe
    returns a subset with identical rounded cosines."""
    brute = {(r.query_id, r.neighbor_id): r.score
             for r in sim.cosine_topk(emb, [0, 5], k=5).collect()}
    full = {(r.query_id, r.neighbor_id): r.score
            for r in sim.ivf_bucketed_ann(
                emb, [0, 5], dim=16, k=5, n_centroids=4, nprobe=4,
                quantizer="kmeans").collect()}
    assert full == brute  # exhaustive probe == exact, scores bit-identical
    part = {(r.query_id, r.neighbor_id): r.score
            for r in sim.ivf_bucketed_ann(
                emb, [0, 5], dim=16, k=5, n_centroids=4, nprobe=1,
                quantizer="kmeans").collect()}
    for pair, score in part.items():
        if pair in brute:
            assert brute[pair] == score
    with pytest.raises(ValueError, match="quantizer"):
        sim.ivf_bucketed_ann(emb, [0], dim=16, quantizer="bogus")


def test_multimodal_resize_and_frames(spark):
    """Resize + frame-sample plumbing (the brief's multimodal op list):
    binary in -> binary out with updated dims; video blobs expand into
    their frame grid partition-locally; both stubs raise for decoder='real'
    and stay deterministic for the fake path."""
    import hashlib

    import pytest

    from fonduer_spark.functions import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "x" * 2500), (2, "y" * 900), (3, "z" * 1000)],
        "doc_id long, text string")
    media = mm.media_from_docs(docs, with_duration=True)
    assert media.first().kind == "video"

    rz = mm.resize_images(media, width=32, height=16).collect()
    assert {(r.width, r.height) for r in rz} == {(32, 16)}
    want = hashlib.md5(b"x" * 2500 + b":32x16").hexdigest().encode()
    assert {r.media_id: bytes(r.payload) for r in rz}[1] == want
    with pytest.raises(Exception, match="NotImplementedError|resize"):
        mm.resize_images(media, decoder="real").collect()

    fr = mm.sample_frames(media, every_ms=1000)
    rows = fr.collect()
    per = {}
    for r in rows:
        per.setdefault(r.media_id, []).append((r.frame_idx, r.t_ms))
    # duration = 10ms/char: 25000ms -> 25 frames, 9000 -> 9, 10000 -> 10
    assert {k: len(v) for k, v in per.items()} == {1: 25, 2: 9, 3: 10}
    assert sorted(per[2]) == [(i, i * 1000) for i in range(9)]
    f0 = [r for r in rows if r.media_id == 3 and r.frame_idx == 0][0]
    frame = hashlib.md5(b"z" * 1000 + b":0").hexdigest().encode()
    assert bytes(f0.frame) == frame
    assert f0.frame_hash == hashlib.md5(frame).hexdigest()
    with pytest.raises(Exception, match="NotImplementedError|frame"):
        mm.sample_frames(media, decoder="real").collect()


def test_strip_boilerplate_lines(spark):
    """CCNet-style removal: lines above the document-frequency threshold
    vanish from every doc, content lines and their ORDER survive, an
    all-boilerplate doc yields empty text, empty lines never count
    toward boilerplate."""
    d = spark.createDataFrame(
        [(0, "COOKIE\nalpha\nFOOTER"),
         (1, "COOKIE\nbeta\ngamma\nFOOTER"),
         (2, "COOKIE\n\ndelta\nFOOTER"),
         (3, "COOKIE\nFOOTER")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           ts.strip_boilerplate_lines(d, max_df_frac=0.6).collect()}
    assert out[0].text_clean == "alpha"
    assert out[1].text_clean == "beta\ngamma"       # order preserved
    assert out[2].text_clean == "\ndelta"           # empty line kept
    assert out[3].text_clean == "" and out[3].n_lines_removed == 2
    assert out[0].n_lines_removed == 2
    with pytest.raises(ValueError, match="max_df_frac"):
        ts.strip_boilerplate_lines(d, max_df_frac=0.0)


def test_ngram_contamination(spark):
    """Decontamination semantics: a doc is flagged iff it contains a
    benchmark n-gram VERBATIM — cross-doc leaks count, sub-n overlaps
    don't, n_hits counts distinct benchmark grams, short docs never
    fabricate grams (the descending-sequence edge)."""
    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over it"),   # contains bench gram
         (1, "quick brown fox sleeps all day"),      # only a 3-token overlap
         (2, "unrelated words entirely here now ok"),
         (3, "xx the quick brown fox jumps yy"),     # leak mid-document
         (4, "tiny doc")],                           # shorter than n
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [("the quick brown fox jumps",),
         ("completely absent phrase here now",)], "text string")
    out = {r.doc_id: r.n_hits for r in
           ts.ngram_contamination(corpus, bench, n=5).collect()}
    assert out == {0: 1, 3: 1}
    # empty-safe
    assert ts.ngram_contamination(
        corpus, spark.createDataFrame([], "text string"), n=5).count() == 0


def test_pii_scrub(spark):
    """PII redaction semantics: emails mask before digit runs (an email's
    digits never double-match), short digit runs survive, counts align."""
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-corp.io or 12345678 now, keep 123 and x1y"),
         (2, "no pii here"),
         (3, "two mails a@b.co c@d.org and 9999999")],
        "doc_id long, text string")
    out = df.select(
        "doc_id",
        ts.scrub_pii(F.col("text")).alias("s"),
        ts.pii_counts(F.col("text")).alias("c"),
    ).collect()
    r = {x.doc_id: x for x in out}
    assert r[1].s == "mail <EMAIL> or <DIGITS> now, keep 123 and x1y"
    assert (r[1].c.n_emails, r[1].c.n_digit_runs) == (1, 1)
    assert r[2].s == "no pii here" and r[2].c.n_emails == 0
    assert r[3].s == "two mails <EMAIL> <EMAIL> and <DIGITS>"


def test_dedup_substrings(spark):
    """Keeper retains the shared window; every other sharer loses exactly
    the covered tokens; short and unique docs pass through (with
    whitespace normalized); counts reconcile."""
    shared8 = "a b c d e f g h"  # an 8-token window shared by docs 1,2,3
    rows = [
        (1, f"intro one {shared8} tail one"),
        (2, f"second document starts {shared8} then ends"),
        (3, f"{shared8} leading copy here"),
        (4, "totally unique text with no repeats at all whatsoever"),
        (5, "short doc"),
        (6, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in dd.dedup_substrings(df, k=8).collect()}
    # doc 1 is the keeper (min id) — untouched
    assert out[1].text_dedup == rows[0][1]
    assert out[1].n_tokens_removed == 0
    # docs 2 and 3 lose exactly the 8 covered tokens
    assert out[2].text_dedup == "second document starts then ends"
    assert out[2].n_tokens_removed == 8
    assert out[3].text_dedup == "leading copy here"
    assert out[3].n_tokens_removed == 8
    # unique + short docs untouched; empty doc normalizes to ''
    assert out[4].text_dedup == rows[3][1]
    assert out[5].text_dedup == "short doc" and out[5].n_tokens == 2
    assert out[6].text_dedup == "" and out[6].n_tokens == 0
    for r in out.values():
        assert r.n_tokens - r.n_tokens_removed == (
            len(r.text_dedup.split()) if r.text_dedup else 0)


def test_dedup_substrings_overlapping_windows_union(spark):
    """A 9-token shared run produces two overlapping shared 8-grams in the
    non-keeper; coverage is their UNION (9 tokens), not 16."""
    run9 = "p q r s t u v w x"
    df = spark.createDataFrame(
        [(10, f"{run9} filler alpha beta"),
         (20, f"other words here {run9} more stuff")],
        "doc_id int, text string")
    out = {r.doc_id: r for r in dd.dedup_substrings(df, k=8).collect()}
    assert out[10].n_tokens_removed == 0  # keeper
    assert out[20].n_tokens_removed == 9
    assert out[20].text_dedup == "other words here more stuff"
    with pytest.raises(ValueError, match="k must be"):
        dd.dedup_substrings(df, k=1)


def test_knn_graph_structure_and_brute_parity(spark, emb):
    """knn_graph edges: per-src ranks are contiguous from 1, capped at k,
    ordered by (cos desc, dst); every edge's cosine equals the brute-force
    numpy cosine; and each src's list is exactly the top-k of ITS LSH
    candidate set (approximation only ever drops whole candidates, never
    reorders survivors)."""
    import numpy as np

    out = sim.knn_graph(emb, dim=16, k=3, n_planes=4, n_tables=4).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64")
            for r in emb.collect()}
    by_src = {}
    for r in out:
        by_src.setdefault(r.src, []).append(r)
    assert by_src, "graph is empty"
    cand = {}  # undirected candidate set recovered from the output itself
    for r in out:
        cand.setdefault(r.src, set()).add(r.dst)
    for src, edges in by_src.items():
        edges.sort(key=lambda r: r.rank)
        assert [r.rank for r in edges] == list(range(1, len(edges) + 1))
        assert len(edges) <= 3
        # descending cosine, dst tiebreak
        keys = [(-r.cos, r.dst) for r in edges]
        assert keys == sorted(keys)
        for r in edges:
            a, b = vecs[r.src], vecs[r.dst]
            want = round(float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 6)
            assert r.cos == want
    # the planted near-duplicate pair must find each other
    assert by_src[0][0].dst == 1 and by_src[1][0].dst == 0


def test_semantic_clusters_singletons_and_planted_pair(spark, emb):
    """semantic_clusters: every vector gets a cluster row, the planted
    near-duplicate pair (0, 1) lands in one cluster labeled by its
    smallest member, and n_members is the true census of the labels."""
    out = {r.vec_id: r for r in sim.semantic_clusters(
        emb, dim=16, threshold=0.9, k=3).collect()}
    assert set(out) == set(range(40))  # every vector, singletons included
    assert out[0].cluster == 0 and out[1].cluster == 0
    assert out[0].n_members == out[1].n_members >= 2
    from collections import Counter
    census = Counter(r.cluster for r in out.values())
    for r in out.values():
        assert r.n_members == census[r.cluster]
        assert r.cluster <= r.vec_id  # label = smallest member


def test_keyword_search_integer_scores(spark):
    """keyword_search: integer-quantized idf weights rare terms higher,
    scores are exact sums of tf*idf, ranks break ties by id, docs without
    any query term are absent, empty term list raises."""
    import pytest

    from fonduer_spark.functions.textstats import keyword_search

    docs = spark.createDataFrame(
        [(0, "rare common common"), (1, "common"), (2, "common rare rare"),
         (3, "nothing here"), (4, "common")],
        "doc_id long, text string")
    out = keyword_search(docs, ["rare", "common"], top_k=10)
    rows = {r.doc_id: r for r in out.collect()}
    # N=5; df(rare)=2 -> idf 2_500_000; df(common)=4 -> idf 1_250_000
    assert rows[2].score == 2 * 2_500_000 + 1 * 1_250_000
    assert rows[0].score == 1 * 2_500_000 + 2 * 1_250_000
    assert rows[1].score == rows[4].score == 1_250_000
    assert 3 not in rows
    ranked = sorted(rows.values(), key=lambda r: r.rank)
    assert [r.doc_id for r in ranked] == [2, 0, 1, 4]  # tie 1<4 by id
    with pytest.raises(ValueError):
        keyword_search(docs, [])


# ---------------------------------------------------------------------------
# int8 quantization (similarity.int8_quantize / quantized_topk)
# ---------------------------------------------------------------------------
def test_int8_quantize_bounds_and_reconstruction(spark, emb):
    qz = sim.int8_quantize(emb, vec_col="embedding").collect()
    orig = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.collect()}
    for r in qz:
        assert all(-127 <= c <= 127 for c in r.codes)
        scale = r.maxabs / 127.0
        # floor quantization: |code * scale - v| < scale
        for c, v in zip(r.codes, orig[r.vec_id]):
            assert abs(c * scale - v) < scale + 1e-12


def test_int8_quantize_zero_vector(spark):
    df = spark.createDataFrame([(0, [0.0, 0.0, 0.0])],
                               "vec_id long, embedding array<float>")
    r = sim.int8_quantize(df, vec_col="embedding").collect()[0]
    assert r.codes == [0, 0, 0] and r.maxabs == 0.0


def test_quantized_topk_finds_planted_neighbor(spark, emb):
    # the planted near-duplicate of vec 0 dominates inner product too
    out = sim.quantized_topk(emb, [0], k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].neighbor_id == 1
    # approx inner product within quantization error of the exact one
    exact = {r.vec_id: r for r in emb.crossJoin(
        emb.where("vec_id = 0").select(F.col("embedding").alias("qv"))
    ).where("vec_id <> 0").select(
        "vec_id",
        sim.dot(F.col("qv"), F.col("embedding")).alias("d"),
    ).collect()}
    # relative error of int8 symmetric quantization on these vectors
    d = exact[out[0].neighbor_id].d
    assert abs(out[0].qscore - d) / abs(d) < 0.05


def test_quantized_topk_query_guard(spark, emb):
    with pytest.raises(ValueError, match="disguised all-pairs"):
        sim.quantized_topk(emb, list(range(10)), max_queries=5)
