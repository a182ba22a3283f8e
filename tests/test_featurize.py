"""Featurization libraries (reference tests/features/test_features.py
analogue)."""

import pytest
from pyspark.sql import functions as F

from fonduer_spark.candidates_op import extract_candidates, same_row
from fonduer_spark.featurize import feature_keys, featurize, tabular_vocabs
from fonduer_spark.pipeline import kg_stages

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stages(spark):
    st = kg_stages(spark, SF, max_docs=20)
    yield st
    st["mentions"].unpersist()


@pytest.fixture(scope="module")
def feats(spark, stages):
    return featurize(stages["candidates"], stages["parsed"]).persist()


def test_feature_shape_and_determinism(spark, stages, feats):
    rows = feats.limit(50).collect()
    assert rows
    for r in rows:
        assert len(r.keys) == len(r.values)
        assert all(v == 1.0 for v in r.values)
        assert len(set(r.keys)) == len(r.keys)  # no dup keys per candidate


def test_expected_feature_families(spark, feats):
    keys = {r.key for r in feature_keys(feats).collect()}
    # slot-prefixed unary families (LEFT_/RIGHT_ windows are empty on this
    # corpus: every mention's sentence is a single-token table cell — the
    # window path is covered by test_window_features below)
    assert any(k.startswith("e0_CONTAINS_[") for k in keys)
    assert any(k.startswith("e0_ROW_NUM_[") for k in keys)
    assert any(k.startswith("e0_TAG_[") for k in keys)
    assert any(k.startswith("e0_ANCESTOR_TAG_[") for k in keys)
    # binary relation features: same-row throttled candidates
    assert "SAME_TABLE" in keys
    assert "SAME_TABLE_ROW_DIFF_[0]" in keys
    assert not any(k == "SAME_CELL" for k in keys)  # part/temp in diff cells


def test_feature_key_classes(spark, feats):
    fk = feature_keys(feats).collect()
    assert all(r.candidate_classes == ["part_temp"] for r in fk)


def test_tabular_binary_diff_table(spark, stages):
    from fonduer_spark.candidates_op import same_table
    # candidates WITHOUT the same-row throttler include cross-table pairs
    cands = extract_candidates(
        stages["mentions"], "part_temp_all", "part", "temp")
    f = featurize(cands.limit(500))
    keys = {k for r in f.collect() for k in r.keys}
    assert "DIFF_TABLE" in keys or "SAME_TABLE" in keys


def test_tabular_vocabs(spark, stages):
    row_v, col_v, cell_v = tabular_vocabs(stages["sentences"])
    # the header row's vocabulary is the column titles (lowercased ngrams)
    hdr = row_v.where(F.col("row_start") == 0).first()
    assert {"part", "min", "max", "temp", "min temp", "max temp"} <= set(hdr.ngrams)
    # head of the header row is its col-0 cell: "Part"
    assert set(hdr.head_ngrams) == {"part"}
    # a column vocabulary's head is the row-0 cell of that column
    c2 = col_v.where(F.col("col_start") == 2).first()
    assert set(c2.head_ngrams) >= {"max", "temp", "max temp"}
    # cell vocab: single-token part cells
    assert cell_v.where(F.size("ngrams") == 1).count() > 0


def test_tabular_vocab_features_in_candidates(spark, stages, feats):
    keys = {r.key for r in feature_keys(feats).collect()}
    # object slot (temp) carries its column-head vocabulary...
    assert "e1_COL_HEAD_WORDS_[max]" in keys
    assert "e1_COL_HEAD_WORDS_[min]" in keys
    # ...and its row-head vocabulary (the part code of its row)
    assert any(k.startswith("e1_ROW_HEAD_WORDS_[pn") for k in keys)
    # subject slot (part, col 0) is its own row head -> gated off
    assert not any(k.startswith("e0_ROW_HEAD_WORDS_[") for k in keys)
    # aligned row/col + own-cell vocabularies present on both slots
    assert any(k.startswith("e0_ROW_WORDS_[") for k in keys)
    assert any(k.startswith("e1_COL_WORDS_[") for k in keys)
    assert any(k.startswith("e0_CELL_WORDS_[") for k in keys)


def test_head_ngram_lf_helpers(spark, stages):
    from fonduer_spark.data_model_utils import (
        cell_ngrams, head_ngrams, neighbor_cell_ngrams, with_head_ngrams)

    sent = stages["sentences"]
    heads = head_ngrams(sent, axis="col", n_max=2)
    hc = {r.col: set(r.ngrams) for r in heads.where(
        F.col("url").endswith("000001")).collect()}
    assert hc[0] == {"part"}
    assert hc[1] == {"min", "temp", "min temp"}
    assert hc[2] == {"max", "temp", "max temp"}

    cn = cell_ngrams(sent)
    assert cn.count() > 0

    # neighbor vocab of a body-row part cell includes its row's temps and
    # the column head above/below, never diagonal cells
    nb = neighbor_cell_ngrams(sent, dist=1)
    assert nb.count() > 0

    cands = with_head_ngrams(stages["candidates"].limit(50), sent,
                             slot="b_", axis="col")
    got = cands.select("b_span_text", "b_col_head_ngrams").collect()
    for r in got:
        if r.b_span_text.startswith("-"):
            assert "min" in r.b_col_head_ngrams
        else:
            assert "max" in r.b_col_head_ngrams


def test_row_col_ngrams_honour_n_max(spark, stages):
    from fonduer_spark.data_model_utils import col_ngrams, row_ngrams

    sent = stages["sentences"]
    table = F.col("table_sid") == "https://fixture.test/d000001::table:0"
    header = row_ngrams(sent, n_max=2).where(table & (F.col("row") == 0))
    assert {"min temp", "max temp", "part"} <= set(header.first().ngrams)
    unigrams = row_ngrams(sent).where(table & (F.col("row") == 0)).first()
    assert "min temp" not in unigrams.ngrams and "min" in unigrams.ngrams
    col1 = col_ngrams(sent, n_max=2).where(table & (F.col("col") == 1))
    assert "min temp" in col1.first().ngrams


def test_lf_helper_vocabs_match_featurize_columns(spark, stages):
    """with_row_ngrams, with_head_ngrams and cell_ngrams give a slot the
    same arrays that featurize joins as row_ngrams / col_head_ngrams /
    cell_ngrams: one set of vocabulary aggregations serves both."""
    from fonduer_spark.data_model_utils import (
        cell_ngrams, with_head_ngrams, with_row_ngrams)
    from fonduer_spark.featurize import _join_tabular_vocabs

    sent = stages["sentences"]
    cands = stages["candidates"]
    cands = cands.select("candidate_sid", *[
        c for c in cands.columns if c.startswith("b_")])
    feat = _join_tabular_vocabs(cands, sent, 1, slots=("b_",)).select(
        "candidate_sid", "b_row_ngrams", "b_col_head_ngrams", "b_cell_ngrams")
    own = cell_ngrams(sent).withColumnsRenamed(
        {"url": "b_url", "cell_sid": "b_cell_sid", "ngrams": "b_cell_ngrams"})
    lf = (
        with_head_ngrams(with_row_ngrams(cands, sent, "b_"), sent, "b_", "col")
        .join(own, ["b_url", "b_cell_sid"], "left")
        .select("candidate_sid", "b_row_ngrams", "b_col_head_ngrams",
                "b_cell_ngrams")
    )

    def as_sets(frame):
        return {r[0]: tuple(None if a is None else frozenset(a)
                            for a in r[1:]) for r in frame.collect()}

    want = as_sets(feat)
    assert as_sets(lf) == want
    assert want and all(all(v) for v in want.values())


def test_isolated_and_combination_window_features(spark):
    """W_LEFT/W_RIGHT isolated + W_LEMMA_L_i_R_j combination features over a
    lemma-annotated sentence (reference textual_features.py:160-238)."""
    from fonduer_spark.candidates_op import extract_candidates
    from fonduer_spark.mentions_op import MENTION_COLUMNS, MENTION_SCHEMA
    from fonduer_spark.parse import CONTEXT_COLUMNS, CONTEXT_SCHEMA

    def m(mtype, ws, we, cs, ce, text, sid_i):
        r = dict.fromkeys(MENTION_COLUMNS)
        r.update(mention_type=mtype, url="d",
                 stable_id=f"d::span_mention:{sid_i}:{sid_i+ce-cs}",
                 sentence_sid="d::sentence:0:31", sentence_position=0,
                 char_start=cs, char_end=ce, word_start=ws, word_end=we,
                 span_text=text, emit_seq=0)
        return tuple(r[c] for c in MENTION_COLUMNS)

    words = "the part PN10A rated 85 degrees".split()
    mentions = spark.createDataFrame(
        [m("A", 2, 2, 9, 13, "PN10A", 9), m("B", 4, 4, 21, 22, "85", 21)],
        MENTION_SCHEMA)
    s = dict.fromkeys(CONTEXT_COLUMNS)
    s.update(url="d", stable_id="d::sentence:0:31", ctx_type="sentence",
             position=0, text=" ".join(words), words=words,
             char_offsets=[0, 4, 9, 15, 21, 24],
             abs_char_offsets=[0, 4, 9, 15, 21, 24],
             lemmas=["the", "part", "pn10a", "rate", "85", "degree"],
             pos_tags=["DT", "NN", "NN", "VB", "CD", "NN"],
             dep_labels=["det", "nsubj", "ROOT", "acl", "num", "dobj"],
             dep_parents=[2, 2, 2, 2, 5, 3])
    sentences = spark.createDataFrame(
        [tuple(s[c] for c in CONTEXT_COLUMNS)], CONTEXT_SCHEMA)
    cands = extract_candidates(mentions, "AB", "A", "B")
    keys = {k for r in featurize(cands, sentences).collect() for k in r.keys}
    # isolated windows (lemma + POS), growing to the left/right
    assert "e0_W_LEFT_1_[part]" in keys
    assert "e0_W_LEFT_2_[the part]" in keys
    assert "e0_W_LEFT_POS_1_[NN]" in keys
    assert "e0_W_RIGHT_1_[rate]" in keys
    assert "e0_W_RIGHT_2_[rate _NUMBER]" in keys  # number normalization
    # combinations: left x right cross products
    assert "e0_W_LEMMA_L_1_R_1_[part]_[rate]" in keys
    assert "e0_W_POS_L_1_R_1_[NN]_[VB]" in keys
    # B at word 4: right window is the single trailing token
    assert "e1_W_RIGHT_1_[degree]" in keys


def test_window_features(spark):
    """LEFT_/RIGHT_ windows + _NUMBER normalization on a multi-word sentence."""
    from fonduer_spark.candidates_op import extract_candidates
    from fonduer_spark.mentions_op import MENTION_COLUMNS, MENTION_SCHEMA
    from fonduer_spark.parse import CONTEXT_COLUMNS, CONTEXT_SCHEMA

    def m(mtype, ws, we, cs, ce, text, sid_i):
        r = dict.fromkeys(MENTION_COLUMNS)
        r.update(mention_type=mtype, url="d",
                 stable_id=f"d::span_mention:{sid_i}:{sid_i+ce-cs}",
                 sentence_sid="d::sentence:0:30", sentence_position=0,
                 char_start=cs, char_end=ce, word_start=ws, word_end=we,
                 span_text=text, emit_seq=0)
        return tuple(r[c] for c in MENTION_COLUMNS)

    mentions = spark.createDataFrame(
        [m("A", 2, 2, 10, 14, "PN10A", 0), m("B", 4, 4, 19, 20, "85", 19)],
        MENTION_SCHEMA)
    s = dict.fromkeys(CONTEXT_COLUMNS)
    s.update(url="d", stable_id="d::sentence:0:30", ctx_type="sentence",
             position=0, text="the part PN10A rated 85 degrees",
             words="the part PN10A rated 85 degrees".split(),
             char_offsets=[0, 4, 9, 15, 21, 24],
             abs_char_offsets=[0, 4, 9, 15, 21, 24])
    sentences = spark.createDataFrame(
        [tuple(s[c] for c in CONTEXT_COLUMNS)], CONTEXT_SCHEMA)
    cands = extract_candidates(mentions, "AB", "A", "B")
    keys = {k for r in featurize(cands, sentences).collect() for k in r.keys}
    assert "e0_LEFT_[part]" in keys
    assert "e0_RIGHT_[rated]" in keys
    assert "e1_LEFT_[rated]" in keys
    assert "e1_CONTAINS_[_NUMBER]" in keys  # number normalization
    assert "SAME_SENTENCE" in keys
    assert "e0_STARTS_WITH_CAPITAL" in keys


def test_lingual_features_gated_and_active(spark):
    """Lingual features no-op under SimpleParser (empty arrays) and activate
    when lemma/pos/dep arrays are populated (spaCy-style input)."""
    from fonduer_spark.candidates_op import extract_candidates
    from fonduer_spark.mentions_op import MENTION_COLUMNS, MENTION_SCHEMA
    from fonduer_spark.parse import CONTEXT_COLUMNS, CONTEXT_SCHEMA

    def m(mtype, ws, we, cs, ce, text, sid_i):
        r = dict.fromkeys(MENTION_COLUMNS)
        r.update(mention_type=mtype, url="d",
                 stable_id=f"d::span_mention:{sid_i}:{sid_i+ce-cs}",
                 sentence_sid="d::sentence:0:20", sentence_position=0,
                 char_start=cs, char_end=ce, word_start=ws, word_end=we,
                 span_text=text, emit_seq=0)
        return tuple(r[c] for c in MENTION_COLUMNS)

    mentions = spark.createDataFrame(
        [m("A", 0, 0, 0, 3, "cats", 0), m("B", 2, 2, 10, 13, "mice", 10)],
        MENTION_SCHEMA)
    s = dict.fromkeys(CONTEXT_COLUMNS)
    s.update(url="d", stable_id="d::sentence:0:20", ctx_type="sentence",
             position=0, text="cats chase mice", words=["cats", "chase", "mice"],
             char_offsets=[0, 5, 11], abs_char_offsets=[0, 5, 11],
             lemmas=["cat", "chase", "mouse"], pos_tags=["NOUN", "VERB", "NOUN"],
             dep_labels=["nsubj", "ROOT", "dobj"], dep_parents=[1, 1, 1])
    sentences = spark.createDataFrame(
        [tuple(s[c] for c in CONTEXT_COLUMNS)], CONTEXT_SCHEMA)
    cands = extract_candidates(mentions, "AB", "A", "B")
    keys = {k for r in featurize(cands, sentences).collect() for k in r.keys}
    assert "e0_LEMMA_SEQ_[cat]" in keys
    assert "e0_POS_SEQ_[NOUN]" in keys
    assert "e0_DEP_LABEL_[nsubj]" in keys
    assert "e0_DEP_HEAD_LEMMA_[chase]" in keys

    # SimpleParser-style empty arrays -> lingual features absent
    s2 = dict(s)
    s2.update(lemmas=["", "", ""], pos_tags=["", "", ""],
              dep_labels=["", "", ""], dep_parents=[0, 0, 0])
    sentences2 = spark.createDataFrame(
        [tuple(s2[c] for c in CONTEXT_COLUMNS)], CONTEXT_SCHEMA)
    keys2 = {k for r in featurize(cands, sentences2).collect() for k in r.keys}
    assert not any("LEMMA_SEQ" in k or "DEP_" in k for k in keys2)


def test_span_text_fallback_without_sentences(spark, stages):
    f = featurize(stages["candidates"].limit(20), sentences=None)
    keys = {k for r in f.collect() for k in r.keys}
    assert any(k.startswith("e0_CONTAINS_[") for k in keys)
    # window features need sentence context; absent in fallback
    assert not any(k.startswith("e0_LEFT_[") for k in keys)


def test_sibling_structural_features(spark, feats):
    keys = {r.key for r in feature_keys(feats).collect()}
    # part cell is the first td of its row; temp cells sit between/at-end
    assert "e0_FIRST_NODE" in keys
    assert "e1_PREV_SIB_TAG_[td]" in keys
    assert "e1_LAST_NODE" in keys
    assert any(k.startswith("e1_NODE_POS_[") for k in keys)


def test_dep_path_binary_features(spark):
    """TreeDLib-style dependency-path relation features: label paths from
    each span head to the lowest common ancestor + the LCA lemma."""
    from fonduer_spark.candidates_op import extract_candidates
    from fonduer_spark.mentions_op import MENTION_COLUMNS, MENTION_SCHEMA
    from fonduer_spark.parse import CONTEXT_COLUMNS, CONTEXT_SCHEMA

    def m(mtype, ws, we, cs, ce, text, sid_i):
        r = dict.fromkeys(MENTION_COLUMNS)
        r.update(mention_type=mtype, url="d",
                 stable_id=f"d::span_mention:{sid_i}:{sid_i+ce-cs}",
                 sentence_sid="d::sentence:0:31", sentence_position=0,
                 char_start=cs, char_end=ce, word_start=ws, word_end=we,
                 span_text=text, emit_seq=0)
        return tuple(r[c] for c in MENTION_COLUMNS)

    words = "the part PN10A rated 85 degrees".split()
    mentions = spark.createDataFrame(
        [m("A", 2, 2, 9, 13, "PN10A", 9), m("B", 4, 4, 21, 22, "85", 21)],
        MENTION_SCHEMA)
    s = dict.fromkeys(CONTEXT_COLUMNS)
    # tree: PN10A (idx 2) is root; rated->PN10A; 85->rated; degrees->rated
    s.update(url="d", stable_id="d::sentence:0:31", ctx_type="sentence",
             position=0, text=" ".join(words), words=words,
             char_offsets=[0, 4, 9, 15, 21, 24],
             abs_char_offsets=[0, 4, 9, 15, 21, 24],
             lemmas=["the", "part", "pn10a", "rate", "85", "degree"],
             pos_tags=["DT", "NN", "NN", "VB", "CD", "NN"],
             dep_labels=["det", "nsubj", "ROOT", "acl", "num", "dobj"],
             dep_parents=[2, 2, 2, 2, 3, 3])
    sentences = spark.createDataFrame(
        [tuple(s[c] for c in CONTEXT_COLUMNS)], CONTEXT_SCHEMA)
    cands = extract_candidates(mentions, "AB", "A", "B")
    keys = {k for r in featurize(cands, sentences).collect() for k in r.keys}
    # a head = PN10A (the LCA itself): empty up-path; b head = 85 -> rated
    assert "DEP_PATH_[]_[acl/num]" in keys
    assert "DEP_LCA_LEMMA_[pn10a]" in keys
    # between-path lemma ngrams (a-head -> lca -> b-head = pn10a rate 85)
    assert {"TDL_BETWEEN_LEMMA_[pn10a]", "TDL_BETWEEN_LEMMA_[rate]",
            "TDL_BETWEEN_LEMMA_[85]", "TDL_BETWEEN_LEMMA_[pn10a rate]",
            "TDL_BETWEEN_LEMMA_[rate 85]",
            "TDL_BETWEEN_LEMMA_[pn10a rate 85]"} <= keys


def test_multinary_feature_extraction(spark, stages):
    """Ternary (part, tmin, tmax) candidates featurize end-to-end with
    e0_/e1_/e2_ slot prefixes and all-slot relation features (reference
    tests/features/test_features.py:239 multinary analogue). Golden counts
    from the corpus formulas: doc 1 table 0 row 0 -> n_rows=4, no footer:
    e0 = 3+ (8+4) +8 = 23, e1 = 2+ (13+4) +9 = 28, e2 = 28, rel = 6."""
    from fonduer_spark.candidates_op import extract_candidates_nary
    from fonduer_spark.featurize import featurize

    def thr(df):
        same_tab = (
            F.col("m0_table_sid").isNotNull()
            & (F.col("m0_table_sid") == F.col("m1_table_sid"))
            & (F.col("m0_table_sid") == F.col("m2_table_sid"))
        )

        def olap(a, b):
            return ~(
                (F.col(f"{a}_row_start") > F.col(f"{b}_row_end"))
                | (F.col(f"{b}_row_start") > F.col(f"{a}_row_end"))
            )

        return (same_tab & olap("m0", "m1") & olap("m0", "m2")
                & (F.col("m1_col_start") < F.col("m2_col_start")))

    cands = extract_candidates_nary(
        stages["mentions"], "ptt", ["part", "temp", "temp"], throttler=thr)
    one = cands.where(
        (F.col("url") == "https://fixture.test/d000001")
        & (F.col("m0_row_start") == 1)
        & (F.col("m0_table_sid").endswith("table:0"))
    )
    f = featurize(one, stages["parsed"])
    rows = f.collect()
    assert len(rows) == 1
    ks = rows[0].keys
    by_slot = {}
    for k in ks:
        slot = k[:3] if k[:1] == "e" else "rel"
        by_slot.setdefault(slot, []).append(k)
    assert len(by_slot["e0_"]) == 23
    assert len(by_slot["e1_"]) == 28
    assert len(by_slot["e2_"]) == 28
    assert sorted(by_slot["rel"]) == [
        "COMMON_ANCESTOR_[/html/body/table[1]/tr[2]]",
        "LOWEST_ANCESTOR_DEPTH_[1]",
        "SAME_TABLE",
        "SAME_TABLE_COL_DIFF_[1]",
        "SAME_TABLE_MANHATTAN_DIST_[1]",
        "SAME_TABLE_ROW_DIFF_[0]",
    ]
    # slot-specific content: the tmin slot sees the Min Temp column head,
    # the tmax slot the Max Temp one
    assert "e1_COL_HEAD_WORDS_[min temp]" in ks
    assert "e2_COL_HEAD_WORDS_[max temp]" in ks


def test_treedlib_tree_features_golden():
    """Feature-name-level golden test for the TreeDLib-equivalent tree
    features (reference textual_features.py:116-130 templates) on a real
    little dependency tree: 'The cat sat on mat' with det/nsubj/root/prep/
    pobj arcs."""
    from fonduer_spark.featurize import _treedlib_unary

    lemmas = ["the", "cat", "sat", "on", "mat"]
    deps = ["det", "nsubj", "root", "prep", "pobj"]
    parents = [1, 2, 2, 2, 3]
    got = set(_treedlib_unary(
        {"x_word_start": 1, "x_word_end": 1}, "x_", lemmas, deps, parents))
    assert got == {
        "TDL_LEMMA_[cat]",
        "TDL_DEP_[nsubj]",
        "TDL_DEP_LEMMA_[nsubj/cat]",
        "TDL_PARENT_LEMMA_[sat]",       # Ngrams(Parents(m,3), lemma)
        "TDL_CHILD_LEMMA_[the]",        # Ngrams(Children(m), lemma)
        "TDL_RIGHT_SIB_LEMMA_[on]",     # RightNgrams(RightSiblings(m))
        "TDL_RIGHT_SIB_DEP_[prep]",
    }
    # multi-step parent path -> 1..3-gram lemmas along it
    got4 = set(_treedlib_unary(
        {"x_word_start": 4, "x_word_end": 4}, "x_", lemmas, deps, parents))
    assert {"TDL_PARENT_LEMMA_[on]", "TDL_PARENT_LEMMA_[sat]",
            "TDL_PARENT_LEMMA_[on sat]"} <= got4
    # SimpleParser (no dep parse) -> library no-ops like the reference
    assert not list(_treedlib_unary(
        {"x_word_start": 0, "x_word_end": 0}, "x_",
        ["", ""], ["", ""], [0, 0]))


def test_visual_aligned_lemmas_protocol(spark):
    """The reference's cumulative alignment-group protocol
    (data_model_utils/visual.py:384-438): within a group the first sentence
    receives nothing, later ones receive every predecessor's alphabetic
    lemmas (bare + align-type-prefixed); sentences with >= 7 lemmas
    contribute nothing but still receive."""
    from fonduer_spark.featurize import visual_aligned_lemmas
    from fonduer_spark.parse import CONTEXT_COLUMNS, CONTEXT_SCHEMA

    def s(sid, lemmas, y0, y1):
        r = dict.fromkeys(CONTEXT_COLUMNS)
        n = len(lemmas)
        r.update(url="d", stable_id=sid, ctx_type="sentence", position=0,
                 words=lemmas, lemmas=lemmas, page=[0] * n,
                 left=[10] * n, right=[100] * n,
                 top=[y0] * n, bottom=[y1] * n)
        return tuple(r[c] for c in CONTEXT_COLUMNS)

    rows = [
        s("s0", ["Alpha", "beta"], 0, 10),
        s("s1", ["gamma"], 20, 30),
        s("s2", ["x" + str(i) for i in range(8)], 40, 50),  # >= 7 lemmas
    ]
    df = spark.createDataFrame(rows, CONTEXT_SCHEMA)
    got = {r.stable_id: set(r.aligned_lemmas)
           for r in visual_aligned_lemmas(df).collect()}
    # shared x0/x1/xc groups (LEFT_/RIGHT_/CENTER_); distinct yc -> no Y_
    assert "s0" not in got  # first in every group
    assert got["s1"] == {
        "alpha", "beta",
        "LEFT_alpha", "LEFT_beta", "RIGHT_alpha", "RIGHT_beta",
        "CENTER_alpha", "CENTER_beta",
    }
    assert got["s2"] == got["s1"] | {
        "gamma", "LEFT_gamma", "RIGHT_gamma", "CENTER_gamma"}


def test_fonduer_dataset_marking(spark, stages):
    """The FonduerDataset layer (reference learning/dataset.py + utils.py
    mark_sentence): marker golden, distributed marked sequences, vocab and
    id encoding."""
    from fonduer_spark.learning import (
        build_word2id, encode_marked, mark_sentence, marked_slot_tokens)

    assert mark_sentence(
        "Then Barack married Michelle .".split(), [(1, 1, 1), (3, 3, 2)]
    ) == "Then ~~[[1 Barack 1]]~~ married ~~[[2 Michelle 2]]~~ .".split()

    marked = marked_slot_tokens(stages["candidates"].limit(20),
                                stages["sentences"])
    rows = marked.collect()
    assert rows
    for r in rows:
        # each slot's sentence is a single table cell -> marked len 3
        assert r.m0_marked[0] == "~~[[0" and r.m0_marked[2] == "0]]~~"
        assert r.m1_marked[0] == "~~[[1" and r.m1_marked[2] == "1]]~~"
    w2i = build_word2id(marked)
    assert w2i["<pad>"] == 0 and w2i["<unk>"] == 1
    assert "~~[[0" in w2i
    enc = encode_marked(marked, w2i).collect()
    inv = {v: k for k, v in w2i.items()}
    r0 = enc[0]
    assert [inv[i] for i in r0.m0_ids] == list(r0.m0_marked)
    # unknown tokens fall back to <unk>
    small = {k: v for k, v in w2i.items() if k in ("<pad>", "<unk>", "~~[[0")}
    enc2 = encode_marked(marked, small).collect()[0]
    assert enc2.m0_ids[0] == small["~~[[0"] and enc2.m0_ids[1] == 1


def test_sequence_model_learns_relation(spark, stages):
    """The sequence model over marked tokens separates tmax candidates
    (label-model prob 1.0) from tmin candidates (prob 1/3) — the sign
    token in the marked object slot is the discriminative signal — and
    distributed scoring agrees with the training-side probabilities."""
    from fonduer_spark.labeling import with_marginals
    from fonduer_spark.learning import (
        marked_slot_tokens, score_sequences, train_sequence_model)
    from fonduer_spark.pipeline import default_lfs

    scored = with_marginals(stages["candidates"], default_lfs())
    marked = marked_slot_tokens(scored, stages["sentences"])
    w, b = train_sequence_model(marked, scored, epochs=300)
    out = score_sequences(marked, w, b).join(
        scored.select("candidate_sid", "prob"), "candidate_sid")
    rows = out.select("model_prob", "prob").collect()
    pos = [r.model_prob for r in rows if r.prob > 0.5]
    neg = [r.model_prob for r in rows if r.prob <= 0.5]
    assert pos and neg
    assert min(pos) > max(neg)  # clean separation on the synthetic corpus


def test_sequence_model_sampled_fit_bound(spark, stages):
    """Driver-collect bound: with max_fit_candidates below the candidate
    count, train_sequence_model fits on a deterministic xxhash64 sample yet
    still separates tmax from tmin candidates (the sign token carries the
    signal), and scoring stays distributed over the FULL candidate set."""
    from fonduer_spark.labeling import with_marginals
    from fonduer_spark.learning import (
        marked_slot_tokens, score_sequences, train_sequence_model)
    from fonduer_spark.pipeline import default_lfs

    scored = with_marginals(stages["candidates"], default_lfs())
    marked = marked_slot_tokens(scored, stages["sentences"])
    n = marked.count()
    cap = max(20, n // 3)
    w, b = train_sequence_model(marked, scored, epochs=300,
                                max_fit_candidates=cap)
    w2, b2 = train_sequence_model(marked, scored, epochs=300,
                                  max_fit_candidates=cap)
    assert (w, b) == (w2, b2)  # hash sample => bit-deterministic refit
    out = score_sequences(marked, w, b).join(
        scored.select("candidate_sid", "prob"), "candidate_sid")
    rows = out.select("model_prob", "prob").collect()
    assert len(rows) == n  # full set scored, only the fit was sampled
    pos = [r.model_prob for r in rows if r.prob > 0.5]
    neg = [r.model_prob for r in rows if r.prob <= 0.5]
    assert pos and neg
    # a 1/3 sample weakens the margin but must keep the ranking: AUC >= 0.9
    auc = sum(p > q for p in pos for q in neg) / (len(pos) * len(neg))
    assert auc >= 0.9, auc
