"""P5 — multimodal featurization: candidates -> sparse feature vectors.

Re-expresses the reference's feature libraries
(/root/reference/src/fonduer/features/feature_libs/: textual_features.py,
tabular_features.py, structural_features.py, visual_features.py) as one
Arrow-batched pandas stage over candidates joined with their sentences'
token arrays. Output uses the reference's annotation layout — one row per
candidate with parallel ``keys``/``values`` arrays
(utils/models/annotation.py:46-101), values all 1 (binary DEF_VALUE,
feature_libs/*: FEAT_PRE + name conventions kept close to the reference).

Scale design:
- the candidates->sentences join is an equi-join on sentence_sid (url-
  prefixed, uniform) — two narrow shuffles; candidates carry everything else
  denormalized;
- per-batch memo dicts replace the reference's process-global lru_caches
  (utils/data_model_utils/*.py) — cache locality per Arrow batch;
- aligned-cell ngrams (ROW_/COL_) are a groupBy aggregation over sentences
  per (table, row/col), broadcast-joined back — replacing the reference's
  per-candidate cell-walk (tabular.py:477-543) with one pass;
- the global FeatureKey table is explode+distinct, built only when train=True
  exactly like the reference (featurizer.py:285-295).

Visual features are gated off for the webtext payload (sentences carry no
visual arrays), matching the reference's ``is_visual()`` no-op
(visual_features.py:43,56).
"""

from __future__ import annotations

from typing import Callable, Dict, Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import cached
from .data_model_utils import (_axis_vocab, _cell_vocab, _join_slot,
                               cell_ngrams)
from .parse import sentences_of

FEATURE_SCHEMA = T.StructType([
    T.StructField("candidate_sid", T.StringType(), False),
    T.StructField("candidate_type", T.StringType(), True),
    T.StructField("url", T.StringType(), True),
    T.StructField("keys", T.ArrayType(T.StringType()), True),
    T.StructField("values", T.ArrayType(T.FloatType()), True),
])

WINDOW = 3          # lemma/word window (reference config featurization window)
NGRAM_MAX = 2       # contained/aligned ngram max n

def _cfg_window_ngram() -> tuple:
    """Resolve (window, ngram_max) from the engine config
    (.fonduer-spark.json; see config.get_config) — the reference applies its
    featurization section to the same knobs. Falls back to the module
    defaults when no config file is present."""
    from .config import get_config

    feat = get_config()["featurization"]
    window = feat["textual"]["window_feature"].get("size", WINDOW)
    ngram_max = feat["tabular"]["unary_features"]["get_cell_ngrams"].get(
        "max", NGRAM_MAX)
    return window, ngram_max


def _ngrams(tokens: Sequence[str], n_max: int = NGRAM_MAX) -> Iterator[str]:
    L = len(tokens)
    for n in range(1, n_max + 1):
        for i in range(L - n + 1):
            yield " ".join(tokens[i:i + n])


def _num_norm(w: str) -> str:
    # reference textual_features.py "_NUMBER" normalization
    return "_NUMBER" if w and w.replace(".", "", 1).replace("-", "", 1).isdigit() \
        else w.lower()


def _span_word_range(row: dict, prefix: str) -> tuple:
    return row[f"{prefix}word_start"], row[f"{prefix}word_end"]


def _arr(x) -> tuple:
    """None-safe iteration over a joined array column (Arrow hands the UDF
    numpy arrays, whose truthiness is ambiguous — no ``or ()`` here)."""
    return () if x is None else x


def _textual_unary(row: dict, prefix: str, words: List[str],
                   window: int = WINDOW,
                   n_max: int = NGRAM_MAX) -> Iterator[str]:
    """Word-level textual features of one span (textual_features.py:241-283)."""
    ws, we = _span_word_range(row, prefix)
    span_words = words[ws:we + 1]
    for g in _ngrams([_num_norm(w) for w in span_words], n_max):
        yield f"CONTAINS_[{g}]"
    left = [_num_norm(w) for w in words[max(0, ws - window):ws]]
    right = [_num_norm(w) for w in words[we + 1:we + 1 + window]]
    for g in _ngrams(left, 1):
        yield f"LEFT_[{g}]"
    for g in _ngrams(right, 1):
        yield f"RIGHT_[{g}]"
    text = row[f"{prefix}span_text"] or ""
    if text[:1].isupper():
        yield "STARTS_WITH_CAPITAL"
    yield f"LENGTH_{{{len(span_words)}}}"


def _window_unary(row: dict, prefix: str, lemmas, pos_tags,
                  window: int = WINDOW) -> Iterator[str]:
    """Isolated + combination window features over the span's lemma/POS
    context (reference textual_features.py:160-238 _get_window_features:
    W_LEFT_i / W_LEFT_POS_i / W_RIGHT_i / W_RIGHT_POS_i, and the
    W_LEMMA_L_i_R_j / W_POS_L_i_R_j cross products). Gated on lemmas being
    populated — under SimpleParser these are empty and the library no-ops,
    exactly like the reference without an NLP parser."""
    if lemmas is None:
        return
    lemmas = list(lemmas)
    if not lemmas or not any(lemmas):
        return
    pos_tags = list(pos_tags) if pos_tags is not None else [""] * len(lemmas)
    ws, we = _span_word_range(row, prefix)
    left_l = [_num_norm(l) for l in lemmas[max(0, ws - window):ws]]
    left_p = pos_tags[max(0, ws - window):ws]
    right_l = [_num_norm(l) for l in lemmas[we + 1:we + 1 + window]]
    right_p = pos_tags[we + 1:we + 1 + window]
    for i in range(len(left_l)):
        yield f"W_LEFT_{i + 1}_[{' '.join(left_l[-i - 1:])}]"
        yield f"W_LEFT_POS_{i + 1}_[{' '.join(left_p[-i - 1:])}]"
    for i in range(len(right_l)):
        yield f"W_RIGHT_{i + 1}_[{' '.join(right_l[:i + 1])}]"
        yield f"W_RIGHT_POS_{i + 1}_[{' '.join(right_p[:i + 1])}]"
    for i in range(len(left_l)):
        ll = " ".join(left_l[-i - 1:])
        lp = " ".join(p or "None" for p in left_p[-i - 1:])
        for j in range(len(right_l)):
            rl = " ".join(right_l[:j + 1])
            rp = " ".join(p or "None" for p in right_p[:j + 1])
            yield f"W_LEMMA_L_{i + 1}_R_{j + 1}_[{ll}]_[{rl}]"
            yield f"W_POS_L_{i + 1}_R_{j + 1}_[{lp}]_[{rp}]"


def _lingual_unary(row: dict, prefix: str, lemmas, pos_tags,
                   dep_labels, dep_parents) -> Iterator[str]:
    """Dependency/lemma features, gated on lingual arrays being populated —
    under SimpleParser these are empty strings and the library no-ops,
    exactly like the reference without spaCy (textual_features.py:109-238:
    DDLIB/TreeDLib features require lemmas + dep parses).

    Implemented subset: LEMMA_SEQ / POS_SEQ of the span, DEP_LABEL of each
    span token, and the lemma of each span token's dependency head (the
    first-order TreeDLib parent feature)."""
    if lemmas is None:
        return
    lemmas = list(lemmas)  # Arrow hands numpy arrays to the UDF
    if not lemmas or not any(lemmas):
        return
    pos_tags = list(pos_tags) if pos_tags is not None else []
    dep_labels = list(dep_labels) if dep_labels is not None else []
    dep_parents = list(dep_parents) if dep_parents is not None else []
    ws, we = _span_word_range(row, prefix)
    span_lemmas = [l.lower() for l in lemmas[ws:we + 1] if l]
    if span_lemmas:
        yield f"LEMMA_SEQ_[{' '.join(span_lemmas)}]"
    span_pos = [p for p in pos_tags[ws:we + 1] if p]
    if span_pos:
        yield f"POS_SEQ_[{' '.join(span_pos)}]"
    for i in range(ws, we + 1):
        if dep_labels and i < len(dep_labels) and dep_labels[i]:
            yield f"DEP_LABEL_[{dep_labels[i]}]"
        if dep_parents and i < len(dep_parents):
            h = dep_parents[i]
            if 0 <= h < len(lemmas) and h != i and lemmas[h]:
                yield f"DEP_HEAD_LEMMA_[{lemmas[h].lower()}]"


def _span_head(ws: int, we: int, parents) -> int:
    """The span's dependency head: the first span token whose parent lies
    outside the span (the subtree root the reference's corenlp_to_xmltree
    prune keeps), else the last span token."""
    for i in range(ws, we + 1):
        if i >= len(parents):
            break
        p = parents[i]
        if p is None or p == i or not (ws <= p <= we):
            return i
    return min(we, len(parents) - 1)


def _treedlib_unary(row: dict, prefix: str, lemmas, dep_labels,
                    dep_parents, n_max: int = 3) -> Iterator[str]:
    """Dependency-TREE entity features — the engine's equivalents of the
    reference's TreeDLib templates (textual_features.py:116-130: Indicator
    lemma/dep_label/dep_label,lemma; Ngrams(Parents(m,3),'lemma',(1,3));
    Ngrams(Children(m),'lemma',(1,3)); Left/RightNgrams(Left/RightSiblings)
    over lemma+dep_label). Names are engine-native under the reference's
    TDL_ namespace (the treedlib package's exact string formats are not
    reproduced — it is absent from this environment; semantics per template
    are). Gated on dep parses being populated (regex_tagger or spaCy),
    no-ops under SimpleParser exactly like the reference without NLP.

    - TDL_LEMMA_[..] / TDL_DEP_[..] / TDL_DEP_LEMMA_[..]: span-token
      indicator sequences (lemma, dep_label, combined dep_label/lemma);
    - TDL_PARENT_LEMMA_[..]: 1..n-gram lemmas along the path of up to 3
      ancestors above the span head;
    - TDL_CHILD_LEMMA_[..]: 1..n-grams over the head's out-of-span children
      (token order);
    - TDL_{LEFT,RIGHT}_SIB_{LEMMA,DEP}_[..]: unigrams of the head's
      siblings (same parent, outside the span), split by side.
    """
    if lemmas is None or dep_labels is None or dep_parents is None:
        return
    lemmas = list(lemmas)
    dep_labels = list(dep_labels)
    parents = list(dep_parents)
    if not parents or not any(dep_labels):
        return
    ws, we = _span_word_range(row, prefix)
    if ws is None or we is None or we >= len(parents):
        return
    span_lemmas = [lemmas[i].lower() for i in range(ws, we + 1) if lemmas[i]]
    span_deps = [dep_labels[i] or "_" for i in range(ws, we + 1)]
    if span_lemmas:
        yield f"TDL_LEMMA_[{' '.join(span_lemmas)}]"
    yield f"TDL_DEP_[{' '.join(span_deps)}]"
    if span_lemmas:
        combo = " ".join(
            f"{dep_labels[i] or '_'}/{(lemmas[i] or '').lower()}"
            for i in range(ws, we + 1)
        )
        yield f"TDL_DEP_LEMMA_[{combo}]"
    head = _span_head(ws, we, parents)
    # parents path (up to 3 ancestors), lemma 1..n-grams along it
    path: List[str] = []
    i = head
    for _ in range(3):
        p = parents[i]
        if p is None or p == i or not (0 <= p < len(lemmas)):
            break
        path.append((lemmas[p] or "").lower())
        i = p
    for n in range(1, min(n_max, len(path)) + 1):
        for s in range(len(path) - n + 1):
            yield f"TDL_PARENT_LEMMA_[{' '.join(path[s:s + n])}]"
    children = [j for j in range(len(parents))
                if parents[j] == head and j != head and not (ws <= j <= we)]
    child_lemmas = [(lemmas[j] or "").lower() for j in children]
    for n in range(1, min(n_max, len(child_lemmas)) + 1):
        for s in range(len(child_lemmas) - n + 1):
            yield f"TDL_CHILD_LEMMA_[{' '.join(child_lemmas[s:s + n])}]"
    hp = parents[head]
    if hp is not None and 0 <= hp < len(parents) and hp != head:
        sibs = [j for j in range(len(parents))
                if parents[j] == hp and j != hp and not (ws <= j <= we)]
        for j in sibs:
            side = "LEFT" if j < ws else "RIGHT"
            if lemmas[j]:
                yield f"TDL_{side}_SIB_LEMMA_[{lemmas[j].lower()}]"
            if dep_labels[j]:
                yield f"TDL_{side}_SIB_DEP_[{dep_labels[j]}]"


def _walk_to_root(idx: int, parents, max_steps: int = 64):
    """Token indices from idx up to the dependency root (parent == self or
    out-of-range terminates; max_steps guards malformed cycles)."""
    path = [idx]
    i = idx
    for _ in range(max_steps):
        p = parents[i]
        if p is None or p == i or not (0 <= p < len(parents)):
            break
        i = p
        path.append(i)
    return path


def _dep_path_binary(row: dict) -> Iterator[str]:
    """Dependency-path features between the two spans (the engine's subset
    of the reference's TreeDLib relation features, textual_features.py:
    109-133 / feature_libs/tree_structs.py): for same-sentence candidates
    with dep parses, the label path from each span head up to the lowest
    common ancestor, plus the LCA lemma. No-ops without lingual arrays,
    like the reference without spaCy."""
    if row.get("a_sentence_sid") != row.get("b_sentence_sid"):
        return
    parents = row.get("a_sent_dep_parents")
    labels = row.get("a_sent_dep_labels")
    lemmas = row.get("a_sent_lemmas")
    if parents is None or labels is None:
        return
    parents = list(parents)
    labels = list(labels)
    lemmas = list(lemmas) if lemmas is not None else []
    if not parents or not any(labels):
        return
    a_head = row.get("a_word_end")
    b_head = row.get("b_word_end")
    if a_head is None or b_head is None or a_head >= len(parents) \
            or b_head >= len(parents):
        return
    pa = _walk_to_root(a_head, parents)
    pb = _walk_to_root(b_head, parents)
    in_a = {t: d for d, t in enumerate(pa)}
    lca_depth_a = lca = None
    for d_b, t in enumerate(pb):
        if t in in_a:
            lca = t
            lca_depth_a = in_a[t]
            lca_depth_b = d_b
            break
    if lca is None:
        return
    up = "/".join(labels[t] or "_" for t in pa[:lca_depth_a])
    down = "/".join(labels[t] or "_" for t in reversed(pb[:lca_depth_b]))
    yield f"DEP_PATH_[{up}]_[{down}]"
    if 0 <= lca < len(lemmas) and lemmas[lca]:
        yield f"DEP_LCA_LEMMA_[{lemmas[lca].lower()}]"
    # lemma 1..3-grams along the BETWEEN path a-head -> lca -> b-head
    # (the reference's TDL relation templates emit attribute ngrams over
    # the dependency path between the mentions,
    # compile_relation_feature_generator / treedlib Between(m0, m1))
    between = pa[:lca_depth_a] + [lca] + list(reversed(pb[:lca_depth_b]))
    path_lemmas = [lemmas[t].lower() for t in between
                   if 0 <= t < len(lemmas) and lemmas[t]]
    for n in range(1, min(3, len(path_lemmas)) + 1):
        for s in range(len(path_lemmas) - n + 1):
            yield f"TDL_BETWEEN_LEMMA_[{' '.join(path_lemmas[s:s + n])}]"


def _visual_unary(row: dict, prefix: str) -> Iterator[str]:
    """Visual-layout features (visual_features.py:76-85): gated on the span
    carrying a page (hOCR/PDF payloads attach bboxes at parse time; webtext
    sentences have no visual arrays so this no-ops, matching the
    reference's is_visual() check). ALIGNED_{lemma} features read the
    sentence's visually-aligned lemma vocabulary joined in by featurize()
    (visual_aligned_lemmas — the reference's get_visual_aligned_lemmas,
    data_model_utils/visual.py:384-470)."""
    if row.get(f"{prefix}page") is None:
        return
    for lemma in _arr(row.get(f"{prefix}aligned_lemmas")):
        yield f"ALIGNED_{lemma}"
    yield f"PAGE_[{row[f'{prefix}page']}]"


def _bbox(row: dict, prefix: str):
    if row.get(f"{prefix}page") is None:
        return None
    return (row[f"{prefix}left"], row[f"{prefix}top"],
            row[f"{prefix}right"], row[f"{prefix}bottom"])


def _visual_rel(row: dict, slots: Sequence[str]) -> Iterator[str]:
    """Relation-level visual features over all slots (visual_features.py:
    88-108 — for multinary the reference's is_*_aligned helpers demand the
    condition of EVERY span pair) with the reference's exact alignment math
    (utils_visual.py:65-137: 1.5pt overlap shrink, 2pt borders, 5pt
    centers)."""
    pages = [row.get(f"{p}page") for p in slots]
    if any(p is None for p in pages):
        return
    if any(p != pages[0] for p in pages[1:]):
        # alignment features only exist inside the same_page branch
        # (visual_features.py:92-108) — cross-page coordinate overlap is
        # coincidence, not layout signal
        return
    yield "SAME_PAGE"
    boxes = [_bbox(row, p) for p in slots]
    if any(b is None for b in boxes):
        return
    pairs = [
        (boxes[i], boxes[j])
        for i in range(len(boxes)) for j in range(i + 1, len(boxes))
    ]

    def all_pairs(pred) -> bool:
        return all(pred(a, b) for a, b in pairs)

    if all_pairs(lambda a, b:
                 not (a[1] + 1.5 > b[3] - 1.5 or b[1] + 1.5 > a[3] - 1.5)):
        yield "HORZ_ALIGNED"
    if all_pairs(lambda a, b:
                 not (a[0] + 1.5 > b[2] - 1.5 or b[0] + 1.5 > a[2] - 1.5)):
        yield "VERT_ALIGNED"
    if all_pairs(lambda a, b: abs(a[0] - b[0]) <= 2):
        yield "VERT_ALIGNED_LEFT"
    if all_pairs(lambda a, b: abs(a[2] - b[2]) <= 2):
        yield "VERT_ALIGNED_RIGHT"
    if all_pairs(lambda a, b:
                 abs((a[2] + a[0]) / 2.0 - (b[2] + b[0]) / 2.0) <= 5):
        yield "VERT_ALIGNED_CENTER"


def _tabular_unary(row: dict, prefix: str) -> Iterator[str]:
    """Unary tabular features (tabular_features.py:74-131), including the
    cell / aligned-row / aligned-col / head-cell ngram vocabularies when the
    vocab arrays are joined on (see featurize(): one aggregation pass over
    sentences replaces the reference's per-candidate cell walks,
    utils_table.py:59-146).

    Deviation from the reference (documented): get_head_ngrams's early
    ``return`` aborts BOTH axes when the span sits in either head
    (tabular.py:462-464); here the gate is per-axis — a span in the head
    column still gets its COL_HEAD ngrams."""
    if row.get(f"{prefix}cell_sid") is None:
        return
    rs, re_ = row[f"{prefix}row_start"], row[f"{prefix}row_end"]
    cs, ce = row[f"{prefix}col_start"], row[f"{prefix}col_end"]
    yield f"ROW_NUM_[{rs}]"
    yield f"COL_NUM_[{cs}]"
    if re_ != rs:
        yield f"ROW_SPAN_[{re_ - rs + 1}]"
    if ce != cs:
        yield f"COL_SPAN_[{ce - cs + 1}]"
    for g in _arr(row.get(f"{prefix}cell_ngrams")):
        yield f"CELL_WORDS_[{g}]"
    for g in _arr(row.get(f"{prefix}row_ngrams")):
        yield f"ROW_WORDS_[{g}]"
    for g in _arr(row.get(f"{prefix}col_ngrams")):
        yield f"COL_WORDS_[{g}]"
    if cs != 0:  # span not itself the row head
        for g in _arr(row.get(f"{prefix}row_head_ngrams")):
            yield f"ROW_HEAD_WORDS_[{g}]"
    if rs != 0:  # span not itself the col head
        for g in _arr(row.get(f"{prefix}col_head_ngrams")):
            yield f"COL_HEAD_WORDS_[{g}]"


def _structural_unary(row: dict, prefix: str) -> Iterator[str]:
    """Structural/DOM features (structural_features.py:77-106): tag/parent/
    ancestor names plus the sibling-context features (PREV_SIB_TAG /
    NEXT_SIB_TAG / NODE_POS / FIRST_NODE / LAST_NODE) and ancestor
    class/id names — the latter read sibling/ancestor columns captured at
    parse time (parse.py structural attach)."""
    tag = row.get(f"{prefix}html_tag")
    xpath = row.get(f"{prefix}xpath") or ""
    if tag:
        yield f"TAG_[{tag}]"
    parts = [p for p in xpath.split("/") if p]
    if len(parts) >= 2:
        parent = parts[-2].split("[")[0]
        yield f"PARENT_TAG_[{parent}]"
    for p in parts[:-1]:
        yield f"ANCESTOR_TAG_[{p.split('[')[0]}]"
    attrs = row.get(f"{prefix}html_attrs") or []
    for a in attrs:
        yield f"HTML_ATTR_[{a.split('=')[0]}]"
    if tag:  # sibling context only meaningful when a DOM node was attached
        prev_sib = row.get(f"{prefix}prev_sib_tag")
        next_sib = row.get(f"{prefix}next_sib_tag")
        node_pos = row.get(f"{prefix}node_pos")
        if prev_sib:
            yield f"PREV_SIB_TAG_[{prev_sib}]"
            if node_pos is not None:
                yield f"NODE_POS_[{node_pos}]"
        elif node_pos is not None:
            yield "FIRST_NODE"
        if next_sib:
            yield f"NEXT_SIB_TAG_[{next_sib}]"
        elif node_pos is not None:
            yield "LAST_NODE"
    anc_cls = row.get(f"{prefix}ancestor_classes")
    if anc_cls is not None and len(anc_cls):
        yield f"ANCESTOR_CLASS_[{' '.join(anc_cls)}]"
    anc_ids = row.get(f"{prefix}ancestor_ids")
    if anc_ids is not None and len(anc_ids):
        yield f"ANCESTOR_ID_[{' '.join(anc_ids)}]"


def _pair_axis_diff(row: dict, pa: str, pb: str, axis: str) -> int:
    return min(
        abs(row[f"{pa}{axis}_start"] - row[f"{pb}{axis}_end"]),
        abs(row[f"{pa}{axis}_end"] - row[f"{pb}{axis}_start"]),
        abs(row[f"{pa}{axis}_start"] - row[f"{pb}{axis}_start"]),
    )


def _rel_feats(row: dict, slots: Sequence[str]) -> Iterator[str]:
    """Relation-level features over ALL slots (tabular_features.py:132-191
    binary + multinary branches, structural_features.py:100-117): n-ary
    candidates (m0_/m1_/...) get the same feature names with the diffs
    taken as the min over slot pairs, exactly the reference's
    min_row_diff/min_col_diff-over-the-span-list semantics; for arity 2
    this reduces to the previous binary behavior (row-identical, relied on
    by the kg_features oracle)."""
    sids = [row.get(f"{p}sentence_sid") for p in slots]
    if all(s == sids[0] for s in sids[1:]):
        yield "SAME_SENTENCE"
    tabs = [row.get(f"{p}table_sid") for p in slots]
    if all(t is not None for t in tabs):
        if all(t == tabs[0] for t in tabs[1:]):
            yield "SAME_TABLE"
            pairs = [
                (slots[i], slots[j])
                for i in range(len(slots)) for j in range(i + 1, len(slots))
            ]
            rd = min(_pair_axis_diff(row, a, b, "row") for a, b in pairs)
            cd = min(_pair_axis_diff(row, a, b, "col") for a, b in pairs)
            yield f"SAME_TABLE_ROW_DIFF_[{rd}]"
            yield f"SAME_TABLE_COL_DIFF_[{cd}]"
            yield f"SAME_TABLE_MANHATTAN_DIST_[{rd + cd}]"
            cells = [row.get(f"{p}cell_sid") for p in slots]
            if all(c == cells[0] for c in cells[1:]):
                yield "SAME_CELL"
        else:
            yield "DIFF_TABLE"
    # common xpath-prefix ancestor across all slots (structural.py:172-221)
    xps = [(row.get(f"{p}xpath") or "").split("/") for p in slots]
    common = 0
    for parts in zip(*xps):
        if any(q != parts[0] for q in parts[1:]):
            break
        common += 1
    if common > 1:
        yield f"COMMON_ANCESTOR_[{'/'.join(xps[0][:common])}]"
        yield f"LOWEST_ANCESTOR_DEPTH_[{min(len(x) for x in xps) - common}]"


CustomFeatureFn = Callable[[dict], Iterator[str]]


def _slot_prefixes(columns: Sequence[str]) -> List[str]:
    """Candidate slot prefixes: binary frames carry a_/b_ columns, n-ary
    frames (extract_candidates_nary) m0_/m1_/... — featurization handles
    both, like the reference's multinary branches (textual_features.py:
    70-106, tabular_features.py:50-71; tested by the reference at
    tests/features/test_features.py:239 multinary extraction)."""
    import re as _re

    if "a_stable_id" in columns:
        return ["a_", "b_"]
    idxs = sorted({
        int(m.group(1))
        for c in columns
        for m in [_re.match(r"m(\d+)_stable_id$", c)] if m
    })
    if not idxs:
        raise ValueError("no candidate slot columns (a_/b_ or m{i}_) found")
    return [f"m{i}_" for i in idxs]


def visual_aligned_lemmas(sentences: DataFrame) -> DataFrame:
    """(sentence stable_id) -> aligned_lemmas[]: the lemmas visually aligned
    with each sentence, replacing the reference's per-document driver-side
    preprocessing (data_model_utils/visual.py:384-438
    _preprocess_visual_features) with one windowed DataFrame pass:

    - sentences group per page by exact yc / x0 / x1 / xc (center/left/
      right edges of the sentence bbox — the defaultdict float keys of the
      reference);
    - within a group (yc groups ordered by xc, edge groups by yc), each
      sentence receives the ACCUMULATED lemmas of its predecessors — only
      from sentences with < 7 lemmas, alphabetic lemmas only, lowercased —
      both bare and align-type-prefixed (Y_/LEFT_/RIGHT_/CENTER_), exactly
      _assign_alignment_features's cumulative-context protocol (a group's
      first sentence gets nothing, so size-1 groups contribute nothing).

    O(#sentences) work: 4 window passes + one groupBy; nothing touches the
    (much larger) candidate frame until the final slot join. Requires a
    lingual parse that fills lemmas (regex_tagger/spaCy) — SimpleParser's
    empty lemmas yield no alignment vocabulary, like the reference without
    NLP."""
    sent = sentences_of(sentences).where(
        F.col("page").isNotNull() & (F.size("page") > 0))
    base = sent.select(
        "url", "stable_id", "position", "lemmas",
        F.col("page").getItem(0).alias("pg"),
        F.array_min("left").cast("double").alias("x0"),
        F.array_max("right").cast("double").alias("x1"),
        ((F.array_min("top") + F.array_max("bottom")) / 2.0).alias("yc"),
        ((F.array_min("left") + F.array_max("right")) / 2.0).alias("xc"),
    ).withColumn(
        "contrib",
        F.when(
            F.size("lemmas") < 7,
            F.filter(
                F.transform("lemmas", lambda x: F.lower(x)),
                lambda x: x.rlike(r"^\p{L}+$"),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    outs = []
    for key, order, tag in (("yc", "xc", "Y_"), ("x0", "yc", "LEFT_"),
                            ("x1", "yc", "RIGHT_"), ("xc", "yc", "CENTER_")):
        # Tiebreak the float order key on document position: the reference's
        # stable sort preserves document order on exact (yc/x0/x1/xc) ties,
        # so without this, tied sentences could swap accumulation order
        # run-to-run and make ALIGNED_ features nondeterministic.
        w = (
            Window.partitionBy("url", "pg", key)
            .orderBy(order, "position")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        staged = base.withColumn(
            "_prev",
            F.array_distinct(F.flatten(F.collect_list("contrib").over(w))),
        )
        both = F.concat(
            F.col("_prev"),
            F.transform(F.col("_prev"), lambda x: F.concat(F.lit(tag), x)),
        )
        outs.append(staged.select("stable_id", F.explode(both).alias("al")))
    allf = outs[0]
    for o in outs[1:]:
        allf = allf.unionByName(o)
    return allf.groupBy("stable_id").agg(
        F.collect_set("al").alias("aligned_lemmas"))


def tabular_vocabs(sentences: DataFrame, n_max: int = NGRAM_MAX):
    """Three joinable vocabulary frames over tabular sentences, replacing
    the reference's per-candidate cell walks (utils_table.py:59-146,
    tabular.py:219-561):

    - row_vocab(url, table_sid, row_start) -> ngrams[] of every cell in the
      row + head_ngrams[] of its col-0 cell, null when it has none
      (get_row_ngrams/get_head_ngrams);
    - col_vocab(url, table_sid, col_start) -> ngrams[] + head_ngrams[] of
      its row-0 cell;
    - cell_vocab(url, cell_sid) -> ngrams[] of the cell (get_cell_ngrams).

    The same aggregations the LF helpers of data_model_utils read. Each
    frame is O(#cells) — orders of magnitude smaller than candidates, so
    the joins back are cheap (AQE picks the strategy).
    """
    return (_axis_vocab(sentences, "row_start", n_max),
            _axis_vocab(sentences, "col_start", n_max),
            cell_ngrams(sentences, n_max))


def _join_tabular_vocabs(df: DataFrame, sentences: DataFrame,
                         n_max: int,
                         slots: Sequence[str] = ("a_", "b_")) -> DataFrame:
    """Left-join the row/col/cell vocabularies onto every candidate slot.

    The vocabularies are pre-joined into ONE per-cell frame first (cells
    are orders of magnitude fewer than candidates), so the heavy candidate
    side shuffles once per slot instead of three times."""
    per_cell = _cell_vocab(sentences, n_max).withColumnRenamed(
        "ngrams", "cell_ngrams")
    for axis in ("row", "col"):
        pos = f"{axis}_start"
        per_cell = per_cell.join(
            _axis_vocab(sentences, pos, n_max).withColumnsRenamed(
                {"ngrams": f"{axis}_ngrams",
                 "head_ngrams": f"{axis}_head_ngrams"}),
            ["url", "table_sid", pos], "left")
    vocab_cols = ("cell_ngrams", "row_ngrams", "row_head_ngrams",
                  "col_ngrams", "col_head_ngrams")
    for p in slots:
        slot_vocab = per_cell.select(
            "url", "cell_sid",
            *[F.col(c).alias(f"{p}{c}") for c in vocab_cols])
        df = _join_slot(df, slot_vocab, p, ("url", "cell_sid"))
    return df


def featurize(
    candidates: DataFrame,
    sentences: Optional[DataFrame] = None,
    libs: Sequence[str] = ("textual", "tabular", "structural"),
    custom: Sequence[CustomFeatureFn] = (),
    window: Optional[int] = None,
    ngram_max: Optional[int] = None,
) -> DataFrame:
    """candidates -> features(candidate_sid, keys[], values[]).

    Handles binary (a_/b_) AND n-ary (m0_/m1_/...) candidate frames: slot
    prefixes are detected from the columns, per-slot unary features carry
    e{i}_ prefixes, and relation-level features generalize to all-slot
    conditions with min-over-pairs diffs (the reference's multinary
    branches, tabular_features.py:133-191). Nullable slots (null stable_id)
    contribute no unary features; relation features use the present slots.

    ``sentences``: the parsed contexts frame (or a sentence slice); needed
    for the textual library's token windows and the tabular library's
    aligned/head/cell ngram vocabularies. When omitted, textual features
    fall back to span-text-only features and tabular features to the span's
    own coordinates.

    ``window``/``ngram_max`` default to the engine config
    (.fonduer-spark.json featurization section; see config.get_config).
    """
    cfg_window, cfg_nmax = _cfg_window_ngram()
    window = cfg_window if window is None else window
    ngram_max = cfg_nmax if ngram_max is None else ngram_max

    slots = _slot_prefixes(candidates.columns)
    df = candidates
    if sentences is not None:
        # One materialization of the sentence slice, reused by EVERY join
        # branch below (slot joins, the three tabular vocabularies, the
        # visual alignment groups). Without this, Catalyst re-executes the
        # parse's Python stage once per branch — it cannot common-
        # subexpression-eliminate MapInPandas subtrees (measured: the
        # kg_features plan held 26 MapInPandas stages, i.e. ~10 full
        # corpus re-parses). MEMORY_AND_DISK, so at scale it spills
        # instead of recomputing. The result reads it, so it stays cached
        # until the caller's released() block exits (cache.py).
        sentences = cached(sentences_of(sentences))
    have_words = False
    if sentences is not None and ("textual" in libs or "lingual" in libs):
        sent = sentences
        for p in slots:
            slim = sent.select(
                F.col("stable_id").alias(f"{p}sentence_sid"),
                F.col("words").alias(f"{p}sent_words"),
                F.col("lemmas").alias(f"{p}sent_lemmas"),
                F.col("pos_tags").alias(f"{p}sent_pos"),
                F.col("dep_labels").alias(f"{p}sent_dep_labels"),
                F.col("dep_parents").alias(f"{p}sent_dep_parents"),
            )
            df = df.join(slim, f"{p}sentence_sid", "left")
        have_words = True
    if sentences is not None and "tabular" in libs:
        df = _join_tabular_vocabs(df, sentences, ngram_max, slots)
    if sentences is not None and "visual" in libs:
        av = visual_aligned_lemmas(sentences)
        for p in slots:
            df = df.join(
                av.select(
                    F.col("stable_id").alias(f"{p}sentence_sid"),
                    F.col("aligned_lemmas").alias(f"{p}aligned_lemmas"),
                ),
                f"{p}sentence_sid", "left",
            )

    libset = set(libs)
    custom_fns = list(custom)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[dict] = []
            for row in pdf.to_dict("records"):
                keys: List[str] = []
                seen = set()

                def emit(prefix: str, name: str) -> None:
                    k = prefix + name
                    if k not in seen:
                        seen.add(k)
                        keys.append(k)

                for i, p in enumerate(slots):
                    pre = f"e{i}_"
                    if row.get(f"{p}stable_id") is None:
                        continue  # nullable slot: no span, no unary feats
                    if "textual" in libset:
                        words = (row.get(f"{p}sent_words")
                                 if have_words else None)
                        if words is None:
                            words = (row.get(f"{p}span_text") or "").split()
                            ws_we = (0, len(words) - 1)
                            srow = dict(row)
                            srow[f"{p}word_start"], srow[f"{p}word_end"] = ws_we
                            for name in _textual_unary(
                                    srow, p, list(words), window, ngram_max):
                                emit(pre, name)
                        else:
                            for name in _textual_unary(
                                    row, p, list(words), window, ngram_max):
                                emit(pre, name)
                            for name in _lingual_unary(
                                row, p,
                                row.get(f"{p}sent_lemmas"),
                                row.get(f"{p}sent_pos"),
                                row.get(f"{p}sent_dep_labels"),
                                row.get(f"{p}sent_dep_parents"),
                            ):
                                emit(pre, name)
                            for name in _treedlib_unary(
                                row, p,
                                row.get(f"{p}sent_lemmas"),
                                row.get(f"{p}sent_dep_labels"),
                                row.get(f"{p}sent_dep_parents"),
                            ):
                                emit(pre, name)
                            for name in _window_unary(
                                row, p,
                                row.get(f"{p}sent_lemmas"),
                                row.get(f"{p}sent_pos"),
                                window,
                            ):
                                emit(pre, name)
                    if "visual" in libset:
                        for name in _visual_unary(row, p):
                            emit(pre, name)
                    if "tabular" in libset:
                        for name in _tabular_unary(row, p):
                            emit(pre, name)
                    if "structural" in libset:
                        for name in _structural_unary(row, p):
                            emit(pre, name)
                present = [p for p in slots
                           if row.get(f"{p}stable_id") is not None]
                if len(present) >= 2:
                    for name in _rel_feats(row, present):
                        emit("", name)
                    if "visual" in libset:
                        for name in _visual_rel(row, present):
                            emit("", name)
                if have_words and "textual" in libset and slots == ["a_", "b_"]:
                    for name in _dep_path_binary(row):
                        emit("", name)
                for cfn in custom_fns:
                    for name in cfn(row):
                        emit("", name)
                out.append({
                    "candidate_sid": row["candidate_sid"],
                    "candidate_type": row.get("candidate_type"),
                    "url": (row.get("url") or row.get("a_url")
                            or row.get("m0_url")),
                    "keys": keys,
                    "values": [1.0] * len(keys),
                })
            yield pd.DataFrame(
                out, columns=["candidate_sid", "candidate_type", "url",
                              "keys", "values"])

    return df.mapInPandas(fn, FEATURE_SCHEMA)


def feature_keys(features: DataFrame) -> DataFrame:
    """Global FeatureKey table (featurizer.py:285-295): name ->
    candidate_classes[]; built on the train split only, as the reference
    does — the explode+distinct is a wide shuffle at corpus scale."""
    return (
        features.select(F.explode("keys").alias("key"), "candidate_type")
        .groupBy("key")
        .agg(F.collect_set("candidate_type").alias("candidate_classes"))
    )


