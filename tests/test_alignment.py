"""Token-alignment parity vs the REFERENCE conll18_ud_eval module.

The reference evaluator is pure stdlib, so we import it straight from
/root/reference and compare its word-alignment counts against the
distributed operator on the same sentences (the same pattern test_mst
uses for the MST kernel).
"""

import importlib.util

import pytest

from phonlp_spark.ops.alignment import align_tokens, uas_las_aligned, with_char_spans
from tests.spark_fixtures import spark  # noqa: F401


def _load_reference_udeval():
    spec = importlib.util.spec_from_file_location(
        "conll18_ud_eval", "/root/reference/phonlp/utils/conll18_ud_eval.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _conllu(sentences):
    """sentences: list of list of (id_or_range, form). 10-col CoNLL-U."""
    out = []
    for sent in sentences:
        for tid, form in sent:
            cols = [str(tid), form, "_", "X", "_", "_",
                    "0" if "-" not in str(tid) else "_",
                    "dep" if "-" not in str(tid) else "_", "_", "_"]
            out.append("\t".join(cols))
        out.append("")
    return "\n".join(out) + "\n"


# Sentence: surface chars "abcdux"; gold splits the MWT "du" into de+le.
GOLD_SENT = [("1", "ab"), ("2", "c"), ("3-4", "du"), ("3", "de"),
             ("4", "le"), ("5", "x")]
# System A: failed to split "du" (plain token)
SYSA_SENT = [("1", "ab"), ("2", "c"), ("3", "du"), ("4", "x")]
# System B: split "du" but mislabeled the second word's form
SYSB_SENT = [("1", "ab"), ("2", "c"), ("3-4", "du"), ("3", "de"),
             ("4", "la"), ("5", "x")]


def _reference_aligned(gold_sent, sys_sent):
    ud = _load_reference_udeval()
    import io
    gold = ud.load_conllu(io.StringIO(_conllu([gold_sent])))
    syst = ud.load_conllu(io.StringIO(_conllu([sys_sent])))
    return ud.evaluate(gold, syst)["Words"].correct


def _rows_from_conllu_sent(sent):
    """Mirror conll18_ud_eval's span construction: every word inside a
    multiword range carries the SURFACE token's span."""
    rows, pos, mw_until, mw_span = [], 0, 0, None
    word_id = 0
    for tid, form in sent:
        if "-" in str(tid):
            a, b = map(int, str(tid).split("-"))
            mw_until, mw_span = b, (pos, pos + len(form))
            pos += len(form)
            continue
        word_id += 1
        if int(tid) <= mw_until:
            rows.append((word_id, form, mw_span[0], mw_span[1], True))
        else:
            rows.append((word_id, form, pos, pos + len(form), False))
            pos += len(form)
    return rows


def _df(spark, sent, doc="d0"):  # noqa: F811
    rows = [(doc, 0, tid, w, s, e, mw)
            for (tid, w, s, e, mw) in _rows_from_conllu_sent(sent)]
    return spark.createDataFrame(
        rows, "doc_id string, sent_id int, token_id int, word string, "
              "span_start int, span_end int, is_multiword boolean")


@pytest.mark.parametrize("sys_sent", [SYSA_SENT, SYSB_SENT])
def test_alignment_matches_reference_module(spark, sys_sent):  # noqa: F811
    want = _reference_aligned(GOLD_SENT, sys_sent)
    got = align_tokens(_df(spark, GOLD_SENT), _df(spark, sys_sent)).count()
    assert got == want


def test_identity_tokenization_aligns_everything(spark):  # noqa: F811
    toks = [(f"d{i}", 0, j + 1, w) for i in range(3)
            for j, w in enumerate(["tôi", "thăm", "Hà_Nội", "."])]
    df = spark.createDataFrame(
        toks, "doc_id string, sent_id int, token_id int, word string")
    pairs = align_tokens(df, df).collect()
    assert len(pairs) == len(toks)
    assert all(r["gold_token_id"] == r["system_token_id"] for r in pairs)


def test_span_divergence_aligns_only_matching_spans(spark):  # noqa: F811
    gold = spark.createDataFrame(
        [("d", 0, 1, "ab"), ("d", 0, 2, "c"), ("d", 0, 3, "x")],
        "doc_id string, sent_id int, token_id int, word string")
    syst = spark.createDataFrame(
        [("d", 0, 1, "a"), ("d", 0, 2, "bc"), ("d", 0, 3, "x")],
        "doc_id string, sent_id int, token_id int, word string")
    got = {(r["gold_token_id"], r["system_token_id"])
           for r in align_tokens(gold, syst).collect()}
    assert got == {(3, 3)}  # only 'x' shares an exact char span


def test_with_char_spans_offsets(spark):  # noqa: F811
    df = spark.createDataFrame(
        [("d", 0, 1, "ab"), ("d", 0, 2, "c"), ("d", 0, 3, "xyz")],
        "doc_id string, sent_id int, token_id int, word string")
    rows = {r["token_id"]: (r["span_start"], r["span_end"])
            for r in with_char_spans(df).collect()}
    assert rows == {1: (0, 2), 2: (2, 3), 3: (3, 6)}


def test_uas_las_aligned_identity_perfect(spark):  # noqa: F811
    rows = [("d", 0, 1, "a", 2, "sub"), ("d", 0, 2, "b", 0, "root"),
            ("d", 0, 3, "c", 2, "dob")]
    schema = ("doc_id string, sent_id int, token_id int, word string, "
              "head int, deprel string")
    df = spark.createDataFrame(rows, schema)
    got = uas_las_aligned(df, df).collect()[0]
    assert (got["n_aligned"], got["uas_permille"], got["las_permille"]) == (3, 1000, 1000)


def test_uas_las_aligned_detects_head_errors(spark):  # noqa: F811
    gold = spark.createDataFrame(
        [("d", 0, 1, "a", 2, "sub"), ("d", 0, 2, "b", 0, "root"),
         ("d", 0, 3, "c", 2, "dob")],
        "doc_id string, sent_id int, token_id int, word string, head int, deprel string")
    syst = spark.createDataFrame(
        [("d", 0, 1, "a", 2, "sub"), ("d", 0, 2, "b", 0, "root"),
         ("d", 0, 3, "c", 1, "dob")],  # wrong head on token 3
        "doc_id string, sent_id int, token_id int, word string, head int, deprel string")
    got = uas_las_aligned(gold, syst).collect()[0]
    assert got["n_aligned"] == 3
    assert got["uas_permille"] == 666
    assert got["las_permille"] == 666


def _conllu_dep(sentences):
    """sentences: list of list of (id_or_range, form, head, deprel)."""
    out = []
    for sent in sentences:
        for tid, form, head, rel in sent:
            mw = "-" in str(tid)
            cols = [str(tid), form, "_", "X", "_", "_",
                    "_" if mw else str(head), "_" if mw else rel, "_", "_"]
            out.append("\t".join(cols))
        out.append("")
    return "\n".join(out) + "\n"


# gold: du -> de(case, functional) + le(det, functional); content rels
# elsewhere.  system A kept "du" unsplit with a content rel; B split it
# but mislabeled a head.
GOLD_DEP = [("1", "ab", 0, "root"), ("2", "c", 1, "nsubj"),
            ("3-4", "du", 0, "_"), ("3", "de", 5, "case"),
            ("4", "le", 5, "det"), ("5", "x", 1, "obj")]
SYSA_DEP = [("1", "ab", 0, "root"), ("2", "c", 1, "nsubj"),
            ("3", "du", 4, "nmod"), ("4", "x", 1, "obj")]
SYSB_DEP = [("1", "ab", 0, "root"), ("2", "c", 1, "amod"),
            ("3-4", "du", 0, "_"), ("3", "de", 5, "case"),
            ("4", "le", 1, "det"), ("5", "x", 2, "obj")]


def _dep_df(spark, sent, doc="d0"):  # noqa: F811
    span_rows = _rows_from_conllu_sent([(t, f) for (t, f, _h, _r) in sent])
    words = [(h, r) for (t, f, h, r) in sent if "-" not in str(t)]
    rows = [(doc, 0, tid, w, s, e, mw, words[tid - 1][0], words[tid - 1][1])
            for (tid, w, s, e, mw) in span_rows]
    return spark.createDataFrame(
        rows, "doc_id string, sent_id int, token_id int, word string, "
              "span_start int, span_end int, is_multiword boolean, "
              "head int, deprel string")


@pytest.mark.parametrize("sys_sent", [SYSA_DEP, SYSB_DEP])
def test_clas_matches_reference_module(spark, sys_sent):  # noqa: F811
    """Content-deprel-filtered LAS must reproduce the reference CLAS
    Score counts (conll18_ud_eval.py:533-535) on MWT fixtures."""
    import io
    from phonlp_spark.ops.alignment import clas_aligned

    ud = _load_reference_udeval()
    gold_ud = ud.load_conllu(io.StringIO(_conllu_dep([GOLD_DEP])))
    sys_ud = ud.load_conllu(io.StringIO(_conllu_dep([sys_sent])))
    want = ud.evaluate(gold_ud, sys_ud)["CLAS"]

    got = clas_aligned(_dep_df(spark, GOLD_DEP),
                       _dep_df(spark, sys_sent)).collect()[0]
    assert got["n_gold"] == want.gold_total
    assert got["n_system"] == want.system_total
    assert got["n_aligned"] == want.aligned_total
    assert got["n_correct"] == want.correct
    assert got["precision_permille"] == int(want.precision * 1000)
    assert got["recall_permille"] == int(want.recall * 1000)


def test_clas_excludes_functional_words(spark):  # noqa: F811
    """Identical trees: CLAS is perfect but counts only content words."""
    from phonlp_spark.ops.alignment import clas_aligned

    df = _dep_df(spark, GOLD_DEP)
    got = clas_aligned(df, df).collect()[0]
    assert got["n_gold"] == got["n_system"] == got["n_correct"] == 3
    assert got["f1_permille"] == 1000


# gold/system with UPOS values; system B mislabels two tags
GOLD_POS = [("1", "ab", "N"), ("2", "c", "V"), ("3-4", "du", "_"),
            ("3", "de", "E"), ("4", "le", "L"), ("5", "x", "N")]
SYSA_POS = [("1", "ab", "N"), ("2", "c", "A"), ("3", "du", "E"),
            ("4", "x", "N")]
SYSB_POS = [("1", "ab", "N"), ("2", "c", "V"), ("3-4", "du", "_"),
            ("3", "de", "P"), ("4", "le", "L"), ("5", "x", "V")]


def _conllu_pos(sentences):
    out = []
    for sent in sentences:
        for tid, form, upos in sent:
            mw = "-" in str(tid)
            cols = [str(tid), form, "_", "_" if mw else upos, "_", "_",
                    "_" if mw else "0", "_" if mw else "dep", "_", "_"]
            out.append("\t".join(cols))
        out.append("")
    return "\n".join(out) + "\n"


def _pos_df(spark, sent, doc="d0"):  # noqa: F811
    span_rows = _rows_from_conllu_sent([(t, f) for (t, f, _u) in sent])
    upos = [u for (t, f, u) in sent if "-" not in str(t)]
    rows = [(doc, 0, tid, w, s, e, mw, upos[tid - 1])
            for (tid, w, s, e, mw) in span_rows]
    return spark.createDataFrame(
        rows, "doc_id string, sent_id int, token_id int, word string, "
              "span_start int, span_end int, is_multiword boolean, "
              "upos string")


@pytest.mark.parametrize("sys_sent", [SYSA_POS, SYSB_POS])
def test_aligned_upos_matches_reference_module(spark, sys_sent):  # noqa: F811
    """aligned_field_score must reproduce the reference evaluator's
    "UPOS" Score counts on MWT fixtures."""
    import io
    from phonlp_spark.ops.alignment import aligned_field_score

    ud = _load_reference_udeval()
    gold_ud = ud.load_conllu(io.StringIO(_conllu_pos([GOLD_POS])))
    sys_ud = ud.load_conllu(io.StringIO(_conllu_pos([sys_sent])))
    want = ud.evaluate(gold_ud, sys_ud)["UPOS"]

    got = aligned_field_score(_pos_df(spark, GOLD_POS),
                              _pos_df(spark, sys_sent)).collect()[0]
    assert got["n_gold"] == want.gold_total
    assert got["n_system"] == want.system_total
    assert got["n_aligned"] == want.aligned_total
    assert got["n_correct"] == want.correct
    assert got["precision_permille"] == int(want.precision * 1000)
    assert got["recall_permille"] == int(want.recall * 1000)


# Subtyped deprels: the reference strips 'x:y' -> 'x' at LOAD
# (conll18_ud_eval.py:219), so CLAS content membership and LAS label
# equality both see BASE relations.  The operator takes raw subtyped
# strings and must reproduce that (ADVICE r3: synthetic fixtures
# without subtypes could never catch a miss here).
GOLD_SUB = [("1", "ab", 0, "root"), ("2", "c", 1, "nsubj:pass"),
            ("3-4", "du", 0, "_"), ("3", "de", 5, "case"),
            ("4", "le", 5, "det:predet"), ("5", "x", 1, "nmod:poss")]
# A: same tree, subtype-only label differences (must all count correct)
SYSA_SUB = [("1", "ab", 0, "root"), ("2", "c", 1, "nsubj"),
            ("3-4", "du", 0, "_"), ("3", "de", 5, "case:loc"),
            ("4", "le", 5, "det"), ("5", "x", 1, "nmod:tmod")]
# B: unsplit MWT + base-level label/head errors under subtyped surface
SYSB_SUB = [("1", "ab", 0, "root"), ("2", "c", 1, "amod:x"),
            ("3", "du", 4, "nmod:poss"), ("4", "x", 2, "obl:agent")]


@pytest.mark.parametrize("sys_sent", [SYSA_SUB, SYSB_SUB])
def test_clas_strips_deprel_subtypes(spark, sys_sent):  # noqa: F811
    import io
    from phonlp_spark.ops.alignment import clas_aligned

    ud = _load_reference_udeval()
    gold_ud = ud.load_conllu(io.StringIO(_conllu_dep([GOLD_SUB])))
    sys_ud = ud.load_conllu(io.StringIO(_conllu_dep([sys_sent])))
    want = ud.evaluate(gold_ud, sys_ud)["CLAS"]

    got = clas_aligned(_dep_df(spark, GOLD_SUB),
                       _dep_df(spark, sys_sent)).collect()[0]
    assert got["n_gold"] == want.gold_total
    assert got["n_system"] == want.system_total
    assert got["n_aligned"] == want.aligned_total
    assert got["n_correct"] == want.correct


def test_las_subtype_only_differences_are_correct(spark):  # noqa: F811
    """Identical trees up to deprel subtypes: LAS must be perfect."""
    schema = ("doc_id string, sent_id int, token_id int, word string, "
              "head int, deprel string")
    gold = spark.createDataFrame(
        [("d", 0, 1, "a", 2, "nsubj:pass"), ("d", 0, 2, "b", 0, "root"),
         ("d", 0, 3, "c", 2, "obl:agent")], schema)
    syst = spark.createDataFrame(
        [("d", 0, 1, "a", 2, "nsubj"), ("d", 0, 2, "b", 0, "root"),
         ("d", 0, 3, "c", 2, "obl:tmod")], schema)
    got = uas_las_aligned(gold, syst).collect()[0]
    assert (got["n_aligned"], got["uas_permille"], got["las_permille"]) \
        == (3, 1000, 1000)


def test_aligned_metrics_lazy_with_cache_registry(spark):  # noqa: F811
    """cache_registry callers get a LAZY plan and own the cache."""
    rows = [("d", 0, 1, "a", 2, "sub"), ("d", 0, 2, "b", 0, "root"),
            ("d", 0, 3, "c", 2, "dob")]
    schema = ("doc_id string, sent_id int, token_id int, word string, "
              "head int, deprel string")
    df = spark.createDataFrame(rows, schema)
    reg = []
    out = uas_las_aligned(df, df, cache_registry=reg)
    assert len(reg) == 1           # the cached alignment was handed over
    got = out.collect()[0]         # caller triggers materialization
    assert got["uas_permille"] == 1000
    for c in reg:
        c.unpersist()


def test_every_aligned_metric_caches_memory_only(spark):  # noqa: F811
    """All five aligned metrics share one cached-alignment path:
    MEMORY_ONLY, handed to the registry."""
    from pyspark import StorageLevel

    from phonlp_spark.ops import alignment as A
    rows = [("d", 0, 1, "a", 2, "nsubj", "NOUN", "_", "a"),
            ("d", 0, 2, "b", 0, "root", "VERB", "_", "b")]
    df = spark.createDataFrame(
        rows, "doc_id string, sent_id int, token_id int, word string, "
              "head int, deprel string, upos string, feats string, lemma string")
    for fn in (A.uas_las_aligned, A.aligned_field_score, A.clas_aligned,
               A.mlas_aligned, A.blex_aligned):
        reg = []
        fn(df, df, cache_registry=reg)
        assert [c.storageLevel for c in reg] == [StorageLevel.MEMORY_ONLY], fn
        for c in reg:
            c.unpersist()


# --- MLAS / BLEX parity vs the reference evaluator ------------------

def _conllu_full(sentences):
    """sentences: list of list of
    (id_or_range, form, lemma, upos, feats, head, deprel)."""
    out = []
    for sent in sentences:
        for tid, form, lemma, upos, feats, head, rel in sent:
            mw = "-" in str(tid)
            cols = [str(tid), form,
                    "_" if mw else lemma, "_" if mw else upos, "_",
                    "_" if mw else feats,
                    "_" if mw else str(head), "_" if mw else rel, "_", "_"]
            out.append("\t".join(cols))
        out.append("")
    return "\n".join(out) + "\n"


def _full_df(spark, sent, doc="d0"):  # noqa: F811
    span_rows = _rows_from_conllu_sent([(t, f) for (t, f, *_r) in sent])
    words = [(le, u, ft, h, r) for (t, f, le, u, ft, h, r) in sent
             if "-" not in str(t)]
    rows = [(doc, 0, tid, w, s, e, mw, *words[tid - 1])
            for (tid, w, s, e, mw) in span_rows]
    return spark.createDataFrame(
        rows, "doc_id string, sent_id int, token_id int, word string, "
              "span_start int, span_end int, is_multiword boolean, "
              "lemma string, upos string, feats string, "
              "head int, deprel string")


# gold: 'du' MWT splits into de(case)+le(det) — both functional, so
# they are x's functional children; feats carry non-universal noise
# (Typo=Yes must be dropped at normalization) and unsorted order.
GOLD_FULL = [
    ("1", "ab", "ab", "V", "Mood=Ind|Tense=Pres", 0, "root"),
    ("2", "c", "c", "N", "Number=Sing|Gender=Masc", 1, "nsubj"),
    ("3-4", "du", "_", "_", "_", "_", "_"),
    ("3", "de", "de", "ADP", "_", 5, "case"),
    ("4", "le", "le", "DET", "Definite=Def", 5, "det"),
    ("5", "x", "x", "N", "Typo=Yes|Number=Sing", 1, "obj"),
]
# A: identical analysis, feats listed in different raw order + the
# non-universal Typo dropped -> must be fully correct
SYSA_FULL = [
    ("1", "ab", "ab", "V", "Tense=Pres|Mood=Ind", 0, "root"),
    ("2", "c", "c", "N", "Gender=Masc|Number=Sing", 1, "nsubj"),
    ("3-4", "du", "_", "_", "_", "_", "_"),
    ("3", "de", "de", "ADP", "_", 5, "case"),
    ("4", "le", "le", "DET", "Definite=Def", 5, "det"),
    ("5", "x", "x", "N", "Number=Sing", 1, "obj"),
]
# B: wrong UPOS on a content word, a functional child's deprel changed
# (det->case), one lemma wrong, one gold lemma '_' escape
SYSB_FULL = [
    ("1", "ab", "ab", "V", "Mood=Ind|Tense=Pres", 0, "root"),
    ("2", "c", "WRONG", "A", "Number=Sing|Gender=Masc", 1, "nsubj"),
    ("3-4", "du", "_", "_", "_", "_", "_"),
    ("3", "de", "de", "ADP", "_", 5, "case"),
    ("4", "le", "le", "DET", "Definite=Ind", 5, "case"),
    ("5", "x", "x", "N", "Number=Sing", 1, "obj"),
]
# C: unsplit MWT (alignment loss) + head error
SYSC_FULL = [
    ("1", "ab", "ab", "V", "Mood=Ind|Tense=Pres", 0, "root"),
    ("2", "c", "c", "N", "Number=Sing|Gender=Masc", 1, "nsubj"),
    ("3", "du", "du", "ADP", "_", 4, "case"),
    ("4", "x", "x", "N", "Number=Sing", 2, "obj"),
]


@pytest.mark.parametrize("sys_sent", [SYSA_FULL, SYSB_FULL, SYSC_FULL])
def test_mlas_matches_reference_module(spark, sys_sent):  # noqa: F811
    import io
    from phonlp_spark.ops.alignment import mlas_aligned

    ud = _load_reference_udeval()
    gold_ud = ud.load_conllu(io.StringIO(_conllu_full([GOLD_FULL])))
    sys_ud = ud.load_conllu(io.StringIO(_conllu_full([sys_sent])))
    want = ud.evaluate(gold_ud, sys_ud)["MLAS"]

    got = mlas_aligned(_full_df(spark, GOLD_FULL),
                       _full_df(spark, sys_sent)).collect()[0]
    assert got["n_gold"] == want.gold_total
    assert got["n_system"] == want.system_total
    assert got["n_aligned"] == want.aligned_total
    assert got["n_correct"] == want.correct


@pytest.mark.parametrize("sys_sent", [SYSA_FULL, SYSB_FULL, SYSC_FULL])
def test_blex_matches_reference_module(spark, sys_sent):  # noqa: F811
    import io
    from phonlp_spark.ops.alignment import blex_aligned

    ud = _load_reference_udeval()
    gold_ud = ud.load_conllu(io.StringIO(_conllu_full([GOLD_FULL])))
    sys_ud = ud.load_conllu(io.StringIO(_conllu_full([sys_sent])))
    want = ud.evaluate(gold_ud, sys_ud)["BLEX"]

    got = blex_aligned(_full_df(spark, GOLD_FULL),
                       _full_df(spark, sys_sent)).collect()[0]
    assert got["n_gold"] == want.gold_total
    assert got["n_system"] == want.system_total
    assert got["n_aligned"] == want.aligned_total
    assert got["n_correct"] == want.correct


def test_blex_gold_underscore_lemma_escape(spark):  # noqa: F811
    """A pair whose GOLD lemma is '_' counts lemma-correct whatever
    the system produced (conll18_ud_eval.py:549)."""
    from phonlp_spark.ops.alignment import blex_aligned
    schema = ("doc_id string, sent_id int, token_id int, word string, "
              "head int, deprel string, lemma string")
    gold = spark.createDataFrame(
        [("d", 0, 1, "a", 0, "root", "_"), ("d", 0, 2, "b", 1, "obj", "bb")],
        schema)
    syst = spark.createDataFrame(
        [("d", 0, 1, "a", 0, "root", "anything"),
         ("d", 0, 2, "b", 1, "obj", "bb")], schema)
    got = blex_aligned(gold, syst).collect()[0]
    assert got["n_correct"] == 2


# --- local value pins on the MWT fixtures ----------------------------
# Every fixture above, scored by the metrics the reference tests run on
# it, pinned as its full row and schema: the MWT cases (split and
# unsplit multiword tokens, NotAligned functional children, subtype
# stripping) are checked without the reference module.
_PRF = ("n_gold:bigint,n_system:bigint,n_aligned:bigint,n_correct:bigint,"
        "precision_permille:int,recall_permille:int,f1_permille:int")
PRF_SCHEMA = f"struct<{_PRF}>"
FIELD_SCHEMA = f"struct<{_PRF},aligned_acc_permille:int>"
UAS_LAS_SCHEMA = "struct<n_aligned:bigint,uas_permille:int,las_permille:int>"

MWT_FIXTURES = {
    "DEP": (_dep_df, GOLD_DEP, {"SYSA": SYSA_DEP, "SYSB": SYSB_DEP}),
    "POS": (_pos_df, GOLD_POS, {"SYSA": SYSA_POS, "SYSB": SYSB_POS}),
    "SUB": (_dep_df, GOLD_SUB, {"SYSA": SYSA_SUB, "SYSB": SYSB_SUB}),
    "FULL": (_full_df, GOLD_FULL,
             {"SYSA": SYSA_FULL, "SYSB": SYSB_FULL, "SYSC": SYSC_FULL}),
}

MWT_PINS = {
    ("SYSA_DEP", "clas"): ((3, 4, 3, 3, 750, 1000, 857), PRF_SCHEMA),
    ("SYSA_DEP", "uas_las"): ((3, 1000, 1000), UAS_LAS_SCHEMA),
    ("SYSB_DEP", "clas"): ((3, 3, 3, 1, 333, 333, 333), PRF_SCHEMA),
    ("SYSB_DEP", "uas_las"): ((5, 600, 400), UAS_LAS_SCHEMA),
    ("SYSA_POS", "upos"): ((5, 4, 3, 2, 500, 400, 444, 666), FIELD_SCHEMA),
    ("SYSB_POS", "upos"): ((5, 5, 5, 3, 600, 600, 600, 600), FIELD_SCHEMA),
    ("SYSA_SUB", "clas"): ((3, 3, 3, 3, 1000, 1000, 1000), PRF_SCHEMA),
    ("SYSB_SUB", "clas"): ((3, 4, 3, 1, 250, 333, 285), PRF_SCHEMA),
    ("SYSA_FULL", "mlas"): ((3, 3, 3, 3, 1000, 1000, 1000), PRF_SCHEMA),
    ("SYSA_FULL", "blex"): ((3, 3, 3, 3, 1000, 1000, 1000), PRF_SCHEMA),
    ("SYSA_FULL", "clas"): ((3, 3, 3, 3, 1000, 1000, 1000), PRF_SCHEMA),
    ("SYSA_FULL", "uas_las"): ((5, 1000, 1000), UAS_LAS_SCHEMA),
    ("SYSB_FULL", "mlas"): ((3, 3, 3, 1, 333, 333, 333), PRF_SCHEMA),
    ("SYSB_FULL", "blex"): ((3, 3, 3, 2, 666, 666, 666), PRF_SCHEMA),
    ("SYSB_FULL", "clas"): ((3, 3, 3, 3, 1000, 1000, 1000), PRF_SCHEMA),
    ("SYSB_FULL", "uas_las"): ((5, 1000, 800), UAS_LAS_SCHEMA),
    ("SYSC_FULL", "mlas"): ((3, 3, 3, 2, 666, 666, 666), PRF_SCHEMA),
    ("SYSC_FULL", "blex"): ((3, 3, 3, 2, 666, 666, 666), PRF_SCHEMA),
    ("SYSC_FULL", "clas"): ((3, 3, 3, 2, 666, 666, 666), PRF_SCHEMA),
    ("SYSC_FULL", "uas_las"): ((3, 666, 666), UAS_LAS_SCHEMA),
}


@pytest.mark.parametrize("case, metric", sorted(MWT_PINS),
                         ids=[f"{c}-{m}" for c, m in sorted(MWT_PINS)])
def test_aligned_metrics_pinned_on_mwt_fixtures(spark, case, metric):  # noqa: F811
    from phonlp_spark.ops import alignment as A

    fn = {"clas": A.clas_aligned, "uas_las": A.uas_las_aligned,
          "upos": A.aligned_field_score, "mlas": A.mlas_aligned,
          "blex": A.blex_aligned}[metric]
    sys_name, fixture = case.split("_")
    make, gold, systems = MWT_FIXTURES[fixture]
    out = fn(make(spark, gold), make(spark, systems[sys_name]))
    assert [tuple(r) for r in out.collect()] == [MWT_PINS[case, metric][0]]
    assert out.schema.simpleString() == MWT_PINS[case, metric][1]
