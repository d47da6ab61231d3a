"""Drop-in API parity with the reference's annotate() surface."""

import dataclasses

import numpy as np
import pytest

import phonlp_spark.api as phonlp
from phonlp_spark.kernel.annotate import AnnotationKernel
from phonlp_spark.kernel.checkpoint import save_checkpoint
from phonlp_spark.kernel.weights import seeded_weights
from phonlp_spark.pipeline.ingest import synth_documents

from tests.spark_fixtures import spark  # noqa: F401


def test_text_mode_returns_reference_tuple():
    model = phonlp.load()
    out = model.annotate(text="Nguyễn_Văn_A thăm Hà_Nội .")
    data, pos, ner, dep = out
    assert data == [["Nguyễn_Văn_A", "thăm", "Hà_Nội", "."]]
    assert len(pos[0]) == len(ner[0]) == len(dep[0]) == 4
    assert isinstance(pos[0][0], list) and len(pos[0][0]) == 1
    head, rel = dep[0][0]
    assert head.isdigit() and isinstance(rel, str)


def test_file_mode_six_column(tmp_path):
    inp = tmp_path / "input.txt"
    inp.write_text("Tôi yêu Hà_Nội .\nTrời mưa .\n\n", encoding="utf-8")
    outp = tmp_path / "out.tsv"
    phonlp.load().annotate(input_file=str(inp), output_file=str(outp))
    blocks = outp.read_text(encoding="utf-8").strip("\n").split("\n\n")
    assert len(blocks) == 2
    rows = blocks[0].splitlines()
    assert len(rows) == 4
    assert all(len(r.split("\t")) == 6 for r in rows)
    assert rows[0].split("\t")[0] == "1"


def test_file_mode_conll(tmp_path):
    inp = tmp_path / "input.txt"
    inp.write_text("Trời mưa .\n", encoding="utf-8")
    outp = tmp_path / "out.conll"
    phonlp.load().annotate(input_file=str(inp), output_file=str(outp),
                           output_type="conll")
    rows = outp.read_text(encoding="utf-8").strip("\n").splitlines()
    assert all(len(r.split("\t")) == 10 for r in rows if r)


def test_determinism_across_loads():
    a = phonlp.load().annotate(text="Công_ty FPT đầu_tư vào Đà_Nẵng .")
    b = phonlp.load().annotate(text="Công_ty FPT đầu_tư vào Đà_Nẵng .")
    assert a == b


TEXT = "Công_ty FPT đầu_tư vào Đà_Nẵng và Nguyễn_Văn_A thăm Hà_Nội ."


@pytest.fixture(scope="module")
def saved(tmp_path_factory):
    """A kernel whose weights differ from the seeded default (every
    weight array negated), saved as a checkpoint."""
    w = seeded_weights(seed=42)
    w = dataclasses.replace(w, **{
        f.name: -getattr(w, f.name) for f in dataclasses.fields(w)
        if isinstance(getattr(w, f.name), np.ndarray)})
    save_dir = str(tmp_path_factory.mktemp("ckpt"))
    save_checkpoint(w, save_dir)
    return phonlp.Model(AnnotationKernel(weights=w)), save_dir


def test_load_reads_checkpoint(saved):
    model, save_dir = saved
    got = phonlp.load(save_dir=save_dir).annotate(text=TEXT)
    assert got == model.annotate(text=TEXT)
    assert got != phonlp.load().annotate(text=TEXT)  # save_dir mattered


def test_annotate_df_runs_the_models_kernel(spark, saved):  # noqa: F811
    model = phonlp.load(save_dir=saved[1])
    docs = synth_documents(spark, 6, seed=3)
    rows = model.annotate_df(spark, docs).collect()
    assert rows
    default = phonlp.load()
    differs = False
    for r in rows:
        text = " ".join(r["tokens"])
        out = model.annotate(text=text)
        _, pos, ner, dep = out
        assert [p[0] for p in pos[0]] == list(r["upos"])
        assert ner[0] == list(r["ner"])
        assert dep[0] == [[str(h), d] for h, d in zip(r["head"], r["deprel"])]
        differs |= default.annotate(text=text) != out
    assert differs  # the default kernel would have produced other rows
