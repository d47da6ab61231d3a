"""Worker runtime: dropping cached zip importers makes pyspark's per-task
``importlib.invalidate_caches()`` re-read no zip directory, and the
engine's Python stages leave none behind.  No Spark session."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from phonlp_spark.kernel import annotate_sentences
from phonlp_spark.kernel.runtime import drop_zip_importers
from phonlp_spark.pipeline.annotate import _make_annotate_fn

PKG = "_zipped_pkg"


def _zip_importers() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


@pytest.fixture()
def zipped_package(tmp_path):
    """A two-module package in a zip on sys.path, its first module
    imported (so a zip importer is cached); sys.path, the importer
    cache and sys.modules are restored afterwards."""
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/a.py", "VALUE = 'a'\n")
        z.writestr(f"{PKG}/b.py", "VALUE = 'b'\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(f"{PKG}.a").VALUE == "a"
        assert _zip_importers()
        yield archive
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)


def test_invalidate_caches_rereads_no_zip_after_drop(zipped_package, monkeypatch):
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert zipped_package in reads

    drop_zip_importers()
    assert _zip_importers() == []
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    # the importer comes back from the directory cache, unread
    assert importlib.import_module(f"{PKG}.b").VALUE == "b"
    assert reads == []


def test_annotate_batches_drop_zip_importers(zipped_package):
    sentences = [
        "Nguyễn_Văn_A thăm Hà_Nội .".split(),
        "Công_ty ABC ở Đà_Nẵng ký hợp_đồng với Trần_Thị_B .".split(),
        ["Xin_chào"],
    ]
    pdf = pd.DataFrame({"doc_id": ["d0", "d0", "d1"], "span_idx": [0, 0, 0],
                        "sent_id": [0, 1, 0], "tokens": sentences})
    fn = _make_annotate_fn(("mentions", "triples"))
    out = pd.concat(list(fn(iter([pdf]))), ignore_index=True)
    assert _zip_importers() == []

    want = annotate_sentences(sentences)
    assert list(out.columns) == ["doc_id", "span_idx", "sent_id", "mentions", "triples"]
    assert list(out["sent_id"]) == [0, 1, 0]
    for got_m, got_t, w in zip(out["mentions"], out["triples"], want):
        assert [(m["start"], m["end"], m["type"], m["text"]) for m in got_m] \
            == [tuple(m) for m in w["mentions"]]
        assert [(t["subj"], t["pred"], t["obj"], t["subj_type"], t["obj_type"],
                 t["rule"]) for t in got_t] == [tuple(t) for t in w["triples"]]
    assert any(w["mentions"] for w in want)
