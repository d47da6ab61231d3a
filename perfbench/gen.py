"""Seeded benchmark inputs, written as parquet before any timing.

The generators here are the benchmark's own: they do not call
``phonlp_spark.pipeline.ingest.synth_documents``, so editing the engine
cannot change what a workload feeds it.  The same seed gives byte-equal
tables.

- ``flat_docs``: the flat documents fixture shape ``(doc_id bigint, text, lang,
  source, n_chars)``: 10-100 space-joined tokens per doc from a small
  vocabulary, so 3-gram shingles are shared widely (the sf0.1 shape).
  ``dup_share`` of the docs are near-copies of earlier docs: a planted
  cluster member keeps its base doc's tokens and replaces ~15% of them.
- ``interleaved_docs``: the FIXTURES.md recipe in the engine's
  ``documents`` shape: 1-12 spans per doc, ~20% media spans, 5-40-token
  sentences, and a 0.5% tail of 200-260-token sentences.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLL = [
    "an", "bình", "chi", "dũng", "em", "giang", "hà", "khang", "lan",
    "minh", "nam", "oanh", "phúc", "quang", "sơn", "thu", "uyên", "vân",
]
_COMMON = [
    "ông", "bà", "công_ty", "thành_phố", "mua", "bán", "gặp", "nói", "ký",
    "nhà", "hợp_đồng", "với", "tại", "của", "và", "đã", "sẽ", "rất",
    "thăm", "xây_dựng", "đầu_tư", "phát_triển", ".", ",",
]
_LANGS = ["vi", "en", "zh", "de", "fr"]
_MEDIA_KINDS = ["image", "video", "audio"]

FLAT_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE)),
])


def entity_names(seed: int, n: int = 40) -> list[str]:
    """Seeded person/place-like names (underscore-joined syllables)."""
    rng = np.random.default_rng([seed, 3])
    return ["_".join(_SYLL[int(i)].capitalize()
                     for i in rng.integers(0, len(_SYLL), int(rng.integers(2, 4))))
            for _ in range(n)]


def _vocab(seed: int, n_names: int) -> np.ndarray:
    return np.array(_COMMON + entity_names(seed, n_names), dtype=object)


def flat_docs(seed: int, n_docs: int, dup_share: float = 0.0) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(seed, 16)
    lens = rng.integers(10, 101, n_docs)
    toks = [rng.integers(0, len(vocab), n) for n in lens]
    n_dup = int(n_docs * dup_share)
    if n_dup:
        # planted clusters: members are spread over the table and copy
        # an earlier doc with ~15% of its tokens replaced
        members = rng.choice(np.arange(1, n_docs), n_dup, replace=False)
        for m in np.sort(members):
            base = toks[int(rng.integers(0, m))].copy()
            edit = rng.random(len(base)) < 0.15
            base[edit] = rng.integers(0, len(vocab), int(edit.sum()))
            toks[m] = base
    text = [" ".join(vocab[t]) for t in toks]
    return pa.Table.from_pydict({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": [_LANGS[int(i)] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{int(i)}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }, schema=FLAT_SCHEMA)


def interleaved_docs(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(seed, 40)
    n_spans = rng.integers(1, 13, n_docs)
    total = int(n_spans.sum())
    media = rng.random(total) < 0.2
    long_tail = rng.random(total) < 0.005
    lens = np.where(long_tail, rng.integers(200, 261, total),
                    rng.integers(5, 41, total))
    kinds = rng.integers(0, len(_MEDIA_KINDS), total)
    refs = rng.integers(0, 2**63 - 1, total, dtype=np.int64)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    docs, pos, w0 = [], 0, 0
    for d in range(n_docs):
        spans = []
        for off in range(int(n_spans[d])):
            if media[pos]:
                spans.append({"kind": _MEDIA_KINDS[kinds[pos]], "text": "",
                              "media_ref": f"media://{int(refs[pos]):016x}",
                              "offset": off})
            else:
                spans.append({"kind": "text", "media_ref": "", "offset": off,
                              "text": " ".join(words[w0:ends[pos]])})
            w0 = int(ends[pos])
            pos += 1
        docs.append(spans)
    return pa.Table.from_pydict({
        "doc_id": [f"doc{d:07d}" for d in range(n_docs)],
        "spans": docs,
    }, schema=DOCUMENTS_SCHEMA)


def cached_parquet(cache_dir: str, name: str, seed: int, make) -> str:
    """Path of ``<cache_dir>/<name>-<seed>.parquet``, written by
    ``make()`` on first use (atomically, so an interrupted run never
    leaves a truncated table behind)."""
    path = os.path.join(cache_dir, f"{name}-{seed}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(make(), tmp)
        os.replace(tmp, path)
    return path
