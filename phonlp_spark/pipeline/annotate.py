"""The Arrow-vectorized annotation stage and its exploded views.

Spark lifecycle (SURVEY.md §3.1): sentence rows -> optional salted
repartition (skew) -> ONE mapInPandas stage that fuses encode + POS +
NER-Viterbi + biaffine + MST + BIOES mention decode + triple rules
(reference steps phonlp/annotate_model.py:230-293 collapsed into one
Arrow hop; keys travel with rows so the reference's two-level
sort/unsort, annotate_model.py:270-293, is unnecessary) -> JVM-side
explodes for the annotation/mention/triple long tables.

No per-row Python anywhere: the kernel consumes whole Arrow batches and
is itself batch-vectorized (length-bucketed padding inside).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MENTION_TYPE = T.StructType([
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("type", T.StringType()),
    T.StructField("text", T.StringType()),
])

TRIPLE_TYPE = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("subj_type", T.StringType()),
    T.StructField("obj_type", T.StringType()),
    T.StructField("rule", T.StringType()),
])

ANNOTATED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("sent_id", T.IntegerType()),
    T.StructField("tokens", T.ArrayType(T.StringType())),
    T.StructField("upos", T.ArrayType(T.StringType())),
    T.StructField("ner", T.ArrayType(T.StringType())),
    T.StructField("head", T.ArrayType(T.IntegerType())),
    T.StructField("deprel", T.ArrayType(T.StringType())),
    T.StructField("mentions", T.ArrayType(MENTION_TYPE)),
    T.StructField("triples", T.ArrayType(TRIPLE_TYPE)),
])


_KEY_COLS = ("doc_id", "span_idx", "sent_id")


# the last custom-factory kernel, memoized per python worker process:
# a transformer-backed factory loads real weights, and paying that once
# per TASK instead of once per worker would dominate the stage (the
# default path is process-memoized inside default_kernel already).
# Lives at module scope so every task's deserialized closure sees the
# same cache within a reused worker process.
_KERNEL_CACHE: dict[str, object] = {}


def _factory_key(kernel_factory) -> str | None:
    """Stable cache key computed DRIVER-side: each task deserializes a
    fresh factory object, so id() can't key the worker cache — the
    cloudpickle byte digest can (identical bytes -> identical kernel).
    Returns None when the factory can't be digested: any name-based
    fallback could collide across distinct factories sharing a
    qualname, so an un-digestible factory is simply not memoized."""
    import hashlib
    try:
        from pyspark import cloudpickle
        return hashlib.md5(cloudpickle.dumps(kernel_factory)).hexdigest()
    except Exception:
        return None


def _worker_kernel(key: str | None, kernel_factory):
    from phonlp_spark.kernel.annotate import default_kernel

    if kernel_factory is None:
        return default_kernel()
    if key is None:
        # no collision-safe key (see _factory_key): build per task
        return kernel_factory()
    kernel = _KERNEL_CACHE.get(key)
    if kernel is None:
        # one slot: drop the previous factory's kernel BEFORE building,
        # so a long-lived worker holds at most one weight set
        _KERNEL_CACHE.clear()
        kernel = _KERNEL_CACHE[key] = kernel_factory()
    return kernel


def _make_annotate_fn(columns: tuple[str, ...], kernel_factory=None):
    """Batch fn emitting only the requested non-key columns.

    Column pruning cannot cross a mapInPandas boundary, so callers that
    only consume mentions/triples (the KG path) skip building and
    Arrow-serializing the five token-level arrays entirely.

    ``kernel_factory``: zero-arg callable building the worker-side
    kernel (cloudpickled into the task; called once per python worker
    process — memoized in _KERNEL_CACHE by driver-computed key).
    Defaults to default_kernel() — the checkpoint-env production path.
    A transformer-backed deployment passes a factory that wires a
    SubwordEncoder (kernel/checkpoint.py) over its tokenizer+model.
    """
    factory_key = None if kernel_factory is None else _factory_key(kernel_factory)

    def annotate_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from phonlp_spark.kernel.runtime import drop_zip_importers

        # one kernel (weights + memoized encoder) per python worker
        kernel = _worker_kernel(factory_key, kernel_factory)
        for pdf in batches:
            anns = kernel.annotate(list(pdf["tokens"]))
            data = {k: pdf[k].values for k in _KEY_COLS}
            for c in columns:
                if c == "mentions":
                    data[c] = [
                        [{"start": s, "end": e, "type": t, "text": x}
                         for (s, e, t, x) in a["mentions"]]
                        for a in anns
                    ]
                elif c == "triples":
                    data[c] = [
                        [{"subj": s, "pred": p, "obj": o,
                          "subj_type": st, "obj_type": ot, "rule": r}
                         for (s, p, o, st, ot, r) in a["triples"]]
                        for a in anns
                    ]
                else:
                    data[c] = [a[c] for a in anns]
            yield pd.DataFrame(data)
        # the worker's next task then re-reads no zip directory
        # (see kernel/runtime.py)
        drop_zip_importers()

    return annotate_batches


def annotate_sentences_df(
    sentences: DataFrame,
    salt_partitions: int | None = None,
    columns: tuple[str, ...] | None = None,
    kernel_factory=None,
) -> DataFrame:
    """sentences (doc_id, span_idx, sent_id, tokens) -> annotated rows.

    ``salt_partitions``: hash-repartition sentence rows before the
    kernel so a mega-document cannot pin one executor (north rule skew
    handling — the doc was already split to sentence grain, this
    spreads those sentences).  Leave None to keep the upstream
    partitioning (no shuffle).

    ``columns``: subset of non-key output columns to materialize
    (default: all).  E.g. ("mentions", "triples") for the KG path.

    ``kernel_factory``: per-worker kernel builder override (see
    _make_annotate_fn) — the swap point for subword/transformer
    encoders.
    """
    if salt_partitions:
        sentences = sentences.repartition(salt_partitions, F.xxhash64("doc_id", "span_idx"))
    all_cols = tuple(f.name for f in ANNOTATED_SCHEMA.fields if f.name not in _KEY_COLS)
    cols = all_cols if columns is None else tuple(columns)
    unknown = set(cols) - set(all_cols)
    if unknown:
        raise ValueError(f"unknown annotate columns: {sorted(unknown)}")
    schema = T.StructType(
        [f for f in ANNOTATED_SCHEMA.fields
         if f.name in _KEY_COLS or f.name in cols])
    return sentences.mapInPandas(_make_annotate_fn(cols, kernel_factory),
                                 schema=schema)


def annotations_long(annotated: DataFrame) -> DataFrame:
    """Token-level long table — the reference's 6-column TSV as a
    DataFrame (index, word, posTag, nerLabel, headIndex, depLabel;
    phonlp/annotate_model.py:323-337) keyed by (doc_id, sent_id)."""
    z = F.arrays_zip("tokens", "upos", "ner", "head", "deprel")
    ex = annotated.select("doc_id", "sent_id", F.posexplode(z).alias("i", "t"))
    return ex.select(
        "doc_id",
        "sent_id",
        (F.col("i") + 1).cast("int").alias("token_id"),
        F.col("t.tokens").alias("word"),
        F.col("t.upos").alias("upos"),
        F.col("t.ner").alias("ner"),
        F.col("t.head").alias("head"),
        F.col("t.deprel").alias("deprel"),
    )


def mentions_df(annotated: DataFrame) -> DataFrame:
    ex = annotated.select("doc_id", "sent_id", F.explode("mentions").alias("m"))
    return ex.select(
        "doc_id", "sent_id",
        F.col("m.start").alias("start"), F.col("m.end").alias("end"),
        F.col("m.type").alias("type"), F.col("m.text").alias("text"),
    )


def triples_df(annotated: DataFrame) -> DataFrame:
    ex = annotated.select("doc_id", "sent_id", F.explode("triples").alias("t"))
    return ex.select(
        "doc_id", "sent_id",
        F.col("t.subj").alias("subj"), F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"), F.col("t.subj_type").alias("subj_type"),
        F.col("t.obj_type").alias("obj_type"), F.col("t.rule").alias("rule"),
    )


def reassemble_documents(documents: DataFrame, annotated: DataFrame) -> DataFrame:
    """Rebuild the documents table from pipeline outputs, preserving the
    span sequence byte-for-byte (per-row invariant: kind, text,
    media_ref, order — BASELINE.json input_hint).

    Media spans pass through from the source; text spans are re-joined
    from the annotated token arrays at their original offsets.
    """
    rebuilt_text = annotated.select(
        "doc_id",
        F.col("span_idx").alias("offset"),
        F.lit("text").alias("kind"),
        F.array_join("tokens", " ").alias("text"),
        F.lit("").alias("media_ref"),
    )
    media = (
        documents.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") != "text")
        .select("doc_id", F.col("s.offset").alias("offset"),
                F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
                F.col("s.media_ref").alias("media_ref"))
    )
    empty_text = (
        documents.select("doc_id", F.explode("spans").alias("s"))
        .filter((F.col("s.kind") == "text") & (F.length("s.text") == 0))
        .select("doc_id", F.col("s.offset").alias("offset"),
                F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
                F.col("s.media_ref").alias("media_ref"))
    )
    all_spans = rebuilt_text.unionByName(media).unionByName(empty_text)
    return (
        all_spans.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("offset"), F.col("kind"), F.col("text"), F.col("media_ref"),
        ))).alias("ordered"))
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"), s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
