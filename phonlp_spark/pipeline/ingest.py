"""Document-table ingest: the interleaved text+media spans model.

Input table shape (BASELINE.json input_hint):

    documents(doc_id: string,
              spans: array<struct<kind string, text string,
                                  media_ref string, offset int>>)

Two producers:

- ``interleave_documents``: deterministic adapter from the driver's
  flat documents parquet (doc_id, text, lang, source, n_chars) to the
  interleaved shape — text chunked into 12-token sentences (mirroring
  the reference's one-sentence-per-line input,
  phonlp/annotate_model.py:219-229), with media spans interleaved on a
  deterministic doc/position rule.  Pure built-in expressions: the
  chunking is mirrorable in ANSI SQL for DuckDB oracles.
- ``synth_documents``: seed-deterministic generator of the FIXTURES.md
  recipe (Vietnamese-like tokens, seeded entity names, long-tail skew
  docs) used by unit tests and the KG benchmarks.

``split_sentences`` explodes text spans into per-sentence rows without
any shuffle (sent_id is computed inside the array before exploding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SENT_TOKENS = 12  # tokens per derived sentence in the flat-doc adapter

SPAN_TYPE = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_TYPE)),
])

MEDIA_KINDS = ("image", "video", "audio")


def interleave_documents(flat: DataFrame) -> DataFrame:
    """flat (doc_id, text, ...) -> interleaved documents table.

    Text spans: consecutive 12-token chunks of `text`.
    Media spans: after text-chunk k when (doc_id + k) % 3 == 0; kind
    cycles through image/video/audio; media_ref = media://md5(doc:k).
    Offsets are the final 0-based span positions.  Entirely built-in
    expressions — stays inside WholeStageCodegen, no Python.

    The flat rows are fanned out BEFORE the span-building expressions
    (no-op on wide scans): the fixtures are single-row-group files, so
    without this the whole interleave + downstream sentence split ran
    inside a 1-task scan stage (measured 3.3 s serial at sf1.0).
    """
    from phonlp_spark.ops.fanout import fan_out
    flat = fan_out(flat)
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(SENT_TOKENS)).cast("int")
    chunk_idx = F.sequence(F.lit(0), n_chunks - 1)

    did = F.col("doc_id").cast("long")
    kind_arr = F.array(*[F.lit(k) for k in MEDIA_KINDS])

    def text_span(k):
        return F.struct(
            F.lit("text").alias("kind"),
            F.array_join(F.slice(toks, k * SENT_TOKENS + 1, SENT_TOKENS), " ").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(-1).alias("offset"),
        )

    def media_span(k):
        ref = F.concat(F.lit("media://"), F.md5(F.concat_ws(":", F.col("doc_id"), k)))
        return F.struct(
            F.element_at(kind_arr, (F.pmod(k, F.lit(3)) + 1).cast("int")).alias("kind"),
            F.lit("").alias("text"),
            ref.alias("media_ref"),
            F.lit(-1).alias("offset"),
        )

    nested = F.transform(
        chunk_idx,
        lambda k: F.when(F.pmod(did + k, F.lit(3)) == 0,
                         F.array(text_span(k), media_span(k)))
                   .otherwise(F.array(text_span(k))),
    )
    flat_spans = F.flatten(nested)
    spans = F.transform(
        flat_spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return flat.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))


def split_sentences(documents: DataFrame) -> DataFrame:
    """documents -> one row per text span: (doc_id, span_idx, sent_id, tokens).

    sent_id (rank among text spans) is computed *inside* the spans
    array before exploding — no window, no data-dependent shuffle; the
    explode is a narrow transformation, so long documents fan out
    across whatever partitioning follows (skew handling happens at
    sentence grain).  Narrow inputs (single-file local fixtures) are
    round-robin fanned out first so the rank/explode expressions run at
    cluster width; on wide real-scale scans that is a no-op.
    """
    from phonlp_spark.ops.fanout import fan_out
    documents = fan_out(documents)
    with_rank = F.transform(
        F.col("spans"),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["offset"].alias("offset"),
            F.size(F.filter(F.slice(F.col("spans"), 1, i),
                            lambda p: p["kind"] == "text")).alias("sent_id"),
        ),
    )
    ex = documents.select("doc_id", F.explode(with_rank).alias("s"))
    return (
        ex.filter((F.col("s.kind") == "text") & (F.length("s.text") > 0))
        .select(
            "doc_id",
            F.col("s.offset").alias("span_idx"),
            F.col("s.sent_id").alias("sent_id"),
            F.split(F.col("s.text"), " ").alias("tokens"),
        )
    )


# ---------------------------------------------------------------------------
# FIXTURES.md §1 synthesizer (seed-deterministic, no external data)
# ---------------------------------------------------------------------------

_SYLL = [
    "an", "bình", "chi", "dũng", "em", "giang", "hà", "khang", "lan",
    "minh", "nam", "oanh", "phúc", "quang", "sơn", "thu", "uyên", "vân",
]
_COMMON = [
    "ông", "bà", "công_ty", "thành_phố", "mua", "bán", "gặp", "nói", "ký",
    "nhà", "hợp_đồng", "với", "tại", "của", "và", "đã", "sẽ", "rất",
    "thăm", "xây_dựng", "đầu_tư", "phát_triển", ".", ",",
]


def _seeded_names(n: int, seed: int) -> list[str]:
    import random

    rng = random.Random(seed)
    names = []
    for i in range(n):
        parts = [rng.choice(_SYLL).capitalize() for _ in range(rng.randint(2, 3))]
        names.append("_".join(parts))
    return names


def synth_documents(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Seed-deterministic interleaved documents per FIXTURES.md:
    5-40 token sentences, 1-12 spans/doc, ~20% media spans, plus a
    ~0.5% long tail of 200+-token docs to exercise skew handling.
    """
    import random

    rng = random.Random(seed)
    names = _seeded_names(40, seed + 1)
    vocab = _COMMON + names
    rows = []
    for d in range(n_docs):
        n_spans = rng.randint(1, 12)
        spans = []
        off = 0
        for _ in range(n_spans):
            if rng.random() < 0.2:
                ref = "media://" + format(rng.getrandbits(64), "016x")
                spans.append((rng.choice(MEDIA_KINDS), "", ref, off))
            else:
                ln = rng.randint(200, 260) if rng.random() < 0.005 else rng.randint(5, 40)
                words = [rng.choice(vocab) for _ in range(ln)]
                spans.append(("text", " ".join(words), "", off))
            off += 1
        rows.append((f"doc{d:07d}", spans))
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
