"""Graph materialization, per-partition manifests, and resume.

Output layout under `out_dir` (an Iceberg-shaped Parquet catalog: data
files partitioned by content-derived bucket + a manifest table that
doubles as snapshot metadata and resume checkpoint — SURVEY.md intro):

    out_dir/annotations/bucket=K/*.parquet
    out_dir/mentions/bucket=K/*.parquet
    out_dir/triples/bucket=K/*.parquet
    out_dir/edges/bucket=K/*.parquet
    out_dir/nodes/*.parquet              (global, rebuilt per run)
    out_dir/manifest/*.parquet           (append-only)

Graph step (``build_graph``; ``run_kg`` shares its body): one read of
the alias dictionary links the distinct mention surfaces and
canonicalizes its same-as graph (``dict_canonical_names``): NO
connected-components pass within MAX_ALIASES, one over it.  Within
MAX_ALIASES one resolver gives each distinct surface its entity and
canonical id: on the driver from one collect (within
MAX_LOCAL_SURFACES; the surface map is a local frame with no Python
stage) or in one mapInArrow stage over the surfaces (past it; no
join).  That one result gives every surface its canonical id (edges,
linked mentions) and every component its display name (nodes), in
memory and, for ``run_kg``'s global nodes table, from disk.

Buckets are `pmod(xxhash64(doc_id), n_buckets)` — content-derived, so
a resumed run (or a differently-sized cluster) maps every document to
the same bucket.  Resume = anti-join of buckets against manifest rows
whose status='done' and whose input fingerprint matches; completed
buckets are never recomputed, interrupted buckets are overwritten
idempotently via dynamic partition overwrite.
"""

from __future__ import annotations

import functools
import operator
import os
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from phonlp_spark.pipeline.annotate import (
    annotate_sentences_df,
    annotations_long,
    mentions_df,
    triples_df,
)
from phonlp_spark.pipeline.ingest import split_sentences
from phonlp_spark.pipeline.linking import _graph_links, norm_surface

# per-bucket fields only (the run's wall is in run_kg's stats); reads
# give this schema, so older manifests' extra wall_ms column is ignored
MANIFEST_COLS = ("run_id", "bucket", "status", "docs", "sentences", "triples",
                 "attempt", "input_fingerprint", "n_buckets")
MANIFEST_SCHEMA = ", ".join(
    f"{c} {'string' if c in ('run_id', 'status', 'input_fingerprint') else 'long'}"
    for c in MANIFEST_COLS)


def input_fingerprint(docs: DataFrame) -> tuple[str, dict[int, int]]:
    """("n:hex" input fingerprint, {bucket: doc count}) from ONE
    per-bucket aggregate over the bucketed documents.  bit_xor is
    associative, so XOR-ing the per-bucket hashes on the driver gives
    exactly the whole-table (count, bit_xor(xxhash64(doc_id))) string
    that earlier manifests recorded — their resume still applies."""
    rows = docs.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("doc_id")).alias("h")).collect()
    h = functools.reduce(operator.xor, (r["h"] for r in rows), 0)
    return (f"{sum(r['n'] for r in rows)}:{h:x}",
            {int(r["bucket"]): int(r["n"]) for r in rows})


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The manifest table, or None before the first run.  The schema is
    given, not inferred (no footer-reading job); a manifest written
    before n_buckets existed reads it as null and so never matches."""
    path = os.path.join(out_dir, "manifest")
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except AnalysisException:  # no manifest directory yet
        return None


def nodes_from_linked(linked_mentions: DataFrame, canon: DataFrame) -> DataFrame:
    """Aggregate the canonical-entity node table from linked mentions.

    canon (dict_canonical_names) arrives broadcast-hinted within
    MAX_ALIASES, unhinted over it; the mention aggregate is a plain
    hash-agg on canonical_id.  A canonical_id that is a component id
    keys its own dictionary row, whose dict_canonical names the
    component.
    """
    return (
        linked_mentions.groupBy("canonical_id")
        .agg(F.count(F.lit(1)).alias("mention_count"),
             F.min("text").alias("top_text"),
             F.mode("type").alias("type"))
        .join(canon.withColumnRenamed("entity_id", "canonical_id"),
              "canonical_id", "left")
        .select(
            F.col("canonical_id").alias("entity_id"),
            F.coalesce("dict_canonical", "top_text").alias("canonical"),
            "type", "mention_count")
    )


def _graph_tables(mentions: DataFrame, triples: DataFrame, alias_dict: DataFrame,
                  cache_registry: list | None):
    """build_graph's body: (linked_canon, canon, edges), where canon is
    dict_canonical_names(alias_dict) so run_kg can build its global
    nodes table from the same single read of the dictionary."""
    m = mentions.withColumn("nsurf", norm_surface(F.col("text")))
    surf_map, canon = _graph_links(m.select("nsurf").distinct(), alias_dict,
                                   cache_registry)
    linked_canon = m.join(surf_map, "nsurf", "left").drop("nsurf")

    edges = (
        triples
        .withColumn("snsurf", norm_surface(F.col("subj")))
        .withColumn("onsurf", norm_surface(F.col("obj")))
        .join(surf_map.select(F.col("nsurf").alias("snsurf"),
                              F.col("canonical_id").alias("subj_id")),
              "snsurf", "inner")
        .join(surf_map.select(F.col("nsurf").alias("onsurf"),
                              F.col("canonical_id").alias("obj_id")),
              "onsurf", "inner")
        .select("subj_id", "pred", "obj_id", "doc_id", "sent_id")
    )
    return linked_canon, canon, edges


def build_graph(mentions: DataFrame, triples: DataFrame, alias_dict: DataFrame,
                cache_registry: list | None = None):
    """Linking -> canonicalization -> graph tables (no IO).

    Returns (linked_mentions_with_canonical_id, nodes, edges).

    Everything expensive happens once at SURFACE grain (distinct
    normalized mention texts): link, then resolve each surface's entity
    to its same-as component (dict_canonical_names: no connected-
    components pass within MAX_ALIASES, one over it).  Within
    MAX_ALIASES one resolver maps each surface to its entity and
    canonical id, on the driver from one bounded collect (within
    MAX_LOCAL_SURFACES) or in one mapInArrow stage over the surfaces
    (past it).  The surface->canonical map joins back onto
    the mention and triple streams with NO forced broadcast: distinct
    surfaces are unbounded at corpus scale (a forced broadcast of
    hundreds of millions of rows would OOM), so AQE decides.  ``nodes``
    and ``edges`` are lazy.

    Unless it was resolved on the driver, the surface map is cached
    only when cache_registry is given, and appended to it so callers
    can unpersist it after their writes complete.  Without a registry
    nothing is cached.
    """
    linked_canon, canon, edges = _graph_tables(
        mentions, triples, alias_dict, cache_registry)
    return linked_canon, nodes_from_linked(linked_canon, canon), edges


def run_kg(
    spark: SparkSession,
    documents: DataFrame,
    alias_dict: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    salt_partitions: int | None = None,
    resume: bool = True,
    dedup: bool = False,
) -> dict:
    """Full KG construction with per-bucket lineage; returns run stats.

    All remaining buckets are processed in ONE Spark job (a per-bucket
    driver loop would serialize the cluster); the manifest rows are
    appended only after the job's writes commit, so a crash anywhere
    leaves previously-done buckets intact and the interrupted buckets
    unrecorded -> recomputed and overwritten on the next run.

    Pre-work is two driver collects: the per-bucket fingerprint
    aggregate and the manifest rows for this input+layout; a run whose
    buckets are all done returns after them.  Every cache the run makes
    is released when it returns or raises.  The graph step runs no
    connected-components pass within MAX_ALIASES (one over it), and its
    canonicalization serves the edges and the global nodes table.

    ``dedup``: exact-dedup the documents BEFORE the annotation kernel
    (the standard production layout: duplicates never pay kernel cost).
    Content key = digest of the full span sequence; the kept
    representative is min(doc_id) per digest — the same keep-rule as
    ops.dedup.exact_dedup — so output equals a run over the unique
    documents.  One hash-agg shuffle on the digest; scale-safe.
    """
    t0 = time.time()
    run_id = uuid.uuid4().hex[:12]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    if dedup:
        d = documents.withColumn("_digest", F.md5(F.to_json("spans")))
        keep = d.groupBy("_digest").agg(F.min("doc_id").alias("doc_id"))
        documents = d.join(keep, ["_digest", "doc_id"], "left_semi") \
            .drop("_digest")

    docs = documents.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))
    fp, bucket_docs = input_fingerprint(docs)
    # one manifest read serves both the skip set (done, same input AND
    # same bucketing: a bucket id means a different document set under
    # a different n_buckets, so another layout never satisfies resume)
    # and the per-bucket attempt lineage: a recomputed bucket's attempt
    # is 1 + its max recorded attempt for this input+layout (crashed
    # attempts append no row, so the counter tracks RECORDED runs)
    skip: set[int] = set()
    prior_attempts: dict[int, int] = {}
    mf = read_manifest(spark, out_dir)
    if mf is not None:
        for r in (mf.filter((F.col("input_fingerprint") == fp)
                            & (F.col("n_buckets") == n_buckets))
                  .select("bucket", "status", "attempt").collect()):
            b = int(r["bucket"])
            prior_attempts[b] = max(prior_attempts.get(b, 0), int(r["attempt"]))
            if resume and r["status"] == "done":
                skip.add(b)
    todo_docs = {b: n for b, n in bucket_docs.items() if b not in skip}
    if not todo_docs:
        return {"run_id": run_id, "processed_buckets": [],
                "skipped_buckets": sorted(skip),
                "docs": 0, "sentences": 0, "triples": 0,
                "wall_ms": int((time.time() - t0) * 1000)}
    todo = docs.filter(~F.col("bucket").isin(*skip)) if skip else docs

    sentences = split_sentences(todo.select("doc_id", "spans"))
    annotated = annotate_sentences_df(sentences, salt_partitions).cache()

    # bucket is a pure function of doc_id — recompute it as an
    # expression on every output stream instead of joining a
    # doc->bucket map (which would add one shuffle per output table)
    def with_bucket(df):
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))

    # cache the narrow mention/triple streams: the linking + graph
    # plans reference them repeatedly and would otherwise re-explode
    # the annotation arrays once per consumer
    mentions = mentions_df(annotated).cache()
    triples = triples_df(annotated).cache()
    caches = [annotated, mentions, triples]
    try:
        linked_canon, canon, edges = _graph_tables(
            mentions, triples, alias_dict, caches)

        # writes (bucket-partitioned; dynamic overwrite = idempotent re-run).
        # Rebalancing on the bucket gives each bucket directory one file per
        # AQE partition, not one per upstream task: AQE coalesces small
        # buckets and splits skewed ones.
        for name, df in (("annotations", annotations_long(annotated)),
                         ("mentions", linked_canon), ("triples", triples),
                         ("edges", edges)):
            with_bucket(df).hint("rebalance", "bucket").write.mode("overwrite") \
                .partitionBy("bucket").parquet(f"{out_dir}/{name}")
        # nodes is GLOBAL and non-partitioned: on a resumed run the
        # in-memory linked_canon covers only recomputed buckets, so rebuild
        # it from the full on-disk mentions table (all buckets) after the
        # per-bucket writes commit — otherwise a partial resume would
        # silently replace the table with a subset-derived one.  canon is
        # the canonicalization the edges used: no second dictionary read.
        nodes_from_linked(spark.read.parquet(f"{out_dir}/mentions"), canon) \
            .write.mode("overwrite").parquet(f"{out_dir}/nodes")

        # per-bucket lineage metrics; doc counts come from the fingerprint
        # aggregate, so only the annotated side needs a job
        ann_counts = {
            int(r["bucket"]): (int(r["sentences"]), int(r["triples"] or 0))
            for r in with_bucket(annotated.select("doc_id", F.size("triples").alias("nt")))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("sentences"),
                                   F.sum("nt").alias("triples")).collect()
        }
        stats = {b: (n, *ann_counts.get(b, (0, 0))) for b, n in sorted(todo_docs.items())}
        manifest_rows = [
            (run_id, b, "done", n, sents, trips,
             prior_attempts.get(b, 0) + 1, fp, n_buckets)
            for b, (n, sents, trips) in stats.items()
        ]
        spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA) \
            .write.mode("append").parquet(f"{out_dir}/manifest")
    finally:  # release executor storage memory, also when a write fails
        for df in caches:
            df.unpersist()
    n_docs, n_sents, n_triples = (sum(col) for col in zip(*stats.values()))
    return {
        "run_id": run_id,
        "processed_buckets": list(stats),
        "skipped_buckets": sorted(skip),
        "wall_ms": int((time.time() - t0) * 1000),
        "docs": n_docs, "sentences": n_sents, "triples": n_triples,
    }
