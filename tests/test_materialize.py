"""Full KG run: outputs, manifest lineage, and mid-run resume; no
connected-components pass per graph build within the alias cap and
one over it; job, broadcast and plan bounds of the graph step;
value-pinned kernel and graph tables; the spark-submit job end to
end."""

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import phonlp_spark.pipeline.cc as cc
import phonlp_spark.pipeline.linking as L
import phonlp_spark.pipeline.materialize as M
from phonlp_spark.pipeline.ingest import synth_documents, _seeded_names
from phonlp_spark.pipeline.linking import build_alias_dict
from phonlp_spark.pipeline.materialize import run_kg

from bench import SF_DIR
from tests.spark_fixtures import spark  # noqa: F401

# the scale-factor-0.001 sibling of the fixture tree bench.py reads
# (entry()'s flagship input)
SF0001 = os.path.join(os.path.dirname(SF_DIR), "sf0.001")

# golden (row count, sha256 over the repr of the sorted full rows) of
# the sf0.001 kernel and graph queries; any change to the annotation
# kernel or the graph step must keep them
KG_PINS = {
    "kg_annotations": (27939, "25214d6a46e3d1a84f1782e328b98159194683807598242aa26630dbeb4153f5"),
    "kg_mentions": (12295, "bca0ee369ec9b690352585dab710178a92ed6294f8aa78a5a8b2595a594216cd"),
    "kg_triples": (1817, "759fed25ff05ee5fa59427da464cd19d6f0bac392e85b04c69c70fb22bd425ee"),
    "kg_nodes": (42, "a066cfbc3c2c162d02a2e9b33ae894f4f2b0c3f7cce8088de31263cdb3ab553b"),
    "kg_edges": (1817, "6880a73255b11c905e662b88fb4f5f81e99258048b2a7b3e9e9cefdd415fc5b8"),
}

# Spark jobs of a run_kg whose buckets are all done: the per-bucket
# fingerprint aggregate and the manifest collect, nothing else
NOOP_RESUME_MAX_JOBS = 3

# Spark jobs of an in-cap build_graph before its outputs are consumed:
# two bounded collects, of the alias dictionary and of the distinct
# mention surfaces (a shuffle stage and the collect each), nothing else
BUILD_GRAPH_MAX_JOBS = 4
# ... and of that build plus one aggregate over its edges: 7 measured
# (4 + 3) on the 60-doc input below; the surface-map cache, UDF stage
# and join-backs it replaced made 13-14 (2 + 11-12)
BUILD_GRAPH_WITH_EDGES_MAX_JOBS = 7


@pytest.fixture()
def out_dir(tmp_path):
    d = str(tmp_path / "kg")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _inputs(spark, n=80):  # noqa: F811
    docs = synth_documents(spark, n, seed=42)
    alias = build_alias_dict(spark, _seeded_names(40, 43))
    return docs, alias


def _annotated(spark, n=60):  # noqa: F811
    from phonlp_spark.pipeline.annotate import annotate_sentences_df
    from phonlp_spark.pipeline.ingest import split_sentences
    docs, alias = _inputs(spark, n)
    return annotate_sentences_df(split_sentences(docs)).cache(), alias


def _jobs_in(sc, group, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _table_sig(spark, path, cols):  # noqa: F811
    df = spark.read.parquet(path).select(*cols)
    return (df.count(),
            df.select(F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]["h"])


def test_full_run_writes_graph_and_manifest(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark)
    stats = run_kg(spark, docs, alias, out_dir, n_buckets=8)
    assert stats["docs"] == 80
    assert stats["triples"] > 0
    assert stats["processed_buckets"] == sorted(set(stats["processed_buckets"]))

    nodes = spark.read.parquet(f"{out_dir}/nodes")
    edges = spark.read.parquet(f"{out_dir}/edges")
    assert nodes.filter("entity_id is null or canonical is null").count() == 0
    assert edges.count() > 0
    # every edge endpoint resolves to a node
    eids = {r["entity_id"] for r in nodes.select("entity_id").collect()}
    for r in edges.select("subj_id", "obj_id").collect():
        assert r["subj_id"] in eids and r["obj_id"] in eids

    mf = spark.read.parquet(f"{out_dir}/manifest")
    assert mf.filter("status = 'done'").count() == len(stats["processed_buckets"])
    assert mf.filter("docs <= 0").count() == 0


def test_bucket_writes_one_file_per_bucket(spark, out_dir):  # noqa: F811
    """The bucket-partitioned writes rebalance on the bucket: on a small
    input each bucket directory holds one file, not one per task."""
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    for table in ("annotations", "mentions", "triples", "edges"):
        buckets = [d for d in os.listdir(f"{out_dir}/{table}") if d.startswith("bucket=")]
        assert len(buckets) > 1, table
        for d in buckets:
            files = [f for f in os.listdir(f"{out_dir}/{table}/{d}")
                     if f.endswith(".parquet")]
            assert len(files) == 1, (table, d, files)


def test_second_run_is_noop(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    again = run_kg(spark, docs, alias, out_dir, n_buckets=8)
    assert again["processed_buckets"] == []
    assert len(again["skipped_buckets"]) > 0


def test_resume_recomputes_only_missing_buckets(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark)
    first = run_kg(spark, docs, alias, out_dir, n_buckets=8)
    sig_before = {
        t: _table_sig(spark, f"{out_dir}/{t}", cols)
        for t, cols in [("triples", ["doc_id", "sent_id", "subj", "pred", "obj"]),
                        ("edges", ["subj_id", "pred", "obj_id", "doc_id"]),
                        ("nodes", ["entity_id", "canonical", "type", "mention_count"])]
    }

    # simulate a mid-run crash: drop manifest rows for 3 buckets
    mf = spark.read.parquet(f"{out_dir}/manifest")
    lost = first["processed_buckets"][:3]
    kept = mf.filter(~F.col("bucket").isin(lost)).collect()
    shutil.rmtree(f"{out_dir}/manifest")
    spark.createDataFrame(kept, mf.schema).write.parquet(f"{out_dir}/manifest")

    second = run_kg(spark, docs, alias, out_dir, n_buckets=8)
    assert sorted(second["processed_buckets"]) == sorted(int(b) for b in lost)
    assert sorted(second["skipped_buckets"]) == sorted(
        b for b in first["processed_buckets"] if b not in lost)

    # outputs byte-identical (order-insensitive) — including the GLOBAL
    # nodes table, which must be rebuilt from all buckets, not just the
    # recomputed ones
    for t, cols in [("triples", ["doc_id", "sent_id", "subj", "pred", "obj"]),
                    ("edges", ["subj_id", "pred", "obj_id", "doc_id"]),
                    ("nodes", ["entity_id", "canonical", "type", "mention_count"])]:
        assert _table_sig(spark, f"{out_dir}/{t}", cols) == sig_before[t]


def test_fingerprint_change_invalidates_resume(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    more = synth_documents(spark, 90, seed=42)  # different input
    res = run_kg(spark, more, alias, out_dir, n_buckets=8)
    assert res["skipped_buckets"] == []  # fingerprint mismatch -> full run


def test_bucket_layout_change_invalidates_resume(spark, out_dir):  # noqa: F811
    """Same input, different n_buckets: bucket ids mean different doc
    sets, so nothing from the old layout may be skipped."""
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    res = run_kg(spark, docs, alias, out_dir, n_buckets=4)
    assert res["skipped_buckets"] == []
    assert res["docs"] == 80


def test_graph_joins_survive_no_broadcast(spark, out_dir):  # noqa: F811
    """With auto-broadcast disabled (the 100-TB shape: distinct
    surfaces exceed any broadcast threshold) the surface-map joins must
    degrade to shuffle joins and produce identical edges."""
    from phonlp_spark.pipeline.annotate import (
        annotate_sentences_df, mentions_df, triples_df)
    from phonlp_spark.pipeline.ingest import split_sentences
    from phonlp_spark.pipeline.materialize import build_graph

    docs, alias = _inputs(spark, n=60)
    ann = annotate_sentences_df(split_sentences(docs)).cache()
    mentions, triples = mentions_df(ann), triples_df(ann)

    def edge_sig():
        _l, nodes, edges = build_graph(mentions, triples, alias)
        cols = ["subj_id", "pred", "obj_id", "doc_id"]
        return (edges.count(), nodes.count(),
                edges.select(F.bit_xor(F.xxhash64(*cols)).alias("h"))
                .collect()[0]["h"])

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    baseline = edge_sig()
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _l, _n, edges = build_graph(mentions, triples, alias)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert edge_sig() == baseline
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        ann.unpersist()


def test_dedup_pre_stage_skips_kernel_for_duplicates(spark, tmp_path):  # noqa: F811
    """dedup=True composes exact dedup ahead of the annotation kernel:
    duplicated input yields the SAME graph as the unique input, and the
    duplicates never reach the kernel (annotation row counts match the
    unique run, not the inflated one)."""
    docs, alias = _inputs(spark, n=30)
    # content duplicates under fresh ids; 'dup_...' sorts after the
    # originals, so min(doc_id) keeps every original row
    dupes = docs.withColumn("doc_id", F.concat(F.lit("dup_"), "doc_id"))
    doubled = docs.unionByName(dupes)

    d_uniq, d_dedup, d_raw = (str(tmp_path / x) for x in ("u", "d", "r"))
    run_kg(spark, docs, alias, d_uniq, n_buckets=4)
    run_kg(spark, doubled, alias, d_dedup, n_buckets=4, dedup=True)
    run_kg(spark, doubled, alias, d_raw, n_buckets=4)

    for table, cols in (("edges", ["subj_id", "pred", "obj_id", "doc_id", "sent_id"]),
                        ("nodes", ["entity_id", "canonical", "type", "mention_count"]),
                        ("annotations", ["doc_id", "sent_id", "token_id", "word"])):
        assert _table_sig(spark, f"{d_dedup}/{table}", cols) == \
            _table_sig(spark, f"{d_uniq}/{table}", cols), table

    n_uniq = spark.read.parquet(f"{d_uniq}/annotations").count()
    n_raw = spark.read.parquet(f"{d_raw}/annotations").count()
    assert n_raw == 2 * n_uniq  # without dedup every duplicate pays the kernel
    for d in (d_uniq, d_dedup, d_raw):
        shutil.rmtree(d, ignore_errors=True)


def test_dedup_resume_interaction(spark, tmp_path):  # noqa: F811
    """Resume fingerprints the DEDUPED input: a second dedup=True run
    over the same (duplicated) source is a no-op, not a recompute."""
    docs, alias = _inputs(spark, n=20)
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.concat(F.lit("dup_"), "doc_id")))
    out = str(tmp_path / "kg")
    first = run_kg(spark, doubled, alias, out, n_buckets=4, dedup=True)
    assert first["processed_buckets"]
    again = run_kg(spark, doubled, alias, out, n_buckets=4, dedup=True)
    assert again["processed_buckets"] == []
    assert sorted(again["skipped_buckets"]) == sorted(
        first["processed_buckets"])
    shutil.rmtree(out, ignore_errors=True)


def test_attempt_counts_per_bucket(spark, out_dir):  # noqa: F811
    """VERDICT r3 #7: the manifest's attempt column is a real
    per-bucket counter over recorded runs of the same input+layout,
    not a global 1/2 flag."""
    docs, alias = _inputs(spark)
    run_kg(spark, docs, alias, out_dir, n_buckets=8)
    mf = spark.read.parquet(f"{out_dir}/manifest")
    assert mf.filter("attempt != 1").count() == 0

    # forced full re-run (resume off): every bucket's second recorded
    # attempt must be exactly 2
    run_kg(spark, docs, alias, out_dir, n_buckets=8, resume=False)
    mf = spark.read.parquet(f"{out_dir}/manifest")
    per_bucket = {r["bucket"]: r["m"]
                  for r in mf.groupBy("bucket")
                  .agg(F.max("attempt").alias("m")).collect()}
    assert all(v == 2 for v in per_bucket.values())

    # and a third run bumps to 3 — a counter, not a flag
    run_kg(spark, docs, alias, out_dir, n_buckets=8, resume=False)
    mf = spark.read.parquet(f"{out_dir}/manifest")
    assert mf.agg(F.max("attempt")).collect()[0][0] == 3


@pytest.fixture()
def cc_calls(monkeypatch):
    calls = []
    real = cc.connected_components

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(cc, "connected_components", counted)
    return calls


def test_build_graph_runs_one_cc(spark, cc_calls, monkeypatch):  # noqa: F811
    """Within MAX_ALIASES the canonicalization comes from the collected
    alias index: no connected-components pass.  Over it, exactly one;
    consuming the lazy nodes table adds none on either route."""
    from phonlp_spark.pipeline.annotate import mentions_df, triples_df

    ann, alias = _annotated(spark)
    try:
        for cap, want in ((L.MAX_ALIASES, 0), (0, 1)):
            monkeypatch.setattr(L, "MAX_ALIASES", cap)
            cc_calls.clear()
            _l, nodes, edges = M.build_graph(mentions_df(ann), triples_df(ann), alias)
            assert len(cc_calls) == want
            assert nodes.count() > 0 and edges.count() > 0
            assert len(cc_calls) == want
    finally:
        ann.unpersist()


def test_run_kg_runs_one_cc(spark, cc_calls, monkeypatch, tmp_path):  # noqa: F811
    docs, alias = _inputs(spark, n=60)
    run_kg(spark, docs, alias, str(tmp_path / "in_cap"), n_buckets=4)
    assert len(cc_calls) == 0
    monkeypatch.setattr(L, "MAX_ALIASES", 0)
    run_kg(spark, docs, alias, str(tmp_path / "over_cap"), n_buckets=4)
    assert len(cc_calls) == 1
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_build_graph_job_count(spark):  # noqa: F811
    from phonlp_spark.pipeline.annotate import mentions_df, triples_df

    ann, alias = _annotated(spark)
    ann.count()  # count the graph step's jobs, not the kernel's
    try:
        mentions, triples = mentions_df(ann), triples_df(ann)
        (_l, _n, edges), n_jobs = _jobs_in(
            spark.sparkContext, f"build-graph-{os.getpid()}",
            lambda: M.build_graph(mentions, triples, alias))
        assert 0 < n_jobs <= BUILD_GRAPH_MAX_JOBS
        r, n_edge_jobs = _jobs_in(
            spark.sparkContext, f"build-graph-edges-{os.getpid()}",
            lambda: edges.agg(F.count(F.lit(1))).first())
        assert r[0] > 0
        assert n_jobs + n_edge_jobs <= BUILD_GRAPH_WITH_EDGES_MAX_JOBS
    finally:
        ann.unpersist()


def test_run_kg_releases_its_broadcasts(spark, monkeypatch, out_dir):  # noqa: F811
    """run_kg makes no broadcast on either in-cap placement: the driver
    resolver, and with its bound at 0 the executor resolver, which
    ships the alias rows in its task, not an n-gram matrix."""
    sc = spark.sparkContext
    real, made = sc.broadcast, []

    def recording(value):
        made.append(value)
        return real(value)

    monkeypatch.setattr(sc, "broadcast", recording)
    docs, alias = _inputs(spark, n=40)
    run_kg(spark, docs, alias, out_dir, n_buckets=4)
    assert not made
    monkeypatch.setattr(L, "MAX_LOCAL_SURFACES", 0)
    run_kg(spark, docs, alias, out_dir + "-executor", n_buckets=4)
    shutil.rmtree(out_dir + "-executor", ignore_errors=True)
    assert not made


def test_run_kg_releases_its_caches_when_a_write_fails(spark, monkeypatch,  # noqa: F811
                                                       out_dir):
    """A failing write propagates, and run_kg still unpersists what it
    cached (annotations, mentions, triples and, past the driver bound,
    the surface map): the persisted-RDD count is what it was."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if path.endswith("/edges"):
            raise RuntimeError("edges write failed")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    docs, alias = _inputs(spark, n=40)
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs
    for cap in (L.MAX_LOCAL_SURFACES, 0):
        monkeypatch.setattr(L, "MAX_LOCAL_SURFACES", cap)
        before = persisted().size()
        with pytest.raises(RuntimeError, match="edges write failed"):
            run_kg(spark, docs, alias, f"{out_dir}-{cap}", n_buckets=4)
        assert persisted().size() == before
        shutil.rmtree(f"{out_dir}-{cap}", ignore_errors=True)


def test_build_graph_leaves_nothing_persisted(spark, monkeypatch):  # noqa: F811
    """build_graph without a cache_registry persists nothing: three
    builds and an edges count each leave the persisted-RDD count as it
    was, on the driver placement and on the executor resolver."""
    from phonlp_spark.pipeline.annotate import mentions_df, triples_df

    ann, alias = _annotated(spark, n=30)
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs
    ann.count()
    try:
        for cap in (L.MAX_LOCAL_SURFACES, 0):
            monkeypatch.setattr(L, "MAX_LOCAL_SURFACES", cap)
            before = persisted().size()
            for _ in range(3):
                _l, _n, edges = M.build_graph(mentions_df(ann), triples_df(ann), alias)
                assert edges.count() > 0
            assert persisted().size() == before
    finally:
        ann.unpersist()


def test_over_cap_graph_forces_no_broadcast(spark, monkeypatch):  # noqa: F811
    """Over MAX_ALIASES canon is dictionary-sized, so nothing in the
    graph step may force a broadcast: with auto-broadcast off too, the
    edges and nodes plans hold no BroadcastHashJoin, and both tables
    equal the in-cap route's."""
    from phonlp_spark.pipeline.annotate import mentions_df, triples_df

    ann, alias = _annotated(spark)
    edge_cols = ["subj_id", "pred", "obj_id", "doc_id", "sent_id"]
    node_cols = ["entity_id", "canonical", "type", "mention_count"]

    def graph_sigs():
        _l, nodes, edges = M.build_graph(mentions_df(ann), triples_df(ann), alias)
        sigs = tuple(
            (df.count(), df.select(F.bit_xor(F.xxhash64(*cols))).first()[0])
            for df, cols in ((edges, edge_cols), (nodes, node_cols)))
        plans = [df._jdf.queryExecution().executedPlan().toString()
                 for df in (edges, nodes)]
        return sigs, plans

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        in_cap, _ = graph_sigs()
        monkeypatch.setattr(L, "MAX_ALIASES", 0)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        over_cap, plans = graph_sigs()
        for plan in plans:
            assert "BroadcastHashJoin" not in plan
        assert over_cap == in_cap
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        ann.unpersist()


def test_noop_resume_job_count(spark, out_dir):  # noqa: F811
    docs, alias = _inputs(spark, n=60)
    run_kg(spark, docs, alias, out_dir, n_buckets=4)
    again, n_jobs = _jobs_in(spark.sparkContext, f"noop-resume-{os.getpid()}",
                             lambda: run_kg(spark, docs, alias, out_dir, n_buckets=4))
    assert again["processed_buckets"] == []
    assert 0 < n_jobs <= NOOP_RESUME_MAX_JOBS


@pytest.mark.skipif(not os.path.isdir(SF0001), reason="sf0.001 fixture absent")
@pytest.mark.parametrize("name, max_aliases", [
    pytest.param(name, cap, id=name + suffix)
    for name in sorted(KG_PINS)
    for cap, suffix in ((None, ""), (0, "-distributed"))
    if cap is None or name in ("kg_nodes", "kg_edges")])
def test_kg_graph_queries_pinned_by_value(spark, monkeypatch, name,  # noqa: F811
                                          max_aliases):
    """Both linking routes reproduce the graph pins: the default
    (broadcast, the sf0.001 inventory is far under MAX_ALIASES) and,
    with the cap at 0, the distributed gram join.  The kernel queries
    do not link, so they run once."""
    import __spark_entry__ as entry
    import phonlp_spark.pipeline.linking as L
    if max_aliases is not None:
        monkeypatch.setattr(L, "MAX_ALIASES", max_aliases)
    rows = sorted(tuple(r) for r in entry.queries()[name](spark, SF0001).collect())
    sha = hashlib.sha256("\n".join(repr(r) for r in rows).encode()).hexdigest()
    assert (len(rows), sha) == KG_PINS[name]


@pytest.mark.skipif(not os.path.isdir(SF0001), reason="sf0.001 fixture absent")
def test_kg_graph_queries_release_their_caches(spark):  # noqa: F811
    """Each kg query run releases the caches the previous run made:
    three runs of kg_edges leave as many persisted RDDs as one."""
    import __spark_entry__ as entry

    def run():
        entry.queries()["kg_edges"](spark, SF0001).count()
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    one = run()
    run()
    assert run() == one


def test_resume_accepts_whole_table_fingerprint(spark, out_dir):  # noqa: F811
    """Manifests record the whole-table fingerprint formula
    (count, bit_xor(xxhash64(doc_id))): the per-bucket aggregate
    combines to the same string, so a manifest written under that
    formula still makes the next run a no-op."""
    docs, alias = _inputs(spark, n=40)
    first = run_kg(spark, docs, alias, out_dir, n_buckets=4)
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("doc_id")), F.lit(0)).alias("h"),
    ).collect()[0]
    mf = spark.read.parquet(f"{out_dir}/manifest")
    assert {r["input_fingerprint"] for r in mf.collect()} == {
        f"{row['n']}:{row['h']:x}"}

    again = run_kg(spark, docs, alias, out_dir, n_buckets=4)
    assert again["processed_buckets"] == []
    assert again["skipped_buckets"] == first["processed_buckets"]


def test_resume_accepts_manifest_with_wall_ms(spark, out_dir):  # noqa: F811
    """Manifests written while every bucket row carried the run's
    wall_ms (ten columns) still resume: their done buckets are skipped,
    a bucket missing from them is recomputed and its row appended next
    to the old files, and the run after that is a no-op."""
    docs, alias = _inputs(spark, n=40)
    first = run_kg(spark, docs, alias, out_dir, n_buckets=4)
    path = f"{out_dir}/manifest"
    old_cols = ["run_id", "bucket", "status", "docs", "sentences", "triples",
                "wall_ms", "attempt", "input_fingerprint", "n_buckets"]
    old = spark.read.parquet(path).withColumn("wall_ms", F.lit(1234).cast("long"))
    lost = first["processed_buckets"][0]
    rows = old.filter(F.col("bucket") != lost).select(*old_cols).collect()
    schema = old.select(*old_cols).schema
    shutil.rmtree(path)
    spark.createDataFrame(rows, schema).write.parquet(path)

    second = run_kg(spark, docs, alias, out_dir, n_buckets=4)
    assert second["processed_buckets"] == [lost]
    again = run_kg(spark, docs, alias, out_dir, n_buckets=4)
    assert again["processed_buckets"] == []
    assert again["skipped_buckets"] == first["processed_buckets"]
    assert again["wall_ms"] > 0


def test_run_kg_job_honours_buckets_and_resume(spark, tmp_path):  # noqa: F811
    """jobs/run_kg_job.py as spark-submit would run it: each run prints
    one JSON line of stats, the first processes every document into
    --buckets buckets, and the second over the same input resumes to a
    no-op."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "kg")
    synth_documents(spark, 40, seed=42).write.parquet(inp)
    job = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "jobs", "run_kg_job.py")
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")

    def run():
        proc = subprocess.run(
            [sys.executable, job, "--input", inp, "--output", out,
             "--buckets", "4", "--master", "local[2]"],
            capture_output=True, text=True, env=env, timeout=600)
        assert proc.returncode == 0, proc.stderr[-2000:]
        lines = proc.stdout.strip().splitlines()
        assert len(lines) == 1, proc.stdout
        return json.loads(lines[0])

    first = run()
    assert first["docs"] == 40
    assert first["processed_buckets"] == [0, 1, 2, 3]
    second = run()
    assert second["processed_buckets"] == []
    assert second["skipped_buckets"] == [0, 1, 2, 3]
    shutil.rmtree(str(tmp_path), ignore_errors=True)
