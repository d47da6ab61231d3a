"""spark-kg benchmark: seeded KG-construction and near-duplicate workloads.

Run from the repository root:

    python3 perfbench/run.py --workload kg_small --seed 1 --seconds 12 --trace 0

One driver process, one Spark session at ``local[min(4, nproc)]``, and
one job at a time (a closed loop: the next submission starts when the
previous one has returned, the way a batch user submits).  The engine is
driven only through its public functions.

Workloads (inputs come from ``--seed`` through ``gen.py``):

- ``kg_small``: flat docs -> ``interleave_documents`` -> ``split_sentences``
  -> ``annotate_sentences_df(columns=("mentions", "triples"))`` -> alias
  dict from the top-40 surfaces -> ``build_graph`` -> edge count and hash.
- ``dedup``: flat docs with planted near-duplicate clusters through
  ``jaccard_pairs`` and then ``lsh_verified_pairs``.  No kernel runs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
traced submission (Spark event log plus driver-side layer spans, see
``tracing.py``) and prints the per-layer metrics.  The traced ``kg_small``
run also times ``run_kg`` into bucketed parquet and its no-op resume, and
every traced run times the annotation kernel in this process.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics.  Per-iteration telemetry goes to stderr.
"""

from __future__ import annotations

import os
import sys

# single-threaded BLAS in this process: the kernel microbench reports
# one core, and python workers pin themselves the same way
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")  # seeded inputs and oracle rows
WORK = os.path.join(HERE, ".work")    # per-run outputs, event logs, spark dirs

WORKLOADS = ("kg_small", "dedup")
KG_DOCS = 1000           # flat docs, 10-100 tokens each
DEDUP_DOCS = 1000        # flat docs ...
DUP_SHARE = 0.1          # ... of which this share are planted near-copies
MAT_DOCS = 500           # interleaved docs for the traced run_kg
MAT_BUCKETS = 8
N_ALIAS = 40             # alias dict: top-40 mention surfaces
PARITY_SENTENCES = 64    # Spark vs single-process kernel sample
KERNEL_SENTENCES = 256   # kernel microbench sample
# untimed warm submission after the cold one: the JVM is still compiling
# hot paths (kg_small's first warm submission took ~25% more CPU than the
# next ones; dedup's walls keep falling for one more, which the median of
# its three timed submissions absorbs)
WARMUP_ITERS = 1
# timed submissions = --seconds / nominal warm wall on a quiet 4-core
# host, at least MIN_ITERS.  The count is fixed before the run rather
# than by a clock, because the JVM keeps warming up for several
# submissions: a contended run that fit fewer submissions into the same
# seconds would also report less-warmed ones.
NOMINAL_S = {"kg_small": 6.5, "dedup": 4.0}
MIN_ITERS = 2


def log(**rec) -> None:
    print(json.dumps(rec), file=sys.stderr, flush=True)


def _host_env() -> None:
    """Size the session to the host from the outside: python workers
    find the engine through PYTHONPATH, and the driver heap (the
    executor heap in local mode) is clamped well below host memory."""
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1024, min(2048, total_mb // 4))}m"
    # the kernel's native MST solver is compiled into TMPDIR once
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(work: str, event_log: str | None = None):
    from phonlp_spark.pipeline.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # initial heap = max heap: G1 otherwise grows the heap by its
        # own GC-time heuristics, and the JVM's peak RSS (most of
        # rss_peak_mb) varied by 40% between identical runs
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEM']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = min(4, os.cpu_count() or 1)
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process this run
    started (the JVM and its python workers) has exited."""
    import host
    from pyspark import SparkContext

    pids = host.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    host.wait_gone(pids)


# ---------------------------------------------------------------------------
# inputs and oracles
# ---------------------------------------------------------------------------

def inputs(workload: str, seed: int) -> dict:
    import gen

    if workload == "kg_small":
        return {
            "flat": gen.cached_parquet(CACHE, f"flat{KG_DOCS}", seed,
                                       lambda: gen.flat_docs(seed, KG_DOCS)),
            "interleaved": gen.cached_parquet(
                CACHE, f"interleaved{MAT_DOCS}", seed,
                lambda: gen.interleaved_docs(seed, MAT_DOCS)),
            "names": gen.entity_names(seed, N_ALIAS),
            "n_docs": KG_DOCS,
        }
    return {
        "flat": gen.cached_parquet(
            CACHE, f"flat{DEDUP_DOCS}dup{DUP_SHARE}", seed,
            lambda: gen.flat_docs(seed, DEDUP_DOCS, DUP_SHARE)),
        "n_docs": DEDUP_DOCS,
    }


def dedup_oracle(path: str) -> dict:
    """DuckDB rows of the repository's dedup oracles over the generated
    parquet, computed once per input file (untimed) and cached."""
    cached = path + ".oracle.json"
    if not os.path.exists(cached):
        import duckdb

        from __spark_entry__ import oracle_sql
        sql = oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        rows = {q: sorted([list(r) for r in con.execute(sql[f"dedup_{q}"]).fetchall()])
                for q in ("jaccard", "lsh_verified")}
        con.close()
        with open(cached + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(cached + ".tmp", cached)
    with open(cached) as f:
        return json.load(f)


def sample_sentences(path: str, n: int) -> list[list[str]]:
    """The first ``n`` sentences of the flat docs, cut into the flat-doc
    adapter's fixed-size token chunks."""
    import pyarrow.parquet as pq

    from phonlp_spark.pipeline.ingest import SENT_TOKENS
    out = []
    for text in pq.read_table(path, columns=["text"]).column("text").to_pylist():
        toks = text.split(" ")
        out += [toks[i:i + SENT_TOKENS] for i in range(0, len(toks), SENT_TOKENS)]
        if len(out) >= n:
            return out[:n]
    return out


# ---------------------------------------------------------------------------
# workloads: one submission each; ``spans`` set = the traced variant,
# which forces each layer's output (cache + count) so stages do not fuse
# across layers
# ---------------------------------------------------------------------------

def _edges_digest(edges) -> tuple[int, int]:
    """(row count, order-insensitive row hash)."""
    from pyspark.sql import functions as F
    cols = ["subj_id", "pred", "obj_id", "doc_id", "sent_id"]
    r = edges.select(*cols).agg(F.count(F.lit(1)),
                                F.sum(F.hash(*cols).cast("long"))).first()
    return int(r[0]), int(r[1] or 0)


def kg_small(spark, inp: dict, spans=None) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from phonlp_spark.pipeline.annotate import (
        annotate_sentences_df, mentions_df, triples_df)
    from phonlp_spark.pipeline.ingest import interleave_documents, split_sentences
    from phonlp_spark.pipeline.linking import build_alias_dict
    from phonlp_spark.pipeline.materialize import build_graph

    layer = spans.layer if spans else (lambda _name: contextlib.nullcontext())
    info: dict = {}
    flat = spark.read.parquet(inp["flat"])
    with layer("ingest"):
        sents = split_sentences(interleave_documents(flat))
        if spans:
            sents = sents.cache()
            r = sents.agg(F.count(F.lit(1)), F.sum(F.size("tokens"))).first()
            info.update(sentences=int(r[0]), tokens=int(r[1]))
    with layer("annotate"):
        if spans:
            import host
            s0, t0 = host.snapshot(), time.perf_counter()
        mt = annotate_sentences_df(
            sents, salt_partitions=2 * spark.sparkContext.defaultParallelism,
            columns=("mentions", "triples")).cache()
        if spans:
            mt.count()
            info["annotate_cpu_s"] = host.interval(
                s0, host.snapshot(), time.perf_counter() - t0)["cpu_s"]
    with layer("linking"):
        mentions = mentions_df(mt)
        names = [r["text"].replace(" ", "_") for r in
                 mentions.groupBy("text").count()
                 .orderBy(F.col("count").desc(), F.col("text")).limit(N_ALIAS).collect()]
        alias = build_alias_dict(spark, names)
    with layer("graph"):
        _linked, _nodes, edges = build_graph(mentions, triples_df(mt), alias)
        n_edges, digest = _edges_digest(edges)
    info.update(cached=[mt, sents] if spans else [mt], mentions=mentions, alias=alias)
    return {"edges": n_edges, "hash": digest}, info


def dedup(spark, inp: dict, spans=None) -> tuple[dict, dict]:
    from phonlp_spark.ops.dedup import jaccard_pairs, lsh_verified_pairs

    docs = spark.read.parquet(inp["flat"])
    out, info = {}, {"cached": []}
    for name, op in (("jaccard", jaccard_pairs), ("lsh_verified", lsh_verified_pairs)):
        t0 = time.perf_counter()
        ctx = spans.active(name) if spans else contextlib.nullcontext()
        with ctx, (spans.layer("dedup") if spans else contextlib.nullcontext()):
            out[name] = sorted([list(r) for r in op(docs).collect()])
        info[f"{name}_s"] = time.perf_counter() - t0
    return out, info


def release(info: dict) -> None:
    for df in info.get("cached", []):
        df.unpersist()


def check(workload: str, out: dict, ref: dict) -> bool:
    if workload == "kg_small":
        return out["edges"] > 0 and out == ref
    return out == ref


def kernel_parity(spark, inp: dict) -> bool:
    """Spark mentions/triples equal single-process ``annotate_sentences``
    on a fixed sentence sample."""
    from phonlp_spark.kernel import annotate_sentences
    from phonlp_spark.pipeline.annotate import annotate_sentences_df

    sample = sample_sentences(inp["flat"], PARITY_SENTENCES)
    df = spark.createDataFrame(
        [("d", 0, i, toks) for i, toks in enumerate(sample)],
        "doc_id string, span_idx int, sent_id int, tokens array<string>")
    rows = sorted(annotate_sentences_df(df, columns=("mentions", "triples")).collect(),
                  key=lambda r: r["sent_id"])
    want = annotate_sentences(sample)
    return len(rows) == len(want) and all(
        [tuple(m) for m in r["mentions"]] == [tuple(m) for m in w["mentions"]]
        and [tuple(t) for t in r["triples"]] == [tuple(t) for t in w["triples"]]
        for r, w in zip(rows, want))


# ---------------------------------------------------------------------------
# end-to-end run (--trace 0)
# ---------------------------------------------------------------------------

WORKLOAD_FNS = {"kg_small": kg_small, "dedup": dedup}


def run_untraced(workload: str, inp: dict, seconds: float, work: str) -> dict:
    import host

    fn = WORKLOAD_FNS[workload]
    attempted = failed = 0
    t0 = time.perf_counter()
    spark = start_session(work)
    ref, info = fn(spark, inp)           # first (cold) submission
    setup_s = time.perf_counter() - t0
    release(info)
    attempted += 1
    if workload == "dedup":
        ref_ok = ref == dedup_oracle(inp["flat"])
    else:
        ref_ok = ref["edges"] > 0 and kernel_parity(spark, inp)
        attempted += 1
    failed += int(not ref_ok)
    log(phase="setup", setup_s=setup_s, reference_ok=ref_ok)

    walls, cpus = [], []
    n_timed = max(MIN_ITERS, round(seconds / NOMINAL_S[workload]))
    for n in range(1, WARMUP_ITERS + n_timed + 1):
        warm = n <= WARMUP_ITERS
        attempted += 1
        s0, w0 = host.snapshot(), time.perf_counter()
        try:
            out, info = fn(spark, inp)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        wall = time.perf_counter() - w0
        tel = host.interval(s0, host.snapshot(), wall)
        release(info)
        ok = check(workload, out, ref)
        failed += int(not ok)
        log(iteration=n, warmup=warm, wall_s=wall, ok=ok, **tel)
        if not warm:
            walls.append(wall)
            cpus.append(tel["cpu_s"])
    hwm = host.tree_hwm()
    rss = sum(mb for _name, mb in hwm.values())
    stop_session(spark)
    # docs/s is telemetry, not a metric: the host's steal swings every
    # wall by up to ~75% between minutes, past any bound a metric can
    # hold (see README.md)
    log(phase="summary", samples=len(walls), walls=walls,
        docs_per_s=inp["n_docs"] / statistics.median(walls), hwm_mb=sorted(hwm.values()))
    return {
        "correct": ref_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "cpu_core_s": {"value": statistics.median(cpus), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "rss_peak_mb": {"value": rss, "unit": "MB"},
        },
    }


# ---------------------------------------------------------------------------
# traced run (--trace 1)
# ---------------------------------------------------------------------------

def kernel_microbench(inp: dict) -> dict:
    """Single-process kernel timings on a fixed sample."""
    import numpy as np

    from phonlp_spark.kernel import mst
    from phonlp_spark.kernel.annotate import AnnotationKernel
    from phonlp_spark.kernel.viterbi import viterbi_batch

    sample = sample_sentences(inp["flat"], KERNEL_SENTENCES)
    k = AnnotationKernel()
    k.annotate(sample[:16])
    ann = []
    for _ in range(3):
        t0 = time.perf_counter()
        k.annotate(sample)
        ann.append(time.perf_counter() - t0)
    rng = np.random.default_rng(0)
    scores = rng.standard_normal((21, 21))
    mst_t = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(200):
            mst.mst_single_root(scores)
        mst_t.append((time.perf_counter() - t0) / 200)
    em = rng.standard_normal((64, 30, 9))
    lengths = rng.integers(5, 31, 64)
    trans = rng.standard_normal((9, 9))
    vit = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(10):
            viterbi_batch(em, lengths, trans)
        vit.append((time.perf_counter() - t0) / (10 * 64))
    return {
        "kernel.sent_per_s_1core": len(sample) / statistics.median(ann),
        "kernel.mst_us_per_call": statistics.median(mst_t) * 1e6,
        # the solver the dispatcher picked: 1 = compiled C, 0 = numpy
        "kernel.mst_native": float(mst._native_fn() is not None),
        "kernel.viterbi_us_per_sent": statistics.median(vit) * 1e6,
    }


def fanout_probe(spark, path: str) -> dict:
    from phonlp_spark.ops.fanout import fan_out

    df = spark.read.parquet(path)
    before = df.rdd.getNumPartitions()
    after = fan_out(df).rdd.getNumPartitions()
    return {"fanout.fired": float(after != before), "fanout.width": float(after)}


def materialize_traced(spark, inp: dict, work: str) -> tuple[dict, dict, int]:
    """``run_kg`` into a fresh dir, then again on the same dir (a no-op
    resume), traced; checks the manifest, the resume and the on-disk
    edges against an in-memory ``build_graph`` over the same input."""
    import pyarrow.parquet as pq

    import tracing
    from phonlp_spark.pipeline.annotate import (
        annotate_sentences_df, mentions_df, triples_df)
    from phonlp_spark.pipeline.ingest import split_sentences
    from phonlp_spark.pipeline.linking import build_alias_dict
    from phonlp_spark.pipeline.materialize import build_graph, run_kg

    out_dir = os.path.join(work, "kg_out")
    alias = build_alias_dict(spark, inp["names"])
    docs = spark.read.parquet(inp["interleaved"])
    spans = tracing.Spans(spark.sparkContext)
    t0 = time.perf_counter()
    with spans.active("materialize"), spans.layer("materialize"):
        run_kg(spark, docs, alias, out_dir, n_buckets=MAT_BUCKETS)
    wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    with spans.active("resume"), spans.layer("materialize"):
        resumed = run_kg(spark, docs, alias, out_dir, n_buckets=MAT_BUCKETS)
    resume_s = time.perf_counter() - t0

    manifest = pq.read_table(os.path.join(out_dir, "manifest")).to_pylist()
    mt = annotate_sentences_df(split_sentences(docs),
                               columns=("mentions", "triples")).cache()
    _l, _n, edges = build_graph(mentions_df(mt), triples_df(mt), alias)
    want = _edges_digest(edges)
    mt.unpersist()
    got = _edges_digest(spark.read.parquet(os.path.join(out_dir, "edges")))
    checks = {
        "manifest_buckets": sorted(r["bucket"] for r in manifest) == list(range(MAT_BUCKETS)),
        "manifest_docs": sum(r["docs"] for r in manifest) == MAT_DOCS,
        "resume_noop": resumed["processed_buckets"] == [],
        "edges_match": got == want and got[0] > 0,
    }
    log(phase="materialize", wall_s=wall, resume_s=resume_s, **checks)
    return ({"wall_s": wall, "resume_s": resume_s, "busy": spans.busy},
            checks, sum(not ok for ok in checks.values()))


def run_traced(workload: str, inp: dict, work: str) -> dict:
    import host
    import tracing

    fn = WORKLOAD_FNS[workload]
    event_dir = os.path.join(work, "events")
    attempted = failed = 0
    t0 = time.perf_counter()
    spark = start_session(work, event_log=event_dir)
    start_s = time.perf_counter() - t0
    ref, info = fn(spark, inp)          # cold
    release(info)
    if workload == "dedup":
        ref_ok = ref == dedup_oracle(inp["flat"])
    else:
        ref_ok = ref["edges"] > 0
    attempted += 1
    failed += int(not ref_ok)

    untraced = []  # a warm-up submission, then the untraced reference
    for _ in range(1 + WARMUP_ITERS):
        w0 = time.perf_counter()
        out, info = fn(spark, inp)
        untraced.append(time.perf_counter() - w0)
        release(info)
        attempted += 1
        failed += int(not check(workload, out, ref))

    m: dict = {"session.start_s": start_s}
    m.update(fanout_probe(spark, inp["flat"]))
    spans = tracing.Spans(spark.sparkContext)
    s0, w0 = host.snapshot(), time.perf_counter()
    if workload == "kg_small":
        with spans.active("kg"):
            out, info = fn(spark, inp, spans=spans)
    else:
        out, info = fn(spark, inp, spans=spans)
    traced_wall = time.perf_counter() - w0
    tel = host.interval(s0, host.snapshot(), traced_wall)
    attempted += 1
    failed += int(not check(workload, out, ref))

    mat = None
    if workload == "kg_small":
        from pyspark.sql import functions as F

        from phonlp_spark.pipeline import cc, linking
        nsurf = info["mentions"].select(
            linking.norm_surface(F.col("text")).alias("nsurf")).distinct()
        alias_norm = info["alias"].select(
            linking.norm_surface(F.col("alias")).alias("nsurf")).distinct()
        surfaces = nsurf.count()
        exact = nsurf.join(alias_norm, "nsurf").count()
        cc_edges = linking.same_as_edges(info["alias"]).count()
        m.update({
            "linking.surfaces": float(surfaces),
            "linking.exact_hit_ratio": exact / max(surfaces, 1),
            # 0 = collected + broadcast alias matrix, 1 = distributed gram join
            "linking.route": float(alias_norm.count() > linking.MAX_ALIASES),
            "cc.edges": float(cc_edges),
            # 0 = driver union-find, 1 = distributed alternating stars
            "cc.path": float(cc_edges > cc.SMALL_GRAPH_EDGES),
            "graph.edges": float(out["edges"]),
            "ingest.sentences": float(info["sentences"]),
            "ingest.tokens": float(info["tokens"]),
        })
        release(info)
        mat, checks, mat_failed = materialize_traced(spark, inp, work)
        attempted += len(checks)
        failed += mat_failed
    else:
        from phonlp_spark.ops.dedup import lsh_candidate_pairs
        cand = lsh_candidate_pairs(spark.read.parquet(inp["flat"])).count()
        m.update({"dedup.jaccard_s": info["jaccard_s"],
                  "dedup.lsh_verified_s": info["lsh_verified_s"],
                  "dedup.verified_ratio": len(out["lsh_verified"]) / max(cand, 1)})
    stop_session(spark)

    events = tracing.read_events(event_dir)
    m.update(kernel_microbench(inp))
    m.update(layer_metrics(workload, events, spans.busy, info, mat, out))
    busy = sum(v for k, v in spans.busy.items() if k != "other")
    m.update({
        "host.steal_cores": tel["steal_cores"],
        "host.ext_cores": tel["ext_cores"],
        "trace.wall_s": traced_wall,
        "trace.untraced_s": untraced[-1],
        "trace.overhead_s": traced_wall - untraced[-1],
        "trace.busy_share": busy / traced_wall,
    })
    log(phase="trace", busy=spans.busy, traced_wall=traced_wall, untraced=untraced)
    return {
        "correct": ref_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(m.get(name, 0.0)), "unit": unit}
                    for name, unit in PER_LAYER},
    }


def layer_metrics(workload: str, events: list, busy: dict, info: dict,
                  mat: dict | None, out: dict) -> dict:
    import tracing

    m: dict = {f"{layer}.busy_s": busy.get(layer, 0.0)
               for layer in ("fanout", "ingest", "annotate", "linking", "cc", "graph")}
    if workload == "kg_small":
        kg = tracing.layer_totals(events, "kg")
        for layer in ("ingest", "linking", "cc", "graph"):
            m[f"{layer}.jobs"] = kg.get(layer, {}).get("jobs", 0)
        m["graph.shuffle_write_mb"] = kg.get("graph", {}).get("shuffle_write_mb", 0.0)
        k = kg["kernel"]
        m.update({
            "annotate.executor_cpu_s": info["annotate_cpu_s"],
            "annotate.sent_per_core_s": info["sentences"] / max(info["annotate_cpu_s"], 1e-9),
            "annotate.tasks": k["tasks"],
            "annotate.task_skew": k["task_skew"],
            "annotate.failed_tasks": k["failed_tasks"],
        })
        mt, rs = tracing.layer_totals(events, "materialize"), tracing.layer_totals(events, "resume")
        own = mt.get("materialize", {})
        m.update({
            "materialize.busy_s": mat["busy"].get("materialize", 0.0),
            "materialize.wall_s": mat["wall_s"],
            "materialize.jobs": mt["total_jobs"],
            "materialize.pre_work_jobs": mt["first_kernel_job"],
            "materialize.write_s": own.get("write_job_s", 0.0),
            "materialize.bytes_written_mb": sum(
                v["output_mb"] for k2, v in mt.items() if isinstance(v, dict) and k2 != "kernel"),
            "materialize.resume_jobs": rs["total_jobs"],
            "materialize.resume_s": mat["resume_s"],
        })
    else:
        jac, lsh = tracing.layer_totals(events, "jaccard"), tracing.layer_totals(events, "lsh_verified")
        layers = [v for t in (jac, lsh) for k2, v in t.items()
                  if isinstance(v, dict) and k2 != "kernel"]
        pair_records = jac.get("dedup", {}).get("shuffle_records", 0)
        m.update({
            "dedup.shuffle_write_mb": sum(v["shuffle_write_mb"] for v in layers),
            "dedup.spill_mb": sum(v["spill_mb"] for v in layers),
            "dedup.pair_records": pair_records,
            "dedup.kept_ratio": len(out["jaccard"]) / max(pair_records, 1),
        })
    return m


# name, unit; the layer each belongs to is the part before the dot
PER_LAYER = [
    ("session.start_s", "s"),
    ("fanout.fired", "count"), ("fanout.width", "count"), ("fanout.busy_s", "s"),
    ("ingest.busy_s", "s"), ("ingest.jobs", "count"),
    ("ingest.sentences", "count"), ("ingest.tokens", "count"),
    ("annotate.busy_s", "s"), ("annotate.executor_cpu_s", "s"),
    ("annotate.sent_per_core_s", "1/s"), ("annotate.tasks", "count"),
    ("annotate.task_skew", "ratio"), ("annotate.failed_tasks", "count"),
    ("kernel.sent_per_s_1core", "1/s"), ("kernel.mst_us_per_call", "us"),
    ("kernel.mst_native", "flag"), ("kernel.viterbi_us_per_sent", "us"),
    ("linking.busy_s", "s"), ("linking.jobs", "count"), ("linking.surfaces", "count"),
    ("linking.exact_hit_ratio", "ratio"), ("linking.route", "code"),
    ("cc.busy_s", "s"), ("cc.jobs", "count"), ("cc.edges", "count"), ("cc.path", "code"),
    ("graph.busy_s", "s"), ("graph.jobs", "count"),
    ("graph.shuffle_write_mb", "MB"), ("graph.edges", "count"),
    ("materialize.busy_s", "s"), ("materialize.wall_s", "s"), ("materialize.jobs", "count"),
    ("materialize.pre_work_jobs", "count"), ("materialize.write_s", "s"),
    ("materialize.bytes_written_mb", "MB"), ("materialize.resume_jobs", "count"),
    ("materialize.resume_s", "s"),
    ("dedup.jaccard_s", "s"), ("dedup.lsh_verified_s", "s"),
    ("dedup.shuffle_write_mb", "MB"), ("dedup.spill_mb", "MB"),
    ("dedup.pair_records", "count"), ("dedup.kept_ratio", "ratio"),
    ("dedup.verified_ratio", "ratio"),
    ("host.steal_cores", "cores"), ("host.ext_cores", "cores"),
    ("trace.wall_s", "s"), ("trace.untraced_s", "s"),
    ("trace.overhead_s", "s"), ("trace.busy_share", "ratio"),
]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import bench  # noqa: F401  (CPU snapshots, see host.py)
        import phonlp_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    _host_env()
    inp = inputs(args.workload, args.seed)
    if args.workload == "dedup":
        dedup_oracle(inp["flat"])  # untimed, before any session
    work = os.path.join(WORK, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.trace:
            res = run_traced(args.workload, inp, work)
        else:
            res = run_untraced(args.workload, inp, args.seconds, work)
    except BaseException:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        if spark is not None:  # a run that fails still ends its JVM and workers
            stop_session(spark)
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
