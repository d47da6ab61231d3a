"""Where a perfbench submission's CPU goes: driver Python, JVM, Python
workers, and the JVM by thread class.

Usage (from the repository root):

    python tools/cpu_split.py --workload kg_small --seed 301 --submissions 5

Runs perfbench's own workload functions (read-only import of
``perfbench/run.py``) in one session sized the way perfbench sizes it:
one cold submission, then ``--submissions`` warm ones.  For each it
prints the CPU seconds (utime + stime from ``/proc``) of

- ``driver``: this Python process;
- ``jvm``: the Spark JVM, split by thread class read from
  ``/proc/<pid>/task/*/stat``: ``c2`` / ``c1`` (JIT compilers),
  ``executor`` (task threads), ``py4j`` (the gateway's connection
  threads, where the driver's planning calls run), ``gc`` (GC and VM
  threads), ``other`` (live threads of no class above) and ``exited``
  (threads that ended during the submission);
- ``workers``: the Python workers and their daemon, counting the ones
  that exited and were reaped during the submission.

The last line of stdout is a JSON object with every submission's split.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLK = os.sysconf("SC_CLK_TCK")

# thread-name prefixes (the kernel keeps the first 15 bytes) per class
THREAD_CLASSES = (
    ("c2", ("C2 CompilerThre",)),
    ("c1", ("C1 CompilerThre",)),
    ("executor", ("Executor task",)),
    ("py4j", ("Thread-",)),
    ("gc", ("GC Thread", "G1 ", "VM Thread", "VM Periodic")),
)


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            st = f.read()
    except OSError:
        return None
    return st[st.index("(") + 1:st.rindex(")")], st[st.rindex(")") + 2:].split()


def _ticks(fields: list[str], children: bool = False) -> int:
    """utime + stime, plus the reaped children's when asked."""
    n = int(fields[11]) + int(fields[12])
    return n + int(fields[13]) + int(fields[14]) if children else n


def _thread_class(name: str) -> str:
    for cls, prefixes in THREAD_CLASSES:
        if name.startswith(prefixes):
            return cls
    return "other"


def snapshot(descendants) -> dict:
    """Ticks of this process, of each JVM and of its threads, and of
    each Python worker (with its reaped children)."""
    snap = {"driver": _ticks(_stat(f"/proc/{os.getpid()}/stat")[1]),
            "jvm": {}, "threads": {}, "workers": {}}
    for pid in descendants():
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        name, fields = st
        if name == "java":
            snap["jvm"][pid] = _ticks(fields)
            for tid in os.listdir(f"/proc/{pid}/task"):
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t is not None:
                    snap["threads"][(pid, int(tid))] = (t[0], _ticks(t[1]))
        elif name.startswith("python"):
            snap["workers"][pid] = _ticks(fields, children=True)
    return snap


def split(s0: dict, s1: dict) -> dict:
    """CPU seconds between two snapshots; a process or thread that is
    new in ``s1`` counts from zero."""
    def delta(d0, d1):
        return sum(v - d0.get(k, 0) for k, v in d1.items()) / CLK

    by_class = dict.fromkeys([c for c, _ in THREAD_CLASSES] + ["other"], 0.0)
    for key, (name, ticks) in s1["threads"].items():
        by_class[_thread_class(name)] += (ticks - s0["threads"].get(key, ("", 0))[1]) / CLK
    jvm = delta(s0["jvm"], s1["jvm"])
    by_class["exited"] = jvm - sum(by_class.values())
    return {"driver": (s1["driver"] - s0["driver"]) / CLK, "jvm": jvm,
            "workers": delta(s0["workers"], s1["workers"]),
            "jvm_threads": by_class}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("kg_small", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--submissions", type=int, default=5,
                    help="warm submissions after the cold one")
    args = ap.parse_args(argv)

    sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]
    import host
    import run as perfbench

    perfbench._host_env()
    inp = perfbench.inputs(args.workload, args.seed)
    fn = perfbench.WORKLOAD_FNS[args.workload]
    rows = []
    with tempfile.TemporaryDirectory(prefix="cpu_split-") as work:
        spark = perfbench.start_session(work)
        try:
            ref = None
            for n in range(args.submissions + 1):
                s0, w0 = snapshot(host.descendants), time.perf_counter()
                out, info = fn(spark, inp)
                wall = time.perf_counter() - w0
                row = split(s0, snapshot(host.descendants))
                perfbench.release(info)
                ref = out if ref is None else ref  # checked against the cold run
                row.update(submission=n, cold=n == 0, wall_s=wall,
                           ok=perfbench.check(args.workload, out, ref))
                rows.append(row)
                th = row["jvm_threads"]
                print(f"#{n}{' cold' if n == 0 else ''}  wall {wall:5.2f}s  "
                      f"driver {row['driver']:5.2f}  jvm {row['jvm']:5.2f}  "
                      f"workers {row['workers']:5.2f}  | jvm: "
                      + "  ".join(f"{k} {v:.2f}" for k, v in th.items()),
                      flush=True)
        finally:
            perfbench.stop_session(spark)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "submissions": rows}))
    return 0 if all(r["ok"] for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
