"""Size linking's driver bound: time both in-cap placements per shape.

Usage (from the repository root):

    python tools/link_bound.py [--runs 5] [--shapes NAME ...]

For each shape below it builds an alias dictionary and a cached frame
of distinct normalized surfaces, then times ``link_surfaces`` plus one
aggregate over its rows on the two placements that
``linking.MAX_LOCAL_SURFACES`` chooses between, in one warm
``get_spark("local[4]")`` session:

- ``driver``: the bound raised to admit the shape (surfaces and
  misses x alias surfaces), so the surfaces are collected and resolved
  on the driver; skipped where that exceeds 2^31 - 2 (the collect's
  ``limit`` takes an int), as for ``miss10_120k_of_200k``;
- ``executor``: the bound set to 0, so linking runs in Spark.

One untimed run of each placement warms the session; then the
placements alternate, ``--runs`` timed runs each.  One JSON line per
shape: the median and every run per placement (seconds), and whether
both placements gave the same surface -> entity map (a hash over it).
The tool reads only ``link_surfaces``, ``build_alias_dict`` and the
module constant, so it runs unchanged on any tree that has them.

Shapes (name: distinct surfaces, of which misses, on a dictionary of
this many alias surfaces):

- ``miss_100k``: 100,000, all misses, 1;
- ``miss_200k``: 200,000, all misses, 1;
- ``miss_200x500``: 200, all misses, 500;
- ``hit_100k_of_200k``: 100,000, none, 200,000;
- ``miss10_120k_of_200k``: 120,000, 12,000, 200,000.

The two 200,000-surface dictionaries make a 1.6 GB n-gram matrix
wherever a resolver or UDF scores a miss; ``miss10_120k_of_200k``
builds one per concurrent task on a placement that scores misses in
Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SHAPES = {
    "miss_100k": (100_000, 100_000, 1),
    "miss_200k": (200_000, 200_000, 1),
    "miss_200x500": (200, 200, 500),
    "hit_100k_of_200k": (100_000, 0, 200_000),
    "miss10_120k_of_200k": (120_000, 12_000, 200_000),
}
WORDS = ("hà nội", "sài gòn", "công ty", "ngân hàng", "đại học", "bệnh viện",
         "thương mại", "xây dựng", "nông nghiệp", "du lịch")


def _shape_frames(spark, n_surfaces: int, n_misses: int, n_aliases: int):
    """(alias dict, cached distinct surfaces): alias i is the 2-part name
    'đơn vị <i>_<word>' (one normalized surface); hits are the first
    aliases' normalized surfaces, misses alternate a near variant of an
    alias (one character dropped) with unrelated text."""
    import pyarrow as pa

    from phonlp_spark.pipeline.linking import build_alias_dict

    names = [f"đơn vị {i:06d}_{WORDS[i % len(WORDS)]}" for i in range(n_aliases)]
    alias = build_alias_dict(spark, names)
    norm = [n.replace("_", " ").lower() for n in names]
    hits = [norm[i % n_aliases] for i in range(n_surfaces - n_misses)]
    misses = [norm[i % n_aliases][:-3] + norm[i % n_aliases][-2:] + f" {i}"
              if i % 2 else f"khác biệt {i:07d} zq" for i in range(n_misses)]
    surfaces = (spark.createDataFrame(pa.table({"nsurf": hits + misses}))
                .distinct().cache())
    assert surfaces.count() == n_surfaces
    return alias, surfaces


def _timed(link_surfaces, surfaces, alias):
    """(seconds, rows, hash) of link_surfaces plus one aggregate."""
    t0 = time.perf_counter()
    r = (link_surfaces(surfaces, alias)
         .agg(F.count(F.lit(1)).alias("n"),
              F.bit_xor(F.xxhash64("nsurf", "entity_id")).alias("h"))
         .first())
    return time.perf_counter() - t0, r["n"], r["h"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--shapes", nargs="*", default=list(SHAPES),
                    choices=list(SHAPES))
    args = ap.parse_args()

    import phonlp_spark.pipeline.linking as L
    from phonlp_spark.pipeline.session import get_spark

    spark = get_spark("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    default_bound = L.MAX_LOCAL_SURFACES
    for name in args.shapes:
        n_surfaces, n_misses, n_aliases = SHAPES[name]
        alias, surfaces = _shape_frames(spark, n_surfaces, n_misses, n_aliases)
        driver = max(default_bound, n_surfaces, n_misses * n_aliases)
        # the collect's limit() takes an int: a shape past that has no
        # driver placement
        bounds = {"executor": 0, **({"driver": driver} if driver < 2**31 - 1 else {})}
        times: dict[str, list[float]] = {p: [] for p in bounds}
        results = set()
        try:
            for i in range(args.runs + 1):
                for placement in list(bounds)[::-1 if i % 2 else 1]:
                    L.MAX_LOCAL_SURFACES = bounds[placement]
                    secs, n, h = _timed(L.link_surfaces, surfaces, alias)
                    results.add((n, h))
                    if i:  # the first round warms the session
                        times[placement].append(round(secs, 3))
        finally:
            L.MAX_LOCAL_SURFACES = default_bound
            surfaces.unpersist()
        print(json.dumps({
            "shape": name, "surfaces": n_surfaces, "misses": n_misses,
            "alias_surfaces": n_aliases, "runs": args.runs,
            **{f"{p}_median_s": round(statistics.median(t), 3)
               for p, t in times.items()},
            **{f"{p}_s": t for p, t in times.items()},
            "same_result": len(results) == 1}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
