#!/usr/bin/env python
"""Solo gate timing for optimization A/Bs: run a SUBSET of gates
(min-of-N each) in a fresh session with the bench's calibration probe
recorded before and after, so deltas can be read at matched host mode.

Usage:
    python scripts/opt_ab.py q25_percentile_histogram c03_dup_clusters
    SPARK_GRAFT_AB_RUNS=5 python scripts/opt_ab.py t08_jaccard_pairs

Prints one JSON line: {"queries": {...}, "calibration_sec": ...,
"calibration_post_sec": ..., "loadavg_1min": [...]}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: opt_ab.py <gate> [<gate> ...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_AB_RUNS", "3")))
    load0 = os.getloadavg()[0]

    from bench import calibrate, warm_up, warm_up_streaming
    from stepist_spark.queries import all_queries
    from stepist_spark.session import get_spark

    spark = get_spark(app_name="opt_ab")
    # same warm-ups as bench.py so the first gate isn't billed bring-up
    warm_up(spark, sf_dir)
    if any(n.startswith("s0") for n in names):
        warm_up_streaming(spark)

    calib = calibrate(spark)
    registry = all_queries()
    timings: dict[str, float] = {}
    for name in names:
        spec = registry[name]
        best = None
        for _ in range(n_runs):
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
    out = {
        "queries": timings,
        "total": round(sum(timings.values()), 3),
        "calibration_sec": round(calib, 3),
        "calibration_post_sec": round(calibrate(spark), 3),
        "loadavg_1min": [round(load0, 2), round(os.getloadavg()[0], 2)],
    }
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
