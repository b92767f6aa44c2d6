#!/usr/bin/env python
"""s05 drain-wall regression probe (round-11 verdict #1), the committed
s03 template from round 10: min-of-3, calibrated, sibling-controlled,
with per-query micro-batch progress dumps and an ORDER permutation to
test the "m01 jpg Python-worker pool slows later streaming gates"
hypothesis.

Usage:
    python scripts/s05_probe.py            # s05 first (cold streaming)
    python scripts/s05_probe.py --m01-first  # run m01 once before s05

Prints one JSON document with: loadavg before/after, calibration_sec
(min-of-3, bench.py's exact probe), per-run s05 gate wall + PART_WALL
offsets + micro-batch shapes keyed by query id (input rows, addBatch
and trigger ms, state rows/bytes per batch, from a
StreamingQueryListener), and the s03 sibling control. Run each permutation in its OWN process (fresh
JVM) on a quiet host; never concurrently with another Spark session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    m01_first = "--m01-first" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    from bench import calibrate, warm_up, warm_up_streaming
    from perfbench.tracer import make_listener
    from stepist_spark.queries import PART_WALL, all_queries
    from stepist_spark.session import get_spark

    spark = get_spark(app_name="s05_probe")
    listener = make_listener()
    spark.streams.addListener(listener)
    out: dict = {
        "m01_first": m01_first,
        "sf_dir": sf_dir,
        "loadavg_before": [round(x, 2) for x in os.getloadavg()],
    }

    # bench.py's warm-ups so the first measured drain isn't billed
    # engine bring-up (parquet footers, codegen, Python/Arrow, streaming)
    warm_up(spark, sf_dir)
    warm_up_streaming(spark)

    out["calibration_sec"] = round(calibrate(spark), 3)

    registry = all_queries()
    if m01_first:
        t0 = time.perf_counter()
        registry["m01_media_features"].spark(spark, sf_dir).collect()
        out["m01_wall"] = round(time.perf_counter() - t0, 3)

    def run_gate(name: str, runs: int) -> list[dict]:
        results = []
        for _ in range(runs):
            seen = len(listener.events)
            t0 = time.perf_counter()
            registry[name].spark(spark, sf_dir).collect()
            wall = round(time.perf_counter() - t0, 3)
            n = -1
            while n != len(listener.events):  # let queued progress events land
                n = len(listener.events)
                time.sleep(0.5)
            progress: dict[str, list[dict]] = {}
            for _ts, qid, rows, add_s, trig_s, st_rows, st_bytes in listener.events[seen:]:
                progress.setdefault(qid, []).append(
                    {
                        "numInputRows": rows,
                        "addBatchMs": round(add_s * 1000),
                        "triggerMs": round(trig_s * 1000),
                        "stateRows": st_rows,
                        "stateMemory": st_bytes,
                    }
                )
            results.append(
                {
                    "wall": wall,
                    "part_wall": dict(PART_WALL.get(name, {})),
                    "progress": progress,
                }
            )
        return results

    out["s05_runs"] = run_gate("s05_stream_dedup", n_runs)
    out["s03_runs"] = run_gate("s03_stream_interval_join", n_runs)
    out["calibration_sec_post"] = round(calibrate(spark), 3)
    out["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
