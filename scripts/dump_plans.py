#!/usr/bin/env python
"""Dump .explain("formatted") for registered BATCH gates into
plans/r11/<gate>_<suffix>.txt (optimization-round deliverable: the
judge checks plan claims against these files).

Streaming gates (s01-s05) execute drains inside the gate FUNCTION;
their returned DataFrame is a read of an already-materialized sink, so
a plan dump is not meaningful — they are skipped here and documented
via PART_WALL offsets (streaming.runtime.drain) and micro-batch shapes
from a StreamingQueryListener (scripts/s05_probe.py) instead.

Usage:
    python scripts/dump_plans.py before            # every batch gate
    python scripts/dump_plans.py after q25_... t16_...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP_PREFIXES = ("s01", "s02", "s03", "s04", "s05")
# gates with filesystem side effects / drains inside the builder whose
# returned frame is a sink read-back — plan of the read-back is noise
SKIP_EXACT = {"w01_sink_roundtrip", "w02_envelope_roundtrip"}


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    round_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR", "r12")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", round_dir,
    )
    os.makedirs(out_dir, exist_ok=True)

    from stepist_spark.queries import all_queries
    from stepist_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    jvm = spark.sparkContext._jvm
    failed: list[str] = []
    for name, spec in all_queries().items():
        if only and name not in only:
            continue
        if name.startswith(SKIP_PREFIXES) or name in SKIP_EXACT:
            continue
        try:
            df = spec.spark(spark, sf_dir)
            mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            txt = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # keep dumping the rest
            txt = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
            failed.append(name)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()
    # a failure marker is NOT a plan artifact — exit non-zero so a
    # broken dump can't ship unnoticed (round-11 ADVICE)
    if failed:
        print(f"EXPLAIN FAILED for: {', '.join(failed)}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
