#!/usr/bin/env python3
"""Regenerate ``perfbench/digests.json``: one expected row digest per
benchmarked gate, computed from the gate's DuckDB oracle SQL (no Spark)
over the committed tables in ``perfbench/data/sf0.01``.

    python3 perfbench/make_digests.py

Run it from the repository root. Only needed when a gate's result set or
the committed tables change on purpose.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from perfbench.gates import DATA_DIR, DIGESTS_PATH, WORKLOADS, digest  # noqa: E402
from stepist_spark.queries import all_queries  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main() -> None:
    specs = all_queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    out = {}
    for gate in sorted({g for gates in WORKLOADS.values() for g in gates}):
        t0 = time.perf_counter()
        res = con.execute(specs[gate].oracle)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[gate] = {"sha256": digest(cols, rows), "rows": len(rows)}
        print(f"{gate}: {len(rows)} rows, oracle {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    doc = {
        "method": (
            "DuckDB oracle SQL of each gate (QuerySpec.oracle) over "
            "perfbench/data/sf0.01, rows normalised by perfbench.gates.normalize_rows, "
            "sha256 of repr((sorted columns, sorted rows)); written by perfbench/make_digests.py"
        ),
        "duckdb": duckdb.__version__,
        "gates": out,
    }
    with open(DIGESTS_PATH, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
