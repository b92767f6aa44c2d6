"""sf1 confidence run (round-3 VERDICT #8): synthesize a 10x-scaled
copy of the sf0.1 testdata under the repo scratch dir and run EVERY
registered gate against it, recording wall times.

Purpose is not correctness (no oracle at this scale) but smoking out
hidden driver-side materialization the toy scale hides — the BPE
candidate fetch, the clusters convergence probe, p02's counter collect
are all believed bounded; this proves it, and catches any OOM/driver
blowup before a real cluster would.

Scaling rules (keeps join relationships intact):
- fact tables replicate 10x with key shifts that preserve foreign keys
  into the dimension tables (orderkeys shift together on both sides);
- documents get a per-replica text suffix so dedup outputs stay
  realistic instead of exploding into 10-way duplicate groups;
- embeddings perturb one coordinate per replica so ANN top-k isn't a
  10-way tie;
- dimensions (region/nation/customer/supplier/part) copy as-is.

Usage:  python scripts/sf1_smoke.py [--rebuild] [--only q01,t19,...]
Writes: spark-warehouse/stepist_scratch/sf1/*.parquet  (~10x sf0.1)
Prints: one line per gate (seconds + row count), then a JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

K = 10  # replication factor: sf0.1 -> ~sf1
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

COPY = ["region", "nation", "customer", "supplier", "part"]
SHIFTS = {
    # table -> columns shifted by replica * offset (offsets far above
    # any real key range so replicas never collide)
    "orders": {"o_orderkey": 1_000_000_000},
    "lineitem": {"l_orderkey": 1_000_000_000},
    "events": {"event_id": 1_000_000_000},
    "documents": {"doc_id": 100_000_000},
    "embeddings": {"vec_id": 100_000_000},
}


def build(spark, out_dir: str) -> None:
    from stepist_spark.session import load_table

    os.makedirs(out_dir, exist_ok=True)
    for t in COPY:
        load_table(spark, SRC, t).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
        print(f"  copied {t}")
    reps = spark.range(K).withColumnRenamed("id", "_rep")
    for t, shifts in SHIFTS.items():
        df = load_table(spark, SRC, t).crossJoin(F.broadcast(reps))
        for col, off in shifts.items():
            df = df.withColumn(col, F.col(col) + F.col("_rep") * F.lit(off))
        if t == "documents":
            # vary text per replica (replica 0 keeps the original) so
            # the corpus isn't 10 exact copies of itself
            df = df.withColumn(
                "text",
                F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                    F.concat(F.col("text"), F.lit(" rep"), F.col("_rep"))
                ),
            ).withColumn("n_chars", F.length("text").cast("long"))
        if t == "embeddings":
            df = df.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda v, i: (
                        v + (F.col("_rep").cast("float") * F.lit(0.001)) * (i == 0).cast("float")
                    ).cast("float"),
                ),
            )
        df.drop("_rep").repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
        print(f"  scaled {t} x{K}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--warm", action="store_true",
        help="run each gate twice and report cold + warm seconds",
    )
    args = ap.parse_args()

    from bench import calibrate
    from stepist_spark.session import get_spark, warehouse_root

    import __spark_entry__ as entry

    spark = get_spark("sf1_smoke")
    out_dir = os.path.join(warehouse_root(spark), "stepist_scratch", "sf1")
    # sentinel = the LAST table build() writes, so an interrupted build
    # is never mistaken for a complete one
    if args.rebuild or not os.path.exists(os.path.join(out_dir, "embeddings.parquet")):
        print(f"building sf1 data at {out_dir} from {SRC} ...")
        t0 = time.time()
        build(spark, out_dir)
        print(f"build done in {time.time() - t0:.1f}s")

    calib_pre = round(calibrate(spark), 3)
    print(f"calibration_sec (pre): {calib_pre}", flush=True)
    only = {s.strip() for s in args.only.split(",") if s.strip()}
    results: dict[str, dict] = {}
    for name, fn in entry.queries().items():
        if only and not any(name.startswith(o) for o in only):
            continue
        t0 = time.time()
        try:
            n = fn(spark, out_dir).count()
            dt = time.time() - t0
            results[name] = {"sec": round(dt, 2), "rows": n}
            if args.warm:
                t1 = time.time()
                fn(spark, out_dir).count()
                results[name]["warm_sec"] = round(time.time() - t1, 2)
            print(
                f"{name:30s} {dt:7.2f}s"
                + (f"  warm {results[name]['warm_sec']:7.2f}s" if args.warm else "")
                + f"  {n} rows",
                flush=True,
            )
        except Exception as e:  # keep going: the summary shows all failures
            dt = time.time() - t0
            results[name] = {"sec": round(dt, 2), "error": str(e)[:200]}
            print(f"{name:30s} {dt:7.2f}s  ERROR {str(e)[:120]}", flush=True)
    calib_post = round(calibrate(spark), 3)
    total = sum(r["sec"] for r in results.values())
    errs = [k for k, r in results.items() if "error" in r]
    print(json.dumps({"sf": 1.0, "total_sec": round(total, 1),
                      "warm_total_sec": round(
                          sum(r.get("warm_sec", 0) for r in results.values()), 1)
                      if args.warm else None,
                      "n_queries": len(results), "errors": errs,
                      "calibration_pre": calib_pre,
                      "calibration_post": calib_post}))
    with open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "sf1_results.json"
    ), "w") as fh:
        json.dump({"results": results, "calibration_pre": calib_pre,
                   "calibration_post": calib_post}, fh, indent=1)


if __name__ == "__main__":
    main()
