#!/usr/bin/env python3
"""Closed-loop gate-round benchmark for stepist_spark.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 6 --trace 0

Run from the repository root. One process, one client, ``local[nproc]``.
A round is one pass over the workload's gates, in an order the seed
permutes: build the gate (``spec.spark(spark, data)``), ``.collect()`` it,
and check the rows against the committed digest. The run

1. starts the session (the JVM launch included);
2. runs the untimed warm-up rounds; ``setup_s`` is the time from process
   start to here, the start of the first timed round;
3. runs timed rounds until ``--seconds`` have passed and at least
   ``MIN_ROUNDS`` rounds have run, clearing Spark's cache after every
   round.

``--trace 1`` starts the session with Spark's event log and a streaming
listener on, and alternates untraced timed rounds with rounds that have
the span wrappers of ``perfbench/tracer.py`` on. The order inside each
such pair flips from one pair to the next, so both halves see the same
warm-up. It prints the per-layer metrics named in ``BENCHMARK.json`` and
writes the spans to ``.perfbench_run/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (gate runs, warm-up included) and ``metrics``. A gate that
raises or returns rows that do not match its digest is a failed run, and
the command then exits 1.
"""

import os
import time

# perf_counter is CLOCK_MONOTONIC, so the start time survives the re-exec
# in main() that pins PYTHONHASHSEED.
T_PROC = float(os.environ.pop("PERFBENCH_T0", "") or time.perf_counter())

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
MIN_TRACE_PAIRS = 2


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def loadavg() -> float:
    return os.getloadavg()[0]


def calibrate(spark) -> float:
    """bench.py's pure-CPU yardstick: min-of-3 seeded in-memory aggregate."""
    from pyspark.sql.functions import col, xxhash64

    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).select((xxhash64(col("id")) % 97).alias("k")).groupBy(
            "k"
        ).count().collect()
        best = min(best, time.perf_counter() - t0)
    return best


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, workload: str, seed: int, tmp: str):
        from perfbench.gates import DATA_DIR, DIGESTS_PATH, WORKLOADS

        self.gates = WORKLOADS[workload]
        self.data = DATA_DIR
        with open(DIGESTS_PATH) as fh:
            self.expected = json.load(fh)["gates"]
        self.rng = random.Random(seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def start_session(self, extra: dict) -> float:
        from stepist_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf={**self.conf, **extra})
        return time.perf_counter() - t0

    def run_round(self) -> list[dict]:
        from perfbench.gates import digest
        from stepist_spark.queries import all_queries

        specs = all_queries()
        order = list(self.gates)
        self.rng.shuffle(order)
        out = []
        for gate in order:
            self.attempted += 1
            rows, ok = [], False
            w0, t0 = time.time(), time.perf_counter()
            t1 = t2 = None
            try:
                df = specs[gate].spark(self.spark, self.data)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                ok = digest(df.columns, rows) == self.expected[gate]["sha256"]
                if not ok:
                    print(f"perfbench: {gate} rows do not match their digest", file=sys.stderr)
            except Exception as exc:  # a failing gate is counted, not fatal
                print(f"perfbench: {gate} raised {type(exc).__name__}: {exc}"[:2000], file=sys.stderr)
            t1 = t1 or time.perf_counter()
            t2 = t2 or time.perf_counter()
            self.failed += not ok
            out.append(
                {
                    "gate": gate,
                    "build_s": t1 - t0,
                    "collect_s": t2 - t1,
                    "wall_s": t2 - t0,
                    "rows": len(rows),
                    "ok": ok,
                    "p0": t0,
                    "p1": t2,
                    "w0": w0,
                    "w1": w0 + (t2 - t0),
                }
            )
        self.spark.catalog.clearCache()
        return out

    def run_rounds(self, seconds: float, min_rounds: int) -> list[list[dict]]:
        rounds = []
        t0 = time.perf_counter()
        while len(rounds) < min_rounds or time.perf_counter() - t0 < seconds:
            rounds.append(self.run_round())
        return rounds

    def run_pairs(self, seconds: float, min_pairs: int, spans) -> tuple[list, list]:
        """Untraced and traced rounds in pairs, the order flipping each
        pair, so neither half gets the later, warmer rounds."""
        untraced, traced = [], []
        t0 = time.perf_counter()
        while len(traced) < min_pairs or time.perf_counter() - t0 < seconds:
            for on in (False, True) if len(traced) % 2 == 0 else (True, False):
                spans.enabled = on
                (traced if on else untraced).append(self.run_round())
        spans.enabled = False
        return untraced, traced


def round_s(rounds) -> float:
    """Wall time of the fastest round. The shared host's slow phases only
    ever add time, and one of them inside a round doubled single gates."""
    return min(sum(g["wall_s"] for g in r) for r in rounds)


def per_gate(rounds, key: str) -> dict[str, float]:
    gates = sorted({g["gate"] for r in rounds for g in r})
    return {
        gate: statistics.median(g[key] for r in rounds for g in r if g["gate"] == gate)
        for gate in gates
    }


def median_of_rounds(rounds, fn) -> dict[str, float]:
    """Median over rounds of each metric ``fn(round)`` returns; a metric
    missing from a round counts as 0 there."""
    per = [fn(r) for r in rounds]
    keys = sorted({k for m in per for k in m})
    return {k: statistics.median(m.get(k, 0) for m in per) for k in keys}


def layer_metrics(untraced, traced, spans, listener, log) -> dict[str, float]:
    from perfbench.tracer import span_metrics, spark_metrics, streaming_metrics

    m: dict[str, float] = {
        "queries.build_s": statistics.median(sum(g["build_s"] for g in r) for r in untraced),
        "queries.collect_s": statistics.median(sum(g["collect_s"] for g in r) for r in untraced),
        "queries.result_rows": statistics.median(sum(g["rows"] for g in r) for r in untraced),
    }
    for key in ("build_s", "collect_s"):
        for gate, v in per_gate(untraced, key).items():
            m[f"queries.{key}.{gate}"] = v
    m.update(median_of_rounds(traced, lambda r: span_metrics(spans.records, r[0]["p0"], r[-1]["p1"])))
    m.update(median_of_rounds(traced, lambda r: streaming_metrics(listener.events, r[0]["w0"], r[-1]["w1"] + 1e-3)))
    m.update(median_of_rounds(traced, lambda r: spark_metrics(log, [(g["w0"], g["w1"]) for g in r])))
    m["trace.overhead_ratio"] = round_s(traced) / round_s(untraced)
    return m


def main() -> int:
    args = parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the same string hashing in every run: set iteration order can
        # shape the plans a gate builds
        os.environ["PYTHONHASHSEED"] = "0"
        os.environ["PERFBENCH_T0"] = repr(T_PROC)
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import stepist_spark  # noqa: F401
        from perfbench.gates import MIN_ROUNDS, WARM_ROUNDS, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    tmp = os.path.join(RUN_DIR, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(tmp, "scratch"),
        }
    )
    tempfile.tempdir = tmp
    host = {"host.loadavg.before": loadavg()}

    spans = None
    if args.trace:
        from perfbench.tracer import Spans

        spans = Spans()
        spans.install()  # before stepist_spark.queries is imported

    log_dir = os.path.join(tmp, "eventlog")
    event_log = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    runner = Runner(args.workload, args.seed, tmp)
    try:
        if args.trace:
            from perfbench.tracer import make_listener, read_event_log

            os.makedirs(log_dir)
        get_spark_s = runner.start_session(event_log if args.trace else {})
        if args.trace:
            listener = make_listener()
            runner.spark.streams.addListener(listener)
        warm = [runner.run_round() for _ in range(WARM_ROUNDS)]
        setup_s = time.perf_counter() - T_PROC
        warm_round_s = sum(g["wall_s"] for g in warm[0])
        if not args.trace:
            timed = runner.run_rounds(args.seconds, MIN_ROUNDS)
            stop_jvm(runner.spark)
        else:
            host["host.calibration_s.before"] = calibrate(runner.spark)
            timed, traced = runner.run_pairs(args.seconds, MIN_TRACE_PAIRS, spans)
            host["host.calibration_s.after"] = calibrate(runner.spark)
            n_events = -1
            while n_events != len(listener.events):  # let queued progress events land
                n_events = len(listener.events)
                time.sleep(0.5)
            stop_jvm(runner.spark)
            (log_file,) = os.listdir(log_dir)
            log = read_event_log(os.path.join(log_dir, log_file))
    finally:
        host["host.loadavg.after"] = loadavg()
        if runner.spark is not None and getattr(runner.spark.sparkContext, "_jsc", None) is not None:
            stop_jvm(runner.spark)
        shutil.rmtree(tmp, ignore_errors=True)

    gate_med = per_gate(timed, "wall_s")
    measured = {
        "setup_s": setup_s,
        "round_s": round_s(timed),
        "queries.gate_s_geomean": math.exp(statistics.fmean(math.log(v) for v in gate_med.values())),
        "session.get_spark_s": get_spark_s,
        "session.warm_round_s": warm_round_s,
        **host,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"metrics": measured, "warm": warm, "timed": timed}
    if args.trace:
        measured.update(layer_metrics(timed, traced, spans, listener, log))
        record["traced"] = traced
        spans.dump(os.path.join(RUN_DIR, f"spans-{tag}.json"))
    with open(os.path.join(RUN_DIR, f"rounds-{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    n_rounds = len(timed) if not args.trace else f"{len(timed)} untraced + {len(traced)} traced"
    print(f"workload {args.workload}: gates {', '.join(runner.gates)}; cpus {runner.cpus}; seed {args.seed}")
    print(f"  setup_s         {setup_s:.3f} s   process start to the first timed round; get_spark {get_spark_s:.2f} s, {WARM_ROUNDS} warm-up round(s)")
    walls = [round(sum(g["wall_s"] for g in r), 2) for r in timed]
    print(f"  round_s         {measured['round_s']:.3f} s   fastest of {n_rounds} rounds {walls}; first warm-up round {warm_round_s:.2f}")
    print(f"  gate_s_geomean  {measured['queries.gate_s_geomean']:.3f} s   {len(gate_med)} gates x {len(timed)} rounds")
    print(f"  fail_ratio      {runner.failed / runner.attempted:.3f} 1   {runner.failed}/{runner.attempted} gate runs (warm-up included)")
    print("  host            " + ", ".join(f"{k[5:]}={v:.3f}" for k, v in host.items()))
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": measured.get(m["name"], 0), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
