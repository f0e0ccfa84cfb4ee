"""Benchmark entry point.

    python3 perfbench/run.py --workload geocode_join --seed 1 --seconds 12 --trace 0

Runs one workload from the root of a source checkout and prints, as the last
line of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``.  Spark runs in local mode inside
this one process tree; all files go under ``.perfbench_work/`` (deleted at
exit) and ``.perfbench_out/`` (span dumps and trace reports) in the checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[k]: one task slot.  The operations are dominated by driver-side
# planning and job scheduling, so local[2] was only ~10% faster on the
# geocode job and no faster on the rest; with one slot no stage waits on a
# second task that the shared host happened to slow, and the process tree
# (driver, JVM with its JIT and GC threads, Python workers) keeps two to
# three of the 4-core machine's cores busy.
CORES = 1

# One round of the closed loop per workload.  Every run reports every
# end-to-end metric, so every round touches every query type; the workload
# decides which operations carry the extra samples.  The first round is the
# warm-up (checked, counted in set-up, not timed): each kind runs 1.3-3x
# slower the first time than the third.  The write path runs once, after
# the timed rounds.
ROUNDS = {
    "geocode_join": ("geocode", "knn", "geocode", "rollup", "probe"),
    "cell_lookup": ("knn", "rollup", "probe", "geocode", "rollup"),
}
NATIVE = {"geocode_join": {"geocode"}, "cell_lookup": {"knn", "probe", "rollup"}}
TIMED_ROUNDS_MIN = 3

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "pages_per_s": "1/s",
    "lookup_qps": "1/s",
    "knn_p50_ms": "ms",
    "cover_probe_p50_ms": "ms",
    "rollup_p50_ms": "ms",
    "stored_bytes_per_row": "B",
}
LOOKUPS = ("knn", "probe", "rollup")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(ROUNDS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, ui: bool):
    """Local SparkSession through plans.session.get_spark, with every
    scratch location inside ``work``.  The web UI (whose status REST API
    the traced run reads) runs only when ``ui`` is set."""
    from pyspark import SparkConf, SparkContext

    from co_new_spark.plans import session

    os.makedirs(f"{work}/tmp", exist_ok=True)
    conf = (SparkConf().setMaster(f"local[{CORES}]").setAppName("perfbench")
            .set("spark.driver.memory", "2g")
            .set("spark.local.dir", f"{work}/spark-local")
            .set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}/tmp")
            .set("spark.sql.warehouse.dir", f"{work}/warehouse")
            .set("spark.ui.enabled", str(ui).lower())
            .set("spark.ui.port", "0")
            .set("spark.ui.showConsoleProgress", "false")
            .set("spark.ui.retainedJobs", "100000")
            .set("spark.ui.retainedStages", "100000")
            .set("spark.sql.ui.retainedExecutions", "100000"))
    SparkContext.getOrCreate(conf).setLogLevel("ERROR")
    return session.get_spark("perfbench", master=f"local[{CORES}]",
                             shuffle_partitions=2 * CORES)


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare(spark, work: str, seed: int, tracer) -> dict:
    """Input generation and the stored table's commit.  Returns
    kind -> callable(j) running the j-th operation of that kind."""
    import workloads as wl

    data = f"{work}/data"
    geocode = wl.Geocode(spark, data, seed, tracer, CORES)
    lookup = wl.Lookup(spark, data, work, seed, tracer)
    ingest = wl.Ingest(spark, data, work, seed, tracer)
    ops = {"geocode": geocode.op, "ingest": ingest.op}
    for kind in LOOKUPS:
        ops[kind] = lambda j, kind=kind: lookup.op(kind, j)
    return ops


def tail(values: list) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples above it:
    (value, percentile, sample count); NaN percentile when n <= 10."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], float("nan"), n
    return v[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(ops: list, setup_s: float, peak_rss_mb: float) -> dict:
    """End-to-end metrics from the timed operations (warm-ups excluded);
    NaN for a metric whose operations are not in ``ops``."""
    import workloads as wl

    t: dict[str, list] = {}
    stored = []
    lookup_wall, lookup_n = 0.0, 0
    for kind, op_id, traced, ok, timings, info in ops:
        if info.get("warmup"):
            continue
        for k, v in timings.items():
            t.setdefault(k, []).append(v)
        if kind in LOOKUPS:
            lookup_wall += sum(timings.values())
            lookup_n += 1
        if "stored_bytes_per_row" in info:
            stored.append(info["stored_bytes_per_row"])

    def med(key: str) -> float:
        return statistics.median(t[key]) if t.get(key) else math.nan

    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "pages_per_s": wl.GEOCODE_PAGES / med("geocode_s"),
        "lookup_qps": lookup_n / lookup_wall if lookup_wall else math.nan,
        "knn_p50_ms": 1000 * med("knn_s"),
        "cover_probe_p50_ms": 1000 * med("probe_s"),
        "rollup_p50_ms": 1000 * med("rollup_s"),
        "stored_bytes_per_row": statistics.median(stored) if stored else math.nan,
    }


def run_window(ops_by_kind: dict, workload: str, seconds: float, tracer,
               trace: bool, log) -> tuple[list, float]:
    """One client, no think time: the warm-up round, then timed rounds until
    ``seconds`` have passed (at least TIMED_ROUNDS_MIN), then the write path
    once.  In a traced run every other operation of each kind is traced (the
    write path always is); the untraced ones are the overhead baseline.
    Returns the operations and the time the warm-up round ended."""
    ops = []
    seen: dict[str, int] = {}

    def one(kind: str, warmup: bool, traced: bool) -> None:
        j = seen.get(kind, 0)
        seen[kind] = j + 1
        op_id = f"{kind}-{j}"
        tracer.enabled = traced
        try:
            with tracer.op(op_id, kind):
                ok, timings, info = ops_by_kind[kind](j)
        except Exception:
            log(f"{op_id} raised:\n{traceback.format_exc()}")
            ok, timings, info = False, {}, {}
        tracer.enabled = False
        if not ok:
            log(f"{op_id}: result does not match the oracle")
        info["warmup"] = warmup
        ops.append((kind, op_id, traced, ok, timings, info))

    for kind in ROUNDS[workload]:
        one(kind, warmup=True, traced=trace and seen.get(kind, 0) % 2 == 0)
    start = time.perf_counter()
    rounds = 0
    while rounds < TIMED_ROUNDS_MIN or time.perf_counter() - start < seconds:
        for kind in ROUNDS[workload]:
            one(kind, warmup=False, traced=trace and seen.get(kind, 0) % 2 == 0)
        rounds += 1
    one("ingest", warmup=False, traced=trace)
    log(f"{rounds} timed rounds + write path in {time.perf_counter() - start:.1f} s")
    for kind in (*dict.fromkeys(ROUNDS[workload]), "ingest"):
        log(f"  {kind}: " + " ".join(f"{max(o[4].values()):.2f}"
                                     for o in ops if o[0] == kind and o[4]))
    return ops, start


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "co_new_spark")):
        print(f"perfbench: no co_new_spark package under {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import layers
    from spans import RssSampler, SparkScrape, Tracer

    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = f"{work}/tmp"
    tracer = Tracer()
    spark = None
    try:
        with RssSampler() as rss:
            # set-up: session start, input generation, the stored table's
            # commit and the warm-up round, once per run (README: "Time
            # budget and steadiness")
            tracer.enabled = args.trace == 1
            t0 = time.perf_counter()
            with tracer.op("setup", "setup"):
                spark = start_session(work, ui=args.trace == 1)
                session_s = time.perf_counter() - t0
                ops_by_kind = prepare(spark, work, args.seed, tracer)
            inputs_s = time.perf_counter() - t0
            tracer.enabled = False
            ops, warm_end = run_window(ops_by_kind, args.workload, args.seconds,
                                       tracer, args.trace == 1, log)
            setup_s = warm_end - t0
            log(f"set-up: {setup_s:.2f} s (session start {session_s:.2f} s, "
                f"inputs and commit {inputs_s - session_s:.2f} s, warm-up round "
                f"{warm_end - t0 - inputs_s:.2f} s)")
            metrics = end_to_end(ops, setup_s, rss.peak_mb)
            knn = [o[4]["knn_s"] for o in ops if o[0] == "knn" and o[4]
                   and not o[5]["warmup"]]
            tail_v, tail_pct, tail_n = tail(knn)
            log(f"knn tail: p{tail_pct:.1f} = {1000 * tail_v:.1f} ms over {tail_n} samples")
            units = END_TO_END
            if args.trace:
                time.sleep(1.0)  # let the listener bus finish the last metrics
                sc = spark.sparkContext
                scrape = SparkScrape(sc.uiWebUrl, sc.applicationId)
                native = NATIVE[args.workload]
                traced = end_to_end([o for o in ops if o[2]], setup_s, rss.peak_mb)
                untraced = end_to_end([o for o in ops if not o[2]], setup_s, rss.peak_mb)
                overhead = {k: traced[k] - untraced[k] for k in END_TO_END}
                extra = layers.grid_kernels(args.seed)
                extra["operators.knn.fallback_share"] = statistics.mean(
                    [o[5]["fallback"] for o in ops if o[0] == "knn" and o[3]] or [0.0])
                extra["operators.knn.knn_tail_ms"] = 1000 * tail_v
                extra["trace.overhead_ms"] = 1000 * layers.overhead_s(ops, native)
                metrics = layers.compute(tracer, scrape, native, ops, extra)
                self_ms = layers.self_table(tracer)
                os.makedirs(out_dir, exist_ok=True)
                stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
                tracer.dump(f"{stem}-spans.json")
                with open(f"{stem}-trace.json", "w") as fh:
                    json.dump({"per_layer": metrics, "traced": traced,
                               "untraced": untraced, "overhead": overhead,
                               "self_ms": self_ms}, fh, indent=1)
                log("self time per layer (ms, summed over traced operations): "
                    + ", ".join(f"{k}={v:.0f}" for k, v in self_ms.items()))
                log("tracing overhead (traced - untraced): " + ", ".join(
                    f"{k}={v:+.4g}" for k, v in overhead.items()))
                units = layers.METRICS
            spark.stop()
            spark = None
            stop_jvm()
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for o in ops if not o[3])
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        # a metric whose operations all failed has no value: report 0
        "metrics": {k: {"value": float(metrics[k]) if math.isfinite(metrics[k]) else 0.0,
                        "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
