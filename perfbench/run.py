"""Seeded benchmark of the filter job, the LM build/score path and fuzzy
dedup on a local Spark session (local[<cores>], 2 shuffle partitions per
core). Run from the root of a checkout:

    python3 perfbench/run.py --workload filter_web --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The traced run also writes ``.perfbench/layers_<workload>_seed<seed>.json``.
See perfbench/README.md for the metric -> layer -> workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the peak usage of the JVM's heap memory pools."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory") / 1e6


def start_session(name: str, work: str, extra: dict):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the JVM, Spark and the Python workers write in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from kenlm_rs_spark.spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **extra,
    }
    spark = get_spark(f"perfbench-{name}", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="least time spent in repetitions; only the first is reported")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}

    if not (os.path.isdir(os.path.join(ROOT, "kenlm_rs_spark"))
            and os.path.isdir(os.path.join(ROOT, "fixtures", "lms"))):
        log(f"{ROOT} does not hold kenlm_rs_spark/ and fixtures/lms/; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.eventlog import (Tracer, event_log_conf, find_event_log, parse_event_log,
                                    self_times, total)
    from perfbench.workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(args.workload, work, event_log_conf(log_dir) if args.trace else {})
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, ROOT)
        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + warm_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, inputs {prep}, warm-up {warm_s:.2f})")

        walls, failed, attempted = [], 0, 0

        def run_rep(tracer=None) -> float | None:
            nonlocal attempted, failed
            spark.catalog.clearCache()
            attempted += 1
            try:
                wall, errors = wl.rep(attempted, tracer)
            except Exception as e:  # a raising repetition counts as failed
                log(traceback.format_exc())
                wall, errors = None, [f"{type(e).__name__}: {e}"]
            if errors:
                failed += 1
                log(f"rep {attempted} FAILED: {errors[:3]}")
                return None
            walls.append(wall)
            log(f"rep {attempted}{' (traced)' if tracer else ''}: {wall:.2f}s")
            return wall

        if args.trace:
            # plain, traced, plain: the first plain repetition runs as cold as
            # an untraced run's; the overhead compares the traced one with
            # the plain one after it, which is at least as warm. All three
            # are checked, and the second and third against the first.
            tracer = Tracer(spark.sparkContext)
            run_rep()
            traced_wall = run_rep(tracer)
            plain_wall = run_rep()
            if traced_wall is None:
                raise RuntimeError("the traced repetition failed")
            layer = {"trace.wall_s": traced_wall}
            wl.layers(tracer, layer)
            layer["jvm.heap_peak_mb"] = jvm_heap_peak_mb(spark)
            layer["peak_rss_mb"] = peak_rss_mb(spark)
        else:
            # the first repetition is the measured one, cold on the JVM side
            # as a launched job is; more run only while --seconds have not
            # passed, and are checked against the first, never reported
            t_start = time.perf_counter()
            run_rep()
            while time.perf_counter() - t_start < args.seconds:
                run_rep()
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}

        if args.trace:
            spark.stop()
            spark = None
            groups = parse_event_log(find_event_log(log_dir), wl.scan_markers())
            counters = total(groups, wl.traced_groups)
            layer.update({f"spark.{k}": counters[k] for k in counters if k != "records_read"})
            layer.update(wl.event_metrics(groups))
            layer["trace.overhead_frac"] = traced_wall / plain_wall - 1 if plain_wall else 0.0
            layer["trace.unattributed_frac"] = 1 - layer.pop("trace.attributed_s") / traced_wall
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
            record = {
                "workload": args.workload, "seed": args.seed, "plain_wall_s": plain_wall,
                "metrics": metrics, "spans": tracer.spans,
                "self_s": self_times(tracer.spans),
                "spark_groups": groups,
            }
            with open(os.path.join(base, f"layers_{args.workload}_seed{args.seed}.json"), "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
        else:
            values = {"setup_s": setup_s, "docs_per_s": wl.docs / walls[0] if walls else 0.0}
            metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        result["metrics"] = metrics
        print(json.dumps(result))
        return 0 if walls else 1
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
