"""Benchmark entry point.

    python3 spbench/run.py --workload geo_batch --seed 1 --seconds 15 --trace 0

Run from the root of a sparkspatial checkout. One process, one client,
Spark at local[min(nproc, 4)]. With --trace 0 the last stdout line is a
JSON object with the end-to-end metrics. --trace 1 is a separate run
that runs each pass twice, traced and untraced, on the same inputs; its
last line carries the per-layer metrics (see layers.py), preceded by a
readable table. The line before the result is the run record: every
timed sample, warm-up, host load, steal and memory bandwidth before and
after, outliers and failures. Everything the run writes goes under
.bench_cache/spbench/ in the checkout; outside one, the run exits 2
without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.monotonic()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))   # the spbench package
sys.path.insert(0, ROOT)                    # the program under test

from spbench import layers, procstat, stats  # noqa: E402
from spbench.refs import RefCache  # noqa: E402
from spbench.trace import Tracer, self_time  # noqa: E402

SETUP_REPS = 3          # set-ups per run; setup_s is their median
WARM_UNITS = 3          # untimed units before the timed window
WARM_EPS = 0.05         # the record's warmup.settled: the last warm-up unit
                        # was no faster than those before it by > WARM_EPS
MIN_TIMED_UNITS = 3
DRIVER_MEM = "2g"
CORES = 4


def _cores() -> int:
    return max(1, min(CORES, len(os.sched_getaffinity(0))))


def make_spark(run_dir: str, event_log_dir: str | None = None):
    from sparkspatial.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # pre-sized heap: timed units never pay heap-growth faults; a
        # fixed set of JIT compiler threads, so their CPU stays countable
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp}",
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        # uncompressed: zstd would need the absent zstandard module
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app="spbench", master=f"local[{_cores()}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _membw() -> float:
    from tools.membw_probe import membw_gbps
    return round(membw_gbps(0.25), 2)


def shutdown_spark() -> None:
    """Stop the active SparkContext, then the JVM this process launched,
    and wait for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, wl, seconds: float):
        self.wl = wl
        self.seconds = seconds
        self.me = os.getpid()
        self.units_warm: list = []
        self.units: list = []

    def warm_up(self, start: int) -> int:
        """WARM_UNITS untimed units. Returns the next unit index."""
        for i in range(start, start + WARM_UNITS):
            self.units_warm.append(self.wl.unit(i))
            self.wl.end_unit()
        return start + WARM_UNITS

    def timed(self, start: int) -> tuple[int, dict]:
        """The measured window: units back to back until the next one
        is expected to end past self.seconds (at least MIN_TIMED_UNITS),
        with the tree's CPU. The driver's own CPU counts inside ops only
        (not the output checks), and the JIT compiler threads' CPU is
        reported apart: it is warm-up work whose amount depends on how
        far warm-up got, not on the rows processed."""
        others = [p for p in procstat.tree_pids(self.me) if p != self.me]
        c0, j0 = procstat.cpu_s(others), procstat.jit_cpu_s(others)
        t0, i = time.monotonic(), start
        while True:
            u = self.wl.unit(i)
            self.wl.end_unit()
            self.units.append(u)
            i += 1
            elapsed = time.monotonic() - t0
            if (len(self.units) >= MIN_TIMED_UNITS
                    and elapsed + u.seconds > self.seconds):
                break
        wall = time.monotonic() - t0
        others = [p for p in procstat.tree_pids(self.me) if p != self.me]
        jit = procstat.jit_cpu_s(others) - j0
        cpu = procstat.cpu_s(others) - c0 - jit + sum(
            o.driver_cpu_s for u in self.units for o in u.ops)
        return i, {"wall_s": wall, "cpu_s": cpu, "jit_cpu_s": jit}


def run(args) -> dict:
    from spbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    run_dir = os.path.join(ROOT, ".bench_cache", "spbench")
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_XMS", None)

    sampler = procstat.RssSampler(os.getpid()).start()
    rec: dict = {"workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace,
                 "cores": _cores()}
    rec["host_before"] = {"loadavg": procstat.loadavg(), "membw_gbps": _membw()}
    steal0 = procstat.cpu_counters()

    t = time.monotonic()
    wl = WORKLOADS[args.workload](args.seed, run_dir, RefCache(run_dir))
    rec["generate_s"] = time.monotonic() - t

    runner = Runner(wl, args.seconds)
    ev_dir = os.path.join(run_dir, "eventlog", str(os.getpid()))
    tr = Tracer(enabled=bool(args.trace))

    # the first (cold) set-up launches the JVM and the Spark session
    # while the references are computed. After warm-up come
    # SETUP_REPS - 1 more set-ups in the same session, each after a
    # teardown. setup_s is the median of all of them: input load and
    # build-once state, without the JVM launch and session start, which
    # process_start_to_setup_end_s and session.get_spark.wall_s hold.
    with ThreadPoolExecutor(1) as pool:
        refs_done = pool.submit(wl.prepare)
        t = time.monotonic()
        with tr.span("session.get_spark"):
            spark = make_spark(run_dir, ev_dir if args.trace else None)
        tr.sc = spark.sparkContext
        wl.setup(spark, tr)
        setup_s = [time.monotonic() - t]
        refs_done.result()
    rec["process_start_to_setup_end_s"] = time.monotonic() - T_START

    tr.enabled = False
    t = time.monotonic()
    nxt = runner.warm_up(0)
    warm_s = [u.seconds for u in runner.units_warm]
    rec["warmup"] = {"units": len(warm_s),
                     "seconds": time.monotonic() - t,
                     "settled": stats.settled(warm_s, WARM_EPS),
                     "unit_s": warm_s}
    tr.enabled = bool(args.trace)
    for _ in range(SETUP_REPS - 1):
        wl.teardown()
        t = time.monotonic()
        wl.setup(spark, tr)
        setup_s.append(time.monotonic() - t)
    rec["setup_s_samples"] = setup_s

    if args.trace:
        # every pass runs twice on the same inputs, traced and
        # untraced, in alternating order, in one session with the event
        # log on: trace.overhead_s is the cost of spans and job groups
        traced, untraced, extras, cached_mb = [], [], [], 0.0
        t0 = time.monotonic()
        while time.monotonic() - t0 < args.seconds or len(traced) < 2:
            order = (False, True) if len(traced) % 2 == 0 else (True, False)
            for traced_now in order:
                tr.enabled = traced_now
                if traced_now:
                    with tr.span("unit", request=nxt):
                        u = wl.unit(nxt)
                    extras.append(wl.traced_extras(nxt))
                    cached_mb = max(cached_mb, layers.cached_mb(spark))
                    traced.append(u)
                else:
                    u = wl.unit(nxt)
                    untraced.append(u)
                wl.end_unit()
                runner.units.append(u)
            nxt += 1
        tr.enabled = False
        wl.teardown()
        spark.stop()
        metrics, by_op = layers.per_layer(wl, tr, ev_dir, untraced, traced,
                                          extras, cached_mb, _cores())
        shutil.rmtree(ev_dir, ignore_errors=True)
        rec["per_layer_table"] = layers.table(metrics, args.workload)
        rec.update(by_op)
        rec["span_self_s"] = {
            name: statistics.median(self_time(s, tr.children(s))
                                    for s in tr.by_name(name))
            for name in sorted({s.name for s in tr.spans})}
    else:
        nxt, window = runner.timed(nxt)
        wl.teardown()
        spark.stop()
        units = runner.units
        rows = sum(u.rows_in for u in units)
        query_s = [q for u in units for q in u.request_s()]
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "rows_per_s": (statistics.median(u.rows_in / u.batch_s
                                             for u in units), "rows/s"),
            "query_s_p50": (statistics.median(query_s), "s"),
            "cpu_s_per_mrow": (window["cpu_s"] / (rows / 1e6), "s"),
            "peak_rss_mb": (sampler.stop(), "MB"),
        }
        rec["window"] = window
        rec["units"] = len(units)
        rec["query_s_p90"] = stats.p90_or_none(query_s)
        rec["outliers"] = {
            "batch_s": stats.outliers([u.batch_s for u in units]),
            "query_s": stats.outliers(query_s)}
    failed = sum(not o.ok for u in runner.units for o in u.ops)
    attempted = sum(len(u.ops) for u in runner.units)
    rec["error_rate"] = failed / attempted
    sampler.stop()
    warm_failed = sum(not o.ok for u in runner.units_warm for o in u.ops)
    steal1 = procstat.cpu_counters()
    rec["host_after"] = {"loadavg": procstat.loadavg(), "membw_gbps": _membw()}
    rec["steal_frac"] = (steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0])
    rec["samples"] = [
        {"unit": u.index, "rows_in": u.rows_in,
         "ops": [[o.name, o.request, o.seconds] for o in u.ops]}
        for u in runner.units]
    rec["failures"] = [
        {"unit": u.index, "op": o.name, "error": o.error}
        for u in runner.units_warm + runner.units for o in u.ops if not o.ok]
    rec["digest_fallbacks"] = sum(
        o.ok and not o.exact for u in runner.units_warm + runner.units
        for o in u.ops)
    rec["total_s"] = time.monotonic() - T_START
    return {"record": rec,
            "result": {"correct": failed == 0 and warm_failed == 0,
                       "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u}
                                   for k, (v, u) in metrics.items()}}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparkspatial")):
        print("spbench: run from the root of a sparkspatial checkout",
              file=sys.stderr)
        return 2
    try:
        out = run(args)
    finally:
        shutdown_spark()
    rec = out["record"]
    rec_dir = os.path.join(ROOT, ".bench_cache", "spbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}"
                           f"-{int(time.time())}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    if "per_layer_table" in rec:
        print(rec.pop("per_layer_table"))
    print(json.dumps(rec))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
