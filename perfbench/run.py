"""Benchmark entry point.

    python3 perfbench/run.py --workload vendor_etl --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. One driver process generates the
workload's inputs from ``--seed`` under ``.perfbench/``, builds the
engine's Spark session on ``local[<cpus>]``, runs the workload's untimed
warm-up rounds (one; two for ``lake_queries``), then times complete
rounds until ``--seconds`` have passed, checking every op's output. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones (see
BENCHMARK.json). With ``--trace 1`` the run instead times, warm, one
untraced round, one reference round (op-level spans) and one staged round
(a span around every layer call), and reports the per-layer metrics plus
the tracing overhead (reference minus untraced); the spans are written to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Whole-run limit: a run that overruns stops with an error, not a result.
DEADLINE_S = 170
# Driver heap, fixed at start (-Xms = -Xmx): left to grow, G1's resizing
# moved peak RSS by up to a fifth from run to run.
SPARK_MEMORY = "2g"


def process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of every process descending from this one (the
    JVM and its Python workers), except the subtrees in ``exclude``."""

    def __init__(self, exclude: set[int], interval: float = 0.1):
        self.exclude = exclude
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
        me, total = os.getpid(), 0
        for pid in parent:
            p = pid
            while p in parent and p not in self.exclude and parent[p] != me:
                p = parent[p]
            if p not in parent or p in self.exclude:
                continue  # not a descendant, or inside an excluded subtree
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, ValueError, IndexError):
                continue
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def parse_args(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for the smoke tests")
    return ap.parse_args(argv)


def import_engine():
    """Import the engine from this checkout only; fail if it is absent."""
    if not os.path.isfile(os.path.join(ROOT, "food_panda_etl_spark", "__init__.py")):
        raise SystemExit(f"perfbench: no engine sources at {ROOT}/food_panda_etl_spark")
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    import food_panda_etl_spark

    if not os.path.abspath(food_panda_etl_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit("perfbench: engine imported from outside the checkout")


def make_session(work: str, cpus: int, tracer):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keep Spark's scratch, the JVM's and the workers' temp files inside
    # the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from food_panda_etl_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": SPARK_MEMORY,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{SPARK_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    with tracer.span("session.first_job"):
        spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, workload, key, tracer):
        """Execute one op (timed) and verify it (untimed). Returns
        (seconds, items, payload), payload None on failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            items, payload = workload.execute(key, tracer)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, 0, None
        dt = time.perf_counter() - t0
        try:
            ok = workload.verify(key, payload)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"perfbench: {workload.name} op {key} failed its check", file=sys.stderr)
            self.failed += 1
            return dt, items, None
        return dt, items, payload


def measure(workload, tally, seconds: float, deadline: float) -> dict:
    """Run the workload's untimed warm-up rounds, then time complete rounds
    until ``seconds`` have passed."""
    from tracing import NullTracer

    null = NullTracer()
    t0 = time.perf_counter()
    for r in range(workload.warmup_rounds):
        for key in workload.round(r):
            tally.run(workload, key, null)
    warmup_s = time.perf_counter() - t0
    lat, items, r = [], 0, workload.warmup_rounds
    t0 = time.perf_counter()
    while True:
        for key in workload.round(r):
            dt, n, _ = tally.run(workload, key, null)
            lat.append(dt)
            items += n
        r += 1
        now = time.perf_counter()
        if now - t0 >= seconds or now + (now - t0) / (r - workload.warmup_rounds) > deadline:
            break
    return {
        "lat": [round(x, 3) for x in lat],
        "op_p50_s": statistics.median(lat),
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0],
        "items_per_s": items / sum(lat),
        "ops": len(lat),
        "warmup_s": warmup_s,
        "measure_s": time.perf_counter() - t0,
    }


def trace_run(workload, tally, spark, session_tracer, trace_dir: str, seed: int) -> dict:
    from tracing import NullTracer, Tracer

    sc = spark.sparkContext
    null = NullTracer()
    for r in range(workload.warmup_rounds):
        for key in workload.round(r):
            tally.run(workload, key, null)
    # the same round untraced, then traced: the difference is the cost of
    # the spans themselves
    r = workload.warmup_rounds
    untraced_s = sum(tally.run(workload, key, null)[0] for key in workload.round(r))
    ref = Tracer(sc, f"ref-{seed}")
    ref_s = 0.0
    for key in workload.round(r):
        dt, _, payload = tally.run(workload, key, ref)
        ref_s += dt
        if payload is not None:
            workload.inspect(key, payload)
    staged = Tracer(sc, f"staged-{seed}")
    staged_s = 0.0
    for key in workload.round(r):
        tally.attempted += 1
        t0 = time.perf_counter()
        try:
            ok = workload.staged(key, staged)
        except Exception:
            traceback.print_exc()
            ok = False
        staged_s += time.perf_counter() - t0
        if not ok:
            print(f"perfbench: staged {workload.name} op {key} differs from the declared output",
                  file=sys.stderr)
            tally.failed += 1
    layer = workload.layer_metrics(ref, staged)
    metrics = {
        "session.get_spark_s": session_tracer.total("session.get_spark"),
        "session.first_job_s": session_tracer.total("session.first_job"),
        "queries.build_s": ref.total("queries.build"),
        "queries.execute_s": ref.total("queries.execute"),
        "queries.eager_jobs": ref.total("queries.build", "jobs"),
        "queries.jobs": ref.sum("jobs"),
        "queries.stages": ref.sum("stages"),
        "queries.tasks": ref.sum("tasks"),
        "queries.failed_tasks": ref.sum("failed_tasks"),
        "trace.untraced_s": untraced_s,
        "trace.reference_s": ref_s,
        "trace.staged_s": staged_s,
        "trace.overhead_s": ref_s - untraced_s,
        "trace.spans": len(staged.spans),
    }
    metrics.update(workload.counters)
    metrics.update(layer)
    os.makedirs(trace_dir, exist_ok=True)
    for name, tr in (("session", session_tracer), ("reference", ref), ("staged", staged)):
        tr.write(os.path.join(trace_dir, f"{workload.name}-s{seed}-{name}.jsonl"))
    return metrics


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    import_engine()

    from workloads import WORKLOADS
    from tracing import Tracer

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    os.environ["TZ"] = "UTC"
    time.tzset()
    deadline = time.perf_counter() - process_age() + DEADLINE_S

    def on_alarm(_sig, _frame):
        raise TimeoutError(f"perfbench: run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    # a terminated run still stops the JVM and the vendor API below
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    signal.alarm(DEADLINE_S + 5)

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    workload = WORKLOADS[args.workload](work, args.seed, tiny=args.tiny)
    spark = None
    tally = Tally()
    try:
        t0 = time.perf_counter()
        inputs = workload.prepare()
        prepare_s = time.perf_counter() - t0
        print("perfbench inputs: " + json.dumps({args.workload: inputs}, sort_keys=True), flush=True)
        session_tracer = Tracer(None, f"session-{args.seed}")
        spark = make_session(work, cpus, session_tracer)
        # process start to the first job, less the benchmark's own inputs
        setup_s = process_age() - prepare_s
        t0 = time.perf_counter()
        workload.start(spark)
        start_s = time.perf_counter() - t0
        api = getattr(workload, "api", None)
        with RssSampler(exclude={api.pid} if api else set()) as rss:
            if args.trace:
                detail = trace_run(workload, tally, spark, session_tracer,
                                   os.path.join(base, "traces"), args.seed)
            else:
                detail = measure(workload, tally, args.seconds, deadline)
        detail.update(setup_s=setup_s, prepare_s=prepare_s, start_s=start_s)
        detail["peak_rss_mb"] = rss.peak_kb / 1024.0
    finally:
        signal.alarm(0)
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            workload.close()
            shutil.rmtree(work, ignore_errors=True)

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    print("perfbench detail: " + json.dumps(detail, sort_keys=True), file=sys.stderr)
    def value(name: str) -> float:
        if name in detail:
            return float(detail[name])
        if args.trace:
            return 0.0  # a layer this workload never calls
        raise KeyError(f"perfbench: end-to-end metric {name} was not measured")

    metrics = {n: {"value": value(n), "unit": units[n]} for n in names}
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
