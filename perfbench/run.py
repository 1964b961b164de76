"""Repo benchmark: one seeded workload through ``padua_spark`` on
``local[<cores>]``, closed loop, single client.

    python3 perfbench/run.py --workload lfq_pipeline --seed 1 \
        --seconds 15 --trace 0

Set-up (timed as ``setup_s``): session start, input generation from
the seed, one warm-up run and a wait for the JIT compiler to go idle.
Then whole runs repeat until ``--seconds`` have passed and at least
``MIN_RUNS`` have run; every output of every run is checked.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). A human-readable summary goes to stderr; the last
stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import spans as sp  # noqa: E402  (needs only pyspark)

END_TO_END = ("run_s", "rows_per_s", "setup_s", "peak_rss_mb")
# timed runs per invocation at least, so that the median absorbs a
# single run slowed down by other tenants of the machine
MIN_RUNS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, n_cores: int):
    from padua_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # the launcher JVM that spark-submit starts first writes nothing
    # outside the checkout either
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n_cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms1g {jvm_opts}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def settle_jit(spark) -> None:
    """Wait until the JVM's JIT compiler has been idle for half a second
    (at most six), so the first timed run does not share the cores with
    compilations the warm-up queued."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    bean = mx.getCompilationMXBean()
    start = idle_since = time.perf_counter()
    last = bean.getTotalCompilationTime()
    while time.perf_counter() - start < 6.0:
        time.sleep(0.1)
        now = bean.getTotalCompilationTime()
        if now != last:
            last, idle_since = now, time.perf_counter()
        elif time.perf_counter() - idle_since >= 0.5:
            return


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine so far: the share
    of wanted CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def reset_peak_rss(spark) -> None:
    """Reset the JVM's ``VmHWM`` to its current RSS, so the peak read
    later covers only what ran after this call (not the warm-up)."""
    with open(f"/proc/{jvm_pid(spark)}/clear_refs", "w") as fh:
        fh.write("5")


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Bench:
    """One workload in one Spark session: runs, checks and the tally of
    attempted and failed outputs."""

    def __init__(self, wl, spark, inp: dict, work: str):
        self.wl, self.spark, self.inp, self.work = wl, spark, inp, work
        self.ref = None
        self.attempted = 0
        self.failed = 0
        self.runs = 0
        self.last = None

    def root(self, tracer):
        """The span that encloses one whole run; none when untraced."""
        if tracer is None:
            return contextlib.nullcontext()
        return tracer.span(self.wl.name, sp.ROOT)

    def calls(self) -> dict:
        """The workload's public calls, in a fresh output directory."""
        self.runs += 1
        run_dir = os.path.join(self.work, "runs", str(self.runs))
        os.makedirs(run_dir)
        return self.wl.calls(self.spark, self.inp, run_dir)

    def run(self, tracer=None) -> float:
        """One whole run, timed from the first public call until every
        output is materialized; then its outputs are checked."""
        t0 = time.perf_counter()
        try:
            with self.root(tracer):
                out = self.calls()
                res = self.wl.materialize(out)
                self.wl.release(out)
        except Exception:
            traceback.print_exc()
            self.fail("raised")
            return time.perf_counter() - t0
        elapsed = time.perf_counter() - t0
        if self.ref is None:
            self.ref = self.wl.reference(self.inp, out, ROOT)
        ok = self.wl.check(res, self.ref)
        self.attempted += len(ok)
        self.failed += sum(not v for v in ok.values())
        bad = [k for k, v in ok.items() if not v]
        if bad:
            print(f"perfbench: run {self.runs} failed checks: {bad}",
                  file=sys.stderr)
        self.last = res
        return elapsed

    def fail(self, why: str) -> None:
        """Count every output of the current run as failed."""
        print(f"perfbench: run {self.runs} failed: {why}", file=sys.stderr)
        self.attempted += len(self.wl.outputs)
        self.failed += len(self.wl.outputs)


LAYER_KEYS = ("call_s", "self_s", "eager_jobs", "exec_s", "tasks",
              "input_bytes", "shuffle_write_bytes", "spill_bytes")
SPARK_RUN_KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
                  "spill_bytes")


def per_layer_names() -> list[str]:
    """Every metric a traced run reports, in report order."""
    return (
        [f"{layer}.{k}" for layer in sp.LAYERS for k in LAYER_KEYS]
        + [f"spark.{k}" for k in SPARK_RUN_KEYS]
        + ["spark.core_busy_frac", "sources.scans_per_run",
           "extensions.dedup.candidate_precision", "trace.run_s",
           "trace.overhead_s", "session.call_s", "session.warmup_s",
           "failed_frac"]
    )


def measure_traced(bench, seconds: float, n_cores: int) -> dict:
    """Alternate untraced and traced runs for ``seconds`` (at least one
    pair, ending on an untraced run), then one prefix run; reduce the
    spans to per-layer metrics."""
    status = sp.SparkStatus(bench.spark.sparkContext)
    untraced, traced, runs = [], [], []
    start = time.perf_counter()
    # untraced runs bracket the traced ones, so JIT warming during the
    # pairs does not favour either side of trace.overhead_s
    while not traced or time.perf_counter() - start < seconds:
        untraced.append(bench.run())
        tracer = sp.Tracer(status)
        tracer.run_id = f"t{len(traced)}"
        with sp.instrument(tracer):
            traced.append(bench.run(tracer))
        try:
            sp.check_job_ids(tracer.spans)
        except sp.MissingJobError as exc:
            bench.fail(str(exc))
        runs.append(tracer.spans)
    untraced.append(bench.run())
    prefix = sp.Tracer(status, keep_frames=True)
    prefix.run_id = "p"
    try:
        with sp.instrument(prefix), bench.root(prefix):
            out = bench.calls()
        layers = sp.prefix_layer_metrics(bench.spark, prefix)
        bench.wl.release(out)
    except Exception:
        traceback.print_exc()
        bench.fail("prefix run raised")
        layers = {}

    def med(values):
        return statistics.median(values)

    totals = [sp.layer_totals(r) for r in runs]
    spark_all = [sp.run_metrics(r) for r in runs]
    m: dict = {}
    for layer in sp.LAYERS:
        for key in ("call_s", "self_s"):
            m[f"{layer}.{key}"] = med(
                t.get(layer, {}).get(key, 0.0) for t in totals
            )
        m[f"{layer}.eager_jobs"] = med(
            t.get(layer, {}).get("spark", sp.empty_metrics())["jobs"]
            for t in totals
        )
        pl = layers.get(layer, {"exec_s": 0.0, "spark": sp.empty_metrics()})
        m[f"{layer}.exec_s"] = pl["exec_s"]
        for key in LAYER_KEYS[4:]:
            m[f"{layer}.{key}"] = pl["spark"][key]
    for key in SPARK_RUN_KEYS:
        m[f"spark.{key}"] = med(s[key] for s in spark_all)
    # against the untraced run time: a traced run also spends time
    # draining the listener bus at every span close
    m["spark.core_busy_frac"] = med(
        s["run_ms"] / 1000.0 for s in spark_all
    ) / (med(untraced) * n_cores)
    m["sources.scans_per_run"] = med(
        s["input_bytes"] / bench.wl.input_bytes(bench.inp) for s in spark_all
    )
    m["extensions.dedup.candidate_precision"] = (
        bench.wl.candidate_precision(bench.last)
        if hasattr(bench.wl, "candidate_precision") else 0.0
    )
    m["trace.run_s"] = med(traced)
    m["trace.overhead_s"] = med(traced) - med(untraced)
    return {k: (v, _unit(k)) for k, v in m.items()}


def _unit(name: str) -> str:
    key = name.rsplit(".", 1)[-1]
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes"):
        return "B"
    if key.endswith(("_frac", "_per_run", "_precision")):
        return "1"
    return "count"


def measure(wl, seed: int, seconds: float, trace: int, work: str) -> dict:
    n_cores = cores()
    t0 = time.perf_counter()
    spark = start_session(work, n_cores)
    try:
        session_s = time.perf_counter() - t0
        g0 = time.perf_counter()
        inp = wl.prepare(os.path.join(work, "input"), seed)
        gen_s = time.perf_counter() - g0
        bench = Bench(wl, spark, inp, work)
        warmup_s = bench.run()
        s0 = time.perf_counter()
        settle_jit(spark)
        settle_s = time.perf_counter() - s0
        warmup_s += settle_s
        if trace:
            metrics = measure_traced(bench, seconds, n_cores)
            metrics["session.call_s"] = (session_s, "s")
            metrics["session.warmup_s"] = (warmup_s, "s")
        else:
            reset_peak_rss(spark)
            times, steal = [], []
            start = time.perf_counter()
            while (len(times) < MIN_RUNS
                   or time.perf_counter() - start < seconds):
                busy0, stolen0 = cpu_ticks()
                times.append(bench.run())
                busy1, stolen1 = cpu_ticks()
                steal.append((stolen1 - stolen0)
                             / max(1, busy1 - busy0 + stolen1 - stolen0))
            run_s = statistics.median(times)
            metrics = {
                "run_s": (run_s, "s"),
                "rows_per_s": (inp["rows"] / run_s, "1/s"),
                "setup_s": (session_s + gen_s + warmup_s, "s"),
                "peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
            }
            print(f"perfbench: {wl.name} session_s={session_s:.3f} "
                  f"gen_s={gen_s:.3f} warmup_s={warmup_s:.3f} "
                  f"(jit settle {settle_s:.3f}) "
                  f"run_s={['%.3f' % t for t in times]} "
                  f"steal={['%.3f' % x for x in steal]}", file=sys.stderr)
        failed_frac = bench.failed / bench.attempted
        print(f"perfbench: {wl.name} failed_frac={failed_frac} "
              f"({bench.failed}/{bench.attempted} outputs)", file=sys.stderr)
        if trace:
            metrics["failed_frac"] = (failed_frac, "1")
            if list(metrics) != per_layer_names():
                raise RuntimeError("traced metrics differ from BENCHMARK.json")
        return {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import padua_spark.session  # noqa: F401
        if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
            raise ImportError("__spark_entry__.py not found")
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: program not found: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        result = measure(WORKLOADS[args.workload], args.seed, args.seconds,
                         args.trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    summary = ", ".join(f"{k}={m['value']:.6g} {m['unit']}"
                        for k, m in result["metrics"].items()
                        if "." not in k or k == "failed_frac")
    print(f"perfbench: {args.workload}: {summary}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
