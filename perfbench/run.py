"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 24 \
        --trace 0

The run builds its fixture tables from ``--seed`` (several times, to
time set-up), runs one untimed warm-up round, then runs rounds of ops
in a closed loop from one client thread for about ``--seconds`` (two
rounds at least), checking every answer. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine's layer entry points
(``layers.py``) and reports the per-layer metrics instead.
Human-readable lines come first; the last line of standard output is
one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # fixture builds per run; setup_s is their median
MIN_ROUNDS = 2  # measured rounds per run, so every op has two samples

E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "round_p50_s": "s",
    "op1_p50_s": "s", "op2_p50_s": "s", "op3_p50_s": "s", "op4_p50_s": "s",
    "peak_rss_mb": "MB", "write_bytes_per_row": "B/row",
    "table_bytes_per_row": "B/row",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=24.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="input size; 'tiny' is for the self-test")
    return p.parse_args(argv)


def cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def start_spark(work: str):
    from pyspark.sql import SparkSession

    from delta_spark.session import configure_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    builder = configure_spark(
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores()}]"))
    spark = (builder
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     "-Dio.netty.tryReflectionSetAccessible=true "
                     f"-Dderby.system.home={os.path.join(work, 'derby')}")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the Spark driver
    JVM it launched (VmHWM), in MiB."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat;
    empty where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings; a high share means the timings measured the
    host's contention more than the program."""
    if len(before) < 8 or len(after) < 8:
        return 0.0
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


def environment(spark, args, wl) -> dict:
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "flush": "os.sync() after untimed set-up and warm-up",
        "gc": "gc.collect() before every op, untimed",
        "min_rounds": MIN_ROUNDS,
        "setups": SETUPS, **wl.stamp(),
    }


class Run:
    """One workload's set-up, warm-up and measured rounds."""

    def __init__(self, spark, wl, tracer=None):
        self.spark = spark
        self.wl = wl
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: dict[str, list[float]] = {k: [] for k in wl.kinds}
        self.warmup_walls: dict[str, float] = {}
        self.round_walls: list[float] = []
        self.traced: list[tuple[str, dict, float]] = []  # kind, totals, wall
        self.untraced_walls: list[float] = []
        self.storage: dict[str, float] = {}
        self.steal = 0.0  # steal share during the measured rounds

    def setup(self, work: str) -> float:
        times = []
        for i in range(SETUPS):
            path = os.path.join(work, f"fixture{i}")
            t0 = time.perf_counter()
            self.wl.build(path)
            times.append(time.perf_counter() - t0)
            if i < SETUPS - 1:
                shutil.rmtree(path)
        self.wl.use(path)
        return statistics.median(times)

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def _settle(self) -> None:
        """Untimed, before every op: collect this process's garbage, so
        no op pays for an earlier op's (freed py4j proxies release their
        JVM objects here)."""
        gc.collect()

    def _one(self, op, r: int, traced: bool):
        self._settle()
        if not traced:
            t0 = time.perf_counter()
            out = op.run()
            return out, time.perf_counter() - t0, None
        run = op.run
        if op.layer is not None:
            layer, name = op.layer
            run = lambda: self.tracer.span(layer, name, op.run)  # noqa: E731
        return self.tracer.op(f"perfbench:{self.wl.name}:{op.kind}:{r}", run)

    def round(self, r: int, record: bool) -> None:
        traced = self.tracer is not None and record and r % 2 == 1
        wall_sum = 0.0
        for op in self.wl.round(r):
            self.attempted += 1
            try:
                out, wall, totals = self._one(op, r, traced)
            except Exception:
                self._fail(f"round {r} {op.kind}: "
                           + traceback.format_exc(limit=3))
                continue
            err = op.check(out)
            if err:
                self._fail(f"round {r} {op.kind}: {err}")
            if not record:
                self.warmup_walls[op.kind] = wall
                continue
            wall_sum += wall
            self.walls[op.kind].append(wall)
            if traced:
                self.traced.append((op.kind, totals, wall))
            else:
                self.untraced_walls.append(wall)
        if record:
            self.round_walls.append(wall_sum)

    def measure(self, seconds: float) -> float:
        """Closed loop of rounds; return the measured wall time. The
        first ``MIN_ROUNDS`` rounds always run; another starts only if,
        at the pace of the round before it, it ends within ``seconds``.
        A traced run alternates traced and untraced rounds."""
        self.wl.changed_rows = 0
        before = self.wl.table_bytes()
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        r, last = 1, 0.0
        while r <= MIN_ROUNDS or time.perf_counter() - t0 + last <= seconds:
            start = time.perf_counter()
            self.round(r, record=True)
            last = time.perf_counter() - start
            if r == 1:
                # storage is measured over the first round only, so it
                # does not depend on how many rounds fit in the run
                after = self.wl.table_bytes()
                self.storage = {
                    "write_bytes_per_row":
                        (after - before) / max(1, self.wl.changed_rows),
                    "table_bytes_per_row":
                        after / max(1, self.wl.live_rows()),
                }
            r += 1
        measured = time.perf_counter() - t0
        self.steal = steal_share(ticks, cpu_ticks())
        return measured

    def verify(self) -> None:
        """End-of-run result check, counted as one more attempted op."""
        self.attempted += 1
        try:
            err = self.wl.final_check()
        except Exception:
            err = traceback.format_exc(limit=3)
        if err:
            self._fail(f"final check: {err}")


def end_to_end(run: Run, setup_s: float, measured_s: float,
               spark) -> dict[str, float]:
    n_ops = sum(len(v) for v in run.walls.values())
    m = {
        "setup_s": setup_s,
        "ops_per_s": n_ops / measured_s,
        "round_p50_s": statistics.median(run.round_walls),
        "peak_rss_mb": peak_rss_mb(spark),
        **run.storage,
    }
    for i, kind in enumerate(run.wl.kinds, 1):
        m[f"op{i}_p50_s"] = statistics.median(run.walls[kind])
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    # import the engine before anything is printed: without it there is
    # nothing to measure, and the run must fail without a result line
    import delta_spark  # noqa: F401

    import layers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-"
                        f"{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher included: temp files in the work dir and
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        phases = {"start_s": time.perf_counter() - t0}
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale)
        tracer = None
        if args.trace:
            tracer = layers.Tracer(spark)
            tracer.install()
        run = Run(spark, wl, tracer)
        t0 = time.perf_counter()
        setup_s = run.setup(work)
        phases["setups_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        run.round(0, record=False)  # warm-up: JIT, Python workers
        phases["warmup_s"] = time.perf_counter() - t0
        os.sync()
        measured_s = run.measure(args.seconds)
        if tracer is not None:
            tracer.uninstall()
        t0 = time.perf_counter()
        run.verify()
        phases["verify_s"] = time.perf_counter() - t0
        env = environment(spark, args, wl)
        print("env " + json.dumps(env, sort_keys=True))
        print("phases " + json.dumps({k: round(v, 3)
                                      for k, v in phases.items()}))
        print("warmup " + json.dumps({k: round(v, 3) for k, v
                                      in run.warmup_walls.items()}))
        for e in run.errors:
            print("error " + e.replace("\n", " | "))
        print(f"rounds {len(run.round_walls)}  attempted {run.attempted}  "
              f"measured_s {measured_s:.3f}  steal {run.steal:.3f}  "
              f"error_rate {run.failed / run.attempted:.4f}")
        for i, kind in enumerate(wl.kinds, 1):
            print(f"op{i} = {kind}: n={len(run.walls[kind])} walls="
                  + ",".join(f"{w:.3f}" for w in run.walls[kind]))
        if args.trace:
            totals = [t for _, t, _ in run.traced]
            metrics = {**layers.summarize(totals),
                       **layers.trace_ratios(
                           totals, [w for _, _, w in run.traced],
                           run.untraced_walls)}
            units = dict(layers.LAYER_METRICS)
            for kind in wl.kinds:
                per = layers.summarize(
                    [t for k, t, _ in run.traced if k == kind])
                print(f"layers {kind}: " + json.dumps(
                    {k: round(v, 6) for k, v in per.items()}))
        else:
            metrics = end_to_end(run, setup_s, measured_s, spark)
            units = E2E_UNITS
        for name, value in metrics.items():
            print(f"metric {name} {value:.6g} {units[name]}")
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
