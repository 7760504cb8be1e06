"""Benchmark of the hourly ZTM pipeline and of two catalog workloads.

    python3 perfbench/run.py --workload ztm_hourly --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The program is imported from the
checkout; every file the run writes (generated inputs, warehouses, Spark
scratch, event logs) goes under ``.perfbench_tmp/`` in the checkout and is
removed at the end. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, from a run whose steps alternate between untraced and traced.

``--setup-only`` (used by the run itself) does one set-up, prints its
time and exits.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2  # untraced: this process's set-up and one in a child process
ENV = dict(os.environ)  # as started, for the child processes
END_TO_END = [
    ("setup_s", "s"),
    ("step_p50_s", "s"),
    ("rows_per_s", "rows/s"),
]


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(tmp: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into ``tmp``."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.chdir(tmp)  # spark-warehouse/, metastore_db/, derby.log


def _start_session(extra: dict | None = None):
    from idh_etl_demo_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra or {})}
    spark = get_spark(app_name="perfbench", master=f"local[{_cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark) -> None:
    spark.range(200_000).selectExpr("id % 7 as k").groupBy("k").count().collect()


def _setup(wl, tmp: str, conf: dict | None = None):
    """One set-up: session up (the JVM launch included), a warm-up query,
    inputs generated. Returns the session, the inputs, and the times, with
    ``setup_s`` counted from process start."""
    ts = time.perf_counter()
    spark = _start_session(conf)
    tw = time.perf_counter()
    _warm(spark)
    tp = time.perf_counter()
    inputs = wl.prepare(os.path.join(tmp, "inputs"))
    times = {"setup_s": time.perf_counter() - PROCESS_START, "start_s": tw - ts, "warm_s": tp - tw}
    return spark, inputs, times


def _setup_in_child(workload: str, seed: int) -> float:
    """``setup_s`` of a set-up in a fresh process, which exits after it."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
         "--seconds", "0", "--setup-only"],
        cwd=ROOT, env=ENV, stdout=subprocess.PIPE, text=True, timeout=150,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"set-up in a child process exited with {proc.returncode}")
    return json.loads(proc.stdout.splitlines()[-1])["setup_s"]


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop_jvm() -> None:
    """Stop any live Spark context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Sessions:
    """The run's one Spark session. In a traced run the event log is on
    from the start and the spans are on for steps 1 and 2 of every 4
    (untraced, traced, traced, untraced), so the traced and untraced steps
    sit at the same average point of the JVM's warm-up, and every step
    finds the same session state (e.g. the catalog's table cache)."""

    def __init__(self, spark, trace: bool):
        from spans import Tracer

        self.spark, self.trace = spark, trace
        self.tracer = Tracer(enabled=False)

    def traced(self, k: int) -> bool:
        return self.trace and k % 4 in (1, 2)

    def step(self, traced: bool):
        self.tracer.attach(self.spark.sparkContext, traced)
        return self.spark


def run(workload: str, seed: int, seconds: float, trace: bool, tmp: str) -> dict:
    import layers
    import workloads
    from spans import event_log_conf, read_event_log

    wl = workloads.make(workload, seed)
    log_dir = os.path.join(tmp, "eventlog")
    spark, inputs, setup = _setup(wl, tmp, event_log_conf(log_dir) if trace else None)
    phases = {"setup": time.perf_counter() - PROCESS_START}
    setups = [setup["setup_s"]]
    if not trace:
        setups += [_setup_in_child(workload, seed) for _ in range(SETUP_REPS - 1)]
        phases["child_setups"] = time.perf_counter() - PROCESS_START

    warm = workloads.Measured()
    if wl.check_first:
        wl.check(spark, inputs, "", warm)
    phases["warm"] = time.perf_counter() - PROCESS_START
    sessions = Sessions(spark, trace)
    warehouse = os.path.join(tmp, "warehouse")
    m = wl.measure(sessions, inputs, warehouse, seconds, 4 if trace else workloads.MIN_STEPS)
    phases["measure"] = time.perf_counter() - PROCESS_START
    incoming = {} if wl.check_first else wl.check(spark, inputs, warehouse, m)
    rss_mb = (_hwm_kb("self") + _hwm_kb(spark.sparkContext._gateway.proc.pid)) / 1024
    spark.stop()  # also completes the event log
    phases["end"] = time.perf_counter() - PROCESS_START

    if not trace:
        step = workloads.typical_step(m)
        metrics = {
            "setup_s": statistics.median(setups),
            "step_p50_s": step,
            "rows_per_s": workloads.median(m.step_rows) / step if step else 0.0,
        }
        units = dict(END_TO_END)
    else:
        plain = workloads.median([x for x, t in zip(m.steps, m.traced) if not t])
        traced = workloads.median([x for x, t in zip(m.steps, m.traced) if t])
        metrics = layers.compute(
            sessions.tracer,
            m,
            read_event_log(log_dir, m.windows),
            session={
                "session.start_s": setup["start_s"],
                "session.warmup_s": setup["warm_s"],
                "process.peak_rss_mb": rss_mb,
            },
            overhead=traced / plain - 1.0 if plain else 0.0,
            incoming=incoming,
            warehouse=warehouse,
        )
        units = {name: unit for name, unit, _ in layers.PER_LAYER}

    findings = warm.findings + m.findings
    attempted, failed = warm.attempted + m.attempted, warm.failed + m.failed
    steps = " ".join(f"{x:.2f}{'t' if t else ''}" for x, t in zip(m.steps, m.traced))
    print("phases (s since start): " + ", ".join(f"{k}={v:.1f}" for k, v in phases.items()), file=sys.stderr)
    for f in findings:
        print(f"finding: {f}", file=sys.stderr)
    print(f"{workload} seed={seed}: steps {steps}; setups " + " ".join(f"{x:.2f}" for x in setups)
          + f"; {attempted} attempted, {failed} failed", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import bench  # noqa: F401 - registers every catalog entry
        import idh_etl_demo_spark  # noqa: F401
        from tests import compare, ztm_oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    try:
        _isolate(tmp)
        if args.setup_only:
            result = {"setup_s": _setup(workloads.make(args.workload, args.seed), tmp)[2]["setup_s"]}
        else:
            result = run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
