"""Benchmark of the spark-graft engine: warm, many-operation runs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pos_sync --seed 1 --seconds 18 --trace 0

One run: generate the workload's inputs from the seed, start the
engine's session, warm up with an untimed operation, time as many
operations as fit ``--seconds`` at the workload's nominal operation
time (at least ``MIN_OPS``), check the outputs against
the registry oracles outside the timed window, stop the JVM, delete the
run's directory, and print one JSON object as the last line of
stdout.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans and Spark job counts per call and reports the per-layer
metrics, writing the spans to ``.perfbench/spans/``.

Everything the run writes lives under ``.perfbench/`` in the current
directory.  The run pins its environment through the engine's own
hooks: ``SPARK_GRAFT_CPUS`` (at most 4, never above the visible CPUs),
``SPARK_GRAFT_DRIVER_MEM``, ``SPARK_GRAFT_EXTRA_CONF`` (no console
progress bar or web UI, temp and warehouse dirs inside the run
directory) and ``SPARK_LOCAL_DIRS``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from checks import POS_TABLES  # noqa: E402
from tracing import Tracer  # noqa: E402

#: end-to-end metrics (``--trace 0``): name → unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "ok_ratio": "ratio",
}

#: per-layer metrics (``--trace 1``): name → unit.  A workload reports 0
#: for a layer it never calls.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.cpu_per_op_s": "s",
    "host.steal_per_op_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks_per_op": "count",
    "pipelines.build_s": "s",
    "pipelines.rows_in": "count",
    "pipelines.rows_quarantined": "count",
    **{
        f"merge.{t}.{m}": u
        for t in POS_TABLES
        for m, u in (
            ("s", "s"), ("jobs", "count"), ("rows_written", "count"),
            ("write_amp", "ratio"), ("partitions_rewritten", "count"),
            ("bytes_written", "bytes"),
        )
    },
    "merge.pos_inventory.tied_keys": "count",
    "queries.corpus_clean_pipeline.build_s": "s",
    "queries.corpus_clean_pipeline.build_jobs": "count",
    "queries.corpus_clean_pipeline.execute_s": "s",
    "queries.corpus_clean_pipeline.execute_jobs": "count",
    "dedup.near_dup_pairs": "count",
    "dedup.kept_ratio": "ratio",
    "trace.op_s": "s",
    "trace.op_self_s": "s",
    "trace.accounted_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}

#: fewest timed operations a run makes, however long they take
MIN_OPS = 2
DRIVER_MEM = "2g"


def pin_environment(run_dir: str) -> None:
    """Set the engine's environment hooks before the JVM starts."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps({
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    })
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def stop_engine(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Py4JError:
        pass  # a terminated call broke the connection; the JVM is stopped below
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system) a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def steal_s() -> float:
    """Seconds the hypervisor ran something else on this machine's CPUs
    (summed over CPUs): the time work waited for a CPU it was given."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args: argparse.Namespace, run_dir: str) -> dict:
    wl = workloads.WORKLOADS[args.workload](run_dir, args.seed)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    pin_environment(run_dir)
    t_start = time.perf_counter()
    from square_etl_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    tracer = Tracer(spark, bool(args.trace), T0)
    try:
        wl.start(spark, tracer)
        t_warm = time.perf_counter()
        start_s = t_warm - t_start
        tracer.op = 0
        with tracer.span("setup"):
            wl.setup()
        tracer.op = None
        t_first = time.perf_counter()
        warmup_s = t_first - t_warm
        setup_s = t_first - T0 - gen_s

        # a fixed operation count per --seconds, so every run times the
        # same operation positions of a JVM that is still warming up
        n_ops = max(MIN_OPS, round(args.seconds / wl.NOMINAL_OP_S))
        times: list[float] = []
        cpus: list[float] = []
        steals: list[float] = []
        failed = 0
        k = 0
        while k < n_ops:
            k += 1
            wl.before_op(k)
            tracer.op = k
            try:
                with tracer.span("op"):
                    s = time.perf_counter()
                    c0, st0 = cpu_s(jvm_pid) + time.process_time(), steal_s()
                    wl.op(k)
                    times.append(time.perf_counter() - s)
                    cpus.append(cpu_s(jvm_pid) + time.process_time() - c0)
                    steals.append(steal_s() - st0)
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            finally:
                tracer.op = None
            if tracer.enabled:
                tracer.collect_jobs(k)
            wl.after_op(k)
        ops = list(range(1, k + 1 - failed))
        rows = sum(wl.rows_in(i) for i in ops)

        t_check = time.perf_counter()
        problems = wl.check(corrupt=args.corrupt_one_row) if not failed else []
        check_s = time.perf_counter() - t_check
        for op, msg in problems:
            print(f"check: {msg}", file=sys.stderr)
        bad = {op for op, _ in problems}
        ok = len(ops) - (len(ops) if None in bad else len(bad))

        metrics: dict[str, tuple[float, str]] = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(times) if times else 0.0, "s"),
            "rows_per_s": (rows / sum(times) if times else 0.0, "1/s"),
            "ok_ratio": (ok / k, "ratio"),
        }
        print(
            f"{args.workload}: {len(times)} timed ops, op times "
            + " ".join(f"{x:.3f}" for x in times)
            + " s; cpu " + " ".join(f"{x:.3f}" for x in cpus)
            + " s; steal " + " ".join(f"{x:.3f}" for x in steals)
            + f" s; gen {gen_s:.2f} s, session {start_s:.2f} s, warm-up {warmup_s:.2f} s,"
            + f" timed {t_check - t_first:.2f} s, check {check_s:.2f} s",
            file=sys.stderr,
        )
        if args.trace:
            metrics = layer_metrics(wl, tracer, ops, start_s, warmup_s, jvm_pid, cpus, steals)
            tracer.write(os.path.join(
                os.getcwd(), ".perfbench", "spans", f"{args.workload}-seed{args.seed}.json"
            ))
    finally:
        stop_engine(spark)
    return {
        "correct": not problems and not failed,
        "attempted": k,
        "failed": k - ok,
        "metrics": metrics,
    }


def layer_metrics(
    wl, tracer, ops, start_s, warmup_s, jvm_pid, cpus, steals
) -> dict[str, tuple[float, str]]:
    med = statistics.median
    out: dict[str, tuple[float, str]] = {name: (0.0, unit) for name, unit in PER_LAYER.items()}
    out["session.start_s"] = (start_s, "s")
    out["session.warmup_s"] = (warmup_s, "s")
    out["session.jvm_peak_rss_mb"] = (jvm_peak_rss_mb(jvm_pid), "MB")
    out["session.cpu_per_op_s"] = (med(cpus), "s")
    out["host.steal_per_op_s"] = (med(steals), "s")
    per_op = [tracer.op_spans(k) for k in ops]
    for key, field in (
        ("spark.jobs_per_op", "jobs"), ("spark.stages_per_op", "stages"),
        ("spark.tasks_per_op", "tasks"), ("spark.failed_tasks_per_op", "failed_tasks"),
    ):
        out[key] = (med([sum(s.get(field, 0) for s in spans) for spans in per_op]), "count")
    op_recs = [next(s for s in spans if s["name"] == "op") for spans in per_op]
    op_s = [r["end"] - r["start"] for r in op_recs]
    self_s = [tracer.self_time(r) for r in op_recs]
    overhead = [tracer.overhead_s.get(k, 0.0) for k in ops]
    out["trace.op_s"] = (med(op_s), "s")
    out["trace.op_self_s"] = (med(self_s), "s")
    out["trace.accounted_ratio"] = (med([1 - s / d for s, d in zip(self_s, op_s)]), "ratio")
    out["trace.overhead_s"] = (med(overhead), "s")
    out["trace.overhead_ratio"] = (med([o / (d - o) for o, d in zip(overhead, op_s)]), "ratio")
    out.update(wl.layer_metrics(ops))
    assert out.keys() == PER_LAYER.keys(), sorted(out.keys() ^ PER_LAYER.keys())
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--corrupt-one-row", action="store_true",
        help="drop one output row before the check (tests that the check fails)",
    )
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "square_etl_spark")):
        print("perfbench: run from the repository root (square_etl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["metrics"] = {
        name: {"value": value, "unit": unit} for name, (value, unit) in result["metrics"].items()
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
