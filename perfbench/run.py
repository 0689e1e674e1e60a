"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 18 --trace 0

Runs one workload in this process on ``local[N]`` (N = min(4, nproc)) from
the root of a repository checkout, and prints a summary followed by one
JSON line::

    {"correct": true, "attempted": 11, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans and Spark counts; the full trace is written
to ``.perfbench_work/traces/``). ``--workload all`` runs every workload,
each in its own process, and ``--selftest`` runs the cache-isolation
self-test. Every input is generated from ``--seed`` before anything is
timed; all scratch files stay under ``.perfbench_work/`` and are removed
at the end of the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "my_favorite_etl_pipeline_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("etl_backfill", "query_mix")

E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.first_call_extra_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.scan_rows": "count",
    "exec.scan_bytes": "bytes",
    "exec.peak_exec_memory_bytes": "bytes",
    "caching.persists": "count",
    "caching.cached_bytes_peak": "bytes",
    "operators.incremental.is_empty_s": "s",
    "operators.merge.write_staging_s": "s",
    "operators.merge.read_staging_run_s": "s",
    "operators.merge.merge_upsert_s": "s",
    "operators.dq.enforce_s": "s",
    "sources.mart.commit_s": "s",
    "operators.merge.delete_staging_run_s": "s",
    "pipeline_runner.self_s": "s",
    "pipeline_runner.jobs_per_batch": "count",
    "pipeline_runner.stages_per_batch": "count",
    "sources.scan_rows_per_extracted_doc": "ratio",
    "sources.staging_bytes_written": "bytes",
    "sources.mart_bytes_written": "bytes",
}
# Each workload's operation, named in the summary (batch_p50_s, query_p50_s, ...).
OP_NAMES = {"etl_backfill": ("batch", "batches"), "query_mix": ("query", "queries")}


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    return args


def _cpus() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def _prepare_env(work: str) -> None:
    """Point every scratch location of Spark and Python inside ``work``."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # every JVM of the run, the spark-submit launcher included
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a small heap with a fixed young generation keeps the driver's
        # resident size from following G1's run-to-run sizing decisions
        # (peak_rss_mb)
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options -Xmn1g --conf spark.ui.showConsoleProgress=false "
            "--conf " + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}")
            + " pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = tmp


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _tail(xs: list[float]) -> tuple[float, str]:
    """The p90 of ``xs`` (inclusive interpolation) and its label."""
    if len(xs) < 2:
        return (xs[0] if xs else 0.0), "max"
    return statistics.quantiles(xs, n=10, method="inclusive")[-1], "p90"


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(args: argparse.Namespace) -> dict:
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    sys.path[0] = ROOT
    from perfbench.workloads import WORKLOADS, Harness

    h = Harness(work, args.seed, args.seconds, bool(args.trace), T_START)
    try:
        out = WORKLOADS[args.workload](h)
        spark = h.spark
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss_parts = {"python_mb": _vm_hwm_mb(os.getpid()), "jvm_mb": _vm_hwm_mb(jvm_pid)}
        rss = sum(rss_parts.values())
        env = {
            "seed": args.seed,
            "nproc": os.cpu_count(),
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "python": platform.python_version(),
            "seconds": args.seconds,
            "timed_s": round(sum(out.pass_seconds), 3),
            "peak_rss": rss_parts,
        }
    finally:
        if h.spark is not None:
            _stop(h.spark)
        shutil.rmtree(work, ignore_errors=True)

    tail, tail_label = _tail(out.op_seconds)
    e2e = {
        "setup_s": out.setup_seconds,
        "pass_s": statistics.median(out.pass_seconds) if out.pass_seconds else 0.0,
        "op_p50_s": statistics.median(out.op_seconds) if out.op_seconds else 0.0,
        "op_tail_s": tail,
        "peak_rss_mb": rss,
    }
    os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
    trace_path = os.path.join(
        WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    layers = {name: float(out.layers.get(name, 0.0)) for name in PER_LAYER}
    h.tracer.dump(trace_path, {
        "workload": args.workload, **env, "end_to_end": e2e,
        "per_layer": layers if args.trace else {}, "info": out.info, "failures": out.failures,
    })
    values, units = (layers, PER_LAYER) if args.trace else (e2e, E2E)

    op, ops = OP_NAMES[args.workload]
    print(
        f"perfbench {args.workload} seed={env['seed']} nproc={env['nproc']} "
        f"master={env['master']} spark={env['spark']} seconds={env['seconds']} "
        f"timed_s={env['timed_s']} trace={args.trace}"
    )
    notes = {
        "op_p50_s": f"{op}_p50_s, median of {len(out.op_seconds)} {ops}",
        "op_tail_s": f"{op}_tail_s, {tail_label} of {len(out.op_seconds)} {ops}",
        "pass_s": f"median of {len(out.pass_seconds)} pass(es): "
        + " ".join(f"{x:.3f}" for x in out.pass_seconds),
    }
    for name, value in values.items():
        print(f"  {name:40s} {value:16.6g} {units[name]:6s} {notes.get(name, '') if not args.trace else ''}")
    if args.workload == "etl_backfill" and not args.trace:
        print(f"  {'backfill_docs_per_s':40s} {out.info.get('docs_per_s', 0.0):16.6g} docs/s")
    if args.trace:
        print(f"  traced pass_s {e2e['pass_s']:.4f} s, op_p50_s {e2e['op_p50_s']:.4f} s; trace: {trace_path}")
    failed = min(len(out.failures), out.attempted)
    print(f"  {'fail_frac':40s} {failed / max(1, out.attempted):16.6g} ratio  ({failed}/{out.attempted})")
    for f in out.failures:
        print(f"  FAILED: {f}", file=sys.stderr)
    return {
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def run_all(args: argparse.Namespace) -> dict:
    """Every workload, each in a fresh process, one combined result."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"workload {name} exited with {proc.returncode}")
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    return merged


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    if args.selftest:
        work = os.path.join(WORK_ROOT, f"selftest-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        _prepare_env(work)
        sys.path[0] = ROOT
        from perfbench.selftest import cache_isolation

        try:
            return cache_isolation(work, _stop)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    result = run_all(args) if args.workload == "all" else run_workload(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
