"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse_batch --seed 1 --seconds 5 --trace 0

Runs one workload in this process: one client, a closed loop (each call
waits for the previous one), on ``local[nproc]``. The last line of stdout
is the result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run records spans and engine reports and the metrics are the per-layer
ones. The line before it is the run's context record (cpus, git sha,
seed, sf, Spark version, workload-specific figures). All scratch files
live under ``.perfbench_work/`` in the checkout and are removed on exit;
traced runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "sportstv_streaming_data_warehouse_spark"
WORKLOADS = ("warehouse_batch", "catalog_sf01", "stream_ingest")


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _isolate(workdir: Path) -> None:
    """Point every scratch directory Spark, the JVM and Python use into
    ``workdir`` so the run writes only inside the checkout."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    # no hsperfdata: the JVM would write it under /tmp whatever the tmpdir
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle functions of the package by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = str(tmp)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "smoke"), default="full",
        help="smoke shrinks every input; used by the benchmark's own tests",
    )
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "tests" / "fixtures_ref.py").is_file():
        print(f"perfbench: {ROOT} holds no {PACKAGE} source to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import catalog, stream, warehouse
    from perfbench.common import E2E_UNITS, LAYER_UNITS, Context, layer_metrics, nproc
    from perfbench.spans import Tracer

    workdir = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _isolate(workdir)
    trace_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    ctx = Context(
        workdir=workdir, seed=args.seed, seconds=args.seconds,
        size=args.size, tracer=Tracer(bool(args.trace), trace_id),
        t_process=T_PROCESS,
    )
    module = {"warehouse_batch": warehouse, "catalog_sf01": catalog,
              "stream_ingest": stream}[args.workload]
    try:
        with ctx.tracer.span("run", workload=args.workload, seed=args.seed):
            e2e = module.run(ctx)
        ctx.measure_memory()
        metrics = layer_metrics(ctx.layers) if args.trace else e2e
        if args.trace:
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            ctx.record["trace_file"] = str(out_dir / f"trace-{trace_id}.json")
            ctx.tracer.dump(ctx.record["trace_file"])
        import pyspark

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "size": args.size, "cpus": nproc(), "git": _git_sha(),
            "spark": pyspark.__version__, **ctx.record,
            "peak_rss_mb": ctx.layers["session.peak_rss_mb"],
            "end_to_end": e2e, "errors": ctx.ops.errors[:20],
        }
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(workdir, ignore_errors=True)
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps(record))
    print(json.dumps({
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
