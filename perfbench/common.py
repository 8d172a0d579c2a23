"""Shared pieces of the benchmark: run context, operation accounting,
statistics and process memory."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median
from typing import Any

from .spans import ExecutionProbe, Tracer


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99), linear interpolation between ranks."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Ops:
    """Closed-loop operation accounting: every timed call is attempted;
    a wrong output or an exception makes it failed."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)


@dataclass
class Context:
    """Everything one workload run needs; built by ``run.py``."""

    workdir: Path
    seed: int
    seconds: float
    size: str
    tracer: Tracer
    t_process: float
    spark: object = None
    ops: Ops = field(default_factory=Ops)
    layers: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def start_session(self, prepare: Callable[[], Any] | None = None) -> Any:
        """Start the package's SparkSession at ``local[nproc]``, take the
        session-layer measurements and return what ``prepare`` returns.

        ``prepare`` builds the workload's inputs, which need no session.
        It runs while the session starts: the JVM is a process of its own,
        and the thread that starts it mostly waits for it."""
        from sportstv_streaming_data_warehouse_spark.session import get_spark

        def start():
            wall, t0 = time.time(), time.perf_counter()
            spark = get_spark(master=f"local[{nproc()}]")
            return spark, wall, time.time(), time.perf_counter() - t0

        with ThreadPoolExecutor(max_workers=1) as pool:
            starting = pool.submit(start)
            prepared = prepare() if prepare is not None else None
            self.spark, wall0, wall1, start_s = starting.result()
        self.layers["session.start_s"] = start_s
        if self.traced:
            self.tracer.add("session.start", wall0, wall1, self.tracer.current())
            self.tracer.probe = ExecutionProbe(self.spark)
        empty = []
        for _ in range(3):
            with self.tracer.span("session.empty_job"):
                t0 = time.perf_counter()
                self.spark.range(1).count()
                empty.append(time.perf_counter() - t0)
        self.layers["session.empty_job_ms"] = median(empty) * 1000
        return prepared

    def measure_memory(self) -> None:
        """Peak resident memory of the driver JVM plus this process."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.layers["session.peak_rss_mb"] = vm_hwm_mb() + vm_hwm_mb(jvm_pid)

    def setup_done(self) -> float:
        """Seconds from process start to the first timed operation."""
        return time.perf_counter() - self.t_process


#: End-to-end metrics; every workload reports every one of them.
#: pass_s: wall of the workload's main pass (ETL sources -> fact landed;
#:   one ordered catalog pass; stream start() -> termination).
#: op_geomean_ms: geometric mean over the calls a user waits on (report
#:   reads; catalog queries; micro-batches, from their triggerExecution).
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_ms": "ms",
}

RELATIONAL_QUERIES = (
    "flagship_daily_rollup", "star_fact_events", "j5_fact_by_country",
    "a4_global_summary", "w2_peak_dow_per_flag", "w3_yoy_order_growth",
    "r1_pivot_year_matrix", "a_rollup_hierarchy", "a_cohort_retention",
    "a_pareto_abc", "w_sessionize", "w_rolling_distinct_7d",
    "x_asof_join_last_signup", "x_range_join_value_bands",
    "x_salted_skew_join", "h_sketch_rollup_hll", "q_out_of_order_audit",
    "f_json_extract",
)
TEXT_QUERIES = (
    "x_dedup_minhash_lsh", "x_dedup_incremental", "s_near_dup_gate_grain",
    "x_dedup_embedding_cosine", "x_knn_ivfpq_recall", "x_bm25_topk",
    "x_decontam_bloom", "x_sample_exact_k", "x_tfidf_top_terms",
)
REPORT_TABLES = ("streaming_by_sport", "top_markets", "yoy_growth")
FAMILY_KEYS = (
    "scan_ms", "shuffle_bytes", "shuffle_write_ms", "pipeline_ms", "agg_ms",
    "join_build_ms", "broadcast_collect_ms", "python_ms", "spill_bytes",
)


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or "bytes_" in name:
        return "B"
    return "count"


#: Per-layer metrics of the traced run, grouped by the module they time.
#: Every traced run reports all of them; a layer the workload does not
#: run reads 0.
LAYER_NAMES = (
    ["session.start_s", "session.empty_job_ms", "session.peak_rss_mb"]
    + ["sources.sqlite_python_ms", "sources.sqlite_rows",
       "sources.csv_scan_ms", "sources.csv_rows"]
    + ["star.fact_write_s", "star.other_s", "star.shuffle_bytes",
       "star.shuffle_write_ms", "star.agg_ms", "star.join_build_ms",
       "star.broadcast_bytes", "star.fact_files", "star.fact_bytes"]
    + [f"report.{t}_p50_ms" for t in REPORT_TABLES]
    + ["report.jobs_per_read", "report.scan_ms"]
    + [f"query.{q}_s" for q in RELATIONAL_QUERIES + TEXT_QUERIES]
    + [f"catalog.{fam}.{k}" for fam in ("relational", "text") for k in FAMILY_KEYS]
    + ["near_dup.candidate_join_rows", "near_dup.agg_rows_in",
       "near_dup.admitted_rows"]
    + [f"stream.{p}_ms_p50" for p in
       ("add_batch", "query_planning", "wal_commit", "commit_offsets", "latest_offset")]
    + ["state.rows_total", "state.memory_bytes", "state.commit_ms_total",
       "state.store_instances", "state.rows_dropped_by_watermark"]
    + ["merge.write_ms_p50", "merge.files_written_per_batch",
       "merge.bytes_written_per_batch", "merge.fact_rows"]
    + ["self.etl_ms", "self.report_ms", "self.catalog_ms", "self.stream_ms"]
)
LAYER_UNITS = {name: _unit(name) for name in LAYER_NAMES}


def layer_metrics(layers: dict) -> dict[str, float]:
    unknown = set(layers) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {name: float(layers.get(name, 0.0)) for name in LAYER_NAMES}
