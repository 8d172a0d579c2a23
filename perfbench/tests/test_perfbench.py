"""Tests of the benchmark itself, at smoke size.

    python3 -m pytest perfbench/tests -q

Each workload runs in its own process, as the benchmark is run.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.common import E2E_UNITS, LAYER_UNITS  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.spans import Span, Tracer, parse_metric  # noqa: E402


def _run(workload: str, trace: int = 0, prelude: str = "") -> tuple[dict, dict]:
    """Run one smoke-size workload; return (context record, result)."""
    code = (
        "import sys\n"
        f"{prelude}\n"
        "from perfbench.run import main\n"
        f"sys.exit(main(['--workload', {workload!r}, '--seed', '7', '--seconds', '1',"
        f" '--trace', '{trace}', '--size', 'smoke']))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["warehouse_batch", "stream_ingest"])
def test_workload_completes_with_every_check_green(workload):
    record, result = _run(workload)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, record["errors"]
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(E2E_UNITS)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert record["cpus"] >= 1 and record["seed"] == 7 and record["spark"]


def test_traced_run_is_green_and_its_span_tree_is_well_formed():
    record, result = _run("catalog_sf01", trace=1)
    assert result["correct"] is True and result["failed"] == 0, record["errors"]
    assert set(result["metrics"]) == set(LAYER_UNITS)
    assert result["metrics"]["query.x_bm25_topk_s"]["value"] > 0
    assert result["metrics"]["catalog.relational.scan_ms"]["value"] > 0
    trace = json.loads(Path(record["trace_file"]).read_text())
    spans = trace["spans"]
    ids = {s["span_id"] for s in spans}
    assert len(ids) == len(spans)
    assert [s["name"] for s in spans if s["parent"] is None] == ["run"]
    assert all(s["parent"] in ids for s in spans if s["parent"] is not None)
    assert all(s["self_s"] >= 0 and s["end"] >= s["start"] for s in spans)
    assert {s["trace_id"] for s in spans} == {trace["trace_id"]}
    assert any(s["name"] == "sql" for s in spans)


def test_expected_value_mismatch_is_a_failed_operation(tmp_path):
    expected = json.loads((ROOT / "perfbench" / "expected_catalog.json").read_text())
    expected["a4_global_summary"]["fingerprint"] += 1
    wrong = tmp_path / "expected.json"
    wrong.write_text(json.dumps(expected))
    prelude = f"import perfbench.catalog as c; c.EXPECTED = __import__('pathlib').Path({str(wrong)!r})"
    record, result = _run("catalog_sf01", prelude=prelude)
    assert result["correct"] is False
    assert result["failed"] == 1 and result["attempted"] == 3
    assert any("a4_global_summary" in e for e in record["errors"])
    assert set(result["metrics"]) == set(E2E_UNITS)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_benchmark_json_declares_what_the_code_reports():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS


def test_parse_metric_reads_every_display_form():
    assert parse_metric("1,234") == 1234
    assert parse_metric("256.0 KiB") == 256 * 1024
    assert parse_metric("total (min, med, max (stageId: taskId))\n33 ms (0 ms, 1 ms, 5 ms (stage 3.0: task 40))") == 33
    assert parse_metric("(min, med, max (stageId: taskId)):\n(1, 1, 3 (stage 46.0: task 87))") == 3
    assert parse_metric("1.5 s") == 1500


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(True, "t")
    tr.spans = [
        Span("root", 1, None, "t", 0.0, 10.0),
        Span("a", 2, 1, "t", 1.0, 4.0),
        Span("b", 3, 1, "t", 3.0, 6.0),  # overlaps a
        Span("c", 4, 1, "t", 9.0, 12.0),  # runs past the parent
    ]
    st = tr.self_times()
    assert st[1] == pytest.approx(10 - 5 - 1)
    assert st[2] == pytest.approx(3)
