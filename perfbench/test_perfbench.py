"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first tests need no Spark.  The end-to-end tests make one run per
workload and trace mode at ``--seconds 1`` (a few minutes in all).
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_metric_tables_match_benchmark_json():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


def test_generator_is_seeded():
    a, b, c = gen.tables(0.001, 7), gen.tables(0.001, 7), gen.tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    ev = a["events"].to_pandas()
    assert not ev.duplicated(["user_id", "ts"]).any()


def test_parse_metric():
    assert spans.parse_metric("1,084") == 1084
    assert spans.parse_metric("23.4 KiB") == pytest.approx(23.4 * 1024)
    assert spans.parse_metric("1.4 s") == pytest.approx(1400)
    total = "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)"
    assert spans.parse_metric(total) == pytest.approx(2 * 1024**2)


def test_covered_ms_merges_overlaps_and_clips():
    assert spans.covered_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5


class _NoopFrame:
    """Stands in for a DataFrame: ``df.write.mode(..).format(..).save()``."""

    @property
    def write(self):
        return self

    def mode(self, _):
        return self

    def format(self, _):
        return self

    def save(self):
        return None


def _boom(spark, sf_dir):
    raise ValueError("injected failure")


def test_injected_failure_raises_error_rate(tmp_path):
    bench = run.Bench("plan_overhead", 1, 0.0, False, str(tmp_path))
    names = WORKLOADS["plan_overhead"].queries
    bench.queries = {n: (lambda spark, sf_dir: _NoopFrame()) for n in names}
    bench.queries[names[0]] = _boom
    bench.data = str(tmp_path)
    bench.passes()
    failed = [f for f in bench.failures if f["name"] == names[0]]
    assert failed and "injected failure" in failed[0]["error"]
    assert len(bench.failures) == len(failed)
    assert bench.error_rate() == len(failed) / bench.attempted > 0
    assert len(bench.samples) == bench.attempted - len(failed)


def test_compare_prints_every_metric(tmp_path):
    rec = {
        "workload": "plan_overhead",
        "metrics": {n: {"value": 1.0, "unit": u} for n, u in run.END_TO_END.items()},
        "pass_wall_s": [1.0, 1.1, 1.2],
        "per_query": {"q": [{"latency_ms": 5.0}, {"latency_ms": 6.0}]},
    }
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(rec))
    b.write_text(json.dumps(rec))
    out = "\n".join(compare.compare(compare.load(str(a)), compare.load(str(b))))
    for name in [*run.END_TO_END, "q"]:
        assert name in out


@functools.lru_cache(maxsize=None)
def _run(workload: str, trace: int) -> tuple[dict, str]:
    """One short run (seed 1); its summary line and its stdout."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_printed_with_its_unit(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert f"{m['name']} {got['value']} {m['unit']}" in stdout
    assert set(result["metrics"]) == {m["name"] for m in expected}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_query_is_credited_only_its_own_executions(workload):
    """Each traced query's SQL metrics (exec.scan_rows, exec.exchange_bytes,
    sink.*, ...) come from executions whose jobs all ran in that query's
    own job groups, and every job of its exec group is covered: the
    untraced pass before it adds nothing.  Its scan rows are then the same
    in every traced pass."""
    _run(workload, 1)
    with open(os.path.join(HERE, "results", f"{workload}-seed1-trace1.json")) as f:
        record = json.load(f)
    credits = record["sql_credit"]
    assert credits
    for c in credits:
        own = set(c["build_jobs"]) | set(c["exec_jobs"])
        credited = {j for jobs in c["executions"].values() for j in jobs}
        assert credited <= own, c
        assert set(c["exec_jobs"]) <= credited, c
    for name, layers in record["per_query"].items():
        scan_rows = {layer.get("exec.scan_rows", 0.0) for layer in layers
                     if "exec.s" in layer}
        assert len(scan_rows) == 1, (name, scan_rows)


def test_refuses_to_run_without_the_program(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench_dir / f).write_text(open(os.path.join(HERE, f)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "plan_overhead",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
