"""Tests of the benchmark itself: ``python -m pytest perfbench``.

The smoke tests run the workloads end to end at tiny sizes, one Spark
session each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import data
from perfbench.trace import LAYER_METRICS, parse_metric
from perfbench.workloads import WORKLOADS, result_key

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
ARGS = ["--seed", "7", "--seconds", "1", "--smoke"]


def test_spec_matches_code():
    from perfbench.run import END_TO_END

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == LAYER_METRICS
    assert list(LAYER_METRICS) == [m["name"] for m in SPEC["per_layer"]]


def test_parse_metric():
    assert parse_metric("13 ms") == pytest.approx(0.013)
    assert parse_metric("15.2 KiB") == pytest.approx(15.2 * 1024)
    assert parse_metric("1,234") == 1234
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n2.1 s (502 ms, 527 ms, "
        "561 ms (stage 1.0: task 4))") == pytest.approx(2.1)


def test_result_key_is_exact_and_order_insensitive():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.1, [1.0, 2.0]]})
    assert result_key(a) == result_key(a.iloc[::-1])
    assert result_key(a) == result_key(a[["v", "k"]])
    b = pd.DataFrame({"k": [1, 2], "v": [0.1 + 1e-16, [1.0, 2.0]]})
    assert result_key(a) != result_key(b)
    assert result_key(a) != result_key(pd.concat([a, a.iloc[:1]]))
    assert result_key(a) != result_key(a.rename(columns={"v": "w"}))


def test_inputs_follow_the_seed():
    one, again, other = (data.corpus_tables(s, 1) for s in (5, 5, 6))
    assert all(one[t].equals(again[t]) for t in one)
    assert not one["lineitem"].equals(other["lineitem"])
    sf001 = data.corpus_tables(5, 10)
    assert (sf001["lineitem"].num_rows, sf001["documents"].num_rows,
            sf001["embeddings"].num_rows) == (60_000, 500, 500)
    assert data.sweep_values(5, 1, 50) == data.sweep_values(5, 1, 50)
    assert not set(data.sweep_values(5, 1, 50)) & set(data.sweep_values(5, 2, 50))


def _run(cwd: str, workload: str, trace: int, patch: str = ""):
    """The benchmark in a subprocess; ``patch`` is Python run first."""
    argv = ["--workload", workload, "--trace", str(trace)] + ARGS
    code = (f"import sys; sys.path.insert(0, {cwd!r}); {patch}\n"
            f"from perfbench.run import main; sys.exit(main({argv!r}))")
    return subprocess.run([sys.executable, "-c", code], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


# per-layer metrics each workload's traced run must read above zero,
# and the layers it bypasses, which must read zero
EXERCISED = {
    "both": ["session.get_spark_s", "sql.python_s", "sql.python_boot_s",
             "sql.codegen_s", "trace.bookkeeping_s"],
    "sweep_interactive": [
        "grid.build_s", "runner.prepare_params_df_s", "runner.jobs_per_run",
        "runner.stages_per_run", "runner.skip_ratio", "database.append_s",
        "database.reserve_seqs_s", "database.lock_held_s", "database.load_s",
        "database.files", "database.run_partitions", "database.bytes_per_row",
        "metastore.puts", "query.filter_s", "query.latest_s", "query.failed_s",
        "query.extract_params_s", "cli.db2json_s"],
    "corpus_queries": [
        "catalog.build_s", "catalog.exec_s", "catalog.jobs", "catalog.exchanges",
        "catalog.task_cpu_s", "catalog.shuffle_write_mb", "caching.clear_s",
        "streaming.batches", "streaming.batch_s"],
}
BYPASSED = {
    "sweep_interactive": ("catalog.", "caching.", "streaming."),
    "corpus_queries": ("grid.", "runner.", "database.", "metastore.", "query.",
                       "cli."),
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_every_metric(workload, trace):
    result = _result(_run(ROOT, workload, trace))
    assert result["correct"] and result["failed"] == 0
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        used = EXERCISED[workload] + EXERCISED["both"]
        assert [k for k in used if not values[k] > 0] == []
        bypassed = [k for k in values if k.startswith(BYPASSED[workload])]
        assert bypassed and all(values[k] == 0 for k in bypassed)
    else:
        assert all(v > 0 for v in values.values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


# a wrong expectation on the driver: the stored y_ of the executors'
# func, or an oracle's result
WRONG = {
    "sweep_interactive":
        "import perfbench.data as d; d.expected_y = lambda a, b: a + b",
    "corpus_queries":
        "from psweep_spark.queries_catalog import ORACLES; "
        "ORACLES['embed_kmeans_lloyd'] = 'SELECT 1 AS vec_id'",
}


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_wrong_expectation_counts_as_failed(workload):
    result = _result(_run(ROOT, workload, 0, WRONG[workload]))
    assert not result["correct"]
    assert 0 < result["failed"] <= result["attempted"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sweep_interactive",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
