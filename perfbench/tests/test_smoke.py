"""Tiny-size smoke runs of the benchmark entry point: both workloads
untraced, and one traced run reduced from its real event log.  Each run
starts and stops its own JVM (about a minute each)."""

from __future__ import annotations

import json
import math
import os
import tempfile

import pytest

from perfbench import run

TINY = {
    # two cycles: the second is the first to read after a delete on an
    # index whose earlier state was already read with tombstones
    "ingest_mixed": {"gen0_docs": 60, "append_docs": 30, "cycles": 2,
                     "delete_ids_per_cycle": 3, "batch_distinct_queries": 20,
                     "oracle_sample_queries": 10,
                     "single_queries_per_cycle": 1},
    "substring_natural": {"docs": 40, "rare_patterns": 3, "head_patterns": 3,
                          "short_patterns": 2, "display_patterns": 2,
                          "extract_intervals": 4},
}


@pytest.fixture
def tiny_bench(tmp_path, monkeypatch):
    with open(run.BENCH / "workloads.json") as fh:
        cfg = json.load(fh)
    for name, sizes in TINY.items():
        cfg[name].update(sizes)
    (tmp_path / "workloads.json").write_text(json.dumps(cfg))
    monkeypatch.setattr(run, "BENCH", tmp_path)
    # run.main points the process environment at its scratch dir
    for key in ("SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "TMPDIR",
                "PYSPARK_PYTHON", "PYTHONPATH"):
        if key in os.environ:
            monkeypatch.setenv(key, os.environ[key])
        else:
            monkeypatch.delenv(key, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", None)
    with open(run.REPO / "BENCHMARK.json") as fh:
        return json.load(fh)


def _run(capsys, workload, trace):
    rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                   "--trace", str(trace)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    assert out["correct"] and out["failed"] == 0
    return out


@pytest.mark.parametrize("workload", sorted(TINY))
def test_untraced_run_reports_every_end_to_end_metric(tiny_bench, capsys,
                                                      workload):
    out = _run(capsys, workload, 0)
    assert [m["name"] for m in tiny_bench["end_to_end"]] == list(out["metrics"])
    for v in out["metrics"].values():
        assert math.isfinite(v["value"]) and v["value"] > 0


def test_traced_run_reports_every_layer_metric(tiny_bench, capsys):
    out = _run(capsys, "ingest_mixed", 1)
    assert [m["name"] for m in tiny_bench["per_layer"]] == list(out["metrics"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["query.bm25_topk.jobs"] >= 1
    assert m["query.bm25_topk.python_rows_in"] > 0
    assert m["streaming.append_generation.files_written"] >= 1
    assert m["build.python_rows_in"] > 0
    assert not (run.REPO / ".perfbench_work").exists()


def test_refuses_to_run_without_the_engine(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "REPO", tmp_path)
    assert run.main(["--workload", "ingest_mixed", "--seed", "1",
                     "--seconds", "1", "--trace", "0"]) == 2
