"""Fast tests of the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs once untraced and once traced: every metric named in
BENCHMARK.json must be printed with its unit and the output checks must
pass. A corrupted decode or read must be counted in ``failed``, and the
benchmark must refuse to run where the package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import run  # noqa: E402
import workloads  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = workloads.Size(n_conv=24, mean_turns=30, slices=4, setup_reps=1,
                      warmup_ingests=1, warmup_reads=1, resume_reps=1,
                      probe_ops=1)


@pytest.fixture
def bench(monkeypatch, capsys):
    """Run ``run.main`` at the tiny size; returns (result, side file)."""
    saved = dict(os.environ)
    monkeypatch.setattr(workloads, "Size", lambda: TINY)

    def call(workload: str, trace: int = 0):
        capsys.readouterr()
        code = run.main(["--workload", workload, "--seed", "5",
                         "--seconds", "1", "--trace", str(trace)])
        assert code == 0
        result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        side = json.loads((ROOT / ".perfbench"
                           / f"{workload}-trace{trace}.json").read_text())
        return result, side

    yield call
    os.environ.clear()
    os.environ.update(saved)
    tempfile.tempdir = None


def check_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_and_passes_checks(bench, workload):
    result, _ = bench(workload, trace=0)
    check_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert all(result["metrics"][m]["value"] > 0
               for m in ("throughput_per_s", "latency_ms_p50",
                         "stored_bytes_per_point", "setup_s"))


def test_traced_runs_cover_every_layer(bench):
    exercised = set()
    for w in SPEC["workloads"]:
        result, side = bench(w["name"], trace=1)
        check_metrics(result, SPEC["per_layer"])
        assert result["correct"] and result["failed"] == 0
        exercised |= set(side["per_layer"])
        traced_ops = {s["op"] for s in side["spans"]
                      if s["name"] == "perfbench.op"}
        assert traced_ops, "a traced run records op spans"
    missing = {m["name"] for m in SPEC["per_layer"]} - exercised
    assert not missing, f"no workload measures {sorted(missing)}"


def corrupt_decode(monkeypatch):
    real = workloads.decode_points

    def flipped(blocks, as_double=True):
        out = real(blocks, as_double)
        return out.withColumn("value", F.col("value") + 1)

    monkeypatch.setattr(workloads, "decode_points", flipped)


def test_corrupted_read_decode_counts_as_failed(bench, monkeypatch):
    corrupt_decode(monkeypatch)
    result, _ = bench("read_series_day")
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1


def test_corrupted_ingest_decode_counts_as_failed(bench, monkeypatch):
    corrupt_decode(monkeypatch)
    result, _ = bench("ingest_bulk")
    assert not result["correct"]
    assert result["failed"] >= result["attempted"] - 1 >= 1


def test_lost_rows_in_ingest_read_count_as_failed(bench, monkeypatch):
    real = workloads.ParquetTableIO.read

    def lossy(self, table, snapshot_id=None):
        df = real(self, table, snapshot_id)
        return df.where(F.col("series_key") != workloads.HOT_SERIES) \
            if table.startswith("blocks") else df

    monkeypatch.setattr(workloads.ParquetTableIO, "read", lossy)
    result, _ = bench("ingest_bulk")
    assert not result["correct"] and result["failed"] >= 1


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "ingest_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
