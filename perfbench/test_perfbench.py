"""Self-tests of the benchmark.

    PYTHONDONTWRITEBYTECODE=1 python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import sparkmetrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("text, value", [
    ("4,096", 4096.0),
    ("0 ms", 0.0),
    ("59.0 B", 59.0),
    ("1.5 KiB", 1536.0),
    ("total (min, med, max (stageId: taskId))\n20.2 s (4.8 s, 5.2 s, 5.4 s (stage 11.0: task 22))", 20.2),
    ("total (min, med, max (stageId: taskId))\n105.8 MiB (23.1 MiB, 28.1 MiB, 28.1 MiB (stage 1.0: task 2))",
     105.8 * 2**20),
    ("2.5 m", 150.0),
])
def test_parse_value(text, value):
    assert sparkmetrics.parse_value(text) == pytest.approx(value)


def test_parse_value_rejects_unknown_unit():
    with pytest.raises(ValueError):
        sparkmetrics.parse_value("3 parsecs")


@pytest.fixture(scope="module")
def spark():
    from lasutility_spark.engine.session import get_spark

    s = get_spark(cpus=2, app="perfbench-selftest")
    yield s
    s.stop()


def test_reader_counts_shuffle_records_of_a_repartition(spark):
    """Repartitioning N rows writes exactly N shuffle records."""
    reader = sparkmetrics.StatusReader(spark)
    n = 12_345
    mark = reader.mark()
    assert spark.range(n).repartition(7).count() == n
    op = reader.since(mark)
    layers = op.layers()
    # the repartition's N rows, plus one partial count per partition
    # from count()'s own aggregation exchange
    assert layers["shuffle.records_written"] == n + 7
    assert layers["tasks.n"] >= 7
    assert op.executions == 1


def test_reader_sees_python_worker_metrics_after_map_in_pandas(spark):
    def double(batches):
        for pdf in batches:
            yield pdf * 2

    reader = sparkmetrics.StatusReader(spark)
    mark = reader.mark()
    rows = spark.range(1000).mapInPandas(double, "id long").collect()
    assert sorted(r.id for r in rows) == list(range(0, 2000, 2))
    op = reader.since(mark)
    for name in ("data sent to Python workers", "data returned from Python workers",
                 "time to run Python workers", "time to start Python workers"):
        assert name in op.sql, name
    layers = op.layers()
    assert layers["arrow.bytes_to_python"] > 8 * 1000 * 0.9
    assert layers["arrow.bytes_from_python"] > 8 * 1000 * 0.9
    assert layers["shuffle.records_written"] == 0


def test_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark, a run exits non-zero
    and prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tin_shuffle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _git_status() -> str:
    return subprocess.run(["git", "status", "--porcelain", "--ignored"], cwd=ROOT,
                          capture_output=True, text=True, check=True).stdout


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, ".git")), reason="needs a git work tree")
def test_run_leaves_the_work_tree_unchanged():
    """A short run changes nothing under the checkout, ignored files
    included: fixture, Spark warehouse, checkpoints and bytecode all go to
    the work dir outside it."""
    before = _git_status()
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "checkpoint_write", "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    assert json.loads(p.stdout.strip().splitlines()[-1])["correct"] is True
    assert _git_status() == before
