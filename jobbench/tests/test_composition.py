"""Composition cross-check: the benchmark's job is submit_extract's job.

At smoke size, ``tools/submit_extract.py`` run as a subprocess must write the
same data (by the order-free digest of doc_id/status/spans) and the same
manifest counts as the benchmark's in-process job on the same input. If
submit_extract's composition drifts from ``jobbench/job.py``, this fails.

    python -m pytest jobbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]
# Python workers import the engine from the checkout, not from sys.path.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import corpora  # noqa: E402
import job  # noqa: E402

CORES = 2


@pytest.fixture(scope="module")
def spark():
    session = job.new_session(CORES)
    yield session
    session.stop()


def _manifest_totals(man: dict) -> tuple:
    return (sorted(int(b) for b in man["bucket"]), sum(man["n_docs"]),
            sum(man["n_spans"]), sum(man["n_chars"]), sum(man["bytes_in"]))


@pytest.mark.parametrize("workload,input_format", [
    ("spans_resume", "spans"),
    ("files_small", "binary"),
])
def test_submit_extract_writes_what_the_benchmark_job_writes(
        spark, tmp_path, workload, input_format):
    c = corpora.build(workload, 7, str(tmp_path / "work"), corpora.SMOKE)
    c.resume = False        # both sides write the whole input, fresh
    salt = job.salt_partitions(CORES)

    ours = str(tmp_path / "bench_out")
    summary = job.run_job(spark, c, ours, salt)
    checked = job.check_output(c, ours, summary)
    assert checked["problems"] == []
    assert not checked["summary_mismatch"]
    spark.catalog.clearCache()

    theirs = str(tmp_path / "submit_out")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_DRIVER_MEM="1g")
    env.pop("SPARK_MASTER", None)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "submit_extract.py"),
         "--input", c.input_path, "--output", theirs,
         "--input-format", input_format,
         "--buckets", str(corpora.NUM_BUCKETS),
         "--salt-partitions", str(salt)],
        env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]

    _, our_man, our_digest = job.read_output(c, ours)
    _, their_man, their_digest = job.read_output(c, theirs)
    assert our_digest == c.digest
    assert their_digest == our_digest
    assert _manifest_totals(their_man) == _manifest_totals(our_man)
