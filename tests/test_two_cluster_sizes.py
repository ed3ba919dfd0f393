"""North-rule pytest evidence: the SAME spark-submit job runs end to end
at two cluster sizes (local[2] = N, local[8] = 4N workers) and produces
IDENTICAL results. Throughput at the two levels (the ≥0.8 scaling
efficiency criterion) is measured separately under pinned conditions by
tools/scaling_bench.py and reported in BENCH/BASELINE.md — a correctness
test on a shared host must not assert on wall-clock."""

import os
import shutil
import subprocess
import zipfile

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _submit(master: str, out: str, zip_path: str) -> None:
    cmd = [
        "spark-submit",
        "--master",
        master,
        "--py-files",
        zip_path,
        os.path.join(REPO, "submit_job.py"),
        "--job",
        "assign",
        "--sf-dir",
        SF,
        "--output",
        out,
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]


def test_same_results_at_two_cluster_sizes(tmp_path):
    zip_path = str(tmp_path / "pkg.zip")
    pkg = os.path.join(REPO, "osm_notes_ingestion_spark")
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    out2 = str(tmp_path / "out_n2")
    out8 = str(tmp_path / "out_n8")
    _submit("local[2]", out2, zip_path)
    _submit("local[8]", out8, zip_path)

    con = duckdb.connect()
    q = lambda o: f"SELECT id, country_id FROM '{o}/assignments/*.parquet'"  # noqa: E731
    only2, only8, n2, n8 = con.sql(
        f"""SELECT
            (SELECT count(*) FROM ({q(out2)} EXCEPT {q(out8)})),
            (SELECT count(*) FROM ({q(out8)} EXCEPT {q(out2)})),
            (SELECT count(*) FROM ({q(out2)})),
            (SELECT count(*) FROM ({q(out8)}))"""
    ).fetchone()
    assert n2 == n8 > 0
    assert only2 == 0 and only8 == 0

    # both runs must have recorded metrics + lineage (resumability
    # surface is identical at every cluster size)
    for o in (out2, out8):
        assert os.path.exists(os.path.join(o, "metrics", "runs.jsonl"))

    shutil.rmtree(str(tmp_path), ignore_errors=True)


class _Reached(Exception):
    pass


def test_scaling_bench_refuses_4n_beyond_the_host(monkeypatch):
    """`taskset -c 0-7` succeeds on a 4-core host, so an unchecked 2→8
    session would time "8 cores" on 4 and log a meaningless efficiency.
    scaling_bench must refuse before it generates pages or runs a trial,
    and must still start work when 4N fits."""
    from tools import scaling_bench

    def _work(*_args, **_kwargs):
        raise _Reached

    monkeypatch.setattr(scaling_bench, "ensure_pages", _work)
    monkeypatch.setattr(scaling_bench, "run_once", _work)
    monkeypatch.setattr(scaling_bench.os, "sched_getaffinity", lambda _pid: set(range(4)))
    monkeypatch.setattr(scaling_bench.sys, "argv", ["scaling_bench.py"])

    monkeypatch.setenv("SPARK_GRAFT_SCALING_N", "2")
    with pytest.raises(SystemExit) as refused:
        scaling_bench.main()
    assert "SPARK_GRAFT_SCALING_N" in str(refused.value.code)

    monkeypatch.setenv("SPARK_GRAFT_SCALING_N", "1")
    with pytest.raises(_Reached):
        scaling_bench.main()
