"""The driver JVM's class-data-sharing archive (session.get_spark): built once
by one process, mapped by the next, and never a reason for a start to fail
or for stdout to carry anything the program did not print. Each case is a
fresh Python process, since only a process's first session launches a JVM;
the archive directory is patched to a tmp dir."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from osm_notes_ingestion_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: archive dir, mode ("plain", or "zero": the first finished-archive
# check finds a copy of a real archive whose header is still zero), the
# archive to copy for "zero"
_SCRIPT = r"""
import json, os, shutil, sys
import osm_notes_ingestion_spark.session as s
cds_dir, mode = sys.argv[1], sys.argv[2]
s.CDS_DIR = cds_dir
if mode == "zero":
    def _finished(archive):
        shutil.copyfile(sys.argv[3], archive)
        with open(archive, "r+b") as f:
            f.write(bytes(4))
        return True
    s._finished = _finished
conf_dir = os.environ.get("SPARK_CONF_DIR")
os.makedirs(cds_dir + ".tmp", exist_ok=True)
spark = s.get_spark(2, "cds-test", {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + cds_dir + ".tmp"})
import pyarrow as pa
import pyarrow.compute as pc

def double(batches):
    for b in batches:
        yield pa.RecordBatch.from_arrays([pc.multiply(b.column(0), 2)], names=["id"])

total = spark.range(1000).mapInArrow(double, "id long").groupBy().sum("id").collect()[0][0]
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
with open(f"/proc/{bean.getPid()}/maps") as f:
    maps = f.read()
print(json.dumps({
    "total": total,
    "args": list(bean.getInputArguments()),
    "mapped": [a for a in os.listdir(cds_dir) if a.endswith(".jsa") and os.path.join(cds_dir, a) in maps],
    "conf_dir_unchanged": os.environ.get("SPARK_CONF_DIR") == conf_dir,
    "marker": spark.conf.get("spark.cdstest.marker", None),
}))
spark.stop()
"""


def _run(cds_dir, mode="plain", copy_from="", **env):
    """Run the script to the end of its JVM (its stdout pipe closes when the
    JVM exits, after a build's dump). Returns the parsed line; stdout must
    hold that line and nothing else."""
    full = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", *session._CLASSPATH_ENV)}
    full.update(PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g", **env)
    p = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(cds_dir), mode, copy_from],
        cwd=REPO,
        env=full,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    assert len(lines) == 1 and p.stdout == lines[0] + "\n", p.stdout[-3000:]
    return json.loads(lines[0])


def _archives(cds_dir):
    return [os.path.join(cds_dir, a) for a in os.listdir(cds_dir) if a.endswith(".jsa")]


def _dead_pid():
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """One archive-building run that starts with a dead builder's lock in
    place. Returns the archive dir, the run's output, the lock's path, the
    dead pid and the pid the lock holds after the run."""
    from pyspark import SparkContext

    cds_dir = tmp_path_factory.mktemp("cds")
    # the plan this process would make if it launched a JVM names the lock
    # (and claims it: the pid is replaced by a dead one below)
    gw, SparkContext._gateway = SparkContext._gateway, None
    old_dir, session.CDS_DIR = session.CDS_DIR, str(cds_dir)
    try:
        plan = session._cds_plan({"spark.driver.memory": "1g"})
    finally:
        SparkContext._gateway, session.CDS_DIR = gw, old_dir
    assert plan is not None and "-XX:ArchiveClassesAtExit=" in plan[0], plan
    lock = plan[2]
    dead = _dead_pid()
    with open(lock, "w") as f:
        f.write(str(dead))
    out = _run(cds_dir)
    with open(lock) as f:
        return cds_dir, out, lock, dead, int(f.read())


def test_stale_lock_is_taken_over_and_builds(built):
    cds_dir, out, lock, dead, holder = built
    assert out["total"] == 999000
    archive = lock[: -len(".lock")]
    assert f"-XX:ArchiveClassesAtExit={archive}" in out["args"]
    assert holder != dead
    assert session._finished(archive), "the JVM wrote no finished archive at exit"
    assert out["conf_dir_unchanged"]


def test_fresh_process_maps_the_archive(built):
    cds_dir, first = built[:2]
    (archive,) = _archives(cds_dir)
    out = _run(cds_dir)
    assert out["total"] == first["total"]
    assert out["mapped"] == [os.path.basename(archive)]
    # the caller's extraJavaOptions are kept next to the archive flag
    assert f"-XX:SharedArchiveFile={archive}" in out["args"]
    assert f"-Djava.io.tmpdir={cds_dir}.tmp" in out["args"]
    assert "-Xlog:all=warning:stderr" in out["args"]


def test_zero_header_archive_starts_normally(built, tmp_path):
    """What a reader would map if it raced the dumping JVM: the file at
    full size with the header not yet written. JDK 17 starts without it."""
    cds_dir, first = built[:2]
    (archive,) = _archives(cds_dir)
    out = _run(tmp_path, "zero", archive)
    assert out["total"] == first["total"]
    assert any(a.startswith("-XX:SharedArchiveFile=") for a in out["args"])
    assert out["mapped"] == []


def test_real_conf_dir_gets_no_cds_and_is_read(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cdstest.marker  from-defaults\n")
    cds_dir = tmp_path / "cds"
    cds_dir.mkdir()
    out = _run(cds_dir, SPARK_CONF_DIR=str(conf))
    assert out["total"] == 999000
    assert out["marker"] == "from-defaults"
    assert out["conf_dir_unchanged"]
    assert not any("Archive" in a or "Xlog" in a for a in out["args"]), out["args"]
    assert os.listdir(conf) == ["spark-defaults.conf"]
    assert not os.listdir(cds_dir)


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """`_cds_plan` as a process that has not launched its JVM yet would run
    it, with the archive dir in tmp_path."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path))
    for v in ("SPARK_CONF_DIR", *session._CLASSPATH_ENV):
        monkeypatch.delenv(v, raising=False)


def test_archive_being_written_is_never_used(no_jvm):
    """While a live builder holds the lock, a zero-header file (the dump in
    progress) starts without CDS; once the builder is dead, its lock is
    taken over and the archive rebuilt, never mapped half-written."""
    plan = session._cds_plan({"spark.driver.memory": "1g"})
    assert plan is not None and "-XX:ArchiveClassesAtExit=" in plan[0]
    lock = plan[2]
    with open(lock[: -len(".lock")], "wb") as f:
        f.write(bytes(1 << 16))
    assert session._cds_plan({"spark.driver.memory": "1g"}) is None  # the lock holds this live process
    with open(lock, "w") as f:
        f.write(str(_dead_pid()))
    again = session._cds_plan({"spark.driver.memory": "1g"})
    assert again is not None and again[0] == plan[0]
    with open(lock) as f:
        assert int(f.read()) == os.getpid()


def test_heap_above_32g_gets_its_own_archive(no_jvm):
    """HotSpot turns compressed pointers off from a 32 GiB heap, and an
    archive dumped with them is refused without (tools/scaling_bench.py
    runs at 48g)."""
    small = session._cds_plan({"spark.driver.memory": "31g"})
    big = session._cds_plan({"spark.driver.memory": "48g"})
    assert small[0] != big[0]
    # any heap below 32 GiB shares the 31g archive, whose build this process holds
    assert session._cds_plan({"spark.driver.memory": "2048m"}) is None
