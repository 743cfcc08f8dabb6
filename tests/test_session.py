"""Driver JVM cold start (session.py, "Cold start"): the class archive's
fingerprint, seal and publish step without a JVM, then its life cycle in
three fresh driver processes — a declined archive is removed, a corrupt
one is replaced by a recording launch, and the next launch really maps
the archive."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from walmart_retail_pyspark_sqlite_pipeline_spark import session
from walmart_retail_pyspark_sqlite_pipeline_spark.session import (
    archive_fingerprint,
    plan_cold_start,
    publish_archive,
    sealed,
)

REPO = Path(__file__).resolve().parents[1]


def test_fingerprint_tracks_jar_set_and_java_version(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "spark-core.jar").write_bytes(b"core")
    (jars / "scala-library.jar").write_bytes(b"scala")
    java = "/jdk/bin/java"
    base = archive_fingerprint(java, "17.0.20", jars)
    assert archive_fingerprint(java, "17.0.20", jars) == base
    assert archive_fingerprint(java, "17.0.21", jars) != base
    assert archive_fingerprint("/other-jdk/bin/java", "17.0.20", jars) != base

    (jars / "extra.jar").write_bytes(b"x")
    added = archive_fingerprint(java, "17.0.20", jars)
    assert added != base
    (jars / "extra.jar").unlink()
    assert archive_fingerprint(java, "17.0.20", jars) == base

    (jars / "spark-core.jar").write_bytes(b"core, rebuilt")
    assert archive_fingerprint(java, "17.0.20", jars) != base


def test_seal_rejects_truncated_and_foreign_files(tmp_path):
    archive = tmp_path / "a.jsa"
    tmp = tmp_path / "a.jsa.tmp"
    tmp.write_bytes(os.urandom(4096))
    assert not sealed(tmp)
    publish_archive(tmp, archive)
    assert sealed(archive) and not tmp.exists()
    data = archive.read_bytes()
    (tmp_path / "cut.jsa").write_bytes(data[:-1])
    (tmp_path / "head.jsa").write_bytes(data[:2048])
    (tmp_path / "padded.jsa").write_bytes(data + b"\0")
    (tmp_path / "spliced.jsa").write_bytes(data[:1024] + data[-16:])
    for name in ("cut.jsa", "head.jsa", "padded.jsa", "spliced.jsa", "missing.jsa"):
        assert not sealed(tmp_path / name), name


def test_racing_publishers_leave_one_complete_archive(tmp_path):
    """More writers than cores publish distinct dumps to one path at once
    while a reader watches it: the reader never sees a part, and the
    survivor is exactly one writer's dump, sealed, with no temp left."""
    archive = tmp_path / "a.jsa"
    payloads = [bytes([i]) * (1 << 20) for i in range(2 * (os.cpu_count() or 4))]
    (tmp_path / "first.tmp").write_bytes(b"first")
    publish_archive(tmp_path / "first.tmp", archive)
    start = threading.Barrier(len(payloads) + 1)
    errors, torn = [], []
    done = threading.Event()

    def watch() -> None:
        start.wait(timeout=30)
        while not done.is_set():
            if not sealed(archive):
                torn.append(archive.stat().st_size)

    def publish(i: int) -> None:
        tmp = tmp_path / f"a.jsa.{i}.tmp"
        tmp.write_bytes(payloads[i])
        start.wait(timeout=30)
        try:
            publish_archive(tmp, archive)
        except OSError as e:  # pragma: no cover - reported below
            errors.append(e)

    reader = threading.Thread(target=watch)
    threads = [threading.Thread(target=publish, args=(i,)) for i in range(len(payloads))]
    reader.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    done.set()
    reader.join(timeout=60)
    assert not any(t.is_alive() for t in [reader, *threads])
    assert not errors
    assert not torn, f"a reader saw a partly published archive: {torn[:5]}"
    assert sealed(archive)
    assert archive.read_bytes()[:-16] in payloads
    assert [p.name for p in tmp_path.iterdir()] == ["a.jsa"]


def test_plan_skips_on_active_conf_files_and_caller_flags(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("HADOOP_CONF_DIR", raising=False)
    monkeypatch.delenv("YARN_CONF_DIR", raising=False)
    monkeypatch.delenv("SPARK_SUBMIT_OPTS", raising=False)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    plan = plan_cold_start()
    if plan.state.startswith("skipped"):
        pytest.skip(plan.state)
    assert plan.conf_dir == session.cache_dir() / "spark-conf"
    assert not any(plan.conf_dir.iterdir())
    assert plan.archive.parent == session.cache_dir() / "cds"

    monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-Xss4m -Xshare:off")
    assert plan_cold_start().state.startswith("skipped (the caller")
    monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-XX:SharedArchiveFile=/x.jsa")
    assert plan_cold_start().state.startswith("skipped")
    monkeypatch.delenv("SPARK_SUBMIT_OPTS")

    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    skipped = plan_cold_start()
    assert skipped.state.startswith("skipped (conf dir has active files")
    assert "spark-defaults.conf" in skipped.state
    assert skipped.java_opts == "" and skipped.conf_dir is None


#: a fresh driver process, run from the repo root: prints one JSON line on
#: stdout (so any JVM output there shows), logs to stderr, and reports the
#: JVM's own CDS mapping line
CHILD = """
import json, logging, subprocess, sys
logging.basicConfig(level=logging.INFO, stream=sys.stderr, format="%(name)s %(message)s")
from walmart_retail_pyspark_sqlite_pipeline_spark.session import get_spark
spark = get_spark("cold-start-test", master="local[1]", shuffle_partitions=1)
jvm = spark.sparkContext._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
info = subprocess.run(["jcmd", str(pid), "VM.info"], capture_output=True, text=True).stdout
cds = [l for l in info.splitlines() if l.startswith("CDS archive(s)")]
print(json.dumps({"count": spark.range(5).count(), "cds": cds}))
"""


def _driver(env: dict) -> tuple[dict, str]:
    r = subprocess.run(
        [sys.executable, "-c", CHILD], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.splitlines()
    assert len(lines) == 1, f"unexpected stdout: {r.stdout[-2000:]}"
    return json.loads(lines[0]), r.stderr


def _dynamic_archive_mapped(cds_lines: list[str]) -> bool:
    """HotSpot reports ``mapped at: [base-static_end-dynamic_end)``; a mapped
    dynamic archive makes the last range non-empty."""
    m = re.search(r"mapped at: \[0x([0-9a-f]+)-0x([0-9a-f]+)-0x([0-9a-f]+)\)", " ".join(cds_lines))
    return bool(m) and int(m.group(3), 16) > int(m.group(2), 16)


def test_archive_life_cycle_in_fresh_drivers(tmp_path, monkeypatch):
    """Fresh drivers start whatever the cache holds: a sealed archive the
    JVM declines is removed; a corrupt one is replaced by a recording
    launch; the next driver maps the new archive, as the JVM itself
    reports. None writes JVM output to stdout."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    plan = plan_cold_start()
    if plan.state != "recording":
        pytest.skip(plan.state)
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_GRAFT_DRIVER_MEM="1g")

    foreign = tmp_path / "foreign.jsa"
    foreign.write_bytes(os.urandom(1 << 16))
    publish_archive(foreign, plan.archive)
    declined, log = _driver(env)
    assert declined["count"] == 5
    assert "class archive rejected by the JVM" in log, log[-3000:]
    assert not plan.archive.exists()

    corrupt = os.urandom(1 << 20)
    plan.archive.write_bytes(corrupt)
    first, log = _driver(env)
    assert first["count"] == 5
    assert "class archive recording: wrote" in log, log[-3000:]
    assert re.search(r"launch [\d.]+ s, SparkContext start [\d.]+ s, first job [\d.]+ s", log)
    assert sealed(plan.archive)
    assert plan.archive.read_bytes()[: len(corrupt)] != corrupt
    assert not _dynamic_archive_mapped(first["cds"]), first["cds"]

    # a truncated copy of the real archive (HotSpot would map it into a
    # SIGBUS) is never handed to the JVM: the next launch would record
    good = plan.archive.read_bytes()
    plan.archive.write_bytes(good[: len(good) // 2])
    assert plan_cold_start().state == "recording"
    plan.archive.write_bytes(good)

    second, log = _driver(env)
    assert second["count"] == 5
    assert f"class archive mapped {plan.archive}" in log, log[-3000:]
    assert _dynamic_archive_mapped(second["cds"]), second["cds"]
    assert [p.name for p in plan.archive.parent.iterdir()] == [plan.archive.name]
