"""SparkSession factory tuned for this engine.

The reference builds its session at
``/root/reference/src/pipeline_orchestrator.py:42-62`` (local[*],
shuffle.partitions=8, sqlite-jdbc package). We keep the config-driven spirit
but default to scale-friendly settings: AQE on (runtime partition coalescing
+ skew-join handling), explicit shuffle partitions, UTC session timezone so
date math is deterministic across hosts, and Arrow enabled for a caller's
driver-side pandas conversions (``toPandas``, ``createDataFrame``).

ANSI note: Spark 4 enables ANSI mode by default. The engine's own code never
relies on session-level cast semantics — parity-critical lenient casts (the
reference's ``"NA" -> NULL`` behavior, SURVEY.md §1.2) use ``try_cast``
explicitly — so the engine works under either setting.

Cold start
----------
A batch run pays for one cold driver JVM, and most of that is loading and
verifying the Spark, Scala and JDK classes that launch, SparkContext start
and the first job touch. ``get_spark`` therefore starts every new driver
JVM from a JDK dynamic AppCDS archive of exactly those classes, passed
through ``spark.driver.extraJavaOptions``:

- **where:** ``<cache_dir()>/cds/<fingerprint>.jsa``, where the cache dir
  is ``${XDG_CACHE_HOME:-~/.cache}/walmart_retail_pyspark_sqlite_pipeline_spark``;
  one file per JDK and Spark pair (the fingerprint covers the ``java``
  binary and version and the name, size and mtime of every Spark jar). It
  is never put under ``TMPDIR`` or ``SPARK_LOCAL_DIRS``, which runs clear.
  About 100–160 MB per pair (101 MB for Spark 4.1 on JDK 17).
- **first run:** with no archive the JVM starts with
  ``-XX:+RecordDynamicDumpInfo``; right after the first job ``jcmd <pid>
  VM.cds dynamic_dump`` writes the archive to a temporary file, which is
  sealed with its own length and published with ``os.replace``, so a
  reader never sees a part. Dumping then, not at exit, means a process
  that leaves through ``os._exit`` or a signal still leaves an archive.
  One-time cost on a 4-core host: set-up 20–22 s instead of 10 s (the
  recording launch is ~5 s slower, the dump takes ~6 s).
- **later runs:** ``-XX:SharedArchiveFile`` maps it; set-up (JVM launch,
  SparkContext start, first job) drops from ~10 s to ~6–7 s. A file
  without a valid seal is never passed to the JVM (HotSpot does not check
  an archive's length, and maps a truncated one into a crash); one the
  JVM declines to map is removed, and the next launch records a new one.
- **skipped** (launch exactly as without it, reason logged): the Spark or
  Hadoop conf dir on the class path holds active (non-``.template``)
  files, because the JDK refuses to dump with a non-empty directory on
  the class path; the caller passed its own ``-Xshare``/CDS flags in
  ``SPARK_SUBMIT_OPTS``; or there is no ``jcmd`` to record with.
  Otherwise ``SPARK_CONF_DIR`` points at an empty engine-owned directory
  for the launch, so Spark sees the same configuration as with a conf dir
  that holds only templates.
- **reset:** delete the cache directory.

Every new launch logs one INFO line on ``walmart_retail_pipeline.session``
with the archive state and the set-up split into JVM launch, SparkContext
start and first job. A session that is already running is reused as is.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger("walmart_retail_pipeline.session")

DEFAULT_SHUFFLE_PARTITIONS = 32


# Cached scan-split decisions for repartition_undersplit(), keyed by the
# frame's semantic plan hash, so two reads of one path (or two builds of
# one plan) share a decision. One probe per plan per process: the probe is
# a DataFrame→RDD conversion (full analysis + deserializer plan — cheap
# but not free), and caching it also keeps the guarded plan SHAPE stable
# within a session even if the file layout changes mid-run (the per-call
# probe both re-paid the conversion and could split one plan into two
# divergent cache entries).
_SPLIT_DECISIONS: dict[int, bool] = {}


def repartition_undersplit(df: DataFrame) -> DataFrame:
    """``df.repartition(n, "doc_id")`` when ``df``'s scan yields fewer
    than ``n`` partitions, ``n`` being its session's default parallelism;
    ``df`` otherwise. The "repartition immediately after an under-split
    read" guard (guide §2.5): it never fires on a well-split 100 TB scan;
    on a local single-row-group parquet file it restores the parallelism
    the input cannot supply."""
    n = df.sparkSession.sparkContext.defaultParallelism
    key = df.semanticHash()
    hit = _SPLIT_DECISIONS.get(key)
    if hit is None:
        hit = df.rdd.getNumPartitions() < n
        _SPLIT_DECISIONS[key] = hit
    return df.repartition(n, "doc_id") if hit else df


def get_spark(
    app_name: str = "walmart-retail-pyspark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Defaults are sized for local[N] testing but every knob is the same one
    you would set on a real cluster; nothing here assumes single-node. A
    new driver JVM starts from the class archive (module doc, Cold start).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Sized for the machine, not the data: local-mode default driver
        # heap is 1g, which forces constant GC once a cached index plus a
        # dozen broadcast relations are resident (measured ~10% of bench
        # wall-clock). On a real cluster this is spark.executor.memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # Kryo serializes the broadcast/shuffle records ~25% faster than
        # Java serialization (measured on the dedup family); on a cluster
        # this also shrinks network bytes.
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()  # the driver JVM is already running

    start = plan_cold_start()
    if start.java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", start.java_opts)
    t0 = time.time()
    with start.launch_env():
        spark = builder.getOrCreate()
    t1 = time.time()
    sc = spark.sparkContext
    sc_start = sc.startTime / 1000
    spark.range(1).count()
    t2 = time.time()
    state = start.after_first_job(sc._jvm)
    log.info(
        "driver JVM for %s: launch %.2f s, SparkContext start %.2f s, "
        "first job %.2f s; class archive %s",
        app_name, sc_start - t0, t1 - sc_start, t2 - t1, state,
    )
    return spark


# --- cold start: the driver JVM's class archive --------------------------------

#: JVM logging the archive must not write to stdout (HotSpot logs warnings
#: there, and stdout is the caller's)
_QUIET_CDS = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_RECORD = f"-XX:+RecordDynamicDumpInfo {_QUIET_CDS}"
#: a caller's own class-sharing flags (in ``SPARK_SUBMIT_OPTS``) win: the
#: archive is then skipped
_CALLER_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "DynamicDumpInfo")
#: appended to a finished dump: marker + the dump's length (8 bytes, LE)
_SEAL = b"WRPSCDS1"
_DUMP_TIMEOUT_S = 300


def cache_dir() -> Path:
    """The engine's per-user cache directory (deleting it resets the archive)."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "walmart_retail_pyspark_sqlite_pipeline_spark"


def archive_fingerprint(java: str, java_version: str, jars_dir: Path) -> str:
    """Names the archive of one JDK and Spark pair: the ``java`` binary, its
    version, and the sorted name, size and mtime of each Spark jar."""
    h = hashlib.sha256(f"{java}\0{java_version}\0{jars_dir}".encode())
    for jar in sorted(jars_dir.glob("*.jar")):
        st = jar.stat()
        h.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def sealed(path: Path) -> bool:
    """True when ``path`` ends with the seal :func:`publish_archive` wrote and
    the seal's length matches the file. HotSpot does not check an archive's
    length and maps a truncated one into a SIGBUS, so an unsealed file is
    never passed to the JVM."""
    try:
        with open(path, "rb") as fh:
            size = os.fstat(fh.fileno()).st_size
            if size <= 16:
                return False
            fh.seek(size - 16)
            tail = fh.read(16)
    except OSError:
        return False
    return tail[:8] == _SEAL and int.from_bytes(tail[8:], "little") == size - 16


def publish_archive(tmp: Path, path: Path) -> None:
    """Seal a finished dump and move it into place in one rename: a reader
    sees the old file or the new one, never a part of either."""
    os.chmod(tmp, 0o644)  # the JVM writes its dump read-only
    size = tmp.stat().st_size
    with open(tmp, "ab") as fh:
        fh.write(_SEAL + size.to_bytes(8, "little"))
    os.replace(tmp, path)


def _java() -> str | None:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``, else PATH."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _java_version(java: str) -> str:
    try:
        return (Path(java).parents[1] / "release").read_text()
    except OSError:
        return subprocess.run([java, "-version"], capture_output=True, text=True).stderr


def _active_conf_files(spark_home: Path) -> list[str]:
    """Files on the driver class path's conf dirs that configure something:
    Spark's conf dir (templates aside) and any Hadoop/YARN conf dir."""
    spark_conf = os.environ.get("SPARK_CONF_DIR") or str(spark_home / "conf")
    found = []
    for env, d in (("SPARK_CONF_DIR", spark_conf),
                   ("HADOOP_CONF_DIR", os.environ.get("HADOOP_CONF_DIR")),
                   ("YARN_CONF_DIR", os.environ.get("YARN_CONF_DIR"))):
        if d and os.path.isdir(d):
            found += [f"{env}/{n}" for n in sorted(os.listdir(d))
                      if env != "SPARK_CONF_DIR" or not n.endswith(".template")]
    return found


@dataclass
class ColdStart:
    """How one new driver JVM starts: its archive state, the flags that add
    to ``spark.driver.extraJavaOptions`` and the conf dir of the launch."""

    state: str  # mapped | recording | skipped (<reason>)
    archive: Path | None = None
    java_opts: str = ""
    conf_dir: Path | None = None
    jcmd: str | None = None

    @contextmanager
    def launch_env(self):
        """``SPARK_CONF_DIR`` points at the engine's empty conf dir while
        ``getOrCreate`` starts the JVM inside this block."""
        if self.conf_dir is None:
            yield
            return
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = str(self.conf_dir)
        try:
            yield
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved

    def after_first_job(self, jvm) -> str:
        """Check the mapping or record the archive in the running driver JVM
        (a py4j view); returns the logged state."""
        pid = jvm.java.lang.ProcessHandle.current().pid()
        if self.state == "mapped":
            if _maps(pid, self.archive):
                return f"mapped {self.archive}"
            self.archive.unlink(missing_ok=True)
            return f"rejected by the JVM, removed {self.archive} (the next launch records one)"
        if self.state == "recording":
            # the JDK prints "Dynamic dump to file ..." on the JVM's System.out,
            # which is the caller's stdout: point it at stderr for the dump
            system = jvm.java.lang.System
            out = system.out
            system.setOut(system.err)
            try:
                return f"recording: {_dump(self.jcmd, pid, self.archive)}"
            finally:
                system.setOut(out)
        return self.state


def plan_cold_start() -> ColdStart:
    """Decide how the next new driver JVM starts (module doc, Cold start)."""
    given = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if any(flag in given for flag in _CALLER_CDS_FLAGS):
        return ColdStart("skipped (the caller passed its own -Xshare/CDS flags)")
    spark_home = Path(_find_spark_home())
    java, jars = _java(), spark_home / "jars"
    if java is None or not jars.is_dir():
        return ColdStart("skipped (no java binary or Spark jars dir)")
    active = _active_conf_files(spark_home)
    if active:
        return ColdStart(f"skipped (conf dir has active files: {', '.join(active)})")
    root = cache_dir()
    try:
        (root / "cds").mkdir(parents=True, exist_ok=True)
        (root / "spark-conf").mkdir(exist_ok=True)
    except OSError as e:
        return ColdStart(f"skipped (no cache dir: {e})")
    archive = root / "cds" / f"{archive_fingerprint(java, _java_version(java), jars)}.jsa"
    if sealed(archive):
        return ColdStart("mapped", archive, f"-XX:SharedArchiveFile={archive} {_QUIET_CDS}",
                         root / "spark-conf")
    jcmd = shutil.which("jcmd", path=str(Path(java).parent)) or shutil.which("jcmd")
    if jcmd is None:
        return ColdStart("skipped (no jcmd to record the archive with)")
    return ColdStart("recording", archive, _RECORD, root / "spark-conf", jcmd)


def _maps(pid: int, archive: Path) -> bool:
    """Whether JVM ``pid`` mapped ``archive`` (trusted when /proc is absent)."""
    try:
        return str(archive) in Path(f"/proc/{pid}/maps").read_text()
    except OSError:
        return True


def _dump(jcmd: str, pid: int, archive: Path) -> str:
    """Dump JVM ``pid``'s loaded classes and publish them as ``archive``."""
    tmp = archive.with_name(f"{archive.name}.{os.getpid()}.tmp")
    t0 = time.perf_counter()
    try:
        r = subprocess.run(
            [jcmd, str(pid), "VM.cds", "dynamic_dump", str(tmp)],
            capture_output=True, text=True, timeout=_DUMP_TIMEOUT_S,
        )
        out = f"{r.stdout}{r.stderr}".strip()
        failed = any(w in out.lower() for w in ("error", "exception"))
        if r.returncode != 0 or failed or not tmp.is_file():
            return f"dump failed (jcmd exit {r.returncode}: {out[-300:]})"
        size_mb = tmp.stat().st_size / 1e6
        publish_archive(tmp, archive)
    except (OSError, subprocess.SubprocessError) as e:
        return f"dump failed ({e})"
    finally:
        tmp.unlink(missing_ok=True)
    return f"wrote {archive} ({size_mb:.0f} MB) in {time.perf_counter() - t0:.2f} s"
