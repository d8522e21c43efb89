"""Runtime environment, host context and process hygiene for the benchmark.

Everything here runs before (``pin_environment``) or after
(``stop_spark``) the Spark JVM exists, so that nothing the benchmark
starts outlives it and nothing it writes lands outside its checkout.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import tempfile
import time
from pathlib import Path

#: the checkout root: ``perfbench/`` sits directly under it
ROOT = Path(__file__).resolve().parents[1]

#: driver heap for local mode; the data sets are a few MB, and the host
#: is shared, so stay well below its RAM
DRIVER_MEM_MB = 1024

#: made by the first run in a checkout, reused by the later ones
BUILD = ROOT / ".perfbench_build"
#: the JVM's class-data archive of the classes a run loads: it saves
#: the later runs most of the JVM's class loading at start-up
CLASS_ARCHIVE = BUILD / "spark-classes.jsa"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path, event_log: Path | None) -> dict:
    """Pin the process environment before pyspark is imported.

    - the checkout is importable, also by the Python workers and the
      streaming-source runner the JVM starts (``addPyFile`` does not
      reach the latter);
    - ``local[<cores>]`` through ``SPARK_GRAFT_CPUS``;
    - a driver heap below host RAM;
    - every temp root (Python, JVM, Spark local dirs, warehouse) under
      ``work``, which the caller deletes after the run;
    - the JVM maps ``CLASS_ARCHIVE`` if an earlier run made it, or else
      dumps one into ``work`` at exit (``keep_class_archive``); the
      archived class path may hold no file-filled directory, so Spark's
      conf directory, which holds only templates, is an empty one;
    - the registry's tables (``work/sf``) as the directory the
      pinned-artifact queries read at import, so they and the DuckDB
      oracles see the same data.
    Returns the pinned values, for the run's context record.
    """
    tmp = work / "tmp"
    for d in (tmp, work / "local", work / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    total_mb = _meminfo_kb("MemTotal") // 1024
    driver_mem = min(DRIVER_MEM_MB, max(512, total_mb // 4))
    conf = BUILD / "conf"
    conf.mkdir(parents=True, exist_ok=True)
    if CLASS_ARCHIVE.exists():
        cds = f"-XX:SharedArchiveFile={CLASS_ARCHIVE}"
    else:
        cds = f"-XX:ArchiveClassesAtExit={work / CLASS_ARCHIVE.name}"
    # JVM warnings to stderr: stdout carries the result
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {cds}"
        " -Xlog:disable -Xlog:all=warning:stderr"
    )
    submit = ["--driver-java-options", java_opts]
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
        ]
    pinned = {
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem}m",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_GRAFT_ORACLE_SF": str(work / "sf"),
        "SPARK_CONF_DIR": str(conf),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        # the short-lived launcher JVM of spark-submit
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    tempfile.tempdir = str(tmp)
    return pinned


def keep_class_archive(work: Path) -> None:
    """Keep the class archive the JVM of this run dumped at its exit."""
    dumped = work / CLASS_ARCHIVE.name
    if dumped.exists() and not CLASS_ARCHIVE.exists():
        os.replace(dumped, CLASS_ARCHIVE)


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set of this driver process plus its JVM."""
    return (_status_kb(os.getpid(), "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024


class HostSampler:
    """Hypervisor steal share and 1-min load across a timed section."""

    def __init__(self):
        self._t0 = _cpu_ticks()
        self._loads = [os.getloadavg()[0]]

    def sample(self) -> None:
        self._loads.append(os.getloadavg()[0])

    def result(self) -> dict:
        steal0, total0 = self._t0
        steal1, total1 = _cpu_ticks()
        self.sample()
        return {
            "steal_pct": round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 3),
            "load_1m_max": max(self._loads),
            "load_1m_mean": round(sum(self._loads) / len(self._loads), 2),
        }


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` (from /proc parent links)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> bool:
    """Stop Spark and wait until the JVM and every process it started
    (Python workers, the streaming-source runner) have exited. True if
    the JVM exited by itself with status 0."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    clean = False
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                # the first run in a checkout dumps the class archive first
                clean = proc.wait(timeout=120) == 0
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in procs):
        time.sleep(0.05)
    return clean
