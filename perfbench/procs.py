"""Process hygiene for a benchmark run: every file the run writes stays in
its work directory, and every process it starts is reaped before exit."""

from __future__ import annotations

import os
import shlex
import tempfile
import time
from pathlib import Path


def prepare_env(work: Path, traced: bool) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if traced:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs
    ) + " pyspark-shell"


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry.name))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return 0  # exited
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM (direct children),
    from /proc VmHWM."""
    pids = [os.getpid()] + _children(os.getpid())
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def shutdown_jvm(spark) -> None:
    """Stop the session, close the JVM gateway's stdin (the JVM exits on
    EOF), and wait until the JVM and every process under it has ended."""
    from pyspark import SparkContext

    doomed = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in doomed):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {doomed}")
        time.sleep(0.1)
