"""Shared pieces of the benchmark: the Spark session, the scratch
directory, the host stamp, memory readings and small statistics."""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def work_dir(root: str) -> str:
    """Fresh scratch directory under the checkout (removed by the caller)."""
    path = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_session(work: str, trace: bool, driver_memory: str | None = "1g"):
    """``local[nproc]`` session with spill, shuffle and temporary files in
    ``work``; the traced run also writes a Spark event log there.
    ``driver_memory`` None keeps the library's default heap.  Returns
    (spark, seconds to start)."""
    from stellar_ingest.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python's temporary files (the gateway's connection file) and the
    # JVMs' (native libraries they unpack) stay in the scratch directory;
    # -XX:-UsePerfData keeps a JVM from writing /tmp/hsperfdata_<user>.
    # spark-submit starts two JVMs: a launcher that builds the command
    # line, then the driver.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if driver_memory is not None:
        # the benchmark's 1g instead of the library's 8g default: at 8g the
        # JVM grows its heap by how GC time compares with run time, which
        # host load moves, and peak_rss_mb spread 0.16-0.24 across seeds
        # (at 1g GC takes ~4 points more of executor time; see README)
        extra["spark.driver.memory"] = driver_memory
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + log_dir
        # one plain JSON-lines file, read back with the json module
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=nproc(), extra_conf=extra)
    return spark, time.perf_counter() - t0


def source_stamp(repo_root: str) -> dict:
    """git sha when the checkout is a repository, else a hash of the
    package sources, so every result names the code it measured."""
    sha = ""
    if os.path.exists(os.path.join(repo_root, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", repo_root, "rev-parse", "HEAD"],
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(repo_root, "stellar_ingest")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as fh:
                    h.update(fn.encode() + fh.read())
    return {"git_sha": sha or None, "source_sha256": h.hexdigest()[:16]}


def host_stamp(repo_root: str, seed: int, sizes: dict) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "seed": seed,
        "sizes": sizes,
        **source_stamp(repo_root),
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def child_pids(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit() and (fields := _proc_stat(d)) is not None and int(fields[1]) == pid:
            out.append(int(d))
    return out


def descendant_pids(pid: int) -> list[int]:
    out, todo = [], child_pids(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += child_pids(p)
    return out


def running(pid: int) -> bool:
    fields = _proc_stat(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def stop_processes(timeout: float = 30.0) -> None:
    """Terminate the processes this run started (the JVM and any worker
    it forked) and wait until each has ended."""
    me = os.getpid()
    children, every = child_pids(me), descendant_pids(me)
    for pid in children:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGTERM)
    deadline, killed = time.monotonic() + timeout, False
    while True:
        for pid in children:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        left = [pid for pid in every if running(pid)]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} did not end")
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            deadline, killed = time.monotonic() + 10.0, True
        time.sleep(0.05)


def peak_rss_mb() -> float:
    """VmHWM of this Python driver plus the processes it started (the
    JVM and any worker the JVM forked)."""
    me = os.getpid()
    kb = _vm_hwm_kb(me) + sum(_vm_hwm_kb(c) for c in descendant_pids(me))
    return kb / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    srt = sorted(xs)
    k = min(len(srt), max(1, math.ceil(q / 100.0 * len(srt))))
    return float(srt[k - 1])


def snapshot_bytes(table, snapshot_id=None) -> int:
    """Bytes of the data files a snapshot references."""
    return sum(os.path.getsize(p) for p in table.file_paths(snapshot_id))
