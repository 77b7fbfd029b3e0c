"""Process-level plumbing: run isolation, the Spark JVM's lifetime, and a
peak-RSS sampler over the benchmark's process tree.

Everything the benchmark starts (the Spark JVM, its Python daemon and
workers, the solo-kernel subprocess) is a descendant of this process;
``stop_spark`` ends the JVM and then waits until every descendant is gone.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(root: str, work: str, event_log: bool) -> dict[str, str]:
    """Point every scratch location of this process and of the Spark JVM
    it will launch at fresh directories under ``work``; put the package
    root on the Python workers' path; with ``event_log``, have Spark write
    its event log, uncompressed and in one file, to ``work/events``.
    Returns the directory map."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "events", "tables", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # the Python workers are forked by the JVM and inherit this environment;
    # without the package root on their path they die on import
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + prior if prior else "")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
    }
    if event_log:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # every JVM spark-submit starts (its launcher too): temp files here,
    # and no /tmp/hsperfdata_* performance-counter files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    args = [f"--conf {shlex.quote(f'{key}={value}')}" for key, value in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([*args, "pyspark-shell"])
    return dirs


def disable_event_log() -> None:
    """No event log for the next SparkContext created in this JVM (a
    SparkConf loads the JVM's ``spark.*`` system properties as defaults)."""
    from pyspark import SparkContext

    SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int, command: str) -> int:
    """Python processes: proportional set size, each shared page divided
    among the processes mapping it, so a worker forked from the Python
    daemon does not count the daemon's pages again. Others (the JVM, which
    shares nothing with them): plain RSS, because walking a multi-GiB
    JVM's page tables for its PSS stalls the JVM measurably."""
    try:
        if command.startswith("python"):
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        return int(line.split()[1]) * 1024
        else:
            with open(f"/proc/{pid}/statm", "rb") as f:
                return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed resident memory of this process and all its descendants, sampled
    from /proc on a background thread while the ``with`` block runs."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_command: dict[str, int] = {}
            for pid in [me, *descendants(me)]:
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        command = f.read().strip()
                except OSError:
                    continue
                by_command[command] = by_command.get(command, 0) + _resident_bytes(pid, command)
            total = sum(by_command.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_by_command = total, by_command
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if _running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _running(p)]
    return alive


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this benchmark started has exited (killing stragglers after 30 s)."""
    from pyspark import SparkContext

    # snapshot first: once the JVM or the Python daemon exits, their
    # orphans leave this process tree
    started = descendants()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = _wait_gone(started + descendants(), 30)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, 10)
