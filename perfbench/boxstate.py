"""Box state and identity recorded in every benchmark artifact: CPU
count, hypervisor steal, a fixed CPU canary, peak memory read from
/proc, and which source tree was measured."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time


def parse_cpus(default: int) -> int:
    """``SPARK_GRAFT_CPUS`` parsed once (default: ``default``, at most the
    usable cores).  Raises ``SystemExit`` on an invalid value, before any
    workload runs, and pins the parsed value back into the environment so
    the session factory reads the same number."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        cpus = min(default, len(os.sched_getaffinity(0)))
    else:
        try:
            cpus = int(raw)
        except ValueError:
            cpus = 0
        if cpus < 1:
            raise SystemExit(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return cpus


def process_age_s() -> float:
    """Seconds since this process started (the interpreter's own start
    included), from /proc at clock-tick resolution."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def steal_sample() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from /proc/stat's cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def canary_s(spark, runs: int = 2, rows: int = 1_000_000) -> float:
    """Fastest of ``runs`` timings of a fixed CPU-bound job (md5 over
    ``rows`` longs on every core, no shuffle or I/O): how fast the box
    is right now."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(rows).selectExpr(
            "count(if(md5(cast(id as string)) > 'f0', 1, null)) as n"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak of the summed resident memory of a process and everything
    under it (the driver JVM, the Python daemon and its workers),
    sampled every ``interval`` seconds on a background thread until
    :meth:`stop`.  Summing current RSS, rather than each process's own
    peak, counts a worker that exits before the end exactly as much as
    one that is still alive."""

    def __init__(self, pid: int, interval: float = 0.5):
        self._pid = pid
        self._interval = interval
        self._peak_kb = 0
        #: (pid, command, kB) of each process at the peak
        self.at_peak: list[tuple[int, str, int]] = []
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self, pids: list[int]) -> None:
        kb = [_rss_kb(p) for p in pids]
        if sum(kb) > self._peak_kb:
            self._peak_kb = sum(kb)
            self.at_peak = [(p, _comm(p), k) for p, k in zip(pids, kb) if k]

    def _loop(self) -> None:
        n, pids = 0, []
        while not self._done.wait(self._interval):
            if n % 4 == 0:  # re-walk the tree every few samples
                pids = _descendants(self._pid)
            self._sample(pids)
            n += 1

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._done.set()
        self._thread.join()
        self._sample(_descendants(self._pid))
        return self._peak_kb / 1024.0


def stop_jvm(proc, timeout: float = 60.0) -> None:
    """End the Spark driver JVM started by PySpark and wait until it and
    every process under it have exited.  The JVM exits when its stdin
    closes; its Python workers exit when the JVM does."""
    tree = _descendants(proc.pid)
    proc.stdin.close()
    proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in tree[1:]) and time.time() < deadline:
        time.sleep(0.05)


def source_id(root: str) -> dict:
    """The git commit when the checkout is a repository, and always an
    md5 over the library and query sources, so a result names the code
    it measured either way."""
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    h = hashlib.md5()
    files = [os.path.join(root, "__spark_entry__.py")]
    for base, dirs, names in os.walk(os.path.join(root, "strom_spark")):
        dirs.sort()
        files += [os.path.join(base, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return {"git_commit": commit, "source_md5": h.hexdigest()[:16]}
