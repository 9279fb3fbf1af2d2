"""Outside-in probes: process-tree CPU and memory from /proc, and the
Spark event log rolled up per job-description tag."""

from __future__ import annotations

import collections
import json
import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: SQL metrics the Python UDF / mapInPandas exec nodes report per task
PY_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, resident pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        # fields after the command: state ppid ... utime(11) stime cutime cstime ... rss(21)
        out[int(name)] = (int(f[1]), sum(int(v) for v in f[11:15]), int(f[21]))
    return out


def tree_pids(root: int, table: dict | None = None) -> list[int]:
    """``root`` and every live descendant (JVM, Python daemon, workers)."""
    table = _proc_table() if table is None else table
    children = collections.defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        children[ppid].append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children[pid])
    return pids


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _spawning_jvm(pid: int, ppid: int) -> bool:
    """True for a child the JVM has spawned but that has not yet exec'd.
    The JVM spawns helpers (the Python daemon, Hadoop's shell commands)
    with a vfork-style clone, so until the exec the child shares the
    JVM's memory and /proc reports the whole JVM's resident size for it
    too."""
    exe = _exe(pid)
    return exe is not None and os.path.basename(exe) == "java" and exe == _exe(ppid)


def tree_usage(root: int) -> tuple[float, float]:
    """(CPU seconds, resident MB) of ``root`` plus descendants. CPU counts
    each live process's own time plus its reaped children's, so a worker
    that exits mid-run moves into its parent's total instead of vanishing.
    Memory counts a JVM's spawning child once, with the JVM."""
    table = _proc_table()
    cpu = rss = 0
    for pid in tree_pids(root, table):
        if pid in table:
            cpu += table[pid][1]
            if not _spawning_jvm(pid, table[pid][0]):
                rss += table[pid][2]
    return cpu / _CLK, rss * _PAGE / 2**20


class PeakRss:
    """Context manager sampling the tree's resident memory on a thread;
    ``peak_mb`` is the largest sample once the block exits."""

    def __init__(self, root: int, interval: float = 0.1):
        self._root, self._interval = root, interval
        self._stop = threading.Event()
        self.peak_mb = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_usage(self._root)[1])
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class EventLog:
    """Incremental reader of one application's uncompressed event log."""

    def __init__(self, path: str):
        self.path, self._offset = path, 0
        self._job_tag: dict[int, str | None] = {}
        self._stage_job: dict[int, int] = {}

    def read_new(self) -> list[dict]:
        """Complete events appended since the previous call."""
        with open(self.path, "rb") as fh:
            fh.seek(self._offset)
            data = fh.read()
        end = data.rfind(b"\n") + 1
        self._offset += end
        events = [json.loads(line) for line in data[:end].splitlines() if line]
        for e in events:
            if e["Event"] == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self._job_tag[e["Job ID"]] = props.get("spark.job.description")
                for s in e["Stage IDs"]:
                    self._stage_job[s] = e["Job ID"]
        return events

    def rollup(self, events: list[dict]) -> dict[str | None, dict[str, float]]:
        """Task metrics summed per job description (None: untagged)."""
        out: dict = collections.defaultdict(lambda: collections.Counter())
        for e in events:
            if e["Event"] != "SparkListenerTaskEnd":
                continue
            tag = self._job_tag.get(self._stage_job.get(e["Stage ID"]))
            m, acc = e.get("Task Metrics") or {}, out[tag]
            acc["tasks"] += 1
            acc["tasks_failed"] += e["Task End Reason"]["Reason"] != "Success"
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") in PY_ACCUMS:
                    acc["py_bytes"] += int(a.get("Update", 0))
        return out

    def totals(self, events: list[dict]) -> dict[str, float]:
        total = collections.Counter()
        for acc in self.rollup(events).values():
            total.update(acc)
        return total
