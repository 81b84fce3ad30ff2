"""Peak resident memory of the job's processes, read from /proc.

Peaks are the kernel's own high-water mark (``VmHWM``), so a spike
between two samples is not missed; writing ``5`` to a process's
``clear_refs`` resets that mark when a measurement window opens.
"""

from __future__ import annotations

import os
import threading


def _status_kb(pid: int, key: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        return None
    return None


def self_peak_mb() -> float:
    return (_status_kb(os.getpid(), "VmHWM:") or 0) / 1024


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm is parenthesised and may hold spaces: split after it
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        table[int(name)] = (ppid, comm)
    return table


def descendants(root: int, table: dict[int, tuple[int, str]] | None = None
                ) -> list[int]:
    """Every process under ``root``, parents before children."""
    table = _process_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out = []
    todo = [root]
    while todo:
        kids = children.get(todo.pop(0), [])
        out += kids
        todo += kids
    return out


class ProcSampler:
    """Samples the peak RSS of the Spark JVM and of the Python
    workers it forks, among the descendants of ``root``, on a
    background thread."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak_kb = {"jvm": 0, "worker": 0}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _roles(self) -> dict[int, str]:
        table = _process_table()
        roles = {}
        for pid in descendants(self.root, table):
            comm = table[pid][1]
            if comm == "java":
                roles[pid] = "jvm"
            elif comm.startswith("python"):
                roles[pid] = "worker"
        return roles

    def sample(self) -> None:
        for pid, role in self._roles().items():
            kb = _status_kb(pid, "VmHWM:")
            if kb is not None:
                with self._lock:
                    self._peak_kb[role] = max(self._peak_kb[role], kb)

    def open_window(self) -> None:
        """Forget earlier peaks, in this object and in the kernel."""
        for pid in self._roles():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        with self._lock:
            self._peak_kb = {"jvm": 0, "worker": 0}

    def peaks_mb(self) -> dict[str, float]:
        self.sample()
        with self._lock:
            return {k: v / 1024 for k, v in self._peak_kb.items()}

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> ProcSampler:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
