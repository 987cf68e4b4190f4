"""Box state and memory, read from /proc.

The stamp describes the machine a run shared: steal and idle shares of
CPU time over the run, the load average and the core count. It is
recorded beside the metrics and never used to gate, drop or rescale a
run; its purpose is to tell a run slowed by host steal from a slower
program."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8]) or 1  # guest time is already inside user
    return {"steal": d[7] / total, "idle": (d[3] + d[4]) / total}


def process_age_s() -> float:
    """Seconds since this process started, interpreter start included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _status(pid: int) -> tuple[str, int] | None:
    """(command name, VmHWM in kB) of a live process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            fields = dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return None
    hwm = fields.get("VmHWM")
    return fields["Name"].strip(), int(hwm.split()[0]) if hwm else 0


def descendants(root: int) -> dict[int, tuple[str, int]]:
    """``root`` and every live process under it, each with its role and
    VmHWM in kB. The role is ``jvm`` for the JVM, ``worker`` for a process
    under the JVM and ``client`` otherwise."""
    kids = _children()
    out = {}
    todo = [(root, "client")]
    while todo:
        pid, role = todo.pop()
        st = _status(pid)
        if st is None:
            continue
        name, hwm = st
        if name == "java":
            role = "jvm"
        elif role == "jvm":
            role = "worker"
        out[pid] = (role, hwm)
        todo.extend((k, role) for k in kids.get(pid, ()))
    return out


class PeakRss:
    """Peak resident memory of this process and everything under it.

    Each process's own high-water mark (VmHWM) is read every ``every``
    seconds, so a process that lives longer than that is counted at its
    peak. Processes are sorted into the JVM (``java``), Python workers
    (processes under the JVM) and this client. The totals add peaks that
    need not have coincided, so they bound the true simultaneous peak
    from above."""

    def __init__(self, every: float = 0.5):
        self._every = every
        self._hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._lock = threading.Lock()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self._every):
            self.sample()

    def sample(self) -> None:
        seen = descendants(os.getpid())
        with self._lock:
            for pid, (role, hwm) in seen.items():
                old = self._hwm.get(pid, (role, 0))[1]
                self._hwm[pid] = (role, max(old, hwm))

    def peaks_mb(self) -> dict[str, float]:
        out = {"jvm": 0.0, "worker": 0.0, "client": 0.0}
        with self._lock:
            for role, hwm in self._hwm.values():
                out[role] += hwm / 1024
        out["total"] = sum(out.values())
        return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive; kill the ones that outlive
    ``timeout`` and wait for those too."""
    live = _wait(pids, timeout)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait(live, 5.0)


def _wait(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    live = [p for p in pids if _alive(p)]
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if _alive(p)]
    return live


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
