"""Process and host measurements: CPU and peak RSS of the driver Python
process plus everything it started (the JVM), the process start time, and
the host markers recorded with every run."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def family(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                parent[int(d)] = int(st[1])
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


def cpu_seconds(pid: int) -> float:
    st = _stat(pid)
    return (int(st[11]) + int(st[12])) / _TICK if st else 0.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _reset_hwm(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass  # peak then covers the whole process life


class Usage:
    """CPU seconds and peak RSS of the process family from construction
    to ``stop()``."""

    def __init__(self) -> None:
        self.cpu0 = {p: cpu_seconds(p) for p in family()}
        for p in self.cpu0:
            _reset_hwm(p)

    def stop(self) -> dict:
        pids = family()
        cpu = sum(cpu_seconds(p) - self.cpu0.get(p, 0.0) for p in pids)
        rss = sum(_hwm_kb(p) for p in pids)
        return {"cpu_s": cpu, "peak_rss_mb": rss / 1024}


def become_subreaper() -> None:
    """Have orphaned descendants (a JVM whose launching process died)
    re-parented to this process, so ``family()`` still finds them and
    ``end_descendants()`` can reap them."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def end_descendants(grace: float = 10.0) -> None:
    """Stop every live descendant of this process and wait until each has
    ended: SIGTERM, then SIGKILL after ``grace`` seconds."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        pids = [p for p in family()[1:] if _alive(p)]
        if not pids:
            break
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            _reap()
            pids = [p for p in pids if _alive(p)]
            if not pids:
                break
            time.sleep(0.05)
    _reap()


def process_start_time() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _TICK


def host_probe(seconds: float = 0.3) -> dict:
    """1-minute loadavg and a short memory-bandwidth probe (GB/s of
    read+write traffic streaming a 64 MB array)."""
    import numpy as np

    a = np.zeros(8_000_000, dtype=np.float64)
    b = np.empty_like(a)
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        np.copyto(b, a)
        n += 1
    dt = time.perf_counter() - t0
    return {"loadavg_1m": os.getloadavg()[0],
            "membw_gbps": 2 * a.nbytes * n / dt / 1e9}
