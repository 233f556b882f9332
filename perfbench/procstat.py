"""Process and host counters read straight from ``/proc`` (no psutil).

``cpu_s`` and ``tree_hwm_mb`` cover this Python process and every
live descendant (the JVM that PySpark launches, and its Python workers);
``cutime``/``cstime`` add descendants already reaped. ``host_sample``
gives the interference figures recorded beside each result: load
average, CPU steal ticks and CPU pressure.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # process exited or file absent on this kernel
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live descendant, parents first."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_s(pid: int | None = None) -> float:
    """CPU seconds of ``pid`` and its live descendants: utime + stime,
    plus cutime + cstime of children already reaped."""
    total = 0
    for p in descendants(pid or os.getpid()):
        fields = _stat_fields(p)
        if fields is not None:
            # after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
            total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total / _TICK


def tree_hwm_mb(pid: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its live
    descendants, in MiB."""
    kb = 0
    for p in descendants(pid or os.getpid()):
        for line in (_read(f"/proc/{p}/status") or "").splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def _steal_and_total() -> tuple[int, int]:
    line = (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:]
    ticks = [int(x) for x in line]
    steal = ticks[7] if len(ticks) > 7 else 0
    # guest time is already inside user/nice
    return steal, sum(ticks[:8])


def _psi_cpu_some_total_us() -> int | None:
    raw = _read("/proc/pressure/cpu")
    if not raw:
        return None
    for line in raw.splitlines():
        if line.startswith("some"):
            return int(line.rsplit("total=", 1)[1])
    return None


def host_sample() -> dict:
    """Raw host counters at one instant; ``host_delta`` turns two of
    them into the interference block."""
    steal, total = _steal_and_total()
    return {
        "loadavg": [float(x) for x in (_read("/proc/loadavg") or "0 0 0").split()[:3]],
        "steal_ticks": steal,
        "total_ticks": total,
        "psi_cpu_some_us": _psi_cpu_some_total_us(),
    }


def host_delta(start: dict, end: dict, wall_s: float) -> dict:
    d_total = end["total_ticks"] - start["total_ticks"]
    psi = None
    if start["psi_cpu_some_us"] is not None and end["psi_cpu_some_us"] is not None:
        psi = (end["psi_cpu_some_us"] - start["psi_cpu_some_us"]) / 1e6 / max(wall_s, 1e-9)
    return {
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "steal_ticks": end["steal_ticks"] - start["steal_ticks"],
        "steal_frac": (end["steal_ticks"] - start["steal_ticks"]) / d_total if d_total else 0.0,
        "psi_cpu_some_frac": psi,
    }
