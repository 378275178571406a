"""Readers for ``/proc/<pid>/status`` and ``/proc/<pid>/io``, plus the
small statistics the benchmark reports."""

from __future__ import annotations

import os
import time

TICKS = os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def io_bytes(pid: int) -> tuple[int, int]:
    """``(rchar, wchar)`` of ``pid``: bytes passed through read/write
    calls, page cache included, so the counts do not depend on what the
    OS happens to have cached."""
    fields = {}
    with open(f"/proc/{pid}/io") as fh:
        for line in fh:
            k, _, v = line.partition(":")
            fields[k] = int(v)
    return fields["rchar"], fields["wchar"]


def cpu_seconds(pid: int) -> float:
    """User + system CPU time of ``pid``, all its threads, in seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        rest = fh.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / TICKS


def steal_ticks() -> tuple[int, int]:
    """``(steal, total)`` ticks of the whole machine from ``/proc/stat``:
    time a hypervisor ran something else on this machine's CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def reference_s(n: int = 100_000) -> float:
    """Best of three timings of a fixed pure-Python loop, which depends
    on nothing the engine does: how fast this machine runs one thread
    right now."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass  # a writer swept a staging file mid-walk
    return total


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs: list[float], round_len: int,
         beyond: int = 10) -> tuple[float, float, int]:
    """Latency at the highest percentile that still has ``beyond``
    samples above it: ``(value, percentile, n)``.

    Below ``2 * beyond`` samples that percentile would fall under the
    median. Ops then come in rounds of ``round_len``, the same op mix
    each round, whose slowest op is the same kind every round (the
    compaction tick, the slowest entry), so the median over rounds of
    each round's slowest op is returned, with percentile
    ``100 * (round_len - 1) / round_len`` (the rank of that op in a
    round). A maximum would follow a single sample."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 2 * beyond:
        k = round_len
        worst = [max(xs[i:i + k]) for i in range(0, n, k)]
        return median(worst), 100.0 * (k - 1) / k, n
    k = n - beyond  # 1-based rank with exactly `beyond` samples after it
    return s[k - 1], 100.0 * k / n, n


def interval_total(iv: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def interval_minus(
    span: tuple[float, float], cuts: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """The parts of ``span`` that no interval in ``cuts`` covers."""
    out, pos = [], span[0]
    for s, e in sorted(cuts):
        s, e = max(s, span[0]), min(e, span[1])
        if e <= s:
            continue
        if s > pos:
            out.append((pos, s))
        pos = max(pos, e)
    if pos < span[1]:
        out.append((pos, span[1]))
    return out
