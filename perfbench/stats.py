"""Pure helpers: percentiles with the tail-sample rule, checkpoint
commit lags, backlog depth and process peak RSS. No Spark imports, so
the benchmark's own tests run without a JVM."""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote, urlparse

#: a tail percentile is only reported when at least this many samples
#: lie beyond it in one run (p90 needs 100 samples, p95 needs 200)
MIN_BEYOND = 10

def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, pct: float) -> float:
    return n * (100.0 - pct) / 100.0


def tail_supported(n: int, pct: float) -> bool:
    """The rule for a tail percentile (above the median): at least
    MIN_BEYOND samples lie beyond it. The median is not a tail and
    only needs one sample."""
    return n > 0 and (pct <= 50 or samples_beyond(n, pct) >= MIN_BEYOND)


def pct_report(values, pct: float) -> dict:
    """``{"value", "n"}`` for a percentile, value None when the
    sample count does not support it."""
    n = len(values)
    return {"value": percentile(values, pct) if tail_supported(n, pct) else None, "n": n}


def tail_report(values) -> dict:
    """The highest percentile with MIN_BEYOND samples beyond it, as
    ``{"pct", "value", "n"}``; pct and value None when that is not
    above the median."""
    n = len(values)
    pct = 100.0 * (1.0 - MIN_BEYOND / n) if n else 0.0
    if pct <= 50:
        return {"pct": None, "value": None, "n": n}
    return {"pct": pct, "value": percentile(values, pct), "n": n}


def _entries(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                yield json.loads(line)


def batch_of_file(checkpoint_dir: str) -> dict[str, int]:
    """File name -> micro-batch id, read from the file source log
    ``sources/0/<batchId>`` (and its ``.compact`` roll-ups)."""
    src = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith(".") or not re.fullmatch(r"\d+(\.compact)?", name):
            continue
        for e in _entries(os.path.join(src, name)):
            fname = os.path.basename(unquote(urlparse(e["path"]).path))
            out[fname] = int(e["batchId"])
    return out


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """Batch id -> mtime of ``commits/<batchId>``."""
    d = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(n): os.path.getmtime(os.path.join(d, n))
        for n in os.listdir(d)
        if n.isdigit()
    }


def file_lags(checkpoint_dir: str, due: dict[str, float]) -> dict[str, float]:
    """Per landed file: commit mtime of its batch minus its scheduled
    due time. Files not yet committed are left out."""
    batch = batch_of_file(checkpoint_dir)
    commits = commit_times(checkpoint_dir)
    out = {}
    for fname, t_due in due.items():
        b = batch.get(fname)
        if b is not None and b in commits:
            out[fname] = commits[b] - t_due
    return out


def max_backlog(intervals) -> int:
    """Largest number of (landed, committed) intervals open at once."""
    events = sorted(
        [(a, 1) for a, _ in intervals] + [(c, -1) for _, c in intervals],
        key=lambda e: (e[0], e[1]),
    )
    depth = best = 0
    for _, d in events:
        depth += d
        best = max(best, depth)
    return best


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
