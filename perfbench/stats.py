"""Pure helpers of the benchmark: percentiles, span self time, output
fingerprints and parsing of Spark's formatted SQL metric values."""

from __future__ import annotations

import hashlib
import math
import re

import pandas as pd

#: Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile that has at least ``TAIL_BEYOND``
    samples ranked beyond it, by the nearest-rank rule.

    Returns ``(value, percentile, n)``. Below ``2 * TAIL_BEYOND + 1``
    samples that percentile is not above the median, so there is no
    tail to report: the maximum comes back with percentile 100, and the
    caller says the sample is too small.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    pct = (100 * (n - TAIL_BEYOND)) // n
    if pct <= 50:
        return xs[-1], 100, n
    rank = math.ceil(pct * n / 100)
    return xs[rank - 1], pct, n


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """Duration of ``[start, end]`` not covered by any child interval.
    Children are clipped to the parent; overlapping children count
    once."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def _render(v) -> str:
    if v is None or v is pd.NA or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return repr(v.tolist())
    return repr(v)


def fingerprint(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: sorted column names, row
    count and the sorted multiset of rendered rows. Floats render
    exactly (``repr``), so any bit difference changes the digest."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_render(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(("\x1f".join(cols) + f"\x1e{len(rows)}\x1e").encode())
    for r in rows:
        h.update(r.encode() + b"\x1e")
    return h.hexdigest()


_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Parse one SQL metric value as Spark formats it: ``15,000``
    (count), ``62.7 KiB`` (bytes), ``385 ms`` / ``1.9 s`` (seconds).
    Sizes and times come back in bytes and seconds, with the precision
    Spark printed."""
    parts = text.strip().split()
    if len(parts) == 1:
        return float(parts[0].replace(",", ""))
    if len(parts) == 2:
        num, unit = float(parts[0].replace(",", "")), parts[1]
        if unit in _SIZE:
            return num * _SIZE[unit]
        if unit in _TIME:
            return num * _TIME[unit]
    raise ValueError(f"unrecognised SQL metric value: {text!r}")


_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" '
                   r'label="((?:[^"\\]|\\.)*)" tooltip="((?:[^"\\]|\\.)*)"\];',
                   re.M)
_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
_TOTAL = " total (min, med, max (stageId: taskId))"
_SPREAD = " (min, med, max (stageId: taskId)):"


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", lambda m: "\n" if m.group(1) == "n" else m.group(1), s)


def parse_plan_dot(dot: str) -> tuple[dict[int, dict], list[tuple[int, int]]]:
    """Parse ``SparkPlanGraph.makeDotFile`` output into nodes
    ``{id: {"name", "desc", "metrics": {name: text}}}`` and edges
    ``(child, parent)``. Metric values stay as Spark printed them (read
    them with ``metric_value``); a metric printed as a spread without a
    total (averages) is left out."""
    nodes: dict[int, dict] = {}
    for m in _NODE.finditer(dot):
        lines = [x for x in _unescape(m.group(2)).split("<br>") if x]
        name = re.sub(r"</?b>", "", lines[0]).strip()
        metrics: dict[str, str] = {}
        i = 1
        while i < len(lines):
            line = lines[i]
            if line.endswith(_TOTAL):
                metrics[line[:-len(_TOTAL)]] = lines[i + 1].split(" (")[0]
                i += 2
            elif line.endswith(_SPREAD):
                i += 2
            else:
                key, _, value = line.partition(": ")
                metrics[key] = value
                i += 1
        nodes[int(m.group(1))] = {"name": name, "desc": _unescape(m.group(3)),
                                  "metrics": metrics}
    edges = [(int(a), int(b)) for a, b in _EDGE.findall(dot)]
    return nodes, edges
