"""Small numeric helpers shared by the benchmark and its tests."""

from __future__ import annotations

from typing import Dict, Iterable, List, Sequence, Tuple


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks (NumPy's default). Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def covered(start: int, end: int, intervals: Iterable[Tuple[int, int]]) -> int:
    """Length of the part of ``[start, end)`` that the union of
    ``intervals`` covers (overlaps counted once)."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals)
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[dict]) -> Dict[int, int]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. Each span is a dict with
    ``id``, ``parent`` (``-1`` for a root), ``start`` and ``end``."""
    children: Dict[int, List[Tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(s["start"], s["end"], children.get(s["id"], ()))
        for s in spans
    }
