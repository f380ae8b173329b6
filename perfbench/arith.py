"""The benchmark's own arithmetic, kept free of Spark so it can be tested
alone: medians with their sample count, quartile spreads, interval
unions, span self time and the attribution of Spark stages to spans."""

from __future__ import annotations

import statistics


def median_n(values: list[float]) -> tuple[float, int]:
    """(median, sample count); an empty sample is an error, not a 0."""
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values), len(values)


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles ``statistics.quantiles(values, n=4)``
    gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals; overlaps count
    once and empty or reversed intervals count nothing."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to [lo, hi]; those entirely outside are dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the part of its interval that its child
    spans cover. Spans are dicts with ``id``, ``parent``, ``start`` and
    ``end``; children that overlap each other are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


def innermost_span(spans: list[dict], t: float) -> dict | None:
    """The span an event at time ``t`` belongs to: among the spans whose
    [start, end] holds ``t``, the shortest (with properly nested spans,
    the deepest). None when no span holds it."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (
            best is None or s["end"] - s["start"] < best["end"] - best["start"]
        ):
            best = s
    return best


def attribute_stages(spans: list[dict], stages: list[dict]) -> dict[int, list[dict]]:
    """span id → the stages submitted inside it (innermost span wins).
    Stages submitted outside every span are left out."""
    out: dict[int, list[dict]] = {}
    for st in stages:
        sp = innermost_span(spans, st["submit"])
        if sp is not None:
            out.setdefault(sp["id"], []).append(st)
    return out


def within(items: list[dict], lo: float, hi: float) -> list[dict]:
    """Records (stages or jobs) submitted inside [lo, hi]."""
    return [x for x in items if lo <= x["submit"] <= hi]
