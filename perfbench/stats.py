"""The benchmark's own arithmetic: tail percentile, span self time and
metric-name validation. Pure functions, no Spark."""

from __future__ import annotations

import re
from collections.abc import Iterable

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# a tail percentile is only reported when at least this many samples
# lie beyond it; otherwise a p99 of 30 samples would be one sample
TAIL_BEYOND = 10


def tail(samples: Iterable[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    above it. Returns ``(value, percentile, n)``: ``value`` is the
    ``n - TAIL_BEYOND``-th smallest sample and ``percentile`` the share
    of samples at or below it, in percent."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"tail needs more than {TAIL_BEYOND} samples, got {n}")
    k = n - TAIL_BEYOND  # samples at or below the reported value
    return xs[k - 1], 100.0 * k / n, n


def self_times(spans: list[tuple[int, str, float, float, int | None]]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its direct children cover (overlapping children count
    once). Spans are ``(id, name, start, end, parent_id)``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _sid, _name, t0, t1, parent in spans:
        if parent is not None:
            children.setdefault(parent, []).append((t0, t1))
    out: dict[int, float] = {}
    for sid, _name, t0, t1, _parent in spans:
        covered, reach = 0.0, t0
        for c0, c1 in sorted(children.get(sid, [])):
            c0, c1 = max(c0, reach), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                reach = c1
        out[sid] = (t1 - t0) - covered
    return out


def bad_names(names: Iterable[str]) -> list[str]:
    """Names that break the result line's name rule: a letter or digit, then
    up to 63 letters, digits, ``_``, ``.`` or ``-``."""
    return [n for n in names if not NAME_RE.fullmatch(n)]
