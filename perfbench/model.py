"""Seeded inputs and the reference model the responses are checked against.

The model keeps every point the benchmark wrote or deleted, one sorted
numpy array set per series, and computes what each REST read must
return: exact rows for ``last``/``first``/``since``/``range``, exact
lengths, and aggregates to float tolerance. Arrays are replaced, never
mutated, so an expectation taken before a later write still describes
the store as the request saw it.
"""

from __future__ import annotations

import json
import math

import numpy as np

DAY_US = 86_400_000_000
BASE_US = 1_699_920_000_000_000  # 2023-11-14 00:00 UTC, a day boundary
HOSTS = ("h0", "h1", "h2", "h3")
DCS = ("east", "west")
AGGREGATES = ("sum", "count", "max", "min", "mean", "sd", "median")


def tag_of(host: int, dc: int) -> dict | None:
    if host < 0:
        return None
    tag = {"host": HOSTS[host]}
    if dc >= 0:
        tag["dc"] = DCS[dc]
    return tag


def random_points(rng, n: int, lo_us: int, hi_us: int):
    """Up to ``n`` points with distinct timestamps in [lo_us, hi_us):
    sorted ts, values with two decimals, host code (-1 = untagged) and
    dc code (-1 = none)."""
    ts = np.unique(rng.integers(lo_us, hi_us, n))
    return (ts, *random_fields(rng, len(ts)))


def random_fields(rng, k: int):
    value = np.round(rng.normal(100.0, 15.0, k), 2)
    host = rng.integers(0, len(HOSTS), k)
    host[rng.random(k) < 0.1] = -1
    dc = np.where((host >= 0) & (rng.random(k) < 0.3), rng.integers(0, len(DCS), k), -1)
    return value, host.astype(np.int8), dc.astype(np.int8)


def zipf_keys(rng, ranked: list[str], n: int, skew: float = 1.1) -> list[str]:
    """``n`` keys in which the key of popularity rank r appears in
    proportion to 1/r**skew. The counts are fixed by ``n``; the seed
    only shuffles the order, so every seed touches as many distinct
    keys as often."""
    p = 1.0 / np.arange(1, len(ranked) + 1) ** skew
    counts = np.floor(p / p.sum() * n).astype(int)
    counts[: n - counts.sum()] += 1
    keys = np.repeat(np.arange(len(ranked)), counts)
    rng.shuffle(keys)
    return [ranked[i] for i in keys]


class Model:
    """Every point the store should hold, by series."""

    def __init__(self) -> None:
        self.series: dict[str, tuple[np.ndarray, ...]] = {}

    def add(self, sid: str, ts, value, host, dc) -> None:
        cols = [np.asarray(c) for c in (ts, value, host, dc)]
        if sid in self.series:
            cols = [np.concatenate([old, new]) for old, new in zip(self.series[sid], cols)]
        order = np.argsort(cols[0], kind="stable")
        self.series[sid] = tuple(c[order] for c in cols)

    def delete(self, sid: str, lo: int, hi: int | None, host: int | None = None) -> None:
        if sid not in self.series:
            return
        ts, value, h, dc = self.series[sid]
        hit = ts >= lo
        if hi is not None:
            hit &= ts <= hi
        if host is not None:
            hit &= h == host
        self.series[sid] = tuple(c[~hit] for c in (ts, value, h, dc))

    def n_points(self) -> int:
        return sum(len(c[0]) for c in self.series.values())

    def table(self):
        """All points as one pyarrow table in the store's point schema."""
        import pyarrow as pa

        names, ts, value, tags = [], [], [], []
        for sid, (t, v, h, d) in self.series.items():
            names += [sid] * len(t)
            ts.append(t)
            value.append(v)
            tags += [None if hh < 0 else list(tag_of(hh, dd).items()) for hh, dd in zip(h, d)]
        return pa.table({
            "series": pa.array(names, pa.string()),
            "ts": pa.array(np.concatenate(ts), pa.int64()),
            "tag": pa.array(tags, pa.map_(pa.string(), pa.string())),
            "value": pa.array(np.concatenate(value), pa.float64()),
        })

    # -- expectations ----------------------------------------------------------

    def select(self, ids: list[str], kind: str, args: tuple):
        """Snapshot of the rows a read selects, before any tag filter,
        in response order: (ts, series rank, value, host, dc) arrays."""
        parts = []
        for rank, sid in enumerate(sorted(set(ids))):
            if sid not in self.series:
                continue
            ts, value, host, dc = self.series[sid]
            if kind == "last":
                sl = slice(max(0, len(ts) - args[0]), None)
            elif kind == "first":
                sl = slice(0, args[0])
            elif kind == "since":
                sl = slice(int(np.searchsorted(ts, args[0], "left")), None)
            else:  # range, both bounds inclusive
                sl = slice(int(np.searchsorted(ts, args[0], "left")),
                           int(np.searchsorted(ts, args[1], "right")))
            parts.append((ts[sl], np.full(len(ts[sl]), rank), value[sl], host[sl], dc[sl]))
        if not parts:
            return tuple(np.array([], dtype=t) for t in ("int64", "int64", "float64", "int8", "int8"))
        ts, rank, value, host, dc = (np.concatenate(c) for c in zip(*parts))
        if kind == "first":  # (ts, series, value) ascending
            order = np.lexsort((value, rank, ts))
        else:  # ts descending, then series ascending, value descending
            order = np.lexsort((-value, rank, -ts))
        return ts[order], rank[order], value[order], host[order], dc[order]


def expected_rows(sel, host_filter: int | None) -> list[dict]:
    ts, _, value, host, dc = sel
    out = []
    for t, v, h, d in zip(ts.tolist(), value.tolist(), host.tolist(), dc.tolist()):
        if host_filter is not None and h != host_filter:
            continue
        row: dict = {"timestamp": t}
        tag = tag_of(h, d)
        if tag:
            row["tag"] = [{k: tag[k]} for k in sorted(tag)]
        row["value"] = v
        out.append(row)
    return out


def expected_aggregate(sel, agg: str, host_filter: int | None) -> dict:
    _, _, value, host, _ = sel
    if host_filter is not None:
        value = value[host == host_filter]
    if len(value) == 0:
        return {agg: 0.0} if agg in ("sum", "count") else {}
    fn = {"sum": np.sum, "count": len, "max": np.max, "min": np.min,
          "mean": np.mean, "sd": np.std, "median": np.median}[agg]
    return {agg: float(fn(value))}


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def check_read(body: str, want, is_aggregate: bool) -> tuple[str | None, int]:
    """Compare a response body with the model's answer.
    Returns (mismatch description or None, points in the response)."""
    got = json.loads(body)
    if is_aggregate:
        ok = got.keys() == want.keys() and all(close(got[k], want[k]) for k in want)
        return (None if ok else f"got {got} want {want}"), 1
    if got != want:
        first_bad = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), min(len(got), len(want)))
        return f"{len(got)} rows vs {len(want)} expected, first difference at row {first_bad}", len(got)
    return None, len(got)
