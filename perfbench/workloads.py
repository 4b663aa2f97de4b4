"""The REST workloads: seeded stores, request streams and warm passes.

Every request is a wire-level call into ``Router.handle``. A read
carries the selection the model must reproduce; a write or delete
carries the model update it implies. The store is built through the
engine's own write path from a seeded parquet input.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from itertools import count

import numpy as np

from model import AGGREGATES, BASE_US, DAY_US, HOSTS, Model, random_fields, random_points, tag_of, zipf_keys


@dataclass
class Req:
    method: str
    path: str
    label: str
    body: str | None = None
    # reads: (ids, kind, args, host filter, aggregate or "length" or None)
    read: tuple | None = None
    # writes/deletes: applied to the model after a 200 response
    apply: object = None
    points_in: int = 0


def read(ids: list[str], kind: str, args: tuple, label: str, host: int | None = None,
         agg: str | None = None, alias: str | None = None) -> Req:
    path = f"/ts/{','.join(ids)}/" + (alias or f"{kind}/" + "/".join(str(a) for a in args))
    if host is not None:
        path += f"/filter/host/equals/{HOSTS[host]}"
    if agg:
        path += f"/{agg}"
    return Req("GET", path, label, read=(ids, kind, args, host, agg))


def length(ids: list[str], label: str = "length") -> Req:
    return Req("GET", f"/ts/{','.join(ids)}/length", label, read=(ids, "first", (1 << 62,), None, "length"))


def post(sid: str, ts, value, host, dc, label: str) -> Req:
    records = []
    for t, v, h, d in zip(ts.tolist(), value.tolist(), host.tolist(), dc.tolist()):
        rec: dict = {"timestamp": t}
        tag = tag_of(h, d)
        if tag:
            rec["tag"] = [{k: tag[k]} for k in tag]
        rec["value"] = v
        records.append(rec)
    return Req("POST", f"/ts/{sid}", label, body=json.dumps(records),
               apply=lambda m: m.add(sid, ts, value, host, dc), points_in=len(records))


def delete(sid: str, lo: int, hi: int | None, host: int | None, label: str) -> Req:
    path = f"/ts/{sid}/" + (f"since/{lo}" if hi is None else f"range/{lo}/{hi}")
    if host is not None:
        path += f"/filter/host/equals/{HOSTS[host]}"
    return Req("DELETE", path, label, apply=lambda m: m.delete(sid, lo, hi, host))


@dataclass
class Workload:
    name: str
    clients: int
    n_series: int
    n_points: int
    days: int
    cycle_s: float  # seconds of --seconds budgeted per client cycle; sizes a run
    mutable: bool = False
    model: Model = field(default_factory=Model)

    def router_options(self) -> dict:
        return {}

    def prime(self, rng) -> list[Req]:
        """Requests that bring the router to its steady state, untimed."""
        return []

    def build_model(self, rng) -> None:
        """Heavy-tailed series sizes: series of size rank r holds a
        share of the points proportional to 1/r."""
        names = [f"s{i:03d}" for i in range(self.n_series)]
        share = 1.0 / np.arange(1, self.n_series + 1)
        share = share[rng.permutation(self.n_series)] / share.sum()
        hi = BASE_US + self.days * DAY_US
        for sid, s in zip(names, share):
            self.model.add(sid, *random_points(rng, max(20, int(self.n_points * s)), BASE_US, hi))
        self.names = names
        self.big = sorted(names, key=lambda n: -len(self.model.series[n][0]))[:8]
        self.end_us = hi


class PointReads(Workload):
    """Two clients, each cycling through the eight point-read routes.
    Per-client key draws follow a fixed Zipf profile; read sizes and tag
    filters follow the cycle number, so only key identities vary by seed."""

    def warm(self, rep: int) -> list[Req]:
        """One request of each plan shape the cycle uses."""
        return [read([self.big[rep]], "last", (10,), "last"),
                read([self.big[rep]], "first", (1,), "earliest", alias="earliest"),
                read([self.big[rep]], "last", (100,), "last_filter", host=rep % len(HOSTS)),
                length([self.big[rep]])]

    def stream(self, rng, ranked: list[str], cycles: int):
        keys = iter(zipf_keys(rng, ranked, 6 * cycles))
        popularity = 1.0 / np.arange(1, len(ranked) + 1) ** 1.1
        popularity /= popularity.sum()
        for c in range(cycles):
            s = next(keys)
            yield read([s], "last", (1 + 2 * c % 10,), "last")
            yield read([next(keys)], "last", (1,), "latest", alias="latest")
            yield read([next(keys)], "last", (1 + (2 * c + 1) % 10,), "last")
            yield read([next(keys)], "first", (1,), "earliest", alias="earliest")
            yield read([next(keys)], "first", (1,), "first")
            ids = sorted(str(s) for s in rng.choice(ranked, 3, replace=False, p=popularity))
            yield read(ids, "last", (10,), "multi_last")
            yield length([next(keys)])
            yield read([s], "last", (100,), "last_filter", host=c % len(HOSTS))


class IngestMixed(Workload):
    """One client. Per cycle: 12 tagged POSTs of 1-200 points, two of
    them to series the store has never seen and the rest to four hot
    series; two firehose batches that each trip the buffer's
    size-triggered spill; a read-after-write on the series just written;
    four reads of unwritten series (the majority of the reads, so the
    read median is one of them); one scan and one long-window
    aggregate over the two largest series; and a delete. The run ends
    with a timed sync, so the firehose buffer stays at its spill
    threshold throughout. Batch sizes, window lengths and route forms are
    fixed per cycle number; the seed picks series, timestamps, values
    and tags."""

    FIREHOSE = "firehose"
    FIRE_BATCH = 2000
    # the reference's 100,000 / 20,000 buffer policy scaled by 1/10, so
    # the size-triggered spill fires on every firehose batch of a short run
    MAX_BUFFER = 10_000
    SHARD = 2_000
    POST_SIZES = np.linspace(1, 200, 12).round().astype(int)

    def build_model(self, rng) -> None:
        super().build_model(rng)
        self.cursor = {}  # series -> last client timestamp written
        self.new_ids = count()

    def router_options(self) -> dict:
        return {"max_buffer_size": self.MAX_BUFFER, "shard_size": self.SHARD}

    def points_after(self, rng, sid: str, n: int):
        ts = self.cursor.get(sid, self.end_us) + np.cumsum(rng.integers(1, 1_000_000, n))
        self.cursor[sid] = int(ts[-1])
        return (ts, *random_fields(rng, n))

    def firehose(self, rng) -> Req:
        return post(self.FIREHOSE, *self.points_after(rng, self.FIREHOSE, self.FIRE_BATCH), "post_firehose")

    def prime(self, rng) -> list[Req]:
        """Fill the firehose buffer to one batch below its spill threshold."""
        return [self.firehose(rng) for _ in range(self.MAX_BUFFER // self.FIRE_BATCH - 1)]

    def warm(self, rep: int) -> list[Req]:
        """One request of each heavy route the cycle uses."""
        rng = np.random.default_rng(rep)
        sid, big = f"warm{rep}", self.big[1]
        return [post(sid, *self.points_after(rng, sid, 20), "post"),
                read([sid], "last", (10,), "read_after_write"),
                read([big], "range", (BASE_US, self.end_us - 1), "scan_range"),
                read([big], "range", self.window(rng), "aggregate", agg=AGGREGATES[rep]),
                delete(sid, self.end_us, None, None, "delete_since")]

    def read_unwritten(self, rng, cold: list[str]) -> Req:
        unwritten = [s for s in cold if s not in self.cursor]
        return read([unwritten[int(rng.integers(0, len(unwritten)))]], "last", (10,), "read_unwritten")

    def window(self, rng) -> tuple[int, int]:
        lo = BASE_US + int(rng.integers(0, (self.days // 2) * DAY_US))
        return lo, lo + (self.days // 2) * DAY_US - 1

    def stream(self, rng, ranked: list[str], cycles: int):
        ranked = [s for s in ranked if s not in self.big[:2]]
        hot, cold = ranked[:4], ranked[8:]
        for c in range(cycles):
            sizes = rng.permutation(self.POST_SIZES)
            for half in range(2):
                targets = [hot[i] for i in rng.permutation(4)] + [hot[int(rng.integers(0, 4))]]
                targets.insert(int(rng.integers(0, 6)), f"new{next(self.new_ids)}")
                for sid, n in zip(targets, sizes[6 * half: 6 * half + 6]):
                    yield post(sid, *self.points_after(rng, sid, int(n)), "post")
                yield self.firehose(rng)
                if half == 0:
                    sid = targets[-1]
                    yield (read([sid], "last", (1,), "read_after_write", alias="latest"),
                           read([sid], "last", (10,), "read_after_write"),
                           length([sid], "read_after_write"))[c % 3]
                else:
                    yield self.read_unwritten(rng, cold)
                yield self.read_unwritten(rng, cold)
            big, host = self.big[c % 2], c % len(HOSTS)
            yield (read([big], "range", (BASE_US, self.end_us - 1), "scan_range"),
                   read([big], "since", (BASE_US + DAY_US,), "scan_since"),
                   read([big], "range", (BASE_US, self.end_us - 1), "scan_filter", host=host))[c % 3]
            agg = AGGREGATES[c % len(AGGREGATES)]
            yield (read([big], "range", self.window(rng), "aggregate", agg=agg),
                   read(sorted({big, *hot[:2]}), "range", self.window(rng), "aggregate_multi", agg=agg),
                   read([big], "range", self.window(rng), "aggregate_filter", host=host, agg=agg))[c % 3]
            yield self.read_unwritten(rng, cold)
            sid = cold[int(rng.integers(0, len(cold)))]
            day = BASE_US + int(rng.integers(0, self.days)) * DAY_US
            yield (delete(sid, day, day + DAY_US - 1, None, "delete_range"),
                   delete(sid, self.end_us - DAY_US // 2, None, None, "delete_since"),
                   delete(sid, day, day + DAY_US - 1, host, "delete_filter"))[c % 3]


WORKLOADS = {
    "point_reads": lambda: PointReads("point_reads", clients=2, n_series=300, n_points=200_000, days=14,
                                      cycle_s=6.5),
    "ingest_mixed": lambda: IngestMixed("ingest_mixed", clients=1, n_series=100, n_points=80_000, days=4,
                                        cycle_s=5.0, mutable=True),
}


def ranked_names(workload: Workload, seed: int) -> list[str]:
    """Series names in order of popularity, shared by every client."""
    return [workload.names[i] for i in np.random.default_rng([seed, 1]).permutation(len(workload.names))]
