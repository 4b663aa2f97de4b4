"""TimeSeriesEngine — the storage-backed engine.

Replaces the reference's Irmin/Git shard + index machinery
(src/shard.re, src/index.re, SURVEY.md §1.3) with a Spark-native
layout on the snapshot log (``snapshots.SnapshotLog``):

- the points store is one log table of parquet files partitioned by
  ``bucket = pmod(xxhash64(series), B)`` and ``day`` — bounded file
  count regardless of series cardinality (the 100 TB stance: raw
  ``partitionBy(series)`` explodes with millions of series),
- rows sorted within files by (series, ts) at write so parquet row-group
  min/max statistics give the same pruning the reference's hand-rolled
  shard-range index provides (src/index.re:92-105),
- every write is one atomic commit, as every shard write is a Git commit
  in the reference (src/shard.re:26-34); delete and compact swap the
  affected buckets' rewritten files in one commit across all of them,
- a read scans one snapshot's file list, pruned by each file's bucket
  and ts stats; the series/ts filters stay on the plan for row-group
  pushdown. Each rollup width is its own log table.

Like the reference, ingest never deduplicates (quirk Q6).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import uuid
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nibbledb_spark.operators import timeseries as ts_ops
from nibbledb_spark.schema import POINT_SCHEMA, validate_points
from nibbledb_spark.snapshots import SnapshotLog, _unlink_data_file

DEFAULT_NUM_BUCKETS = 32

# µs per day; the `day` partition column is ts div DAY_US (days since
# epoch). Files are written per bucket=N/day=M: series-hash bounds the
# file count in one dimension, and day keeps each file's ts range within
# one day, so the manifest's per-file ts stats prune range scans to the
# window queried even after compaction merged a bucket's history. This
# is the scale analogue of the reference's shard-range index
# (src/index.re:92-105): maintained by the layout, consulted from the
# manifest, no second store.
DAY_US = 86_400_000_000

# Continuous-aggregate rollup (the hypertable-rollup analogue): per
# (series, time bucket) mergeable partials. Sums are scaled longs
# (1e-6 resolution) so merge order never changes the result —
# incremental maintenance is bit-identical to a full recompute, which
# is the pinned test. value_sum/value_mean are derived at read.
ROLLUP_SCALE = 1_000_000
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("bucket_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_scaled", T.LongType()),
        T.StructField("vmin", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ]
)


def bucket_of(series_col, num_buckets: int):
    return F.pmod(F.xxhash64(series_col), F.lit(num_buckets)).cast("int")


def day_of(ts_col):
    # floor division (matches Python's // used for read-side bounds;
    # double intermediate is exact: |day| < 2^26)
    return F.floor(ts_col / F.lit(DAY_US)).cast("int")


class TimeSeriesEngine:
    """Batch engine over a bucket-partitioned, log-backed points store."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        num_buckets: int = DEFAULT_NUM_BUCKETS,
        strict_ingest: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path
        self.num_buckets = num_buckets
        self.strict_ingest = strict_ingest
        self._bucket_cache: dict[str, int] = {}
        present = os.listdir(path) if os.path.isdir(path) else []
        if "_log" not in present and any(n.startswith("bucket=") for n in present):
            raise ValueError(f"{path} holds bucket directories but no snapshot log")
        # A store written with B buckets MUST be read with B buckets or
        # bucket pruning silently misses data: the store's own metadata
        # wins over the constructor argument.
        meta = self._read_meta() or {}
        self.num_buckets = int(meta.get("num_buckets", num_buckets))
        self.rollup_widths: list[int] = sorted(
            int(x) for x in meta.get("rollup_widths", [])
        )
        self.retention_floor_us: int = int(meta.get("retention_floor_us", 0))
        self._log = SnapshotLog(
            spark, path, stats_cols=("ts",), partition_cols=("bucket", "day")
        )
        # snapshot reads in flight, and the replaced files waiting for
        # them to finish (see reading)
        self._reads = 0
        self._retired: list[str] = []
        self._reads_lock = threading.Lock()

    @property
    def rollup_every_us(self) -> int | None:
        """Finest enabled rollup width (None when disabled) — the
        default read width and the back-compat single-width view."""
        return self.rollup_widths[0] if self.rollup_widths else None

    _META_FILE = "_nibbledb_meta.json"

    def _meta_path(self) -> str:
        return os.path.join(self.path, self._META_FILE)

    def _read_meta(self) -> dict | None:
        try:
            with open(self._meta_path()) as f:
                return dict(json.load(f))
        except (OSError, ValueError):
            return None

    def _write_meta(self, *, force: bool = False) -> None:
        """Stamp the store's properties. tmp + fsync + rename, so a
        failed write leaves the previous file whole, never truncated."""
        if not force and os.path.exists(self._meta_path()):
            return
        meta: dict = {"num_buckets": self.num_buckets}
        if self.rollup_widths:
            meta["rollup_widths"] = self.rollup_widths
        if self.retention_floor_us:
            meta["retention_floor_us"] = self.retention_floor_us
        tmp = f"{self._meta_path()}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._meta_path())

    # -- snapshot reads and file reclaim -------------------------------------

    @contextlib.contextmanager
    def reading(self):
        """Hold around a read's plan AND collect: files a rewrite
        replaced are unlinked only once no holder is left, so a read
        that resolved an older snapshot still finds its files."""
        with self._reads_lock:
            self._reads += 1
        try:
            yield
        finally:
            with self._reads_lock:
                self._reads -= 1
                doomed = [] if self._reads else self._retired
                if not self._reads:
                    self._retired = []
            for p in doomed:
                _unlink_data_file(p)

    def _retire(self, log: SnapshotLog, files) -> None:
        # exactly the paths our own commit removed: a directory sweep
        # could take a concurrent writer's not-yet-committed files
        with self._reads_lock:
            self._retired += [os.path.join(log.root, fe.path) for fe in files]

    def _scan(self, log: SnapshotLog, schema: T.StructType, files) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(log.root, fe.path) for fe in files]
        )

    def _partitioned(self, df: DataFrame) -> DataFrame:
        bucket = bucket_of(F.col("series"), self.num_buckets)
        return df.withColumns({"bucket": bucket, "day": day_of(F.col("ts"))})

    # -- write path --------------------------------------------------------

    def write(
        self, series: str, records: list[dict[str, Any]] | dict[str, Any]
    ) -> int:
        """Ingest one point or a batch (A1/A2). Validates the wire shape
        (strict mode = reference field-order fidelity, quirk Q3), assigns
        wall-clock µs timestamps when absent, appends to the store."""
        if isinstance(records, dict):
            records = [records]
        rows = [
            (series, t, tag, v)
            for (t, tag, v) in validate_points(records, strict=self.strict_ingest)
        ]
        df = self.spark.createDataFrame(rows, POINT_SCHEMA)
        self.append_points(df)
        return len(rows)

    def append_points(self, df: DataFrame) -> None:
        """Append canonical-schema points as one commit per table (the
        points table, plus one per rollup width). Sorted within files by
        (series, ts) so row-group stats stay tight for time pruning;
        one file per (bucket, day) per writing task. The first write
        stamps the store's bucket-count metadata."""
        self._append(df)

    def streaming_sink(self, stream_id: str):
        """``foreachBatch`` handler appending each micro-batch exactly
        once, with ``SnapshotLog.streaming_sink``'s marker: a table skips
        a batch id at or below its newest committed one for
        ``stream_id`` (one id per checkpoint location)."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self._append(
                batch_df, {"stream_batch_id": int(batch_id), "stream_id": stream_id}
            )

        return sink

    def _append(self, df: DataFrame, marker: dict | None = None) -> None:
        self._write_meta()
        out = self._partitioned(df)
        base = None
        if self.rollup_widths:
            # With rollups enabled the input would otherwise be scanned
            # 1 + len(widths) times (main write + one partial-agg per
            # width). Scan it ONCE into a cache, then write the tables
            # overlapped so stragglers back-fill (the _lsh_write_tables
            # pattern); coarser widths derive from the finest width's
            # partials where they nest — at 100 TB the day rollup
            # aggregates ~24 partial rows per bucket instead of
            # re-scanning the raw points. Measured 3 appends 9.6 s ->
            # ~5 s at sf0.1 (r15 opt). No eager count(): concurrent
            # writers dedupe the cache fill per partition, so the first
            # job to need a block computes it and the rest reuse.
            out = out.persist()
            pts = out.select("series", "ts", "value")
            finest = self.rollup_widths[0]
            base = self._rollup_partials(pts, finest).persist()
        main = out.repartition("bucket").sortWithinPartitions("series", "ts")
        jobs = [(self._log, main)]
        for every in self.rollup_widths:
            if every == finest:
                frame = base
            elif every % finest == 0:
                frame = self._rollup_merge_partials(base, every)
            else:
                frame = self._rollup_partials(pts, every)
            jobs.append((self._rollup_log(every), frame))
        if marker:  # a re-run micro-batch skips the tables that hold it
            jobs = [j for j in jobs if not j[0]._replayed(marker)]

        def write(job) -> list:
            log, frame = job
            return log._write_files(frame, optimize=log is not self._log)

        try:
            if len(jobs) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                    adds = list(pool.map(write, jobs))
            else:  # inline: keeps the caller's thread-local job group
                adds = [write(j) for j in jobs]
        finally:
            if base is not None:
                base.unpersist()
                out.unpersist()
        for (log, _), add in zip(jobs, adds):
            log._commit(
                "append",
                add,
                [],
                None,  # reads pin POINT_SCHEMA / ROLLUP_SCHEMA themselves
                {"rows": sum(a.rows for a in add), **(marker or {})},
                expected_version=None,
                retry_append=True,
            )

    # -- read path ---------------------------------------------------------

    def points(
        self,
        ids: Sequence[str] = (),
        *,
        ts_from: int | None = None,
        ts_to: int | None = None,
    ) -> DataFrame:
        """The unified points DataFrame, optionally restricted to series
        ids and/or a time window. The file list comes from one snapshot,
        pruned to the ids' buckets and the window before any file is
        opened."""
        files = self._log.files(bounds={"ts": (ts_from, ts_to)})
        if ids:
            buckets = {self._bucket_py(series_id) for series_id in ids}
            files = [fe for fe in files if fe.stats["bucket"][0] in buckets]
        df = self._scan(self._log, POINT_SCHEMA, files)
        if ids:
            df = df.where(F.col("series").isin(list(ids)))
        if ts_from is not None:
            df = df.where(F.col("ts") >= ts_from)
        if ts_to is not None:
            df = df.where(F.col("ts") <= ts_to)
        return df

    def _bucket_py(self, series_id: str) -> int:
        # one tiny driver-side round-trip per distinct NEW id (memoized
        # thereafter). Kept exact with the JVM hash by asking the JVM.
        cached = self._bucket_cache.get(series_id)
        if cached is not None:
            return cached
        row = (
            self.spark.range(1)
            .select(bucket_of(F.lit(series_id), self.num_buckets).alias("b"))
            .collect()
        )
        b = row[0]["b"]
        self._bucket_cache[series_id] = b
        return b

    # query surface (thin delegation to the pure operators) -----------------

    def last(self, ids: Sequence[str], n: int) -> DataFrame:
        return ts_ops.last_n(self.points(ids), (), n)

    def latest(self, ids: Sequence[str]) -> DataFrame:
        return ts_ops.latest(self.points(ids), ())

    def first(self, ids: Sequence[str], n: int) -> DataFrame:
        return ts_ops.first_n(self.points(ids), (), n)

    def earliest(self, ids: Sequence[str]) -> DataFrame:
        return ts_ops.earliest(self.points(ids), ())

    def since(self, ids: Sequence[str], ts_from: int) -> DataFrame:
        return ts_ops.since(self.points(ids, ts_from=ts_from), (), ts_from)

    def range(self, ids: Sequence[str], ts_from: int, ts_to: int) -> DataFrame:
        return ts_ops.time_range(
            self.points(ids, ts_from=ts_from, ts_to=ts_to), (), ts_from, ts_to
        )

    def length(self, ids: Sequence[str] = ()) -> int:
        return self.points(ids).count()

    def names(self) -> list[str]:
        return [r["series"] for r in ts_ops.series_names(self.points()).collect()]

    def stats(self) -> DataFrame:
        return ts_ops.stats(self.points())

    def aggregate(self, ids: Sequence[str], agg: str, df: DataFrame | None = None):
        sel = df if df is not None else self.points(ids)
        return ts_ops.aggregate_result(sel, agg)

    def aggregate_range(
        self, ids: Sequence[str], ts_from: int, ts_to: int, agg: str
    ) -> dict[str, float]:
        """Range + aggregate with materialized-view routing: when the
        rollup is enabled, the aggregate is mergeable from its partials
        (sum/count/min/max/mean) and [ts_from, ts_to] is bucket-aligned,
        the answer comes from the rollup — proportional to series x
        buckets, not raw points. Anything else falls back to the raw
        scan. Routed sums inherit the rollup's 1e-6 scaled-long
        quantization (FLOAT parity class, same as the windowed
        aggregates). ``_last_agg_source`` records the route for tests."""
        # coarsest aligned width wins: fewest partial rows to merge
        every = next(
            (
                w
                for w in sorted(self.rollup_widths, reverse=True)
                if ts_from % w == 0 and (ts_to - ts_from + 1) % w == 0
            ),
            None,
        )
        if every and agg in ("sum", "count", "min", "max", "mean"):
            self._last_agg_source = "rollup"
            self._last_agg_width = every
            r = self.rollup(ids, ts_from=ts_from, ts_to=ts_to, every_us=every)
            exprs = {
                "sum": F.sum("value_sum"),
                "count": F.sum("n").cast("double"),
                "min": F.min("value_min"),
                "max": F.max("value_max"),
                "mean": F.sum("value_sum") / F.sum("n"),
            }
            val = r.agg(exprs[agg].alias(agg)).collect()[0][agg]
            if val is None:
                # A24 shaping: sum/count over empty are 0, the rest {}
                return {agg: 0.0} if agg in ("sum", "count") else {}
            return {agg: float(val)}
        if self.retention_floor_us and ts_from < self.retention_floor_us:
            # the raw fallback would silently aggregate over rows
            # apply_retention dropped — refuse with the fix spelled out
            raise ValueError(
                f"aggregate_range [{ts_from}, {ts_to}] reaches below the "
                f"retention floor {self.retention_floor_us} and cannot be "
                "served from raw points (they were dropped); align the "
                "window to an enabled rollup width and use a mergeable "
                f"aggregate (sum/count/min/max/mean), or start at/after "
                "the floor"
            )
        self._last_agg_source = "points"
        return self.aggregate(ids, agg, self.range(ids, ts_from, ts_to))

    # -- shard-index observability (A29) ------------------------------------

    def index(self, ids: Sequence[str] = ()) -> DataFrame:
        """Per-file (series, t_min, t_max, n) manifest — the engine's
        equivalent of the reference's shard index dump
        (src/index.re:79-90), derived from data, not a second store."""
        df = self.points(ids)
        return (
            df.groupBy(F.input_file_name().alias("file"), F.col("series"))
            .agg(
                F.min("ts").alias("t_min"),
                F.max("ts").alias("t_max"),
                F.count("*").alias("n"),
            )
            .orderBy("series", "t_min")
        )

    def index_length(self, ids: Sequence[str] = ()) -> int:
        return self.index(ids).count()

    # -- delete (A25/A26) ----------------------------------------------------

    def delete(
        self,
        ids: Sequence[str],
        ts_from: int,
        ts_to: int | None = None,
        *,
        tag_names: Sequence[str] | None = None,
        tag_values: Sequence[str] | None = None,
        tag_mode: str = "equals",
        compat_membership: bool = False,
    ) -> None:
        """Precise predicate delete (default), or the reference's
        timestamp-membership over-delete under ``compat_membership``
        (quirk Q2). Rewrites every live file of the buckets containing
        listed series (all buckets when ``ids`` is empty), as one commit
        — the Spark equivalent of the reference's shard rewrite
        (src/timeseries.re:259-303)."""
        pred = ts_ops.delete_predicate(
            ids, ts_from, ts_to, tag_names, tag_values, tag_mode
        )
        with self.reading():
            head = self._log.latest_version()
            if head is None:
                # nothing flushed yet: deleting nonexistent series is 200
                # OK in the reference, not a crash
                return
            files = self._log.files(head)
            if ids:
                buckets = {self._bucket_py(s) for s in ids}
                files = [fe for fe in files if fe.stats["bucket"][0] in buckets]
            if not files:
                return
            affected = self._scan(self._log, POINT_SCHEMA, files)
            if compat_membership:
                victims = affected.where(pred).select("series", "ts").distinct()
                survivors = affected.join(victims, ["series", "ts"], "left_anti")
            else:
                survivors = affected.where(~pred | pred.isNull())
            out = self._partitioned(survivors).repartition("bucket")
            self._rewrite("delete", head, files, out)
            # rollup partials for the deleted rows can't be subtracted
            # (min/max aren't invertible): refresh the derived table
            self.rollup_rebuild()

    def _rewrite(self, op: str, head: int, files, out: DataFrame) -> None:
        """Write ``out`` — the new contents of ``files``, read at
        ``head`` — and swap it in for them with one commit. The commit
        rebases over concurrent appends, so a flush that lands while the
        rewrite runs stays live; a concurrent rewrite raises
        ``CommitConflict`` and nothing changes."""
        add = self._log._write_files(
            out.sortWithinPartitions("series", "ts"), optimize=False
        )
        self._log._commit_rebasing(
            op,
            add,
            [fe.path for fe in files],
            None,
            {"from_files": len(files), "to_files": len(add)},
            base_head=head,
        )
        self._retire(self._log, files)

    # -- continuous-aggregate rollup (hypertable-rollup analogue) ------------
    # A materialized downsample maintained INCREMENTALLY: each append also
    # commits the batch's per-(series, bucket) partials — count,
    # scaled-long sum, min, max, all mergeable — to the width's own log
    # table under <path>/_rollup_<width>. Reads merge the partials with
    # one tiny hash aggregate, so queries over a year of history touch
    # rollup rows, not raw points: the aggregate is computed once at
    # WRITE time per batch, not per query. Scaled-long sums make the
    # merge associativity-proof — incremental state is bit-identical to a
    # full recompute (pinned test). compact() consolidates the delta
    # rows; delete() rebuilds (a derived table refresh, standard for
    # materialized aggregates); both replace the table's files in one
    # commit, so a failed rewrite leaves the old rollup readable. A
    # missing rollup table is never a correctness risk before retention:
    # rollup() rebuilds it from the points store.

    def _rollup_dir(self, every_us: int) -> str:
        return os.path.join(self.path, f"_rollup_{every_us}")

    def _rollup_log(self, every_us: int) -> SnapshotLog:
        return SnapshotLog(self.spark, self._rollup_dir(every_us))

    def enable_rollup(self, every_us: int = 3_600_000_000) -> None:
        """Enable rollup maintenance at ``every_us`` bucket width (and
        build it from any existing points). Call repeatedly for a
        HIERARCHY of widths (e.g. hour + day): each append then writes
        one tiny partial-agg per width, and range-aggregate routing
        picks the coarsest aligned width (aggregate_range)."""
        every_us = int(every_us)
        if every_us <= 0:
            raise ValueError("rollup width must be positive")
        if every_us in self.rollup_widths:
            return
        if self.retention_floor_us:
            # Refuse BEFORE mutating state: raw points below the floor
            # are gone, so a new width's pre-floor buckets are primary
            # data that never existed — and registering the width first
            # would leave a phantom entry whose table can never be
            # built, failing every later rebuild.
            raise ValueError(
                f"cannot enable a new rollup width {every_us} after "
                f"retention (floor {self.retention_floor_us}): its "
                "pre-floor aggregates are primary data that cannot be "
                "rebuilt from dropped raw points"
            )
        self.rollup_widths = sorted(self.rollup_widths + [every_us])
        if self._log.latest_version() is not None:
            self._write_meta(force=True)
            self.rollup_rebuild(every_us)

    def _rollup_partials(self, pts: DataFrame, every_us: int) -> DataFrame:
        every = F.lit(every_us)
        return pts.groupBy(
            "series", (F.col("ts") - F.pmod(F.col("ts"), every)).alias("bucket_us")
        ).agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * F.lit(float(ROLLUP_SCALE)) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("sum_scaled"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )

    def _rollup_merge_partials(
        self, partials: DataFrame, every_us: int
    ) -> DataFrame:
        """Partials at a COARSER nesting width (or the same width, which
        just merges rows) from finer partials (every_us must be a
        multiple of the finer width). Exact by the same associativity
        argument as the read-path merge: n and sum_scaled are longs,
        min/max are order-free — for ts = qW + r with W % f == 0,
        (ts - ts%f) re-bucketed at W lands on qW, the same bucket the
        point maps to directly."""
        every = F.lit(every_us)
        return partials.groupBy(
            "series",
            (F.col("bucket_us") - F.pmod(F.col("bucket_us"), every)).alias(
                "bucket_us"
            ),
        ).agg(
            F.sum("n").alias("n"),
            F.sum("sum_scaled").alias("sum_scaled"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )

    def rollup(
        self,
        ids: Sequence[str] = (),
        *,
        ts_from: int | None = None,
        ts_to: int | None = None,
        every_us: int | None = None,
    ) -> DataFrame:
        """Merged rollup view at ``every_us`` (default: the finest
        enabled width): (series, bucket_us, n, value_sum, value_min,
        value_max, value_mean), optionally filtered. The only work is a
        hash aggregate over the (small) partial rows."""
        if not self.rollup_widths:
            raise ValueError("rollup not enabled; call enable_rollup()")
        every = every_us or self.rollup_every_us
        if every not in self.rollup_widths:
            raise ValueError(f"no rollup at width {every}; enabled: {self.rollup_widths}")
        if not os.path.exists(self._rollup_dir(every)):
            self.rollup_rebuild(every)  # derived data: absence just means rebuild
        log = self._rollup_log(every)
        df = self._scan(log, ROLLUP_SCHEMA, log.files())
        if ids:
            df = df.where(F.col("series").isin(list(ids)))
        if ts_from is not None:
            df = df.where(F.col("bucket_us") >= ts_from - ts_from % every)
        if ts_to is not None:
            df = df.where(F.col("bucket_us") <= ts_to)
        merged = self._rollup_merge_partials(df, every)
        s = F.col("sum_scaled").cast("double") / F.lit(float(ROLLUP_SCALE))
        return merged.select(
            "series",
            "bucket_us",
            "n",
            s.alias("value_sum"),
            F.col("vmin").alias("value_min"),
            F.col("vmax").alias("value_max"),
            (s / F.col("n")).alias("value_mean"),
        )

    def rollup_rebuild(self, every_us: int | None = None) -> None:
        """Full refresh from the points store (after delete, or when a
        rollup table is lost); None refreshes every enabled width. Each
        width is replaced by one commit, which raises ``CommitConflict``
        if a rollup append landed since it read the width's table."""
        floor = self.retention_floor_us
        with self.reading():
            if self._log.latest_version() is None:
                return
            for every in [every_us] if every_us else self.rollup_widths:
                if floor and not os.path.exists(self._rollup_dir(every)):
                    raise ValueError(
                        f"rollup table for width {every} is missing but the "
                        f"retention floor is {floor}: the pre-floor "
                        "aggregates are primary data and cannot be rebuilt "
                        "from raw points (they were dropped). Restore the "
                        "rollup table from backup, or enable this width "
                        "before applying retention."
                    )
                log = self._rollup_log(every)
                head = log.latest_version()
                old = [] if head is None else log.files(head)
                pts = self.points()
                if floor:
                    # Below the retention floor the rollup rows are
                    # PRIMARY data (their raw points were dropped by
                    # apply_retention) — they cannot be recomputed, only
                    # carried forward. Raw points, if any remain below
                    # the floor mid-retention, are excluded so nothing
                    # double-counts.
                    pts = pts.where(F.col("ts") >= floor)
                fresh = self._rollup_partials(pts, every)
                if floor:
                    kept = self._scan(log, ROLLUP_SCHEMA, old)
                    fresh = kept.where(F.col("bucket_us") < floor).unionByName(fresh)
                log._commit(
                    "overwrite",
                    log._write_files(fresh),
                    [fe.path for fe in old],
                    None,
                    {},
                    expected_version=0 if head is None else head + 1,
                    retry_append=False,
                )
                self._retire(log, old)

    def apply_retention(self, older_than_us: int) -> None:
        """Data-lifecycle retention (the TimescaleDB drop_chunks +
        continuous-aggregate pattern): DROP raw points with
        ``ts < older_than_us`` while the rollup aggregates over the
        dropped range stay queryable forever — at 100 TB this is the
        difference between storing raw telemetry for 30 days vs 5
        years of hourly aggregates in a fraction of the footprint.

        Contract:
        - requires at least one enabled rollup width, and the cutoff
          must be bucket-ALIGNED to every enabled width (no bucket may
          straddle the cutoff, or its partial would mix dropped and
          kept points);
        - rollups are consolidated and materialized for every width
          BEFORE any raw row is dropped;
        - below the new floor, rollup rows become PRIMARY data:
          ``rollup_rebuild`` carries them forward instead of
          recomputing (and refuses to run if the rollup table
          vanished); ``enable_rollup`` for a NEW width after retention
          refuses for the same reason;
        - raw reads (last/first/since/range) only see ``ts >= cutoff``
          afterwards; ``aggregate_range`` keeps answering over the
          dropped range from the rollup route.

        Retention is monotone: a second call must not lower the floor.
        """
        if not self.rollup_widths:
            raise ValueError(
                "retention requires an enabled rollup: the dropped raw "
                "points' aggregates must live somewhere (enable_rollup())"
            )
        if older_than_us <= 0:
            raise ValueError(f"retention cutoff must be positive: {older_than_us}")
        if older_than_us < self.retention_floor_us:
            raise ValueError(
                f"retention floor cannot move backwards: have "
                f"{self.retention_floor_us}, got {older_than_us}"
            )
        misaligned = [w for w in self.rollup_widths if older_than_us % w]
        if misaligned:
            raise ValueError(
                f"retention cutoff {older_than_us} is not bucket-aligned to "
                f"enabled rollup widths {misaligned}: a straddling bucket "
                "would mix dropped and kept points"
            )
        if self._log.latest_version() is None:
            return
        # materialize every width from the still-complete raw store,
        # then pin the floor BEFORE dropping rows (a crash between the
        # two leaves a too-early floor and intact raw — safe; the
        # reverse order could drop raw with no aggregate anywhere)
        self.rollup_rebuild()
        self.retention_floor_us = older_than_us
        self._write_meta(force=True)
        self.delete((), -(2**62), older_than_us - 1)

    def _rollup_consolidate(self) -> None:
        """Merge accumulated per-append delta rows to one row per
        (series, bucket) in every width: the rollup's own compaction,
        one commit per width that keeps concurrently appended partials."""
        with self.reading():
            for every in self.rollup_widths:
                if not os.path.exists(self._rollup_dir(every)):
                    continue
                log = self._rollup_log(every)
                head = log.latest_version()
                if head is None:
                    continue
                old = log.files(head)
                merged = self._rollup_merge_partials(
                    self._scan(log, ROLLUP_SCHEMA, old), every
                )
                log._commit_rebasing(
                    "compact",
                    log._write_files(merged),
                    [fe.path for fe in old],
                    None,
                    {},
                    base_head=head,
                )
                self._retire(log, old)

    # -- compaction (A4 analogue) -------------------------------------------

    def compact(self, *, files_per_bucket: int = 1) -> None:
        """Overlap-merge compaction analogue: rewrite every bucket into
        (series, ts)-sorted files. Read-result invariance is the pinned
        test. On a cluster this is the scheduled OPTIMIZE job.

        ``files_per_bucket`` bounds output file size at scale: rows
        split deterministically by series hash within each bucket, so
        each file still holds contiguous (series, ts) runs and row-group
        pruning stays tight. Appends between compactions create small
        files; this job re-tightens the layout. One commit swaps the
        whole store; appends that land meanwhile stay live."""
        with self.reading():
            head = self._log.latest_version()
            files = [] if head is None else self._log.files(head)
            if not files:
                return  # empty store: nothing to compact
            store = self._partitioned(self._scan(self._log, POINT_SCHEMA, files))
            if files_per_bucket > 1:
                split = F.pmod(F.xxhash64("series"), F.lit(files_per_bucket))
                out = store.repartition(
                    self.num_buckets * files_per_bucket, "bucket", split
                )
            else:
                out = store.repartition("bucket")
            self._rewrite("compact", head, files, out)
            self._rollup_consolidate()
