"""TimeSeriesEngine store tests: ingest round-trip, bucket pruning,
delete rewrite, compaction invariance, index manifest."""

from __future__ import annotations

import pytest

from nibbledb_spark.schema import ValidationError
from tests.conftest import BUTTERFLIES, HONEYBEES

WIRE_BUTTERFLIES = [
    {"timestamp": t, "tag": [{k: v} for k, v in tag.items()], "value": v_}
    for (_, t, tag, v_) in BUTTERFLIES
]


def test_write_read_roundtrip(engine):
    n = engine.write("butterflies", WIRE_BUTTERFLIES)
    assert n == 8
    assert engine.length(["butterflies"]) == 8
    got = engine.last(["butterflies"], 2).collect()
    assert [r["value"] for r in got] == [7.0, 8.0]
    assert got[0]["tag"]["scientist"] == "perpetua"


def test_single_point_and_server_ts(engine):
    engine.write("s1", {"value": 42})
    row = engine.latest(["s1"]).collect()[0]
    assert row["value"] == 42.0
    assert row["ts"] > 1_700_000_000_000_000  # server-assigned µs epoch


def test_strict_mode_rejects_reordered_fields(spark, tmp_path):
    from nibbledb_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark, str(tmp_path / "s"), strict_ingest=True)
    with pytest.raises(ValidationError):  # Q3: {value, timestamp} order rejected
        eng.write("s", {"value": 1, "timestamp": 1439856000000000})
    eng.write("s", {"timestamp": 1439856000000000, "value": 1})  # canonical order ok


def test_lenient_mode_accepts_any_order(engine):
    engine.write("s", {"value": 1, "timestamp": 1439856000000000})
    assert engine.length(["s"]) == 1


def test_unknown_key_rejected(engine):
    with pytest.raises(ValidationError):
        engine.write("s", {"value": 1, "bogus": 2})


def test_multi_series_isolation_and_names(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    engine.write("honeybees", [{"timestamp": t, "value": v} for (_, t, _, v) in HONEYBEES])
    assert engine.names() == ["butterflies", "honeybees"]
    assert engine.length(["butterflies"]) == 8
    assert engine.length(["butterflies", "honeybees"]) == 16
    assert engine.length() == 16
    st = {r["series"]: r["length"] for r in engine.stats().collect()}
    assert st == {"butterflies": 8, "honeybees": 8}


def test_no_dedup_on_reingest(engine):
    # Q6: re-POSTing duplicates
    engine.write("s", [{"timestamp": 1, "value": 5}])
    engine.write("s", [{"timestamp": 1, "value": 5}])
    assert engine.length(["s"]) == 2


def test_delete_range_precise(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    engine.delete(["butterflies"], 1439856000000000, 1439856360000000)
    assert engine.length(["butterflies"]) == 4
    remaining = {r["ts"] for r in engine.points(["butterflies"]).collect()}
    assert min(remaining) > 1439856360000000


def test_delete_tag_filtered_vs_compat(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    # precise: only perpetua points at T0 go
    engine.delete(
        ["butterflies"],
        1439856000000000,
        1439856000000000,
        tag_names=["scientist"],
        tag_values=["perpetua"],
    )
    assert engine.length(["butterflies"]) == 7


def test_delete_compat_membership(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    engine.delete(
        ["butterflies"],
        1439856000000000,
        1439856000000000,
        tag_names=["scientist"],
        tag_values=["perpetua"],
        compat_membership=True,
    )
    # Q2: the same-ts langstroth point dies too
    assert engine.length(["butterflies"]) == 6


def test_delete_does_not_touch_other_series(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    engine.write("honeybees", [{"timestamp": t, "value": v} for (_, t, _, v) in HONEYBEES])
    engine.delete(["butterflies"], 0)
    assert engine.length(["butterflies"]) == 0
    assert engine.length(["honeybees"]) == 8


def test_compaction_invariance(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES[:4])
    engine.write("butterflies", WIRE_BUTTERFLIES[4:])
    before = sorted(
        (r["series"], r["ts"], r["value"]) for r in engine.points().collect()
    )
    engine.compact()
    after = sorted(
        (r["series"], r["ts"], r["value"]) for r in engine.points().collect()
    )
    assert before == after


def test_index_manifest(engine):
    engine.write("butterflies", WIRE_BUTTERFLIES)
    idx = engine.index(["butterflies"]).collect()
    assert engine.index_length(["butterflies"]) == len(idx)
    assert sum(r["n"] for r in idx) == 8
    assert min(r["t_min"] for r in idx) == 1439856000000000
    assert max(r["t_max"] for r in idx) == 1439878320000000


def test_compaction_file_sizing(spark, engine):
    """Appends create one file per bucket per write; compact() merges
    them, and files_per_bucket>1 splits deterministically by series hash
    (file-size bound at scale) — results invariant throughout. Live
    files are counted from the manifest."""
    for i in range(4):  # 4 small appends
        engine.write("butterflies", WIRE_BUTTERFLIES[2 * i : 2 * i + 2])
    engine.write("honeybees", [{"timestamp": t, "value": v} for (_, t, _, v) in HONEYBEES])

    def n_files():
        return len(engine._log.files())

    before_rows = sorted(
        (r["series"], r["ts"], r["value"]) for r in engine.points().collect()
    )
    many = n_files()
    engine.compact()
    assert n_files() < many  # small files merged (one per live bucket)
    engine.compact(files_per_bucket=2)
    assert sorted(
        (r["series"], r["ts"], r["value"]) for r in engine.points().collect()
    ) == before_rows


def test_store_bucket_count_is_sticky(spark, tmp_path):
    """Reopening a store with a different num_buckets must not silently
    prune the wrong buckets: the store's own metadata wins."""
    from nibbledb_spark.engine import TimeSeriesEngine

    path = str(tmp_path / "sticky")
    eng = TimeSeriesEngine(spark, path, num_buckets=8)
    eng.write("butterflies", WIRE_BUTTERFLIES)

    reopened = TimeSeriesEngine(spark, path, num_buckets=32)  # wrong arg
    assert reopened.num_buckets == 8  # metadata overrides
    assert reopened.length(["butterflies"]) == 8
    assert reopened.last(["butterflies"], 1).count() == 1


def _parquet_under(path):
    import os

    return {
        os.path.relpath(os.path.join(d, n), path)
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    }


def _two_bucket_engine(spark, path):
    """An engine whose series s1 and s2 hash to different buckets."""
    from nibbledb_spark.engine import TimeSeriesEngine

    eng = TimeSeriesEngine(spark, path, num_buckets=4)
    ids = [f"s{i}" for i in range(1, 20)]
    second = next(s for s in ids if eng._bucket_py(s) != eng._bucket_py("s1"))
    eng.write("s1", [{"timestamp": 1000 + i, "value": float(i)} for i in range(8)])
    eng.write(second, [{"timestamp": 2000 + i, "value": float(i)} for i in range(8)])
    return eng, ["s1", second]


def test_delete_failing_before_commit_keeps_every_row(spark, tmp_path, monkeypatch):
    """A delete across two buckets that fails after writing its new
    files and before its commit changes nothing: every row stays
    readable, through this engine and a reopened one."""
    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.snapshots import SnapshotLog

    store = str(tmp_path / "store")
    eng, ids = _two_bucket_engine(spark, store)
    before = sorted(eng.points().collect())
    written = []
    real_write = SnapshotLog._write_files

    def record(self, *a, **k):
        out = real_write(self, *a, **k)
        written.extend(out)
        return out

    def crash(self, *a, **k):
        assert written, "the delete's files are written before its commit"
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(SnapshotLog, "_write_files", record)
    monkeypatch.setattr(SnapshotLog, "_commit_rebasing", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        eng.delete(ids, 1000, 2003)
    monkeypatch.undo()
    assert sorted(eng.points().collect()) == before
    assert sorted(TimeSeriesEngine(spark, store).points().collect()) == before


def test_read_resolved_before_delete_sees_old_rows(spark, tmp_path):
    """A read planned before a delete commits and collected after it
    returns the old snapshot's rows without error; the replaced files
    go once the read is done."""
    eng, ids = _two_bucket_engine(spark, str(tmp_path / "store"))
    with eng.reading():
        old = eng.points(ids)
        eng.delete(ids, 1000, 2003)
        assert old.count() == 16
        assert eng.length(ids) == 4
    live = {fe.path for fe in eng._log.files()}
    assert _parquet_under(eng.path) == live


def test_flush_during_delete_survives(spark, tmp_path, monkeypatch):
    """A flush into a bucket that a delete is rewriting, landing after
    the delete read its survivors, stays in the store."""
    from pyspark.sql.readwriter import DataFrameWriter

    eng, ids = _two_bucket_engine(spark, str(tmp_path / "store"))
    real_parquet = DataFrameWriter.parquet
    state = {"armed": True}

    def parquet(self, *a, **k):
        real_parquet(self, *a, **k)
        if state.pop("armed", False):  # the delete's own write, once
            eng.write("s1", [{"timestamp": 5000, "value": 1.0}])

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    eng.delete(["s1"], 1000, 1003)
    monkeypatch.undo()
    assert not state
    assert sorted(r["ts"] for r in eng.points(["s1"]).collect()) == [
        1004, 1005, 1006, 1007, 5000
    ]


def test_rewrites_leave_no_unreferenced_files(spark, tmp_path):
    """After a delete and a compact with no read in flight, every
    .parquet under the store — points and rollup tables — is a live
    file of its table's manifest."""
    import os

    eng, ids = _two_bucket_engine(spark, str(tmp_path / "store"))
    eng.enable_rollup(3_600_000_000)
    eng.write(ids[1], [{"timestamp": 3000 + i, "value": float(i)} for i in range(4)])

    def live():
        logs = [eng._log] + [eng._rollup_log(w) for w in eng.rollup_widths]
        return {
            os.path.relpath(os.path.join(log.root, fe.path), eng.path)
            for log in logs
            for fe in log.files()
        }

    eng.delete(["s1"], 1000, 1002)
    assert eng.length(["s1"]) == 5 and eng.length([ids[1]]) == 12
    assert _parquet_under(eng.path) == live()
    eng.compact()
    assert eng.length(["s1"]) == 5 and eng.length([ids[1]]) == 12
    assert _parquet_under(eng.path) == live()


def test_bucket_directory_store_without_log_is_refused(spark, tmp_path):
    from nibbledb_spark.engine import TimeSeriesEngine

    (tmp_path / "old" / "bucket=0" / "day=1").mkdir(parents=True)
    with pytest.raises(ValueError, match="no snapshot log"):
        TimeSeriesEngine(spark, str(tmp_path / "old"))


def test_failed_meta_rewrite_keeps_bucket_count(spark, tmp_path, monkeypatch):
    """A failure while enable_rollup rewrites the store's metadata must
    leave the old metadata whole: a reopen with the wrong bucket count
    still reads every row."""
    import json

    from nibbledb_spark.engine import TimeSeriesEngine

    path = str(tmp_path / "meta")
    eng = TimeSeriesEngine(spark, path, num_buckets=8)
    eng.write("butterflies", WIRE_BUTTERFLIES)
    real_dump = json.dump

    def dump(obj, fp, *a, **k):
        if "_nibbledb_meta.json" in getattr(fp, "name", ""):
            raise OSError("disk full")
        return real_dump(obj, fp, *a, **k)

    monkeypatch.setattr(json, "dump", dump)
    with pytest.raises(OSError, match="disk full"):
        eng.enable_rollup(3_600_000_000)
    monkeypatch.undo()
    reopened = TimeSeriesEngine(spark, path, num_buckets=32)  # wrong arg
    assert reopened.num_buckets == 8
    assert reopened.length(["butterflies"]) == 8


# ---------------------------------------------------------------------------
# continuous-aggregate rollup (hypertable-rollup analogue)
# ---------------------------------------------------------------------------


def _recompute_rollup(eng):
    """Ground truth: full aggregate over the raw points, same scaled-long
    arithmetic as the maintained rollup."""
    from pyspark.sql import functions as F

    every = eng.rollup_every_us
    pts = eng.points()
    s = F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long"))
    return {
        (r["series"], r["bucket_us"]): (
            r["n"], r["value_sum"], r["value_min"], r["value_max"], r["value_mean"]
        )
        for r in pts.groupBy(
            "series", (F.col("ts") - F.pmod(F.col("ts"), F.lit(every))).alias("bucket_us")
        )
        .agg(
            F.count("*").alias("n"),
            (s.cast("double") / 1e6).alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            (s.cast("double") / 1e6 / F.count("*")).alias("value_mean"),
        )
        .collect()
    }


def _rollup_dict(eng, **kw):
    return {
        (r["series"], r["bucket_us"]): (
            r["n"], r["value_sum"], r["value_min"], r["value_max"], r["value_mean"]
        )
        for r in eng.rollup(**kw).collect()
    }


def test_rollup_incremental_equals_recompute(spark, tmp_path):
    """The write-time-maintained rollup must be BIT-IDENTICAL to a full
    recompute after multiple appends, after delete (rebuild), and after
    compact (consolidation) — scaled-long partials make merge order
    irrelevant."""
    from nibbledb_spark.engine import DAY_US, TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    eng.enable_rollup(3_600_000_000)  # 1h buckets
    t0 = 1_439_856_000_000_000
    for batch in range(3):
        rows = [
            (f"s{i}", t0 + batch * DAY_US + j * 600_000_000, None, float(i + j) / 7)
            for i in range(3)
            for j in range(20)
        ]
        eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))
    assert _rollup_dict(eng) == _recompute_rollup(eng)

    # filtered read: only s1's buckets inside the window
    win = _rollup_dict(eng, ids=["s1"], ts_from=t0 + DAY_US, ts_to=t0 + 2 * DAY_US)
    assert win and all(k[0] == "s1" for k in win)
    full = _recompute_rollup(eng)
    assert all(full[k] == v for k, v in win.items())

    eng.delete(["s1"], t0, t0 + DAY_US)  # forces the derived-table rebuild
    assert _rollup_dict(eng) == _recompute_rollup(eng)

    eng.compact()  # consolidates delta rows to one per (series, bucket)
    assert _rollup_dict(eng) == _recompute_rollup(eng)
    df = eng._rollup_log(eng.rollup_every_us).read()
    assert df.count() == df.select("series", "bucket_us").distinct().count()

    # rollup is derived data: losing its table is repaired on next read
    import shutil
    shutil.rmtree(eng._rollup_dir(eng.rollup_every_us))
    assert _rollup_dict(eng) == _recompute_rollup(eng)

    # the width survives reopen via store meta
    eng2 = TimeSeriesEngine(spark, str(tmp_path / "store"))
    assert eng2.rollup_every_us == 3_600_000_000
    assert _rollup_dict(eng2) == _recompute_rollup(eng2)


def test_aggregate_range_routes_to_rollup_when_aligned(spark, tmp_path):
    """Materialized-view routing: a bucket-aligned range aggregate is
    answered from the rollup (and matches the raw scan); unaligned
    windows, non-mergeable aggs, and rollup-disabled stores fall back."""
    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    H = 3_600_000_000
    t0 = 1_439_856_000_000_000  # hour-aligned
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    eng.enable_rollup(H)
    rows = [
        ("a", t0 + j * 600_000_000, None, float(j % 8) * 0.25) for j in range(36)
    ] + [("b", t0 + j * 600_000_000, None, 2.0) for j in range(36)]
    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))

    aligned = (t0 + H, t0 + 4 * H - 1)
    for agg in ("sum", "count", "min", "max", "mean"):
        got = eng.aggregate_range(["a"], *aligned, agg)
        assert eng._last_agg_source == "rollup", agg
        want = eng.aggregate(["a"], agg, eng.range(["a"], *aligned))
        assert got == want, (agg, got, want)

    # unaligned window falls back to the raw scan and still matches
    got = eng.aggregate_range(["a"], t0 + H, t0 + 4 * H, "sum")
    assert eng._last_agg_source == "points"
    assert got == eng.aggregate(["a"], "sum", eng.range(["a"], t0 + H, t0 + 4 * H))

    # non-mergeable aggregate always scans raw
    eng.aggregate_range(["a"], *aligned, "median")
    assert eng._last_agg_source == "points"

    # empty routed selection keeps the A24 shaping
    assert eng.aggregate_range(["zz"], *aligned, "sum") == {"sum": 0.0}
    assert eng.aggregate_range(["zz"], *aligned, "mean") == {}
    assert eng._last_agg_source == "rollup"


def test_multi_width_rollup_hierarchy_and_routing(spark, tmp_path):
    """Hour + day rollups coexist; each width matches its recompute, and
    range-aggregate routing picks the COARSEST aligned width (day for a
    day-aligned window, hour for an hour-but-not-day-aligned one)."""
    from nibbledb_spark.engine import DAY_US, TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    H = 3_600_000_000
    t0 = 1_439_856_000_000_000  # day-aligned
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    eng.enable_rollup(H)
    eng.enable_rollup(DAY_US)
    rows = [
        ("a", t0 + j * 1_800_000_000, None, float(j % 5)) for j in range(96)
    ]  # 2 days at 30min cadence
    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))

    hourly = eng.rollup(every_us=H).collect()
    daily = eng.rollup(every_us=DAY_US).collect()
    assert len(hourly) == 48 and len(daily) == 2
    assert sum(r["n"] for r in hourly) == sum(r["n"] for r in daily) == 96

    got = eng.aggregate_range(["a"], t0, t0 + 2 * DAY_US - 1, "sum")
    assert eng._last_agg_width == DAY_US
    got_h = eng.aggregate_range(["a"], t0 + H, t0 + 5 * H - 1, "sum")
    assert eng._last_agg_width == H
    raw = eng.aggregate(["a"], "sum", eng.range(["a"], t0 + H, t0 + 5 * H - 1))
    assert got_h == raw
    assert got == eng.aggregate(["a"], "sum", eng.range(["a"], t0, t0 + 2 * DAY_US - 1))

    # widths survive reopen
    eng2 = TimeSeriesEngine(spark, str(tmp_path / "store"))
    assert eng2.rollup_widths == [H, DAY_US]


def test_retention_drops_raw_keeps_rollup_aggregates(spark, tmp_path):
    """apply_retention (the drop_chunks + continuous-aggregate
    lifecycle): raw points below the cutoff disappear from every raw
    read, while bucket-aligned range aggregates over the dropped range
    keep answering EXACTLY from the rollup; the floor survives reopen;
    later deletes/compactions/rebuilds never lose the pre-floor
    aggregates (they are primary data now); the guard rails (no
    rollup, misaligned cutoff, backwards floor, lost rollup dir,
    enabling a new width post-retention) all refuse loudly."""
    import os
    import shutil

    import pytest

    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA

    HOUR = 3_600_000_000
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    rows = [
        (f"s{i}", h * HOUR + j * 600_000_000, None, float(i * 100 + h * 10 + j))
        for i in range(2)
        for h in range(4)
        for j in range(6)
    ]
    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))

    with pytest.raises(ValueError, match="rollup"):
        eng.apply_retention(2 * HOUR)  # no rollup enabled yet

    eng.enable_rollup(HOUR)
    ids = ["s0", "s1"]
    pre_sum = eng.aggregate_range(ids, 0, 2 * HOUR - 1, "sum")
    pre_mean = eng.aggregate_range(ids, 0, 2 * HOUR - 1, "mean")
    pre_cnt = eng.aggregate_range(ids, 0, 2 * HOUR - 1, "count")
    n_total = eng.length(ids)

    with pytest.raises(ValueError, match="aligned"):
        eng.apply_retention(2 * HOUR + 5)

    eng.apply_retention(2 * HOUR)

    # raw reads only see the live range
    assert eng.length(ids) == n_total // 2
    assert eng.earliest(ids).collect()[0]["ts"] == 2 * HOUR
    assert eng.range(ids, 0, 2 * HOUR - 1).count() == 0

    # dropped-range aggregates still answer, exactly, from the rollup
    for agg, pre in (("sum", pre_sum), ("mean", pre_mean), ("count", pre_cnt)):
        assert eng.aggregate_range(ids, 0, 2 * HOUR - 1, agg) == pre
        assert eng._last_agg_source == "rollup"

    # floor survives reopen
    eng2 = TimeSeriesEngine(spark, str(tmp_path / "store"))
    assert eng2.retention_floor_us == 2 * HOUR
    assert eng2.aggregate_range(ids, 0, 2 * HOUR - 1, "sum") == pre_sum

    # a live-range delete triggers a rebuild — pre-floor rows must survive
    eng.delete(["s0"], 3 * HOUR, 4 * HOUR)
    assert eng.aggregate_range(ids, 0, 2 * HOUR - 1, "sum") == pre_sum
    eng.compact()
    assert eng.aggregate_range(ids, 0, 2 * HOUR - 1, "sum") == pre_sum

    # monotone floor; post-retention new widths refuse (nothing to
    # rebuild the dropped range from)
    with pytest.raises(ValueError, match="backwards"):
        eng.apply_retention(HOUR)
    with pytest.raises(ValueError, match="primary data"):
        eng.enable_rollup(2 * HOUR)

    # a raw fallback into the dropped range must refuse, not silently
    # aggregate over absent rows (round-11 review find): unaligned
    # window / non-mergeable agg below the floor both raise
    with pytest.raises(ValueError, match="retention floor"):
        eng.aggregate_range(ids, 0, 2 * HOUR - 2, "sum")  # unaligned end
    with pytest.raises(ValueError, match="retention floor"):
        eng.aggregate_range(ids, 0, 2 * HOUR - 1, "median")  # unmergeable
    # ...but live-range raw fallbacks still work
    assert eng.aggregate_range(ids, 2 * HOUR, 3 * HOUR - 2, "median")

    # a lost rollup dir is no longer self-healing: it held primary data
    shutil.rmtree(eng._rollup_dir(HOUR))
    with pytest.raises(ValueError, match="primary data"):
        eng.rollup_rebuild(HOUR)
    assert not os.path.exists(eng._rollup_dir(HOUR))


def test_failed_rollup_rewrite_keeps_pre_floor_aggregates(spark, tmp_path, monkeypatch):
    """After retention the pre-floor rollup rows are primary data. A
    rollup rewrite (rebuild or consolidation) that fails after writing
    its new files and before they become visible must leave them
    answering."""
    from nibbledb_spark.engine import TimeSeriesEngine
    from nibbledb_spark.schema import POINT_SCHEMA
    from nibbledb_spark.snapshots import SnapshotLog

    HOUR = 3_600_000_000
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=2)
    eng.enable_rollup(HOUR)
    rows = [("s", h * HOUR + j * 600_000_000, None, float(h * 10 + j))
            for h in range(4) for j in range(6)]
    eng.append_points(spark.createDataFrame(rows, POINT_SCHEMA))
    eng.apply_retention(2 * HOUR)
    pre = eng.aggregate_range(["s"], 0, 2 * HOUR - 1, "sum")
    assert pre == {"sum": float(sum(h * 60 + 15 for h in range(2)))}

    rollup_root = eng._rollup_log(HOUR).root
    real = {n: getattr(SnapshotLog, n) for n in ("_commit", "_commit_rebasing")}

    def failing(name):
        def commit(self, *a, **k):
            if self.root == rollup_root:
                raise RuntimeError("crash before the rollup commit")
            return real[name](self, *a, **k)
        return commit

    for name in real:
        monkeypatch.setattr(SnapshotLog, name, failing(name))
    for rewrite in (eng.rollup_rebuild, eng.compact):
        with pytest.raises(RuntimeError, match="crash before the rollup commit"):
            rewrite()
        assert eng.aggregate_range(["s"], 0, 2 * HOUR - 1, "sum") == pre
    monkeypatch.undo()
    assert TimeSeriesEngine(spark, eng.path).aggregate_range(
        ["s"], 0, 2 * HOUR - 1, "sum") == pre
