"""Scale toolkit tests: bucketed co-located joins eliminate exchanges;
salted joins produce identical results to plain joins while spreading a
hot key across tasks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nibbledb_spark.plans.scale import (
    bucket_table,
    exchange_count,
    plan_string,
    salted_join,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def bucketed(spark):
    # warehouse.dir is static config — tables land in the session default
    # (./spark-warehouse); dropped again below
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    bucket_table(li, "li_b", ["l_orderkey"], 8)
    bucket_table(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_b",
        ["l_orderkey"],
        8,
    )
    yield li, orders
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_bucketed_join_has_no_exchange(spark, bucketed):
    li, orders = bucketed
    a = spark.table("li_b")
    b = spark.table("ord_b")
    joined = a.join(b, "l_orderkey")
    assert exchange_count(joined) == 0  # co-located: no shuffle either side
    # and it's still correct
    plain = li.join(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"
    )
    assert joined.count() == plain.count()


def test_bucketed_aggregation_has_no_exchange(spark, bucketed):
    grouped = spark.table("li_b").groupBy("l_orderkey").agg(F.sum("l_quantity"))
    assert exchange_count(grouped) == 0  # bucketing satisfies the distribution


def test_salted_join_matches_plain_join(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{SF}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_name"
    )
    plain = li.join(part, "l_partkey")
    salted = salted_join(li, part, ["l_partkey"], salt=8)
    assert salted.count() == plain.count()
    # spot-check content equality on an aggregate
    agg = lambda df: sorted(  # noqa: E731
        (r["l_partkey"], r["n"], round(r["q"], 6))
        for r in df.groupBy("l_partkey")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        .collect()
    )
    assert agg(salted) == agg(plain)


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame(
        [("a", 1), ("a", 2), ("zz", 3)], "k string, v int"
    )
    right = spark.createDataFrame([("a", 10.0)], "k string, w double")
    out = salted_join(left, right, ["k"], salt=4, how="left")
    rows = sorted((r["k"], r["v"], r["w"]) for r in out.collect())
    assert rows == [("a", 1, 10.0), ("a", 2, 10.0), ("zz", 3, None)]


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Write the same (x, y) grid linearly sorted and Z-ordered into two
    snapshot logs; file stats must prune a trailing-dimension predicate
    only under Z-order (linear layout: every file spans all of y)."""
    from nibbledb_spark.plans.scale import zorder_key
    from nibbledb_spark.snapshots import SnapshotLog

    n_files = 16
    grid = spark.range(256 * 256).selectExpr(
        "CAST(id % 256 AS INT) AS x", "CAST(id DIV 256 AS INT) AS y"
    )
    linear = SnapshotLog(spark, str(tmp_path / "lin"), stats_cols=("x", "y"))
    # optimize_write=False: these appends' multi-file layout IS the
    # point (per-file stats pruning); optimizeWrite would coalesce the
    # small grid into one file — the documented opt-out for clustered
    # writes, same contract as Delta's optimizeWrite toggle
    linear.append(
        grid.repartitionByRange(n_files, "x", "y").sortWithinPartitions("x", "y"),
        optimize_write=False,
    )
    zed = SnapshotLog(spark, str(tmp_path / "zed"), stats_cols=("x", "y"))
    zkey = zorder_key(["x", "y"], bits=8)
    zed.append(
        grid.withColumn("__z", zkey)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z"),
        optimize_write=False,
    )
    bounds = {"y": (0, 31)}  # trailing dimension only
    lin_frac = len(linear.files(bounds=bounds)) / len(linear.files())
    zed_frac = len(zed.files(bounds=bounds)) / len(zed.files())
    assert lin_frac == 1.0, "linear layout cannot prune on y"
    assert zed_frac <= 0.5, f"z-order should prune most files, kept {zed_frac}"
    # and the leading dimension still prunes under z-order too
    assert len(zed.files(bounds={"x": (0, 31)})) < len(zed.files())
    # pruned read + residual filter stays correct
    got = zed.read(bounds=bounds).where("y BETWEEN 0 AND 31").count()
    assert got == 256 * 32


def test_runtime_bloom_filter_injection(spark):
    """Row-level runtime filtering (the non-partition-column sibling of
    DPP): when a shuffle join's build side carries a selective filter,
    Catalyst injects a bloom-filter semi-filter into the probe side's
    scan, cutting shuffle volume before the join. Off at bench SF purely
    by size thresholds (application side must be scan-heavy — correct:
    the filter only pays for itself at scale); lowering the thresholds
    proves the path works so a 100 TB deployment gets it for free."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").where(
            "o_orderpriority = '1-URGENT'"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan
        # and the filter is transparent to results
        n = joined.count()
        for k, v in confs.items():
            spark.conf.set(k, saved[k])
        assert n == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_compact_zorder_by_enables_trailing_dim_pruning(spark, tmp_path):
    """compact(zorder_by=...) is the OPTIMIZE ZORDER path: a table whose
    files were appended linearly (no y locality) becomes prunable on the
    trailing dimension after one clustered compaction, read-results
    invariant."""
    from nibbledb_spark.snapshots import SnapshotLog

    grid = spark.range(256 * 256).selectExpr(
        "CAST(id % 256 AS INT) AS x", "CAST(id DIV 256 AS INT) AS y"
    )
    tbl = SnapshotLog(spark, str(tmp_path / "opt"), stats_cols=("x", "y"))
    tbl.append(
        grid.repartitionByRange(16, "x", "y").sortWithinPartitions("x", "y")
    )
    bounds = {"y": (0, 31)}
    assert len(tbl.files(bounds=bounds)) == len(tbl.files())  # linear: no prune
    before = tbl.read().selectExpr("sum(x) AS sx", "sum(y) AS sy").collect()[0]
    tbl.compact(target_files=16, zorder_by=("x", "y"))
    assert tbl.history()[0]["op"] == "compact"
    kept = len(tbl.files(bounds=bounds)) / len(tbl.files())
    assert kept <= 0.5, f"z-order compaction should prune most files, kept {kept}"
    assert len(tbl.files(bounds={"x": (0, 31)})) < len(tbl.files())
    after = tbl.read().selectExpr("sum(x) AS sx", "sum(y) AS sy").collect()[0]
    assert (before["sx"], before["sy"]) == (after["sx"], after["sy"])
    got = tbl.read(bounds=bounds).where("y BETWEEN 0 AND 31").count()
    assert got == 256 * 32


def test_compact_hilbert_prunes_tighter_than_zorder(spark, tmp_path):
    """compact(cluster='hilbert') vs the Z-order default on the same
    256x256 grid into 16 files: identical read results, and the
    Hilbert layout touches STRICTLY fewer files — over the 16 aligned
    quadrant boxes (measured: 32 vs 48 total file hits) and on every
    axis slab — because every Hilbert unit step is a spatial unit
    step, so each file covers one tight rectangle where Z-order's
    jumps stretch file bounding boxes. Also pins the strategy guardrails
    (unknown strategy, wrong column count) and the history metadata."""
    from nibbledb_spark.snapshots import SnapshotLog

    grid = spark.range(256 * 256).selectExpr(
        "CAST(id % 256 AS INT) AS x", "CAST(id DIV 256 AS INT) AS y"
    )

    def build(strategy):
        tbl = SnapshotLog(
            spark, str(tmp_path / strategy), stats_cols=("x", "y")
        )
        tbl.append(
            grid.repartitionByRange(16, "x", "y").sortWithinPartitions("x", "y")
        )
        tbl.compact(target_files=16, zorder_by=("x", "y"), cluster=strategy)
        return tbl

    tz, th = build("zorder"), build("hilbert")
    assert th.history()[0]["meta"]["cluster"] == "hilbert"

    def quad_hits(tbl):
        return sum(
            len(tbl.files(bounds={"x": (x0, x0 + 63), "y": (y0, y0 + 63)}))
            for x0 in range(0, 256, 64)
            for y0 in range(0, 256, 64)
        )

    hits_z, hits_h = quad_hits(tz), quad_hits(th)
    assert hits_h < hits_z, (hits_h, hits_z)
    for bounds in ({"x": (0, 31)}, {"y": (0, 31)}):
        assert len(th.files(bounds=bounds)) <= len(tz.files(bounds=bounds))

    a = tz.read().selectExpr("sum(x) sx", "sum(y) sy", "count(*) n").collect()
    b = th.read().selectExpr("sum(x) sx", "sum(y) sy", "count(*) n").collect()
    assert a == b
    assert th.read(bounds={"x": (0, 31)}).where("x <= 31").count() == 32 * 256

    import pytest as _pytest

    with _pytest.raises(ValueError, match="cluster strategy"):
        th.compact(zorder_by=("x", "y"), cluster="peano")
    with _pytest.raises(ValueError, match="exactly 2"):
        th.compact(zorder_by=("x",), cluster="hilbert")
    # asking for the non-default curve with no columns must error, not
    # silently degrade to a plain rewrite (round-12 advice)
    with _pytest.raises(ValueError, match="requires zorder_by"):
        th.compact(cluster="hilbert")


def test_lsh_bucketed_bands_probe_drops_corpus_exchange(spark, tmp_path):
    """lsh_bucketize_bands publishes the band table bucketed+sorted by
    (band, bucket); a probe against it (broadcast disabled, the
    at-scale SMJ shape) returns IDENTICAL pairs with strictly fewer
    exchanges — the corpus side of the band join reads co-located
    bucket files instead of shuffling."""
    from nibbledb_spark.operators.dedup import (
        build_lsh_index,
        lsh_bucketize_bands,
        lsh_open_index,
        lsh_query_near_dups,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "lshidx")
    build_lsh_index(docs.where("doc_id % 5 <> 0"), idx)
    lsh_bucketize_bands(spark, idx, "lsh_bands_bucketed_t", n_buckets=8)
    probe = docs.where("doc_id % 5 = 0")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain = lsh_open_index(spark, idx, cache=False)
        buck = lsh_open_index(
            spark, idx, cache=False, bands_table="lsh_bands_bucketed_t"
        )
        r_plain = lsh_query_near_dups(spark, plain, probe, threshold=0.8)
        r_buck = lsh_query_near_dups(spark, buck, probe, threshold=0.8)
        assert r_plain.exceptAll(r_buck).count() == 0
        assert r_buck.exceptAll(r_plain).count() == 0
        n_plain, n_buck = exchange_count(r_plain), exchange_count(r_buck)
        # exactly the band join's corpus-side Exchange disappears —
        # every other exchange in the probe plan is identical
        assert n_buck == n_plain - 1, (n_plain, n_buck)
        # and it disappears BECAUSE the scan is bucketed (not because
        # some other exchange moved): the planner must report the
        # bucketed read as actually exploited. (The in-bucket sortBy
        # does NOT remove the SMJ sort — Spark only skips it at one
        # file per bucket — so Sort counts are unpinned here.)
        s = plan_string(r_buck)
        assert "lsh_bands_bucketed_t" in s
        assert "Bucketed: true" in s, "bucketed scan not exploited"
        assert "SelectedBucketsCount" in s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS lsh_bands_bucketed_t")
