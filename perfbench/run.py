"""nibbledb REST benchmark: drives ``Router.handle`` in process.

    python3 perfbench/run.py --workload point_reads --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds a seeded engine store through the
program's own write path, sets the service up several times (engine open,
router, warm requests) and reports the median set-up time, then runs the
workload's closed-loop clients. ``--seconds`` sizes the run: each client
issues as many whole cycles of its request mix as take about that long at
the workload's nominal cycle time, so every run of a workload times the
same mix of requests. Every response is checked against the model outside
the timed region. The last line of standard output is the JSON result;
``--trace 1`` reports per-layer metrics from a run in which every other
request of each route is traced. Everything the run writes stays under
``.perfbench/`` in the checkout. See METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

from model import BASE_US, check_read, close, expected_aggregate, expected_rows
from spans import PER_REQUEST_LAYERS, Tracer, store_files
from workloads import WORKLOADS, Req, ranked_names

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
CPUS = min(4, os.cpu_count() or 1)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(values)
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Session:
    """The Spark session and the JVM behind it, confined to ``work``."""

    def __init__(self, work: str) -> None:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        # every JVM, the launcher's too: temp files under tmp, none in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        from nibbledb_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        self.start_s = time.perf_counter() - t0
        self.gateway = self.spark.sparkContext._gateway
        self.jvm = self.gateway.proc

    def peak_rss_mb(self) -> float:
        return (vm_hwm_kb(os.getpid()) + vm_hwm_kb(self.jvm.pid)) / 1024

    def stop(self) -> None:
        self.spark.stop()
        self.gateway.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)


class Runner:
    """Issues requests, times them, and checks them against the model."""

    def __init__(self, workload, router, tracer=None) -> None:
        self.w = workload
        self.router = router
        self.tracer = tracer
        self.results: list[dict] = []
        self.lock = threading.Lock()

    def issue(self, req, traced: bool = False) -> None:
        if traced:
            t0 = time.perf_counter()
            self.tracer.begin(req.label)
            try:
                status, body = self.tracer.root(self.router.handle, req.method, req.path, req.body)
            finally:
                dt = time.perf_counter() - t0
            trace_rec = self.tracer.end(status, body, dt)
        else:
            t0 = time.perf_counter()
            status, body = self.router.handle(req.method, req.path, req.body)
            dt = time.perf_counter() - t0
            trace_rec = None
        res = {"req": req, "status": status, "body": body, "s": dt, "traced": traced, "trace": trace_rec}
        # off the clock: a mutable store's expectation is taken now,
        # before the next request changes the model
        if req.read is not None and self.w.mutable:
            res["sel"] = self.w.model.select(*req.read[:3])
        if req.apply is not None and status == 200:
            req.apply(self.w.model)
        with self.lock:
            self.results.append(res)

    def run_clients(self, streams) -> float:
        errors = []

        def client(stream):
            seen: dict[str, int] = {}
            try:
                for req in stream:
                    # every other request of each route is traced
                    n = seen[req.label] = seen.get(req.label, -1) + 1
                    self.issue(req, self.tracer is not None and n % 2 == 0)
            except BaseException as e:  # reported by the main thread
                errors.append(e)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(s,)) for s in streams]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return time.perf_counter() - t0

    def check(self, res: dict) -> str | None:
        req = res["req"]
        res["points"] = req.points_in
        if res["status"] != 200:
            return f"status {res['status']}: {res['body'][:200]!r}"
        if req.read is None:
            return None if res["body"] == "" else f"unexpected body {res['body'][:200]!r}"
        ids, kind, args, host, agg = req.read
        sel = res["sel"] if "sel" in res else self.w.model.select(ids, kind, args)
        if agg == "length":
            want = {"length": len(sel[0])}
            bad, res["points"] = (None if json.loads(res["body"]) == want else f"got {res['body']} want {want}"), 1
        elif agg:
            bad, res["points"] = check_read(res["body"], expected_aggregate(sel, agg, host), True)
        else:
            bad, res["points"] = check_read(res["body"], expected_rows(sel, host), False)
        if res["trace"] is not None:
            res["trace"]["rows_out"] = res["points"]
        return bad


def check_store(spark, engine, model) -> list[str]:
    """Per-series length and checksums of the store against the model."""
    import numpy as np
    from pyspark.sql import functions as F

    got = {
        r["series"]: r
        for r in engine.points()
        .groupBy("series")
        .agg(F.count("*").alias("n"), F.sum(F.col("ts") - BASE_US).alias("ts_sum"), F.sum("value").alias("v_sum"))
        .collect()
    }
    bad = []
    for sid, (ts, value, _, _) in model.series.items():
        want = (len(ts), int(np.sum(ts - BASE_US)) if len(ts) else None, float(np.sum(value)))
        r = got.pop(sid, None)
        have = (r["n"], r["ts_sum"], r["v_sum"]) if r else (0, None, 0.0)
        if have[:2] != want[:2] or not close(have[2] or 0.0, want[2]):
            bad.append(f"store series {sid}: (n, ts sum, value sum) {have} != {want}")
    bad += [f"store series {sid} is not in the model" for sid in got]
    return bad


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nibbledb_spark")):
        log(f"perfbench: no nibbledb_spark package under {ROOT}; run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)

    import numpy as np
    import pyarrow.parquet as pq

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    session = None
    try:
        session = Session(work)
        spark = session.spark
        from nibbledb_spark.engine import TimeSeriesEngine
        from nibbledb_spark.operators import timeseries as ts_ops
        from nibbledb_spark.rest import Router
        from nibbledb_spark.schema import POINT_SCHEMA

        w = WORKLOADS[args.workload]()
        w.build_model(np.random.default_rng([args.seed, 0]))
        src = os.path.join(work, "input.parquet")
        pq.write_table(w.model.table(), src)
        store = os.path.join(work, "store")
        t0 = time.perf_counter()
        TimeSeriesEngine(spark, store).append_points(spark.read.schema(POINT_SCHEMA).parquet(src))
        build_s = time.perf_counter() - t0

        # set-up: open the engine on the store, mount the router, warm it
        setup_times, warm_results = [], []
        for rep in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            engine = TimeSeriesEngine(spark, store)
            runner = Runner(w, Router(engine, **w.router_options()))
            for req in w.warm(rep):
                runner.issue(req)
            setup_times.append(time.perf_counter() - t0)
            warm_results += runner.results
        runner = Runner(w, runner.router)
        for req in w.prime(np.random.default_rng([args.seed, 3])):
            runner.issue(req)
        untimed = warm_results + runner.results

        tracer = None
        if args.trace:
            tracer = Tracer(spark, store)
            tracer.install(TimeSeriesEngine, ts_ops, spark)
        runner = Runner(w, runner.router, tracer)

        cycles = max(1, round(args.seconds / w.cycle_s))
        ranked = ranked_names(w, args.seed)
        streams = [w.stream(np.random.default_rng([args.seed, 2, c]), ranked, cycles) for c in range(w.clients)]
        wall = runner.run_clients(streams)
        if w.mutable:  # durability is part of the work: the final sync is timed
            t0 = time.perf_counter()
            runner.issue(Req("GET", "/ctl/ts/sync", "sync"))
            wall += time.perf_counter() - t0
        if tracer:
            tracer.uninstall()

        results = runner.results
        failures = [f"{r['req'].method} {r['req'].path}: {bad}"
                    for r in untimed + results if (bad := runner.check(r))]
        store_bad = check_store(spark, runner.router.engine, w.model)
        attempted = len(untimed) + len(results) + 1  # the last check is the store's
        failed = len(failures) + bool(store_bad)
        failures += store_bad

        files = store_files(store)
        n_points = w.model.n_points()
        lat = [r["s"] * 1e3 for r in results if not r["traced"]]
        reads = [r["s"] * 1e3 for r in results if not r["traced"] and r["req"].read is not None]
        by_route: dict[str, list[float]] = {}
        for r in results:
            by_route.setdefault(r["req"].label, []).append(r["s"] * 1e3)
        log(f"perfbench {args.workload} seed={args.seed} master=local[{CPUS}] clients={w.clients} "
            f"store={n_points} points/{len(files)} files session_start_s={session.start_s:.2f} "
            f"store_build_s={build_s:.2f} setup_s={[round(t, 3) for t in setup_times]} "
            f"requests={len(results)} wall_s={wall:.2f} peak_rss_mb={session.peak_rss_mb():.0f}")
        for label, v in sorted(by_route.items()):
            log(f"  {label:18s} n={len(v):4d} p50={statistics.median(v):9.1f} ms  max={max(v):9.1f} ms")
        for f in failures:
            log(f"  FAILED {f}")

        if args.trace:
            metrics = layer_metrics(tracer, results, files)
        else:
            metrics = {
                "setup_s": (statistics.median(setup_times), "s"),
                "read_p50_ms": (statistics.median(reads), "ms"),
                "latency_p75_ms": (percentile(lat, 75), "ms"),
                "throughput_rps": (len(results) / wall, "1/s"),
                "points_per_s": (sum(r["points"] for r in results) / wall, "points/s"),
                "store_bytes_per_point": (sum(files.values()) / n_points, "B/point"),
            }
        result = {"correct": not failures, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def overhead_pct(results) -> float:
    """Traced against untraced latency for the same request mix: per
    route, the difference of medians, weighted by the route's count."""
    by_route: dict[str, tuple[list, list]] = {}
    for r in results:
        by_route.setdefault(r["req"].label, ([], []))[r["traced"]].append(r["s"])
    pairs = [(len(u) + len(t), statistics.median(u), statistics.median(t)) for u, t in by_route.values() if u and t]
    base = sum(n * u for n, u, _ in pairs)
    return 100.0 * sum(n * (t - u) for n, u, t in pairs) / base if base else 0.0


def layer_metrics(tracer, results, files: dict) -> dict:
    """Per-layer metrics from the traced half of the run."""
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"trace-{os.getpid()}.jsonl"))
    traced = [r for r in results if r["traced"]]
    reqs = [r["trace"] for r in traced]
    n = max(1, len(reqs))
    self_ms, worst_gap = tracer.self_times()
    layers = {layer: (sum(s.get(layer, 0.0) for s in self_ms.values()) / n, "ms") for layer in PER_REQUEST_LAYERS}

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def median_ms(*routes):
        return statistics.median([r["s"] * 1e3 for r in results if r["req"].label in routes] or [0.0])

    appends = [w for w in tracer.writes if w["kind"] == "engine.append_points"]
    deletes = [w for w in tracer.writes if w["kind"] == "engine.delete"]
    point_reads = [q for q in reqs if q["label"] in ("last", "latest")]
    get_rids = {r["trace"]["rid"] for r in traced if r["req"].method == "GET" and r["req"].label != "sync"}
    rows_out = sum(q.get("rows_out", 0) for q in reqs)
    traced_ms = [r["s"] * 1e3 for r in traced]
    log(f"  trace: {len(reqs)} traced requests, largest self-time vs root gap {worst_gap:.6f} ms")
    for label in sorted({q["label"] for q in reqs}):
        qs = [q for q in reqs if q["label"] == label]
        log(f"  trace {label:18s} jobs/request={mean(q['jobs'] for q in qs):.2f} "
            f"stages={mean(q['stages'] for q in qs):.2f} tasks={mean(q['tasks'] for q in qs):.2f}")
    metrics = {
        "spark.jobs_per_request": (mean(q["jobs"] for q in reqs), "jobs"),
        "spark.jobs_per_point_read": (mean(q["jobs"] for q in point_reads), "jobs"),
        "spark.stages_per_request": (mean(q["stages"] for q in reqs), "stages"),
        "spark.tasks_per_request": (mean(q["tasks"] for q in reqs), "tasks"),
        "spark.task_ms_per_request": (mean(q["task_ms"] for q in reqs), "ms"),
        "spark.wait_ms": (mean(q["wait_ms"] for q in reqs), "ms"),
        "spark.shuffle_bytes_per_request": (mean(q["shuffle_bytes"] for q in reqs), "B"),
        "spark.spill_bytes_per_request": (mean(q["spill_bytes"] for q in reqs), "B"),
        "scan.rows_read_per_row_out": (sum(q["input_records"] for q in reqs) / max(1, rows_out), "ratio"),
        "exec.calls_per_request": (
            sum(1 for s in tracer.spans if s["name"] in ("exec.toPandas", "exec.collect", "exec.count")) / n,
            "calls"),
        **layers,
        "rest.bytes_out": (mean(q["bytes_out"] for q in reqs), "B"),
        "rest.flushes_per_read": (
            sum(1 for s in tracer.spans if s["name"] == "engine.append_points" and s["rid"] in get_rids)
            / max(1, len(get_rids)), "flushes"),
        "rest.post_p50_ms": (median_ms("post"), "ms"),
        "rest.read_after_write_ms": (median_ms("read_after_write"), "ms"),
        "rest.delete_ms": (median_ms("delete_range", "delete_since", "delete_filter"), "ms"),
        "engine.append_ms": (mean(w["ms"] for w in appends), "ms"),
        "engine.delete_ms": (mean(w["ms"] for w in deletes), "ms"),
        "storage.files": (len(files), "files"),
        "storage.bytes": (sum(files.values()), "B"),
        "storage.files_added_per_flush": (mean(w["files_added"] for w in appends), "files"),
        "storage.bytes_rewritten_per_delete": (mean(w["bytes_added"] for w in deletes), "B"),
        "trace.requests": (len(reqs), "count"),
        "trace.accounted_pct": (
            100.0 * sum(sum(s.values()) for s in self_ms.values()) / max(1e-9, sum(traced_ms)), "%"),
        "trace.overhead_pct": (overhead_pct(results), "%"),
    }
    return metrics


if __name__ == "__main__":
    sys.exit(main())
