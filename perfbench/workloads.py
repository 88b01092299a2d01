"""The two benchmark workloads.

Every workload reports the same end-to-end metrics, each defined over
the workload's own mix of operations:

- ``cold_pass_s``: the first pass over the mix in the fresh JVM;
- ``warm_pass_s``: the median wall time of a warm pass;
- ``op_geomean_s``: the geometric mean warm latency of one user-facing
  operation. Unlike the pass time, which the slowest operations
  dominate, it weighs a 2x change of any operation the same; unlike a
  median over a few operations of a few kinds, it does not jump between
  kinds from run to run.

For ``heavy_operators`` an operation is one query, timed from the
``queries()[name]`` call until its noop write finishes, and a pass runs
every query once in a seeded order. For ``ojol_warehouse`` a pass is one
cycle's write side, a one-shard ``commit_versioned`` plus a
one-partition ``merge_upsert``; an operation is one dashboard HTTP
request of the cycle's open-loop round, timed from when it was due.

Per-layer metrics come from the spans the traced run records around the
calls into each layer.
"""

from __future__ import annotations

import http.client
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from http.server import ThreadingHTTPServer

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
import serve
from learn_etl_data_warehouse_spark.plans import manifest_warehouse as mw
from learn_etl_data_warehouse_spark.plans.dashboard import (
    mode_dashboard,
    quarterly_dashboard,
)
from learn_etl_data_warehouse_spark.plans.sharded_etl import (
    SHARD_COL,
    write_sharded_exports,
)
from learn_etl_data_warehouse_spark.sources.parquet import load_table

from jvm import gc_seconds
from oracle import fingerprint
from spans import Tracer, job_counts

HEAVY_OPERATORS = [
    "g02_part_pagerank",
    "g06_link_prediction",
    "g08_hits_scores",
    "g16_hyperball_neighborhood",
    "d02_ngram_jaccard_pairs",
    "d10_semantic_clusters",
    "d34_maximal_repeat_scrub",
    "cl01_perceptron_weights",
]
# tables each query reads, for the traced sources.scan_s probe
QUERY_TABLES = {
    "g02": ["lineitem"], "g06": ["lineitem"], "g08": ["lineitem", "orders"],
    "g16": ["lineitem"],
    "d02": ["documents"], "d34": ["documents"], "cl01": ["documents"],
    "d10": ["embeddings"],
}

OJOL_SHARDS = 8
MERGE_ROWS = 200
MIN_CYCLES = 2  # ojol cycles per run, whatever the window
REQUEST_RATE = 1.0  # requests per second; capacity is ~1.4 (see README.md)


def p50(values: list[float]) -> float:
    return statistics.median(values)


def fits(start: float, next_s: float, seconds: float) -> bool:
    """Whether one more pass of ``next_s`` seconds ends inside the window."""
    return time.perf_counter() - start + next_s <= seconds


@dataclass
class Run:
    """What one workload run produced."""

    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


# ---------------------------------------------------------------------------
# heavy_operators: closed loop, one client
# ---------------------------------------------------------------------------


def run_queries(
    spark: SparkSession,
    names: list[str],
    sf_dir: str,
    expected: dict[str, tuple[int, str]],
    rng: np.random.Generator,
    seconds: float,
    tracer: Tracer,
) -> Run:
    run = Run()
    queries = entrymod.queries()

    # cold pass: each query once, collected to the driver; the collected
    # result is the run's correctness check against the oracle fingerprint
    cold = 0.0
    for name in rng.permutation(names):
        run.attempted += 1
        try:
            t0 = time.perf_counter()
            result = queries[name](spark, sf_dir).toPandas()
            cold += time.perf_counter() - t0
        except Exception as exc:  # a failing query is a measured failure
            run.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
            continue
        if fingerprint(result) != expected[name]:
            run.fail(f"{name}: result differs from the oracle fingerprint")
    run.metrics["cold_pass_s"] = cold

    # warm closed loop: whole passes in a seeded order, as many as fit in
    # `seconds` (at least one; a pass is not started if, at the median
    # pass time so far, it would end after the window)
    op_times: list[float] = []
    pass_times: list[float] = []
    gc_before = gc_seconds(spark) if tracer.enabled else 0.0
    loop_start = time.perf_counter()
    n_pass = 0
    while not pass_times or fits(loop_start, p50(pass_times), seconds):
        pass_start = time.perf_counter()
        for name in rng.permutation(names):
            run.attempted += 1
            group = f"{name}#{n_pass}"
            if tracer.enabled:
                spark.sparkContext.setJobGroup(group, name)
            try:
                with tracer.span("query", query=name) as attrs:
                    t0 = time.perf_counter()
                    with tracer.span("entry.build"):
                        df = queries[name](spark, sf_dir)
                    if tracer.enabled:
                        attrs["eager_jobs"] = job_counts(spark, group)["jobs"]
                    with tracer.span("entry.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    op_times.append(time.perf_counter() - t0)
                    if tracer.enabled:
                        attrs.update(job_counts(spark, group))
            except Exception as exc:
                run.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
        pass_times.append(time.perf_counter() - pass_start)
        n_pass += 1
    run.metrics.update(
        warm_pass_s=p50(pass_times), op_geomean_s=statistics.geometric_mean(op_times)
    )
    if tracer.enabled:
        run.layers["jvm.gc_s"] = gc_seconds(spark) - gc_before
        _query_layers(spark, names, sf_dir, n_pass, tracer, run)
    return run


def _query_layers(
    spark: SparkSession,
    names: list[str],
    sf_dir: str,
    n_pass: int,
    tracer: Tracer,
    run: Run,
) -> None:
    spark.sparkContext.setJobGroup("sources", "sources.scan")
    tables = sorted({t for n in names for t in QUERY_TABLES[n.split("_")[0]]})
    for table in tables:
        with tracer.span("sources.scan", table=table):
            load_table(spark, sf_dir, table).write.format("noop").mode(
                "overwrite"
            ).save()
    n_queries = len(tracer.seconds("query"))
    per_query = {
        key: sum(tracer.attr("query", key)) / n_queries
        for key in ("jobs", "stages", "tasks", "eager_jobs")
    }
    graph_s = sum(
        s.seconds for s in tracer.spans
        if s.name == "query" and s.attrs["query"].startswith("g")
    )
    run.layers.update(
        {
            "sources.scan_s": tracer.total("sources.scan"),
            "entry.build_s": tracer.total("entry.build") / n_queries,
            "entry.exec_s": tracer.total("entry.exec") / n_queries,
            "spark.jobs_per_query": per_query["jobs"],
            "spark.stages_per_query": per_query["stages"],
            "spark.tasks_per_query": per_query["tasks"],
            "spark.eager_jobs_per_query": per_query["eager_jobs"],
            "operators.graph_s": graph_s / n_pass,
        }
    )


# ---------------------------------------------------------------------------
# ojol_warehouse: write path beside an open-loop dashboard load
# ---------------------------------------------------------------------------


def request_paths(quarters: list[str], modes: list[str], rng) -> list[str]:
    """One round of the request mix: a mode and a quarterly page, a chart
    PNG of each kind, then the nav index, with seeded keys. Every round
    has the same kinds in the same order (the slow pages first, so the
    round ends soon after its last request is due), so runs differ in
    keys, not in which requests overlap."""
    q = quarters[rng.integers(len(quarters))]
    m = modes[rng.integers(len(modes))]
    q_chart = ["hist_amount_delivery", "hist_distance_rounded", "hist_duration"][
        rng.integers(3)
    ]
    m_chart = ["hist_duration", "hist_hour_start", "hist_hour_end"][rng.integers(3)]
    return [
        f"/mode/{m}",
        f"/quarterly/{q}",
        f"/quarterly/{q}/{q_chart}.png",
        f"/mode/{m}/{m_chart}.png",
        "/",
    ]


def fetch(port: int, path: str) -> tuple[int, bytes, str]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read(), resp.getheader("Content-Type", "")
    finally:
        conn.close()


def reply_ok(status: int, body: bytes, ctype: str, path: str) -> bool:
    if status != 200:
        return False
    if path.endswith(".png"):
        return ctype == "image/png" and body.startswith(b"\x89PNG")
    return ctype == "text/html" and body.startswith(b"<html>")


class Dashboards:
    """A local ``ThreadingHTTPServer`` running ``serve.make_handler``; the
    handler is rebuilt over a fresh ``read_snapshot`` before each request
    phase, so requests read the latest commit, uncached."""

    def __init__(self) -> None:
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), serve.make_handler(None))
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def serve(self, snapshot) -> None:
        self.server.RequestHandlerClass = serve.make_handler(snapshot)

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=60)


class Ojol:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        expected: dict,
        rng: np.random.Generator,
        tracer: Tracer,
        run: Run,
    ) -> None:
        self.spark = spark
        self.landing = os.path.join(root, "landing")
        self.table = os.path.join(root, "warehouse")
        self.expected = expected
        self.rng = rng
        self.tracer = tracer
        self.run = run
        self.quarters = sorted(expected["by_quarter"])
        self.modes = sorted(expected["by_mode"])

    def snapshot(self):
        with self.tracer.span("plans.snapshot_resolve"):
            return mw.read_snapshot(self.spark, self.table)

    def check_counts(self, what: str) -> None:
        """Snapshot count equals the rows landed, and per-quarter counts
        equal the generator's."""
        snap = mw.read_snapshot(self.spark, self.table)
        by_quarter = {r[0]: r[1] for r in snap.groupBy("quarter").count().collect()}
        if by_quarter != self.expected["by_quarter"]:
            self.run.fail(f"{what}: per-quarter counts {by_quarter}")

    def check_dashboards(self) -> None:
        """Per-mode counts equal the generator's, and a seeded quarter
        partition's dashboard histogram counts sum to its rows."""
        snap = mw.read_snapshot(self.spark, self.table)
        by_mode = {r[0]: r[1] for r in snap.groupBy("mode").count().collect()}
        if by_mode != self.expected["by_mode"]:
            self.run.fail(f"per-mode counts {by_mode}")
        quarter = self.quarters[self.rng.integers(len(self.quarters))]
        hist = quarterly_dashboard(snap, quarter)["hist_duration"].collect()
        if sum(r["n"] for r in hist) != self.expected["by_quarter"][quarter]:
            self.run.fail(f"{quarter}: histogram counts do not sum to its rows")

    def load(self) -> float:
        self.run.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("plans.load"):
            mw.commit_versioned(self.spark, self.landing, self.table)
        elapsed = time.perf_counter() - t0
        self.check_counts("full load")
        return elapsed

    def commit(self) -> float:
        shard = int(self.rng.integers(OJOL_SHARDS))
        self.run.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("plans.commit", shard=shard) as attrs:
            txn = mw.commit_versioned(
                self.spark, self.landing, self.table, shards=[shard]
            )
        elapsed = time.perf_counter() - t0
        if self.tracer.enabled:
            attrs["files"] = self.files_of(txn)
        self.check_counts(f"commit shard {shard}")
        return elapsed

    def files_of(self, txn: str) -> int:
        manifest = mw.read_manifest(self.table)
        return sum(
            len([f for f in os.listdir(os.path.join(self.table, rel, f"txn={t}"))
                 if f.endswith(".parquet")])
            for rel, t in manifest["partitions"].items()
            if t == txn
        )

    def merge(self) -> float:
        """Upsert MERGE_ROWS existing rows of one seeded (shard, quarter)
        partition with new amounts, so every merge rewrites one partition;
        the row count must not change."""
        shard = int(self.rng.integers(OJOL_SHARDS))
        quarter = self.quarters[self.rng.integers(len(self.quarters))]
        salt = int(self.rng.integers(2**31))
        snap = mw.read_snapshot(self.spark, self.table)
        rows = (
            snap.filter((F.col(SHARD_COL) == shard) & (F.col("quarter") == quarter))
            .orderBy(F.hash("id", F.lit(salt)), "id")
            .limit(MERGE_ROWS)
            .withColumn("amount_delivery", F.col("amount_delivery") + 500)
            .withColumn(
                "transaction_amount_total", F.col("transaction_amount_total") + 500
            )
            .collect()
        )
        updates = self.spark.createDataFrame(rows, snap.schema)
        self.run.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("plans.merge", shard=shard, quarter=quarter):
            mw.merge_upsert(self.spark, self.table, updates, ["id"])
        elapsed = time.perf_counter() - t0
        self.check_counts(f"merge shard {shard} {quarter}")
        return elapsed

    def requests(
        self, site: Dashboards, paths: list[str], rate: float, pool: ThreadPoolExecutor
    ) -> list[float]:
        """Open loop: request i is due at ``start + i / rate`` whether or
        not earlier ones finished; latency counts from the due time."""
        site.serve(self.snapshot())
        parent = self.tracer.current()

        def one(path: str, due: float) -> tuple[str, float, bool]:
            status, body, ctype = fetch(site.port, path)
            done = time.perf_counter()
            self.tracer.record("serve.request", due, done, parent=parent, path=path)
            return path, done - due, reply_ok(status, body, ctype, path)

        start = time.perf_counter() + 0.05
        futures = []
        for i, path in enumerate(paths):
            due = start + i / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            self.tracer.record("loadgen.late", due, max(time.perf_counter(), due))
            futures.append(pool.submit(one, path, due))
        latencies = []
        for fut in futures:
            self.run.attempted += 1
            try:
                path, latency, ok = fut.result()
            except (OSError, http.client.HTTPException) as exc:
                self.run.fail(f"request: {exc!r}")
                continue
            latencies.append(latency)
            if not ok:
                self.run.fail(f"{path}: bad reply")
        return latencies


def run_ojol(
    spark: SparkSession,
    root: str,
    expected: dict,
    rng: np.random.Generator,
    seconds: float,
    tracer: Tracer,
) -> Run:
    run = Run()
    oj = Ojol(spark, root, expected, rng, tracer, run)
    site = Dashboards()
    pool = ThreadPoolExecutor(max_workers=os.cpu_count())
    try:
        # cold pass: the full load, then the first request round, served
        # by the fresh JVM, until its last reply
        cold = oj.load()
        t0 = time.perf_counter()
        first_round = request_paths(oj.quarters, oj.modes, rng)
        oj.requests(site, first_round, REQUEST_RATE, pool)
        run.metrics["cold_pass_s"] = cold + time.perf_counter() - t0
        oj.check_dashboards()

        # warm cycles: the write side, then one open-loop request round
        # over its fresh snapshot; at least MIN_CYCLES, more while the
        # next cycle (at the median cycle time) ends inside `seconds`
        gc_before = gc_seconds(spark) if tracer.enabled else 0.0
        pass_times, cycle_times, latencies = [], [], []
        loop_start = time.perf_counter()
        while len(pass_times) < MIN_CYCLES or fits(
            loop_start, p50(cycle_times), seconds
        ):
            cycle_start = time.perf_counter()
            pass_times.append(oj.commit() + oj.merge())
            paths = request_paths(oj.quarters, oj.modes, rng)
            with tracer.span("loadgen.phase"):
                latencies += oj.requests(site, paths, REQUEST_RATE, pool)
            cycle_times.append(time.perf_counter() - cycle_start)
        run.metrics.update(
            warm_pass_s=p50(pass_times),
            op_geomean_s=statistics.geometric_mean(latencies),
        )
        if tracer.enabled:
            run.layers["jvm.gc_s"] = gc_seconds(spark) - gc_before
            _ojol_layers(oj, site, tracer, run)
    finally:
        pool.shutdown(wait=True)
        site.close()
    return run


def _ojol_layers(oj: Ojol, site: Dashboards, tracer: Tracer, run: Run) -> None:
    spark = oj.spark
    snap = oj.snapshot()
    manifest = mw.read_manifest(oj.table)
    live = [
        os.path.join(oj.table, rel, f"txn={txn}", f)
        for rel, txn in manifest["partitions"].items()
        for f in os.listdir(os.path.join(oj.table, rel, f"txn={txn}"))
        if f.endswith(".parquet")
    ]
    stored = sum(os.path.getsize(p) for p in live)

    def files_scanned(df) -> int:
        return df.select(F.input_file_name()).distinct().count()

    def collect(dash: dict) -> float:
        """The engine side of one page: each chart collected the way
        ``render_dashboard`` collects it, one span per chart kind."""
        t0 = time.perf_counter()
        for name, df in dash.items():
            kind = name.split("_")[0]
            limit = {"table": serve.MAX_TABLE_ROWS, "geo": 50}.get(kind)
            with tracer.span(f"plans.collect.{kind}"):
                (df.limit(limit) if limit else df).collect()
        return time.perf_counter() - t0

    # one page of each kind over HTTP, against the same page collected
    # in-process: the difference is the serving edge
    q, m = oj.quarters[0], oj.modes[0]
    site.serve(snap)
    edge, jobs = [], []
    for kind, key, build in (
        ("quarterly", q, quarterly_dashboard), ("mode", m, mode_dashboard)
    ):
        dash = build(snap, key)
        group = f"request-{kind}"
        spark.sparkContext.setJobGroup(group, group)
        engine = collect(dash)
        jobs.append(job_counts(spark, group)["jobs"])
        with tracer.span("serve.http", path=f"/{kind}/{key}"):
            t0 = time.perf_counter()
            fetch(site.port, f"/{kind}/{key}")
            edge.append(time.perf_counter() - t0 - engine)
        with tracer.span("serve.render"):
            serve.render_dashboard(kind, key, dash)
        with tracer.span("serve.hist_png"):
            serve.hist_png(dash, "hist_duration")
    counts = [r["n"] for r in quarterly_dashboard(snap, q)["hist_duration"].collect()]
    with tracer.span("serve.bar_chart_png"):
        serve.bar_chart_png(counts)
    run.layers.update(
        {
            "plans.load_s": tracer.total("plans.load"),
            "plans.commit_s": tracer.median("plans.commit"),
            "plans.merge_s": tracer.median("plans.merge"),
            "plans.files_per_commit": p50(tracer.attr("plans.commit", "files")),
            "plans.bytes_per_row_stored": stored / oj.expected["rows"],
            "plans.snapshot_resolve_s": tracer.median("plans.snapshot_resolve"),
            "plans.files_scanned_quarter": files_scanned(
                snap.filter(F.col("quarter") == q)
            ),
            "plans.files_scanned_mode": files_scanned(snap.filter(F.col("mode") == m)),
            "plans.collect_hist_s": tracer.total("plans.collect.hist"),
            "plans.collect_geo_s": tracer.total("plans.collect.geo"),
            "plans.collect_table_s": tracer.total("plans.collect.table"),
            "plans.collect_nav_s": tracer.total("plans.collect.nav"),
            "serve.edge_s": p50(edge),
            "serve.render_s": tracer.median("serve.render"),
            "serve.hist_png_s": tracer.median("serve.hist_png"),
            "serve.bar_chart_png_s": tracer.total("serve.bar_chart_png"),
            "serve.jobs_per_request": p50(jobs),
            "loadgen.late_max_s": max(tracer.seconds("loadgen.late")),
        }
    )


def write_raw_fact(table, root: str) -> str:
    path = os.path.join(root, "raw_fact.parquet")
    pq.write_table(table, path)
    return path


def land_raw_fact(spark: SparkSession, raw_path: str, root: str) -> None:
    write_sharded_exports(
        spark.read.parquet(raw_path), os.path.join(root, "landing"), OJOL_SHARDS
    )
