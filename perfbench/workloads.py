"""The two workloads.  Each is one closed loop with one client: the next
operation starts when the previous one returns.

``query_mix`` runs declared queries of the engine in a fresh session:
three relational/TPC-H queries and two LLM-data and multimodal queries
over the sf0.1 tables, each pass in a seeded order, after one warm-up
query in set-up.  An operation is one query execution: the query callable
(construction), Catalyst planning, and execution with the rows collected
to the driver.  After every execution the cache is cleared
(``spark.catalog.clearCache``), in the traced and the untraced run
alike; the traced run reads the residue counters before and after each
operation, before that call.

``etl_ingest`` follows the reference's Step Functions path.  Set-up runs
a one-month history drop, which creates the warehouse tables.  Each
month then lands a
drop and runs ``pipelines.runner.run_all`` (``max_attempts=1``: a
deterministic failure costs no retry sleeps), drains the month's events
with ``streaming.events.stream_merge_to_table`` and runs one analytical
read over the warehouse tables.  ``LakeTable.optimize`` then compacts
order_items, and a restatement of every history item is the last drop.

Known defects at this commit, counted in ``failed`` and not routed
around (each failure counts once and the run continues):

(b) a run-metrics ``Observation.get`` raises ``AssertionError`` from
    ``PythonSQLUtils.toPyRow`` when the observed branch is empty.
    ``run_order_items`` reads its metrics after its merge has committed
    (pipelines/order_items.py); the restatement is already validated, so
    its reject branch is empty and the drop fails there, leaving its raw
    file in the raw zone.
(a) ``LakeTable.merge`` raises ``StackOverflowError`` once a merge
    touches about 500 partitions (the OR chain of
    ``LakeTable._partition_predicate``).  This workload's merges touch
    at most about 30 ``date`` partitions, so it does not reach (a): on a
    4-core host an 18-month (540-partition) history took about 60 s to
    create and about 50 s per monthly drop, beyond one run's budget.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import statistics
import time

import etl
from spans import EngineCounters, dir_bytes

OLAP = ["q_tpch_q3", "q_tpch_q18", "q_window_dedup"]
#: q_dedup_minhash runs Spark jobs while it builds its plan;
#: q_image_dedup's plan runs Python workers
LLM = ["q_dedup_minhash", "q_image_dedup"]
#: run once, untimed, before the timed pass: it takes the first-query
#: costs (Catalyst, code generation and scan/shuffle JIT) that would
#: otherwise land on whichever query the seed puts first
WARMUP = "q_tpch_q10"


class Run:
    """Per-run state shared by the harness and a workload."""

    def __init__(self, spark, sf_dir, work_dir, seed, seconds, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.engine = EngineCounters(spark) if tracer else None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.residue: list[dict] = []
        self.pass_series: list[float] = []
        #: VmHWM of the JVM plus this process at the end of the timed
        #: section, before the output checks (DuckDB runs in-process)
        self.rss_mb = 0.0
        #: JVM heap still in use after a full GC at the end of the timed
        #: section: what the session retains
        self.retained_heap_mb = 0.0
        self.op_series: list[tuple[str, float | None]] = []
        #: wall seconds of the timed section
        self.timed_s = 0.0
        self._rid = 0

    def op(self, kind: str, fn):
        """Run one timed operation; returns (seconds, result), or
        (None, None) when it raised."""
        self._rid += 1
        rid = f"{kind}-{self._rid}"
        self.attempted += 1
        if self.tracer:
            self._note_residue(f"{rid}:before")
            self.tracer.request = rid
            jobs0 = self.tracer.jobs_started()
        t0 = time.perf_counter()
        try:
            if self.tracer:
                with self.tracer.span(kind):
                    out = fn()
            else:
                out = fn()
            dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — count the failure, continue
            self.failed += 1
            self.errors.append(f"{rid}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            dt, out = None, None
        finally:
            self.op_series.append((rid, None if dt is None else round(dt, 4)))
            if self.tracer:
                self.tracer.request = None
                t1 = time.perf_counter()
                self.engine.collect(range(jobs0, self.tracer.jobs_started()))
                self.tracer.overhead_s += time.perf_counter() - t1
                self._note_residue(f"{rid}:after")
        return dt, out

    def end_timed(self, t_start: float) -> None:
        self.timed_s = time.perf_counter() - t_start
        jvm = self.sc._jvm
        self.rss_mb = (
            _vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid())
        ) / 1024
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        self.retained_heap_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20

    def span(self, name):
        return self.tracer.span(name) if self.tracer else _null()

    def _note_residue(self, label: str) -> None:
        """Residue counters around each operation, before the caller's
        between-operation hygiene."""
        t0 = time.perf_counter()
        r = self.engine.residue(os.environ["SPARK_GRAFT_SCRATCH"])
        r["at"] = label
        self.residue.append(r)
        self.tracer.overhead_s += time.perf_counter() - t0


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class _null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


# -- query_mix -----------------------------------------------------------------
class QueryMix:
    def __init__(self, sf_dir: str, work_dir: str, seed: int):
        from lab5_lakehouse_etl_spark import queries as Q

        Q.load_all()
        self.sf_dir = sf_dir

    def prepare(self, spark, rep: int) -> None:
        """Session catalog for the mix: every source table as a temp
        view (the SQL-text queries read them by name)."""
        from lab5_lakehouse_etl_spark import session as S

        S.register_views(spark, self.sf_dir)  # module attribute: traced when installed

    def warm_up(self, spark) -> None:
        """One untimed execution of WARMUP."""
        from lab5_lakehouse_etl_spark import queries as Q

        Q.QUERIES[WARMUP](spark, self.sf_dir).collect()
        spark.catalog.clearCache()

    def run(self, run: Run) -> dict:
        return query_mix(run)


def query_mix(run: Run) -> dict:
    from lab5_lakehouse_etl_spark import queries as Q

    spark = run.spark
    names = OLAP + LLM
    rng = random.Random(run.seed)
    first_rows: dict[str, tuple] = {}
    latencies: list[float] = []
    passes: list[float] = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < run.seconds:
        order = names[:]
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            def execute(name=name):
                with run.span("queries.build"):
                    df = Q.QUERIES[name](spark, run.sf_dir)
                with run.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with run.span("spark.exec"):
                    rows = df.collect()
                return df.columns, rows

            dt, out = run.op(name, execute)
            if dt is not None:
                latencies.append(dt)
                first_rows.setdefault(name, out)
            spark.catalog.clearCache()
        passes.append(time.perf_counter() - p0)
    run.end_timed(t_start)
    run.pass_series = passes
    # output checks, outside the timed section
    check_queries(run, first_rows, names)
    return {
        "op_p50_s": statistics.median(latencies),
        "mix_s": statistics.median(passes),
        "samples": len(latencies),
    }


def check_queries(run: Run, results: dict, names: list[str]) -> None:
    """Compare each query's first result with its DuckDB oracle, with the
    row normalisation of tests/conftest.py.  Oracle results are cached
    under ``.perfbench/oracle`` keyed by the SQL text and the fixture
    files' sizes and mtimes (q_dedup_minhash's oracle takes ~40 s)."""
    from lab5_lakehouse_etl_spark import queries as Q
    from tests.conftest import rows_key

    for name in names:
        if name not in results:
            continue  # failed: already counted
        cols, rows = results[name]
        cache_dir = os.path.join(os.path.dirname(run.work_dir), "oracle")
        want = _oracle(cache_dir, run.sf_dir, name, Q.ORACLES[name], rows_key)
        got = json.loads(json.dumps(rows_key([tuple(r) for r in rows], cols), default=str))
        if sorted(cols) != want["cols"] or got != want["key"]:
            run.mismatches.append(name)


def _oracle(cache_dir: str, sf_dir: str, name: str, sql: str, rows_key) -> dict:
    import duckdb

    from lab5_lakehouse_etl_spark.session import TABLES, table_path

    ident = [sql] + [
        [t, os.stat(table_path(sf_dir, t)).st_size, os.stat(table_path(sf_dir, t)).st_mtime_ns]
        for t in TABLES
    ]
    digest = hashlib.sha1(json.dumps(ident).encode()).hexdigest()[:16]
    cache = os.path.join(cache_dir, f"{name}-{digest}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    res = con.sql(sql)
    cols, rows = res.columns, res.fetchall()
    con.close()
    want = json.loads(json.dumps({"cols": sorted(cols), "key": rows_key(rows, cols)}, default=str))
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as fh:
        json.dump(want, fh)
    os.replace(cache + ".tmp", cache)
    return want


# -- etl_ingest ----------------------------------------------------------------
_JOBS = ("orders", "order_items", "products")


class EtlIngest:
    def __init__(self, sf_dir: str, work_dir: str, seed: int):
        from lab5_lakehouse_etl_spark.pipelines import ZoneConfig

        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.src = etl.Source(sf_dir)
        self.drops = etl.Drops(self.src, seed)
        self.model = etl.Model()
        self.zones = ZoneConfig(os.path.join(work_dir, "lake"))

    def prepare(self, spark, rep: int) -> None:
        """The ``customer`` view for the analytical read."""
        from lab5_lakehouse_etl_spark import session as S

        S.load_table(spark, self.sf_dir, "customer").createOrReplaceTempView("customer")

    def warm_up(self, spark) -> None:
        """The history drop through ``run_all``: it creates the tables."""
        from lab5_lakehouse_etl_spark.pipelines.runner import run_all

        feeds = self.drops.history()
        etl.write_drop(self.zones.raw, feeds, "history")
        run_all(spark, self.zones, max_attempts=1)
        self.model.apply_drop(feeds, set(_JOBS), set(_JOBS))

    def run(self, run: Run) -> dict:
        return etl_ingest(run, self)


def etl_ingest(run: Run, w: EtlIngest) -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lab5_lakehouse_etl_spark.lakehouse import LakeTable
    from lab5_lakehouse_etl_spark.pipelines.runner import run_all
    from lab5_lakehouse_etl_spark.streaming.events import (
        read_events_stream,
        stream_merge_to_table,
    )

    spark = run.spark
    src, drops, model, zones = w.src, w.drops, w.model, w.zones
    events_in = os.path.join(run.work_dir, "events_in")
    events_tbl = zones.table_path("events")
    events_ckpt = os.path.join(run.work_dir, "events_ckpt")
    os.makedirs(events_in)
    stats = {
        "drop": [], "drain": [], "read": [], "month": [], "landed_rows": 0,
        "ingest_s": 0.0, "commits": 0, "bytes_written": 0, "bytes_in": 0,
    }

    def snapshot():
        """table -> (version, {data file: bytes}) of each live snapshot."""
        out = {}
        for j in (*_JOBS, "events"):
            if LakeTable.is_table(zones.table_path(j)):
                t = LakeTable(zones.table_path(j))
                out[j] = (t.version(), {
                    f: os.path.getsize(os.path.join(t.data_dir, f)) for f in t.files()
                })
        return out

    def timed_write(kind, fn, in_bytes):
        """A timed operation that may commit: count its commits and the
        bytes of the data files it added."""
        before = snapshot()
        dt, out = run.op(kind, fn)
        after = snapshot()
        for j, (v, files) in after.items():
            v0, files0 = before.get(j, (-1, {}))
            stats["commits"] += v - v0
            stats["bytes_written"] += sum(b for f, b in files.items() if f not in files0)
        stats["bytes_in"] += in_bytes
        return dt, before, after

    def drop(feeds, tag):
        in_bytes = etl.write_drop(zones.raw, feeds, tag)
        dt, before, after = timed_write(
            "drop", lambda: run_all(spark, zones, max_attempts=1), in_bytes
        )
        committed = {j for j in after if after[j][0] != before.get(j, (-1,))[0]}
        completed = {
            j for j in _JOBS
            if not glob.glob(os.path.join(zones.raw, j, "*.csv"))
        }
        model.apply_drop(feeds, completed, committed)
        return dt

    def land_events(i):
        table = drops.events(i)
        path = os.path.join(events_in, f"events_{i + 1:03d}.parquet")
        pq.write_table(table, path)
        model.apply_events(table)
        return table.num_rows, os.path.getsize(path)

    def drain():
        stream_merge_to_table(spark, read_events_stream(spark, events_in), events_tbl, events_ckpt)

    def read():
        orders = LakeTable(zones.table_path("orders")).read(spark)
        items = LakeTable(zones.table_path("order_items")).read(spark)
        customer = spark.table("customer")
        return (
            items.join(orders.select("order_id", "total_amount"), "order_id")
            .join(customer, F.col("user_id") == F.col("c_custkey"))
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_items"), F.sum("total_amount").alias("amount"))
            .collect()
        )

    # the history's events arrive with the first month's
    _, ev_bytes = land_events(-1)
    t_start = time.perf_counter()
    i = 0
    while i < 1 or time.perf_counter() - t_start < run.seconds:
        feeds = drops.month(i)
        rows, n_bytes = land_events(i)
        ev_bytes += n_bytes
        m0 = time.perf_counter()
        dt = drop(feeds, f"m{i:02d}")
        if dt is not None:
            stats["drop"].append(dt)
            stats["landed_rows"] += sum(len(r) for r in feeds.values())
        t_drain, _, _ = timed_write("drain", drain, ev_bytes)
        ev_bytes = 0
        if t_drain is not None:
            stats["drain"].append(t_drain)
            stats["landed_rows"] += rows
        t_read, _ = run.op("read", read)
        if t_read is not None:
            stats["read"].append(t_read)
        stats["month"].append(time.perf_counter() - m0)
        stats["ingest_s"] += (dt or 0.0) + (t_drain or 0.0)
        i += 1
        if i >= etl.MAX_MONTHS:
            break
    timed_write("optimize", lambda: LakeTable(zones.table_path("order_items")).optimize(spark), 0)
    drop(drops.restatement(), "restate")
    run.end_timed(t_start)
    final_read = read()
    run.pass_series = stats["month"]

    check_etl(run, model, zones, final_read, src)
    final = snapshot()
    live = sum(b for _v, files in final.values() for b in files.values())
    run.layer.update({
        "lakehouse.commits": stats["commits"],
        "lakehouse.bytes_written": stats["bytes_written"],
        "lakehouse.write_amp": stats["bytes_written"] / max(stats["bytes_in"], 1),
        "lakehouse.live_files": sum(len(files) for _v, files in final.values()),
        "etl.stream_batch_p50_s": statistics.median(stats["drain"]),
        "etl.read_p50_s": statistics.median(stats["read"]),
        "etl.ingest_rows_per_s": stats["landed_rows"] / max(stats["ingest_s"], 1e-9),
        "lakehouse.space_amp": dir_bytes(zones.warehouse) / max(live, 1),
    })
    return {
        "op_p50_s": statistics.median(stats["drop"]),
        "mix_s": statistics.median(stats["month"]),
        "samples": len(stats["drop"]),
    }


def check_etl(run: Run, model, zones, final_read, src) -> None:
    from lab5_lakehouse_etl_spark.lakehouse import LakeTable

    spark = run.spark

    def table(name, key):
        rows = LakeTable(zones.table_path(name)).read(spark).collect()
        return {r[key]: r.asDict() for r in rows}

    def diff(name, expected, actual, cols):
        """Record a mismatch with the first differing key, if any."""
        keys = set(expected) | set(actual)
        bad = sorted(
            (k for k in keys
             if k not in expected or k not in actual
             or not all(_eq(expected[k][c], actual[k][c]) for c in cols)),
            key=str,
        )
        if bad:
            k = bad[0]
            run.mismatches.append(
                f"etl.{name}: {len(bad)} keys differ, e.g. {k}: "
                f"expected {expected.get(k)} got {actual.get(k)}"
            )

    diff("orders", model.orders, table("orders", "order_id"), etl.ORDERS_HEADER)
    diff("order_items", model.items, table("order_items", "id"), etl.ITEMS_HEADER)
    products = table("products", "product_id")
    ok = model.products_must <= set(products) <= model.products_may and all(
        (r["department"], r["product_name"]) == src.parts[int(pid)][::-1]
        and r["department_id"] == src.departments[r["department"]]
        for pid, r in products.items()
    )
    if not ok:
        run.mismatches.append(
            f"etl.products: {len(model.products_must - set(products))} missing, "
            f"{len(set(products) - model.products_may)} unexpected"
        )
    diff("events", model.events, table("events", "event_id"),
         ["event_id", "ts", "user_id", "event_type", "value", "props"])
    # the analytical read over the final tables
    nation = {r[0]: r[1] for r in _customer_nations(run.sf_dir)}
    exp: dict[int, list] = {}
    for it in model.items.values():
        o = model.orders.get(it["order_id"])
        if o is None or it["user_id"] not in nation:
            continue
        e = exp.setdefault(nation[it["user_id"]], [0, 0.0])
        e[0] += 1
        e[1] += o["total_amount"]
    got = {r["c_nationkey"]: [r["n_items"], r["amount"]] for r in final_read}
    if set(got) != set(exp) or any(
        got[k][0] != exp[k][0] or not _eq(got[k][1], exp[k][1]) for k in exp
    ):
        run.mismatches.append("etl.read")


def _customer_nations(sf_dir):
    import duckdb

    path = os.path.join(sf_dir, "customer.parquet")
    return duckdb.sql(f"SELECT c_custkey, c_nationkey FROM read_parquet('{path}')").fetchall()


def _eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


WORKLOADS = {"query_mix": QueryMix, "etl_ingest": EtlIngest}
