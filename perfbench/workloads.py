"""The workloads. Each drives the package's public functions as a
closed loop with one client: the next operation starts only after the
previous one returned. Every operation is attempted once; an exception
counts as a failure, is never retried, and fails the run.

Each workload warms up untimed (and checks what the warm-up produced),
then times its operations: ``etl_batch`` until ``--seconds`` have passed,
``incremental_upsert`` a fixed number of arrival cycles, so that every
run measures the same table states (``--seconds`` only caps it).
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time
import traceback

import gen
from spans import NullRecorder, Recorder

KEYS = ["city", "position"]
# etl_batch: 8 reference-shaped city files of this many rows each
ETL_ROWS_PER_CITY = 20_000
ETL_WARMUP_PASSES = 2
# catalog reads: TPC-H-shaped tables at this scale (lineitem ~6M*SF rows)
CATALOG_SF = 0.005
CATALOG_QUERIES = (
    "flagship_avg_price_by_year", "window_running_customer_spend",
    "q13_customer_order_distribution",
)
# incremental_upsert: arrivals of this many raw rows, 20 % of their
# building rows revisiting live keys; UPSERT_WARMUP_CYCLES untimed
# cycles (the first takes 1.5x, the second 1.2x as long as the later
# ones: JIT), then this many timed cycles, stopped early only if they
# outlast UPSERT_CAP x --seconds
UPSERT_ARRIVAL_ROWS = 5_000
UPSERT_WARMUP_CYCLES = 2
UPSERT_TIMED_CYCLES = 6
UPSERT_CAP = 4


class Outcome:
    ok = False


class Run:
    """State of one benchmark run: the session, the recorder, the
    samples of each operation kind and the outcome of every check."""

    def __init__(self, seed: int, seconds: float, work: str, traced: bool):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.traced = traced
        self.kinds: tuple[str, ...] = ()  # operation kinds the workload times
        self.rec = NullRecorder()
        self.spark = None
        self.timed = False
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.gen_s = 0.0        # input generation: not part of set-up
        self.check_s = 0.0      # output checks: not part of set-up
        self.sync_s = 0.0       # writing dirty pages out: not part of set-up
        self.setup_s = 0.0
        self.first_timed_span = 0
        self.extra: dict[str, float] = {}
        self.host: dict[str, float] = {}

    # -- session ------------------------------------------------------------
    def start_session(self) -> None:
        from house_price_etl_pipeline_spark.session import get_spark

        self.settle()           # the generated inputs
        nproc = len(os.sched_getaffinity(0))
        rec = Recorder() if self.traced else NullRecorder()
        with rec.span("session.get_spark"):
            self.spark = get_spark(cores=nproc)
        if self.traced:
            rec.sc = self.spark.sparkContext
        self.rec = rec
        self.nproc = nproc

    def settle(self) -> None:
        """Write every dirty page to disk, so that the writeback of the
        inputs and of the warm-up's files does not land in timed ops (an
        fsync on ext4 also waits for other dirty data of the file system)."""
        t0 = time.perf_counter()
        os.sync()
        self.sync_s += time.perf_counter() - t0

    def generate(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.gen_s += time.perf_counter() - t0

    # -- operations ---------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        """One attempted operation. Yields an Outcome whose ``ok`` is set
        when the body returned; an exception is counted and reported."""
        self.rec.new_op()
        self.attempted += 1
        out = Outcome()
        t0 = time.perf_counter()
        try:
            with self.rec.span("op." + kind):
                yield out
        except Exception:          # counted, never retried; fails the run
            self.failed += 1
            self.failures.append(f"a {kind} operation raised")
            print(f"[{kind}] operation failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return
        dt = time.perf_counter() - t0
        out.ok = True
        if self.timed:
            self.samples.setdefault(kind, []).append(dt * 1000.0)

    def check(self, cond: bool, what: str) -> None:
        if not cond:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    @contextlib.contextmanager
    def checking(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def begin_timed(self, limit_s: float | None = None) -> None:
        """Warm-up done: the session is ready for the first timed op.
        ``more()`` turns false after ``limit_s`` (default ``--seconds``)."""
        from host import cpu_probe, cpu_ticks, process_age_s, spark_probe

        self.settle()
        self.setup_s = (process_age_s() - self.gen_s - self.check_s
                        - self.sync_s)
        self.host["cpu1_start_s"] = cpu_probe()
        self.host["spark_start_s"] = spark_probe(self.spark, self.nproc)
        self.first_timed_span = len(getattr(self.rec, "spans", []))
        self.ticks = cpu_ticks()
        self.timed = True
        self.deadline = time.perf_counter() + (limit_s or self.seconds)

    def more(self) -> bool:
        return time.perf_counter() < self.deadline

    def end_timed(self) -> None:
        from host import cpu_probe, cpu_ticks, peak_rss_mb, spark_probe

        self.timed = False
        steal, total = (b - a for a, b in zip(self.ticks, cpu_ticks()))
        self.host["steal_share"] = steal / max(1, total)
        self.host["cpu1_end_s"] = cpu_probe()
        self.host["spark_end_s"] = spark_probe(self.spark, self.nproc)
        self.extra["peak_rss_mb"] = peak_rss_mb()
        for kind in self.kinds:
            self.check(bool(self.samples.get(kind)), f"no timed {kind} sample")

    def pct(self, kind: str, p: int) -> float | None:
        """p-th percentile of the timed samples of ``kind``: 0 for a kind
        the workload does not time, None (and a failed run) for one it
        times but has no sample of."""
        xs = self.samples.get(kind, [])
        if not xs:
            return None if kind in self.kinds else 0.0
        if len(xs) == 1:
            return xs[0]
        return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def _close(a, b, tol: float = 0.011) -> bool:
    if a is None or b is None or a != a or b != b:
        return (a is None or a != a) and (b is None or b != b)
    return abs(a - b) <= tol


def check_flagship(run: Run, where: str, rows, expect: dict) -> None:
    got = {r["year"]: r["avg_unit_price_ping"] for r in rows}
    run.check(sorted(got) == sorted(expect)
              and all(_close(got[y], expect[y]) for y in expect),
              f"{where}: flagship {got} != expected {expect}")


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _data_files(path: str) -> int:
    return sum(1 for d, _, files in os.walk(path, followlinks=True)
               for f in files if f.endswith(".parquet"))


# --------------------------------------------------------------------------
# etl_batch
# --------------------------------------------------------------------------

def etl_batch(run: Run) -> None:
    from house_price_etl_pipeline_spark.operators.etl import (
        avg_price_by_year, clean_building_transactions,
        clean_land_transactions, materialize_partitioned)
    from house_price_etl_pipeline_spark.sources.csv_house import load_raw_csv

    raw_dir = os.path.join(run.work, "raw")
    exp = run.generate(gen.house_city_files, run.seed, raw_dir,
                       ETL_ROWS_PER_CITY)
    out_b = os.path.join(run.work, "building")
    out_l = os.path.join(run.work, "land")
    run.kinds = ("etl", "query")
    run.start_session()
    spark, rec = run.spark, run.rec
    files_written: list[int] = []

    def write(df, path):
        with rec.span("etl.materialize_partitioned"):
            materialize_partitioned(df, path, "overwrite")
        if rec.enabled:
            files_written.append(_data_files(path))

    def etl_op():
        with run.op("etl"):
            with rec.span("csv_house.load_raw_csv"):
                raw = load_raw_csv(spark, os.path.join(raw_dir, "*.csv"))
            with rec.span("etl.clean_building_transactions"):
                building = clean_building_transactions(raw)
            with rec.span("etl.clean_land_transactions"):
                land = clean_land_transactions(raw)
            write(building, out_b)
            write(land, out_l)

    def query(city):
        with run.op("query") as q:
            with rec.span("etl.avg_price_by_year"):
                rows = avg_price_by_year(spark.read.parquet(out_b),
                                         city).collect()
        if q.ok:
            with run.checking():
                check_flagship(run, f"etl {city}", rows, exp.flagship[city])

    cities = sorted(exp.flagship)
    # warm-up: the second ETL op and query round still run 1.4x slower
    # than the later ones (JIT), so the timed passes start at the third
    for _ in range(ETL_WARMUP_PASSES):
        etl_op()
        for city in cities:
            query(city)
    run.begin_timed()
    # each pass queries every city over the table the previous pass
    # wrote (until the time is up), then rewrites it
    while run.more():
        for city in cities:
            if not run.more():
                break
            query(city)
        etl_op()
    run.end_timed()

    with run.checking():
        for path, want in ((out_b, exp.building_rows), (out_l, exp.land_rows)):
            got = {r["city"]: r["count"] for r in
                   spark.read.parquet(path).groupBy("city").count().collect()}
            run.check(got == want, f"etl row counts {path}: {got} != {want}")
    etl_ms = run.samples.get("etl", [])
    run.extra.update({
        "etl_rows_per_s":
            exp.raw_rows / (statistics.median(etl_ms) / 1000.0) if etl_ms else None,
        "stored_bytes_per_input_byte":
            (_tree_bytes(out_b) + _tree_bytes(out_l)) / exp.raw_bytes,
        "input_rows_per_pass": exp.raw_rows,
    })
    run.extra["rows_per_s"] = run.extra["etl_rows_per_s"]
    if files_written:
        run.extra["etl.materialize_partitioned.output_files"] = \
            statistics.mean(files_written)


# --------------------------------------------------------------------------
# catalog reads (run beside the ingest in incremental_upsert)
# --------------------------------------------------------------------------

def _canon(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _result_key(columns, rows) -> tuple[int, int]:
    """(row count, order-insensitive hash of the rows' canonical values,
    columns taken in name order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    return len(canon), hash(tuple(canon))


class CatalogReads:
    """Interactive analytic queries from ``plans.catalog`` over
    TPC-H-shaped parquet, issued one at a time in seeded shuffled rounds
    and materialized with the ``noop`` sink."""

    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(run.work, "tpch")
        self.counts = run.generate(gen.tpch_tables, run.seed, self.data,
                                   CATALOG_SF)
        self.rng = random.Random(run.seed)
        self.order: list[str] = []

    def warm_and_check(self) -> None:
        """Run every query once, collect it and match it against its
        DuckDB oracle over the same parquet files."""
        import duckdb

        from house_price_etl_pipeline_spark.plans.catalog import load_all

        run = self.run
        self.registry = load_all()
        con = duckdb.connect()
        con.execute("SET autoinstall_known_extensions=false")
        con.execute("SET autoload_known_extensions=false")
        con.execute("SET threads=1")
        for table in self.counts:
            path = os.path.join(self.data, table + ".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for name in self.rng.sample(CATALOG_QUERIES, len(CATALOG_QUERIES)):
            q = self.registry[name]
            with run.op("catalog") as o:
                df = q.fn(run.spark, self.data)
                rows = df.collect()
            if not o.ok:
                continue
            with run.checking():
                cur = con.execute(q.oracle)
                want = _result_key([d[0] for d in cur.description], cur.fetchall())
                got = _result_key(df.columns, rows)
                run.check(got == want and got[0] > 0,
                          f"{name}: rows/hash {got} != oracle {want}")
        con.close()

    def query(self) -> None:
        run, rec = self.run, self.run.rec
        if not self.order:
            self.order = self.rng.sample(CATALOG_QUERIES, len(CATALOG_QUERIES))
        name = self.order.pop()
        with run.op("catalog"):
            with rec.span("catalog.build"):
                df = self.registry[name].fn(run.spark, self.data)
            with rec.span("catalog.execute"):
                df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# incremental_upsert
# --------------------------------------------------------------------------

def incremental_upsert(run: Run) -> None:
    import duckdb
    import pandas as pd

    from house_price_etl_pipeline_spark.operators.etl import (
        avg_price_by_year, clean_building_transactions)
    from house_price_etl_pipeline_spark.streaming import ingest

    sched = run.generate(gen.UpsertSchedule, run.seed,
                         os.path.join(run.work, "stage"),
                         UPSERT_WARMUP_CYCLES + UPSERT_TIMED_CYCLES,
                         UPSERT_ARRIVAL_ROWS)
    landing = os.path.join(run.work, "landing")
    target = os.path.join(run.work, "table")
    ckpt = os.path.join(run.work, "checkpoint")
    os.makedirs(landing)
    catalog = CatalogReads(run)
    run.kinds = ("commit", "query", "catalog", "freshness")
    run.start_session()
    spark, rec = run.spark, run.rec
    catalog.warm_and_check()
    model = gen.TableModel()
    ledger, retracted = [], []
    statuses: list[str] = []
    landed_bytes = timed_bytes = 0
    # per timed cycle: [raw rows landed, ms of its drain + MERGE + DELETE]
    cycles: list[list[float]] = []

    if rec.enabled:
        # the drain's foreachBatch callback resolves upsert_commit_batch
        # through the module, so the wrapper sees every streamed commit
        inner = ingest.upsert_commit_batch

        def traced_commit(*a, **kw):
            with rec.span("ingest.upsert_commit_batch"):
                status = inner(*a, **kw)
            statuses.append(status)
            return status
        ingest.upsert_commit_batch = traced_commit

    def read_after_write(city: str, where: str) -> None:
        with run.op("query") as q:
            with rec.span("ingest.read_upsert_version"):
                snap = ingest.read_upsert_version(spark, target)
            with rec.span("etl.avg_price_by_year"):
                rows = avg_price_by_year(snap, city).collect()
        if q.ok:
            with run.checking():
                check_flagship(run, where, rows, model.flagship(city))

    last_city = None
    merges = deletes = 0
    for i, step in enumerate(sched.steps):
        if step.kind == "land" and run.timed and not run.more():
            left = sum(s.kind == "land" for s in sched.steps[i:])
            print(f"stopped after {UPSERT_CAP} x --seconds with {left} "
                  f"cycles untimed", file=sys.stderr)
            break                      # only whole cycles are timed
        if (step.kind == "land" and merges == UPSERT_WARMUP_CYCLES
                and not run.timed):
            # the first cycles warm up; the rest are timed
            run.begin_timed(UPSERT_CAP * run.seconds)
        if step.kind == "land":
            name = os.path.basename(step.path)
            os.rename(step.path, os.path.join(landing, name))
            t_land = time.perf_counter()
            with run.op("commit") as o:
                with rec.span("ingest.stream_upsert_foreach_batch"):
                    stream = clean_building_transactions(
                        ingest.stream_house_csv(spark, landing))
                    ingest.stream_upsert_foreach_batch(
                        stream, spark, target, ckpt, KEYS,
                        "transaction_date").awaitTermination()
            if o.ok:
                landed_bytes += step.raw_bytes
                if run.timed:
                    cycles.append([step.raw_rows, 0.0])
                    timed_bytes += step.raw_bytes
                    run.samples.setdefault("freshness", []).append(
                        (time.perf_counter() - t_land) * 1000.0)
        elif step.kind == "merge":
            merges += 1
            with run.op("commit") as o:
                with rec.span("ingest.upsert_merge_into"):
                    src = spark.createDataFrame(step.rows,
                                                gen.merge_source_ddl())
                    statuses.append(ingest.upsert_merge_into(
                        spark, target, 1_000_000 + merges, src, KEYS,
                        matched_update="s.transaction_date > t.transaction_date"))
        elif step.kind == "delete":
            deletes += 1
            keys = ", ".join(f"'{k}'" for k in step.keys)
            with run.op("commit") as o:
                with rec.span("ingest.upsert_delete_where"):
                    statuses.append(ingest.upsert_delete_where(
                        spark, target, 2_000_000 + deletes,
                        f"city = '{step.city}' AND position IN ({keys})"))
        else:
            with run.op("optimize") as o:
                with rec.span("ingest.optimize_upsert_target"):
                    ingest.optimize_upsert_target(spark, target)
        if not o.ok:
            continue
        if run.timed and step.kind != "optimize" and cycles:
            cycles[-1][1] += run.samples["commit"][-1]
        model.apply(step)
        if step.kind == "delete":
            retracted.extend((step.city, k) for k in step.keys)
        ledger.extend(step.live)
        last_city = step.city or last_city
        read_after_write(last_city, f"step {i} ({step.kind})")
        if step.kind == "delete":
            catalog.query()            # one interactive query per cycle
    run.end_timed()

    with run.checking():
        got = pd.DataFrame(
            [tuple(r) for r in ingest.read_upsert_version(spark, target).select(
                "city", "position", "transaction_date", "total_price",
                "unit_price_ping").collect()],
            columns=["city", "position", "d", "total", "price"])
        got["d"] = got["d"].map(lambda d: d.toordinal())
        landed = pd.DataFrame(ledger, columns=["city", "position", "d",
                                               "total", "price"])
        for frame in (got, landed):
            frame["total"] = frame["total"].astype("Int64")
        gone = pd.DataFrame(retracted or [("", "")],
                            columns=["city", "position"])
        con = duckdb.connect()
        con.execute("SET threads=1")
        for name, frame in (("got", got), ("landed", landed), ("gone", gone)):
            con.register(name, frame)
        con.execute("""
            CREATE VIEW want AS
              SELECT city, position, d, total,
                     CASE WHEN isnan(price) THEN NULL ELSE price END AS price
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY city, position ORDER BY d DESC) AS rn
                    FROM landed) AS l
              WHERE rn = 1 AND NOT EXISTS (
                SELECT 1 FROM gone AS g
                WHERE g.city = l.city AND g.position = l.position);
            CREATE VIEW have AS
              SELECT city, position, d, total,
                     CASE WHEN isnan(price) THEN NULL ELSE price END AS price
              FROM got;
            CREATE VIEW cmp AS
              SELECT w.*, h.city AS h_city, h.d AS h_d, h.total AS h_total,
                     h.price AS h_price,
                     w.city IS NULL AS extra, h.city IS NULL AS missing,
                     w.d <> h.d OR w.total IS DISTINCT FROM h.total
                       OR abs(w.price - h.price) > 0.011
                       OR (w.price IS NULL) <> (h.price IS NULL) AS differs
              FROM want AS w FULL OUTER JOIN have AS h
                ON w.city = h.city AND w.position = h.position""")
        diff = con.execute("""
            SELECT count(*) FILTER (WHERE missing),
                   count(*) FILTER (WHERE extra),
                   count(*) FILTER (WHERE differs), count(city)
            FROM cmp""").fetchone()
        if diff[:3] != (0, 0, 0):
            print(con.execute("SELECT * FROM cmp WHERE missing OR extra "
                              "OR differs LIMIT 5").fetchall(), file=sys.stderr)
        con.close()
        run.check(diff[:3] == (0, 0, 0) and diff[3] > 0,
                  f"final snapshot vs keep-latest minus retractions: "
                  f"{diff[0]} rows missing, {diff[1]} unexpected, "
                  f"{diff[2]} differing, of {diff[3]}")

    run.extra.update({
        "ingest_rows_per_s": statistics.median(
            rows / (ms / 1000.0) for rows, ms in cycles) if cycles else None,
        "stored_bytes_per_input_byte":
            (_tree_bytes(target + "_versions")) / landed_bytes,
        "ingest.commit_retries":
            float(sum(s == "applied-after-retry" for s in statuses)),
        "ingest.snapshot_files": float(_data_files(target)),
        "timed_landed_bytes": float(timed_bytes),
    })
    run.extra["rows_per_s"] = run.extra["ingest_rows_per_s"]
    if rec.enabled:
        hist = ingest.describe_upsert_history(spark, target).collect()
        run.extra["ingest.files_rewritten"] = float(
            sum(r["files_rewritten"] or 0 for r in hist))
        run.extra["ingest.files_reused"] = float(
            sum(r["files_reused"] or 0 for r in hist))


WORKLOADS = {
    "etl_batch": etl_batch,
    "incremental_upsert": incremental_upsert,
}
