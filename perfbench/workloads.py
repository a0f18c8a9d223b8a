"""The benchmark's two workloads and the run that drives one of them.

Both are closed loops with one client: the next operation starts only
when the previous one has finished.

- ``sync``: Postgres -> ``PsqlCopySource`` -> ``SyncEngine`` -> DuckDB.
  The *load* is a full ``sync_all()`` of the eight source tables into an
  empty lake plus ``publish_incremental`` of every primary-key table
  into an empty DuckDB file. Each timed *operation* is one incremental
  cycle: a seeded change batch is applied to Postgres (untimed), then
  ``sync_all()`` and publish run again.
- ``query_mix``: the *load* is the compacted-copy fill of the ten input
  tables (``sources.tables.load_table``). Each timed *operation* is one
  pass over ``QUERIES``, each built with ``fn(spark, sf_dir)`` and
  executed with ``collect()``; the collected rows are what the DuckDB
  oracle later checks.

Set-up is repeated ``SETUP_REPS`` times per run and reported as a
median (``setup_s``): a fresh SparkSession, plus, for ``sync``, a source
database cloned from the seeded template and an empty lake and DuckDB
file. The load (``load_s``) is the first real work in a fresh JVM, as
it is for a command-line invocation; it runs once per run. One untimed
warm-up operation follows it: a cycle, or the query pass run three
queries at a time. Correctness checks
run after the timed loop and are never timed.
"""

from __future__ import annotations

import contextlib
import os
from concurrent.futures import ThreadPoolExecutor
import shutil
import statistics
import subprocess
import sys
import time

import datagen
import measure
from measure import Tracer

SF = 0.01
SETUP_REPS = 3
NUM_BUCKETS = 16
CHANGE_FRACTION = 0.005  # of orders inserted per cycle; 2x that are updated
DUCKDB_MEMORY = "1GB"
PUBLISHED = ["nation", "supplier", "part", "customer", "orders", "lineitem", "events"]
ACTIONS = ["created", "appended", "merged", "reloaded", "noop"]
MODULES = [
    "relational", "analytics", "windows", "syncshapes", "dedup",
    "similarity", "graph", "multimodal", "eventwindows",
]
# Every operator module the registry loads for these shapes, and the
# slowest queries of the open roadmap items (graph, dedup, multimodal).
# Twelve, not more, so that a run's warm-up pass plus its timed pass fit
# the benchmark's time budget. The similarity representative is
# sim_knn_graph_mutual: the cosine top-k family (sim_topk_ivfpq,
# sim_topk_pq) can disagree with its oracle on some inputs (NOTES.md).
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q21_waiting_suppliers",
    "text_tfidf_top_terms", "window_running_frame", "sync_snapshot_cdc",
    "dedup_containment", "sim_knn_graph_mutual", "graph_pagerank",
    "graph_triangle_count", "multimodal_raw_frame_stats", "events_sessionize",
]

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: work directories, the Spark session,
    the Postgres server, failure counts and (when tracing) the spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.tracer = Tracer(f"{workload}-{seed}") if trace else None
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.pg = None
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.load_s: list[float] = []
        self.compact_s: list[float] = []
        self.op_s: list[float] = []
        self.op_cpu_s: list[float] = []
        self.notes: dict = {}
        self.peak_rss = 0

    # -- bookkeeping -----------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")
        return ok

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def cpu_seconds(self) -> float:
        roots = [os.getpid()]
        if self.pg is not None:
            roots.append(self.pg.postmaster_pid())
        return measure.tree_cpu_seconds(roots)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ---------------------------------------------------------
    def start_spark(self) -> None:
        from pgwarehouse_spark.session import configure_for_oracle, get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            },
        )
        configure_for_oracle(self.spark)
        self.session_s.append(time.perf_counter() - t0)

    def set_job_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def jobs_in_group(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    # -- timed regions ---------------------------------------------------
    @contextlib.contextmanager
    def measured(self):
        """Wrap the timed regions: layer spans when tracing, and the
        peak-RSS sampler over this process tree (driver with DuckDB,
        JVM, Python workers)."""
        import layers

        undo = layers.install(self) if self.tracer else []
        try:
            with measure.RssSampler([os.getpid()]) as rss:
                yield
        finally:
            for u in reversed(undo):
                u()
        self.peak_rss = max(self.peak_rss, rss.peak)

    def timed(self, root: str, fn) -> float:
        t0 = time.perf_counter()
        with self.span(root):
            fn()
        return time.perf_counter() - t0

    def loop(self, before_op, op) -> None:
        """Closed loop for ``seconds``: ``before_op`` (untimed) then ``op``
        (timed, wall and CPU), at least one operation."""
        log("timed loop")
        deadline = time.perf_counter() + self.seconds
        while True:
            before_op()
            c0 = self.cpu_seconds()
            self.op_s.append(self.timed("op", op))
            self.op_cpu_s.append(self.cpu_seconds() - c0)
            if time.perf_counter() >= deadline:
                break
        log(f"{len(self.op_s)} operations; checking outputs")

    def close(self) -> None:
        """Stop Spark and wait for its JVM (which takes the Python
        workers with it), then stop Postgres."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None
        if self.pg is not None:
            self.pg.stop()
            self.pg = None

    # -- result ----------------------------------------------------------
    def end_to_end(self) -> dict:
        med = statistics.median
        return {
            "setup_s": {"value": med(self.setup_s), "unit": "s"},
            "load_s": {"value": med(self.load_s), "unit": "s"},
            "op_s": {"value": med(self.op_s), "unit": "s"},
            "op_cpu_s": {"value": med(self.op_cpu_s), "unit": "cpu-s"},
        }


# -- sync --------------------------------------------------------------------

class SyncBench:
    """One source database, lake and DuckDB file, and the engine on them."""

    def __init__(self, run: Run, tables: dict, db: str, template: str):
        self.run, self.db, self.template = run, db, template
        self.lake = run.path(db, "lake")
        self.duck = run.path(db, "duck", "wh.duckdb")
        self.engine = None
        self.results: list = []
        self.sync_s: list[float] = []
        self.publish_s: list[float] = []
        run.pg.psql(f"CREATE DATABASE {template}")
        run.pg.psql(db=template, script=datagen.seed_script(tables))

    def reset(self) -> None:
        """Source cloned from the template; empty lake and DuckDB file."""
        from pgwarehouse_spark.catalog import TableSpec
        from pgwarehouse_spark.sync.duckdb_sink import DuckDBWarehouse
        from pgwarehouse_spark.sync.engine import SyncEngine
        from pgwarehouse_spark.sync.psql import PsqlCopySource

        run = self.run
        run.pg.clone_db(self.template, self.db)
        shutil.rmtree(run.path(self.db), ignore_errors=True)
        os.makedirs(os.path.dirname(self.duck))
        src = PsqlCopySource(
            run.path(self.db, "staging"), host=run.pg.sock, user="postgres", dbname=self.db,
        )
        specs = {
            t: TableSpec(name=t, transactional=(t == "orders"))
            for t in datagen.SYNC_TABLES
        }
        self.engine = SyncEngine(run.spark, src, self.lake, specs=specs,
                                 num_buckets=NUM_BUCKETS)
        self.wh = DuckDBWarehouse(self.duck, staging_dir=run.path(self.db, "duck-staging"))

    def sync_and_publish(self) -> None:
        """``sync_all`` (one psql stream at a time), then publish every
        primary-key table into DuckDB."""
        from pgwarehouse_spark.sync import jdbc_sink

        run, eng = self.run, self.engine
        t0 = time.perf_counter()
        self.results = eng.sync_all(parallel=1)
        t1 = time.perf_counter()
        for r in self.results:
            run.check(not r.action.startswith("error"), f"sync {r.table}: {r.action}")
        for t in PUBLISHED:
            with run.span("publish.table", table=t):
                try:
                    jdbc_sink.publish_incremental(
                        run.spark, eng.read_table(t), self.wh, t, eng.spec(t).primary_key,
                    )
                    run.check(True, f"publish {t}")
                except Exception as exc:  # counted; the loop keeps running
                    run.check(False, f"publish {t}: {exc!r}")
        self.sync_s.append(t1 - t0)
        self.publish_s.append(time.perf_counter() - t1)

    def apply(self, changes: "datagen.ChangeStream") -> dict:
        script, counts = changes.batch_script()
        self.run.pg.psql(db=self.db, script=script)
        return counts

    def _duck(self):
        import duckdb

        con = duckdb.connect(self.duck, read_only=True)
        con.execute(f"SET memory_limit='{DUCKDB_MEMORY}'")
        return con

    def check_state(self) -> None:
        """``verify()`` on every table, and DuckDB row counts equal to
        the lake's."""
        run, eng = self.run, self.engine
        # untimed: verify the tables side by side to keep the run short
        with ThreadPoolExecutor(max_workers=4) as ex:
            futures = {t: ex.submit(eng.verify, t) for t in datagen.SYNC_TABLES}
        for t, fut in futures.items():
            res = fut.result()
            run.check(res["ok"], f"verify {t}: {res}")
        con = self._duck()
        try:
            for t in PUBLISHED:
                n_duck = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                n_lake = eng.count_table(t)
                run.check(n_duck == n_lake, f"duckdb {t}: {n_duck} rows, lake {n_lake}")
        finally:
            con.close()

    def stale_rows(self) -> int:
        """DuckDB ``orders`` rows whose ``updated_at`` differs from the
        lake's: updates that the append-only publish never propagates."""
        lake = self.engine.read_table("orders").select("o_orderkey", "updated_at").toPandas()
        con = self._duck()
        try:
            con.register("lake_orders", lake)
            return con.execute(
                "SELECT count(*) FROM orders d JOIN lake_orders l "
                "ON d.o_orderkey = l.o_orderkey WHERE d.updated_at <> l.updated_at"
            ).fetchone()[0]
        finally:
            con.close()


def run_sync(run: Run) -> None:
    from pgserver import PgServer

    log("generating inputs, seeding postgres")
    tables = datagen.generate(run.seed, SF)
    run.pg = PgServer(run.path("pg"))
    run.pg.start()
    main = SyncBench(run, tables, "src", "template_src")
    run.notes["lake"] = main.lake

    for _ in range(SETUP_REPS):
        log("set-up")
        t0 = time.perf_counter()
        run.start_spark()
        main.reset()
        run.setup_s.append(time.perf_counter() - t0)

    changes = datagen.ChangeStream(run.seed, tables, CHANGE_FRACTION)
    stale: list[int] = []
    batches: list[dict] = []

    def before_op():
        if batches:
            stale.append(main.stale_rows())  # after the previous cycle
        batches.append(main.apply(changes))

    with run.measured():
        log("load")
        run.load_s.append(run.timed("load", main.sync_and_publish))
        loaded = sum(r.rows for r in main.results)
        source_rows = sum(tables[t].num_rows for t in datagen.SYNC_TABLES)
        run.check(loaded == source_rows, f"load moved {loaded} rows, source has {source_rows}")
        csv_mb = sum(
            measure.gzip_isize(p)
            for p in measure.dir_files(run.path("src", "staging"), ".csv.gz")
        ) / 2**20
        log("warm-up cycle")
        before_op()
        main.sync_and_publish()
        run.loop(before_op, main.sync_and_publish)
    stale.append(main.stale_rows())
    main.check_state()

    load_sync_s = main.sync_s[0]
    n_ops = len(run.op_s)
    run.notes.update(
        source_rows=source_rows,
        load_sync_all_s=load_sync_s,
        load_publish_s=main.publish_s[0],
        load_csv_mb=csv_mb,
        load_rows_per_s=source_rows / load_sync_s,
        load_rows_per_h=source_rows / load_sync_s * 3600,
        load_csv_mb_per_h=csv_mb / load_sync_s * 3600,
        cycle_sync_all_s=statistics.median(main.sync_s[-n_ops:]),
        cycle_publish_s=statistics.median(main.publish_s[-n_ops:]),
        batch=batches[-1],
        stale_rows_per_cycle=stale,
        stale_rows=stale[-1],
    )


# -- query_mix ---------------------------------------------------------------

class _Collected:
    """A finished query result in the shape ``oraclecheck.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def run_query_mix(run: Run) -> None:
    from pgwarehouse_spark import registry
    from pgwarehouse_spark.oraclecheck import compare, duckdb_conn
    from pgwarehouse_spark.sources import tables as tables_mod

    log("generating inputs")
    sf_dir = run.path("data")
    datagen.write_parquet(datagen.generate(run.seed, SF), sf_dir)
    specs = registry.all_queries()

    def fill():
        for name in datagen.ALL_TABLES:
            tables_mod.load_table(run.spark, sf_dir, name)

    for _ in range(SETUP_REPS):
        log("set-up")
        t0 = time.perf_counter()
        run.start_spark()
        run.setup_s.append(time.perf_counter() - t0)

    log("load (compacted-copy fill)")
    shutil.rmtree(tables_mod._COMPACT_ROOT, ignore_errors=True)
    with run.measured():
        run.load_s.append(run.timed("load", fill))
    run.compact_s.append(run.load_s[-1])

    results: dict[str, _Collected] = {}

    def one_pass():
        for q in QUERIES:
            fn = specs[q].fn
            module = fn.__module__.rsplit(".", 1)[-1]
            group = f"query:{q}" if run.tracer else None
            try:
                with run.span("query.build", query=q, module=module) as s:
                    if group:
                        run.set_job_group(group + ":build")
                    df = fn(run.spark, sf_dir)
                    if group:
                        s.attrs["jobs"] = run.jobs_in_group(group + ":build")
                with run.span("query.exec", query=q, module=module):
                    if group:
                        run.set_job_group(group + ":exec")
                    rows = df.collect()
                results[q] = _Collected(df.columns, rows)
                run.check(True, q)
            except Exception as exc:  # counted; the pass continues
                run.check(False, f"{q}: {exc!r}")
            finally:
                if group:
                    run.set_job_group(None)

    def warm(q):
        try:
            specs[q].fn(run.spark, sf_dir).collect()
        except Exception as exc:  # warm-up only; the timed pass counts failures
            log(f"warm-up {q}: {exc!r}")

    # Three queries at a time: JIT and code generation get as warm as
    # after a sequential pass, in about 60% of its wall time.
    log("warm-up pass")
    with ThreadPoolExecutor(max_workers=3) as ex:
        for fut in [ex.submit(warm, q) for q in QUERIES]:
            fut.result()
    with run.measured():
        run.loop(lambda: None, one_pass)

    con = duckdb_conn(sf_dir)
    try:
        con.execute(f"SET memory_limit='{DUCKDB_MEMORY}'")
        con.execute(f"SET temp_directory='{run.path('duck-tmp')}'")
        for q in QUERIES:
            if q not in results:
                run.check(False, f"{q}: no result to check")
                continue
            rep = compare(results[q], con, specs[q].oracle)
            run.check(rep["ok"], f"oracle {q}: {rep}")
    finally:
        con.close()


def report(run: Run) -> None:
    """Human-readable lines ahead of the JSON result: each end-to-end
    metric with its sample count, the failure share, and the notes."""
    for name, values, unit in [
        ("setup_s", run.setup_s, "s"),
        ("load_s", run.load_s, "s"),
        ("op_s", run.op_s, "s"),
        ("op_cpu_s", run.op_cpu_s, "cpu-s"),
    ]:
        if values:
            print(f"# {run.workload} {name} {unit} " + " ".join(
                f"{k}={v:.4g}" for k, v in measure.summarize(values).items())
                + " samples=" + ",".join(f"{v:.3f}" for v in values))
    print(f"# {run.workload} peak_rss_mb MB value={run.peak_rss / 2**20:.1f} n=1")
    share = run.failed / run.attempted if run.attempted else 1.0
    print(f"# {run.workload} failed_share ratio value={share:.4g} "
          f"failed={run.failed} attempted={run.attempted}")
    for k, v in sorted(run.notes.items()):
        if k != "lake":
            print(f"# {run.workload} note {k}={v}")


RUNNERS = {"sync": run_sync, "query_mix": run_query_mix}
