"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded here, in the benchmark, around calls into each
module's public functions; the package itself is not changed. A wrapper
must rebind a name where the caller looks it up: ``sync/engine.py``
imports ``write_bucketed`` and ``merge_into_bucketed`` by name, so those
two are rebound in ``pgwarehouse_spark.sync.engine``, not in
``sync.merge``.

Layer metrics are per timed operation: totals over the spans under the
run's ``op`` spans, divided by the number of operations. The ``load.*``
metrics come from the spans under the run's ``load`` span instead: the
full sync into the empty lake, in the ``sync`` workload.
"""

from __future__ import annotations

import glob
import os
import statistics

import measure

MB = 2**20


def install(run) -> list:
    """Install the span wrappers; returns undo callables."""
    from pgwarehouse_spark.sync import duckdb_sink, engine as engine_mod, psql, txlog

    tr = run.tracer
    csv_bytes: dict[str, int] = {}  # table -> uncompressed bytes of its last extract

    def sync_call(s, args):
        run.set_job_group(f"span:{s.id}")

    def sync_return(s, args, result):
        s.attrs.update(table=args[1], action=result.action, rows=result.rows,
                       jobs=run.jobs_in_group(f"span:{s.id}"))
        run.set_job_group(None)

    def extract_return(s, args, result):
        src, table = args[0], args[1]
        chunks = glob.glob(os.path.join(src._staging(table), "*.csv.gz"))
        csv = sum(measure.gzip_isize(p) for p in chunks)
        csv_bytes[table] = csv
        s.attrs.update(table=table, rows=result[1], csv_bytes=csv,
                       staged_bytes=sum(os.path.getsize(p) for p in chunks))

    def snapshot_before(root_of):
        def on_call(s, args):
            s.attrs["before"] = measure.dir_files(root_of(args))
        return on_call

    def written_after(root_of, buckets=False):
        def on_return(s, args, result):
            root = root_of(args)
            s.attrs["written"] = measure.bytes_written(
                s.attrs.pop("before", {}), measure.dir_files(root))
            s.attrs["delta_csv"] = csv_bytes.get(os.path.basename(root), 0)
            if buckets:
                s.attrs.update(touched=result, num_buckets=args[4])
        return on_return

    Src, Eng = psql.PsqlCopySource, engine_mod.SyncEngine
    Tx, Duck = txlog.TxTable, duckdb_sink.DuckDBWarehouse
    return [
        tr.wrap(Eng, "sync", "engine.sync", on_call=sync_call, on_return=sync_return),
        tr.wrap(Eng, "watermark", "engine.watermark"),
        tr.wrap(Src, "extract_to_staging", "psql.extract", on_return=extract_return),
        tr.wrap(Src, "dump_schema", "psql.probe"),
        tr.wrap(Src, "sql_rows", "psql.probe"),
        tr.wrap(engine_mod, "write_bucketed", "merge.write_bucketed",
                on_call=snapshot_before(lambda a: a[1]),
                on_return=written_after(lambda a: a[1])),
        tr.wrap(engine_mod, "merge_into_bucketed", "merge.merge_into_bucketed",
                on_call=snapshot_before(lambda a: a[1]),
                on_return=written_after(lambda a: a[1], buckets=True)),
        tr.wrap(Tx, "create", "txlog.create",
                on_call=snapshot_before(lambda a: a[2]),
                on_return=written_after(lambda a: a[2])),
        tr.wrap(Tx, "merge", "txlog.merge",
                on_call=snapshot_before(lambda a: a[0].root),
                on_return=written_after(lambda a: a[0].root)),
        tr.wrap(Duck, "write_full", "duckdb_sink.write_full"),
        tr.wrap(Duck, "append", "duckdb_sink.append"),
    ]


def spans_under(spans: list, root_name: str) -> tuple[list, list]:
    """(the root spans called ``root_name``, every span below one of them)."""
    by_id = {s.id: s for s in spans}
    roots = [s for s in spans if s.name == root_name]
    root_ids = {s.id for s in roots}

    def below(s):
        p = s.parent
        while p is not None:
            if p in root_ids:
                return True
            p = by_id[p].parent
        return False

    return roots, [s for s in spans if below(s)]


def lake_files(lake: str | None) -> int:
    """Parquet files a full scan of the lake's plain bucketed tables reads."""
    if not lake or not os.path.isdir(lake):
        return 0
    n = 0
    for t in os.listdir(lake):
        root = os.path.join(lake, t)
        if not os.path.isdir(os.path.join(root, "manifest")):
            n += len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    return n


def tx_versions(lake: str | None) -> int:
    if not lake or not os.path.isdir(lake):
        return 0
    return sum(
        len(os.listdir(os.path.join(lake, t, "manifest")))
        for t in os.listdir(lake)
        if os.path.isdir(os.path.join(lake, t, "manifest"))
    )


def per_layer(run, queries: list[str], modules: list[str], actions: list[str]) -> dict:
    roots, spans = spans_under(run.tracer.spans, "op")
    n = max(1, len(roots))
    selfs = measure.self_times(run.tracer.spans)

    def named(name, pool=None):
        return [s for s in (spans if pool is None else pool) if s.name == name]

    def total(name, key=None, pool=None):
        ss = named(name, pool)
        if key is None:
            return sum(s.duration for s in ss)
        return sum(s.attrs.get(key, 0) for s in ss)

    m: dict[str, tuple[float, str]] = {}
    extract_s = total("psql.extract")
    csv, staged = total("psql.extract", "csv_bytes"), total("psql.extract", "staged_bytes")
    m["psql.extract_s"] = (extract_s / n, "s")
    m["psql.extract_calls"] = (len(named("psql.extract")) / n, "count")
    m["psql.extract_rows"] = (total("psql.extract", "rows") / n, "rows")
    m["psql.csv_mb"] = (csv / MB / n, "MB")
    m["psql.staged_mb"] = (staged / MB / n, "MB")
    m["psql.compression_ratio"] = (csv / staged if staged else 0.0, "ratio")
    m["psql.extract_mb_per_s"] = (csv / MB / extract_s if extract_s else 0.0, "MB/s")
    m["psql.extract_py_cpu_s"] = (sum(s.cpu for s in named("psql.extract")) / n, "cpu-s")
    m["psql.probe_s"] = (total("psql.probe") / n, "s")
    m["psql.probe_calls"] = (len(named("psql.probe")) / n, "count")

    syncs = named("engine.sync")
    for a in actions:
        m[f"engine.sync_s.{a}"] = (
            sum(s.duration for s in syncs if s.attrs.get("action") == a) / n, "s")
    m["engine.watermark_s"] = (total("engine.watermark") / n, "s")
    m["engine.watermark_calls"] = (len(named("engine.watermark")) / n, "count")
    m["engine.self_s"] = (sum(selfs[s.id] for s in syncs) / n, "s")
    m["engine.spark_jobs"] = (total("engine.sync", "jobs") / n, "count")

    writes = named("merge.write_bucketed") + named("merge.merge_into_bucketed")
    merges = named("merge.merge_into_bucketed")
    delta_csv = sum(s.attrs.get("delta_csv", 0) for s in writes)
    nb = sum(s.attrs.get("num_buckets", 0) for s in merges)
    m["merge.write_bucketed_s"] = (total("merge.write_bucketed") / n, "s")
    m["merge.merge_into_bucketed_s"] = (total("merge.merge_into_bucketed") / n, "s")
    m["merge.bucket_touch_ratio"] = (
        sum(s.attrs.get("touched", 0) for s in merges) / nb if nb else 0.0, "ratio")
    m["merge.write_amp"] = (
        sum(s.attrs.get("written", 0) for s in writes) / delta_csv if delta_csv else 0.0,
        "ratio")
    m["merge.table_files"] = (lake_files(run.notes.get("lake")), "count")

    m["txlog.create_s"] = (total("txlog.create") / n, "s")
    m["txlog.merge_s"] = (total("txlog.merge") / n, "s")
    m["txlog.bytes_written"] = (
        (total("txlog.create", "written") + total("txlog.merge", "written")) / n, "bytes")
    m["txlog.versions"] = (tx_versions(run.notes.get("lake")), "count")

    m["publish.table_s"] = (total("publish.table") / n, "s")
    m["duckdb_sink.write_full_s"] = (total("duckdb_sink.write_full") / n, "s")
    m["duckdb_sink.append_s"] = (total("duckdb_sink.append") / n, "s")
    m["duckdb_sink.stale_rows"] = (run.notes.get("stale_rows", 0), "rows")

    m["process.peak_rss_mb"] = (run.peak_rss / MB, "MB")
    m["session.start_s"] = (statistics.median(run.session_s), "s")
    m["tables.compact_fill_s"] = (
        statistics.median(run.compact_s) if run.compact_s else 0.0, "s")

    builds, execs = named("query.build"), named("query.exec")
    for mod in modules:
        mb = [s for s in builds if s.attrs.get("module") == mod]
        me = [s for s in execs if s.attrs.get("module") == mod]
        m[f"operators.{mod}.build_s"] = (sum(s.duration for s in mb) / n, "s")
        m[f"operators.{mod}.exec_s"] = (sum(s.duration for s in me) / n, "s")
        m[f"operators.{mod}.build_jobs"] = (sum(s.attrs.get("jobs", 0) for s in mb) / n, "count")
    for q in queries:
        m[f"query.{q}.build_s"] = (
            sum(s.duration for s in builds if s.attrs.get("query") == q) / n, "s")
        m[f"query.{q}.exec_s"] = (
            sum(s.duration for s in execs if s.attrs.get("query") == q) / n, "s")

    # the load: totals over the one load of the run (zero without one)
    loads, lspans = spans_under(run.tracer.spans, "load")
    load_sync = total("engine.sync", pool=lspans)
    load_extract = total("psql.extract", pool=lspans)
    m["load.sync_s"] = (load_sync, "s")
    m["load.rows_per_s"] = (
        total("engine.sync", "rows", lspans) / load_sync if load_sync else 0.0, "rows/s")
    m["load.publish_s"] = (total("publish.table", pool=lspans), "s")
    m["load.extract_s"] = (load_extract, "s")
    m["load.extract_mb_per_s"] = (
        total("psql.extract", "csv_bytes", lspans) / MB / load_extract
        if load_extract else 0.0, "MB/s")
    m["load.write_bucketed_s"] = (total("merge.write_bucketed", pool=lspans), "s")
    m["load.txlog_create_s"] = (total("txlog.create", pool=lspans), "s")
    m["load.duckdb_write_full_s"] = (total("duckdb_sink.write_full", pool=lspans), "s")

    m["trace.op_s"] = (statistics.median(r.duration for r in roots), "s")
    m["trace.uncovered_share"] = (
        statistics.median(measure.uncovered_share(r, run.tracer.spans) for r in roots),
        "ratio")
    m["trace.load_uncovered_share"] = (
        measure.uncovered_share(loads[0], run.tracer.spans) if lspans else 0.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
