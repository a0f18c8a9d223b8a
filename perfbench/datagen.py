"""Seeded input generator for the benchmark.

Produces the ten tables the registered queries read (the TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``) with the
same column names, types and value domains as the project's parquet
test data, so every query and its DuckDB oracle run unchanged. Row
counts follow the test data's scale-factor rule; the values come from
``numpy.random.Generator(PCG64(seed))``, so the same seed gives the
same inputs.

The module also writes the Postgres side of the sync workloads: DDL for
the eight synced tables, their CSV payloads, and the seeded change
batches the incremental workload applies between cycles.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EPOCH_ORDERS = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EPOCH_EVENTS = np.datetime64("2024-01-01T00:00:00", "us")

SYNC_TABLES = [
    "region", "nation", "supplier", "part", "customer", "orders",
    "lineitem", "events",
]
ALL_TABLES = SYNC_TABLES + ["documents", "embeddings"]


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; deterministic in (seed, sf)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    no = n["orders"]
    out["orders"] = _orders(rng, no, nc)
    out["lineitem"] = _lineitem(rng, n["lineitem"], no, npart, ns)
    out["events"] = _events(rng, n["events"], max(1, nc // 10), 0, EPOCH_EVENTS)
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _orders(rng, no, ncust, key_lo=0) -> pa.Table:
    odate = EPOCH_ORDERS + rng.integers(0, ORDER_DAYS + 1, no).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(key_lo, key_lo + no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ncust, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })


def _lineitem(rng, nl, norders, nparts, nsupp, key_lo=0) -> pa.Table:
    """Lines over orders [key_lo, key_lo + norders). The synced primary
    key is (l_orderkey, l_partkey, l_suppkey, l_linenumber): drawn rows
    repeating that 4-tuple are dropped, while (l_orderkey, l_linenumber)
    repeats as in the test data."""
    cols = {
        "l_orderkey": key_lo + rng.integers(0, norders, nl),
        "l_partkey": rng.integers(0, nparts, nl),
        "l_suppkey": rng.integers(0, nsupp, nl),
        "l_linenumber": rng.integers(1, 8, nl),
    }
    key = np.stack(list(cols.values()), axis=1)
    _, first = np.unique(key, axis=0, return_index=True)
    keep = np.sort(first)
    m = len(keep)
    ship = EPOCH_ORDERS + rng.integers(0, ORDER_DAYS + 95, m).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"][keep], pa.int64()),
        "l_partkey": pa.array(cols["l_partkey"][keep], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"][keep], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"][keep], pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def _events(rng, ne, nusers, id_lo, start) -> pa.Table:
    gaps = rng.exponential(260.0, ne) * 1e6
    ts = start + np.cumsum(gaps).astype("int64").astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(id_lo, id_lo + ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nusers, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def _documents(rng, nd) -> pa.Table:
    """Random word soup with ~5% near-duplicates: an earlier document
    plus the token ``dup``."""
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, nv, dim=64, nlabels=10) -> pa.Table:
    """Unit vectors scattered around ten weak cluster centres."""
    centres = rng.normal(0.0, 1.0, (nlabels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, nlabels, nv)
    v = 0.15 * centres[label] + rng.normal(0.0, 1.0 / np.sqrt(dim), (nv, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group file per table, the test-data layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(
            tb, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, tb.num_rows),
        )


# -- Postgres side ----------------------------------------------------------

_PG_TYPES = {
    pa.int32(): "integer",
    pa.int64(): "bigint",
    pa.float64(): "double precision",
    pa.string(): "text",
    pa.timestamp("us"): "timestamp",
}
PRIMARY_KEYS = {
    "nation": ["n_nationkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
    "events": ["event_id"],
}


def pg_ddl(tables: dict[str, pa.Table]) -> str:
    """CREATE TABLE for the synced tables. ``orders`` gains the
    ``updated_at`` watermark; its default is ``clock_timestamp()`` so a
    row inserted later always carries a later value (see NOTES.md)."""
    stmts = []
    for name in SYNC_TABLES:
        cols = [f"{f.name} {_PG_TYPES[f.type]}" for f in tables[name].schema]
        if name == "orders":
            cols.append("updated_at timestamp NOT NULL DEFAULT clock_timestamp()")
        if name in PRIMARY_KEYS:
            cols.append(f"PRIMARY KEY ({', '.join(PRIMARY_KEYS[name])})")
        stmts.append(f"CREATE TABLE {name} ({', '.join(cols)});")
    return "\n".join(stmts)


def _csv_value(v):
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    return v


def csv_rows(tb: pa.Table) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    cols = [tb.column(i).to_pylist() for i in range(tb.num_columns)]
    for row in zip(*cols):
        w.writerow([_csv_value(v) for v in row])
    return buf.getvalue()


def seed_script(tables: dict[str, pa.Table]) -> str:
    """psql script creating and loading the eight synced tables. Seeded
    ``orders.updated_at`` values lie in the past (order date + 1 day)."""
    parts = [pg_ddl(tables)]
    for name in SYNC_TABLES:
        tb = tables[name]
        if name == "orders":
            od = tb.column("o_orderdate").to_numpy()
            tb = tb.append_column(
                "updated_at",
                pa.array(od + np.timedelta64(1, "D"), pa.timestamp("us")),
            )
        parts.append(f"COPY {name} ({', '.join(tb.column_names)}) FROM STDIN CSV;")
        parts.append(csv_rows(tb) + "\\.")
    parts.append("ANALYZE;")
    return "\n".join(parts) + "\n"


class ChangeStream:
    """Seeded change batches for the incremental workload.

    A batch inserts new orders with their lines, updates existing orders
    (keys drawn with an exponential skew toward the newest), and appends
    events. New keys continue above the current maxima, as a serial key
    would. Updated and inserted orders take ``updated_at`` from
    ``clock_timestamp()``, never from a generated value."""

    def __init__(self, seed: int, base: dict[str, pa.Table], frac: float):
        self.rng = np.random.Generator(np.random.PCG64([seed, 7]))
        self.next_order = base["orders"].num_rows
        self.next_event = base["events"].num_rows
        self.last_ts = np.datetime64(max(base["events"].column("ts").to_pylist()), "us")
        self.ncust = base["customer"].num_rows
        self.nparts = base["part"].num_rows
        self.nsupp = base["supplier"].num_rows
        n = base["orders"].num_rows
        self.new_orders = max(1, int(n * frac))
        self.updates = max(1, int(n * frac * 2))
        self.new_events = max(1, int(base["events"].num_rows * frac * 2))

    def batch_script(self) -> tuple[str, dict[str, int]]:
        rng = self.rng
        lo, k = self.next_order, self.new_orders
        orders = _orders(rng, k, self.ncust, key_lo=lo)
        lines = _lineitem(rng, 4 * k, k, self.nparts, self.nsupp, key_lo=lo)
        upd = np.unique(lo - 1 - np.minimum(
            rng.exponential(lo / 8.0, self.updates).astype(np.int64), lo - 1
        ))
        events = _events(
            rng, self.new_events, max(1, self.ncust // 10), self.next_event,
            self.last_ts,
        )
        self.next_order += k
        self.next_event += self.new_events
        self.last_ts = np.datetime64(max(events.column("ts").to_pylist()), "us")
        prices = _money(rng, 1000.0, 500_000.0, len(upd))
        status = np.array(["F", "O", "P"])[rng.integers(0, 3, len(upd))]
        upd_rows = "\n".join(
            f"{key},{p},{s}" for key, p, s in zip(upd, prices, status)
        )
        script = "\n".join([
            "BEGIN;",
            f"COPY orders ({', '.join(orders.column_names)}) FROM STDIN CSV;",
            csv_rows(orders) + "\\.",
            f"COPY lineitem ({', '.join(lines.column_names)}) FROM STDIN CSV;",
            csv_rows(lines) + "\\.",
            f"COPY events ({', '.join(events.column_names)}) FROM STDIN CSV;",
            csv_rows(events) + "\\.",
            "CREATE TEMP TABLE upd (k bigint, p double precision, s text);",
            "COPY upd FROM STDIN CSV;",
            upd_rows + "\n\\.",
            "UPDATE orders SET o_totalprice = upd.p, o_orderstatus = upd.s, "
            "updated_at = clock_timestamp() FROM upd WHERE o_orderkey = upd.k;",
            "COMMIT;",
        ]) + "\n"
        return script, {
            "orders_inserted": k,
            "lineitem_inserted": lines.num_rows,
            "orders_updated": len(upd),
            "events_inserted": events.num_rows,
        }
