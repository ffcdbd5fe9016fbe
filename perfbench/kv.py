"""The key-value workload ``kv_mixed``: reads beside writes.

It runs against one ``HTable`` over ``ParquetStorage``, staged from
the generated ``orders`` and ``lineitem`` tables: a typed ``meta``
family, a ``cnt`` counter family and a ``lines`` map family
(line number → quantity), prefix-partitioned on the first two rowkey
characters (100 ``_kp=`` directories).  Row keys are salted order keys,
``f"{k % 100:02d}{k:07d}"``.

Ops run in fixed-order blocks of twelve, and the timed loop only stops
between blocks, so every run covers every op kind in the same mix; the
seed picks keys (zipf-skewed), ranges and written values.  A block
holds one put, one delete and one increment batch through
``OpBase.execute``, each followed by a read of keys it just wrote, and
the read mix: cached gets (``TestCache``), a 1000-key multi-get (above
``ISIN_THRESHOLD``, so the broadcast semi-join path), a rowkey-range
scan, and filtered reads with F16 pagination and with an F20 time
range.

After the timed loop every result is compared with a dict model: the
rows pandas reads from the source parquet files, with every applied
mutation replayed on top; the whole table is compared at the end.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import os

import numpy as np
import pyarrow.parquet as pq

from harness import Op

BASE_TS = _dt.datetime(2024, 1, 1)
TABLE = "orders_kv"
META = ("custkey", "status", "totalprice", "priority")
STATUSES = ("F", "O", "P")

# projections: which canonical fields an op returns
ALL = META + ("views", "lines")
META_CNT = META + ("views",)
META_LINES = META + ("lines",)

# one block of ops, in the order it runs (see kv_ops)
BLOCK = ("put", "get", "multi_get_1000", "cget", "delete", "get",
         "filter_page", "filter_time", "increment", "multi_get_10", "scan", "cget")
WRITES = ("put", "delete", "increment")
WRITE_SIZES = (5, 2, 20, 50, 1, 10)  # keys per batch, cycling over the write ops


def rowkey(k: int) -> str:
    return f"{k % 100:02d}{k:07d}"


def make_table(base_dir: str, cache=None):
    from hpaste_spark.schema.table import HTable, Schema

    t = HTable(Schema(base_dir), TABLE, partition_prefix_len=2, cache=cache)
    meta = t.family("meta")
    for q, typ in zip(META, (int, str, float, str)):
        t.column(meta, q, typ)
    t.column(t.family("cnt"), "views", int)
    t.family_map("lines", int, float)
    return t


def stage(spark, table, data_dir: str) -> int:
    """Build the table from the generated orders/lineitem through the
    public write path (one full snapshot).  Every cell's write
    timestamp is ``BASE_TS + orderkey`` seconds, and ``views`` starts
    at the order's line count."""
    from pyspark.sql import functions as F

    from hpaste_spark.sources import catalog

    orders = catalog.load_table(spark, data_dir, "orders")
    lines = (
        catalog.load_table(spark, data_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.map_from_entries(F.collect_list(F.struct(
            F.col("l_linenumber").cast("bigint"), "l_quantity"))).alias("lines"))
    )
    k = F.col("o_orderkey")
    ts = F.timestamp_seconds(F.lit(int(BASE_TS.replace(tzinfo=_dt.timezone.utc).timestamp())) + k)
    df = orders.join(lines, k == F.col("l_orderkey"), "left").select(
        F.concat(F.lpad((k % 100).cast("string"), 2, "0"), F.lpad(k.cast("string"), 7, "0")).alias("rowkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_orderpriority").alias("priority"),
        F.create_map(*[x for q in META for x in (F.lit(q), ts)]).alias("meta__ts"),
        F.size("lines").cast("bigint").alias("views"),
        F.create_map(F.lit("views"), ts).alias("cnt__ts"),
        "lines",
        F.map_from_arrays(F.map_keys("lines"), F.transform(F.map_keys("lines"), lambda _: ts)).alias("lines__ts"),
    )
    return table.overwrite(df.select(*table.spark_schema().names))


# -- the independent expectation: pandas over the source parquet -------------------------


def base_rows(data_dir: str) -> dict[str, dict]:
    """Every staged row as ``{rowkey: {field: value}}``, from pyarrow."""
    o = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
    li = pq.read_table(
        os.path.join(data_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_linenumber", "l_quantity"],
    ).to_pandas()
    lines: dict[int, dict] = {}
    for ok, ln, q in zip(li.l_orderkey.to_numpy(), li.l_linenumber.to_numpy(), li.l_quantity.to_numpy()):
        lines.setdefault(int(ok), {})[int(ln)] = float(q)
    out = {}
    for k, c, s, p, pr in zip(o.o_orderkey.to_numpy(), o.o_custkey.to_numpy(), o.o_orderstatus,
                              o.o_totalprice.to_numpy(), o.o_orderpriority):
        ls = lines.get(int(k), {})
        out[rowkey(int(k))] = {
            "k": int(k), "custkey": int(c), "status": s, "totalprice": float(p),
            "priority": pr, "views": len(ls), "lines": ls,
        }
    return out


def canon(row: dict | None, fields: tuple) -> tuple | None:
    """The comparable form of one row under a projection."""
    if row is None:
        return None
    vals = []
    for f in fields:
        v = row.get(f)
        vals.append(tuple(sorted((v or {}).items())) if f == "lines" else v)
    return tuple(vals)


def canon_hrow(hrow, fields: tuple) -> tuple | None:
    """The same form, read through ``HRow``'s public accessors."""
    if hrow is None:
        return None
    d = {f: (hrow.family("lines") if f == "lines" else hrow.column(f)) for f in fields}
    return (hrow.rowid,) + canon(d, fields)


def expected(op: Op, rows: "Rows"):
    """What ``op`` must return given the table state ``rows``."""
    a = op.args
    if op.kind in ("get", "cget"):
        r = rows.get(a["key"])
        return None if r is None else (a["key"],) + canon(r, ALL)
    if op.kind.startswith("multi_get"):
        fields = a["fields"]
        return sorted((k,) + canon(rows[k], fields) for k in set(a["keys"]) if rows.get(k) is not None)
    hit = rows.range(a["lo"], a["hi"])
    if op.kind == "scan":
        return [(k,) + canon(rows[k], ALL) for k in hit]
    if op.kind == "filter_page":
        out = []
        for k in hit:
            r = rows[k]
            if r.get("status") == "F":
                page = dict(sorted((r.get("lines") or {}).items())[:2])
                out.append((k,) + canon({**r, "lines": page}, META_LINES))
        return out
    if op.kind == "filter_time":
        out = []
        for k in hit:
            r = rows[k]
            ts = BASE_TS + _dt.timedelta(seconds=r["k"])
            keep = a["t_lo"] <= ts < a["t_hi"]
            out.append((k,) + canon(r if keep else {"lines": {}}, ALL))
        return out
    raise ValueError(op.kind)


class Rows(dict):
    """Table state: rowkey → row dict; a deleted row maps to None.
    Writes only touch staged keys, so the sorted key index used for
    range lookups is built once."""

    def __init__(self, rows: dict):
        super().__init__(rows)
        self.sorted_keys = np.array(sorted(self), dtype=object)

    def range(self, lo: str, hi: str) -> list[str]:
        """Live keys in ``[lo, hi)``, ascending."""
        i, j = np.searchsorted(self.sorted_keys, [lo, hi])
        return [k for k in self.sorted_keys[i:j] if self[k] is not None]


# -- op generation ------------------------------------------------------------------------


class KeyPicker:
    """Zipf-skewed row keys (exponent 1.2 over a seeded permutation of
    the order keys whose salt, ``k % 100``, lies in ``salts``)."""

    def __init__(self, rng: np.random.Generator, n_orders: int, salts: range = range(100)):
        self.rng = rng
        self.salts = salts
        ks = np.arange(n_orders)
        self.perm = rng.permutation(ks[np.isin(ks % 100, list(salts))])
        self.n_orders = n_orders
        self.cached: list[str] = []  # keys already read through the cache
        self.n_cget = 0

    def key(self) -> str:
        while True:
            r = int(self.rng.zipf(1.2))
            if r <= len(self.perm):
                return rowkey(int(self.perm[r - 1]))

    def keys(self, n: int) -> list[str]:
        """``n`` distinct keys: zipf-drawn, past ten keys half uniform."""
        out: list[str] = []
        seen = set()
        while len(out) < n:
            if n <= 10 or len(out) < n // 2:
                k = self.key()
            else:
                k = rowkey(int(self.perm[int(self.rng.integers(len(self.perm)))]))
            if k not in seen:
                seen.add(k)
                out.append(k)
        return out

    def cached_key(self) -> str:
        """Every fourth cached get asks for a new key (a miss); the rest
        repeat a key already cached, so the hit ratio is fixed at 3/4."""
        if self.n_cget % 4 == 0:
            key = self.key()
            while key in self.cached:
                key = self.key()
            self.cached.append(key)
        else:
            key = self.cached[int(self.rng.integers(len(self.cached)))]
        self.n_cget += 1
        return key

    def range(self, span: int = 1000) -> dict:
        """A rowkey range inside one salt: about ``span / 100`` rows."""
        k = int(self.rng.integers(0, max(1, self.n_orders - span)))
        p = self.salts[int(self.rng.integers(len(self.salts)))]
        return {"lo": f"{p:02d}{k:07d}", "hi": f"{p:02d}{k + span:07d}",
                "t_lo": BASE_TS + _dt.timedelta(seconds=k + 300),
                "t_hi": BASE_TS + _dt.timedelta(seconds=k + 700)}


def write_args(kind: str, n: int, pick: KeyPicker) -> dict:
    keys = pick.keys(n)
    rng = pick.rng
    cells = {}
    for k in keys:
        if kind == "put":
            cells[k] = {
                "status": STATUSES[int(rng.integers(3))],
                "totalprice": round(float(rng.uniform(1000, 500_000)), 2),
                "line8": float(rng.integers(1, 51)),
            }
        elif kind == "increment":
            cells[k] = {"views": int(rng.integers(1, 6))}
    return {"keys": keys, "cells": cells}


def kv_ops(seed: int, n_orders: int, stream: int = 2, first_id: int = 0):
    """The op list, block after block (see :data:`BLOCK`).  A get or
    10-key multi-get reads the keys of the write batch just before it.
    Writes use salts 0-49; cached gets, scans and filtered reads use
    salts 50-99, which are never written (so cached rows never go stale
    and cell timestamps stay the staged ones); the 1000-key multi-get
    draws from every key."""
    rng = np.random.default_rng([seed, stream])
    written = KeyPicker(rng, n_orders, range(0, 50))
    stable = KeyPicker(rng, n_orders, range(50, 100))
    anyk = KeyPicker(rng, n_orders)
    sizes = itertools.cycle(WRITE_SIZES)
    op_id = first_id
    keys: list[str] = []
    for b in itertools.count():
        for kind in BLOCK:
            if kind in WRITES:
                args = write_args(kind, next(sizes), written)
                keys = args["keys"]
            elif kind == "get":
                args = {"key": keys[0]}
            elif kind == "multi_get_10":
                args = {"keys": keys[:10], "fields": META_CNT}
            elif kind == "multi_get_1000":
                args = {"keys": anyk.keys(1000), "fields": META}
            elif kind == "cget":
                args = {"key": stable.cached_key()}
            else:  # scan, filter_page, filter_time
                args = stable.range()
            yield Op(op_id, kind, "write" if kind in WRITES else "read", args, block=b)
            op_id += 1


def warm_ops(seed: int, n_orders: int) -> list[Op]:
    """The first block of the op list of a seed stream of its own
    (negative op ids).  Run before timing and applied to the model like
    any op."""
    return list(itertools.islice(kv_ops(seed, n_orders, stream=3, first_id=-1000), len(BLOCK)))


def timed_ops(seed: int, n_orders: int, first_id: int = 0, blocks: int = 16) -> list[Op]:
    """The timed op list, generated in full before timing starts: more
    blocks than any run reaches."""
    return list(itertools.islice(kv_ops(seed, n_orders, first_id=first_id), blocks * len(BLOCK)))


# -- running an op ------------------------------------------------------------------------


def run_op(spark, table, op: Op):
    a = op.args
    if op.cls == "write":
        return run_write(spark, table, op)
    q = table.query2(spark)
    if op.kind in ("get", "cget"):
        r = q.with_key(a["key"]).with_all_columns().single_option(skip_cache=op.kind == "get", ttl=86_400)
        return canon_hrow(r, ALL)
    if op.kind.startswith("multi_get"):
        fams = ("meta", "cnt") if a["fields"] == META_CNT else ("meta",)
        res = q.with_keys(a["keys"]).with_families(*fams).multi_map()
        return sorted(canon_hrow(r, a["fields"]) for r in res.values())
    q = q.with_start_row(a["lo"]).with_end_row(a["hi"])
    if op.kind == "scan":
        out = q.with_all_columns().scan_to_iterable(lambda r: canon_hrow(r, ALL))
    elif op.kind == "filter_page":
        out = (
            q.with_families("meta")
            .filter(lambda c: c.column_value_must_equal("status", "F"))
            .with_pagination_for_family("lines", 2, 0)
            .scan_to_iterable(lambda r: canon_hrow(r, META_LINES))
        )
    else:
        out = (
            q.with_all_columns().between_dates(a["t_lo"], a["t_hi"])
            .scan_to_iterable(lambda r: canon_hrow(r, ALL))
        )
    return sorted(out)


def run_write(spark, table, op: Op):
    from hpaste_spark.operators.mutations import OpBase

    batch = OpBase(table)
    for k in op.args["keys"]:
        c = op.args["cells"].get(k, {})
        if op.kind == "put":
            batch.put(k).value("status", c["status"]).value("totalprice", c["totalprice"]) \
                .value_map("lines", {8: c["line8"]})
        elif op.kind == "increment":
            batch.increment(k).value("views", c["views"])
        else:
            batch.delete(k)
    r = batch.execute(spark)
    return (r.numDeletes, r.numPuts, r.numIncrements)


def apply_write(rows: Rows, op: Op) -> tuple:
    """Apply a committed write batch to the model; returns the
    ``OpsResult`` counts the batch must report."""
    n = len(op.args["keys"])
    for k in op.args["keys"]:
        c = op.args["cells"].get(k, {})
        cur = rows.get(k)
        if op.kind == "delete":
            rows[k] = None
            continue
        new = dict(cur) if cur is not None else {
            "k": int(k[2:]), **{f: None for f in META}, "views": None, "lines": {}}
        if op.kind == "put":
            new["status"], new["totalprice"] = c["status"], c["totalprice"]
            new["lines"] = {**(new["lines"] or {}), 8: c["line8"]}
        else:
            new["views"] = (new["views"] or 0) + c["views"]
        rows[k] = new
    return {"put": (0, n, 0), "increment": (0, 0, n), "delete": (n, 0, 0)}[op.kind]


def table_digest_actual(spark, table) -> list[tuple]:
    """Every row of the current snapshot in canonical form."""
    tb = table.to_df(spark).select("rowkey", *ALL).toArrow()
    out = []
    for r in tb.to_pylist():
        d = dict(r)
        d["lines"] = dict(d["lines"] or [])
        out.append((r["rowkey"],) + canon(d, ALL))
    return sorted(out)


def table_digest_expected(rows: Rows) -> list[tuple]:
    return sorted((k,) + canon(r, ALL) for k, r in rows.items() if r is not None)


def write_bytes(op: Op) -> int:
    """Rough logical size of a write batch: its keys and cells as JSON."""
    return len(json.dumps([op.args["keys"], op.args["cells"]]))

