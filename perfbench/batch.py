"""The ``batch_pipeline`` workload: repeated passes over two fixed sets.

One op of the timed loop is one pass.  A pass runs the ``jobs`` set
(HPaste's scan→map→shuffle→reduce shapes from the registry, plus one
``HJob`` chain that ends in ``bulk_merge_increments`` into a
``ParquetStorage`` table) and then the ``operators`` set (dedup, text
and streaming rows).  Each registry row is built by its
``__spark_entry__.queries()`` callable and forced through the noop
sink.

The first untimed warm-up pass collects every registry row instead of
sinking it, and after the timed passes each of those results is
compared with its DuckDB ``oracle_sql()`` twin using the comparison in
``tools/check_correctness.py``; the counter table the ``HJob`` writes
must equal the number of completed chain runs times a DuckDB rollup of
the same events.
"""

from __future__ import annotations

import itertools
import os
import time

from harness import Op, job_group

JOBS = (
    "a1_groupby_rollup_sum",
    "j1_join5_revenue_by_nation",
    "w2_topn_per_group",
    "asof_click_attribution",
    "s3_rowkey_range_scan",
)
HJOB = "hjob_click_rollup"
OPERATORS = (
    "dedup_weighted_jaccard",
    "text_token_stats",
    "stream_dedup_exact",
)
PASS = (*JOBS, HJOB, *OPERATORS)

COUNTER_TABLE = "user_clicks"
ROLLUP_SQL = """
    SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS rowkey,
           COUNT(*) AS clicks,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_cents
    FROM events WHERE event_type = 'click' GROUP BY user_id
"""


def set_of(name: str) -> str:
    return "operators" if name in OPERATORS else "jobs"


def pass_ops(first_id: int = 0):
    """The op list: one op per pass over :data:`PASS`."""
    for p in itertools.count(first_id):
        yield Op(p, "pass", "pass", {})


def counter_table(base_dir: str):
    from hpaste_spark.schema.table import HTable, Schema

    t = HTable(Schema(base_dir), COUNTER_TABLE, partition_prefix_len=2)
    cnt = t.family("cnt")
    t.column(cnt, "clicks", int)
    t.column(cnt, "value_cents", int)
    return t


def click_rollup_job(table, data_dir: str):
    """events → clicks → per-user rollup → merged into the counter table."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hpaste_spark.operators import mutations
    from hpaste_spark.plans.job import HJob, HTask
    from hpaste_spark.sources import catalog

    def scan(ctx, _inputs):
        return catalog.load_table(ctx.spark, data_dir, "events").filter(F.col("event_type") == "click")

    def rollup(ctx, inputs):
        return (
            inputs["scan"]
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("clicks"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
            )
            .select(
                F.concat(F.lit("u"), F.lpad(F.col("user_id").cast("string"), 6, "0")).alias("rowkey"),
                "clicks",
                "value_cents",
                F.lit(None).cast(T.MapType(T.StringType(), T.TimestampType())).alias("cnt__ts"),
            )
        )

    def write(ctx, inputs):
        mutations.bulk_merge_increments(table, inputs["rollup"])
        return None

    return HJob(
        "click_rollup",
        HTask("scan", scan),
        HTask("rollup", rollup, requires=("scan",)),
        HTask("write", write, requires=("rollup",)),
    )


def run_pass(spark, entry_queries, data_dir: str, job, tracer, op: Op, keep: dict | None = None) -> dict:
    """One pass: every row of :data:`PASS` in order, each under its own
    job group.  Registry rows are built by their callable, then saved
    to the noop sink — or, with ``keep``, collected into ``keep[row] =
    (columns, rows)`` for the output check; the chain is ``HJob.run``.
    Returns ``{row: (seconds, error or None)}`` — a failing row does
    not stop the pass."""
    call = tracer.call if tracer is not None else (lambda _n, fn, *a: fn(*a))
    sc = spark.sparkContext
    out = {}
    for name in PASS:
        sc.setJobGroup(job_group(op.op_id, name), name)
        t0 = time.perf_counter()
        try:
            if name == HJOB:
                job.run(spark)
            else:
                s = set_of(name)
                df = call(f"entry.build.{s}", entry_queries[name], spark, data_dir)
                if keep is not None:
                    keep[name] = (df.columns, df.collect())
                else:
                    call(f"entry.sink.{s}", lambda: df.write.format("noop").mode("overwrite").save())
            err = None
        except Exception as exc:
            err = f"{type(exc).__name__}: {exc}"[:300]
        out[name] = (time.perf_counter() - t0, err)
    return out


def check_rows(oracles: dict, data_dir: str, kept: dict) -> dict[str, str]:
    """Compare each kept ``(columns, rows)`` result with its DuckDB twin;
    returns ``{name: problem}`` for the rows that do not match."""
    import duckdb

    from check_correctness import TABLES, as_multiset

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    bad = {}
    for name, (scols, srows) in kept.items():
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if sorted(scols) != sorted(ocols):
                bad[name] = f"columns {sorted(scols)} != {sorted(ocols)}"
            elif as_multiset(scols, srows) != as_multiset(ocols, orows):
                bad[name] = f"values differ ({len(srows)} vs {len(orows)} rows)"
        except Exception as exc:
            bad[name] = f"{type(exc).__name__}: {exc}"[:300]
    con.close()
    return bad


def check_counters(spark, table, data_dir: str, runs: int) -> str | None:
    """The counter table must hold ``runs`` × the DuckDB click rollup."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{os.path.join(data_dir, 'events')}.parquet')")
    want = {k: (c * runs, v * runs) for k, c, v in con.execute(ROLLUP_SQL).fetchall()}
    con.close()
    got = {r["rowkey"]: (r["clicks"], r["value_cents"])
           for r in table.to_df(spark).select("rowkey", "clicks", "value_cents").toArrow().to_pylist()}
    if runs == 0:
        want = {}
    if got != want:
        diff = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
        return f"counter table differs from {runs} x rollup on {diff} keys"
    return None
