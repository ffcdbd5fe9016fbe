"""hpaste_spark benchmark: point reads, reads beside writes, batch jobs.

    python3 perfbench/run.py --workload kv_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads:

- ``kv_mixed``        write batches through ``OpBase.execute`` beside the
                      read mix against one ``HTable`` (see kv.py)
- ``batch_pipeline``  passes over registry rows and an ``HJob`` chain
                      (see batch.py)

Inputs are generated from ``--seed`` into a work directory inside the
checkout, which is removed at the end.  One client thread times ops
back to back for about ``--seconds``, in whole blocks of ops (see
``harness.closed_loop``); outputs are checked afterwards.  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``;
with ``--trace 1`` the per-layer metrics of a traced run (spans around
public calls plus Spark's event log), preceded by a layer table.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kv_mixed", "batch_pipeline")
SF = 0.01  # scale of the generated tables: 15,000 orders
HEAP_GB = 1  # driver JVM heap
GUARD = 0.25  # calibration drift (slower / faster probe - 1) that triggers one re-run: the metrics' bound
# share of the CPU time stolen by other tenants during the loop that
# triggers one re-run: a run with 4.8 % stolen read 18 % above the median latency
STEAL_GUARD = 0.02
RERUN_ID = 1_000_000  # first op id of a re-run, so its ops and job groups stay apart
WARM_PASSES = 2  # batch_pipeline: untimed passes before the timed loop
BUDGET_S = 170.0  # a guard re-run only starts if it fits in this


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


class Context:
    """One benchmark process: work directory, Spark session, host guard."""

    def __init__(self, args):
        import harness

        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(self.work, "warehouse")
        # Spark prefers this variable over spark.local.dir when it is set
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_DRIVER_MEMORY"] = f"{HEAP_GB}g"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.cpus = len(os.sched_getaffinity(0))
        self.data_name = f"pb{os.getpid()}data"
        self.loads = [harness.load_1m()]
        self.spark = None
        self.cal_start = self.cal_end = math.nan
        self.steal = math.nan  # share of CPU time stolen by other tenants during the timed loop
        self.setup_s = math.nan
        self.host_degraded = None  # why the host guard distrusts the figures, if it does
        self.tracer = None

    def start(self) -> None:
        from hpaste_spark import get_spark

        args = self.args
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            # a fixed-size heap, touched in full at start: peak RSS then does
            # not depend on how much of it the collector had used when the
            # loop ended; the parallel collector runs no concurrent threads
            # beside the task threads, and pass times under it level off
            # sooner and stay level
            "spark.driver.extraJavaOptions": f"-Xms{HEAP_GB}g -XX:+AlwaysPreTouch -XX:+UseParallelGC "
                                             f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", master=f"local[{self.cpus}]",
                               shuffle_partitions=self.cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - T_START
        if args.trace:
            import tracing

            self.tracer = tracing.Tracer()

    def jvm(self):
        from pyspark import SparkContext

        return SparkContext._gateway.proc

    def make_data(self) -> str:
        import datagen

        out = os.path.join(self.work, self.data_name)
        datagen.write(datagen.generate(self.args.seed, SF), out)
        return out

    def timed(self, make_ops, run_op, after_op=None):
        """The timed loop plus the host guard: calibrate before and after
        it and count the CPU time other tenants stole during it; if the
        probes drift apart past ``GUARD`` or more than ``STEAL_GUARD`` of
        the CPU time was stolen, run the loop once more on a fresh op
        list, ``make_ops(RERUN_ID)`` (when it fits the time budget).
        ``setup_s`` is the process's age when the first timed op starts.
        Returns ``(discarded, results, wall)``."""
        import harness

        tr = self.tracer

        def traced(op):
            tr.op_id = op.op_id
            try:
                return tr.call("op", run_op, op)
            finally:
                tr.op_id = None

        def loop(ops):
            cpu0 = harness.cpu_jiffies()
            out = harness.closed_loop(ops, self.args.seconds, fn, self.spark, after_op)
            self.steal = harness.steal_share(cpu0, harness.cpu_jiffies())
            self.loads.append(harness.load_1m())
            self.cal_end = harness.calibration_s()
            return out

        self.cal_start = harness.calibration_s()
        if tr is not None:
            import tracing

            tracing.patch_public_api(tr)
        try:
            fn = traced if tr is not None else run_op
            discarded = []
            ops = make_ops(0)
            self.setup_s = time.perf_counter() - T_START
            results, wall = loop(ops)
            why = self.host_trouble()
            if why and time.perf_counter() - T_START + 2 * wall + 30 < BUDGET_S:
                log(f"host guard: {why}; re-running the loop once")
                discarded = results
                self.cal_start = self.cal_end
                results, wall = loop(make_ops(RERUN_ID))
            self.host_degraded = self.host_trouble()
        finally:
            if tr is not None:
                tr.restore()
        self.loads.append(harness.load_1m())
        return discarded, results, wall

    def host_trouble(self) -> str | None:
        """Why the host guard distrusts the last timed loop, or None."""
        import harness

        d = harness.drift(self.cal_start, self.cal_end)
        if d > GUARD:
            return f"calibration {self.cal_start:.3f}s -> {self.cal_end:.3f}s drifted {d:.2f} apart (guard {GUARD})"
        if self.steal > STEAL_GUARD:
            return f"{100 * self.steal:.1f}% of the CPU time was stolen by other tenants (guard {100 * STEAL_GUARD:.0f}%)"
        return None

    def close(self) -> dict:
        """Stop Spark and wait for the JVM to exit; returns the event-log
        aggregates by job group (empty when not tracing)."""
        import tracing
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
        groups = {}
        logdir = os.path.join(self.work, "eventlog")
        for name in os.listdir(logdir):
            with open(os.path.join(logdir, name)) as fh:
                groups.update(tracing.parse_event_log(fh))
        return groups

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
        # the registry's stream rows stage symlink dirs next to __spark_entry__.py
        stage_root = os.path.join(ROOT, ".scratch", "stream_src")
        if os.path.isdir(stage_root):
            for d in os.listdir(stage_root):
                if d.startswith(self.data_name):
                    shutil.rmtree(os.path.join(stage_root, d), ignore_errors=True)
            for d in (stage_root, os.path.dirname(stage_root)):
                if not os.listdir(d):
                    os.rmdir(d)


# -- workloads ------------------------------------------------------------------------------


def run_kv(ctx) -> dict:
    import harness
    import kv
    from hpaste_spark.operators.cache import TestCache

    spark, seed = ctx.spark, ctx.args.seed

    t0 = time.perf_counter()
    data = ctx.make_data()
    table = kv.make_table(os.path.join(ctx.work, "kv"), TestCache())
    kv.stage(spark, table, data)
    stage_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    rows = kv.Rows(kv.base_rows(data))
    expect_s = time.perf_counter() - t0
    n_orders = len(rows)

    run = lambda op: kv.run_op(spark, table, op)  # noqa: E731
    t0 = time.perf_counter()
    warm, _ = harness.closed_loop(kv.warm_ops(seed, n_orders), math.inf, run, spark)
    warm_s = time.perf_counter() - t0

    st = table.storage
    staged = st.snapshot_dir(st.current_version())
    sizes = {"rows": n_orders, "table_bytes": harness.tree_bytes(staged),
             "kp_partitions": sum(1 for e in os.listdir(staged) if e.startswith("_kp="))}
    commits, snap = [], {"v": st.current_version(), "files": None}

    def after(r):
        if ctx.tracer is None or r.op.cls != "write" or st.current_version() == snap["v"]:
            return
        snap["files"] = snap["files"] or harness.snapshot_files(st.snapshot_dir(snap["v"]))
        snap["v"] = st.current_version()
        new = harness.snapshot_files(st.snapshot_dir(snap["v"]))
        commits.append({**harness.snapshot_diff(snap["files"], new), "batch_bytes": kv.write_bytes(r.op)})
        snap["files"] = new

    def make_ops(first_id):
        table.cache = TestCache()  # each try starts cold and counts its own hits
        return kv.timed_ops(seed, n_orders, first_id)

    discarded, results, wall = ctx.timed(make_ops, run, after)
    log(f"timed loop done at {time.perf_counter() - T_START:.1f}s")

    # -- checks, in execution order (writes move the model forward)
    bad: dict[int, str] = {}
    for r in warm + discarded + results:
        if r.error:
            bad[r.op.op_id] = r.error
            continue
        want = kv.apply_write(rows, r.op) if r.op.cls == "write" else kv.expected(r.op, rows)
        if r.value != want:
            bad[r.op.op_id] = f"{r.op.kind} returned a different result"
    extra_fail = []
    if kv.table_digest_actual(spark, table) != kv.table_digest_expected(rows):
        extra_fail.append("final table digest differs from the mutation model")
    timed = {r.op.op_id for r in results}
    out = {
        "items": [(r.op.kind, r.op.cls, r.seconds) for r in results],
        "results": results, "wall": wall, "bad": bad, "extra_fail": extra_fail,
        "attempted": len(results), "failed": sum(1 for i in timed if i in bad) + len(extra_fail),
        "warm_failed": sum(1 for i in bad if i not in timed),
        "setup_parts": {"session_s": ctx.session_s, "stage_s": stage_s, "expect_s": expect_s, "warm_s": warm_s},
        "sizes": sizes,
        "extra": {"cache": table.cache, "commits": commits, "snapshots": len(st.versions()),
                  "space_amp": harness.space_amp(st.table_dir, st.snapshot_dir(st.current_version()))},
    }
    return out


def run_batch(ctx) -> dict:
    import batch
    import datagen
    import harness

    import __spark_entry__ as entry

    spark = ctx.spark
    queries, oracles = entry.queries(), entry.oracle_sql()

    t0 = time.perf_counter()
    data = ctx.make_data()
    stage_s = time.perf_counter() - t0
    table = batch.counter_table(os.path.join(ctx.work, "tables"))
    job = batch.click_rollup_job(table, data)
    run = lambda op: batch.run_pass(spark, queries, data, job, ctx.tracer, op)  # noqa: E731

    # untimed warm-up passes; the first collects every row for the checks
    kept: dict = {}
    t0 = time.perf_counter()
    warm, _ = harness.closed_loop(
        itertools.islice(batch.pass_ops(first_id=-WARM_PASSES), WARM_PASSES), math.inf,
        lambda op: batch.run_pass(spark, queries, data, job, None, op,
                                  keep=kept if op.op_id == -WARM_PASSES else None), spark)
    warm_s = time.perf_counter() - t0

    listener = None
    if ctx.tracer is not None:
        import tracing

        listener = tracing.stream_listener()
        spark.streams.addListener(listener)
    discarded, results, wall = ctx.timed(batch.pass_ops, run)
    if listener is not None:
        spark.streams.removeListener(listener)
    log(f"timed loop done at {time.perf_counter() - T_START:.1f}s")

    def rows_of(r):
        """``{row: (seconds, error)}`` of a pass; every row failed if the pass raised."""
        return r.value or {n: (r.seconds / len(batch.PASS), r.error) for n in batch.PASS}

    # one record per row of every pass: (pass op, row, seconds, error)
    executed = [(r, name, sec, err) for r in warm + discarded + results
                for name, (sec, err) in rows_of(r).items()]
    wrong = batch.check_rows(oracles, data, kept)
    chain_runs = sum(1 for _r, name, _s, err in executed if name == batch.HJOB and not err)
    problem = batch.check_counters(spark, table, data, chain_runs)
    bad: dict[tuple, str] = {}
    for r, name, _sec, err in executed:
        why = err or wrong.get(name) or (problem if name == batch.HJOB else None)
        if why:
            bad[(r.op.op_id, name)] = why

    timed_rows = [(r.op.op_id, name) for r in results for name in batch.PASS]
    per_pass = {s: [sum(sec for name, (sec, _e) in rows_of(r).items() if batch.set_of(name) == s)
                    for r in results] for s in ("jobs", "operators")}
    st = table.storage
    return {
        "items": [(name, batch.set_of(name), sec) for r in results for name, (sec, _e) in rows_of(r).items()],
        "results": results, "wall": wall,
        "attempted": len(timed_rows), "failed": sum(1 for k in timed_rows if k in bad),
        "warm_failed": sum(1 for k in bad if k not in set(timed_rows)), "bad": bad, "extra_fail": [],
        "setup_parts": {"session_s": ctx.session_s, "stage_s": stage_s, "warm_s": warm_s},
        "sizes": {"rows": datagen.sizes(SF), "data_bytes": harness.tree_bytes(data)},
        "per_pass": per_pass,
        "extra": {"stream": listener, "passes": len(results),
                  "row_groups": {s: [harness.job_group(r.op.op_id, n) for r in results for n in batch.PASS
                                     if batch.set_of(n) == s] for s in ("jobs", "operators")},
                  "snapshots": len(st.versions()),
                  "space_amp": harness.space_amp(st.table_dir, st.snapshot_dir(st.current_version()))},
    }


# -- reporting ----------------------------------------------------------------------------


def summary_lines(workload: str, out: dict, setup_s: float, rss: float) -> list[str]:
    """The workload's own end-to-end figures, by the names of the
    benchmark's design: read/write latencies, per-set pass times, the
    error rate and the disk amplification."""
    import harness

    lines = [f"workload {workload}: {len(out['results'])} timed ops in {out['wall']:.2f}s, "
             f"setup {setup_s:.2f}s {json.dumps({k: round(v, 3) for k, v in out['setup_parts'].items()})}",
             f"sizes {json.dumps(out['sizes'])}"]
    by_cls: dict[str, list[float]] = {}
    kinds: dict[str, list[float]] = {}
    for kind, cls, sec in out["items"]:
        by_cls.setdefault(cls, []).append(sec)
        kinds.setdefault(kind, []).append(sec)
    for cls in ("read", "write"):
        if cls in by_cls:
            t, pct, n = harness.tail(by_cls[cls])
            lines.append(f"{cls}_p50_ms {1e3 * harness.median(by_cls[cls]):.2f} ms; "
                         f"{cls}_tail_ms {1e3 * t:.2f} ms (p{pct:.1f} of {n})")
    for s, xs in out.get("per_pass", {}).items():
        lines.append(f"{s}_s {harness.median(xs):.3f} s (median of {len(xs)} passes)")
    lines.append(f"error_rate {out['failed'] / out['attempted']:.4f} ratio ({out['failed']}/{out['attempted']})")
    lines.append(f"peak_rss_mb {rss:.1f} MB")
    lines.append(f"space_amp {out['extra']['space_amp']:.4f} ratio")
    lines.append("p50 ms by op kind: " + ", ".join(
        f"{k} {1e3 * harness.median(v):.1f} (n={len(v)})" for k, v in kinds.items()))
    for key, why in sorted(out["bad"].items(), key=str)[:20]:
        lines.append(f"FAILED op {key}: {why}")
    lines.extend(f"FAILED {f}" for f in out["extra_fail"])
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "hpaste_spark"))):
        print("perfbench: hpaste_spark/ and __spark_entry__.py not found next to "
              f"{os.path.basename(HERE)}/; run from the root of a repository checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    import harness
    import layers

    ctx = Context(args)
    try:
        ctx.start()
        out = run_batch(ctx) if args.workload == "batch_pipeline" else run_kv(ctx)
        rss = harness.peak_rss_mb([os.getpid(), ctx.jvm().pid])
        log(f"checks done at {time.perf_counter() - T_START:.1f}s")
    finally:
        groups = ctx.close()
        ctx.cleanup()

    res = out["results"]
    for line in summary_lines(args.workload, out, ctx.setup_s, rss):
        log(line)
    lat = [r.seconds for r in res]
    if args.trace:
        extra = {**out["extra"], "cal_start": ctx.cal_start, "cal_end": ctx.cal_end,
                 "load_max": max(x for x in ctx.loads if not math.isnan(x)) if ctx.loads else 0.0,
                 "steal": ctx.steal,
                 "wall": out["wall"], "attempted": out["attempted"]}
        for line in layers.report(args.workload, res, ctx.tracer):
            log(line)
        values = layers.per_layer(res, ctx.tracer, groups, extra)
        units = dict(layers.PER_LAYER)
    else:
        values = {
            "setup_s": ctx.setup_s,
            "ops_per_s": out["attempted"] / out["wall"],
            "latency_p50_ms": 1e3 * harness.median(lat),
            "peak_rss_mb": rss,
        }
        units = dict(layers.END_TO_END)
    log(f"host calibration {ctx.cal_start:.3f}s -> {ctx.cal_end:.3f}s, load_1m {ctx.loads}, "
        f"cpu stolen during the loop {100 * ctx.steal:.1f}%")
    if ctx.host_degraded:
        log(f"host_degraded: {ctx.host_degraded}; the figures of this run are suspect")
    result = {
        "correct": out["failed"] == 0 and out["warm_failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(values[k]) if math.isfinite(values[k]) else 0.0, "unit": units[k]}
                    for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
