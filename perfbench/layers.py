"""Metric catalogue and the per-layer computation of the traced run.

``END_TO_END`` and ``PER_LAYER`` list every metric the benchmark prints,
in the names ``BENCHMARK.json`` uses.  Every workload prints all of
them; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from harness import OpResult, drift, job_group, median
from tracing import Tracer, sum_groups

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
)

# span name → layer it is charged to in the self-time breakdown
SPAN_LAYER = {
    "op": "client",
    "query.to_df": "query",
    "query.single_option": "query",
    "query.multi_map": "query",
    "query.scan": "query",
    "row.build_rows": "row",
    "cache.get_result": "cache",
    "storage.read": "storage_read",
    "storage.commit": "storage_commit",
    "storage.vacuum": "storage_commit",
    "mutations.execute": "mutations",
    "mutations.merge_build": "mutations",
    "job.run": "job",
    "job.bulk_write": "job",
    "catalog.load": "catalog",
    "entry.build.jobs": "entry_build",
    "entry.build.operators": "entry_build",
    "entry.sink.jobs": "entry_sink",
    "entry.sink.operators": "entry_sink",
}
LAYERS = (
    "client", "query", "row", "cache", "storage_read", "storage_commit",
    "mutations", "job", "catalog", "entry_build", "entry_sink",
)
SETS = ("jobs", "operators")
SPARK_FIELDS = (
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"), ("task_wait_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("input_mb", "MB"), ("peak_exec_mem_mb", "MB"),
)

PER_LAYER = (
    ("query.to_df_ms", "ms"),
    ("query.single_option_ms", "ms"),
    ("query.multi_map_ms", "ms"),
    ("query.scan_ms", "ms"),
    ("query.action_ms", "ms"),
    ("query.jobs_per_read", "count"),
    ("query.tasks_per_read", "count"),
    ("query.rows_read_per_row", "ratio"),
    ("row.build_rows_ms", "ms"),
    ("cache.hit_ratio", "ratio"),
    ("cache.lookup_us", "us"),
    ("storage.read_ms", "ms"),
    ("storage.commit_ms", "ms"),
    ("storage.vacuum_ms", "ms"),
    ("storage.files_written_per_commit", "count"),
    ("storage.files_linked_per_commit", "count"),
    ("storage.partitions_touched_per_commit", "count"),
    ("storage.write_amp", "ratio"),
    ("storage.snapshots_on_disk", "count"),
    ("storage.conflicts", "count"),
    ("storage.space_amp", "ratio"),
    ("mutations.execute_ms", "ms"),
    ("mutations.self_ms", "ms"),
    ("mutations.merge_build_ms", "ms"),
    ("mutations.jobs_per_commit", "count"),
    ("mutations.tasks_per_commit", "count"),
    ("job.run_s", "s"),
    ("job.bulk_write_s", "s"),
    ("catalog.load_ms", "ms"),
    *[(f"entry.{m}.{s}", u) for m, u in (("build_s", "s"), ("sink_s", "s"), ("jobs", "count"),
                                          ("stages", "count"), ("tasks", "count")) for s in SETS],
    ("streaming.batches", "count"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.state_rows", "count"),
    *[(f"spark.{f}", u) for f, u in SPARK_FIELDS],
    *[(f"share.{layer}", "ratio") for layer in LAYERS],
    ("host.calibration_s", "s"),
    ("host.calibration_drift", "ratio"),
    ("host.load_1m_max", "load"),
    ("host.steal_share", "ratio"),
    ("trace.ops_per_s", "1/s"),
    ("trace.latency_p50_ms", "ms"),
    ("trace.spans_per_op", "count"),
    ("trace.attribution_gap_ms", "ms"),
)


def _ms(xs):
    return 1e3 * median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def rows_returned(r: OpResult) -> int:
    if r.value is None:
        return 0
    if r.op.kind in ("get", "cget"):
        return 1
    return len(r.value) if isinstance(r.value, list) else 0


def per_layer(results: list[OpResult], tracer: Tracer, groups: dict, extra: dict) -> dict[str, float]:
    """Every ``PER_LAYER`` metric from the traced run's timed ops.

    ``extra`` carries what the workload measured itself: ``cache``
    (the ``TestCache`` or None), ``commits`` (snapshot diffs with the
    batch bytes), ``snapshots``, ``space_amp``, ``stream`` (the
    listener), ``passes`` and ``row_groups`` (batch: the job groups of
    each set's rows), the host guard readings, the loop's ``wall`` and
    ``attempted`` (the numerator of the untraced ``ops_per_s``).
    Spark executor figures are per op (per pass on batch_pipeline)."""
    ids = {r.op.op_id for r in results}
    spans = tracer.by_name(ids)
    tot = lambda n: spans[n]["total"] if n in spans else []  # noqa: E731
    own = lambda n: spans[n]["self"] if n in spans else []  # noqa: E731
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    m["query.to_df_ms"] = _ms(tot("query.to_df"))
    m["query.single_option_ms"] = _ms(tot("query.single_option"))
    m["query.multi_map_ms"] = _ms(tot("query.multi_map"))
    m["query.scan_ms"] = _ms(tot("query.scan"))
    m["query.action_ms"] = _ms(own("query.single_option") + own("query.multi_map") + own("query.scan"))
    m["row.build_rows_ms"] = _ms(tot("row.build_rows"))
    m["cache.lookup_us"] = 1e3 * _ms(tot("cache.get_result"))
    cache = extra.get("cache")
    if cache is not None and cache.hits + cache.misses:
        m["cache.hit_ratio"] = cache.hits / (cache.hits + cache.misses)
    m["storage.read_ms"] = _ms(tot("storage.read"))
    m["storage.commit_ms"] = _ms(own("storage.commit"))
    m["storage.vacuum_ms"] = _ms(tot("storage.vacuum"))
    m["mutations.execute_ms"] = _ms(tot("mutations.execute"))
    m["mutations.self_ms"] = _ms(own("mutations.execute"))
    m["job.run_s"] = median(tot("job.run")) if tot("job.run") else 0.0
    m["job.bulk_write_s"] = median(tot("job.bulk_write")) if tot("job.bulk_write") else 0.0
    m["catalog.load_ms"] = _ms(tot("catalog.load"))

    # merge-plan build time per commit: all merge_build spans of one op
    per_op = defaultdict(float)
    for s in tracer.spans:
        if s.name == "mutations.merge_build" and s.op_id in ids:
            per_op[s.op_id] += s.seconds
    m["mutations.merge_build_ms"] = _ms(list(per_op.values()))

    reads = [r for r in results if r.op.cls == "read"]
    writes = [r for r in results if r.op.cls == "write"]
    g_reads = sum_groups(groups, [job_group(r.op.op_id, r.op.kind) for r in reads])
    g_writes = sum_groups(groups, [job_group(r.op.op_id, r.op.kind) for r in writes])
    if reads:
        m["query.jobs_per_read"] = g_reads["jobs"] / len(reads)
        m["query.tasks_per_read"] = g_reads["tasks"] / len(reads)
        returned = sum(rows_returned(r) for r in reads)
        m["query.rows_read_per_row"] = g_reads["input_records"] / max(1, returned)
    if writes:
        m["mutations.jobs_per_commit"] = g_writes["jobs"] / len(writes)
        m["mutations.tasks_per_commit"] = g_writes["tasks"] / len(writes)

    commits = extra.get("commits") or []
    if commits:
        m["storage.files_written_per_commit"] = _mean([c["files_written"] for c in commits])
        m["storage.files_linked_per_commit"] = _mean([c["files_linked"] for c in commits])
        m["storage.partitions_touched_per_commit"] = _mean([c["partitions_touched"] for c in commits])
        m["storage.write_amp"] = sum(c["bytes_written"] for c in commits) / max(
            1, sum(c["batch_bytes"] for c in commits))
    m["storage.snapshots_on_disk"] = float(extra.get("snapshots", 0))
    m["storage.space_amp"] = float(extra.get("space_amp", 0.0))
    m["storage.conflicts"] = float(sum(1 for r in results if r.error and "ConcurrentWriteError" in r.error))

    for s, names in (extra.get("row_groups") or {}).items():
        passes = extra["passes"]
        m[f"entry.build_s.{s}"] = sum(tot(f"entry.build.{s}")) / passes
        m[f"entry.sink_s.{s}"] = sum(tot(f"entry.sink.{s}")) / passes
        g = sum_groups(groups, names)
        for k in ("jobs", "stages", "tasks"):
            m[f"entry.{k}.{s}"] = g[k] / passes

    listener = extra.get("stream")
    if listener is not None and listener.trigger_ms:
        m["streaming.batches"] = len(listener.trigger_ms) / extra["passes"]
        m["streaming.trigger_ms"] = median(listener.trigger_ms)
        m["streaming.state_rows"] = max(listener.state_rows)

    all_groups = [job_group(r.op.op_id, r.op.kind) for r in results]
    for names in (extra.get("row_groups") or {}).values():
        all_groups += names
    g_all = sum_groups(groups, all_groups)
    for f, _u in SPARK_FIELDS:
        m[f"spark.{f}"] = g_all[f] if f == "peak_exec_mem_mb" else g_all[f] / len(results)

    shares = layer_self_seconds(tracer, ids)
    total = sum(r.seconds for r in results)
    for layer in LAYERS:
        m[f"share.{layer}"] = shares.get(layer, 0.0) / total if total else 0.0

    m["host.calibration_s"] = extra["cal_start"]
    m["host.calibration_drift"] = drift(extra["cal_start"], extra["cal_end"])
    m["host.load_1m_max"] = extra["load_max"]
    m["host.steal_share"] = extra["steal"]
    m["trace.ops_per_s"] = extra["attempted"] / extra["wall"]  # the untraced ops_per_s, traced
    m["trace.latency_p50_ms"] = _ms([r.seconds for r in results])
    m["trace.spans_per_op"] = sum(1 for s in tracer.spans if s.op_id in ids) / len(results)
    m["trace.attribution_gap_ms"] = _ms(attribution_gaps(results, tracer))
    return m


def layer_self_seconds(tracer: Tracer, ids: set[int], by_op: bool = False):
    """Self time per layer, summed over the ops ``ids`` (or, with
    ``by_op``, ``{op_id: {layer: seconds}}``)."""
    selfs = tracer.self_seconds()
    out: dict = defaultdict(lambda: defaultdict(float)) if by_op else defaultdict(float)
    for s, own in zip(tracer.spans, selfs):
        if s.op_id not in ids:
            continue
        layer = SPAN_LAYER.get(s.name, "client")
        if by_op:
            out[s.op_id][layer] += own
        else:
            out[layer] += own
    return out


def attribution_gaps(results: list[OpResult], tracer: Tracer) -> list[float]:
    """Per op: measured latency minus the sum of its spans' self times
    (what the layer breakdown leaves unexplained)."""
    per = layer_self_seconds(tracer, {r.op.op_id for r in results}, by_op=True)
    return [r.seconds - sum(per.get(r.op.op_id, {}).values()) for r in results]


def report(workload: str, results: list[OpResult], tracer: Tracer) -> list[str]:
    """The layer table: for each op kind, its median latency and the
    mean self time of each layer within one op (ms)."""
    per = layer_self_seconds(tracer, {r.op.op_id for r in results}, by_op=True)
    kinds: dict[str, list[OpResult]] = defaultdict(list)
    for r in results:
        kinds[r.op.kind].append(r)
    used = [lay for lay in LAYERS if any(per[i].get(lay) for i in per)]
    head = f"{'op kind':<28}{'n':>4}{'p50 ms':>10}" + "".join(f"{lay:>15}" for lay in used)
    lines = [f"layer self time per op, ms (traced run, {workload})", head]
    for kind, rs in kinds.items():
        row = f"{kind:<28}{len(rs):>4}{_ms([r.seconds for r in rs]):>10.1f}"
        for lay in used:
            row += f"{1e3 * _mean([per[r.op.op_id].get(lay, 0.0) for r in rs]):>15.1f}"
        lines.append(row)
    return lines
