"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import types

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import batch  # noqa: E402
import harness  # noqa: E402
import kv  # noqa: E402
import layers  # noqa: E402
import tracing  # noqa: E402

# -- tail rule ---------------------------------------------------------------------------


def test_tail_keeps_at_least_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100, shuffled order must not matter
    v, pct, n = harness.tail(list(reversed(values)))
    assert (v, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in values if x > v) == 10


def test_tail_uses_the_highest_qualifying_rank():
    for n in (21, 30, 57, 250):
        values = [float(i) for i in range(n)]
        v, pct, _ = harness.tail(values)
        beyond = sum(1 for x in values if x > v)
        assert beyond == 10
        assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_falls_back_to_the_median_on_few_samples():
    values = [5.0, 1.0, 3.0, 9.0, 7.0]
    assert harness.tail(values) == (5.0, 50.0, 5)
    assert harness.tail([float(i) for i in range(20)])[1] == 50.0
    v, pct, n = harness.tail([])
    assert n == 0


# -- host guard ---------------------------------------------------------------------------


def test_drift_counts_a_slow_start_like_a_slow_end():
    assert harness.drift(0.4, 0.5) == pytest.approx(0.25)
    assert harness.drift(0.5, 0.4) == pytest.approx(0.25)
    assert harness.drift(0.576, 0.389) > 0.25
    assert harness.drift(0.3, 0.3) == 0


def test_host_guard_trips_on_drift_or_stolen_cpu():
    import run

    def trouble(start, end, steal):
        return run.Context.host_trouble(types.SimpleNamespace(cal_start=start, cal_end=end, steal=steal))

    assert trouble(0.030, 0.031, 0.0) is None
    assert trouble(0.030, 0.031, run.STEAL_GUARD) is None
    assert "stolen" in trouble(0.030, 0.031, 0.048)
    assert "drifted" in trouble(0.030, 0.040, 0.0)
    assert "drifted" in trouble(0.040, 0.030, 0.0)


def test_calibration_probe_is_cpu_work_outside_spark():
    t = harness.calibration_s(reps=2, mb=1)
    assert 0 < t < 1


def test_steal_share_is_the_stolen_part_of_the_interval():
    assert harness.steal_share((10, 1000), (30, 1200)) == pytest.approx(0.1)
    assert harness.steal_share((5, 100), (5, 100)) == 0.0
    steal, total = harness.cpu_jiffies()
    assert 0 <= steal <= total


# -- space amplification ---------------------------------------------------------------------


def _write(path, nbytes):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * nbytes)


def test_space_amp_counts_hardlinked_inodes_once(tmp_path):
    table = tmp_path / "t"
    _write(str(table / "v=000001" / "_kp=00" / "a.parquet"), 100)
    _write(str(table / "v=000001" / "_kp=01" / "old.parquet"), 30)
    os.makedirs(table / "v=000002" / "_kp=00")
    os.link(table / "v=000001" / "_kp=00" / "a.parquet", table / "v=000002" / "_kp=00" / "a.parquet")
    _write(str(table / "v=000002" / "_kp=01" / "new.parquet"), 50)
    cur = str(table / "v=000002")
    assert harness.tree_bytes(str(table)) == 180  # a.parquet once, not twice
    assert harness.space_amp(str(table), cur) == pytest.approx(180 / 150)

    diff = harness.snapshot_diff(harness.snapshot_files(str(table / "v=000001")), harness.snapshot_files(cur))
    assert diff == {"files_written": 1, "files_linked": 1, "partitions_touched": 1, "bytes_written": 50}


# -- event-log parser ---------------------------------------------------------------------


def _task(stage, run_ms, cpu_ns, launch, finish, records, shuffle_w=0, peak=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Peak Execution Memory": peak, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 1024 * 1024,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2 * 1024 * 1024},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Bytes Read": 1024 * 1024, "Records Read": records},
        },
    }


def test_parse_event_log_groups_by_job_group():
    events = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb-3-get"}},
        _task(0, 100, 50_000_000, 1000, 1150, 10, shuffle_w=3 * 1024 * 1024, peak=4 * 1024 * 1024),
        _task(1, 20, 10_000_000, 1200, 1220, 0, peak=1024 * 1024),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage Infos": [{"Stage ID": 2}], "Properties": {}},
        _task(2, 7, 1_000_000, 0, 7, 3),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2},  # no metrics: ignored
    ]
    lines = [json.dumps(e) for e in events] + [""]
    g = tracing.parse_event_log(lines)
    a = g["pb-3-get"]
    assert a["jobs"] == 1 and a["stages"] == 2 and a["tasks"] == 2
    assert a["executor_run_s"] == pytest.approx(0.12)
    assert a["executor_cpu_s"] == pytest.approx(0.06)
    assert a["gc_s"] == pytest.approx(0.01)
    assert a["task_wait_s"] == pytest.approx(0.05)  # 150 ms span, 100 ms running
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert a["shuffle_read_mb"] == pytest.approx(4.0)
    assert a["spill_mb"] == pytest.approx(2.0)
    assert a["input_records"] == 10
    assert a["peak_exec_mem_mb"] == pytest.approx(4.0)  # max, not sum
    assert g[""]["jobs"] == 1 and g[""]["tasks"] == 1

    tot = tracing.sum_groups(g, ["pb-3-get", "", "missing"])
    assert tot["tasks"] == 3 and tot["peak_exec_mem_mb"] == pytest.approx(4.0)
    assert tracing.sum_groups(g, [])["jobs"] == 0


# -- op generators ---------------------------------------------------------------------------


def _ops(gen, n):
    return [(o.op_id, o.kind, o.cls, repr(o.args)) for o in itertools.islice(gen, n)]


def test_op_generator_is_seed_deterministic():
    assert _ops(kv.kv_ops(7, 15_000), 200) == _ops(kv.kv_ops(7, 15_000), 200)
    assert _ops(kv.kv_ops(7, 15_000), 200) != _ops(kv.kv_ops(8, 15_000), 200)
    assert _ops(iter(kv.warm_ops(7, 15_000)), 3) == _ops(iter(kv.warm_ops(7, 15_000)), 3)


def _blocks(seed, n_blocks):
    out: dict[int, list] = {}
    for o in itertools.islice(kv.kv_ops(seed, 15_000), len(kv.BLOCK) * n_blocks):
        out.setdefault(o.block, []).append(o)
    return list(out.values())


def test_op_mix_is_the_same_for_every_seed():
    kinds = [[[o.kind for o in b] for b in _blocks(s, 12)] for s in (1, 2, 3)]
    assert kinds[0] == kinds[1] == kinds[2] == [list(kv.BLOCK)] * 12
    assert [o.op_id for b in _blocks(1, 12) for o in b] == list(range(12 * len(kv.BLOCK)))


def test_every_run_covers_every_op_kind():
    """The loop stops only between blocks, so even a run whose time is up
    after its first op runs a whole block, and a block holds every kind."""
    every = {"put", "delete", "increment", "get", "multi_get_10", "multi_get_1000",
             "cget", "scan", "filter_page", "filter_time"}
    ops = kv.timed_ops(5, 15_000)
    assert len(ops) == 16 * len(kv.BLOCK)
    results, _wall = harness.closed_loop(ops, 0, lambda op: None)
    assert [r.op.kind for r in results] == list(kv.BLOCK)
    assert {r.op.kind for r in results} == every
    # ops without a block (batch passes) stop after any op
    passes, _wall = harness.closed_loop(itertools.islice(batch.pass_ops(), 5), 0, lambda op: None)
    assert len(passes) == 1


@pytest.mark.parametrize("seconds,blocks", [(9.9, 2), (10.1, 3), (25.0, 6), (1.0, 1)])
def test_loop_starts_a_block_only_while_half_a_block_is_left(monkeypatch, seconds, blocks):
    """Blocks of 4 s each: a new block starts while at least 2 s are left,
    so the loop ends within half a block of its deadline."""
    clock = [0.0]
    monkeypatch.setattr(harness.time, "perf_counter", lambda: clock[0])

    def run(op):
        clock[0] += 1.0

    ops = [harness.Op(i, "x", "read", {}, block=i // 4) for i in range(40)]
    results, wall = harness.closed_loop(ops, seconds, run)
    assert len(results) == 4 * blocks and wall == 4.0 * blocks


def test_reads_after_a_write_read_its_keys():
    ops = kv.timed_ops(6, 15_000, blocks=4)
    last = None
    for o in ops:
        if o.cls == "write":
            last = o.args["keys"]
        elif o.kind == "get":
            assert o.args["key"] == last[0]
        elif o.kind == "multi_get_10":
            assert o.args["keys"] == last[:10]


def test_cached_gets_hit_three_times_in_four_and_are_never_written():
    ops = kv.timed_ops(4, 15_000, blocks=40)
    written = {k for o in ops if o.cls == "write" for k in o.args["keys"]}
    seen, hits, n = set(), 0, 0
    for o in ops:
        if o.kind == "cget":
            n += 1
            hits += o.args["key"] in seen
            seen.add(o.args["key"])
    assert hits == 3 * n // 4
    assert not seen & written
    ranges = [o.args for o in ops if o.kind in ("scan", "filter_page", "filter_time")]
    assert all(int(r["lo"][:2]) >= 50 for r in ranges)
    assert all(int(k[:2]) < 50 for k in written)


def test_write_batches_cycle_sizes_and_kinds():
    writes = [o for o in kv.timed_ops(1, 15_000, blocks=4) if o.cls == "write"]
    assert [len(o.args["keys"]) for o in writes] == list(kv.WRITE_SIZES) * 2
    assert [o.kind for o in writes] == list(kv.WRITES) * 4
    assert all(len(set(o.args["keys"])) == len(o.args["keys"]) for o in writes)


def test_mutation_model_follows_merge_semantics():
    rows = kv.Rows({"001": {"k": 1, "custkey": 5, "status": "F", "totalprice": 1.0,
                            "priority": "2-HIGH", "views": 2, "lines": {1: 3.0}}})
    put = harness.Op(0, "put", "write", {"keys": ["001", "002"], "cells": {
        "001": {"status": "O", "totalprice": 9.5, "line8": 4.0},
        "002": {"status": "P", "totalprice": 2.0, "line8": 1.0}}})
    assert kv.apply_write(rows, put) == (0, 2, 0)
    assert rows["001"]["lines"] == {1: 3.0, 8: 4.0} and rows["001"]["custkey"] == 5
    assert rows["002"]["custkey"] is None and rows["002"]["lines"] == {8: 1.0}
    inc = harness.Op(1, "increment", "write", {"keys": ["001", "003"], "cells": {
        "001": {"views": 3}, "003": {"views": 1}}})
    assert kv.apply_write(rows, inc) == (0, 0, 2)
    assert rows["001"]["views"] == 5 and rows["003"]["views"] == 1
    dele = harness.Op(2, "delete", "write", {"keys": ["001"], "cells": {}})
    assert kv.apply_write(rows, dele) == (1, 0, 0)
    assert kv.expected(harness.Op(3, "get", "read", {"key": "001"}), rows) is None


def test_rows_range_lists_live_keys_in_order():
    rows = kv.Rows({k: {"k": 0} for k in ("5100001", "5000002", "5000001", "5000009")})
    rows["5000002"] = None
    assert rows.range("5000000", "5000009") == ["5000001"]
    assert rows.range("5000000", "5200000") == ["5000001", "5000009", "5100001"]


# -- tracer ---------------------------------------------------------------------------------


class _Thing:
    def outer(self, t):
        t.call("inner", lambda: None)
        return 42


def test_tracer_self_time_and_restore():
    tr = tracing.Tracer()
    original = _Thing.__dict__["outer"]
    tr.wrap(_Thing, "outer", "x.outer")
    tr.op_id = 1
    assert _Thing().outer(tr) == 42
    tr.restore()
    assert _Thing.__dict__["outer"] is original
    assert [s.name for s in tr.spans] == ["x.outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].op_id == 1
    own = tr.self_seconds()
    assert own[0] == pytest.approx(tr.spans[0].seconds - tr.spans[1].seconds)
    assert sum(own) == pytest.approx(tr.spans[0].seconds)


# -- the metric catalogue matches BENCHMARK.json -------------------------------------------------


def test_benchmark_json_lists_the_printed_metrics():
    path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(layers.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(layers.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == ["kv_mixed", "batch_pipeline"]
