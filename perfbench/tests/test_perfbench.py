"""Self-tests of the benchmark's own logic (no server, no Spark).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import os

from perfbench import stats
from perfbench.layers import assign_roots, per_layer
from perfbench.trace import Tracer, outermost, self_times, union_length
from perfbench.workloads import (
    INGEST_BATCH_ROWS,
    INGEST_DML_ROWS,
    YCSB_KEY_STRIDE,
    IngestModel,
    Op,
    YcsbModel,
    tpch_sequence,
)

# -- percentile rule ---------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(list(range(19)), 0.5) is None  # 9 above the median
    assert stats.percentile(list(range(21)), 0.5) == 10  # 10 above
    assert stats.percentile(list(range(100)), 0.95) is None  # 5 above p95
    p95 = stats.percentile(list(range(220)), 0.95)
    assert p95 is not None and sum(v > p95 for v in range(220)) >= 10


def test_percentile_counts_ties_as_not_beyond():
    assert stats.percentile([1.0] * 15 + [2.0] * 9, 0.5) is None
    assert stats.percentile([], 0.5) is None


def test_geomean_of_medians_ignores_mix():
    a = stats.geomean_of_medians({"q1": [10.0], "q2": [1000.0]})
    b = stats.geomean_of_medians({"q1": [10.0] * 9, "q2": [1000.0]})
    assert a == b and abs(a - 100.0) < 1e-9


def test_median_shift_compares_types_present_in_both():
    def ops(kind, ms):
        return [{"kind": kind, "ok": True, "t0": 0.0, "t1": m / 1e3} for m in ms]

    base = ops("a", [10, 12, 14]) + ops("b", [100]) + ops("c", [5])
    other = ops("a", [14, 16]) + ops("b", [103, 103, 200])
    assert abs(stats.median_shift(base, other) - 3.0) < 1e-9


def test_end_to_end_counts_failures():
    ops = [{"kind": "r", "cls": "read", "ok": i % 4 != 0, "t0": 0.0, "t1": 0.001 * (i + 1)}
           for i in range(40)]
    m = stats.end_to_end(ops, 0.0, 0.02)
    assert m["error_rate"]["value"] == 10 / 40
    assert m["throughput_ops_s"]["value"] == 15 / 0.02  # ok ops ended by 20 ms
    assert m["write_p50_ms"]["value"] is None and m["write_p50_ms"]["samples"] == 0
    assert m["latency_p50_ms"]["samples"] == 30


# -- span arithmetic -----------------------------------------------------------


def _span(sid, parent, name, t0, t1, root=1, extra=None):
    return [sid, parent, root, name, t0, t1, extra]


def test_self_time_of_nested_spans():
    spans = [
        _span(1, 0, "flightsql.do_get", 0.0, 10.0),
        _span(2, 1, "session.query", 1.0, 9.0),
        _span(3, 2, "engine.query", 2.0, 8.0),
        _span(4, 3, "spark.sql", 3.0, 4.0),
        _span(5, 3, "spark.sql", 3.5, 5.0),  # overlaps its sibling
        _span(6, 2, "spark.execute", 8.5, 12.0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 8.0
    assert st[2] == 8.0 - 6.0 - 0.5
    assert st[3] == 6.0 - 2.0
    assert st[4] == st[5] - 0.5 == 1.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_outermost_counts_nested_calls_of_one_layer_once():
    spans = [
        _span(1, 0, "flightsql.do_put", 0, 10),
        _span(2, 1, "versions.record_version", 1, 5),
        _span(3, 2, "versions.current_version", 2, 3),
        _span(4, 1, "versions.read_current", 6, 7),
    ]
    assert [s[0] for s in outermost(spans, "versions.")] == [2, 4]


def test_tracer_records_only_chosen_sessions():
    tr = Tracer()
    tr.sessions = {"s1"}
    inner = tr.wrap("b", lambda: None)
    for session in ("s1", "s2"):
        with tr.root("a", session, {}):
            inner()
    inner()  # outside any request
    (b, a) = tr.spans
    assert a[3] == "a" and a[1] == 0 and a[2] == a[0] and a[6] == {"session": "s1"}
    assert b[3] == "b" and b[1] == a[0] and b[2] == a[0]


def test_roots_match_ops_by_session_and_window():
    ops = [
        {"session": "s1", "t0": 0.0, "t1": 1.0},
        {"session": "s1", "t0": 1.0, "t1": 2.0},
        {"session": "s2", "t0": 0.0, "t1": 2.0},
    ]
    spans = [
        _span(1, 0, "flightsql.do_get", 0.5, 0.9, 1, {"session": "s1"}),
        _span(2, 0, "flightsql.do_get", 1.5, 1.9, 2, {"session": "s1"}),
        _span(3, 0, "flightsql.do_get", 1.5, 1.9, 3, {"session": "s2"}),
        _span(4, 0, "flightsql.do_get", 2.5, 2.9, 4, {"session": "s2"}),  # no op
        _span(5, 3, "session.query", 1.6, 1.8, 3),  # not a root
    ]
    assert assign_roots(spans, ops) == {1: 0, 2: 1, 3: 2}


def test_per_layer_splits_an_op_into_layers():
    ms = 1e-3
    ops = [{"session": "s", "kind": "q", "t0": 0.0, "t1": 100 * ms,
            "rpcs": [["get_flight_info", 0.0, 0], ["do_get", 30 * ms, 500]]}]
    spans = [
        _span(1, 0, "flightsql.get_flight_info", 2 * ms, 20 * ms, 1, {"session": "s"}),
        _span(2, 1, "engine.schema_probe", 5 * ms, 15 * ms, 1),
        _span(3, 0, "flightsql.do_get", 31 * ms, 91 * ms, 3, {"session": "s", "jobs": 2}),
        _span(4, 3, "session.query", 32 * ms, 90 * ms, 3),
        _span(5, 4, "spark.execute", 40 * ms, 80 * ms, 3,
              {"rows": 5, "scan_rows": 50, "phases": {"analysis": 7}}),
    ]
    disk = {"created_bytes": 0, "dml_created_bytes": 0, "dml_rows_changed": 0, "user_bytes": 0}
    m = per_layer(spans, ops, disk)
    assert m["flightsql.rpcs_per_op"] == 2 and m["spark.jobs_per_op"] == 2
    assert abs(m["flightsql.wait_ms"] - 3.0) < 1e-9  # 2 ms + 1 ms to handler entry
    assert abs(m["flightsql.transport_ms"] - (100 - 18 - 60)) < 1e-9
    assert abs(m["flightsql.self_ms"] - (8 + 2)) < 1e-9
    assert abs(m["session.self_ms"] - 18) < 1e-9 and abs(m["spark.self_ms"] - 40) < 1e-9
    assert m["spark.rows_read_per_row_returned"] == 10 and m["spark.analysis_ms"] == 7
    assert m["flightsql.bytes_per_op"] == 500


# -- generators ------------------------------------------------------------------


def test_tpch_sequence_is_seeded_and_balanced():
    names = [f"q{i}" for i in range(22)]
    a = [op.kind for op in tpch_sequence(7, names, 3)]
    assert a == [op.kind for op in tpch_sequence(7, names, 3)]
    assert a != [op.kind for op in tpch_sequence(8, names, 3)]
    for r in range(3):
        assert sorted(a[22 * r : 22 * (r + 1)]) == sorted(names)


def _ycsb_ops(seed, client, n=300):
    m = YcsbModel(seed, client, 4, 2_000)
    m.load_rows()
    return m, [(op.kind, op.call, op.args) for op in (m.next_op() for _ in range(n))]


def test_ycsb_ops_repeat_for_a_seed():
    assert _ycsb_ops(3, 1)[1] == _ycsb_ops(3, 1)[1]
    assert _ycsb_ops(3, 1)[1] != _ycsb_ops(4, 1)[1]


def test_ingest_batches_repeat_for_a_seed():
    a, b = IngestModel(5), IngestModel(5)
    assert a.cycle()[0].args == b.cycle()[0].args
    rows = a.cycle()[0].args[0]
    assert len(rows) == INGEST_BATCH_ROWS and rows[0][0] == INGEST_BATCH_ROWS
    b.cycle()
    assert a.expected_rollup() == b.expected_rollup()
    assert sum(n for _, n, _ in a.expected_rollup()) == 2 * INGEST_BATCH_ROWS


def test_ingest_cycles_update_then_delete_an_older_batch():
    m = IngestModel(5)
    first = m.cycle()[0].args[0]  # no batch is old enough to change yet
    second = m.cycle()
    assert [o.kind for o in second] == ["doput", "update", "refresh", "rollup_read"]
    upd = second[1]
    assert upd.args[0].endswith(f"id >= 0 AND id < {INGEST_DML_ROWS}")
    assert upd.expect == upd.rows_changed == INGEST_DML_ROWS
    third = m.cycle()
    assert [o.kind for o in third][:2] == ["doput", "delete"]
    assert f"id >= {INGEST_BATCH_ROWS} AND" in third[1].args[0]
    # the refresh expects every write before it: batch 0 with amount + 1
    # on its first rows, batch 1 without its first rows, batch 2 whole
    rows = ([[i, u, k, a + (i < INGEST_DML_ROWS)] for i, u, k, a in first]
            + second[0].args[0][INGEST_DML_ROWS:] + third[0].args[0])
    want: dict = {}
    for _, _, k, a in rows:
        n, t = want.get(k, (0, 0))
        want[k] = (n + 1, t + a)
    assert third[2].expect == [(k, n, t) for k, (n, t) in sorted(want.items())]


def test_tpch_data_is_the_sf01_fixture():
    d = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", "sf0.1")
    with open(os.path.join(d, "SHA256SUMS")) as f:
        sums = [line.split() for line in f]
    assert len(sums) == 7
    for digest, name in sums:
        with open(os.path.join(d, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


# -- YCSB model ------------------------------------------------------------------


def test_ycsb_clients_own_disjoint_ranges():
    keys = []
    for c in range(4):
        m, ops = _ycsb_ops(11, c, 500)
        lo, hi = c * YCSB_KEY_STRIDE, (c + 1) * YCSB_KEY_STRIDE
        assert m.base == lo and m.end == lo + 500
        for kind, _call, args in ops:
            assert lo <= args[0] < hi
            if kind == "scan":
                assert args[0] < args[1] <= m.end
            if kind != "insert":
                assert args[0] < m.end
        keys.append({args[0] for _, _, args in ops})
    for i in range(4):
        for j in range(i + 1, 4):
            assert not keys[i] & keys[j]


def test_ycsb_model_predicts_answers_and_forgets_failed_writes():
    m = YcsbModel(1, 0, 1, 10)
    rows = m.load_rows()
    read = Op("read", "read", "read", (3,))
    upd = Op("update", "write", "update2", (3, "zz"))
    assert m.expected(read) == [tuple(rows[3])]
    assert m.expected(upd) == 1
    assert m.apply(upd) == (1, 2)
    assert m.expected(read)[0][2] == "zz"
    m.forget(3)  # the next write to key 3 raised: its row is now unknown
    assert m.expected(read) is None and m.expected(upd) is None
    scan = Op("scan", "read", "scan", (2, 5))
    scan.expect = m.expected(scan)
    assert m.matches(scan, [tuple(rows[2]), (3, "any", "row"), tuple(rows[4])])
    assert not m.matches(scan, [tuple(rows[2])])
    delete = Op("delete", "write", "delete", (3,))
    m.apply(delete)
    assert m.expected(read) == []
