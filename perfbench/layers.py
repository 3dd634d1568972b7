"""Per-layer metrics of a traced run: server spans joined to client ops."""

from __future__ import annotations

import bisect

from perfbench.trace import outermost, self_times

# name -> (span name, aggregate): "call" = mean ms per call, "op" = ms per op,
# "self" = mean self ms per call, "count" = calls per op
_SPAN_METRICS = {
    "flightsql.get_flight_info_ms": ("flightsql.get_flight_info", "call"),
    "flightsql.do_get_ms": ("flightsql.do_get", "call"),
    "flightsql.do_put_ms": ("flightsql.do_put", "call"),
    "session.query_self_ms": ("session.query", "self"),
    "engine.constructions_per_op": ("engine.init", "count"),
    "engine.construct_ms": ("engine.init", "op"),
    "engine.schema_probe_ms": ("engine.schema_probe", "call"),
    "engine.query_self_ms": ("engine.query", "self"),
    "dialect.transpile_ms": ("dialect.transpile", "call"),
    "dialect.transpile_calls_per_op": ("dialect.transpile", "count"),
    "spark.sql_calls_per_op": ("spark.sql", "count"),
    "spark.execute_ms": ("spark.execute", "call"),
    "dml.update_ms": ("dml.update", "call"),
    "dml.delete_ms": ("dml.delete", "call"),
    "dml.lock_wait_ms": ("dml.lock_wait", "call"),
    "ingest.insert_arrow_ms": ("ingest.insert_arrow", "call"),
    "matview.refresh_ms": ("matview.refresh", "call"),
    "maintenance.checkpoint_ms": ("maintenance.checkpoint", "call"),
    "metrics.record_ms": ("metrics.record", "op"),
}

LAYERS = ["flightsql", "session", "engine", "dialect", "spark", "dml", "ingest",
          "matview", "versions", "maintenance", "metrics"]

PER_LAYER_UNITS = {
    **{f"{layer}.self_ms": "ms" for layer in LAYERS},
    "flightsql.rpcs_per_op": "count",
    "flightsql.wait_ms": "ms",
    "flightsql.transport_ms": "ms",
    "flightsql.bytes_per_op": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.rows_read_per_row_returned": "count",
    "spark.bytes_read_per_op": "count",
    "dml.bytes_rewritten_per_row_changed": "count",
    "ingest.bytes_written_per_user_byte": "count",
    "matview.bytes_read_per_refresh": "count",
    "versions.calls_per_op": "count",
    "versions.ms_per_op": "ms",
    "tracing.overhead_ms": "ms",
    **{k: ("count" if agg == "count" else "ms") for k, (_, agg) in _SPAN_METRICS.items()},
}


def assign_roots(spans: list[list], ops: list[dict]) -> dict[int, int]:
    """Map each Flight handler span (a root) to the index of the client op
    it served: same session, handler start inside the op's time window.
    A client's ops are sequential, so at most one op matches."""
    by_session: dict[str, list[tuple[float, float, int]]] = {}
    for i, o in enumerate(ops):
        by_session.setdefault(o["session"], []).append((o["t0"], o["t1"], i))
    for v in by_session.values():
        v.sort()
    out = {}
    for s in spans:
        extra = s[6] or {}
        if s[1] != 0 or "session" not in extra:
            continue
        win = by_session.get(extra["session"], [])
        j = bisect.bisect_right(win, (s[4], float("inf"), 0)) - 1
        if j >= 0 and win[j][0] <= s[4] <= win[j][1]:
            out[s[0]] = win[j][2]
    return out


def per_layer(spans: list[list], ops: list[dict], disk: dict) -> dict[str, float]:
    """Per-layer metrics over the traced ops (see PER_LAYER_UNITS).

    ``ops`` are the traced client ops, with their RPC records (``rpcs``:
    name, send time, bytes); ``disk`` holds the bytes created in the
    table directories during the run (all, and while UPDATE, DELETE or
    RMW ops ran), the rows those ops changed and the user bytes all ops
    wrote."""
    n_ops = max(len(ops), 1)
    op_of_root = assign_roots(spans, ops)
    root_of = {s[0]: s[2] for s in spans}
    mine = [s for s in spans if op_of_root.get(root_of[s[0]]) is not None]
    selfs = self_times(mine)
    out: dict[str, float] = {}
    for name, (span, agg) in _SPAN_METRICS.items():
        hits = [s for s in mine if s[3] == span]
        if agg == "count":
            out[name] = len(hits) / n_ops
        elif agg == "op":
            out[name] = sum(s[5] - s[4] for s in hits) * 1e3 / n_ops
        elif agg == "self":
            out[name] = sum(selfs[s[0]] for s in hits) * 1e3 / max(len(hits), 1)
        else:
            out[name] = sum(s[5] - s[4] for s in hits) * 1e3 / max(len(hits), 1)

    for layer in LAYERS:
        # time in the layer's own code: its spans minus their children
        out[f"{layer}.self_ms"] = sum(
            selfs[s[0]] for s in mine if s[3].split(".", 1)[0] == layer
        ) * 1e3 / n_ops

    roots = [s for s in mine if s[0] in op_of_root]
    out["flightsql.rpcs_per_op"] = len(roots) / n_ops
    handler_time = [0.0] * len(ops)
    wait = [0.0] * len(ops)
    for r in roots:
        i = op_of_root[r[0]]
        handler_time[i] += r[5] - r[4]
        sends = [t for _, t, _ in ops[i].get("rpcs", []) if t <= r[4]]
        if sends:
            wait[i] += r[4] - max(sends)
    out["flightsql.wait_ms"] = sum(wait) * 1e3 / n_ops
    out["flightsql.transport_ms"] = (
        sum((o["t1"] - o["t0"]) - h for o, h in zip(ops, handler_time)) * 1e3 / n_ops
    )
    out["flightsql.bytes_per_op"] = sum(b for o in ops for _, _, b in o.get("rpcs", [])) / n_ops

    executed = [s for s in mine if s[3] == "spark.execute" and "phases" in (s[6] or {})]
    for phase in ("analysis", "optimization", "planning"):
        out[f"spark.{phase}_ms"] = (
            sum(s[6]["phases"].get(phase, 0) for s in executed) / max(len(executed), 1)
        )
    for key, name in (("jobs", "spark.jobs_per_op"), ("stages", "spark.stages_per_op"),
                      ("tasks", "spark.tasks_per_op"), ("input_bytes", "spark.bytes_read_per_op")):
        out[name] = sum((r[6] or {}).get(key, 0) for r in roots) / n_ops
    returned = sum(s[6].get("rows", 0) for s in executed)
    scanned = sum(s[6].get("scan_rows", 0) for s in executed)
    out["spark.rows_read_per_row_returned"] = scanned / returned if returned else 0.0

    refresh_roots = [r for r in roots if ops[op_of_root[r[0]]]["kind"] == "refresh"]
    n_refresh = len({op_of_root[r[0]] for r in refresh_roots})
    out["matview.bytes_read_per_refresh"] = (
        sum((r[6] or {}).get("input_bytes", 0) for r in refresh_roots) / n_refresh
        if n_refresh else 0.0
    )
    vers = outermost(mine, "versions.")
    out["versions.calls_per_op"] = len(vers) / n_ops
    out["versions.ms_per_op"] = sum(s[5] - s[4] for s in vers) * 1e3 / n_ops

    # disk counts cover every measured op, traced or not
    rows_changed, user_bytes = disk["dml_rows_changed"], disk["user_bytes"]
    out["dml.bytes_rewritten_per_row_changed"] = (
        disk["dml_created_bytes"] / rows_changed if rows_changed else 0.0)
    out["ingest.bytes_written_per_user_byte"] = (
        disk["created_bytes"] / user_bytes if user_bytes else 0.0)
    return out
