"""Server launcher: one SwanLake Flight SQL server in its own process.

Run by ``perfbench/run.py`` as ``python -m perfbench.server``. It builds
the engine from an explicit ``EngineConfig``, loads the TPC-H tables
when asked, optionally installs the tracing wrappers, starts the Flight
SQL server and prints one line::

    READY {"port": ..., "engine_config": {...}, "launcher_confs": {...}}

It then reads commands from standard input, one a line:

- ``trace [SESSION ...]`` records spans for requests of the sessions
  named (none when the list is empty);
- ``stop`` writes the recorded spans to ``<run-dir>/trace.json``, prints
  ``STOPPED`` and shuts the server down.

Closing standard input also stops it, so a crashed load generator never
leaves a server behind.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

from perfbench.trace import Tracer, patch_function

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def engine_config(args):
    from swanlake_spark.config import EngineConfig

    return EngineConfig(
        app_name=f"perfbench-{args.workload}",
        cpus=args.cpus,
        shuffle_partitions=args.cpus,
        driver_memory="2g",
        warehouse_dir=os.path.join(args.run_dir, "warehouse"),
        client_dialect=args.dialect or None,
    )


def launcher_confs(run_dir: str) -> dict[str, str]:
    """Deployment settings outside EngineConfig: keep every file the
    server writes inside the run directory, no UI or console progress,
    and keep enough job history for per-op job accounting."""
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": tmp,
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def build_engine(args):
    from pyspark.sql import SparkSession

    from swanlake_spark.engine import Engine

    cfg = engine_config(args)
    builder = SparkSession.builder.appName(cfg.app_name).master(f"local[{cfg.cpus}]")
    for k, v in {**cfg.spark_confs(), **launcher_confs(args.run_dir)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return Engine(spark=spark, config=cfg), cfg


def load_tpch(engine, src: str, run_dir: str) -> None:
    """The load phase: rewrite the source parquet into the engine's
    multi-part layout under the run directory (``materialize_warehouse``,
    on every run, so the layout is always the current code's), then
    register each table in the shared catalog, so every client session
    (a ``newSession`` fork) sees it."""
    from swanlake_spark.sources.registry import materialize_warehouse

    layout = os.path.join(run_dir, "tpch")
    materialize_warehouse(engine.spark, src, layout, tables=TPCH_TABLES)
    for t in TPCH_TABLES:
        engine.spark.catalog.dropTempView(t)  # left by materialize_warehouse
        engine.execute(f"CREATE TABLE {t} USING parquet LOCATION '{layout}/{t}'")


# ---------------------------------------------------------------------------
# Tracing wrappers
# ---------------------------------------------------------------------------

_VERSIONS_PUBLIC = [
    "versions_root", "current_version", "note_published_files", "record_version",
    "retire_files", "snapshots", "snapshot_file_names", "resolve_files",
    "version_at_timestamp", "read_version", "read_current", "table_changes",
    "rollback", "expire",
]


class ServerTracing:
    """Installs the wrappers and turns what they record into trace.json."""

    def __init__(self, engine) -> None:
        self.tracer = Tracer()
        self.engine = engine
        self.executed: list[tuple[dict, object]] = []  # (span extra, java Dataset)

    def install(self) -> None:
        from pyspark.sql import SparkSession

        from swanlake_spark import engine as engine_mod
        from swanlake_spark import flightsql, matview, metrics
        from swanlake_spark import session as session_mod
        from swanlake_spark import versions
        from swanlake_spark.functions import dialect
        from swanlake_spark.operators import dml, ingest

        tr = self.tracer
        for rpc in ("get_flight_info", "do_get", "do_put", "do_action"):
            setattr(
                flightsql.FlightSqlServer, rpc,
                self._handler(f"flightsql.{rpc}", getattr(flightsql.FlightSqlServer, rpc)),
            )
        methods = [
            (session_mod.Session, "query", "session.query"),
            (engine_mod.Engine, "__init__", "engine.init"),
            (engine_mod.Engine, "query", "engine.query"),
            (engine_mod.Engine, "schema_for_query", "engine.schema_probe"),
            # CHECKPOINT statements enter maintenance through here
            (engine_mod.Engine, "_checkpoint", "maintenance.checkpoint"),
            (SparkSession, "sql", "spark.sql"),
            (metrics.Metrics, "record_query", "metrics.record"),
            (metrics.Metrics, "record_error", "metrics.record"),
        ]
        for cls, attr, name in methods:
            setattr(cls, attr, tr.wrap(name, getattr(cls, attr)))
        engine_mod.QueryResult.to_arrow = self._to_arrow(engine_mod.QueryResult.to_arrow)
        patch_function(dialect, "transpile_duckdb",
                       tr.wrap("dialect.transpile", dialect.transpile_duckdb))
        patch_function(dml, "update_table", tr.wrap("dml.update", dml.update_table))
        patch_function(dml, "delete_from", tr.wrap("dml.delete", dml.delete_from))
        patch_function(dml, "table_write_lock", tr.wrap_cm("dml.lock_wait", dml.table_write_lock))
        patch_function(ingest, "insert_arrow", tr.wrap("ingest.insert_arrow", ingest.insert_arrow))
        patch_function(matview, "refresh_incremental",
                       tr.wrap("matview.refresh", matview.refresh_incremental))
        for fn in _VERSIONS_PUBLIC:
            patch_function(versions, fn, tr.wrap(f"versions.{fn}", getattr(versions, fn)))

    def _handler(self, name: str, fn):
        """Root span of one Flight RPC. Spark jobs the handler starts on
        its thread carry a job group named after the span."""
        tr = self

        def wrapper(server, context, *args):
            mw = context.get_middleware("session")
            session = (mw.session_id if mw else None) or "flight-anonymous"
            extra: dict = {}
            with tr.tracer.root(name, session, extra) as traced:
                if not traced:
                    return fn(server, context, *args)
                sc = server.engine.spark.sparkContext
                group = f"perfbench-{tr.tracer.current_root()}"
                extra["group"] = group
                sc.setJobGroup(group, group, False)
                try:
                    return fn(server, context, *args)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)

        return wrapper

    def _to_arrow(self, fn):
        tr = self

        def wrapper(res):
            if not tr.tracer.active:
                return fn(res)
            extra: dict = {}
            with tr.tracer.span("spark.execute", extra):
                tbl = fn(res)
            if res.df is not None:
                tr.executed.append((extra, res.df._jdf))
            extra["rows"] = 0 if tbl is None else tbl.num_rows
            return tbl

        return wrapper

    # -- end of run ---------------------------------------------------------

    def finish(self, path: str) -> None:
        """Read job, stage and plan statistics for the recorded spans (after
        the measured ops, so the reads add nothing to them) and write
        every span to ``path``."""
        sc = self.engine.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        for span in self.tracer.spans:
            extra = span[6]
            if not extra or "group" not in extra:
                continue
            jobs = stages = tasks = 0
            in_bytes = 0
            for jid in tracker.getJobIdsForGroup(extra["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for st in info.stageIds:
                    stage = _stage_data(store, gw, st)
                    if stage is None:
                        continue
                    stages += 1
                    tasks += stage.numTasks()
                    in_bytes += stage.inputBytes()
            extra.update(jobs=jobs, stages=stages, tasks=tasks, input_bytes=in_bytes)
        for extra, jdf in self.executed:
            qe = jdf.queryExecution()
            extra["phases"] = _phases(qe)
            extra["scan_rows"] = _scan_rows(qe.executedPlan())
        with open(path, "w") as f:
            json.dump([list(s) for s in self.tracer.spans], f)


def _stage_data(store, gw, stage_id):
    try:
        seq = store.stageData(
            stage_id, False, gw.jvm.java.util.ArrayList(), False,
            gw.new_array(gw.jvm.double, 0),
        )
    except Exception:  # stage evicted or never submitted
        return None
    return seq.apply(0) if seq.size() else None


def _phases(qe) -> dict[str, int]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


def _scan_rows(plan) -> int:
    """Rows produced by the leaf scans of an executed physical plan,
    read from their SQL metrics (adaptive stages unwrapped, reused
    exchanges counted once, scalar subqueries included)."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _scan_rows(plan.executedPlan())
    if kind.endswith("QueryStageExec"):
        return _scan_rows(plan.plan())
    if kind == "ReusedExchangeExec":
        return 0
    total = 0
    if "Scan" in kind and plan.metrics().contains("numOutputRows"):
        total += plan.metrics().apply("numOutputRows").value()
    for seq in (plan.children(), plan.subqueries()):
        for i in range(seq.size()):
            total += _scan_rows(seq.apply(i))
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--tpch", help="directory of the TPC-H parquet to load")
    ap.add_argument("--dialect", default="")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from swanlake_spark.flightsql import start_flight_server

    t0 = time.monotonic()
    engine, cfg = build_engine(args)
    t1 = time.monotonic()
    if args.tpch:
        load_tpch(engine, args.tpch, args.run_dir)
    t2 = time.monotonic()
    tracing = ServerTracing(engine)
    if args.trace:
        tracing.install()
    server, port = start_flight_server(engine)
    cfg_dict = {k: v for k, v in dataclasses.asdict(cfg).items() if v is not None}
    print("READY " + json.dumps({
        "port": port, "engine_config": cfg_dict, "spark_confs": cfg.spark_confs(),
        "engine_start_s": t1 - t0, "load_s": t2 - t1,
        "launcher_confs": launcher_confs("<run-dir>"),
    }), flush=True)
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd.startswith("trace"):
                tracing.tracer.sessions = set(cmd.split()[1:])
            elif cmd == "stop":
                tracing.tracer.sessions = set()
                tracing.finish(os.path.join(args.run_dir, "trace.json"))
                break
            print(f"OK {cmd}", flush=True)
    finally:
        server.shutdown()
        engine.stop()
    print("STOPPED", flush=True)


if __name__ == "__main__":
    main()
