"""SwanLake client-path benchmark: TPC-H, YCSB and Arrow ingest over Flight SQL.

Usage::

    python3 perfbench/run.py --workload tpch_flight --seed 1 --seconds 20 --trace 0

It starts one server process (``perfbench/server.py``), drives it only
through ``swanlake_spark.flightsql.FlightSqlClient`` from this process
(one thread, Flight connection and session per client), checks every
answer, and prints every end-to-end metric (``--trace 0``) or every
per-layer metric and the tracing overhead (``--trace 1``) with unit and
sample count. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Nothing is read
outside the checkout, and nothing is written outside
``.perfbench_work/`` in it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# a byte copy of the repository's sf0.1 test warehouse (TESTDATA.md, seed
# 42; checksums in SHA256SUMS), kept here so a checkout is self-contained
TPCH_DATA = os.path.join(ROOT, "perfbench", "data", "sf0.1")
SETUP_TIMEOUT_S = 120
RUN_TIMEOUT_S = 170


def _die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------------
# Server process
# --------------------------------------------------------------------------


class Server:
    """The server launcher in a child process group of its own; every
    file it writes stays inside ``run_dir``."""

    def __init__(self, run_dir: str, workload: str, cpus: int, trace: bool,
                 tpch: str | None = None, dialect: str = "") -> None:
        cmd = [sys.executable, "-m", "perfbench.server", "--workload", workload,
               "--run-dir", run_dir, "--cpus", str(cpus), "--trace", str(int(trace)),
               "--dialect", dialect]
        if tpch:
            cmd += ["--tpch", tpch]
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                   PYTHONUNBUFFERED="1")
        self.log_path = os.path.join(run_dir, "server.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, start_new_session=True,
        )
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()
        self.info: dict = {}

    def _read(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line.rstrip("\n"))
        self._lines.put(None)

    def _expect(self, prefix: str, timeout: float) -> str:
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise RuntimeError(f"server did not answer {prefix!r} in {timeout:.0f}s")
            try:
                line = self._lines.get(timeout=left)
            except queue.Empty:
                continue
            if line is None:
                raise RuntimeError(f"server exited; see {self.log_path}")
            if line.startswith(prefix):
                return line[len(prefix):]

    def wait_ready(self, timeout: float) -> None:
        self.info = json.loads(self._expect("READY ", timeout))

    def command(self, cmd: str, timeout: float = 30) -> None:
        cmd = cmd.strip()
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        self._expect("STOPPED" if cmd == "stop" else f"OK {cmd}", timeout)

    def _group_pids(self) -> list[int]:
        """The server's process group: the Python launcher and its JVM."""
        pids = []
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    if os.getpgid(int(pid)) == self.proc.pid:
                        pids.append(int(pid))
                except ProcessLookupError:
                    continue
        return pids

    def rss_peak_mb(self) -> float:
        """Sum of peak resident memory (VmHWM) over the process group."""
        total_kb = 0
        for pid in self._group_pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024.0

    def cpu_s(self) -> float:
        """User + system CPU seconds used so far by the process group."""
        ticks = 0
        for pid in self._group_pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
        return ticks / os.sysconf("SC_CLK_TCK")

    def close(self) -> None:
        """Stop the whole process group and wait for it."""
        try:
            if self.proc.poll() is None:
                try:
                    self.proc.stdin.close()
                except OSError:
                    pass
                try:
                    self.proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    pass
        finally:
            _reap_group(self.proc)
            self._log.close()


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _reap_group(proc: subprocess.Popen) -> None:
    """Kill what is left of ``proc``'s process group (the launcher and
    the JVM it started, which can outlive it briefly) and wait for it to
    end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and _group_alive(proc.pid):
        time.sleep(0.05)


# --------------------------------------------------------------------------
# Client connections
# --------------------------------------------------------------------------


class _RecordingFlightClient:
    """Wraps one ``pyarrow.flight.FlightClient`` of a traced run: records
    each RPC's send time and the Arrow bytes it carried, on the op being
    run (``sink``)."""

    def __init__(self, inner) -> None:
        self._inner = inner
        self.sink: list | None = None

    def _note(self, name: str, nbytes: int = 0) -> list:
        rec = [name, time.monotonic(), nbytes]
        if self.sink is not None:
            self.sink.append(rec)
        return rec

    def get_flight_info(self, *a, **k):
        self._note("get_flight_info")
        return self._inner.get_flight_info(*a, **k)

    def do_action(self, *a, **k):
        self._note("do_action")
        return self._inner.do_action(*a, **k)

    def do_get(self, *a, **k):
        rec = self._note("do_get")
        return _CountingReader(self._inner.do_get(*a, **k), rec)

    def do_put(self, *a, **k):
        rec = self._note("do_put")
        writer, meta = self._inner.do_put(*a, **k)
        return _CountingWriter(writer, rec), meta

    def close(self):
        self._inner.close()


class _CountingReader:
    def __init__(self, inner, rec) -> None:
        self._inner, self._rec = inner, rec

    def read_all(self):
        tbl = self._inner.read_all()
        self._rec[2] += tbl.nbytes
        return tbl


class _CountingWriter:
    def __init__(self, inner, rec) -> None:
        self._inner, self._rec = inner, rec

    def __enter__(self):
        self._inner.__enter__()
        return self

    def __exit__(self, *exc):
        return self._inner.__exit__(*exc)

    def write_batch(self, batch):
        self._rec[2] += batch.nbytes
        self._inner.write_batch(batch)

    def done_writing(self):
        self._inner.done_writing()


class Conn:
    """One client: its own Flight connection, session and prepared
    statements."""

    def __init__(self, port: int, name: str, traced: bool) -> None:
        from swanlake_spark.flightsql import FlightSqlClient

        self.client = FlightSqlClient(f"grpc://127.0.0.1:{port}", session_id=f"perfbench-{name}")
        self.session = self.client.session_id
        self.recorder = None
        if traced:
            self.recorder = _RecordingFlightClient(self.client._client)
            self.client._client = self.recorder
        self.prepared: dict = {}
        self.traced = False  # whether the server traces this client's requests

    def close(self) -> None:
        self.client.close()


# --------------------------------------------------------------------------
# Running ops
# --------------------------------------------------------------------------


DML_KINDS = ("update", "delete", "rmw")


class _Feed:
    """A fixed op list that several clients take from in order (closed
    loop: a client takes its next op when its previous one returned).
    ``drained_at`` is when the first client found it empty: until then
    every client was busy."""

    def __init__(self, ops) -> None:
        self._it = iter(ops)
        self._lock = threading.Lock()
        self.drained_at: float | None = None

    def __iter__(self):
        return self

    def __next__(self):
        with self._lock:
            try:
                return next(self._it)
            except StopIteration:
                if self.drained_at is None:
                    self.drained_at = time.monotonic()
                raise


def run_clients(conns, workload, feeds, before=None) -> list[dict]:
    """Run every client's feed to its end, one thread per client;
    ``before(conn, op)`` runs ahead of each op, outside its timing."""
    records: list[list[dict]] = [[] for _ in conns]
    errors: list[BaseException] = []

    def loop(i: int) -> None:
        try:
            conn, out = conns[i], records[i]
            for op in feeds[i]:
                if before is not None:
                    before(conn, op)
                rpcs: list = []
                if conn.recorder is not None:
                    conn.recorder.sink = rpcs
                w0, t0 = time.time(), time.monotonic()
                try:
                    result, err = workload.execute(conn, op), None
                except Exception as e:  # a failed op is counted, not raised
                    result, err = None, str(e)
                t1, w1 = time.monotonic(), time.time()
                if conn.recorder is not None:
                    conn.recorder.sink = None
                ok, changed, nbytes = workload.check(conn, op, result, err)
                out.append({
                    "kind": op.kind, "cls": op.cls, "ok": ok, "t0": t0, "t1": t1,
                    "session": conn.session, "traced": conn.traced, "rpcs": rpcs, "error": err,
                    "rows_changed": changed, "user_bytes": nbytes,
                    # read now: a later CHECKPOINT may compact these files away
                    "dml_bytes": (parquet_bytes_written(workload.run_dir, w0, w1)
                                  if op.kind in DML_KINDS else 0),
                })
        except BaseException as e:  # noqa: BLE001 - re-raised in the caller
            errors.append(e)

    threads = [threading.Thread(target=loop, args=(i,), daemon=True) for i in range(len(conns))]
    for t in threads:
        t.start()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    for t in threads:
        t.join(timeout=max(0.0, deadline - time.monotonic()))
        if t.is_alive():
            raise RuntimeError("a client did not finish in time")
    if errors:
        raise errors[0]
    return [r for rs in records for r in rs]


def _rows(tbl) -> list[tuple]:
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return list(zip(*cols))


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------
#
# A workload's work per run is fixed by the seed and --seconds (ops = its
# nominal rate x seconds), never by how fast the server answers, so both
# sides of an A/B do the same work and the writers leave the same data.


class TpchFlight:
    name = "tpch_flight"
    dialect = "duckdb"
    writes = False
    ops_per_s = 1.5  # rounded up to whole rounds of all 22 queries

    def __init__(self, seed: int, nproc: int) -> None:
        from swanlake_spark.queries.tpch import TPCH_QUERIES

        self.seed = seed
        self.clients = min(4, nproc)
        self.sql = {name: spec.oracle for name, spec in TPCH_QUERIES.items()}

    def prepare(self) -> None:
        """Compute every DuckDB answer over the same parquet before the
        server starts; the server loads it during set-up."""
        from swanlake_spark.testing import duck_connect

        self.tpch = TPCH_DATA
        con = duck_connect(TPCH_DATA)
        self.oracle = {name: con.execute(sql).df() for name, sql in self.sql.items()}
        con.close()

    def _feeds(self, conns, rounds: int, label: str):
        from perfbench.workloads import tpch_sequence

        feed = _Feed(tpch_sequence(self.seed, list(self.sql), rounds, label))
        return [feed] * len(conns)

    def setup(self, conns) -> None:
        """Warm-up: one round, so every query has been planned and its
        code generated once."""
        run_clients(conns, self, self._feeds(conns, 1, "tpch-warmup"))

    def feeds(self, conns, seconds: float):
        return self._feeds(conns, max(1, math.ceil(self.ops_per_s * seconds / len(self.sql))), "tpch")

    def execute(self, conn, op):
        return conn.client.execute(self.sql[op.kind])

    def check(self, conn, op, result, err):
        from swanlake_spark.testing import compare_frames

        ok = err is None and not compare_frames(result.to_pandas(), self.oracle[op.kind])
        return ok, 0, 0


class YcsbFlight:
    name = "ycsb_flight"
    dialect = ""
    writes = True
    rows = 100_000
    warmup_ops = 2
    ops_per_s = 3.0

    def __init__(self, seed: int, nproc: int) -> None:
        self.seed = seed
        self.clients = min(4, nproc)

    def prepare(self) -> None:
        from perfbench.workloads import YcsbModel

        self.models = [YcsbModel(self.seed, c, self.clients, self.rows) for c in range(self.clients)]
        self.loads = [m.load_rows() for m in self.models]

    def setup(self, conns) -> None:
        """Create the table, load each client's range with one DoPut
        through the prepared INSERT, prepare every statement, warm up."""
        from perfbench.workloads import YCSB_DDL, YCSB_STATEMENTS

        conns[0].client.execute_update(
            YCSB_DDL.format(location=os.path.join(self.run_dir, "tables", "usertable")))
        for conn, model, rows in zip(conns, self.models, self.loads):
            conn.model = model
            conn.prepared = {k: conn.client.prepare(sql) for k, sql in YCSB_STATEMENTS.items()}
            conn.prepared["insert"].execute_update(rows)
        self.load_bytes = sum(map(self.models[0].row_bytes, (r for rows in self.loads for r in rows)))
        recs = run_clients(conns, self, [[m.next_op() for _ in range(self.warmup_ops)] for m in self.models])
        self.load_bytes += sum(r["user_bytes"] for r in recs)
        self.warmup_failures = [(r["kind"], (r["error"] or "wrong answer")[:300]) for r in recs if not r["ok"]]

    def feeds(self, conns, seconds: float):
        n = max(1, round(self.ops_per_s * seconds / len(conns)))
        return [_Feed([m.next_op() for _ in range(n)]) for m in self.models]

    def execute(self, conn, op):
        op.expect = conn.model.expected(op)
        p = conn.prepared
        if op.kind in ("read", "scan"):
            return _rows(p[op.call].execute(list(op.args)))
        if op.kind in ("insert", "delete"):
            return p[op.kind].execute_update([list(op.args)])
        key, value = op.args
        update = p["update" + op.call[len(op.kind):]]
        if op.kind == "update":
            return update.execute_update([[value, key]])
        before = _rows(p["read"].execute([key]))  # read-modify-write
        return before, update.execute_update([[value, key]])

    def check(self, conn, op, result, err):
        model = conn.model
        if err is None and model.matches(op, result):
            changed, nbytes = model.apply(op) if op.cls == "write" else (0, 0)
            return True, changed, nbytes
        if op.cls == "write":
            model.forget(op.args[0])
        return False, 0, 0


class IngestRefresh:
    name = "ingest_refresh"
    dialect = ""
    writes = True
    clients = 1
    cycles_per_s = 0.6

    def __init__(self, seed: int, nproc: int) -> None:
        self.seed = seed

    def prepare(self) -> None:
        from perfbench.workloads import IngestModel

        self.model = IngestModel(self.seed)
        self.first = self.model.batch()

    def setup(self, conns) -> None:
        """Create the table, DoPut one batch, create the matview, then run
        one warm-up cycle."""
        from perfbench.workloads import INGEST_DDL, INGEST_INSERT, INGEST_MATVIEW

        c = conns[0]
        c.client.execute_update(
            INGEST_DDL.format(location=os.path.join(self.run_dir, "tables", "ingest_events")))
        c.prepared = {"insert": c.client.prepare(INGEST_INSERT)}
        c.prepared["insert"].execute_update(self.first)
        c.client.execute_update(INGEST_MATVIEW)
        self.visible = self.model.expected_rollup()
        self.load_bytes = self.model.batch_bytes(self.first)
        recs = run_clients(conns, self, [self.model.cycle()])
        self.load_bytes += sum(r["user_bytes"] for r in recs)
        self.warmup_failures = [(r["kind"], (r["error"] or "wrong answer")[:300]) for r in recs if not r["ok"]]

    def feeds(self, conns, seconds: float):
        n = max(1, round(self.cycles_per_s * seconds))
        return [_Feed([op for _ in range(n) for op in self.model.cycle()])]

    def execute(self, conn, op):
        """``op.call`` says how: ``insert`` a DoPut through the prepared
        INSERT, ``update`` a statement that changes data, else a query."""
        if op.call == "insert":
            return conn.prepared["insert"].execute_update(op.args[0])
        if op.call == "update":
            return conn.client.execute_update(op.args[0])
        return _rows(conn.client.execute(op.args[0]))

    def check(self, conn, op, result, err):
        if err is not None:
            return False, 0, 0
        if op.kind == "refresh":
            # the rollup a read must show from now on
            self.visible = op.expect
            return True, 0, 0
        if op.kind == "rollup_read":
            return result == self.visible, 0, 0
        ok = op.expect is None or result == op.expect
        return ok, op.rows_changed if ok else 0, op.user_bytes if ok else 0


WORKLOADS = {w.name: w for w in (TpchFlight, YcsbFlight, IngestRefresh)}


# --------------------------------------------------------------------------
# Disk accounting
# --------------------------------------------------------------------------


def _files(root: str):
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            yield p, st


def _table_files(run_dir: str):
    """The files of the written tables: data, manifests and retained
    versions under ``tables/`` and the warehouse."""
    for sub in ("tables", "warehouse"):
        yield from _files(os.path.join(run_dir, sub))


def parquet_bytes_written(run_dir: str, w0: float, w1: float) -> int:
    """Bytes of the tables' parquet files written between ``w0`` and
    ``w1`` (wall clock)."""
    return sum(st.st_size for p, st in _table_files(run_dir)
               if p.endswith(".parquet") and w0 <= st.st_mtime <= w1)


def disk_usage(run_dir: str, since: float, recs: list[dict]) -> dict:
    """Bytes of the written tables at the end; bytes of their parquet
    data files created since ``since`` (wall clock) that are still on
    disk; the bytes UPDATE, DELETE and RMW ops wrote, with the rows they
    changed; and the user bytes all ops wrote."""
    total = created = 0
    for p, st in _table_files(run_dir):
        total += st.st_size
        if p.endswith(".parquet") and st.st_mtime >= since:
            created += st.st_size
    dml = [r for r in recs if r["kind"] in DML_KINDS]
    return {"table_bytes": total, "created_bytes": created,
            "dml_created_bytes": sum(r["dml_bytes"] for r in dml),
            "dml_rows_changed": sum(r["rows_changed"] for r in dml),
            "user_bytes": sum(r["user_bytes"] for r in recs)}


# --------------------------------------------------------------------------
# Main
# --------------------------------------------------------------------------


def read_back_confs(port: int, keys: list[str]) -> dict[str, str]:
    """Effective Spark confs as a client session sees them, read through
    Flight with SQL variable substitution."""
    from swanlake_spark.flightsql import FlightSqlClient

    c = FlightSqlClient(f"grpc://127.0.0.1:{port}", session_id="perfbench-confs")
    try:
        sql = "SELECT " + ", ".join(f"'${{{k}}}' AS c{i}" for i, k in enumerate(keys))
        row = c.execute(sql).to_pylist()[0]
    finally:
        c.close()
    return {k: row[f"c{i}"] for i, k in enumerate(keys) if row[f"c{i}"] != f"${{{k}}}"}


def _tracing_plan(server, conns):
    """Trace half the work and leave the other half untraced, at the same
    time, so the difference between the halves is the tracing overhead:
    with several clients the odd-numbered ones are traced; a single
    client is traced on every other op, switched between ops (its cycles
    have four ops, and a CHECKPOINT every fourth cycle shifts which half
    each op type lands in, so every type lands in both). Returns the
    per-op hook, or None."""
    if len(conns) > 1:
        for i, c in enumerate(conns):
            c.traced = i % 2 == 1
        server.command("trace " + " ".join(c.session for c in conns if c.traced))
        return None

    def toggle(conn, op):
        conn.traced = not conn.traced
        server.command("trace " + (conn.session if conn.traced else ""))

    return toggle


def run(args) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    from perfbench import stats

    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, nproc)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl.run_dir = run_dir
    wl.prepare()

    t_spawn = time.monotonic()
    server = Server(run_dir, wl.name, nproc, bool(args.trace),
                    getattr(wl, "tpch", None), wl.dialect)
    conns = []
    try:
        server.wait_ready(SETUP_TIMEOUT_S)
        t_ready = time.monotonic()
        port = server.info["port"]
        conns = [Conn(port, f"{wl.name}-{i}", bool(args.trace)) for i in range(wl.clients)]
        wl.setup(conns)
        setup_s = time.monotonic() - t_spawn
        setup_parts = {
            "server_ready_s": t_ready - t_spawn,
            "engine_start_s": server.info["engine_start_s"],
            "load_s": server.info["load_s"],
            "workload_setup_s": setup_s - (t_ready - t_spawn),
        }

        feeds = wl.feeds(conns, args.seconds)
        before = _tracing_plan(server, conns) if args.trace else None
        t_wall0 = time.time()
        cpu0 = server.cpu_s()
        t0 = time.monotonic()
        recs = run_clients(conns, wl, feeds, before)
        window = (t0, min(f.drained_at for f in feeds))
        cpu_s = server.cpu_s() - cpu0
        if args.trace:
            server.command("trace")
        confs = read_back_confs(port, sorted(server.info["spark_confs"]))
        rss = server.rss_peak_mb()
        disk = disk_usage(run_dir, t_wall0, recs)
        user_bytes = getattr(wl, "load_bytes", 0) + disk["user_bytes"]
        for c in conns:
            c.close()
        conns = []
        server.command("stop", timeout=120)
        spans = []
        if args.trace:
            with open(os.path.join(run_dir, "trace.json")) as f:
                spans = json.load(f)
    except BaseException:
        with open(server.log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise
    finally:
        for c in conns:
            c.close()
        server.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = stats.end_to_end(recs, *window)
    e2e["setup_s"] = stats.metric(setup_s, "s", 1)
    e2e["server_rss_peak_mb"] = stats.metric(rss, "MB", 1)
    e2e["server_cpu_ms_per_op"] = stats.metric(cpu_s * 1e3 / len(recs), "ms", len(recs))
    e2e["storage_bytes_per_user_byte"] = stats.metric(
        disk["table_bytes"] / user_bytes if wl.writes and user_bytes else None, "ratio", 1)
    failed = [r for r in recs if not r["ok"]]
    out = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "clients": wl.clients, "nproc": nproc,
        "engine_config": server.info["engine_config"],
        "launcher_confs": server.info["launcher_confs"],
        "effective_spark_confs": confs,
        "versions": {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "duckdb": duckdb.__version__, "python": sys.version.split()[0]},
        "attempted": len(recs), "failed": len(failed),
        # an op that raised is a failure; one that answered wrongly is also incorrect
        "wrong_answers": sum(r["error"] is None for r in failed),
        "failed_kinds": sorted({r["kind"] for r in failed}),
        "first_failures": [
            (recs.index(r), r["kind"], (r["error"] or "wrong answer")[:300]) for r in failed[:5]
        ],
        "end_to_end": e2e,
        "by_kind": stats.by_kind(recs),
        "ops": [(r["kind"], r["ok"], round((r["t1"] - r["t0"]) * 1e3, 1)) for r in recs],
        "setup_parts": setup_parts,
        "warmup_failures": getattr(wl, "warmup_failures", []),
    }
    if args.trace:
        from perfbench.layers import PER_LAYER_UNITS, per_layer

        traced = [r for r in recs if r["traced"]]
        layer = per_layer(spans, traced, disk)
        layer["tracing.overhead_ms"] = stats.median_shift([r for r in recs if not r["traced"]], traced)
        out["per_layer"] = {k: stats.metric(layer.get(k), PER_LAYER_UNITS[k], len(traced))
                            for k in sorted(PER_LAYER_UNITS)}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "swanlake_spark")):
        _die("swanlake_spark not found beside perfbench/; run from a checkout of the repository")
    sys.path.insert(0, ROOT)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    try:
        res = run(args)
    except Exception as e:  # report and fail without a result line
        traceback.print_exc()
        _die(f"run failed: {e}", 1)
    section = "per_layer" if args.trace else "end_to_end"
    for name, m in res[section].items():
        print(f"{res['workload']:>15} {name:<40} {_fmt(m['value']):>14} {m['unit']:<6} n={m['samples']}")
    print("REPORT " + json.dumps(res, default=str))
    wanted = [m["name"] for m in bench[section]]
    metrics = {}
    for name in wanted:
        m = res[section][name]
        if m["value"] is None or not math.isfinite(m["value"]):
            _die(f"{name} has no value on {res['workload']}", 1)
        metrics[name] = {"value": m["value"], "unit": m["unit"]}
    print(json.dumps({
        "correct": res["wrong_answers"] == 0,
        "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics,
    }))


def _fmt(v) -> str:
    return "null" if v is None else f"{v:.4f}"


if __name__ == "__main__":
    main()
