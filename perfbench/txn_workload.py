"""The ``txn`` workload: one Engine serving writes beside reads.

Set-up seeds an engine root with the fixture ``orders`` table and the
materialized view ``rev``, then starts the HTTP, pgwire and Flight SQL
servers over it.  Three clients then run at once:

- a writer sends small SQL DML transactions over HTTP ``POST /tx`` in a
  fixed cycle of kinds with seeded ids and values, with ``REFRESH MATERIALIZED VIEW rev`` every
  ``REFRESH_EVERY``-th and ``OPTIMIZE orders`` every
  ``OPTIMIZE_EVERY``-th operation;
- a pgwire reader alternates point and ``FOR SYSTEM_TIME AS OF`` reads;
- a Flight SQL reader alternates an aggregate and a ``mview_rev`` read.

They run in lock-step rounds, one request each per round, so the mix
of operations is fixed and the run ends with the writer's last
transaction, leaving the same stored state for the same seed.

OPTIMIZE rewrites every file of the table and REFRESH swaps the view's
data directory, so a read planned before either one fails on a vanished
file.  Both therefore run in a maintenance window: they wait for
in-flight reads to finish and readers wait for them, and a read's
latency counts from when it was due, so the stall shows in the read
tail.
"""

from __future__ import annotations

import json
import math
import os
import random
import socket
import statistics
import struct
import threading
import time
from concurrent.futures import ThreadPoolExecutor
import urllib.error
import urllib.request

import pandas as pd
import pyarrow.parquet as pq

import checks as cmp
import common
import datagen
import spans as tr

REFRESH_EVERY = 4
OPTIMIZE_EVERY = 7
COLUMNS = ("id", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
           "o_orderpriority")
SELECT_STATE = f"SELECT {', '.join(COLUMNS)} FROM orders"
REV_SCRATCH = ("SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS s "
               "FROM orders GROUP BY o_orderstatus")
# Engine opens are repeated and their median reported, so one slow
# repetition does not move setup_s.
SETUP_REPEATS = 3


class PgClient:
    """The simple-query subset of the PostgreSQL v3 wire protocol."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port))
        body = struct.pack("!I", 196608) + b"user\x00bench\x00database\x00core2\x00\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        while self._message()[0] != b"Z":
            pass

    def _exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed")
            buf += chunk
        return buf

    def _message(self) -> tuple[bytes, bytes]:
        tag = self._exact(1)
        (n,) = struct.unpack("!I", self._exact(4))
        return tag, self._exact(n - 4)

    def query(self, sql: str) -> list[tuple]:
        body = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        rows, error = [], None
        while True:
            tag, payload = self._message()
            if tag == b"D":
                (k,) = struct.unpack("!h", payload[:2])
                i, rec = 2, []
                for _ in range(k):
                    (ln,) = struct.unpack("!i", payload[i:i + 4])
                    i += 4
                    rec.append(None if ln == -1 else payload[i:i + ln].decode())
                    i += max(ln, 0)
                rows.append(tuple(rec))
            elif tag == b"E":
                error = payload.decode(errors="replace")
            elif tag == b"Z":
                break
        if error:
            raise RuntimeError(f"pgwire error: {error[:200]}")
        return rows

    def close(self) -> None:
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


def _post_tx(port: int, statements: list[str]) -> str:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/tx",
        data=json.dumps({"statements": statements}).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())["tx_time"]
    except urllib.error.HTTPError as exc:
        raise RuntimeError(f"/tx {exc.code}: {exc.read()[:200]!r}") from None


def _ts(tx_time: str) -> str:
    return tx_time.replace("T", " ")


class Writer:
    """DML generator that keeps a model of the current state; a
    transaction is applied to the model only once acknowledged.  The
    statement kinds follow a fixed cycle, so every seed runs the same
    mix; the seed picks ids and values."""

    CYCLE = ("price", "insert", "status", "delete", "multi")

    def __init__(self, seed: int, orders: pd.DataFrame):
        self.rng = random.Random(seed * 7919 + 1)
        self.model = {int(r[0]): list(r[1:]) for r in orders.itertuples(index=False)}
        self.live = sorted(self.model)
        self.next_id = max(self.live) + 1
        self.acked: list[str] = []
        self.dml_count = 0

    def _pick(self, taken: set) -> int:
        while True:
            k = self.live[self.rng.randrange(len(self.live))]
            if k not in taken and k in self.model:
                taken.add(k)
                return k

    def _dml(self, kind: str, taken: set) -> tuple[str, callable]:
        rng = self.rng
        if kind == "price":
            k, d = self._pick(taken), rng.randint(1, 500)

            def apply(m, k=k, d=d):
                m[k][2] = m[k][2] + d
            return f"UPDATE orders SET o_totalprice = o_totalprice + {d} WHERE id = {k}", apply
        if kind == "status":
            k, st = self._pick(taken), rng.choice("FOP")

            def apply(m, k=k, st=st):
                m[k][1] = st
            return f"UPDATE orders SET o_orderstatus = '{st}' WHERE id = {k}", apply
        if kind == "insert":
            k, self.next_id = self.next_id, self.next_id + 1
            cust, price = rng.randrange(1000), rng.randint(100000, 50000000) / 100
            day = f"{rng.randint(1995, 2001)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"
            st, prio = rng.choice("FOP"), f"{rng.randint(1, 5)}-X"

            def apply(m, k=k, row=(cust, st, price, pd.Timestamp(day), prio)):
                m[k] = list(row)
            return (
                f"INSERT INTO orders RECORDS {{id: {k}, o_custkey: {cust}, "
                f"o_orderstatus: '{st}', o_totalprice: {price!r}, "
                f"o_orderdate: TIMESTAMP '{day} 00:00:00', o_orderpriority: '{prio}'}}"
            ), apply
        k = self._pick(taken)

        def apply(m, k=k):
            del m[k]
        return f"DELETE FROM orders WHERE id = {k}", apply

    def transaction(self, i: int) -> tuple[str, list[str], list]:
        if i % REFRESH_EVERY == 0:
            return "refresh", ["REFRESH MATERIALIZED VIEW rev"], []
        if i % OPTIMIZE_EVERY == 0:
            return "optimize", ["OPTIMIZE orders"], []
        kind = self.CYCLE[self.dml_count % len(self.CYCLE)]
        self.dml_count += 1
        kinds = ("price", "insert", "delete") if kind == "multi" else (kind,)
        taken: set = set()
        parts = [self._dml(k, taken) for k in kinds]
        return "dml", [p[0] for p in parts], [p[1] for p in parts]

    def acknowledge(self, kind: str, applies: list, tx_time: str) -> None:
        for apply in applies:
            apply(self.model)
        if kind == "dml":
            self.acked.append(tx_time)


class Window:
    """Readers enter freely unless maintenance holds the window.  In a
    traced run a reader's wait is its own span, so it is not counted as
    server time."""

    def __init__(self, tracer):
        self._cond = threading.Condition()
        self._readers = 0
        self._held = False
        self._tracer = tracer

    def read(self, fn):
        with self._cond:
            if self._held and self._tracer is not None:
                with self._tracer.span("client.window_wait"):
                    self._cond.wait_for(lambda: not self._held)
            self._cond.wait_for(lambda: not self._held)
            self._readers += 1
        try:
            return fn()
        finally:
            with self._cond:
                self._readers -= 1
                self._cond.notify_all()

    def maintain(self, fn):
        with self._cond:
            self._held = True
            self._cond.wait_for(lambda: self._readers == 0)
        try:
            return fn()
        finally:
            with self._cond:
                self._held = False
                self._cond.notify_all()


class Slot:
    """The operation a server is currently serving for its one client."""
    op: str | None = None
    span: int | None = None


def run(args, tmp: str, data_root: str, tracer) -> dict:
    from pyspark.sql import functions as F

    from core2_spark import mviews
    from core2_spark.engine import Engine, Put
    from core2_spark.flight_server import SqlFlightServer, fetch_sql
    from core2_spark.http_server import SqlHttpServer
    from core2_spark.pgwire_server import PgWireServer

    data_dir = datagen.generate(
        f"{data_root}/s{args.seed}-x{args.scale}", args.seed, args.scale
    )
    orders_path = os.path.join(data_dir, "orders.parquet")
    session_s, spark = common.timed(common.start_session, tmp)
    sc = spark.sparkContext
    root = os.path.join(tmp, "engine")

    def seed_engine():
        eng = Engine(spark, root)
        basis = eng.submit_tx([Put(
            "orders", spark.read.parquet(orders_path).withColumnRenamed("o_orderkey", "id")
        )])
        eng.sql_dml(f"CREATE MATERIALIZED VIEW rev AS {REV_SCRATCH}")
        return basis.current_time.isoformat()

    seed_s, seed_time = common.timed(seed_engine)

    def open_engine():
        eng = Engine(spark, root)
        eng.db()
        return eng

    opens = [common.timed(open_engine) for _ in range(SETUP_REPEATS)]
    open_s = sorted(t for t, _ in opens)[SETUP_REPEATS // 2]
    eng = opens[-1][1]

    slots = {"http": Slot(), "pgwire": Slot(), "flight": Slot()}
    dfs: dict[str, object] = {}
    commits: list[tuple[int, int]] = []
    optimized: list[int] = []
    refresh_modes: list[str] = []
    table_dir = os.path.join(root, "orders")

    def executor(server):
        if tracer is None:
            return lambda sql: eng.db().sql(sql)
        slot = slots[server]

        def traced(sql):
            sc.setJobGroup(slot.op, server)
            with tracer.span("executor", op=slot.op, parent=slot.span):
                snap = eng.db()
                with tracer.span("sql_dialect.plan"):
                    df = snap.sql(sql)
            dfs.setdefault(sql.split(" WHERE ")[0].split(" FOR ")[0], df)
            return df

        return traced

    if tracer is not None:
        _instrument(tracer, sc, eng, mviews, slots["http"], table_dir,
                    commits, optimized, refresh_modes)

    t = time.perf_counter()
    http = SqlHttpServer(executor("http"), engine=eng)
    pg = PgWireServer(executor("pgwire"), engine=eng)
    flight = SqlFlightServer(executor("flight"), engine=eng)
    threading.Thread(target=flight.serve, daemon=True).start()
    location = f"grpc://127.0.0.1:{flight.port}"
    pgc = PgClient(pg.port)
    serve_s = time.perf_counter() - t

    writer = Writer(args.seed, pq.read_table(orders_path).to_pandas())
    rng_pg = random.Random(args.seed * 31 + 2)
    n_reads = {"pgwire": 0, "flight": 0}
    failures: list[str] = []
    lat = {"commit": [], "read": []}
    counter = iter(range(1, 1 << 30))
    lock = threading.Lock()
    window = Window(tracer)

    def client_op(server: str, kind: str, fn):
        """One closed-loop request; latency counts from when it was due."""
        op = f"{server}{next(counter)}"
        t = time.perf_counter()
        if kind == "read":
            fn = (lambda f: lambda: window.read(f))(fn)
        try:
            if tracer is None:
                out = fn()
            else:
                with tracer.span(f"{server}_server", op) as rec:
                    slots[server].op, slots[server].span = op, rec["id"]
                    out = fn()
        except Exception as exc:  # noqa: BLE001 — reported as a failure
            with lock:
                failures.append(f"{server} {kind}: {exc!r:.300}")
            return None
        with lock:
            lat[kind].append(time.perf_counter() - t)
        return out

    def write(i: int) -> None:
        kind, statements, applies = writer.transaction(i)
        send = lambda: _post_tx(http.port, statements)  # noqa: E731
        if kind in ("optimize", "refresh"):
            send = (lambda f: lambda: window.maintain(f))(send)
        tx_time = client_op("http", "commit", send)
        if tx_time is not None:
            writer.acknowledge(kind, applies, tx_time)

    # Each reader alternates its two statement kinds; the seed picks
    # the ids and the as-of times.
    def pg_read():
        k = writer.live[rng_pg.randrange(len(writer.live))]
        n_reads["pgwire"] += 1
        if n_reads["pgwire"] % 2:
            sql = f"SELECT id, o_orderstatus, o_totalprice FROM orders WHERE id = {k}"
        else:
            times = [seed_time] + writer.acked
            at = times[rng_pg.randrange(len(times))]
            sql = (f"SELECT id, o_orderstatus, o_totalprice FROM orders "
                   f"FOR SYSTEM_TIME AS OF TIMESTAMP '{_ts(at)}' WHERE id = {k}")
        return lambda: client_op("pgwire", "read", lambda: pgc.query(sql))

    def flight_read():
        n_reads["flight"] += 1
        sql = REV_SCRATCH if n_reads["flight"] % 2 else "SELECT * FROM mview_rev"
        return lambda: client_op("flight", "read", lambda: fetch_sql(location, sql))

    # Warm pass: one write and one read per server, writes kept in the model.
    t = time.perf_counter()
    write(1)
    pg_read()()
    flight_read()()
    flight_read()()
    warm_s = time.perf_counter() - t
    for kind in lat.values():
        kind.clear()
    as_of_sql = (f"SELECT id, o_orderstatus, o_totalprice FROM orders FOR SYSTEM_TIME "
                 f"AS OF TIMESTAMP '{_ts(seed_time)}' WHERE id < 300")
    early = sorted(pgc.query(as_of_sql))
    if tracer is not None:  # per-layer figures cover the timed rounds only
        for record in (tracer.spans, commits, optimized, refresh_modes):
            record.clear()

    # Rounds: the three clients each send one request at the same
    # moment, and the next round starts once all three have replies.
    # The readers' statements are drawn before the round, so every
    # statement is fixed by the seed.
    n_rounds = max(REFRESH_EVERY, round(args.seconds))
    gc0 = tr.gc_seconds(spark) if tracer else 0.0
    start = time.perf_counter()
    with ThreadPoolExecutor(3) as pool:
        for i in range(2, n_rounds + 2):
            reads = (pg_read(), flight_read())
            for f in [pool.submit(write, i)] + [pool.submit(r) for r in reads]:
                f.result()
    wall = time.perf_counter() - start
    gc_s = tr.gc_seconds(spark) - gc0 if tracer else 0.0
    heap = common.live_heap_mb(spark)
    attempted = next(counter) - 1

    # Correctness, outside every timed region.
    t = time.perf_counter()
    checks = {}
    checks["as_of_repeatable"] = sorted(pgc.query(as_of_sql)) == early
    pgc.close()
    for server in (http, pg, flight):
        server.shutdown()
    eng.refresh_materialized_view("rev")
    checks["mview_matches_scratch"] = _same_aggregate(
        eng.materialized_view("rev").toPandas(), eng.db().sql(REV_SCRATCH).toPandas()
    )
    restarted = Engine(spark, root)
    state_tbl = restarted.db().sql(SELECT_STATE).toArrow()
    state = state_tbl.to_pandas()
    want = pd.DataFrame([[k, *v] for k, v in writer.model.items()], columns=list(COLUMNS))
    why = cmp.mismatch(state, want)
    checks["restart_state_matches_model"] = why is None
    hist = restarted.db().history("orders")
    times = hist.select(F.explode(F.array("system_time_start", "system_time_end")).alias("t"))
    seen = {str(r.t) for r in times.distinct().collect()}
    missing = [a for a in writer.acked if str(pd.Timestamp(a)) not in seen]
    checks["restart_shows_acked_txs"] = not missing
    files, stored = common.dir_bytes(table_dir)[0], common.dir_bytes(root)[1]
    state_bytes = state_tbl.nbytes
    check_s = time.perf_counter() - t
    for name, ok in checks.items():
        if not ok:
            detail = {"restart_state_matches_model": why,
                      "restart_shows_acked_txs": f"missing {missing[:5]}"}.get(name, "")
            failures.append(f"check {name} failed {detail}")

    all_lat = lat["commit"] + lat["read"]
    layers = {}
    if tracer is not None:
        layers = _layers(spark, tracer, dfs, gc_s, lat, commits, optimized,
                         refresh_modes, files, stored / state_bytes)
    peak = common.peak_rss_mb(spark)
    common.stop_session(spark)
    def summary(xs):
        if not xs:
            return "no samples"
        t, pct = common.tail(xs)
        return f"{statistics.median(xs):.4f} s tail={t:.4f} s ({pct}) samples={len(xs)}"

    return {
        "attempted": attempted + len(checks),
        "failures": failures,
        "checks": checks,
        "setup": {"session_s": session_s, "seed_s": seed_s, "open_s": open_s,
                  "serve_s": serve_s, "warm_s": warm_s},
        "latency": common.latency_metrics(all_lat, wall) if all_lat else None,
        "peak_rss_mb": peak,
        "heap_live_mb": heap,
        "layers": layers,
        "extra": {
            "commit_p50_s": summary(lat["commit"]),
            "read_p50_s": summary(lat["read"]),
            "space_amp": f"{stored / state_bytes:.3f} ratio ({files} live files)",
            "check_s": f"{check_s:.3f}", "timed_wall_s": f"{wall:.3f}",
        },
    }


def _same_aggregate(view: pd.DataFrame, scratch: pd.DataFrame) -> bool:
    a = view.set_index("o_orderstatus").sort_index()
    b = scratch.set_index("o_orderstatus").sort_index()
    return (
        list(a.index) == list(b.index)
        and list(a["n"]) == list(b["n"])
        and all(math.isclose(x, y, rel_tol=1e-9) for x, y in zip(a["s"], b["s"]))
    )


def _instrument(tracer, sc, eng, mviews, http_slot, table_dir,
                commits, optimized, refresh_modes) -> None:
    """Wrap the public Engine methods (and the mviews refresh the SQL
    maintenance path calls) in spans.  A call arriving on a server
    thread with no open span belongs to the HTTP writer's operation."""

    def span(name):
        if tracer.current() is None:
            sc.setJobGroup(http_slot.op, name)
            return tracer.span(name, op=http_slot.op, parent=http_slot.span)
        return tracer.span(name)

    def listed():
        with tracer.span("trace.listing"):
            return common.dir_bytes(table_dir)

    def wrap(owner, attr, name, before=None, after=None):
        orig = getattr(owner, attr)

        def inner(*a, **kw):
            ctx = before() if before else None
            with span(name):
                out = orig(*a, **kw)
            if after:
                after(ctx, out)
            return out

        setattr(owner, attr, inner)

    def committed(before, _out):
        after = listed()
        commits.append((after[0] - before[0], after[1] - before[1]))

    wrap(eng, "db", "basis.acquire")
    wrap(eng, "sql_dml_many", "sql_dml")
    wrap(eng, "submit_tx", "engine.commit", before=listed, after=committed)
    wrap(eng, "optimize", "engine.optimize",
         after=lambda _ctx, _out: optimized.append(listed()[1]))
    wrap(mviews, "refresh", "mviews.refresh",
         after=lambda _ctx, out: refresh_modes.append(out.get("mode", "?")))


def _layers(spark, tracer, dfs, gc_s, lat, commits, optimized, refresh_modes,
            live_files, space_amp) -> dict:
    ops = sorted({s["op"] for s in tracer.spans if s["name"].endswith("_server")})
    out = common.query_path_layers(spark, tracer, ops, dfs, gc_s)
    spans = tracer.spans
    own = tr.self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    def under(s, ancestor_name) -> bool:
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == ancestor_name:
                return True
        return False

    jobs = named("spark.job")
    compile_s = []
    for s in named("sql_dml"):
        kids = [k for k in spans if k["parent"] == s["id"]
                and k["name"] in ("engine.commit", "mviews.refresh", "engine.optimize")]
        if any(k["name"] == "engine.commit" for k in kids):
            compile_s.append(dur(s) - sum(dur(k) for k in kids))
    commit_tail = common.tail(lat["commit"])[0] if lat["commit"] else 0.0
    read_tail = common.tail(lat["read"])[0] if lat["read"] else 0.0
    reads = {s["op"] for s in spans if s["name"] in ("pgwire_server", "flight_server")}
    read_exec = [
        tr.union_length([(j["start"], j["end"]) for j in jobs if j["op"] == op])
        for op in reads
    ]
    out.update({
        "client.commit_p50_s": statistics.median(lat["commit"]) if lat["commit"] else 0.0,
        "client.commit_tail_s": commit_tail,
        "client.read_p50_s": statistics.median(lat["read"]) if lat["read"] else 0.0,
        "client.read_tail_s": read_tail,
        "http_server.self_s": common.mean(own[s["id"]] for s in named("http_server")),
        "pgwire_server.self_s": common.mean(own[s["id"]] for s in named("pgwire_server")),
        "flight_server.self_s": common.mean(own[s["id"]] for s in named("flight_server")),
        "sql_dialect.plan_s": common.mean(dur(s) for s in named("sql_dialect.plan")),
        "basis.acquire_s": common.mean(dur(s) for s in named("basis.acquire")),
        "engine.commit_s": common.mean(dur(s) for s in named("engine.commit")),
        "sql_dml.compile_s": common.mean(compile_s),
        "engine.commit_jobs": (sum(under(j, "engine.commit") for j in jobs)
                               / max(1, len(named("engine.commit")))),
        "engine.files_per_commit": common.mean(f for f, _ in commits),
        "engine.bytes_per_commit": common.mean(b for _, b in commits),
        "engine.live_files": live_files,
        "engine.optimize_s": common.mean(dur(s) for s in named("engine.optimize")),
        "engine.optimize_bytes_rewritten": common.mean(optimized),
        "engine.space_amp": space_amp,
        "mviews.refresh_s": common.mean(dur(s) for s in named("mviews.refresh")),
        "mviews.incremental_frac": (refresh_modes.count("incremental") / len(refresh_modes)
                                    if refresh_modes else 0.0),
        "temporal.read_exec_s": common.mean(read_exec),
    })
    return out
