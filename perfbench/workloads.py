"""The workloads: request generators, closed-loop clients and the
off-clock correctness checks.

Every operation becomes one `Op`; `run.py` turns the list into the
end-to-end metrics. A workload object is built after set-up, warmed
once (off the clock), driven for the timed window, then checked.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import stats

now = time.perf_counter

# Tail percentile reported as latency_tail_ms, fixed per workload so
# that every run reports the same rank. It is taken per operation kind
# and averaged like the median (stats.balanced_percentile). Each is the
# highest rung of stats.TAIL_LADDER that keeps at least 10 samples
# beyond it, summed over the kinds, at the sample count the workload
# reaches in run_seconds on 4 cores; run.py prints the counts.
TAIL_PCT = {"dashboard": 90.0, "adhoc": 70.0, "ingest_mixed": 70.0,
            "ingest_concurrent": 70.0, "datapipe": 70.0}

WHY = {
    "dashboard": "repeated dashboard refresh: 3 closed-loop HTTP clients "
                 "cycle 22 statements that fit the plan cache, loading "
                 "server, scheduler and execution",
    "adhoc": "slice-and-dice with fresh literals on every request, so "
             "translation, Catalyst and codegen run each time",
    "ingest_mixed": "one HTTP client cycles an INSERT batch, a count over "
                    "the new rows and two fresh-literal lineitem reads, "
                    "with inline compaction: appends meet compile costs",
    "ingest_concurrent": "ingest_mixed with writer and reader on two "
                         "clients at once; shows the compaction-under-"
                         "read defect",
    "datapipe": "engine-direct minhash dedup, text profiling and top-k "
                "similarity: the only load on datapipe/",
}


@dataclass
class Op:
    kind: str
    t0: float
    lat: float
    status: int | None = None
    error: str | None = None
    nbytes: int = 0
    correct: bool = True
    extra: dict = field(default_factory=dict)

    @property
    def failure(self):
        return stats.failure_kind(self.status, self.error, self.correct)


class Client:
    """One keep-alive HTTP/1.1 connection; a request is timed from
    sending until the last response byte has been read."""

    def __init__(self, port: int, timeout: float = 120.0):
        import http.client
        self._mk = lambda: http.client.HTTPConnection(
            "127.0.0.1", port, timeout=timeout)
        self.conn = self._mk()

    def call(self, kind: str, method: str, path: str, body=None) -> Op:
        data = None if body is None else json.dumps(body).encode()
        hdrs = {"Content-Type": "application/json"} if data else {}
        t0 = now()
        try:
            self.conn.request(method, path, body=data, headers=hdrs)
            resp = self.conn.getresponse()
            raw = resp.read()
        except Exception as e:  # one failed op; reconnect for the next
            self.conn.close()
            self.conn = self._mk()
            return Op(kind, t0, now() - t0,
                      error=f"{type(e).__name__}: {e}")
        op = Op(kind, t0, now() - t0, status=resp.status, nbytes=len(raw))
        op.extra["raw"] = raw
        return op

    def close(self) -> None:
        self.conn.close()


def decode(raw: bytes, fmt: str):
    """Response body -> rows (csv) or decoded JSON."""
    if fmt == "csv":
        rows = [r for r in csv.reader(io.StringIO(raw.decode())) if r]
        return [[_num(c) for c in r] for r in rows]
    return json.loads(raw)


def _num(cell: str):
    try:
        return float(cell) if any(ch in cell for ch in ".eE") \
            else int(cell)
    except ValueError:
        return cell


def leaves(x, prefix=""):
    """Flatten decoded JSON to a sorted tuple of (path, scalar) pairs."""
    if isinstance(x, dict):
        return tuple(p for k in sorted(x) for p in leaves(x[k],
                                                          f"{prefix}/{k}"))
    if isinstance(x, list):
        return tuple(p for i, v in enumerate(x)
                     for p in leaves(v, f"{prefix}/{i}"))
    return ((prefix, x),)


def same_answer(a, b) -> bool:
    """Equal up to float tolerance; a top-level list may differ in row
    order (a statement without ORDER BY has no fixed one)."""
    if stats.same(a, b):
        return True
    if isinstance(a, list) and isinstance(b, list):
        def rows(v):
            return [[c for pair in leaves(item) for c in pair]
                    for item in v]
        return stats.same_rows(rows(a), rows(b))
    return False


# ---------------------------------------------------------------- dashboard
# Copied from bench.py's headline suite (not imported, so later edits
# there cannot move these numbers). Approximate aggregators are left
# out so that answers compare exactly.
_LI_SUM = {"type": "doubleSum", "name": "s", "fieldName": "l_extendedprice"}
DASHBOARD_NATIVE = [
    {"queryType": "timeseries", "dataSource": "lineitem",
     "granularity": "all", "aggregations": [{"type": "count", "name": "n"}]},
    {"queryType": "timeseries", "dataSource": "lineitem",
     "granularity": "all", "aggregations": [_LI_SUM]},
    {"queryType": "timeseries", "dataSource": "lineitem",
     "granularity": "all",
     "filter": {"type": "selector", "dimension": "l_returnflag",
                "value": "R"},
     "aggregations": [_LI_SUM]},
    {"queryType": "timeseries", "dataSource": "part", "granularity": "all",
     "filter": {"type": "like", "dimension": "p_type",
                "pattern": "%BRASS%"},
     "aggregations": [{"type": "count", "name": "n"}]},
    {"queryType": "timeseries", "dataSource": "lineitem",
     "granularity": "all",
     "aggregations": [
         {"type": "filtered", "name": "hi",
          "filter": {"type": "range", "column": "l_quantity",
                     "lower": 25.0},
          "aggregator": {"type": "doubleSum", "name": "hi",
                         "fieldName": "l_extendedprice"}},
         {"type": "filtered", "name": "lo",
          "filter": {"type": "range", "column": "l_quantity",
                     "upper": 25.0},
          "aggregator": {"type": "doubleSum", "name": "lo",
                         "fieldName": "l_extendedprice"}}]},
    {"queryType": "timeseries", "dataSource": "lineitem",
     "granularity": "month", "aggregations": [_LI_SUM],
     "context": {"skipEmptyBuckets": True}},
    {"queryType": "groupBy", "dataSource": "lineitem",
     "granularity": "all", "dimensions": ["l_returnflag"],
     "aggregations": [_LI_SUM]},
    {"queryType": "groupBy", "dataSource": "lineitem",
     "granularity": "all", "dimensions": ["l_returnflag", "l_linestatus"],
     "aggregations": [_LI_SUM, {"type": "count", "name": "n"}]},
    {"queryType": "groupBy", "dataSource": "lineitem",
     "granularity": "all", "dimensions": ["l_partkey"],
     "aggregations": [_LI_SUM],
     "limitSpec": {"type": "default", "limit": 10, "columns": [
         {"dimension": "s", "direction": "descending",
          "dimensionOrder": "numeric"}]}},
    {"queryType": "topN", "dataSource": "lineitem",
     "dimension": "l_suppkey", "metric": "s", "threshold": 10,
     "granularity": "all", "aggregations": [_LI_SUM]},
    {"queryType": "groupBy",
     "dataSource": {
         "type": "join", "left": "lineitem",
         "right": {"type": "query", "query": {
             "queryType": "scan", "dataSource": "part",
             "columns": ["p_partkey", "p_brand"]}},
         "rightPrefix": "j0.",
         "condition": 'l_partkey == "j0.p_partkey"',
         "joinType": "INNER"},
     "granularity": "all",
     "dimensions": [{"type": "default", "dimension": "j0.p_brand",
                     "outputName": "brand"}],
     "aggregations": [_LI_SUM]},
    {"queryType": "scan", "dataSource": "lineitem",
     "columns": ["l_orderkey", "l_quantity", "l_extendedprice"],
     "filter": {"type": "range", "column": "l_quantity", "lower": 45.0},
     "orderBy": [{"columnName": "l_orderkey", "order": "ascending"}],
     "limit": 1000},
    {"queryType": "timeseries", "dataSource": "events",
     "granularity": "hour",
     "aggregations": [{"type": "count", "name": "n"},
                      {"type": "doubleSum", "name": "v",
                       "fieldName": "value"}],
     "context": {"skipEmptyBuckets": True}},
]
TPCH_SQL = [
    """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       AVG(l_quantity) AS avg_qty, COUNT(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus""",
    """SELECT l_orderkey,
       SUM(l_extendedprice * (1 - l_discount)) AS revenue,
       o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC LIMIT 10""",
    """SELECT SUM(l_extendedprice * l_discount) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",
]


def dashboard_requests() -> list[tuple[str, dict, str]]:
    """(path, body, result format) for the 22 dashboard statements."""
    out = [("/druid/v2", q, "json") for q in DASHBOARD_NATIVE]
    for sql in TPCH_SQL:
        for fmt in ("object", "array", "csv"):
            out.append(("/druid/v2/sql",
                        {"query": sql, "resultFormat": fmt}, fmt))
    return out


class Workload:
    """Shared plumbing: `ctx` carries spark, engine, server port, seed,
    the data directory and (in a traced run) the tracer."""
    clients = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)

    def warm(self) -> None:
        pass

    def loop(self, client_no: int, deadline: float, ops: list) -> None:
        raise NotImplementedError

    def window(self, seconds: float) -> tuple[list[Op], float]:
        """Run `clients` closed-loop clients until the deadline; ops
        started before it finish. Returns (ops, wall seconds)."""
        ops: list[Op] = []
        t0 = now()
        deadline = t0 + seconds
        threads = [threading.Thread(target=self.loop, args=(i, deadline, ops),
                                    name=f"perfbench-client-{i}")
                   for i in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops, now() - t0

    def latency_ops(self, ops: list[Op]) -> list[Op]:
        return ops

    def check(self, ops: list[Op]) -> None:
        """Mark wrong answers on ops (off the clock)."""

    def report(self, ops: list[Op], wall: float) -> dict:
        """Workload-specific figures of one window, for the stamp line
        and the per-layer metrics."""
        return {}


class Dashboard(Workload):
    clients = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.reqs = dashboard_requests()
        self.orders = [self.rng.permutation(len(self.reqs))
                       for _ in range(self.clients)]
        self.expected: list = []

    def warm(self) -> None:
        c = Client(self.ctx.port)
        for path, body, fmt in self.reqs:  # the serial answers
            op = c.call("warm", "POST", path, body)
            if op.status != 200:
                raise RuntimeError(f"dashboard warm-up {path} -> "
                                   f"{op.status} {op.error}")
            self.expected.append(decode(op.extra["raw"], fmt))
        c.close()

    def loop(self, client_no, deadline, ops):
        c = Client(self.ctx.port)
        order = self.orders[client_no]
        i = 0
        while now() < deadline:
            k = int(order[i % len(order)])
            path, body, _fmt = self.reqs[k]
            op = c.call("read", "POST", path, body)
            op.extra["req"] = k
            ops.append(op)
            i += 1
        c.close()

    def check(self, ops):
        for op in ops:
            if op.status == 200:
                k = op.extra["req"]
                got = decode(op.extra.pop("raw"), self.reqs[k][2])
                op.correct = same_answer(got, self.expected[k])


# ------------------------------------------------------------------- adhoc
def _day(d: int) -> str:
    return f"2024-01-{d:02d}"


def _date(rng, lo_year=1995, hi_year=2001) -> tuple[str, str]:
    y0 = int(rng.integers(lo_year, hi_year))
    m0 = int(rng.integers(1, 13))
    months = int(rng.integers(3, 30))
    y1, m1 = y0 + (m0 - 1 + months) // 12, (m0 - 1 + months) % 12 + 1
    return f"{y0}-{m0:02d}-01", f"{y1}-{m1:02d}-01"


ADHOC_KINDS = 6


def adhoc_request(rng, kind: int) -> dict:
    """One exploration request of shape `kind` (0-2 native, 3-5 SQL)
    with fresh literals: path, body, result format, and the DuckDB
    statement giving the same rows."""
    types = sorted(rng.choice(["click", "view", "purchase", "signup",
                               "error"], int(rng.integers(1, 5)),
                              replace=False).tolist())
    tl = ", ".join(f"'{t}'" for t in types)
    if kind == 0:  # native timeseries over events, day buckets
        d0 = int(rng.integers(1, 25))
        d1 = d0 + int(rng.integers(2, 31 - d0))
        thr = round(float(rng.uniform(0, 60)), 1)
        body = {"queryType": "timeseries", "dataSource": "events",
                "granularity": "day",
                "intervals": [f"{_day(d0)}T00:00:00Z/{_day(d1)}T00:00:00Z"],
                "filter": {"type": "and", "fields": [
                    {"type": "in", "dimension": "event_type",
                     "values": types},
                    {"type": "range", "column": "value", "lower": thr}]},
                "aggregations": [{"type": "count", "name": "n"},
                                 {"type": "doubleSum", "name": "v",
                                  "fieldName": "value"}],
                "context": {"skipEmptyBuckets": True}}
        duck = (f"SELECT strftime(date_trunc('day', ts), '%Y-%m-%d'), "
                f"count(*), sum(value) FROM events WHERE ts >= "
                f"'{_day(d0)}' AND ts < '{_day(d1)}' AND event_type IN "
                f"({tl}) AND value >= {thr} GROUP BY 1")
        return {"path": "/druid/v2", "body": body, "fmt": "timeseries",
                "duck": duck}
    if kind == 1:  # native groupBy over lineitem, drawn dimension
        dim = str(rng.choice(["l_returnflag", "l_linestatus",
                              "l_linenumber"]))
        a, b = _date(rng)
        q = int(rng.integers(1, 45))
        flags = sorted(rng.choice(["A", "N", "R"], int(rng.integers(1, 4)),
                                  replace=False).tolist())
        body = {"queryType": "groupBy", "dataSource": "lineitem",
                "granularity": "all", "intervals": [f"{a}/{b}"],
                "dimensions": [dim],
                "filter": {"type": "and", "fields": [
                    {"type": "range", "column": "l_quantity",
                     "lower": float(q)},
                    {"type": "in", "dimension": "l_returnflag",
                     "values": flags}]},
                "aggregations": [{"type": "count", "name": "n"},
                                 {"type": "doubleSum", "name": "s",
                                  "fieldName": "l_extendedprice"}]}
        fl = ", ".join(f"'{f}'" for f in flags)
        duck = (f"SELECT CAST({dim} AS VARCHAR), count(*), "
                f"sum(l_extendedprice) FROM lineitem WHERE l_shipdate >= "
                f"'{a}' AND l_shipdate < '{b}' AND l_quantity >= {q} AND "
                f"l_returnflag IN ({fl}) GROUP BY 1")
        return {"path": "/druid/v2", "body": body, "fmt": "groupBy",
                "duck": duck, "dims": [dim], "aggs": ["n", "s"]}
    if kind == 2:  # native topN over suppliers
        a, b = _date(rng)
        k = int(rng.integers(3, 26))
        lo = int(rng.integers(0, 6))
        hi = lo + int(rng.integers(1, 6))
        body = {"queryType": "topN", "dataSource": "lineitem",
                "granularity": "all", "intervals": [f"{a}/{b}"],
                "dimension": "l_suppkey", "metric": "s", "threshold": k,
                "filter": {"type": "range", "column": "l_discount",
                           "lower": lo / 100.0, "upper": hi / 100.0},
                "aggregations": [{"type": "doubleSum", "name": "s",
                                  "fieldName": "l_extendedprice"}]}
        duck = (f"SELECT CAST(l_suppkey AS VARCHAR), sum(l_extendedprice) "
                f"AS s FROM lineitem WHERE l_shipdate >= '{a}' AND "
                f"l_shipdate < '{b}' AND l_discount >= {lo / 100.0} AND "
                f"l_discount <= {hi / 100.0} GROUP BY 1 ORDER BY s DESC "
                f"LIMIT {k}")
        return {"path": "/druid/v2", "body": body, "fmt": "topN",
                "duck": duck}
    if kind == 3:  # SQL: revenue by a drawn dimension and date range
        dim = str(rng.choice(["l_returnflag", "l_linestatus",
                              "l_linenumber"]))
        a, b = _date(rng)
        d0 = int(rng.integers(0, 6))
        d1 = d0 + int(rng.integers(1, 6))
        where = (f"l_shipdate >= TIMESTAMP '{a}' AND l_shipdate < "
                 f"TIMESTAMP '{b}' AND l_discount BETWEEN {d0 / 100.0} "
                 f"AND {d1 / 100.0}")
        sql = (f"SELECT {dim}, COUNT(*) AS n, SUM(l_extendedprice * "
               f"(1 - l_discount)) AS rev FROM lineitem WHERE {where} "
               f"GROUP BY {dim} ORDER BY {dim}")
        duck = (f"SELECT {dim}, count(*), sum(l_extendedprice * "
                f"(1 - l_discount)) FROM lineitem WHERE "
                f"{where.replace('TIMESTAMP ', '')} GROUP BY 1")
        return {"path": "/druid/v2/sql",
                "body": {"query": sql, "resultFormat": "array"},
                "fmt": "array", "duck": duck}
    if kind == 4:  # SQL: daily event counts for drawn users and types
        d0 = int(rng.integers(1, 25))
        d1 = d0 + int(rng.integers(2, 31 - d0))
        users = sorted(set(rng.integers(0, 1500, int(rng.integers(5, 60)))
                           .tolist()))
        ul = ", ".join(str(u) for u in users)
        sql = (f"SELECT TIME_FORMAT(TIME_FLOOR(__time, 'P1D'), "
               f"'yyyy-MM-dd') AS d, COUNT(*) AS n, SUM(\"value\") AS v "
               f"FROM events WHERE __time >= TIMESTAMP '{_day(d0)}' AND "
               f"__time < TIMESTAMP '{_day(d1)}' AND event_type IN ({tl}) "
               f"AND user_id IN ({ul}) GROUP BY 1 ORDER BY 1")
        duck = (f"SELECT strftime(date_trunc('day', ts), '%Y-%m-%d'), "
                f"count(*), sum(value) FROM events WHERE ts >= "
                f"'{_day(d0)}' AND ts < '{_day(d1)}' AND event_type IN "
                f"({tl}) AND user_id IN ({ul}) GROUP BY 1")
        return {"path": "/druid/v2/sql",
                "body": {"query": sql, "resultFormat": "array"},
                "fmt": "array", "duck": duck}
    # kind 5, SQL: a join with drawn date range and quantity threshold
    a, b = _date(rng)
    q = int(rng.integers(1, 45))
    where = (f"o_orderdate >= TIMESTAMP '{a}' AND o_orderdate < "
             f"TIMESTAMP '{b}' AND l_quantity > {q}")
    sql = (f"SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS qty "
           f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
           f"WHERE {where} GROUP BY o_orderpriority ORDER BY 1")
    duck = (f"SELECT o_orderpriority, count(*), sum(l_quantity) FROM "
            f"lineitem JOIN orders ON l_orderkey = o_orderkey WHERE "
            f"{where.replace('TIMESTAMP ', '')} GROUP BY 1")
    return {"path": "/druid/v2/sql",
            "body": {"query": sql, "resultFormat": "array"},
            "fmt": "array", "duck": duck}


def adhoc_rows(req: dict, got) -> list[list]:
    """Decoded response -> rows in the DuckDB statement's column order."""
    fmt = req["fmt"]
    if fmt == "timeseries":
        return [[r["timestamp"][:10], r["result"]["n"], r["result"]["v"]]
                for r in got]
    if fmt == "groupBy":
        return [[str(r["event"][d]) for d in req["dims"]]
                + [r["event"][a] for a in req["aggs"]] for r in got]
    if fmt == "topN":
        return [[str(r["l_suppkey"]), r["s"]]
                for bucket in got for r in bucket["result"]]
    return got


class Adhoc(Workload):
    """Shapes are taken round-robin, so every run sends the same mix;
    the seed draws only the literals."""
    WARM_ROUNDS = 1  # rounds of every shape before timing

    def __init__(self, ctx):
        super().__init__(ctx)
        self.warm_rng = np.random.default_rng([ctx.seed, 1])
        self.sent = 0

    def warm(self):
        c = Client(self.ctx.port)
        for i in range(self.WARM_ROUNDS * ADHOC_KINDS):
            req = adhoc_request(self.warm_rng, i % ADHOC_KINDS)
            op = c.call("warm", "POST", req["path"], req["body"])
            if op.status != 200:
                raise RuntimeError(f"adhoc warm-up -> {op.status} "
                                   f"{op.error} {op.extra.get('raw')}")
        c.close()

    def read(self, c: Client, shape: int | None = None) -> Op:
        """The next request, of `shape` or else the next in turn; the
        op's kind names the shape, so latency is taken per shape."""
        if shape is None:
            shape = self.sent % ADHOC_KINDS
            self.sent += 1
        req = adhoc_request(self.rng, shape)
        op = c.call(f"adhoc{shape}", "POST", req["path"], req["body"])
        op.extra["req"] = req
        return op

    def loop(self, client_no, deadline, ops):
        c = Client(self.ctx.port)
        while now() < deadline:
            ops.append(self.read(c))
        c.close()

    def check(self, ops):
        """Each answer equals DuckDB's over the same parquet."""
        import duckdb
        con = duckdb.connect()
        for t in ("lineitem", "orders", "events"):
            path = os.path.join(self.ctx.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        for op in ops:
            if op.status != 200 or "req" not in op.extra:
                continue
            req = op.extra["req"]
            got = adhoc_rows(req, decode(op.extra.pop("raw"), req["fmt"]))
            want = [list(r) for r in con.execute(req["duck"]).fetchall()]
            op.correct = stats.same_rows(got, want)
            if req["fmt"] == "topN":  # ranked: order matters too
                op.correct = op.correct and [r[0] for r in got] == [
                    r[0] for r in want]
            if not op.correct:
                op.extra["wrong"] = {"body": req["body"], "got": got[:5],
                                     "want": want[:5]}
        con.close()


# ------------------------------------------------------------ ingest_mixed
class IngestMixed(Adhoc):
    """One HTTP client runs a fixed cycle: an INSERT batch, a count
    over the newest days of the written table, then one ad-hoc request
    over lineitem of each of two shapes (native groupBy, SQL), with
    fresh literals. The writer walks forward through the events days,
    three seeded hour slices per day (so each day partition gets three
    files), sending each slice through the async SQL task API and
    polling until SUCCESS; every 6 batches it runs one compaction cycle
    inline. Each append re-registers the table and so empties the plan
    cache, and the literals miss it anyway. The cycle is sequential:
    compaction swaps partition directories in place, so a read
    overlapping it can fail (see `IngestConcurrent`)."""
    TABLE = "bench_clicks"
    SLICES = 3
    COMPACT_EVERY = 6
    SHAPES = (1, 3)     # adhoc_request shapes over lineitem
    WARM_CYCLES = 2
    READS = ("clicks",) + tuple(f"adhoc{s}" for s in SHAPES)

    def __init__(self, ctx):
        super().__init__(ctx)
        import pyarrow.parquet as pq
        ev = pq.read_table(os.path.join(ctx.data_dir, "events.parquet"),
                           columns=["ts", "user_id", "event_type", "value"])
        self.events = ev
        ts_us = ev["ts"].cast("int64").to_numpy()
        self.value = ev["value"].to_numpy()
        base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        self.day_of = (ts_us - base) // (86400 * 10**6)
        self.hour_of = ((ts_us - base) // (3600 * 10**6)) % 24
        self.batches = self._plan()
        self.next_batch = 0
        self.writes = 0
        self.acked: list[dict] = []     # acknowledged batches, in order
        self.acked_lock = threading.Lock()
        self.srv = ctx.server

    def _plan(self) -> list[tuple[int, int, int]]:
        """(day, first hour, end hour) per batch: 3 seeded slices/day."""
        out = []
        for day in range(30):
            cuts = sorted(self.rng.choice(np.arange(1, 24), self.SLICES - 1,
                                          replace=False).tolist())
            edges = [0, *cuts, 24]
            out += [(day, edges[i], edges[i + 1])
                    for i in range(self.SLICES)]
        return out

    def _insert_sql(self, day, h0, h1) -> str:
        def ts(hours):
            t = dt.datetime(2024, 1, 1) + dt.timedelta(days=day, hours=hours)
            return t.strftime("%Y-%m-%d %H:%M:%S")
        return (f"INSERT INTO {self.TABLE} SELECT __time, user_id, "
                f"event_type, \"value\" FROM events WHERE __time >= "
                f"TIMESTAMP '{ts(h0)}' AND __time < TIMESTAMP '{ts(h1)}' "
                f"PARTITIONED BY DAY")

    def _write_one(self, c: Client) -> Op:
        day, h0, h1 = self.batches[self.next_batch % len(self.batches)]
        self.next_batch += 1
        t0 = now()
        op = c.call("write", "POST", "/druid/v2/sql/task",
                    {"query": self._insert_sql(day, h0, h1)})
        if op.status is not None and 200 <= op.status < 300:
            qid = json.loads(op.extra.pop("raw"))["taskId"]
            while True:  # poll until the statement completes
                st = c.call("poll", "GET", f"/druid/v2/sql/statements/{qid}")
                if st.status != 200:
                    op.status, op.error = st.status, st.error
                    break
                body = json.loads(st.extra["raw"])
                if body["state"] in ("SUCCESS", "FAILED", "CANCELED"):
                    if body["state"] != "SUCCESS":
                        op.error = (f"statement {body['state']}: "
                                    f"{body.get('errorDetails')}")[:300]
                    break
                time.sleep(0.01)
        op.lat = now() - t0
        if op.failure is None:
            mask = (self.day_of == day) & (self.hour_of >= h0) & \
                (self.hour_of < h1)
            op.extra["rows"] = int(mask.sum())
            with self.acked_lock:
                self.acked.append({"day": day, "rows": int(mask.sum()),
                                   "sum": float(self.value[mask].sum()),
                                   "mask": mask})
        return op

    def _compact(self) -> Op:
        t = now()
        try:
            self.srv.compaction.run_once()
            return Op("compact", t, now() - t, status=200)
        except Exception as e:
            return Op("compact", t, now() - t,
                      error=f"{type(e).__name__}: {e}")

    def _write(self, c: Client, ops: list) -> None:
        """One INSERT batch, and a compaction cycle after every
        COMPACT_EVERY-th."""
        ops.append(self._write_one(c))
        self.writes += 1
        if self.writes % self.COMPACT_EVERY == 0:
            ops.append(self._compact())

    def _cycle(self, c: Client, deadline: float, ops: list) -> None:
        self._write(c, ops)
        for shape in (None, *self.SHAPES):
            if now() >= deadline:
                return
            ops.append(self._clicks_read(c) if shape is None
                       else self.read(c, shape))

    def warm(self):
        self.srv.compaction.set_config(self.TABLE, max_files_per_partition=2)
        c = Client(self.ctx.port)
        ops: list[Op] = []
        for _ in range(self.WARM_CYCLES):
            self._cycle(c, float("inf"), ops)
        c.close()
        bad = [o for o in ops if o.failure]
        if bad:
            raise RuntimeError(f"ingest warm-up {bad[0].kind}: "
                               f"{bad[0].status} {bad[0].error}")

    def _clicks_read(self, c: Client) -> Op:
        """COUNT over the newest 3 days written, with the rows already
        acknowledged there when the request was sent."""
        with self.acked_lock:
            cut = max(0, max(b["day"] for b in self.acked) - 2)
            rows = sum(b["rows"] for b in self.acked if b["day"] >= cut)
        sql = (f"SELECT COUNT(*) AS n, SUM(\"value\") AS v FROM "
               f"{self.TABLE} WHERE __time >= TIMESTAMP '{_day(cut + 1)}'")
        op = c.call("clicks", "POST", "/druid/v2/sql", {"query": sql})
        op.extra.update(cut=cut, acked=rows)
        return op

    def loop(self, client_no, deadline, ops):
        c = Client(self.ctx.port)
        while now() < deadline:
            self._cycle(c, deadline, ops)
        c.close()

    def latency_ops(self, ops):
        return [o for o in ops if o.kind in self.READS]

    def check(self, ops):
        super().check(ops)  # the ad-hoc reads against DuckDB
        # every write acknowledged before a count was sent is visible,
        # and the count for a given cut never goes down
        high: dict[int, int] = {}
        for op in sorted((o for o in ops if "cut" in o.extra),
                         key=lambda o: o.t0):
            if op.status != 200:
                continue
            n = int(json.loads(op.extra.pop("raw"))[0]["n"])
            cut = op.extra["cut"]
            op.correct = n >= op.extra["acked"] and n >= high.get(cut, 0)
            high[cut] = max(n, high.get(cut, 0))
            if not op.correct:
                op.extra["wrong"] = {"cut": cut, "got": n,
                                     "acked": op.extra["acked"]}
        # end state: per-day rows and SUM(value) equal what the
        # acknowledged batches wrote
        c = Client(self.ctx.port)
        op = c.call("final", "POST", "/druid/v2/sql", {
            "query": f"SELECT TIME_FORMAT(TIME_FLOOR(__time, 'P1D'), "
                     f"'yyyy-MM-dd') AS d, COUNT(*) AS n, "
                     f"SUM(\"value\") AS v FROM {self.TABLE} GROUP BY 1",
            "resultFormat": "array"})
        c.close()
        want: dict[str, list] = {}
        for b in self.acked:
            w = want.setdefault(_day(b["day"] + 1), [0, 0.0])
            w[0] += b["rows"]
            w[1] += b["sum"]
        if op.status == 200:
            got = json.loads(op.extra.pop("raw"))
            op.correct = stats.same_rows(
                got, [[d, n, v] for d, (n, v) in want.items()])
            if not op.correct:
                op.extra["wrong"] = {"final": got[:5]}
        ops.append(op)

    def report(self, ops, wall):
        writes = [o for o in ops if o.kind == "write" and o.failure is None]
        rows = sum(o.extra["rows"] for o in writes)
        copies = np.zeros(len(self.value), dtype=np.int64)
        for b in self.acked:
            copies += b["mask"]
        arrow_bytes = self.events.take(
            np.repeat(np.arange(len(copies)), copies)).nbytes
        path = self.ctx.engine.catalog.source_path(self.TABLE) or ""
        size, parts = 0, []
        for d, _dirs, names in os.walk(path):
            files = [n for n in names if n.endswith(".parquet")]
            size += sum(os.path.getsize(os.path.join(d, n)) for n in files)
            if files:
                parts.append(len(files))
        return {
            "ingest_rows_per_s": rows / wall,
            "ingest_batch_p50_ms": stats.percentile(
                [o.lat * 1000.0 for o in writes], 50.0),
            "stored_bytes_per_input_byte": size / arrow_bytes,
            "catalog.files_per_partition": sum(parts) / len(parts),
            "ingest_batches": len(writes), "ingest_rows": rows,
        }


class IngestConcurrent(IngestMixed):
    """`ingest_mixed` with the writer and the reader on two clients at
    once, as first specified. Run by hand: compaction swaps partition
    directories under in-flight reads, so some reads fail with HTTP
    500 FILE_NOT_EXIST (a known defect of the program)."""
    clients = 2

    def loop(self, client_no, deadline, ops):
        c = Client(self.ctx.port)
        shapes = (None, *self.SHAPES)
        i = 0
        while now() < deadline:
            if client_no == 0:
                self._write(c, ops)
            else:
                shape = shapes[i % len(shapes)]
                ops.append(self._clicks_read(c) if shape is None
                           else self.read(c, shape))
            i += 1
        c.close()


# ----------------------------------------------------------------- datapipe
class Datapipe(Workload):
    """One engine-direct caller cycling minhash dedup, the text-profile
    groupBy and a top-k similarity search with a seeded query vector.
    An op is one call, timed from the call until collect() returns."""
    OPS = ("minhash", "textstats", "topk")
    WARM_CYCLES = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        import pyarrow.parquet as pq
        emb = pq.read_table(os.path.join(ctx.data_dir, "embeddings.parquet"))
        self.ids = emb["vec_id"].to_numpy()
        self.vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
        self.pairs_ref = None
        self.n_calls = 0

    def _build(self, name, qv=None):
        from pyspark.sql import functions as F

        from druid_spark.datapipe import dedup, similarity, textstats
        cat = self.ctx.engine.catalog
        if name == "minhash":
            return dedup.minhash_lsh_pairs(cat.table("documents"),
                                           threshold=0.8)
        if name == "textstats":
            return (textstats.staged_features(cat.table("documents"))
                    .groupBy("lang_pred")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.avg("quality").alias("avg_q"),
                         F.sum("n_tokens").alias("tokens")))
        return similarity.brute_force_topk(cat.table("embeddings"), qv, k=10)

    def call(self, name: str) -> Op:
        qv = self.rng.normal(0, 1, self.vecs.shape[1]).tolist() \
            if name == "topk" else None
        tr = self.ctx.tracer
        sc = self.ctx.spark.sparkContext
        if tr is not None:  # name the call's Spark jobs for job_stats
            self.n_calls += 1
            group = f"perfbench-datapipe-{self.n_calls}"
            tr.groups.append(group)
            sc.setJobGroup(group, name)
        t0 = now()
        try:
            df = self._build(name, qv)
            if tr is not None:
                rows = tr.span(f"datapipe.{name}.collect", df.collect)
            else:
                rows = df.collect()
            t2 = now()
        except Exception as e:
            return Op(name, t0, now() - t0, error=f"{type(e).__name__}: {e}")
        finally:
            if tr is not None:
                sc.setJobGroup("", "")
        op = Op(name, t0, t2 - t0, status=200)
        op.extra.update(rows=[tuple(r) for r in rows], qv=qv)
        return op

    def warm(self):
        # The JIT compiles for minutes after start: 2.2 cores busy
        # compiling in the first calls, 0.8 after 20 s, 0.35 after 80 s,
        # and latency falls with it. A warm-up that drains it does not
        # fit the run budget, and 15 s of warm-up instead of two cycles
        # left the five-seed spread as wide, so two cycles it is.
        for i in range(self.WARM_CYCLES * len(self.OPS)):
            name = self.OPS[i % len(self.OPS)]
            op = self.call(name)
            if op.failure:
                raise RuntimeError(f"datapipe warm-up {name}: {op.error}")
            if self.pairs_ref is None and name == "minhash":
                self.pairs_ref = self._pairs_digest(op.extra["rows"])

    @staticmethod
    def _pairs_digest(rows):
        h = hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()
        return len(rows), h

    def loop(self, client_no, deadline, ops):
        i = 0
        while now() < deadline:
            ops.append(self.call(self.OPS[i % len(self.OPS)]))
            i += 1

    def _topk_ok(self, rows, qv) -> bool:
        q = np.asarray(qv)
        cos = self.vecs @ q / (np.linalg.norm(self.vecs, axis=1)
                               * np.linalg.norm(q))
        by_id = dict(zip(self.ids.tolist(), cos.tolist()))
        got_ids = [int(r[0]) for r in rows]
        got_cos = [float(r[1]) for r in rows]
        if len(rows) != 10 or got_cos != sorted(got_cos, reverse=True):
            return False
        if any(abs(by_id[i] - c) > 1e-4 for i, c in zip(got_ids, got_cos)):
            return False
        top = set(got_ids)
        rest = [c for i, c in by_id.items() if i not in top]
        return max(rest) <= min(got_cos) + 1e-4

    def check(self, ops):
        for op in ops:
            if op.failure:
                continue
            rows = op.extra.pop("rows")
            if op.kind == "minhash":
                op.correct = self._pairs_digest(rows) == self.pairs_ref
            elif op.kind == "topk":
                op.correct = self._topk_ok(rows, op.extra["qv"])
            else:
                op.correct = len(rows) > 0 and sum(r[1] for r in rows) == \
                    self.ctx.n_documents

    def report(self, ops, wall):
        return {"datapipe.pairs": self.pairs_ref[0] if self.pairs_ref else 0}


WORKLOADS = {"dashboard": Dashboard, "adhoc": Adhoc,
             "ingest_mixed": IngestMixed,
             "ingest_concurrent": IngestConcurrent, "datapipe": Datapipe}
