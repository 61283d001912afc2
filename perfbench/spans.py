"""Spans around the program's public callables, installed from outside.

`Tracer.install()` replaces each callable in the layer table with a
wrapper that records a span (name, start, end, parent, request id) and
`uninstall()` puts the originals back, so nothing in druid_spark/
carries tracing code and an untraced run executes none of it. Spans
stay in memory and are written out when the run ends.

Request ids: the HTTP handler's do_GET/do_POST (the stdlib handler
protocol) opens a new request; spans below it on the same thread
inherit it. QueryScheduler.submit runs its `fn` on a worker thread,
so its wrapper hands the request context to that thread explicitly.
"""

from __future__ import annotations

import itertools
import os
import threading
import time

now = time.perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.qids: list[str] = []        # scheduler job groups seen
        self.groups: list[str] = []      # other job groups (datapipe calls)
        self.frames: list = []           # DataFrames engine calls built
        self._seen: set[int] = set()
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._rids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self.epoch_ms0 = time.time() * 1000.0

    # -- recording -------------------------------------------------------
    def _ctx(self):
        return getattr(self._tls, "ctx", None) or (None, None)  # rid, parent

    def add(self, name, start, end, parent=None, rid=None) -> None:
        rec = {"id": next(self._ids), "name": name, "start": start,
               "end": end, "parent": parent, "rid": rid}
        with self._lock:
            self.spans.append(rec)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def span(self, name, fn, *a, new_request=False, **kw):
        """Run fn(*a, **kw) inside a span; the span id is reserved up
        front so spans opened inside fn can name it as their parent."""
        rid, parent = self._ctx()
        if new_request:
            rid, parent = next(self._rids), None
        sid = next(self._ids)
        saved = getattr(self._tls, "ctx", None)
        self._tls.ctx = (rid, sid)
        t0 = now()
        try:
            return fn(*a, **kw)
        finally:
            t1 = now()
            self._tls.ctx = saved
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": t0,
                                   "end": t1, "parent": parent,
                                   "rid": rid})

    # -- installation ----------------------------------------------------
    def _patch(self, owner, attr, make):
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _wrap(self, owner, attr, name, new_request=False):
        def make(orig):
            def wrapper(*a, **kw):
                return self.span(name, orig, *a, new_request=new_request,
                                 **kw)
            return wrapper
        self._patch(owner, attr, make)

    def install(self) -> "Tracer":
        from pyspark.sql.classic.dataframe import DataFrame

        from druid_spark import coordinator, engine, scheduler, server
        from druid_spark.datapipe import dedup, similarity, textstats
        from druid_spark.functions import sqlshim
        from druid_spark.ingest import batch, sql_ingest
        from druid_spark.queries import (groupby, metadata, scan, search,
                                         timeboundary, timeseries, topn,
                                         union_q, windowing)

        for verb in ("do_GET", "do_POST"):
            self._wrap(server._Handler, verb, "server.request",
                       new_request=True)
        self._patch_scheduler(scheduler)
        self._patch_engine(engine.DruidSparkEngine)
        self._wrap(sqlshim, "rewrite_druid_sql", "sqlshim.rewrite")
        for mod in (groupby, metadata, scan, search, timeboundary,
                    timeseries, topn, union_q, windowing):
            self._wrap(mod, "compile_query", "queries.compile")
        self._wrap(timeboundary, "compile_dsmeta", "queries.compile")
        self._wrap(DataFrame, "collect", "exec.collect")
        self._patch_iterator(DataFrame)
        self._wrap(sql_ingest, "run_ingest_sql", "ingest.run")
        self._patch_table_write(batch.TableService)
        self._patch_compaction(coordinator.CompactionDuty)
        self._wrap(dedup, "minhash_lsh_pairs", "datapipe.minhash.build")
        self._wrap(textstats, "staged_features", "datapipe.textstats.build")
        self._wrap(similarity, "brute_force_topk", "datapipe.topk.build")
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- layer-specific wrappers -----------------------------------------
    def _patch_scheduler(self, mod):
        tracer = self

        def make(orig):
            def submit(sched, qid, fn, **kw):
                t_submit = now()

                def inner():
                    rid, parent = tracer._ctx()  # parent: the submit span

                    def run():
                        t_start = now()
                        tracer.add("scheduler.wait", t_submit, t_start,
                                   parent, rid)
                        saved = getattr(tracer._tls, "ctx", None)
                        tracer._tls.ctx = (rid, parent)
                        try:
                            return tracer.span("scheduler.exec", fn)
                        finally:
                            tracer._tls.ctx = saved
                    return orig(sched, qid, run, **kw)

                with tracer._lock:
                    tracer.qids.append(qid)
                try:
                    return tracer.span("scheduler.submit", inner)
                except mod.QueryCapacityExceededError:
                    tracer.count("scheduler.rejected")
                    raise
            return submit
        self._patch(mod.QueryScheduler, "submit", make)

    def _patch_engine(self, cls):
        tracer = self

        def make(name):
            def outer(orig):
                def call(eng, *a, **kw):
                    df = tracer.span(name, orig, eng, *a, **kw)
                    # a plan-cache hit returns the same DataFrame object;
                    # only a frame's first appearance carries compile
                    # phases (read after the window, once it ran)
                    with tracer._lock:
                        if df is not None and id(df) not in tracer._seen:
                            tracer._seen.add(id(df))
                            tracer.frames.append(df)
                    return df
                return call
            return outer
        self._patch(cls, "sql", make("engine.sql"))
        self._patch(cls, "query", make("engine.query"))

    def _patch_iterator(self, cls):
        """toLocalIterator returns a generator that the server drains
        while rendering rows; the span covers only the time spent
        inside the iterator (call + every next()), placed at the call."""
        tracer = self

        def make(orig):
            def to_local_iterator(df, *a, **kw):
                rid, parent = tracer._ctx()
                t0 = now()
                it = orig(df, *a, **kw)
                busy = now() - t0
                try:
                    while True:
                        t = now()
                        try:
                            row = next(it)
                        except StopIteration:
                            busy += now() - t
                            return
                        busy += now() - t
                        yield row
                finally:
                    tracer.add("exec.collect", t0, t0 + busy, parent, rid)
            return to_local_iterator
        self._patch(cls, "toLocalIterator", make)

    def _patch_table_write(self, cls):
        tracer = self

        def make(orig):
            def write(svc, df, datasource, *a, **kw):
                before = _files(svc.path(datasource))
                try:
                    return tracer.span("ingest.write", orig, svc, df,
                                       datasource, *a, **kw)
                finally:
                    after = _files(svc.path(datasource))
                    new = set(after) - set(before)
                    tracer.count("ingest.files_written", len(new))
                    tracer.count("ingest.bytes_written",
                                 sum(after[f] for f in new))
            return write
        self._patch(cls, "write", make)

    def _patch_compaction(self, cls):
        tracer = self

        def make(orig):
            def run_once(duty, *a, **kw):
                todo = duty.scan()
                size = 0
                for w in todo:
                    path = duty.engine.catalog.source_path(w["dataSource"])
                    size += sum(_files(os.path.join(path,
                                                    w["partition"])).values())
                out = tracer.span("coordinator.compact", orig, duty, *a,
                                  **kw)
                tracer.count("coordinator.runs")
                tracer.count("coordinator.bytes_rewritten", size)
                return out
            return run_once
        self._patch(cls, "run_once", make)


def _files(root: str) -> dict[str, int]:
    """parquet file -> size under a directory tree (missing dir: {})."""
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


def catalyst_phases(frames, since_epoch_ms: float) -> dict[str, float]:
    """Summed analysis/optimization/planning ms over frames whose
    analysis started inside the window. A plan-cache hit hands back a
    frame built earlier, whose tracker replays the first build's
    phases, so it counts 0 (and repeats within the window are
    de-duplicated by the caller)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in frames:
        phases = df._jdf.queryExecution().tracker().phases()
        first = phases.get("analysis")
        if not first.isDefined() or first.get().startTimeMs() < since_epoch_ms:
            continue
        for k in out:
            o = phases.get(k)
            if o.isDefined():
                out[k] += o.get().durationMs()
    return out


def job_stats(spark, groups) -> dict[str, float]:
    """Jobs, stages, tasks, input bytes and shuffle-write bytes of the
    Spark job groups named, from the status tracker and status store."""
    st = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "bytes_read": 0,
           "shuffle_bytes": 0, "groups_without_jobs": 0}
    for g in dict.fromkeys(groups):
        jids = st.getJobIdsForGroup(g)
        if not jids:
            out["groups_without_jobs"] += 1
        for j in jids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for s in info.stageIds:
                sd = store.lastStageAttempt(int(s))
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["bytes_read"] += sd.inputBytes()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
    return out
