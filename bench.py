"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Query shapes mirror the reference's JMH SQL macro-benchmarks
(benchmarks/.../query/SqlBenchmark.java:41-120 — filtered sums, LIKE
filters, FILTER-ed aggs, 1/2-dim groupBys, ordered groupBys, union
matrix; SqlWindowFunctionsBenchmark; JoinAndLookupBenchmark) plus the
datapipe operators (minhash dedup, text profile, ANN top-k).

Prints ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(per-query sec), "sf", plus derived rows/s figures for the two
whitepaper scan-rate metrics}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def host_noise_verdict(sentinel_start, sentinel_end, loadavg_1m, cpus,
                       prev_floor=None):
    """The noisy-host decision, factored out for unit testing.

    Three trips: (a) END sentinel >25% slower than START — the host
    lost capacity mid-run; (b) loadavg before start >2 runnable tasks
    per core — shared machine from the first timed second; (c) r14:
    START sentinel >1.5x the historical quiet-host floor for this core
    count — a host that starts slow and recovers reads as benign JIT
    warm-up to (a) (the r13 blind spot: every floor inflated ~1.6x
    under noisy_host=false). Returns (noisy, slow_start, new_floor)."""
    sentinel_spread = round(
        (sentinel_end - sentinel_start) / max(sentinel_start, 1e-9), 3)
    slow_start = bool(prev_floor is not None
                      and sentinel_start > 1.5 * prev_floor)
    # the floor ratchets on START sentinels ONLY: an end sentinel is
    # fully JIT-warm and structurally ~1.5-2x faster than any start
    # even on a quiet host (observed 0.0414 -> 0.0245 on an idle box),
    # so mixing ends into the floor would flag every honest run forever
    new_floor = round(
        min(prev_floor if prev_floor is not None else float("inf"),
            sentinel_start), 4)
    noisy = bool(sentinel_spread > 0.25 or loadavg_1m > 2 * cpus
                 or slow_start)
    return noisy, slow_start, new_floor, sentinel_spread


def merged_sentinel_floors(local, seed):
    """Per-core-count floor = min of the locally ratcheted floor
    (bench_out.json) and the committed seed (bench_sentinel_floors.json).

    Why the seed exists (r14): bench_out.json is gitignored, so a fresh
    checkout/container loses the history and its FIRST run has no floor
    — exactly the run most likely to start slow (cold page cache, JIT
    backlog; observed start sentinel 0.277 vs the round's 0.0414 quiet
    floor, with dedup floors inflated ~3x, self-certifying clean). The
    seed carries the measured quiet-host floor across checkouts; the
    min keeps a faster local measurement authoritative and means a
    polluted local floor (ratcheted from a cold first run) can never
    mask the committed history."""
    out = {k: float(v) for k, v in seed.items()}
    for k, v in local.items():
        v = float(v)
        out[k] = min(out[k], v) if k in out else v
    return out


def load_sentinel_floors(out_path, seed_path):
    """The per-core sentinel floors this run compares against, and the
    error that kept the committed seed from loading (None if it loaded
    or does not exist). The local floors ride in the previous
    bench_out.json (absent on a fresh checkout, so any failure there
    just means no local history); r14: they merge with the committed
    quiet-host seed so a fresh checkout's first run still detects a
    slow start — see merged_sentinel_floors. A seed that exists but
    cannot be loaded is reported, since every slow-start verdict of
    the run then rests on local history alone."""
    try:
        with open(out_path) as fh:
            floors = (json.load(fh).get("host_noise", {})
                      .get("sentinel_floor_sec") or {})
        floors = {k: float(v) for k, v in floors.items()}
    except Exception:
        floors = {}
    try:
        with open(seed_path) as fh:
            return merged_sentinel_floors(floors, json.load(fh)), None
    except FileNotFoundError:
        return floors, None
    except Exception as e:
        return floors, f"cannot load {seed_path}: {e}"


def build_queries(engine):
    """name -> zero-arg callable returning a DataFrame (collected by
    the timer)."""
    E = engine

    def q(spec):
        return lambda: E.query(spec)

    out = {
        # whitepaper scan-rate shapes (BASELINE.md rows 1-2)
        "count_star": q({
            "queryType": "timeseries", "dataSource": "lineitem",
            "granularity": "all",
            "aggregations": [{"type": "count", "name": "n"}]}),
        "sum_double": q({
            "queryType": "timeseries", "dataSource": "lineitem",
            "granularity": "all",
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"}]}),
        # SqlBenchmark: filtered sum + LIKE + FILTER-ed aggregates
        "filtered_sum": q({
            "queryType": "timeseries", "dataSource": "lineitem",
            "granularity": "all",
            "filter": {"type": "selector", "dimension": "l_returnflag",
                       "value": "R"},
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"}]}),
        "like_filter_count": q({
            "queryType": "timeseries", "dataSource": "part",
            "granularity": "all",
            "filter": {"type": "like", "dimension": "p_type",
                       "pattern": "%BRASS%"},
            "aggregations": [{"type": "count", "name": "n"}]}),
        "filtered_aggs": q({
            "queryType": "timeseries", "dataSource": "lineitem",
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
                                "fieldName": "l_extendedprice"}}]}),
        "timeseries_month": q({
            "queryType": "timeseries", "dataSource": "lineitem",
            "granularity": "month",
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"}],
            "context": {"skipEmptyBuckets": True}}),
        "groupby_1dim": q({
            "queryType": "groupBy", "dataSource": "lineitem",
            "granularity": "all", "dimensions": ["l_returnflag"],
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"}]}),
        "groupby_2dim": q({
            "queryType": "groupBy", "dataSource": "lineitem",
            "granularity": "all",
            "dimensions": ["l_returnflag", "l_linestatus"],
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"},
                             {"type": "count", "name": "n"}]}),
        "groupby_long_ordered": q({
            "queryType": "groupBy", "dataSource": "lineitem",
            "granularity": "all", "dimensions": ["l_partkey"],
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"}],
            "limitSpec": {"type": "default", "limit": 10, "columns": [
                {"dimension": "s", "direction": "descending",
                 "dimensionOrder": "numeric"}]}}),
        "topn": q({
            "queryType": "topN", "dataSource": "lineitem",
            "dimension": "l_suppkey", "metric": "s", "threshold": 10,
            "granularity": "all",
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"}]}),
        "approx_distinct": q({
            "queryType": "timeseries", "dataSource": "lineitem",
            "granularity": "all",
            "aggregations": [{"type": "hyperUnique", "name": "parts",
                              "fieldName": "l_partkey"}]}),
        "join_broadcast": q({
            "queryType": "groupBy",
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
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"}]}),
        "join_shuffle": q({
            "queryType": "groupBy",
            "dataSource": {
                "type": "join", "left": "lineitem",
                "right": {"type": "table", "name": "orders"},
                "rightPrefix": "j0.",
                "condition": 'l_orderkey == "j0.o_orderkey"',
                "joinType": "INNER"},
            "granularity": "all",
            "dimensions": [{"type": "default",
                            "dimension": "j0.o_orderpriority",
                            "outputName": "priority"}],
            "aggregations": [{"type": "doubleSum", "name": "s",
                              "fieldName": "l_extendedprice"}]}),
        "scan_filter_limit": q({
            "queryType": "scan", "dataSource": "lineitem",
            "columns": ["l_orderkey", "l_quantity", "l_extendedprice"],
            "filter": {"type": "range", "column": "l_quantity", "lower": 45.0},
            "orderBy": [{"columnName": "l_orderkey", "order": "ascending"}],
            "limit": 1000}),
        "window_rank": q({
            "queryType": "windowOperator",
            "dataSource": {"type": "query", "query": {
                "queryType": "groupBy", "dataSource": "lineitem",
                "granularity": "all",
                "dimensions": ["l_suppkey", "l_returnflag"],
                "aggregations": [{"type": "doubleSum", "name": "s",
                                  "fieldName": "l_extendedprice"}]}},
            "operators": [
                {"type": "naivePartition",
                 "partitionColumns": ["l_returnflag"]},
                {"type": "naiveSort", "columns": [
                    {"column": "s", "direction": "DESC"}]},
                {"type": "window", "processors": [
                    {"type": "rowNumber", "outputColumn": "rn"}]}]}),
        "union_matrix": q({
            "queryType": "union",
            "queries": [
                {"queryType": "timeseries", "dataSource": "lineitem",
                 "granularity": "all",
                 "aggregations": [{"type": "count", "name": "n"}]},
                {"queryType": "timeseries", "dataSource": "orders",
                 "granularity": "all",
                 "aggregations": [{"type": "count", "name": "n"}]},
                {"queryType": "timeseries", "dataSource": "events",
                 "granularity": "all",
                 "aggregations": [{"type": "count", "name": "n"}]}]}),
        "quantile_sketch": q({
            "queryType": "groupBy", "dataSource": "lineitem",
            "granularity": "all", "dimensions": ["l_returnflag"],
            "aggregations": [{"type": "quantilesDoublesSketch",
                              "name": "qs", "fieldName": "l_quantity"}],
            "postAggregations": [
                {"type": "quantilesDoublesSketchToQuantiles", "name": "q",
                 "field": {"type": "fieldAccess", "fieldName": "qs"},
                 "fractions": [0.25, 0.5, 0.75, 0.95]}]}),
        "theta_setops": q({
            "queryType": "timeseries", "dataSource": "events",
            "granularity": "all",
            "aggregations": [
                {"type": "filtered",
                 "filter": {"type": "selector", "dimension": "event_type",
                            "value": "click"},
                 "aggregator": {"type": "thetaSketch", "name": "ua",
                                "fieldName": "user_id"}},
                {"type": "filtered",
                 "filter": {"type": "selector", "dimension": "event_type",
                            "value": "view"},
                 "aggregator": {"type": "thetaSketch", "name": "ub",
                                "fieldName": "user_id"}}],
            "postAggregations": [
                {"type": "thetaSketchEstimate", "name": "both",
                 "field": {"type": "thetaSketchSetOp", "func": "INTERSECT",
                           "fields": [
                               {"type": "fieldAccess", "fieldName": "ua"},
                               {"type": "fieldAccess", "fieldName": "ub"}]}}]}),
        "events_hourly_rollup": q({
            "queryType": "timeseries", "dataSource": "events",
            "granularity": "hour",
            "aggregations": [
                {"type": "count", "name": "n"},
                {"type": "doubleSum", "name": "v", "fieldName": "value"}],
            "context": {"skipEmptyBuckets": True}}),
    }

    # datapipe operators
    def dedup_minhash():
        from druid_spark.datapipe.dedup import minhash_lsh_pairs
        return minhash_lsh_pairs(E.catalog.table("documents"), threshold=0.8)

    def text_profile_agg():
        from druid_spark.datapipe import textstats
        docs = E.catalog.table("documents")
        return (textstats.staged_features(docs)
                .groupBy("lang_pred")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.avg("quality").alias("avg_q"),
                     F.sum("n_tokens").alias("tokens")))

    def sim_topk():
        from druid_spark.datapipe.similarity import brute_force_topk
        emb = E.catalog.table("embeddings")
        qv = emb.where("vec_id = 0").collect()[0]["embedding"]
        return brute_force_topk(emb, qv, k=10)

    out["dedup_minhash"] = dedup_minhash
    out["text_profile_agg"] = text_profile_agg
    out["sim_topk"] = sim_topk

    # TPC-H shapes through the SQL layer (BASELINE.md "query comparison"
    # rows use TPC-H 1 GB / 100 GB)
    out["tpch_q1"] = lambda: E.sql("""
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               AVG(l_quantity) AS avg_qty, COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    out["tpch_q3"] = lambda: E.sql("""
        SELECT l_orderkey,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-03-15'
          AND l_shipdate > TIMESTAMP '1996-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC LIMIT 10""")
    out["tpch_q6"] = lambda: E.sql("""
        SELECT SUM(l_extendedprice * l_discount) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""")
    return out


def main():
    from druid_spark import DruidSparkEngine
    from druid_spark.session import get_spark

    # Host-noise sentinel, part 1: loadavg BEFORE Spark starts — once
    # the suite is running, load is self-inflicted and meaningless.
    # (Round-10 lesson: BENCH_r10 shipped a uniformly ~1.5x-inflated
    # record that a quiet-host re-run disproved; the record looked
    # like a code regression but was host contention.)
    loadavg_start = tuple(round(x, 2) for x in os.getloadavg())
    t0 = time.time()
    spark = get_spark("bench", cpus=CPUS)
    session_init = round(time.time() - t0, 3)
    t0 = time.time()
    engine = DruidSparkEngine(spark, data_dir=SF_DIR)
    engine_init = round(time.time() - t0, 3)
    queries = build_queries(engine)

    # warmup: touch all tables once (footer reads, JVM JIT)
    for t in ("lineitem", "orders", "events"):
        engine.catalog.table(t).count()
    # drain the engine's background datapipe prewarm before anything is
    # timed — its 32-task warm pipeline otherwise contends with the
    # sentinel and the first headline queries (observed: start sentinel
    # 0.071-0.113 vs 0.041 without overlap)
    from druid_spark.datapipe.dedup import join_datapipe_prewarm
    join_datapipe_prewarm(spark)

    _sf_tag = os.path.basename(os.path.normpath(SF_DIR))
    cache20 = f"/tmp/druid_spark_bench_cache/li20_{_sf_tag}.parquet"
    cache600 = f"/tmp/druid_spark_bench_cache/li_col_600m_{_sf_tag}.parquet"

    def _build_caches():
        """Build BOTH scale caches BEFORE any section that reads them:
        writing 4.8 GB mid-run evicts page cache and contaminates
        whatever is timed next (round-2 lesson: the driver-recorded
        asymptotic sum read 0.285x baseline while an uncontaminated
        re-run showed 1.34x). cache paths are keyed by SF: a dev run at
        sf0.01 must not leave a 10x-smaller 20x fact for the driver's
        sf0.1 run to reuse (the fixed job cost then dominates and the
        recorded rates collapse — seen round 9: rollup 348k -> 85k
        rows/s/core from a poisoned cache).

        r14 (VERDICT r13 harness gap): called AFTER the sf0.1 headline
        suite instead of before it — on a FIRST run the multi-GB
        dataset writes used to precede the timed headline queries,
        inflating every per-query floor ~1.6x while the signed-drift
        sentinel (slow start that recovers looks like JIT warm-up)
        self-certified the record clean. The per-query timing method
        (warm + best-of-3 collect) is unchanged; only the section
        order moved. Sections that read the caches all run after."""
        import functools
        li = engine.catalog.table("lineitem")
        if not os.path.exists(cache20):
            functools.reduce(lambda a, b: a.union(b), [li] * 20) \
                .repartition(CPUS).write.mode("overwrite").parquet(cache20)
        # 20x TPC-H tables with REMAPPED keys (replica i offsets its
        # order/customer keys) so join fan-out matches a true 20x scale
        # factor instead of multiplying matches 20x20
        tpch20_dir = f"/tmp/druid_spark_bench_cache/tpch20_{_sf_tag}"
        if not os.path.exists(tpch20_dir):
            rep = F.explode(F.sequence(F.lit(0), F.lit(19))).alias("rep")
            orders = engine.catalog.table("orders")
            cust = engine.catalog.table("customer")
            kmax = orders.agg(F.max("o_orderkey")).first()[0] + 1
            cmax = cust.agg(F.max("c_custkey")).first()[0] + 1
            (li.select("*", rep)
             .withColumn("l_orderkey",
                         F.col("l_orderkey") + F.col("rep") * kmax)
             .drop("rep").repartition(CPUS)
             .write.mode("overwrite").parquet(tpch20_dir + "/lineitem"))
            (orders.select("*", rep)
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + F.col("rep") * kmax)
             .withColumn("o_custkey",
                         F.col("o_custkey") + F.col("rep") * cmax)
             .drop("rep").repartition(CPUS)
             .write.mode("overwrite").parquet(tpch20_dir + "/orders"))
            (cust.select("*", rep)
             .withColumn("c_custkey",
                         F.col("c_custkey") + F.col("rep") * cmax)
             .drop("rep").repartition(8)
             .write.mode("overwrite").parquet(tpch20_dir + "/customer"))
        # sf1-equivalent TPC-H facts (10x the sf0.1 base = 6M-row
        # lineitem): one more MEASURED decade between the base and
        # 20x scale-sweep points, same key-remap discipline
        tpch10_dir = f"/tmp/druid_spark_bench_cache/tpch10_{_sf_tag}"
        if not os.path.exists(tpch10_dir):
            rep10 = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")
            orders = engine.catalog.table("orders")
            kmax = orders.agg(F.max("o_orderkey")).first()[0] + 1
            (li.select("*", rep10)
             .withColumn("l_orderkey",
                         F.col("l_orderkey") + F.col("rep") * kmax)
             .drop("rep").repartition(CPUS)
             .write.mode("overwrite").parquet(tpch10_dir + "/lineitem"))
            (orders.select("*", rep10)
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + F.col("rep") * kmax)
             .drop("rep").repartition(CPUS)
             .write.mode("overwrite").parquet(tpch10_dir + "/orders"))
        # sf1-equivalent NON-TPC-H tables (r13): events/documents/
        # embeddings 10x with remapped ids, so the FULL 25-query
        # headline suite can run at sf1 (documents get a per-replica
        # suffix token: replicas stay near-duplicates, not exact ones,
        # keeping the minhash workload honest)
        sf1x_dir = f"/tmp/druid_spark_bench_cache/sf1x_{_sf_tag}"
        if not os.path.exists(sf1x_dir):
            rep10 = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")
            ev = engine.catalog.table("events")
            umax = ev.agg(F.max("user_id")).first()[0] + 1
            (ev.select("*", rep10)
               .withColumn("user_id",
                           F.col("user_id") + F.col("rep") * umax)
               .drop("rep").repartition(CPUS)
               .write.mode("overwrite").parquet(sf1x_dir + "/events"))
            docs = engine.catalog.table("documents")
            dmax = docs.agg(F.max("doc_id")).first()[0] + 1
            (docs.select("*", rep10)
                 .withColumn("doc_id",
                             F.col("doc_id") + F.col("rep") * dmax)
                 .withColumn("text", F.concat_ws(
                     " ", F.col("text"),
                     F.concat(F.lit("r"), F.col("rep"))))
                 .drop("rep").repartition(CPUS)
                 .write.mode("overwrite").parquet(sf1x_dir + "/documents"))
            emb = engine.catalog.table("embeddings")
            vmax = emb.agg(F.max("vec_id")).first()[0] + 1
            (emb.select("*", rep10)
                 .withColumn("vec_id",
                             F.col("vec_id") + F.col("rep") * vmax)
                 .drop("rep").repartition(CPUS)
                 .write.mode("overwrite").parquet(sf1x_dir + "/embeddings"))
        if not os.path.exists(cache600):
            base = li.select("l_extendedprice")
            factor = max(1, -(-600_000_000 // base.count()))
            # repartition BEFORE explode: shuffling the exploded rows
            # would move 600M rows; shuffling 600k then exploding moves
            # almost nothing (round-2 lesson).
            (base.repartition(CPUS)
                 .select(F.explode(
                     F.array_repeat(F.col("l_extendedprice"),
                                    factor)).alias("v"))
                 .write.mode("overwrite").parquet(cache600))
        os.sync()

    lineitem_rows = engine.catalog.table("lineitem").count()

    # Host-noise sentinel, part 2: best-of-3 the same trivial query at
    # suite start and again after every timed arm. If the two disagree
    # by >25%, the host's capacity CHANGED during the run and the
    # record is not a valid round-over-round comparator — stamp
    # noisy_host rather than refuse, so the driver still gets a line.
    # r14 (slow-START blind spot, VERDICT r13): the signed-drift rule
    # can't see a host that STARTS slow and recovers (it reads as JIT
    # warm-up) — exactly the r13 failure where every floor inflated
    # ~1.6x under noisy_host=false. Additions-only fix: carry the
    # historical quiet-host sentinel floor in bench_out.json (keyed by
    # core count) and stamp noisy_host when the start sentinel exceeds
    # 1.5x that floor.
    _here = os.path.dirname(os.path.abspath(__file__))
    _prev_floors, _floors_error = load_sentinel_floors(
        os.path.join(_here, "bench_out.json"),
        os.path.join(_here, "bench_sentinel_floors.json"))
    if _floors_error:
        print(f"warning: {_floors_error}", file=sys.stderr)
    _prev_floor = _prev_floors.get(str(CPUS))

    def _sentinel_time():
        fn = queries["count_star"]
        len(fn().collect())
        best = float("inf")
        for _ in range(3):
            s0 = time.time()
            len(fn().collect())
            best = min(best, time.time() - s0)
        return round(best, 4)

    sentinel_start = _sentinel_time()
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name, fn in queries.items():
        # JMH-style: one warmup iteration (codegen compile, page cache),
        # then best-of-2 steady state — mirrors the reference's benchmark
        # methodology (benchmarks/.../SqlBenchmark.java runs under JMH
        # warmups). collect(), not count(): count() lets Catalyst prune
        # the aggregate expressions, which would fake the numbers; every
        # query here returns a small (aggregated or limited) result.
        t0 = time.time()
        len(fn().collect())
        cold[name] = round(time.time() - t0, 4)
        runs = []
        for _ in range(3):  # best-of-3: the min is robust to a
            t0 = time.time()  # transient contention spike on the host
            len(fn().collect())
            runs.append(time.time() - t0)
        times[name] = round(min(runs), 4)
        spreads[name] = round(max(runs) - min(runs), 4)
    total = round(sum(times.values()), 4)

    # TPC-H suite: the whitepaper's own query-performance framing is
    # TPC-H (1 GB / 100 GB figures, druid.tex:878-896). Run the full
    # 22-query shape suite (q1/q3/q6 standalone + the sqlc_tpch_*
    # conformance texts, reduced-schema stand-ins documented at the
    # batch header in __spark_entry__.py) through the SQL layer —
    # warm once, best-of-2.
    tpch = {}
    try:
        import __spark_entry__ as entrymod
        texts = {f"q{n:02d}": entrymod.oracle_sql()[f"tpch_q{n}"]
                 for n in (1, 3, 6)}
        texts.update({name.rsplit("_", 1)[-1]: sql
                      for name, (sql, _o) in entrymod._SQL_CASES.items()
                      if name.startswith("sqlc_tpch_")})
        per = {}
        for qn in sorted(texts):
            fn = lambda: engine.sql(texts[qn])
            len(fn().collect())
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                len(fn().collect())
                best = min(best, time.time() - t0)
            per[qn] = round(best, 4)
        tpch = {"suite_sec": round(sum(per.values()), 4),
                "n_queries": len(per), "queries": per}
    except Exception as e:
        tpch["error"] = str(e)[:200]

    # cache prebuild for every section below — AFTER the sf0.1 timed
    # suites (see _build_caches docstring for why the order matters)
    try:
        _build_caches()
    except Exception as e:
        # a silently failed prebuild would degrade the asymptotic
        # section into the contaminated regime (round-2 lesson) with no
        # trace — make it attributable
        print(f"WARN: bench cache prebuild failed "
              f"({type(e).__name__}: {e}); amortized/asymptotic "
              f"sections will run cold or be empty", file=sys.stderr)
    # the 4.8 GB cache write above evicts page cache for the base
    # tables — re-warm them (cheap) so later base-table sections aren't
    # inflated on a first run vs cached-rerun rounds
    for t in ("lineitem", "orders", "events"):
        engine.catalog.table(t).count()

    # TPC-H at 20x (12M-row lineitem, remapped keys): the sf0.1 suite
    # above is fixed-job-cost dominated, so round-over-round perf
    # tracking for the heavy join queries happens HERE, in the
    # amortized regime a real cluster runs in — q1 (wide agg), q3/q18
    # (fact-fact joins), q6 (selective scan).
    tpch20 = {}
    try:
        import __spark_entry__ as entrymod
        from druid_spark import DruidSparkEngine as _Eng20
        eng20 = _Eng20(spark)
        for t in ("lineitem", "orders", "customer"):
            eng20.catalog.register_table(
                t, spark.read.parquet(
                    f"/tmp/druid_spark_bench_cache/tpch20_{_sf_tag}/{t}"))
        texts20 = {f"q{n}": entrymod.oracle_sql()[f"tpch_q{n}"]
                   for n in (1, 3, 6)}
        texts20["q18"] = entrymod._SQL_CASES["sqlc_tpch_q18"][0]
        n20 = eng20.catalog.table("lineitem").count()
        per20 = {}
        spread20 = {}
        warms20 = {}
        for qn in sorted(texts20):
            # r14 measurement fix (documented in OPTIMIZATION_r14.md):
            # warm until steady instead of exactly once. By this point
            # the JVM has planned/codegen'd ~150 queries and the C2
            # compile queue can be seconds deep; a single warm left
            # q18's hot SMJ/agg loops running INTERPRETED through the
            # timed iterations (observed 0.95 -> 12.7 s spread on
            # identical code/data; totalCompilationTime 125-139 s).
            # JMH-style: warm until two consecutive warm runs agree
            # within 20%, then the same best-of-2 timing as before.
            # n_warms/spread are recorded so a backlog that persists is
            # visible instead of silently folded in. Cap raised 5 -> 10
            # (session 4): a quiet run still hit the 5-warm cap with
            # q18 at 5.48 s / spread 1.22 (n_warms=5 in the artifact)
            # while two sibling runs converged to 0.88-1.0 s — the C2
            # queue can need a few more drains on unlucky runs.
            warm_runs = []
            for _ in range(10):
                t0 = time.time()
                len(eng20.sql(texts20[qn]).collect())
                warm_runs.append(time.time() - t0)
                if (len(warm_runs) >= 2 and warm_runs[-1]
                        <= 1.2 * min(warm_runs) and warm_runs[-2]
                        <= 1.2 * min(warm_runs)):
                    break
            warms20[qn] = len(warm_runs)
            runs = []
            for _ in range(2):
                t0 = time.time()
                len(eng20.sql(texts20[qn]).collect())
                runs.append(time.time() - t0)
            per20[qn] = round(min(runs), 4)
            spread20[qn] = round(max(runs) - min(runs), 4)
        tpch20 = {
            "lineitem_rows": n20, "queries": per20,
            "spread": spread20, "n_warms": warms20,
            "suite_sec": round(sum(per20.values()), 4),
            "q1_rows_per_sec_per_core": round(
                n20 / max(per20["q1"], 1e-9) / CPUS),
            "q6_rows_per_sec_per_core": round(
                n20 / max(per20["q6"], 1e-9) / CPUS)}
    except Exception as e:
        tpch20["error"] = str(e)[:200]

    # Amortized scan rate: per-query wall time at sf0.1 is dominated by
    # the fixed Spark job cost (~0.1s), which under-reports throughput by
    # orders of magnitude vs the whitepaper's 100 GB-scale numbers.
    # Materialize a 20x self-union once (cached across runs) and measure
    # steady-state — the rate keeps climbing with volume (measured here:
    # 0.12M @ 600k rows -> 1.7M @ 12M -> 6M rows/s/core @ 60M rows) as
    # overhead amortizes, which is the regime a 1000-executor cluster
    # actually runs in.
    amortized = {}
    try:
        big = spark.read.parquet(cache20)
        nbig = big.count()
        for key, expr in (("sum_double", F.sum("l_extendedprice")),
                          ("count_star", F.count(F.lit(1)))):
            best = float("inf")
            for _ in range(3):
                t0 = time.time()
                big.agg(expr).collect()
                best = min(best, time.time() - t0)
            amortized[f"{key}_rows_per_sec_per_core"] = round(
                nbig / best / CPUS)
    except Exception as e:  # bench must always print its JSON line
        amortized["error"] = str(e)[:200]

    # Skewed-key join at 20x: one key holds ~50% of the 12M fact rows
    # (extreme skew — the regime where a hot key serializes one reducer
    # at 100 TB). Three-way comparison: uniform keys, skewed under AQE's
    # skew-split, and skew.py's pre-salted join. Broadcast is disabled
    # for the section so the join actually shuffles (a fact-to-fact dim
    # side isn't broadcastable at scale) and restored after.
    skew = {}
    thresh0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        from druid_spark.skew import salted_join
        n_keys = 20_000
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        base = spark.read.parquet(cache20)
        h = F.abs(F.xxhash64("l_orderkey", "l_linenumber",
                             "l_extendedprice"))
        fact_s = base.select(
            F.when(h % 2 == 0, F.lit(0).cast("long"))
            .otherwise(h % n_keys).alias("key"),
            F.col("l_extendedprice").alias("v"))
        fact_u = base.select((h % n_keys).alias("key"),
                             F.col("l_extendedprice").alias("v"))
        dim = spark.range(n_keys).select(
            F.col("id").alias("key"), (F.col("id") % 97).alias("w"))

        def run_join(df):
            # warm once + best-of-3 with spread: the arm's ratio vs the
            # uniform base swung with host state between rounds (r6:
            # driver 0.83x vs solo 1.65x) — pin the base and make the
            # noise visible in the artifact instead of in the ratio
            df.agg(F.sum(F.col("v") * F.col("w"))).collect()
            runs = []
            for _ in range(3):
                t0 = time.time()
                df.agg(F.sum(F.col("v") * F.col("w"))).collect()
                runs.append(time.time() - t0)
            return round(min(runs), 3), round(max(runs) - min(runs), 3)

        skew["uniform_join_sec"], skew["uniform_spread_sec"] = \
            run_join(fact_u.join(dim, "key"))
        skew["skewed_aqe_sec"], _ = run_join(fact_s.join(dim, "key"))
        skew["skewed_salted_sec"], _ = run_join(
            salted_join(fact_s, dim, ["key"], n_salts=32))
        # the compiler path: context.skewHint through engine._join —
        # what a user gets without calling skew.py themselves
        engine.catalog.register_table("skew_fact", fact_s)
        engine.catalog.register_table("skew_dim", dim)
        jdf = engine.resolve(
            {"type": "join", "left": "skew_fact",
             "right": {"type": "table", "name": "skew_dim"},
             "rightPrefix": "j0.", "condition": 'key == "j0.key"',
             "joinType": "INNER"},
            {"skewHint": {"salts": 32}}
        ).select("v", F.col("`j0.w`").alias("w"))
        skew["skewed_compiler_sec"], skew["compiler_spread_sec"] = \
            run_join(jdf)
        engine.catalog.drop_table("skew_fact")
        engine.catalog.drop_table("skew_dim")
        skew["aqe_vs_uniform"] = round(
            skew["skewed_aqe_sec"] / max(skew["uniform_join_sec"], 1e-9), 2)
        skew["salted_vs_uniform"] = round(
            skew["skewed_salted_sec"] / max(skew["uniform_join_sec"], 1e-9),
            2)
        skew["compiler_vs_uniform"] = round(
            skew["skewed_compiler_sec"]
            / max(skew["uniform_join_sec"], 1e-9), 2)
    except Exception as e:
        skew["error"] = str(e)[:200]
    finally:
        # restore even on failure — leaving broadcast disabled would
        # silently skew every later join-bearing section
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh0)

    # Ingest rate: batch rollup ingestion of the 12M-row 20x fact —
    # read → time-truncate → groupBy(rollup) → parquet segment write,
    # the IncrementalIndex+IndexMerger pipeline as one Spark job.
    # Whitepaper baselines: 800k events/s/core for a trivial
    # (timestamp-only) schema, 22.9k events/s/core for the 30-dim
    # production schema (BASELINE.md; druid.tex:930-966). The rollup
    # probe here (3 dims + 4 metrics) sits between those shapes.
    ingest = {}
    try:
        src = spark.read.parquet(cache20)
        n_src = src.count()
        base_dir = "/tmp/druid_spark_bench_cache"
        # trivial schema at 60M (5x re-read of the cached 20x file —
        # page-cached, so this times truncate+rollup+write, not disk):
        # at 12M the ~1.5s fixed job cost is half the wall time
        src5 = src
        for _ in range(4):
            src5 = src5.union(src)

        def best_of(n_iter, fn):
            # best-of-N + spread, same treatment as the query arms:
            # the ingest sections are single heavyweight jobs, so one
            # contention spike would otherwise swing the recorded rate
            # by 3-5x between rounds; the spread makes the noise
            # visible instead of silently folded into the trend
            runs = []
            for _ in range(n_iter):
                t0 = time.time()
                fn()
                runs.append(time.time() - t0)
            return min(runs), round(max(runs) - min(runs), 4)

        t_triv, sp_triv = best_of(3, lambda: (
            src5.groupBy(F.date_trunc("hour", "l_shipdate").alias("__time"))
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite").parquet(f"{base_dir}/ing_trivial")))
        ingest["trivial_rows_per_sec_per_core"] = round(
            5 * n_src / t_triv / CPUS)
        ingest["trivial_spread_sec"] = sp_triv
        ingest["trivial_best_sec"] = round(t_triv, 4)
        t_roll, sp_roll = best_of(3, lambda: (
            src.groupBy(F.date_trunc("day", "l_shipdate").alias("__time"),
                        "l_returnflag", "l_linestatus", "l_linenumber")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("l_quantity").alias("qty"),
                    F.sum("l_extendedprice").alias("rev"),
                    F.avg("l_discount").alias("disc"))
               .write.mode("overwrite").parquet(f"{base_dir}/ing_rollup")))
        ingest["rollup_rows_per_sec_per_core"] = round(
            n_src / t_roll / CPUS)
        ingest["rollup_spread_sec"] = sp_roll
        ingest["rollup_best_sec"] = round(t_roll, 4)
        ingest["vs_baseline_trivial"] = round(
            ingest["trivial_rows_per_sec_per_core"] / 800_000, 3)
        ingest["vs_baseline_production_30dim"] = round(
            ingest["rollup_rows_per_sec_per_core"] / 22_914, 1)
    except Exception as e:
        ingest["error"] = str(e)[:200]

    # Asymptotic scan rate: the whitepaper baseline (53.5M count / 36.2M
    # sum rows/s/core, TPC-H 100 GB) measures steady-state columnar scan
    # throughput on dictionary-encoded segments. The Spark analog is a
    # single-column parquet big enough (600M rows ~ 1000x sf0.1) that
    # the ~0.1s fixed job cost is noise. Measured on this container:
    # count 88.5M, sum 60.5M rows/s/core — both above baseline; pure
    # codegen over range() reaches 97.8M, so parquet decode costs ~10%.
    # The file is built once and cached across rounds.
    asymptotic = {}
    try:
        big = spark.read.parquet(cache600)
        nbig = big.count()
        big.agg(F.sum("v")).collect()  # untimed: page-cache + codegen warm
        # Interleaved best-of-7: this section is the headline
        # vs-baseline number and host contention arrives in bursts —
        # interleaving the two metrics keeps one burst from poisoning
        # a whole metric's iterations
        exprs = {"count_star": F.count(F.lit(1)),
                 "sum_double": F.sum("v")}
        best = {k: float("inf") for k in exprs}
        for _ in range(7):
            for key, expr in exprs.items():
                t0 = time.time()
                big.agg(expr).collect()
                best[key] = min(best[key], time.time() - t0)
        for key in exprs:
            asymptotic[f"{key}_rows_per_sec_per_core"] = round(
                nbig / best[key] / CPUS)
        asymptotic["rows"] = nbig
        asymptotic["vs_baseline_count"] = round(
            asymptotic["count_star_rows_per_sec_per_core"] / 53_539_211, 3)
        asymptotic["vs_baseline_sum"] = round(
            asymptotic["sum_double_rows_per_sec_per_core"] / 36_246_530, 3)
    except Exception as e:
        asymptotic["error"] = str(e)[:200]

    # Prepared-plan cache (round 7): a fresh engine's first submission
    # of the suite's groupby_1dim pays Spark parse/analyze (~65 of the
    # ~95 ms per-query floor, SCALE.md r6); re-submission returns the
    # cached analyzed DataFrame. Reference analog: Avatica prepared
    # statements (sql/.../avatica/DruidMeta.java). Timed WITHOUT
    # collect(): the arm isolates submission latency (compile+analyze),
    # the part the cache removes — execution is unchanged either way.
    prepared = {}
    try:
        from druid_spark import DruidSparkEngine as _EngP
        engp = _EngP(spark, data_dir=SF_DIR)
        engp.catalog.table("lineitem")  # pre-touch: footer read is not
        # part of the submit latency the cache removes
        gq = {"queryType": "groupBy", "dataSource": "lineitem",
              "granularity": "all", "dimensions": ["l_returnflag"],
              "aggregations": [{"type": "doubleSum", "name": "s",
                                "fieldName": "l_extendedprice"}]}
        t0 = time.time()
        engp.query(gq)
        prepared["first_submit_ms"] = round((time.time() - t0) * 1000, 2)
        best = float("inf")
        for _ in range(5):
            t0 = time.time()
            engp.query(gq)
            best = min(best, time.time() - t0)
        prepared["cached_submit_ms"] = round(best * 1000, 2)
        prepared["speedup"] = round(
            prepared["first_submit_ms"]
            / max(prepared["cached_submit_ms"], 1e-6), 1)
        # end-to-end repeated execution (submit + run) for the record
        t0 = time.time()
        engp.query(gq).collect()
        prepared["cached_e2e_sec"] = round(time.time() - t0, 4)
    except Exception as e:
        prepared["error"] = str(e)[:200]

    # Scaling-curve sweep (round 10): the 100x-scale claims rest on
    # plan shape; this arm MEASURES the curve. Four representative
    # operators timed at sf0.01 (~60k lineitem rows), the bench SF
    # (sf0.1, ~600k), and 20x (~12M): `slope` is
    # log(t_big/t_small)/log(n_big/n_small) across the widest span —
    # 1.0 = perfectly linear time in rows, < 1.0 = per-core throughput
    # RISING with scale (fixed job cost amortizing), > 1.0 =
    # superlinear cost (a plan that would not survive 100x).
    scale_sweep = {}
    try:
        small_dir = os.path.join(os.path.dirname(
            os.path.normpath(SF_DIR)), "sf0.01")
        eng_small = (DruidSparkEngine(spark, data_dir=small_dir)
                     if os.path.isdir(small_dir) and small_dir != SF_DIR
                     else None)

        def _bo2(fn):
            fn()  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn()
                best = min(best, time.time() - t0)
            return best

        li_b = engine.catalog.table("lineitem")
        ord_b = engine.catalog.table("orders")
        li_20 = spark.read.parquet(cache20)
        tpch20_dir = f"/tmp/druid_spark_bench_cache/tpch20_{_sf_tag}"
        ord_20 = spark.read.parquet(tpch20_dir + "/orders")
        tpch10_dir = f"/tmp/druid_spark_bench_cache/tpch10_{_sf_tag}"
        li_10 = spark.read.parquet(tpch10_dir + "/lineitem")
        ord_10 = spark.read.parquet(tpch10_dir + "/orders")

        def filtered_agg(li, _o):
            li.where(F.col("l_discount") > 0.05) \
              .agg(F.sum("l_extendedprice")).collect()

        def groupby_2dim(li, _o):
            li.groupBy("l_returnflag", "l_linestatus") \
              .agg(F.sum("l_quantity"), F.avg("l_extendedprice"),
                   F.count(F.lit(1))).collect()

        def shuffle_join(li, o):
            # sort-merge hint pins the SHUFFLE join shape at every SF
            # (auto-broadcast would flip the small cells to a different
            # plan and fake the slope)
            li.join(o.hint("merge"),
                    li.l_orderkey == o.o_orderkey) \
              .groupBy("o_orderpriority") \
              .agg(F.sum("l_extendedprice")).collect()

        cells = {"filtered_agg": filtered_agg,
                 "groupby_2dim": groupby_2dim,
                 "shuffle_join": shuffle_join}
        sizes = []
        if eng_small is not None:
            sizes.append(("sf0.01", eng_small.catalog.table("lineitem"),
                          eng_small.catalog.table("orders")))
        sizes.append(("base", li_b, ord_b))
        # "sf1" = 10x the sf0.1 base (6M-row lineitem): a real decade
        # between base and 20x (round-12 ask — slopes refit over the
        # widest span still, with the interior point recorded)
        sizes.append(("sf1_10x", li_10, ord_10))
        sizes.append(("20x", li_20, ord_20))
        import math
        for qname, fn in cells.items():
            pts = []
            for tag, li, o in sizes:
                n = li.count()
                sec = _bo2(lambda: fn(li, o))
                pts.append({"scale": tag, "rows": n,
                            "sec": round(sec, 4),
                            "rows_per_sec_per_core":
                                round(n / sec / CPUS)})
            s0, s1 = pts[0], pts[-1]
            slope = (math.log(s1["sec"] / s0["sec"])
                     / math.log(s1["rows"] / s0["rows"]))
            scale_sweep[qname] = {"points": pts,
                                  "slope": round(slope, 3)}
        # dedup_minhash sweeps sf0.01 -> base over the documents table
        # (no 20x documents cache; the LSH plan is the scale evidence)
        if eng_small is not None:
            mh_pts = []
            for tag, eng_ in (("sf0.01", eng_small), ("base", engine)):
                qs = build_queries(eng_)
                nd = eng_.catalog.table("documents").count()
                sec = _bo2(qs["dedup_minhash"])
                mh_pts.append({"scale": tag, "rows": nd,
                               "sec": round(sec, 4),
                               "rows_per_sec_per_core":
                                   round(nd / sec / CPUS)})
            slope = (math.log(mh_pts[-1]["sec"] / mh_pts[0]["sec"])
                     / math.log(mh_pts[-1]["rows"] / mh_pts[0]["rows"]))
            scale_sweep["dedup_minhash"] = {"points": mh_pts,
                                            "slope": round(slope, 3)}
    except Exception as e:
        scale_sweep["error"] = str(e)[:200]

    # Full 25-query headline suite at sf1 (r13): the sf0.1 suite above
    # is fixed-job-cost dominated (~30 ms/query), so round-over-round
    # perf tracking happens HERE in the amortized regime — 10x facts
    # (6M-row lineitem, 1M events, 50k documents) with remapped keys;
    # dims stay at base scale (TPC-H scales facts; dims broadcast).
    sf1_suite = {}
    try:
        from druid_spark import DruidSparkEngine as _Eng1
        _sf1x = f"/tmp/druid_spark_bench_cache/sf1x_{_sf_tag}"
        _t10 = f"/tmp/druid_spark_bench_cache/tpch10_{_sf_tag}"
        eng1 = _Eng1(spark)
        for t in ("region", "nation", "customer", "supplier", "part"):
            eng1.catalog.register_table(t, engine.catalog.table(t))
        for t, p in (("lineitem", _t10 + "/lineitem"),
                     ("orders", _t10 + "/orders"),
                     ("events", _sf1x + "/events"),
                     ("documents", _sf1x + "/documents"),
                     ("embeddings", _sf1x + "/embeddings")):
            eng1.catalog.register_table(t, spark.read.parquet(p))
        q1s = build_queries(eng1)
        per1 = {}
        spread1 = {}
        for name, fn in q1s.items():
            len(fn().collect())          # warm (codegen + page cache)
            runs = []
            for _ in range(2):
                t0 = time.time()
                len(fn().collect())
                runs.append(time.time() - t0)
            per1[name] = round(min(runs), 4)
            spread1[name] = round(max(runs) - min(runs), 4)
        sf1_suite = {
            "sf": 1,
            "lineitem_rows": eng1.catalog.table("lineitem").count(),
            "queries": per1,
            "spread": spread1,
            "total_sec": round(sum(per1.values()), 4),
        }
    except Exception as e:
        sf1_suite["error"] = str(e)[:200]

    sentinel_end = _sentinel_time()
    # SIGNED drift: only an END sentinel SLOWER than the start one
    # indicates the host lost capacity during the run — a faster end
    # is the JVM JIT warming across the suite (observed: 0.050 ->
    # 0.023 s on an idle host) and is benign
    sentinel_spread = round(
        (sentinel_end - sentinel_start)
        / max(sentinel_start, 1e-9), 3)
    # slow-START detection (r14): see host_noise_verdict — the floor
    # ratchets down monotonically and rides along in bench_out.json.
    noisy, slow_start, new_floor, _ = host_noise_verdict(
        sentinel_start, sentinel_end, loadavg_start[0], CPUS,
        _prev_floor)
    _prev_floors[str(CPUS)] = new_floor
    host_noise = {
        "loadavg_before_start": loadavg_start,
        "sentinel_query": "count_star",
        "sentinel_start_sec": sentinel_start,
        "sentinel_end_sec": sentinel_end,
        "sentinel_spread": sentinel_spread,
        "sentinel_floor_sec": _prev_floors,
        "slow_start_vs_floor": slow_start,
        "noisy_host": noisy,
    }
    if _floors_error:
        host_noise["floors_load_error"] = _floors_error
    if host_noise["noisy_host"]:
        print(f"WARN: noisy host detected (sentinel spread "
              f"{sentinel_spread}, loadavg {loadavg_start}); this "
              f"record is not a valid round-over-round comparator",
              file=sys.stderr)

    result = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        # cold arm: FIRST submission of each suite query (includes
        # Spark parse/analyze — the path the prepared-plan cache
        # skips on warm submissions), so compile-path regressions stay
        # visible even though the warm suite mostly measures the cache
        "cold_queries": cold,
        "cold_total_sec": round(sum(cold.values()), 4),
        # best-of-3 spread (max−min) per query: separates host noise
        # from real drift when a warm number moves round over round
        "spread_queries": spreads,
        "session_init_sec": session_init,
        "engine_init_sec": engine_init,
        "host_noise": host_noise,
        "derived": {
            "count_star_rows_per_sec_per_core": round(
                lineitem_rows / max(times["count_star"], 1e-9) / CPUS),
            "sum_double_rows_per_sec_per_core": round(
                lineitem_rows / max(times["sum_double"], 1e-9) / CPUS),
            "tpch_suite_sf": tpch,
            "tpch_20x": tpch20,
            "amortized_20x": amortized,
            "skew_join_20x": skew,
            "ingest_rate_20x": ingest,
            "asymptotic_1000x": asymptotic,
            "prepared_plan_cache": prepared,
            "scale_sweep": scale_sweep,
        },
        # the amortized-regime companion record (ask: both suites in
        # one bench line, same shape, sf: 1)
        "sf1": sf1_suite,
    }
    # Full detail to bench_out.json (the driver's stdout capture keeps
    # only the last 2000 chars; round 5's full line outgrew it and the
    # driver recorded parsed:null). The printed line is a compact subset
    # — same contract fields, headline-scalar derived — guaranteed to
    # fit the tail; full sections live in the JSON file.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_out.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    compact = {
        "metric": result["metric"],
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in times.items()},
        "sf": result["sf"],
        "noisy_host": host_noise["noisy_host"],
        "derived": {
            "asymptotic_count_vs_baseline":
                asymptotic.get("vs_baseline_count"),
            "asymptotic_sum_vs_baseline":
                asymptotic.get("vs_baseline_sum"),
            "skew_compiler_vs_uniform":
                skew.get("compiler_vs_uniform"),
            "prepared_submit_speedup": prepared.get("speedup"),
            "tpch_20x_total_sec": tpch20.get("suite_sec"),
            "ingest_rollup_rows_per_sec_per_core":
                ingest.get("rollup_rows_per_sec_per_core"),
            "cold_total_sec": round(sum(cold.values()), 4),
            "dedup_minhash_spread_sec": spreads.get("dedup_minhash"),
            "ingest_rollup_spread_sec": ingest.get("rollup_spread_sec"),
            "ingest_trivial_spread_sec":
                ingest.get("trivial_spread_sec"),
            # log-log slope per sweep query (1.0 = linear in rows)
            "scale_slopes": {k: v.get("slope")
                             for k, v in scale_sweep.items()
                             if isinstance(v, dict)},
            "sentinel_spread": sentinel_spread,
            "full": "bench_out.json",
        },
        "sf1": {"total_sec": sf1_suite.get("total_sec"),
                "lineitem_rows": sf1_suite.get("lineitem_rows"),
                "queries": {k: round(v, 3) for k, v in
                            sf1_suite.get("queries", {}).items()}},
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # belt-and-braces: never outgrow the tail again
        compact["sf1"].pop("queries", None)
        line = json.dumps(compact)
    if len(line) > 1900:
        compact.pop("derived", None)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
