"""Run one benchmark workload against the real entry points.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up starts a Spark session on
local[nproc], a DruidSparkEngine (datapipe prewarm joined) over
seeded sf0.1-shaped tables, and a DruidHttpServer on an ephemeral
port. After an off-clock warm-up the workload's clients run closed
loops for --seconds; answers are then checked off the clock.

stdout: a stamp line (host, settings, seed, tail percentile and its
sample count, failures by kind, run hygiene, per-layer self time) and
last one JSON result line. --trace 0 reports the end-to-end metrics;
--trace 1 runs untraced quarter-length windows before and after the
traced one, reports the per-layer metrics, prints the tracing overhead
(traced p50 minus untraced p50) and writes the spans under
.perfbench_work/.
Exits non-zero without a result line when anything fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import types  # noqa: E402
from importlib.metadata import version  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
# import the benchmark as a package from the checkout root, not as
# loose modules from its own directory
sys.path[0] = ROOT

from perfbench import data, spans, stats  # noqa: E402
from perfbench.workloads import TAIL_PCT, WHY, WORKLOADS  # noqa: E402

now = time.perf_counter


def _vmhwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _prepare(work: str) -> tuple[str, str]:
    """Generate the tables once per checkout (in a child process, so
    its memory stays out of this process's peak RSS) and make this run's
    scratch directory for Spark, Python temp files and the warehouse."""
    os.makedirs(work, exist_ok=True)
    data_dir = subprocess.run(
        [sys.executable, os.path.join(HERE, "data.py"), work],
        check=True, capture_output=True, text=True).stdout.strip()
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    tempfile.tempdir = tmp
    return data_dir, run_dir


def _setup(cpus: int, data_dir: str, run_dir: str):
    """The program's set-up, timed as setup_s."""
    t0 = now()
    from druid_spark import DruidSparkEngine
    from druid_spark.datapipe.dedup import join_datapipe_prewarm
    from druid_spark.server import DruidHttpServer
    from druid_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cpus)
    engine = DruidSparkEngine(spark)
    join_datapipe_prewarm(spark)
    engine.catalog.register_dir(data_dir)
    # a fresh warehouse per run: the default is cwd/spark-warehouse,
    # and later runs must not inherit earlier appends
    engine.warehouse_dir = os.path.join(run_dir, "warehouse")
    srv = DruidHttpServer(engine).start()
    return spark, engine, srv, now() - t0


def _stop(spark, srv) -> None:
    """Stop the server and Spark, then the JVM, and wait for it."""
    if srv is not None:
        srv.stop()
    if spark is None:
        return
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _sentinel(engine) -> float:
    """Best of 3 of a fixed count over lineitem (bench.py's sentinel
    shape) — the host-speed probe host_noise_verdict compares."""
    q = {"queryType": "timeseries", "dataSource": "lineitem",
         "granularity": "all", "aggregations": [{"type": "count",
                                                 "name": "n"}]}
    engine.query(q).collect()
    best = float("inf")
    for _ in range(3):
        t = now()
        engine.query(q).collect()
        best = min(best, now() - t)
    return best


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every descendant: the JVM and its Python workers."""
    stat = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2:].split()
            stat[int(d)] = (int(fields[1]),
                            sum(int(x) for x in fields[11:15]))
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _t) in stat.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    ticks = sum(stat[p][1] for p in tree if p in stat)
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of all vCPU time the hypervisor gave to other guests
    between two /proc/stat samples (its 8th column)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def _counters(spark, engine) -> dict:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {"hits": engine.plan_cache_hits,
            "misses": engine.plan_cache_misses,
            "catalog": engine.catalog.version,
            "codegen": cm.METRIC_COMPILATION_TIME().getCount()}


def end_to_end(wl, ops, wall: float, tail_pct: float) -> tuple[dict, dict]:
    """End-to-end metrics from one window's ops, plus stamp figures.
    Latencies are taken per operation kind and averaged over the kinds
    (stats.balanced_percentile)."""
    by_kind: dict[str, list] = {}
    for o in wl.latency_ops(ops):
        if o.failure is None:
            by_kind.setdefault(o.kind, []).append(o.lat * 1000.0)
    if not by_kind:
        raise RuntimeError("no successful operation to time")
    n = sum(len(v) for v in by_kind.values())
    metrics = {
        "latency_p50_ms": stats.balanced_percentile(by_kind, 50.0),
        "latency_tail_ms": stats.balanced_percentile(by_kind, tail_pct),
        "throughput_ops_per_s": n / wall,
    }
    return metrics, {"samples": n,
                     "per_kind": {k: len(v) for k, v in by_kind.items()},
                     "tail_pct": tail_pct,
                     "beyond_tail": sum(len(v) - stats.rank(tail_pct, len(v))
                                        for v in by_kind.values()),
                     "tail_pct_supported": stats.tail_percentile(
                         [len(v) for v in by_kind.values()]),
                     "wall_s": wall}


def layer_metrics(ctx, tracer, ops, c0, c1, report) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window: times and counts per
    operation attempted, unless the name says otherwise."""
    n = max(1, len(ops))
    by_id = {s["id"]: s for s in tracer.spans}

    def outer(prefix):  # spans not nested in a span of the same layer
        return [s for s in tracer.spans if s["name"].startswith(prefix)
                and not (s["parent"] in by_id and by_id[s["parent"]]
                         ["name"].startswith(prefix))]

    def ms(prefix):
        return sum(s["end"] - s["start"] for s in outer(prefix)) * 1000 / n

    def calls(prefix):
        return len(outer(prefix)) / n

    self_ms = {k: v * 1000 / n
               for k, v in stats.self_time_by_name(tracer.spans).items()}
    ratio, hits, _lookups = stats.plan_cache_ratio(
        c0["hits"], c0["misses"], c1["hits"], c1["misses"])
    phases = spans.catalyst_phases(tracer.frames, tracer.epoch_ms0)
    jobs = spans.job_stats(ctx.spark, tracer.qids)
    other = spans.job_stats(ctx.spark, tracer.groups)
    cnt = tracer.counts
    m = {
        "server.overhead_ms": self_ms.get("server.request", 0.0),
        "server.response_bytes": sum(o.nbytes for o in ops) / n,
        "scheduler.wait_ms": ms("scheduler.wait"),
        "scheduler.exec_ms": ms("scheduler.exec"),
        "scheduler.rejected": cnt.get("scheduler.rejected", 0),
        "scheduler.jobs": jobs["jobs"] / n,
        "scheduler.stages": jobs["stages"] / n,
        "scheduler.tasks": jobs["tasks"] / n,
        "engine.sql_ms": ms("engine.sql"),
        "engine.query_ms": ms("engine.query"),
        "engine.plan_cache_hit_ratio": ratio if ratio is not None else 0.0,
        "engine.plan_cache_hits": hits,
        "engine.plan_cache_misses": c1["misses"] - c0["misses"],
        "sqlshim.rewrite_ms": ms("sqlshim.rewrite"),
        "sqlshim.calls": calls("sqlshim.rewrite"),
        "queries.compile_ms": ms("queries.compile"),
        "queries.calls": calls("queries.compile"),
        "catalyst.analysis_ms": phases["analysis"] / n,
        "catalyst.optimization_ms": phases["optimization"] / n,
        "catalyst.planning_ms": phases["planning"] / n,
        "codegen.compiles": (c1["codegen"] - c0["codegen"]) / n,
        "exec.collect_ms": ms("exec.collect"),
        "exec.shuffle_bytes":
            (jobs["shuffle_bytes"] + other["shuffle_bytes"]) / n,
        "exec.bytes_read": (jobs["bytes_read"] + other["bytes_read"]) / n,
        "ingest.run_ms": ms("ingest.run"),
        "ingest.write_ms": ms("ingest.write"),
        "ingest.files_written": cnt.get("ingest.files_written", 0) / n,
        "ingest.bytes_written": cnt.get("ingest.bytes_written", 0) / n,
        "catalog.version_bumps": c1["catalog"] - c0["catalog"],
        "catalog.files_per_partition":
            report.get("catalog.files_per_partition", 0.0),
        "coordinator.compact_ms": ms("coordinator.compact"),
        "coordinator.bytes_rewritten":
            cnt.get("coordinator.bytes_rewritten", 0) / n,
        "coordinator.runs": cnt.get("coordinator.runs", 0),
        "ingest_rows_per_s": report.get("ingest_rows_per_s", 0.0),
        "ingest_batch_p50_ms": report.get("ingest_batch_p50_ms", 0.0),
        "stored_bytes_per_input_byte":
            report.get("stored_bytes_per_input_byte", 0.0),
        "datapipe.pairs": report.get("datapipe.pairs", 0),
    }
    for op_name in ("minhash", "textstats", "topk"):
        calls_ = [o for o in ops if o.kind == op_name]
        k = max(1, len(calls_))
        b = sum(s["end"] - s["start"] for s in outer(
            f"datapipe.{op_name}.build")) * 1000 / k
        c = sum(s["end"] - s["start"] for s in outer(
            f"datapipe.{op_name}.collect")) * 1000 / k
        m[f"datapipe.{op_name}_ms"] = b + c
        m[f"datapipe.{op_name}.build_ms"] = b
        m[f"datapipe.{op_name}.collect_ms"] = c
    extra = {"self_ms_per_op": {k: round(v, 3) for k, v in
                                sorted(self_ms.items())},
             "job_groups_without_jobs": jobs["groups_without_jobs"]
             + other["groups_without_jobs"]}
    return m, extra


def _by_kind(ops) -> dict[str, list]:
    """[count, median ms] of the successful ops of each kind."""
    out: dict[str, list] = {}
    for o in ops:
        if o.failure is None:
            out.setdefault(o.kind, []).append(o.lat * 1000.0)
    return {k: [len(v), round(stats.percentile(v, 50.0), 3)]
            for k, v in sorted(out.items())}


def _hygiene(engine, srv, threads_before: int) -> dict:
    """No query left registered, threads back to their pre-run count,
    plan cache within its bound."""
    deadline = now() + 10
    while now() < deadline and (threading.active_count() > threads_before
                                or srv.scheduler.running_query_ids()):
        time.sleep(0.05)
    return {"running_query_ids": srv.scheduler.running_query_ids(),
            "threads_before": threads_before,
            "threads_after": threading.active_count(),
            "plan_cache_entries": len(engine._plan_cache),
            "plan_cache_size": engine.plan_cache_size}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"have {sorted(WORKLOADS)}")
    try:
        import druid_spark  # noqa: F401  the program under test
        from bench import host_noise_verdict
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    load_1m = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work")
    data_dir, run_dir = _prepare(work)
    prep_s = now() - T_START
    os.chdir(run_dir)  # anything cwd-relative lands in the run dir
    spark = srv = None
    try:
        spark, engine, srv, setup_s = _setup(cpus, data_dir, run_dir)
        ctx = types.SimpleNamespace(
            spark=spark, engine=engine, server=srv, port=srv.port,
            seed=args.seed, data_dir=data_dir, tracer=None,
            n_documents=data.ROWS["documents"])
        wl = WORKLOADS[args.workload](ctx)
        t_warm = now()
        wl.warm()
        warm_s = now() - t_warm
        sentinel_start = _sentinel(engine)
        threads_before = threading.active_count()
        tail_pct = TAIL_PCT[args.workload]
        stamp: dict = {}
        before = after = []
        if args.trace:  # untraced windows around it give the overhead
            before, wall0 = wl.window(args.seconds / 4)
            ctx.tracer = spans.Tracer().install()
        c0 = _counters(spark, engine)
        cpu0, tcpu0 = _cpu_ticks(), _tree_cpu_s()
        try:
            ops, wall = wl.window(args.seconds)
        finally:
            if ctx.tracer is not None:
                ctx.tracer.uninstall()
        c1 = _counters(spark, engine)
        steal = _steal_frac(cpu0, _cpu_ticks())
        tree_cpu = _tree_cpu_s() - tcpu0
        if args.trace:
            after, wall1 = wl.window(args.seconds / 4)
        rss = {"python_mb": _vmhwm_mb(os.getpid()),
               "jvm_mb": _vmhwm_mb(spark.sparkContext._jvm.java.lang
                                   .ProcessHandle.current().pid())}
        sentinel_end = _sentinel(engine)
        every = before + ops + after
        wl.check(every)
        e2e, stamp["latency"] = end_to_end(wl, ops, wall, tail_pct)
        report = wl.report(ops, wall)
        hygiene = _hygiene(engine, srv, threads_before)
        attempted, failed, by_kind = stats.count_failures(
            o.failure for o in every)
        noisy, slow_start, _floor, spread = host_noise_verdict(
            sentinel_start, sentinel_end, load_1m, cpus)
        conf = spark.sparkContext.getConf()
        stamp.update({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "why": WHY[args.workload],
            "host": {"nproc": cpus, "loadavg_1m_before": load_1m,
                     "steal_frac_window": steal,
                     "cpu_s_per_op": tree_cpu / max(1, len(ops)),
                     "master": conf.get("spark.master"),
                     "shuffle_partitions":
                         spark.conf.get("spark.sql.shuffle.partitions"),
                     "driver_memory": conf.get("spark.driver.memory"),
                     "python": platform.python_version(),
                     "pyspark": spark.version,
                     "duckdb": version("duckdb"),
                     "noisy_host": noisy, "slow_start": slow_start,
                     "sentinel_start_s": sentinel_start,
                     "sentinel_end_s": sentinel_end,
                     "sentinel_spread": spread},
            "prep_s": prep_s, "warm_s": warm_s,
            "peak_rss": rss,
            "failed_frac": failed / attempted if attempted else 0.0,
            "failures_by_kind": by_kind,
            "errors": sorted({o.error for o in every if o.error})[:5],
            "wrong_answers": [o.extra["wrong"] for o in every
                              if "wrong" in o.extra][:3],
            "http_errors": [o.extra.get("raw", b"")[:300].decode(
                errors="replace") for o in every
                if o.status is not None and o.status >= 300][:3],
            "p50_ms_by_kind": _by_kind(ops),
            "hygiene": hygiene,
            "workload_report": report,
        })
        ok_hygiene = (not hygiene["running_query_ids"]
                      and hygiene["plan_cache_entries"]
                      <= hygiene["plan_cache_size"])
        correct = ok_hygiene and "wrong_answer" not in by_kind
        if args.trace:
            metrics, extra = layer_metrics(ctx, ctx.tracer, ops, c0, c1,
                                           report)
            metrics["peak_rss_mb"] = rss["python_mb"] + rss["jvm_mb"]
            stamp.update(extra)
            untraced, _ = end_to_end(wl, before + after, wall0 + wall1,
                                     tail_pct)
            stamp["trace_overhead_p50_ms"] = (
                e2e["latency_p50_ms"] - untraced["latency_p50_ms"])
            path = os.path.join(
                work, f"spans-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump(ctx.tracer.spans, f)
            stamp["spans_file"] = os.path.relpath(path, ROOT)
            units = _units("per_layer")
        else:
            metrics = {**e2e, "setup_s": setup_s}
            units = _units("end_to_end")
        stamp["run_s"] = now() - T_START
        print(json.dumps({"perfbench": stamp}, default=str))
        print(json.dumps({
            "correct": bool(correct), "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()}}))
        return 0
    finally:
        os.chdir(ROOT)
        _stop(spark, srv)
        shutil.rmtree(run_dir, ignore_errors=True)


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
