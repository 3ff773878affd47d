"""The engine process of a benchmark run: set-up, the oracle check and
the timed passes, written as JSON to a result file.

Usage: python engine.py <config.json> <result.json>

The process touches the engine only from outside: it calls
``session.get_spark``, calls ``queries.QUERIES[name](spark, sf_dir)``
and writes each result with the ``noop`` sink. A query's latency runs
from the registry call to the end of the noop write. The drain between
queries (clearCache, Python GC) and all tracing reads fall outside
every latency.
"""

import time

T_PROCESS = time.time()

import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402
from tracing import COUNTERS, SparkAccounting, Spans, peak_rss_mb, python_workers  # noqa: E402

MIN_PASSES = 3
# Runtime conf of Spark's Python UDF profiler, set only in traced passes.
UDF_PROFILER_CONF = "spark.sql.pyspark.udf.profiler"


def _pid_of_task(_):
    return [os.getpid()]


class Client:
    """The closed-loop client: runs registry queries back to back."""

    def __init__(self, spark, cfg: dict, queries: dict, oracles: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cfg = cfg
        self.queries = queries
        self.oracles = oracles
        self.names = workloads.WORKLOADS[cfg["workload"]]["queries"]
        self.failures: dict[str, str] = {}
        self.attempted = self.failed = 0
        self.drain_s = 0.0
        self.tracer = None  # (SparkAccounting, Spans, run span) when traced

    def drain(self, full: bool = False) -> None:
        """Harness work between queries, outside every latency: drop the
        cache and, between passes, collect Python garbage. No JVM GC is
        forced: a full GC clears soft-referenced caches and resizes the
        heap, which left the next pass partly cold (up to 2x slower)."""
        t = time.perf_counter()
        self.spark.catalog.clearCache()
        if full:
            gc.collect()
        self.drain_s += time.perf_counter() - t

    def run_query(self, name: str, tag: str, parent: int | None) -> dict | None:
        """Run one query; return its latency record, or None if it failed."""
        self.drain()
        self.attempted += 1
        traced = self.tracer is not None
        groups = {"build": f"{tag}:{name}:build", "execute": f"{tag}:{name}:execute"}
        try:
            if traced:
                self.sc.setJobGroup(groups["build"], name)
            t0 = time.time()
            df = self.queries[name](self.spark, self.cfg["sf_dir"])
            t1 = time.time()
            if traced:
                self.sc.setJobGroup(groups["execute"], name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception:
            self.failed += 1
            self.failures.setdefault(name, traceback.format_exc(limit=3)[-2000:])
            return None
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"query": name, "latency_s": t2 - t0, "build_s": t1 - t0}
        if traced:
            acct, spans, _ = self.tracer
            qs = spans.add(name, parent, t0, t2, kind="query")
            parents = {
                "build": spans.add("build", qs, t0, t1, kind="build"),
                "execute": spans.add("execute", qs, t1, t2, kind="execute"),
            }
            rec["layers"] = acct.query(groups, t0, t2, spans, parents)
        return rec

    def run_pass(self, index: int, kind: str) -> list[dict]:
        self.drain(full=True)
        parent = None
        if self.tracer is not None:
            _, spans, run_span = self.tracer
            parent = spans.open(f"pass {index}", run_span, kind=kind)
        recs = []
        for name in workloads.order(self.names, self.cfg["seed"], index):
            rec = self.run_query(name, f"p{index}", parent)
            if rec is not None:
                recs.append(rec)
        if parent is not None:
            spans.close(parent)
        return recs

    def timed_window(self, seconds: float, first_index: int, kind: str) -> list[list[dict]]:
        """Whole passes until ``seconds`` have elapsed (at least
        MIN_PASSES, so that the median pass is a middle one)."""
        passes, start = [], time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - start < seconds:
            passes.append(self.run_pass(first_index + len(passes), kind))
        return passes

    def verify(self) -> dict[str, bool]:
        """Check every query once against its DuckDB oracle, outside every
        timed window. A query with no oracle is OK when it completes."""
        from dataframes_jl_spark.oracle import compare, duckdb_run

        parent = None
        if self.tracer is not None:
            _, spans, run_span = self.tracer
            parent = spans.open("verify", run_span, kind="verify")
        ok = {}
        for name in self.names:
            self.drain()
            self.attempted += 1
            t0 = time.time()
            try:
                df = self.queries[name](self.spark, self.cfg["sf_dir"])
                if name in self.oracles:
                    problems = compare(df, duckdb_run(self.oracles[name], self.cfg["sf_dir"]))
                    why = "oracle mismatch: " + "; ".join(map(str, problems[:3]))
                else:
                    df.write.format("noop").mode("overwrite").save()
                    problems = []
            except Exception:
                problems = why = traceback.format_exc(limit=3)[-2000:]
            ok[name] = not problems
            if problems:
                self.failed += 1
                self.failures.setdefault(name, why)
            if parent is not None:
                spans.add(name, parent, t0, time.time(), kind="verify", ok=ok[name])
        if parent is not None:
            spans.close(parent)
        return ok


def pass_summary(recs: list[dict]) -> dict:
    return {
        "pass_s": sum(r["latency_s"] for r in recs),
        "build_s": sum(r["build_s"] for r in recs),
        "latencies": [r["latency_s"] for r in recs],
    }


def layer_metrics(passes: list[tuple[list[dict], dict]], cores: int) -> dict:
    """Per-layer metrics of the traced passes: each is summed over one
    pass (peaks are maxima), then the median over passes is taken.
    ``passes`` holds each pass's query records and its pass-level
    figures (UDF profiler time, peak Python worker RSS)."""
    per_pass = []
    for recs, extra in passes:
        s = {k: sum(r["layers"][k] for r in recs) for k in COUNTERS}
        # "or 1.0": a pass in which every query failed has no latency
        lat = sum(r["latency_s"] for r in recs) or 1.0
        build = sum(r["build_s"] for r in recs)
        tasks = s["tasks"] or 1.0
        per_pass.append({
            "queries.build_s": build,
            "queries.build_jobs": s["build_jobs"],
            "queries.build_share": build / lat,
            "spark.jobs": s["jobs"],
            "spark.stages": s["stages"],
            "spark.tasks": s["tasks"],
            "spark.failed_tasks": s["failed_tasks"],
            "spark.empty_task_frac": s["empty_tasks"] / tasks,
            "driver.gap_s": s["gap_s"],
            "executor.run_s": s["run_s"],
            "executor.cpu_s": s["cpu_s"],
            "executor.gc_s": s["gc_s"],
            "executor.busy_frac": s["run_s"] / (lat * cores),
            "io.scan_s": s["scan_s"],
            "io.bytes_read": s["bytes_read"],
            "io.files_read": s["files_read"],
            "io.rows_read": s["rows_read"],
            "io.bytes_written": s["bytes_written"],
            "io.files_written": s["files_written"],
            "io.write_s": s["write_s"],
            "ops.exchanges": s["exchanges"],
            "ops.shuffle_write_bytes": s["shuffle_write_bytes"],
            "ops.shuffle_read_bytes": s["shuffle_read_bytes"],
            "ops.shuffle_fetch_wait_s": s["fetch_wait_s"],
            "ops.broadcast_build_s": s["broadcast_build_s"],
            "ops.broadcast_collect_s": s["broadcast_collect_s"],
            "ops.spill_bytes": s["spill_bytes"],
            "core.cache.scans": s["cache_scans"],
            "core.cache.peak_bytes": max((r["layers"]["cache_bytes"] for r in recs), default=0.0),
            "core.cache.blocks": s["cache_blocks"],
            "core.partition.repartitions": s["rr_repartitions"],
            "pyworker.bytes_to": s["py_bytes_to"],
            "pyworker.bytes_from": s["py_bytes_from"],
            "pyworker.rows_out": s["py_rows_out"],
            "pyworker.stage_run_s": s["py_stage_run_s"],
            **extra,
        })
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def plan_features(passes: list[tuple[list[dict], dict]], rule: str) -> tuple[dict, list[str]]:
    """Each query's plan features from the traced passes, and every
    breach of the workload's plan rule."""
    features, breaches = {}, []
    for recs, _ in passes:
        for r in recs:
            lay = r["layers"]
            f = {
                "python_nodes": int(lay["python_nodes"]),
                "cache_scans": int(lay["cache_scans"]),
                "exchanges": int(lay["exchanges"]),
                "broadcasts": int(lay["broadcasts"]),
                "build_jobs": int(lay["build_jobs"]),
            }
            features.setdefault(r["query"], f)
            why = workloads.rule_violation(rule, f["python_nodes"])
            if why and f"{r['query']}: {why}" not in breaches:
                breaches.append(f"{r['query']}: {why}")
    return features, breaches


def main(cfg_path: str, out_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    from dataframes_jl_spark.queries import ORACLES, QUERIES
    from dataframes_jl_spark.session import get_spark

    t_import = time.time()
    cores, tmp = cfg["cores"], cfg["tmp_dir"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    spark = get_spark(
        app_name=f"perfbench-{cfg['workload']}", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_start = time.time()
    sc = spark.sparkContext
    worker_pids = sc.parallelize(range(cores), cores).mapPartitions(_pid_of_task).collect()
    t_prefork = time.time()
    client = Client(spark, cfg, QUERIES, ORACLES)
    warm = client.run_pass(0, "warmup")
    t_warm = time.time()
    result = {
        "setup": {
            "process_start": T_PROCESS,
            "import_s": t_import - T_PROCESS,
            "start_s": t_start - t_import,
            "prefork_s": t_prefork - t_start,
            "warmup_s": t_warm - t_prefork,
            "warm_end": t_warm,
            "python_workers": len(set(worker_pids)),
            "warmup_latencies": {r["query"]: r["latency_s"] for r in warm},
        },
    }
    try:
        run_timed(client, cfg, result)
        result["failures"] = client.failures
        result["attempted"] = client.attempted
        result["failed"] = client.failed
    finally:
        with open(out_path, "w") as f:
            json.dump(result, f)
        spark.stop()
    return 0


def run_timed(client: Client, cfg: dict, result: dict) -> None:
    """The oracle check, then the timed window. The check runs after
    set-up and outside every timed window; running it before the timed
    passes lets its pass finish warming the engine up. In a traced run
    the window alternates untraced and traced passes, so that the tracing
    overhead (traced minus untraced pass_s) is not confounded with the
    engine still warming up."""
    if cfg["trace"]:
        spans = Spans()
        run_span = spans.open("run", None, start=T_PROCESS, kind="run",
                              workload=cfg["workload"], seed=cfg["seed"])
        spans.add("setup", run_span, T_PROCESS, result["setup"]["warm_end"], kind="setup")
        client.tracer = (SparkAccounting(client.spark), spans, run_span)
    t = time.perf_counter()
    result["verified"] = client.verify()
    result["verify_s"] = time.perf_counter() - t
    if not cfg["trace"]:
        passes = client.timed_window(cfg["seconds"], 1, "timed")
    else:
        passes, traced = traced_window(client, cfg)
        result["traced_passes"] = [pass_summary(p) for p, _ in traced]
        layers = layer_metrics(traced, cfg["cores"])
        layers["session.driver_peak_rss_mb"] = (
            peak_rss_mb(_jvm_pid(client.spark))
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        result["layers"] = layers
        result["plan_features"], result["rule_breaches"] = plan_features(
            traced, workloads.WORKLOADS[cfg["workload"]]["rule"]
        )
        spans.close(run_span)
        spans.dump(cfg["trace_path"])
    result["passes"] = [pass_summary(p) for p in passes]
    result["drain_s"] = client.drain_s


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def traced_window(client: Client, cfg: dict):
    """Untraced and traced passes in turn for ``seconds`` (at least two
    of each), in the order u t t u u t ..., so that a warm-up trend falls
    on both kinds alike. Job groups, Spark accounting reads and the UDF
    profiler are on in traced passes only."""
    spark, tracer = client.spark, client.tracer
    jvm_pid = _jvm_pid(spark)
    plain, traced, start = [], [], time.perf_counter()

    def untraced_pass():
        client.tracer = None
        plain.append(client.run_pass(1 + len(plain) + len(traced), "untraced"))

    def traced_pass():
        client.tracer = tracer
        spark.conf.set(UDF_PROFILER_CONF, "perf")
        tracer[0].skip_sql()
        recs = client.run_pass(1 + len(plain) + len(traced), "traced")
        perf = spark._profiler_collector._perf_profile_results
        extra = {
            "pyworker.udf_s": sum(st.total_tt for st in perf.values()),
            "pyworker.peak_rss_mb": max(
                [peak_rss_mb(p) for p in python_workers(jvm_pid)], default=0.0
            ),
        }
        spark.profile.clear(type="perf")
        spark.conf.unset(UDF_PROFILER_CONF)
        traced.append((recs, extra))

    while len(traced) < 2 or time.perf_counter() - start < cfg["seconds"]:
        pair = (untraced_pass, traced_pass) if len(traced) % 2 == 0 else (traced_pass, untraced_pass)
        for run in pair:
            run()
    client.tracer = tracer
    return plain, traced


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
