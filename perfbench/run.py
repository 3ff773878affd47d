#!/usr/bin/env python3
"""The sparkframes benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload relational_sf0.1 --seed 1 --seconds 10 --trace 0

One run generates (once per checkout) and checks the sf0.1 input tables,
then starts one engine process. It sets the engine up from a fresh
interpreter (imports, ``get_spark``, a Python worker prefork and one
untimed warm-up pass over the workload), checks every query once
against its DuckDB oracle, runs whole passes of the workload for
``--seconds`` (at least three; a closed loop of registry queries in the
order the seed fixes), and stops. ``setup_s`` runs from the spawn of
that process to the end of its warm-up pass; input generation and the
oracle check fall outside it and outside every latency.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, read from Spark's accounting in traced passes that
follow untraced ones in the same process. The line before it is the
run's record: provenance, host drift, per-query samples and failures.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(HERE, "engine.py")
sys.path.insert(0, HERE)

import data  # noqa: E402
import workloads  # noqa: E402

# A run must end well inside three minutes.
RUN_DEADLINE_S = 170.0


def host_state() -> dict:
    """Load average, CPU time stolen by the hypervisor so far, and a fixed
    pure-Python loop timed five times (best and median seconds): a
    host-speed probe taken at the start and the end of every run, so that
    a whole-run shift shows as host drift."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(500_000))
        times.append(time.perf_counter() - t)
    with open("/proc/stat") as f:
        steal_ticks = int(f.readline().split()[8])
    return {
        "loadavg": list(os.getloadavg()),
        "cpu_steal_s": steal_ticks / os.sysconf("SC_CLK_TCK"),
        "calibration_best_s": min(times),
        "calibration_median_s": statistics.median(times),
    }


def provenance(cores: int) -> dict:
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = out.stdout.strip() or None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "dataframes_jl_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(base, name)
            digest.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                digest.update(f.read())
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    import pyarrow
    import pyspark

    return {
        "commit": commit,
        "source_sha256": digest.hexdigest(),
        "master": f"local[{cores}]",
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": (java.stderr.splitlines() or ["?"])[0],
        "python": sys.version.split()[0],
    }


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def reap(sid: int) -> None:
    """Stop every process left in session ``sid`` (JVM, Python daemon and
    workers) and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 10
        while True:
            pids = _session_pids(sid)
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            if time.time() > deadline:
                break
            time.sleep(0.1)
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def spawn(cfg: dict, tmp: str, deadline: float) -> tuple[dict, float]:
    """Run one engine process; return its result and its spawn time."""
    os.makedirs(os.path.join(tmp, "local"))
    cfg = dict(cfg, tmp_dir=tmp)
    cfg_path, out_path = os.path.join(tmp, "config.json"), os.path.join(tmp, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    path = os.environ.get("PYTHONPATH")
    env = dict(
        os.environ,
        # the Python workers import the engine's kernels from the checkout
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
    )
    with open(os.path.join(tmp, "engine.log"), "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, ENGINE, cfg_path, out_path],
            cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out_path):
        with open(os.path.join(tmp, "engine.log")) as f:
            tail = f.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"engine process {why}:\n{tail}")
    with open(out_path) as f:
        return json.load(f), t_spawn


def summarize(trace: bool, res: dict) -> dict:
    """The run's metrics from the engine process's result. A query is OK
    when it completed every pass and matched its oracle."""
    ok = [n for n, good in res["verified"].items() if good and n not in res["failures"]]
    latencies = [x for p in res["passes"] for x in p["latencies"]]
    pass_s = statistics.median(p["pass_s"] for p in res["passes"])
    out = {"ok": ok, "ok_frac": len(ok) / len(res["verified"]), "samples": len(latencies)}
    if not trace:
        out["metrics"] = {
            "setup_s": (res["setup"]["setup_s"], "s"),
            "pass_s": (pass_s, "s"),
            "query_p50_s": (statistics.median(latencies) if latencies else 0.0, "s"),
            "ok_frac": (out["ok_frac"], "frac"),
        }
        return out
    layers = dict(res["layers"])
    for phase in ("import_s", "start_s", "prefork_s", "warmup_s"):
        layers[f"session.{phase}"] = res["setup"][phase]
    traced = statistics.median(p["pass_s"] for p in res["traced_passes"])
    layers["trace.overhead_s"] = traced - pass_s
    layers["plan.rule_breaches"] = float(len(res["rule_breaches"]))
    out["metrics"] = {k: (layers[k], unit) for k, (unit, _) in PER_LAYER.items()}
    return out


# Per-layer metrics of the traced run: name -> (unit, better). Each is
# summed over one traced pass (peaks are maxima; session.* come from the
# run's set-up), then the median over traced passes is taken. The comment
# above each group names the end-to-end metric it should move, and where.
PER_LAYER = {
    # session -> setup_s on every workload
    "session.import_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.prefork_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "session.driver_peak_rss_mb": ("MB", "lower"),
    # queries (work done while the registry call builds the DataFrame) ->
    # query_p50_s on relational (each cheap query runs a job while
    # building) and pass_s there (q_kaplan_meier runs 16); small on pylanes
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.build_share": ("frac", "lower"),
    # scheduler -> query_p50_s on relational
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.empty_task_frac": ("frac", "lower"),
    "driver.gap_s": ("s", "lower"),
    # executor -> pass_s where tasks do the work (pylanes)
    "executor.run_s": ("s", "lower"),
    "executor.cpu_s": ("s", "lower"),
    "executor.gc_s": ("s", "lower"),
    "executor.busy_frac": ("frac", "higher"),
    # io read -> pass_s on both; io write -> query_p50_s and pass_s on
    # relational (q_csv_roundtrip)
    "io.scan_s": ("s", "lower"),
    "io.bytes_read": ("bytes", "lower"),
    "io.files_read": ("count", "lower"),
    "io.rows_read": ("count", "lower"),
    "io.bytes_written": ("bytes", "lower"),
    "io.files_written": ("count", "lower"),
    "io.write_s": ("s", "lower"),
    # ops: shuffle and spill -> pass_s; broadcast -> pass_s on relational
    # (q05 broadcasts five times) and query_p50_s there (two cheap joins
    # broadcast once)
    "ops.exchanges": ("count", "lower"),
    "ops.shuffle_write_bytes": ("bytes", "lower"),
    "ops.shuffle_read_bytes": ("bytes", "lower"),
    "ops.shuffle_fetch_wait_s": ("s", "lower"),
    "ops.broadcast_build_s": ("s", "lower"),
    "ops.broadcast_collect_s": ("s", "lower"),
    "ops.spill_bytes": ("bytes", "lower"),
    # core.cache -> pass_s on relational (q_hodges_lehmann and
    # q_kaplan_meier persist); about 0 on pylanes
    "core.cache.scans": ("count", "lower"),
    "core.cache.peak_bytes": ("bytes", "lower"),
    "core.cache.blocks": ("count", "lower"),
    # core.partition (round-robin exchanges that spread() adds) ->
    # query_p50_s on pylanes
    "core.partition.repartitions": ("count", "lower"),
    # pyworker -> pass_s on pylanes; rows_out must be 0 on relational
    "pyworker.bytes_to": ("bytes", "lower"),
    "pyworker.bytes_from": ("bytes", "lower"),
    "pyworker.rows_out": ("count", "lower"),
    "pyworker.stage_run_s": ("s", "lower"),
    "pyworker.udf_s": ("s", "lower"),
    "pyworker.peak_rss_mb": ("MB", "lower"),
    # the benchmark's own: traced minus untraced pass_s, and queries whose
    # plan breaks the workload's rule (a breach makes the run incorrect)
    "trace.overhead_s": ("s", "lower"),
    "plan.rule_breaches": ("count", "lower"),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dataframes_jl_spark", "queries.py")):
        print(f"error: no engine source (dataframes_jl_spark/) under {ROOT}", file=sys.stderr)
        return 2
    started = time.time()
    deadline = started + RUN_DEADLINE_S
    cores = min(4, len(os.sched_getaffinity(0)))
    os.makedirs(os.path.join(HERE, ".tmp"), exist_ok=True)
    run_tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".tmp"))
    try:
        sf_dir = data.ensure(os.path.join(HERE, ".cache"))
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "sf": 0.1, "cores": cores,
            "provenance": provenance(cores), "host_before": host_state(),
        }
        runs_dir = os.path.join(HERE, ".runs")
        os.makedirs(runs_dir, exist_ok=True)
        stem = f"{args.workload}-s{args.seed}-t{args.trace}-{int(started)}"
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "cores": cores, "sf_dir": sf_dir,
            "trace_path": os.path.join(runs_dir, f"{stem}.spans.json"),
        }
        res, t_spawn = spawn(cfg, os.path.join(run_tmp, "engine"), deadline)
        res["setup"]["setup_s"] = res["setup"]["warm_end"] - t_spawn
        summary = summarize(bool(args.trace), res)
        record.update(
            host_after=host_state(), setup=res["setup"], passes=res["passes"],
            failures=res["failures"], ok=summary["ok"], samples=summary["samples"],
            plan_features=res.get("plan_features"), rule_breaches=res.get("rule_breaches"),
            traced_passes=res.get("traced_passes"), verify_s=res.get("verify_s"),
            drain_s=res.get("drain_s"), wall_s=time.time() - started,
        )
        with open(os.path.join(runs_dir, f"{stem}.json"), "w") as f:
            json.dump(record, f)
    finally:
        shutil.rmtree(run_tmp, ignore_errors=True)
    correct = summary["ok_frac"] == 1.0 and not res.get("rule_breaches")
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in summary["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
