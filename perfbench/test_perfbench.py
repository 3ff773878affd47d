"""Tests of the benchmark itself: python -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import engine  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_seed_changes_order_not_multiset():
    for spec in workloads.WORKLOADS.values():
        qs = spec["queries"]
        a, b = workloads.order(qs, 1, 1), workloads.order(qs, 2, 1)
        assert a != b
        assert sorted(a) == sorted(b) == sorted(qs)
        assert workloads.order(qs, 1, 1) == a


def _fake_result(trace: bool) -> dict:
    passes = [{"pass_s": 2.0 + i, "build_s": 1.0, "latencies": [0.5, 1.5 + i]} for i in range(2)]
    res = {
        "setup": {"setup_s": 9.0, "import_s": 1.0, "start_s": 5.0, "prefork_s": 1.0, "warmup_s": 2.0},
        "passes": passes,
        "verified": {n: True for n in workloads.WORKLOADS["relational_sf0.1"]["queries"]},
        "failures": {},
    }
    if trace:
        res["traced_passes"] = passes
        res["rule_breaches"] = []
        res["layers"] = {
            k: 1.0 for k in run.PER_LAYER
            if not k.startswith(("session.import", "session.start", "session.prefork",
                                 "session.warmup", "trace.", "plan."))
        }
    return res


@pytest.mark.parametrize("trace", [False, True])
def test_output_names_every_metric_with_its_unit(trace):
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = run.summarize(trace, _fake_result(trace))["metrics"]
    assert {k: unit for k, (_, unit) in got.items()} == want
    assert all(isinstance(v, float) for v, _ in got.values())


def test_per_layer_spec_matches_benchmark_json():
    spec = {m["name"]: (m["unit"], m["better"]) for m in _spec()["per_layer"]}
    assert spec == run.PER_LAYER


def test_rule_breach_is_reported():
    lay = dict.fromkeys(("python_nodes", "cache_scans", "exchanges", "broadcasts", "build_jobs"), 0)
    recs = [{"query": "q01_pricing_summary", "layers": dict(lay, python_nodes=1)}]
    _, breaches = engine.plan_features([(recs, {})], "no_python")
    assert breaches and "q01_pricing_summary" in breaches[0]
    _, breaches = engine.plan_features([(recs, {})], "python")
    assert breaches == []


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from dataframes_jl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield spark
    spark.stop()


def test_tampered_result_lowers_ok_frac(spark):
    import data
    from pyspark.sql import functions as F

    from dataframes_jl_spark.queries import ORACLES, QUERIES

    cfg = {"workload": "relational_sf0.1", "seed": 1,
           "sf_dir": data.ensure(os.path.join(HERE, ".cache"))}

    def ok_frac(queries):
        client = engine.Client(spark, cfg, queries, ORACLES)
        client.names = ["q01_pricing_summary", "q05_local_supplier_volume"]
        res = _fake_result(False)
        res["verified"], res["failures"] = client.verify(), client.failures
        return run.summarize(False, res)["ok_frac"]

    assert ok_frac(QUERIES) == 1.0
    tampered = dict(QUERIES)
    tampered["q01_pricing_summary"] = lambda s, d: QUERIES["q01_pricing_summary"](s, d).withColumn(
        "count_order", F.col("count_order") + 1
    )
    assert ok_frac(tampered) == 0.5


def test_sql_executions_are_found_by_id_after_eviction():
    import tracing

    acct = tracing.SparkAccounting.__new__(tracing.SparkAccounting)
    acct.sql_last = -1
    listing = [{"id": i} for i in range(5, 10)]  # 0-4 already evicted

    def get(path):
        if path.startswith("/sql?"):
            return listing
        return {"id": int(path.split("/")[2].split("?")[0]), "status": "COMPLETED"}

    acct.get = get
    acct.skip_sql()
    listing[:] = [{"id": i} for i in range(7, 12)]  # two more evicted, two new
    assert [e["id"] for e in acct._new_sql()] == [10, 11]
    assert acct._new_sql() == []
