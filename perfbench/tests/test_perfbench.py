"""Tests of the benchmark's own logic: seeded generation, span arithmetic,
event-log attribution, the output checksum and the result-line rules.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import itertools
import json
import math
import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, report, tracing, workloads  # noqa: E402


def _generate_all(seed: int, out: str) -> None:
    gen.sf_dir(workloads.CLI_SF, seed, f"{out}/sf")
    gen.images(workloads.DENSE_IMAGES, seed, f"{out}/images")
    gen.stations(workloads.DENSE_STATIONS, seed, f"{out}/stations.parquet")
    gen.polygons(workloads.DENSE_POLYGONS, seed, f"{out}/polygons.parquet")
    gen.payloads(workloads.BAND_PAYLOADS, seed, f"{out}/payloads")


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate_all(7, f"{tmp_path}/a")
    _generate_all(7, f"{tmp_path}/b")
    _generate_all(8, f"{tmp_path}/c")
    names = _files(f"{tmp_path}/a")
    assert names == _files(f"{tmp_path}/b") == _files(f"{tmp_path}/c")
    assert len(names) >= 20
    for n in names:
        assert filecmp.cmp(f"{tmp_path}/a/{n}", f"{tmp_path}/b/{n}", shallow=False), n
    assert any(not filecmp.cmp(f"{tmp_path}/a/{n}", f"{tmp_path}/c/{n}", shallow=False)
               for n in names)


def test_generator_shares_follow_parameters(tmp_path):
    img = gen.images(workloads.DENSE_IMAGES, 3, f"{tmp_path}/images")
    p = workloads.DENSE_IMAGES
    lon, lat = img["lon"], img["lat"]
    nan = math.isnan
    assert abs(sum(map(nan, lon)) / p.n - (p.null_share + p.nan_share)) < 0.005
    hot = [(abs(x - gen.HOT_LON) <= gen.HOT_SPAN / 2) and (abs(y - gen.HOT_LAT) <= gen.HOT_SPAN / 2)
           for x, y in zip(lon, lat)]
    assert abs(sum(hot) / p.n - p.hot_share) < 0.02
    sf = gen.sf_dir(workloads.CLI_SF, 3, f"{tmp_path}/sf")
    world = sum(int(k) % 10 >= 8 for k in sf["o_orderkey"]) / workloads.CLI_SF.n_orders
    assert abs(world - workloads.CLI_SF.world_share) < 0.05  # ~3 sd at 500 keys
    st = gen.stations(workloads.DENSE_STATIONS, 3, f"{tmp_path}/st.parquet")
    coords = list(zip(st["st_lon"], st["st_lat"]))
    assert len(coords) - len(set(coords)) >= 1  # clones give exact ties
    assert sorted(st["station_id"]) == list(range(1, workloads.DENSE_STATIONS.n + 1))


def _span(i, name, parent, t0, t1):
    return {"id": i, "name": name, "parent": parent, "t0": t0, "t1": t1}


def test_self_time_subtracts_merged_clipped_children():
    spans = [
        _span(0, "root", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 5.0),    # overlaps a: covered 1..5 once
        _span(3, "c", 0, 9.0, 12.0),   # sticks out of root: clipped to 9..10
        _span(4, "leaf", 1, 2.0, 3.0),
        _span(5, "a", None, 20.0, 21.5),  # same name elsewhere: times add
    ]
    self_s = tracing.self_times(spans)
    assert self_s["root"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_s["a"] == pytest.approx((3.0 - 1.0) + 1.5)
    assert self_s["b"] == pytest.approx(2.0)
    assert self_s["c"] == pytest.approx(3.0)
    assert self_s["leaf"] == pytest.approx(1.0)
    total = tracing.total_times(spans)
    assert total["a"] == pytest.approx(4.5)


def test_tracer_wraps_and_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = tracing.Tracer()
    tr.wrap(Mod, "f", lambda x: f"f.{x}", capture=True)
    assert Mod.f(1) == 2
    assert [s["name"] for s in tr.spans] == ["f.1"]
    assert tr.captured == {"f.1": [2]}
    tr.restore()
    Mod.f(2)
    assert len(tr.spans) == 1


def test_spark_counters_attribute_by_job_group():
    def task(stage, run_ms, failed=False, py_ms=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 1, "Memory Bytes Spilled": 5,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}},
                "Task Info": {"Accumulables": [
                    {"Name": "time to run Python workers", "Update": py_ms}]}}

    plan = {"nodeName": "BroadcastExchange", "metrics": [
        {"name": "data size", "accumulatorId": 42}], "children": []}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "span-0", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [9],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        task(1, 1000, py_ms=500), task(1, 3000), task(1, 1000), task(2, 400, failed=True),
        task(9, 99_000),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[42, 1024], [7, 5]]},
    ]
    c = tracing.spark_counters(events, {"span-0"})
    assert c["tasks"] == 4 and c["task_failures"] == 1
    assert c["executor_run_s"] == pytest.approx(5.4)
    assert c["executor_cpu_s"] == pytest.approx(5.4)
    assert c["python_total_s"] == pytest.approx(0.5)
    assert c["broadcast_bytes"] == 1024
    assert c["shuffle_write_bytes"] == 28 and c["spill_bytes"] == 20
    assert c["task_max_over_p50"] == pytest.approx(3.0)  # stage 1 dominates
    assert tracing.spark_counters(events, {"span-1"})["tasks"] == 1
    assert tracing.spark_counters(events)["tasks"] == 5


def test_checksum_is_order_independent():
    rnd = random.Random(5)
    hashes = [rnd.randrange(-2**63, 2**63) for _ in range(200)] + [17, 17]
    ref = report.combine(hashes)
    for _ in range(5):
        rnd.shuffle(hashes)
        assert report.combine(hashes) == ref
    assert report.combine(hashes[:-1]) != ref
    assert report.combine(hashes[:-1] + [18]) != ref


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("PYTHONPATH", ROOT)
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
    yield s
    s.stop()


def test_spark_checksum_matches_python_twin_in_any_order(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"r{i % 7}", float(i) / 3, None if i % 5 else [i, i + 1]) for i in range(300)],
        "a long, b string, c double, d array<int>")
    ref = report.checksum(df)
    shuffled = df.repartition(3).orderBy(F.rand(1))
    assert report.checksum(shuffled) == ref
    assert report.checksum(df.union(df.limit(1))) != ref
    hashes = [r[0] for r in df.select(F.xxhash64(*df.columns)).collect()]
    assert report.combine(hashes) == ref


def test_observed_checksum_covers_every_row_not_just_the_sample(spark):
    df = spark.range(1000).selectExpr("id AS image_id", "id * 2 AS v")
    ck, rows = report.checksum_and_sample(df, [3, 500, 999])
    assert ck == report.checksum(df)
    assert sorted(r["image_id"] for r in rows) == [3, 500, 999]


SPEC = report.load_spec()


@pytest.mark.parametrize("name", ["", "-x", "_x", "a b", "a/b", "x" * 65, "é", "a:b"])
def test_invalid_metric_names_are_rejected(name):
    expected = [{"name": name, "unit": "s"}]
    with pytest.raises(ValueError, match="invalid metric name"):
        report.check_metrics({name: (1.0, "s")}, expected)


def test_metric_set_units_and_values_are_enforced():
    exp = [{"name": "a.b_s", "unit": "s"}, {"name": "n", "unit": "count"}]
    report.check_metrics({"a.b_s": (0.5, "s"), "n": (3, "count")}, exp)
    bad = [
        {"a.b_s": (0.5, "ms"), "n": (3, "count")},          # wrong unit
        {"a.b_s": (float("nan"), "s"), "n": (3, "count")},  # not finite
        {"a.b_s": (0.5, "s")},                              # missing
        {"a.b_s": (0.5, "s"), "n": (3, "count"), "m": (1, "s")},  # extra
        {"a.b_s": (0.5, "s p"), "n": (3, "count")},         # invalid unit
    ]
    for m in bad:
        with pytest.raises(ValueError):
            report.check_metrics(m, exp)
    line = json.loads(report.result_line(True, 3, 0, {"a.b_s": (0.5, "s")}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_benchmark_json_is_well_formed():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    for n in names:
        assert report.NAME_RE.fullmatch(n), n
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in itertools.chain(SPEC["end_to_end"], SPEC["per_layer"]):
        assert report.UNIT_RE.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    for w in workloads.WORKLOADS.values():
        # a workload's required layer metrics are a proper subset of the
        # spec: the rest read 0 on it as its bypass prediction
        assert w.layer_metrics < per_layer, w.name
    # and every per-layer metric is measured on some workload
    assert set().union(*(w.layer_metrics for w in workloads.WORKLOADS.values())) == per_layer
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert 1 <= SPEC["run_seconds"] <= 60 and SPEC["paths"] == ["perfbench"]
