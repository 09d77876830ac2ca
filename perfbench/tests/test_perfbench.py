"""Self-tests of the benchmark: parser, fingerprint, generator, contract.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, layers, procstat, run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark_with_log(tmp_path_factory):
    from s2geometry_spark.plans.session import build_session

    log_dir = str(tmp_path_factory.mktemp("events"))
    spark = build_session(
        app_name="perfbench-test", cores=2,
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false"},
    )
    yield spark, log_dir
    spark.stop()


def test_parser_maps_tagged_query_to_its_stages(spark_with_log):
    from pyspark.sql import functions as F

    from perfbench.workloads import fingerprint

    spark, log_dir = spark_with_log
    tr = Tracer(spark.sparkContext, "t", enabled=True)
    tr.iteration = 7
    with tr.span("iteration", "bench"):
        with tr.span("action:tiny", "tiny"):
            df = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 3).alias("k")).count()
            rows, *_ = fingerprint(df)
            joined = spark.range(0, 100, 1, 2).join(spark.range(0, 50, 1, 2), "id")
            joined_rows, *_ = fingerprint(joined)
    assert rows == 3 and joined_rows == 50
    untagged = spark.range(0, 10).count()  # a job outside every span
    assert untagged == 10
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    spark.stop()  # flushes and closes the event log

    log = eventlog.parse(eventlog.event_files(log_dir))
    tagged = log.select(lambda g: g.endswith("|tiny"))
    assert tagged and all(g.split("|")[:2] == ["t", "7"] for g in {s.group for s in tagged})
    m = eventlog.engine_metrics(log, tagged, (tr.spans[0]["start"], tr.spans[0]["end"]))
    assert m["tasks"] >= 4 and m["stages"] == len(tagged)
    assert m["shuffle.write_bytes"] > 0 and m["exec.run_s"] >= 0
    assert 0 <= m["driver_only_s"] <= tr.spans[0]["end"] - tr.spans[0]["start"]
    assert log.join_rows(tagged) == 50 and log.join_rows(tagged, "id#") == 50
    assert log.join_rows(tagged, "no_such_key#") == 0
    assert sum(1 for g in log.jobs.values() if g and g.endswith("|tiny")) >= 1
    assert any(g is None for g in log.jobs.values())  # the untagged job


def test_fingerprint_is_bitwise_and_order_free():
    from s2geometry_spark.plans.session import build_session

    from perfbench.workloads import fingerprint

    spark = build_session(app_name="perfbench-test", cores=2)
    try:
        x = np.linspace(-1.0, 1.0, 50)
        pdf = pd.DataFrame({"k": np.arange(50, dtype=np.int64), "x": x})
        base = fingerprint(spark.createDataFrame(pdf))
        shuffled = fingerprint(spark.createDataFrame(pdf.sample(frac=1.0, random_state=3)))
        assert shuffled == base
        bumped = pdf.copy()
        bumped.loc[17, "x"] = np.nextafter(x[17], 2.0)  # one ULP up
        assert fingerprint(spark.createDataFrame(bumped)) != base
        assert base[0] == 50 and base[3:] == base[:3]  # no slice: slice == all
    finally:
        spark.stop()


def test_seeds_give_different_inputs_and_repeat():
    a, b = gen.documents(1, 50, 5, 5), gen.documents(2, 50, 5, 5)
    assert not a.equals(b)
    assert a.equals(gen.documents(1, 50, 5, 5))
    p1, p2 = gen.points_np(1, 100), gen.points_np(2, 100)
    assert not np.array_equal(p1[0], p2[0])
    assert np.array_equal(p1[0], gen.points_np(1, 100)[0])
    assert set(gen.region_keys(1)).isdisjoint(gen.region_keys(2))
    assert gen.documents(1, 50, 5, 7)["text"].value_counts().max() == 7  # hot block


def test_benchmark_json_names_every_workload_and_metric():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in bench["workloads"]:
        assert w["why"] and "\n" not in w["why"]
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert set(e2e) == {"setup_s", "rows_per_s", "iter_s", "cpu_s"}
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per_layer == {k: v[0] for k, v in layers.LAYER_MAP.items()}
    for name, (_unit, layer, moves) in layers.LAYER_MAP.items():
        assert layer, name
        for target, workloads in moves.items():
            # first_iter_s is reported on the detail line, not gated
            assert target in e2e or target == "first_iter_s", (name, target)
            assert set(workloads) <= set(WORKLOADS), (name, workloads)


def test_proc_readers_see_this_process():
    before = procstat.tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert procstat.tree_cpu_s() > before
    assert os.getpid() in procstat.tree_pids()
    peak = procstat.PeakRss()
    peak.sample()
    assert peak.parts["driver"] > 1.0 and peak.session_mb >= peak.parts["driver"]


def test_interval_union_and_tail():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_s([]) == 0
    t = run.tail(list(range(1, 31)))
    assert t["value"] == 20 and t["n"] == 30  # ten samples above it
