"""A deliberately corrupted query result must show up as failed
operations (and ``correct: false``), end to end through a real session."""

import time

import pytest
from pyspark.sql import functions as F

import etl_pipeline_sam_gov_spark as eng
from perfbench import run as bench_run
from perfbench import workloads


@pytest.fixture(scope="module")
def tmp_root(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("perfbench"))
    bench_run.configure_env(root)
    yield root
    bench_run.stop_spark()


def _mix(tmp_root, monkeypatch):
    monkeypatch.setattr(workloads, "SF", 0.001)
    run = workloads.Run(
        workload="relational_mix",
        seed=3,
        seconds=0.01,
        trace=False,
        tmp=tmp_root,
        cpus=bench_run.CPUS,
        t_process=time.perf_counter(),
    )
    mix = workloads.Mix(run, {"q1_pricing_summary": "relational", "agg_rollup": "aggregates"})
    mix.make_inputs()
    t0 = time.perf_counter()
    run.start_session()
    mix.setup()
    run.setup_s.append(time.perf_counter() - t0)
    return run, mix


def _measure(run, mix):
    mix.check()
    mix.timed()
    return workloads.summarize(run, mix)


def test_clean_mix_has_no_failures(tmp_root, monkeypatch):
    run, mix = _mix(tmp_root, monkeypatch)
    res = _measure(run, mix)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == 2


def test_corrupted_result_counts_as_failed(tmp_root, monkeypatch):
    real = eng.QUERIES["q1_pricing_summary"]

    def corrupted(spark, sf_dir):
        df = real(spark, sf_dir)
        col = next(c for c, t in df.dtypes if t in ("double", "bigint"))
        return df.withColumn(col, F.col(col) + 1)

    monkeypatch.setitem(eng.QUERIES, "q1_pricing_summary", corrupted)
    run, mix = _mix(tmp_root, monkeypatch)
    res = _measure(run, mix)
    assert "q1_pricing_summary" in mix.bad and "agg_rollup" not in mix.bad
    assert not res["correct"]
    assert res["failed"] == 1 and res["attempted"] == 2
