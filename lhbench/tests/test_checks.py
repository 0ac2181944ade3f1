"""Each correctness check can fail: altered query rows, a dropped CDC row."""

from __future__ import annotations

import dataclasses

from pyspark.sql import functions as F

from lhbench import cdc, env, run
from lhbench.querymix import QueryMix

ENTRY = "q6_forecast_revenue"  # one row, one numeric column


def _tampered(mix: QueryMix, from_call: int) -> None:
    """Make the entry add 1 to its first column from call ``from_call`` on."""
    spec = mix.specs[ENTRY]
    calls = []

    def fn(spark, sf_dir):
        df = spec.fn(spark, sf_dir)
        calls.append(1)
        if len(calls) < from_call:
            return df
        c = df.columns[0]
        return df.withColumn(c, F.col(c) + 1)

    mix.specs[ENTRY] = dataclasses.replace(spec, fn=fn)


def test_olap_timed_op_with_altered_row_fails(bench_spark):
    spark, _ = bench_spark
    mix = QueryMix(spark, env.data_dir(), (ENTRY,), 1, seed=1)
    _tampered(mix, from_call=2)
    mix.warm_up()
    assert mix.warm_errors == {}
    op = mix.run_op(0, ENTRY)
    assert not op.ok
    result = run._result({}, [op], [], units={})
    assert result["correct"] is False and result["failed"] == 1


def test_olap_altered_row_fails_the_oracle_at_warm_up(bench_spark):
    spark, _ = bench_spark
    mix = QueryMix(spark, env.data_dir(), (ENTRY,), 1, seed=1)
    _tampered(mix, from_call=1)
    mix.warm_up()
    assert ENTRY in mix.warm_errors
    assert not mix.run_op(0, ENTRY).ok


def test_olap_untampered_entry_passes(bench_spark):
    spark, _ = bench_spark
    mix = QueryMix(spark, env.data_dir(), (ENTRY,), 1, seed=1)
    mix.warm_up()
    assert mix.warm_errors == {} and mix.run_op(0, ENTRY).ok


def _cdc_run(spark, work, name):
    delivered = cdc.generate(5, 3, 40)
    r = cdc.CdcRun(spark, work / name, delivered, seed=5)
    for b in range(3):
        assert r.apply_batch(b).ok
    return r


def test_cdc_dropped_row_fails_the_final_check(bench_spark):
    spark, work = bench_spark
    r = _cdc_run(spark, work, "cdc_drop")
    victim = r.model.current(2)[0][0]
    r.table().delete(f"id = {victim} AND __is_current")
    r.finish(3)
    assert any("current view" in p for p in r.problems)
    assert any("history has" in p for p in r.problems)
    assert run._result({}, [], r.problems, units={})["correct"] is False


def test_cdc_untouched_table_matches_the_model(bench_spark):
    spark, work = bench_spark
    r = _cdc_run(spark, work, "cdc_ok")
    import random

    rng = random.Random(0)
    for kind in ("lookup", "range", "time_travel"):
        assert r.read_op(rng, kind).ok
    r.finish(3)
    assert r.problems == []
