"""Detector protocol, SQL UDF registration, and partitioned-sink tests."""
from __future__ import annotations

import shutil
import tempfile

import pytest

from beymani_spark.functions.seasonal import register_sql_udfs
from beymani_spark.plans.detectors import (
    Detector,
    IsolationForestDetector,
    MahalanobisDetector,
    ZScoreDetector,
)
from beymani_spark.sources import load_table
from beymani_spark.sources.sinks import read_pruned, write_partitioned


def test_detector_protocol_fit_score_roundtrip(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    det = ZScoreDetector(keys=["event_type"], values=["value"], threshold=3.0)
    assert isinstance(det, Detector)
    model = det.fit(ev)
    # model is an ordinary DataFrame: persist + reload like any table
    mpath = str(tmp_path / "model")
    model.write.parquet(mpath)
    reloaded = spark.read.parquet(mpath)
    scored = det.score(ev, reloaded)
    assert {"score", "label"} <= set(scored.columns)
    direct = det.score(ev, model)
    assert scored.filter("label = 'O'").count() == direct.filter("label = 'O'").count()


def test_detector_protocol_isolation_forest(spark, tmp_path):
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    det = IsolationForestDetector(
        keys=["l_returnflag"], values=["l_quantity", "l_extendedprice"],
        num_trees=10, subsample=64,
    )
    assert isinstance(det, Detector)
    model = det.fit(li)
    out = det.score(li, model)
    assert out.count() == li.count()
    # the model's frame persists like any table and scores once reloaded
    mpath = str(tmp_path / "model")
    model.frame.write.parquet(mpath)
    reloaded = det.score(li, spark.read.parquet(mpath))
    assert sorted(reloaded.collect()) == sorted(out.collect())


def test_detector_mahalanobis(spark):
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    det = MahalanobisDetector(keys=["l_returnflag"], values=["l_quantity", "l_extendedprice"])
    out = det.score(li, det.fit(li))
    assert out.filter("score is not null").count() == li.count()


def test_sql_udf_cycle_parity(spark):
    from pyspark.sql import functions as F

    from beymani_spark.functions.seasonal import cycle_index

    register_sql_udfs(spark)
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.createOrReplaceTempView("ev_udf_t")
    got = spark.sql(
        "select event_id, cycle_hourOfDay(ts) h, cycle_weekDayOrWeekendOfWeek(ts) w, "
        "cycle_nightDayHourOfDay(ts) nd, cycle_monthOfYear(ts) m, "
        "cycle_dayOfMonth(ts) d from ev_udf_t"
    ).toPandas()
    exp = ev.select(
        "event_id",
        cycle_index("ts", "hourOfDay").alias("h"),
        cycle_index("ts", "weekDayOrWeekendOfWeek").alias("w"),
        cycle_index("ts", "nightDayHourOfDay").alias("nd"),
        cycle_index("ts", "monthOfYear").alias("m"),
        cycle_index("ts", "dayOfMonth").alias("d"),
    ).toPandas()
    got = got.sort_values("event_id", ignore_index=True)
    exp = exp.sort_values("event_id", ignore_index=True)
    for c in ("h", "w", "nd", "m", "d"):
        assert (got[c] == exp[c]).all(), f"cycle {c} diverges udf vs column"
    # band sanity for the salean.conf cycle: hour 5 = night, hour 6 = day,
    # hour 21 = day, hour 22 = night
    nd_of = dict(
        zip(
            exp.sort_values("event_id").event_id,
            exp.sort_values("event_id").nd,
        )
    )
    hours = {
        r["event_id"]: r["hr"]
        for r in ev.select(
            "event_id", F.hour("ts").alias("hr")
        ).collect()
    }
    for eid, hr in hours.items():
        assert nd_of[eid] == (1 if 6 <= hr < 22 else 0)


def test_partitioned_write_prunes(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "part_events")
    write_partitioned(ev, path, ["event_type"])
    back = read_pruned(spark, path).filter("event_type = 'click'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan[:500]
    assert back.count() == ev.filter("event_type = 'click'").count()


def test_cli_run_and_list(spark, sf_dir, tmp_path):
    """python -m beymani_spark: list enumerates the registry, run writes a
    query result (parquet round-trip checked) and prints without --out."""
    import io
    from contextlib import redirect_stdout

    from beymani_spark.cli import main
    from beymani_spark.plans import QUERIES

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["list"]) == 0
    lines = buf.getvalue().strip().splitlines()
    assert len(lines) == len(QUERIES)
    assert any(line.startswith("pricing_summary\toracle") for line in lines)

    out = str(tmp_path / "ps_out")
    assert main(
        ["run", "pricing_summary", "--sf-dir", sf_dir, "--out", out]
    ) == 0
    written = spark.read.parquet(out)
    assert written.count() == QUERIES["pricing_summary"].builder(spark, sf_dir).count()
    assert set(written.columns) == set(
        QUERIES["pricing_summary"].builder(spark, sf_dir).columns
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["run", "quartiles", "--sf-dir", sf_dir, "--show", "3"]) == 0
    assert "q1" in buf.getvalue()

    assert main(["run", "not_a_query"]) == 2
