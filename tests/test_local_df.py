"""local_df (tables.py): driver-local row lists built through one
``pyarrow.Table`` must be value- and schema-identical to the plain
``createDataFrame(list, schema)`` path it replaces, and must always
plan as a LocalRelation (no Python-RDD stage on every action), whatever
the rows hold and whatever the session's Arrow and time-zone settings."""
import datetime

import pytest

from cube_builder_spark.tables import local_df


def _plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getName()


CASES = [
    ([(1, 2, 0.5), (2, None, None)], "a long, b long, c double"),
    ([("x", 1.0), ("y", 2.0)], "s string, v double"),
    ([(datetime.date(2020, 1, 1), 5)], "d date, n long"),
    ([(datetime.datetime(2020, 1, 1, 12, 30), 5)], "ts timestamp, n long"),
    ([(1, [1, 2, 3])], "i long, xs array<long>"),
    ([(None, "q")], "i long, s string"),
    ([(True, 2)], "b boolean, n int"),
    ([{"b": 2.0, "a": 1.0}, {"a": 3.0, "b": None}], "a double, b double"),
    ([], "a long, b string"),
]


@pytest.mark.parametrize("rows,schema", CASES)
def test_local_df_matches_list_path(spark, rows, schema):
    a = spark.createDataFrame(rows, schema)
    b = local_df(spark, rows, schema)
    assert a.schema == b.schema
    assert a.collect() == b.collect()
    assert "LocalRelation" in _plan_class(b)


def test_local_df_nan_falls_back_exactly(spark):
    """A real float NaN survives as NaN, not NULL, and the frame still
    plans as a LocalRelation: there is no separate NaN path."""
    rows = [(float("nan"), 1), (2.5, 2), (None, 3)]
    df = local_df(spark, rows, "x double, n long")
    got = df.collect()
    assert got[0].x != got[0].x  # NaN, not None
    assert got[1].x == 2.5
    assert got[2].x is None
    assert "LocalRelation" in _plan_class(df)


def test_local_df_nested_nan_falls_back(spark):
    """A NaN inside an array survives too, on the same path."""
    rows = [(1, [1.0, float("nan")])]
    df = local_df(spark, rows, "i long, xs array<double>")
    got = df.collect()
    assert got[0].xs[1] != got[0].xs[1]
    assert "LocalRelation" in _plan_class(df)


def test_local_df_empty(spark):
    df = local_df(spark, [], "a long, b string")
    assert df.collect() == []
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_local_df_dict_nan_stays_nan(spark):
    """Dict rows are read by field name, and a NaN in one is not NULL."""
    rows = [{"n": 1, "x": float("nan")}, {"n": 2, "x": None}]
    df = local_df(spark, rows, "x double, n long")
    got = df.collect()
    assert got[0].x != got[0].x and got[0].n == 1
    assert got[1].x is None and got[1].n == 2
    assert "LocalRelation" in _plan_class(df)


def test_local_df_local_relation_with_arrow_off(spark):
    """The plan does not depend on the pandas-Arrow session setting."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_df(spark, [(1, "a"), (2, None)], "i long, s string")
        assert "LocalRelation" in _plan_class(df)
        assert df.collect() == [(1, "a"), (2, None)]
    finally:
        spark.conf.set(key, old)


def test_local_df_naive_datetime_is_utc(spark):
    """A naive datetime is UTC wall time, not session-zone wall time."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Sao_Paulo")
    try:
        df = local_df(spark, [(datetime.datetime(2020, 1, 1, 12, 30),)],
                      "ts timestamp")
        utc = datetime.datetime(2020, 1, 1, 12, 30,
                                tzinfo=datetime.timezone.utc)
        assert (df.selectExpr("unix_micros(ts)").first()[0]
                == int(utc.timestamp()) * 1_000_000)
    finally:
        spark.conf.set(key, old)
