"""The per-session parquet schema cache in ``sources/parquet.py``: a table's
schema is inferred (one Spark job) on its first load in a session, later
loads of the unchanged file launch no job, and a rewritten file or another
session infers again."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from metas_judiciarias_etl_spark import registry
from metas_judiciarias_etl_spark.sources import parquet
from metas_judiciarias_etl_spark.sources.parquet import load_table

_GROUPS = itertools.count()


def _jobs_during(spark, fn):
    """(fn's result, number of Spark jobs it launched), counted under a
    job group of its own."""
    sc = spark.sparkContext
    group = f"schema-cache-test-{next(_GROUPS)}"
    sc.setJobGroup(group, "schema cache test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _owner(path: str):
    return parquet._SCHEMAS[path][1]


def _forget(path: str) -> None:
    parquet._SCHEMAS.pop(path, None)


def test_second_q5_build_launches_no_job(spark, sf_small):
    registry.load_all()
    q5 = registry.QUERIES["q5_local_supplier_volume"]
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        _forget(f"{sf_small}/{t}.parquet")
    _, first = _jobs_during(spark, lambda: q5(spark, sf_small))
    _, second = _jobs_during(spark, lambda: q5(spark, sf_small))
    assert first == 6  # one schema inference per table the build loads
    assert second == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _, jobs = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0  # the schema now comes from the cache
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)  # in place
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_cached_events_ts_is_epoch_nanos(spark, sf_small):
    _forget(f"{sf_small}/events.parquet")
    uncached = load_table(spark, sf_small, "events")
    cached, jobs = _jobs_during(spark, lambda: load_table(spark, sf_small, "events"))
    assert jobs == 0
    assert isinstance(cached.schema["ts"].dataType, T.LongType)
    assert cached.schema == uncached.schema
    assert sorted(cached.collect()) == sorted(uncached.collect())


def test_other_session_does_not_reuse_entry(spark, sf_small):
    path = f"{sf_small}/nation.parquet"
    load_table(spark, sf_small, "nation")
    assert _owner(path) is spark
    other = spark.newSession()  # distinct session object, same JVM
    assert other is not spark
    _, jobs = _jobs_during(other, lambda: load_table(other, sf_small, "nation"))
    assert jobs == 1
    assert _owner(path) is other
    _, jobs = _jobs_during(spark, lambda: load_table(spark, sf_small, "nation"))
    assert jobs == 1  # the entry belonged to `other`: this session re-infers
    assert _owner(path) is spark
