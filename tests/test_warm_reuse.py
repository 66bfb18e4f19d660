"""Work reused across repeated queries: the codegen cache sized to the
registry (session.CODEGEN_CACHE_MAX_ENTRIES), the per-table scan memo
in sources.star_schema.load and the registry's trained-codebook cache,
plus the warnings that make a lost safeguard visible."""

from __future__ import annotations

import logging
import sys
from contextlib import contextmanager
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from __spark_entry__ import SF0001_DIR as SF
from metrocloud_data_pipeline_spark import session
from metrocloud_data_pipeline_spark.functions import partitioning
from metrocloud_data_pipeline_spark.queries import SPARK_QUERIES
from metrocloud_data_pipeline_spark.sources import load

sys.path.append(str(Path(__file__).resolve().parents[1] / "perfbench"))
import inputs  # noqa: E402
from workloads import IOT_KEYS  # noqa: E402


@contextmanager
def _jobs(spark, tag):
    """Yield a callable returning the ids of the Spark jobs started in
    the block (tagged with `tag`)."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield lambda: list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    finally:
        sc.removeJobTag(tag)


def _write_region(path, keys):
    table = pa.table({"r_regionkey": keys, "r_name": [f"r{k}" for k in keys]})
    pq.write_table(table, str(path))


def test_second_dashboard_pass_compiles_nothing(spark):
    assert "dq_profile_events" in IOT_KEYS
    for key in IOT_KEYS:
        SPARK_QUERIES[key](spark, SF).collect()
    before = session.codegen_compilations(spark)
    for key in IOT_KEYS:
        SPARK_QUERIES[key](spark, SF).collect()
    assert session.codegen_compilations(spark) - before == 0


def test_load_of_unchanged_file_is_memoized_and_starts_no_job(spark, tmp_path):
    _write_region(tmp_path / "region.parquet", [0, 1, 2])
    with _jobs(spark, "memo-first-read") as started:
        first = load(spark, str(tmp_path), "region")
        assert started(), "the first read infers the schema with a Spark job"
    with _jobs(spark, "memo-second-read") as started:
        again = load(spark, str(tmp_path), "region")
        assert again is first
        assert started() == []


def test_rewritten_file_is_read_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write_region(path, [0, 1, 2])
    old = load(spark, str(tmp_path), "region")
    assert sorted(r.r_regionkey for r in old.collect()) == [0, 1, 2]
    _write_region(path, [7, 8, 9])  # same path, same size, new rows
    new = load(spark, str(tmp_path), "region")
    assert new is not old
    assert sorted(r.r_regionkey for r in new.collect()) == [7, 8, 9]


def test_rewritten_directory_table_is_read_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.createDataFrame([(1, "a")], "r_regionkey long, r_name string").write.parquet(path)
    old = load(spark, str(tmp_path), "region")
    assert [r.r_regionkey for r in old.collect()] == [1]
    assert load(spark, str(tmp_path), "region") is old
    spark.createDataFrame([(5, "b"), (6, "c")], "r_regionkey long, r_name string").write.mode(
        "overwrite"
    ).parquet(path)
    new = load(spark, str(tmp_path), "region")
    assert sorted(r.r_regionkey for r in new.collect()) == [5, 6]


def test_new_session_gets_its_own_entry(spark, tmp_path):
    _write_region(tmp_path / "region.parquet", [0, 1])
    mine = load(spark, str(tmp_path), "region")
    other = spark.newSession()
    theirs = load(other, str(tmp_path), "region")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert load(other, str(tmp_path), "region") is theirs
    assert load(spark, str(tmp_path), "region") is mine


def test_missing_table_still_raises(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load(spark, str(tmp_path), "region")


def test_cached_corpus_codebook_follows_a_rewritten_table(spark, tmp_path):
    """The registry's trained-codebook cache is keyed like the scan memo:
    an unchanged embeddings file reuses the fit, a rewritten one gets
    the codebook a fresh fit of the new vectors gives."""
    import numpy as np

    from metrocloud_data_pipeline_spark import queries
    from metrocloud_data_pipeline_spark.llm import similarity

    d = str(tmp_path)
    inputs.write_embeddings(d, 0, 120)
    first = queries._corpus_codebook(spark, d)
    assert queries._corpus_codebook(spark, d) is first
    inputs.write_embeddings(d, 1, 120)  # same path, new vectors
    cached = queries._corpus_codebook(spark, d)
    emb = load(spark, d, "embeddings")
    ids, code = similarity.trained_codebook(emb, k=similarity._auto_train_k(emb))
    assert np.array_equal(cached[0], ids) and np.array_equal(cached[1], code)
    assert not np.array_equal(cached[1], first[1])


class _Conf:
    def __init__(self, values):
        self.values = values

    def set(self, key, value):
        self.values[key] = value

    def get(self, key, default=None):
        return self.values.get(key, default)


def test_tune_warns_once_about_a_small_codegen_cache(monkeypatch, caplog):
    monkeypatch.setattr(session, "_small_cache_warned", False)
    small = SimpleNamespace(conf=_Conf({session.CODEGEN_CACHE_CONF: "100"}))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.tune(small)
        session.tune(small)
    warnings = [r for r in caplog.records if session.CODEGEN_CACHE_CONF in r.getMessage()]
    assert len(warnings) == 1
    assert "100" in warnings[0].getMessage()


def test_tune_is_quiet_on_a_registry_sized_cache(monkeypatch, caplog):
    monkeypatch.setattr(session, "_small_cache_warned", False)
    sized = SimpleNamespace(
        conf=_Conf({session.CODEGEN_CACHE_CONF: str(session.CODEGEN_CACHE_MAX_ENTRIES)})
    )
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.tune(sized)
    assert not caplog.records


def test_estimated_rows_fallback_warns_with_the_exception(caplog):
    class _Broken:
        def queryExecution(self):
            raise RuntimeError("stats are gone")

    df = SimpleNamespace(_jdf=_Broken())
    with caplog.at_level(logging.WARNING, logger=partitioning.__name__):
        assert partitioning._estimated_rows(df) is None
    (record,) = caplog.records
    assert "RuntimeError" in record.getMessage()
    assert "stats are gone" in record.getMessage()


def test_estimated_rows_of_an_unsized_plan_warns(spark, caplog):
    # local Python rows carry Catalyst's unknown-size placeholder, which
    # divided by a row width would pose as a real count
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").select("k")
    with caplog.at_level(logging.WARNING, logger=partitioning.__name__):
        assert partitioning._estimated_rows(df) is None
    (record,) = caplog.records
    assert "no size estimate" in record.getMessage()
    assert partitioning._estimated_rows(spark.range(7)) == 7
