"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark tests pin the per-layer profile, so a Spark upgrade that
renames a SQL metric or changes the status stores cannot blank it
silently: one dashboard operation must report scan and exchange work,
and knn_join_ivf must report Python worker time.
"""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402


def test_parse_metric_value_single_and_multi_task():
    assert tracer.parse_metric_value("12.5 KiB") == 12.5 * 1024
    assert tracer.parse_metric_value("403 ms") == pytest.approx(0.403)
    assert tracer.parse_metric_value("1,234") == 1234
    multi = "total (min, med, max (stageId: taskId))\n48 ms (3 ms, 15 ms, 19 ms (stage 50.0: task 75))"
    assert tracer.parse_metric_value(multi) == pytest.approx(0.048)
    with pytest.raises(ValueError):
        tracer.parse_metric_value("12 parsecs")


def test_dot_metrics_reads_nodes_and_codegen_clusters():
    dot = (
        '  subgraph cluster3 {\n    isCluster="true";\n'
        '    label="WholeStageCodegen (1)\\n \\nduration: total (min, med, max (stageId: taskId))\\n'
        '9 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))";\n'
        '  4 [id="node4" labelType="html" label="<br><b>Exchange</b><br><br>'
        'shuffle records written: 100<br>shuffle bytes written total (min, med, max (stageId: taskId))'
        '<br>2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 2.0: task 3))" tooltip="Exchange hashpartitioning"];\n'
    )
    got = dict(tracer._dot_metrics(dot))
    assert tracer.parse_metric_value(got["duration"]) == pytest.approx(0.009)
    assert tracer.parse_metric_value(got["shuffle records written"]) == 100
    assert tracer.parse_metric_value(got["shuffle bytes written"]) == 2048


def test_compare_tolerates_last_digit_only():
    want = pd.DataFrame({"k": ["a", "b"], "v": [49.304063, 1.0]})
    assert workloads._compare(want.iloc[::-1].copy(), want) is None
    assert workloads._compare(pd.DataFrame({"k": ["a", "b"], "v": [49.304062, 1.0]}), want) is None
    assert workloads._compare(pd.DataFrame({"k": ["a", "b"], "v": [49.3041, 1.0]}), want) is not None
    assert workloads._compare(pd.DataFrame({"k": ["a", "c"], "v": [49.304063, 1.0]}), want) is not None
    assert workloads._compare(want.head(1), want) is not None


def test_raw_stream_is_seeded_and_counts_replays(tmp_path):
    a = inputs.write_raw_stream(str(tmp_path / "a"), 7, 3, 50, 3)
    b = inputs.write_raw_stream(str(tmp_path / "b"), 7, 3, 50, 3)
    assert a == b
    assert a.replayed_files == 1 and a.messages == 150
    assert 0 < a.readings_distinct < a.readings_offered
    assert a.rejected > 0
    for f in os.listdir(tmp_path / "a"):
        assert open(tmp_path / "a" / f, "rb").read() == open(tmp_path / "b" / f, "rb").read()


def test_span_self_time_excludes_children():
    rec = tracer.Recorder()
    with rec.span("queries", "outer") as outer:
        with rec.span("sources", "inner") as inner:
            pass
    assert outer.self_s == pytest.approx(outer.end - outer.start - (inner.end - inner.start))
    assert inner.parent == outer.sid


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(os.path.dirname(HERE), ".perfbench-work", f"test-{os.getpid()}")
    run.pin_environment(work)
    from metrocloud_data_pipeline_spark.session import get_spark

    session = get_spark("perfbench-test")
    session.sparkContext.setLogLevel("ERROR")
    yield session, work
    session.stop()
    shutil.rmtree(work, ignore_errors=True)


def _traced_metrics(spark_session, wl, data_dir):
    run_ = report.traced_passes(spark_session, wl, data_dir, 0)
    assert all(op.error is None for p in run_.passes for op in p.ops)
    assert not [f for p in run_.passes for f in wl.check(p)]
    return {k: v["value"] for k, v in run_.metrics(0.0, 0.0, 0.0, 0.0).items()}


def test_dashboard_operation_reports_scan_and_exchange(spark):
    session, work = spark
    wl = workloads.IotDashboard(1)
    wl.keys = ("a2_hourly_aggregates",)
    d = inputs.fresh_dir(os.path.join(work, "iot"))
    inputs.write_events(d, 1, 2_000)
    m = _traced_metrics(session, wl, d)
    assert m["scan.bytes"] > 0 and m["scan.time_s"] >= 0
    assert m["exchange.shuffle_bytes"] > 0 and m["exchange.shuffle_records"] > 0
    assert m["spark.jobs"] >= 1 and m["queries.exec_jobs"] >= 1
    assert m["python.worker_s"] == 0


def test_knn_join_ivf_reports_python_worker_time(spark):
    session, work = spark
    wl = workloads.CurationBatch(0)
    wl.keys = ("knn_join_ivf",)
    d = inputs.fresh_dir(os.path.join(work, "curation"))
    wl.generate(d)
    m = _traced_metrics(session, wl, d)
    assert m["python.worker_s"] > 0
    assert m["python.bytes_sent"] > 0 and m["python.bytes_returned"] > 0
    assert m["llm.similarity.self_s"] > 0
