"""Engine-native spans (spectrify_spark.obs): job descriptions, job
groups, recording, and the Fold contract."""

import json
import threading
import time

import pytest

from perfbench.eventlog import Fold
from spectrify_spark import obs

GROUP = "spark.jobGroup.id"


def test_nested_spans_set_and_restore_description(spark):
    sc = spark.sparkContext
    sc.setLocalProperty(obs.DESCRIPTION, "caller")
    try:
        with obs.span("op", "outer"):
            assert sc.getLocalProperty(obs.DESCRIPTION) == "spectrify:op/outer"
            with obs.span("op", "inner"):
                assert sc.getLocalProperty(obs.DESCRIPTION) == "spectrify:op/inner"
            assert sc.getLocalProperty(obs.DESCRIPTION) == "spectrify:op/outer"
            with pytest.raises(RuntimeError):
                with obs.span("op", "failing"):
                    raise RuntimeError("boom")
            assert sc.getLocalProperty(obs.DESCRIPTION) == "spectrify:op/outer"
        assert sc.getLocalProperty(obs.DESCRIPTION) == "caller"
    finally:
        sc.setLocalProperty(obs.DESCRIPTION, None)
    with obs.span("op", "alone"):
        pass
    assert sc.getLocalProperty(obs.DESCRIPTION) is None


def test_spans_never_change_the_job_group(spark, job_count):
    sc = spark.sparkContext
    groups = []

    def body():
        with obs.span("op", "outer"):
            groups.append(sc.getLocalProperty(GROUP))
            with obs.span("op", "inner"):
                groups.append(sc.getLocalProperty(GROUP))
                spark.range(3).count()
        groups.append(sc.getLocalProperty(GROUP))

    _, n = job_count(body)
    assert n >= 1  # the count inside the span stays in the caller's group
    assert len(set(groups)) == 1 and groups[0].startswith("job-count-")

    def empty():
        with obs.span("op", "empty"):
            pass

    assert job_count(empty)[1] == 0  # a span itself starts no job


def test_recorded_spans_load_into_fold(spark, tmp_path):
    with obs.recording() as spans:
        with obs.span("op", "outer"):
            time.sleep(0.02)
            with obs.span("op", "inner"):
                time.sleep(0.05)
            time.sleep(0.02)
    outer, inner = spans
    assert (outer["name"], outer["parent"]) == ("op/outer", None)
    assert (inner["name"], inner["parent"]) == ("op/inner", outer["id"])
    # one job submitted in the middle of the inner span, lasting 10 ms
    at = int((inner["start"] + inner["end"]) / 2 * 1000)
    log = tmp_path / "eventlog"
    log.write_text(
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                    "Submission Time": at, "Stage IDs": [0]}) + "\n"
        + json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 0,
                      "Completion Time": at + 10}) + "\n"
    )
    fold = Fold(log, spans)
    assert fold.jobs[0]["span"] == inner["id"]
    assert [j["id"] for j in fold.jobs_under([outer["id"]])] == [0]
    assert fold.driver_s(outer) == pytest.approx(fold.wall_s(outer) - 0.01)
    # nothing records once the recording has ended
    with obs.span("op", "later"):
        pass
    assert len(spans) == 2


def test_span_in_foreach_batch_records_on_the_batch_thread(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(20).write.parquet(src)
    seen = []

    def body(batch, batch_id):
        with obs.span("test", "batch"):
            seen.append(spark.sparkContext.getLocalProperty(obs.DESCRIPTION))
            batch.count()

    with obs.recording() as spans:
        with obs.span("test", "drain"):
            q = (
                spark.readStream.schema("id bigint").parquet(src)
                .writeStream.foreachBatch(body)
                .option("checkpointLocation", str(tmp_path / "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    assert seen == ["spectrify:test/batch"]
    drain = next(sp for sp in spans if sp["name"] == "test/drain")
    batch = next(sp for sp in spans if sp["name"] == "test/batch")
    assert drain["thread"] == threading.current_thread().name
    assert batch["thread"] != drain["thread"]
    assert batch["parent"] == drain["id"]
    assert drain["start"] <= batch["start"] <= batch["end"] <= drain["end"]
