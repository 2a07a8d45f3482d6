"""Event-log parser on a small log recorded from Spark 4.1 (local[2]: a
parquet scan, a repartition and a mapInPandas under one job description,
then an unrelated count), trimmed to the fields the parser reads."""

from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"
DESC = "perfbench:fixture:job1:plain"


@pytest.fixture(scope="module")
def log():
    with FIXTURE.open() as fh:
        return eventlog.parse(fh)


def test_jobs_are_grouped_by_description(log):
    jobs = log.jobs_described(DESC)
    # AQE splits the one action into three Spark jobs; stage 3 was skipped
    assert sorted(j.job_id for j in jobs) == [1, 2, 3]
    assert sorted(sid for j in jobs for sid in j.stage_ids) == [1, 2, 3, 4]
    assert sorted(log.stages) == [1, 2, 4, 5]


def test_task_and_shuffle_sums(log):
    m = eventlog.job_layers(log, DESC, k=2)
    # executor run time of stages 1, 2 and 4: 39 + 225 + 228 + 2039 + 2086 ms
    assert m["spark.task_s"] == pytest.approx(4.617)
    assert m["spark.gc_s"] == pytest.approx(0.050)
    assert m["spark.scan_bytes"] == 1522 + 1520
    assert m["spark.scan_s"] == pytest.approx(0.162)
    assert m["spark.shuffle_write_bytes"] == 1357 + 988
    assert m["spark.shuffle_read_bytes"] == 1190 + 1155
    assert m["spark.shuffle_fetch_wait_s"] == 0.0
    assert m["spark.spill_bytes"] == 0.0


def test_python_stage_layers(log):
    m = eventlog.job_layers(log, DESC, k=2)
    # stage 4 is the only one with Python-boundary SQL metrics
    assert m["extract.python_s"] == pytest.approx((2039 + 2086) / 1e3)
    assert m["extract.to_python_bytes"] == 3480
    assert m["extract.from_python_bytes"] == 3648
    # task durations (finish - launch) 2067 and 2107 ms, stage wall 2126 ms
    assert m["partitioning.task_skew"] == pytest.approx(2107 / 2087)
    assert m["partitioning.core_idle_s"] == pytest.approx((2126 * 2 - 2067 - 2107) / 1e3)


def test_unknown_description_reads_zero(log):
    m = eventlog.job_layers(log, "no such job", k=2)
    assert m["spark.task_s"] == 0.0 and m["partitioning.task_skew"] == 0.0
