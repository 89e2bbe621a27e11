"""The stage collector counts a stage once and drops skipped stages."""

from __future__ import annotations

import os
import threading
import time

import pytest

from perfbench.trace import StageCollector, attribute_stages


def _job(jid, tag, stages):
    return {"jobId": jid, "jobTags": [tag], "stageIds": stages}


def _stage(sid, status, run_ms):
    return {"stageId": sid, "attemptId": 0, "status": status,
            "executorRunTime": run_ms, "numCompleteTasks": 1}


def test_shared_stage_is_charged_to_the_job_that_ran_it():
    # job 1 (tag B) lists stage 0, which job 0 (tag A) ran; job 1's own
    # copy of another shuffle was skipped (stage 3)
    jobs = [_job(0, "A", [0, 1]), _job(1, "B", [0, 2, 3])]
    stages = [_stage(0, "COMPLETE", 400), _stage(1, "COMPLETE", 50),
              _stage(2, "COMPLETE", 20), _stage(3, "SKIPPED", 0)]
    out = attribute_stages(jobs, stages, lambda j: j["jobTags"][0])
    assert out["A"]["executor_run_ms"] == 450 and out["A"]["stages"] == 2
    assert out["B"]["executor_run_ms"] == 20 and out["B"]["stages"] == 1
    assert out["A"]["jobs"] == out["B"]["jobs"] == 1


def test_retried_stage_counts_once_with_both_attempts_work():
    jobs = [_job(0, "A", [0])]
    stages = [_stage(0, "FAILED", 30), {**_stage(0, "COMPLETE", 70), "attemptId": 1}]
    out = attribute_stages(jobs, stages, lambda j: "A")
    assert out["A"]["stages"] == 1 and out["A"]["executor_run_ms"] == 100


@pytest.fixture(scope="module")
def spark():
    os.environ["SPARK_GRAFT_UI"] = "true"
    from datastore_mapper_spark.session import get_session

    s = get_session("perfbench-tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_two_tagged_groups_sharing_a_stage_count_it_once(spark):
    """While job A (tag A) is still running, job B (tag B) needs the same
    shuffle: the scheduler hands B the stage A ran, listed under the
    same id, and B skips it.  Its executor time belongs to A alone, and
    is kept although B's skip clears the stage's own record."""
    sc = spark.sparkContext

    def map_work(it):
        time.sleep(0.2)
        return it

    def slow_reduce(it):
        time.sleep(2.0)
        return it

    shuffled = (sc.parallelize(range(300), 3).mapPartitions(map_work)
                .map(lambda x: (x % 5, 1)).partitionBy(5))

    def run_a():
        sc.addJobTag("A")
        shuffled.mapPartitions(slow_reduce).collect()

    a = threading.Thread(target=run_a)
    a.start()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:  # wait for A's 5-task reduce stage
        infos = [tracker.getStageInfo(s) for s in tracker.getActiveStageIds()]
        if any(i is not None and i.numTasks == 5 for i in infos):
            break
        time.sleep(0.05)
    sc.addJobTag("B")
    try:
        assert shuffled.count() == 300
    finally:
        sc.removeJobTag("B")
    a.join(timeout=60)
    assert not a.is_alive()

    jobs, stages = StageCollector(sc).settled()
    mine = [j for j in jobs if {"A", "B"} & set(j["jobTags"])]
    by_tag = {t: [j for j in mine if t in j["jobTags"]] for t in "AB"}
    shared = set(by_tag["A"][0]["stageIds"]) & set(by_tag["B"][0]["stageIds"])
    assert shared, "B did not reuse A's map stage"

    out = attribute_stages(mine, stages, lambda j: "A" if "A" in j["jobTags"] else "B")
    ran = {s["stageId"]: s["executorRunTime"] for s in stages
           if s["status"] != "SKIPPED"
           and any(s["stageId"] in j["stageIds"] for j in mine)}
    assert out["A"]["executor_run_ms"] + out["B"]["executor_run_ms"] == sum(ran.values())
    (sid,) = shared
    assert ran[sid] >= 3 * 200  # three map tasks of 0.2 s each
    assert out["A"]["executor_run_ms"] >= ran[sid]
    assert out["B"]["executor_run_ms"] < ran[sid]
    # summing per group, as a per-group seen-set does, charges it twice
    naive = sum(ran.get(s, 0) for t in "AB" for s in by_tag[t][0]["stageIds"])
    assert naive - ran[sid] == sum(ran.values())
