"""tools/profile_keys.py reads what a key ran from the event log: jobs are
attributed to a leg through their local property, SQL executions through
the jobs' execution id, and an execution's plan is its last adaptive plan.
Pure Python over synthetic events, no Spark."""

from __future__ import annotations

from tools.profile_keys import LEG_KEY, SQL_AQE, SQL_START, leg_executions


def _plan(name, *children):
    return {"nodeName": name, "children": list(children)}


def _job(leg, execution_id):
    props = {"spark.sql.execution.id": str(execution_id)}
    if leg is not None:
        props[LEG_KEY] = leg
    return {"Event": "SparkListenerJobStart", "Properties": props}


def test_leg_executions_counts_jobs_and_final_plan_nodes():
    events = [
        # execution 1: a pinned level, re-planned by AQE
        {"Event": SQL_START, "executionId": 1,
         "sparkPlanInfo": _plan("AdaptiveSparkPlan", _plan("SortMergeJoin"))},
        _job("k#count2", 1),
        {"Event": SQL_AQE, "executionId": 1,
         "sparkPlanInfo": _plan(
             "AdaptiveSparkPlan",
             _plan("WholeStageCodegen (3)", _plan(
                 "BroadcastHashJoin",
                 _plan("InputAdapter", _plan("Scan parquet spark_catalog.t")),
                 _plan("BroadcastExchange", _plan("Scan ExistingRDD")),
             )),
         )},
        _job("k#count2", 1),
        # execution 2: the action on the returned frame
        {"Event": SQL_START, "executionId": 2,
         "sparkPlanInfo": _plan("HashAggregate", _plan("Exchange", _plan("Scan ExistingRDD")))},
        _job("k#count2", 2),
        # an untagged job (the output hash) is not the leg's
        {"Event": SQL_START, "executionId": 3, "sparkPlanInfo": _plan("HashAggregate")},
        _job(None, 3),
    ]
    legs = leg_executions(events)
    assert set(legs) == {"k#count2"}
    execs = legs["k#count2"]
    assert {eid: r["jobs"] for eid, r in execs.items()} == {1: 2, 2: 1}
    assert dict(execs[1]["nodes"]) == {
        "AdaptiveSparkPlan": 1,
        "BroadcastHashJoin": 1,
        "Scan parquet": 1,
        "BroadcastExchange": 1,
        "Scan ExistingRDD": 1,
    }
    assert dict(execs[2]["nodes"]) == {"HashAggregate": 1, "Exchange": 1, "Scan ExistingRDD": 1}
