"""Optimization profiler: isolate per-key computation cost.

For each named bench key, times the query with the NOOP SINK (guide §1.4:
eagerly computes every column of every row, no sink cost, full plan in the
SQL tab) in addition to the bench's historical ``count()`` action, and dumps
``explain('formatted')`` of the returned frame to
``plans/$SPARK_GRAFT_PLANS_ROUND/<key>_<tag>.txt`` (default round dir: r10).

What a key ran is read from the Spark event log, not from the returned
frame: an operator that pins its levels with an eager ``localCheckpoint``
runs its joins while the frame is built, and the frame's own plan shows
only the pinned scans. Every job of a leg carries the local property
``profile.leg`` = ``<key>#<leg>``; after the session stops, the log is read
with ``perfbench/eventlog.py``'s ``read_events`` and each SQL execution is
attributed through the ``spark.sql.execution.id`` of its jobs. Its plan is
the final adaptive plan when AQE re-planned it.

Usage: python tools/profile_keys.py <tag> [key ...]
  tag: 'before' / 'after' (plan file suffix)
  keys: default = the keys named in OPTIMIZATION_r09.md's target list;
        'all' = every bench key

Prints per key one summary line — noop seconds (min of 2), count seconds
(min of 2), the jobs of each of the four legs, and for the last count leg
its SQL executions, #Exchange, #BatchEvalPython/ArrowEvalPython and
#MapInPandas/FlatMapGroupsInPandas nodes and an order-insensitive output
hash (sum of per-row ``xxhash64``, computed by an untagged job) — then one
line per SQL execution of that leg: its id, jobs and plan-node counts
(``no-sql``: the leg's jobs outside any SQL execution).
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import time
from collections import Counter, defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_KEYS = [
    "graph_components",
    "graph_pagerank",
    "graph_ppr",
    "graph_bfs_depth",
    "graph_kcore",
    "dedup_clusters",
    "embedding_clusters",
    "overlaps_prefix",
    "overlaps",
    "overlaps_sparse",
    "overlaps_incremental",
]
LEGS = ("noop1", "noop2", "count1", "count2")
LEG_KEY = "profile.leg"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
# codegen wrappers say how operators were fused, not what ran
WRAPPERS = {"WholeStageCodegen", "InputAdapter"}


def plan_nodes(info: dict, out: Counter | None = None) -> Counter:
    """Operator-name counts of a ``sparkPlanInfo`` tree."""
    out = Counter() if out is None else out
    name = re.sub(r" \(\d+\)$", "", info["nodeName"])
    if name.startswith("Scan "):
        name = " ".join(name.split()[:2])
    if name not in WRAPPERS:
        out[name] += 1
    for child in info.get("children", []):
        plan_nodes(child, out)
    return out


def leg_executions(events: list[dict]) -> dict[str, dict[int, dict]]:
    """``{leg: {execution id: {"jobs": n, "nodes": Counter}}}`` for every
    job tagged with ``LEG_KEY``; jobs outside any SQL execution (plain RDD
    actions) count under id -1."""
    plans: dict[int, dict] = {}
    legs: dict[str, dict[int, dict]] = defaultdict(dict)
    for e in events:
        kind = e["Event"]
        if kind in (SQL_START, SQL_AQE):
            plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            leg = props.get(LEG_KEY)
            if leg is None:
                continue
            eid = int(props.get("spark.sql.execution.id", -1))
            legs[leg].setdefault(eid, {"jobs": 0})["jobs"] += 1
    for execs in legs.values():
        for eid, rec in execs.items():
            rec["nodes"] = plan_nodes(plans[eid]) if eid in plans else Counter()
    return dict(legs)


def output_hash(df) -> str:
    """Order-insensitive digest of a frame: row count and the sum of the
    rows' ``xxhash64`` (as a decimal, so the sum cannot overflow)."""
    from pyspark.sql import functions as F

    r = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return f"{r['n']}:{r['s'] or 0}"


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    keys = sys.argv[2:] or DEFAULT_KEYS
    if keys == ["all"]:
        from bench import BENCH_QUERIES

        keys = list(BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from perfbench.eventlog import read_events

    with tempfile.TemporaryDirectory(prefix="profile-eventlog-") as log_dir:
        timings = run_legs(keys, sf_dir, tag, log_dir)
        legs = leg_executions(read_events(log_dir))
    for name in keys:
        noop_s, count_s, digest = timings[name]
        jobs = [
            sum(r["jobs"] for r in legs.get(f"{name}#{leg}", {}).values())
            for leg in LEGS
        ]
        execs = legs.get(f"{name}#{LEGS[-1]}", {})
        nodes = sum((r["nodes"] for r in execs.values()), Counter())
        n_ex = nodes["Exchange"]  # shuffles; broadcasts are BroadcastExchange
        n_py = nodes["BatchEvalPython"] + nodes["ArrowEvalPython"]
        n_pd = nodes["MapInPandas"] + nodes["FlatMapGroupsInPandas"]
        print(
            f"{name:28s} noop={noop_s:7.3f}s count={count_s:7.3f}s "
            f"jobs={'/'.join(map(str, jobs))} executions={len(execs.keys() - {-1})} "
            f"exchanges={n_ex} pyeval={n_py} mapinpandas={n_pd} "
            f"hash={digest}",
            flush=True,
        )
        for eid, rec in sorted(execs.items()):
            shown = " ".join(f"{k}={v}" for k, v in sorted(rec["nodes"].items()))
            label = "no-sql" if eid == -1 else f"exec {eid}"
            print(f"  {label:<10s} jobs={rec['jobs']} nodes={sum(rec['nodes'].values())} {shown}")


def run_legs(keys: list[str], sf_dir: str, tag: str, log_dir: str) -> dict:
    """Time every key's four legs in a session logging to ``log_dir``;
    returns ``{key: (noop s, count s, output hash)}``. Stops the session,
    which drains the listener bus and closes the event log."""
    from assemblagedb_spark.harness import SPARK_QUERIES
    from assemblagedb_spark.session import get_spark

    from bench import reset_shared_caches, warmup

    spark = get_spark(
        "assemblagedb-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    warmup(spark, sf_dir)

    out_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r10")
    )
    os.makedirs(out_dir, exist_ok=True)

    timings = {}
    for name in keys:
        sc.setJobDescription(f"profile:{name}")
        best = {"noop": float("inf"), "count": float("inf")}
        for leg in LEGS:
            reset_shared_caches(name)
            sc.setLocalProperty(LEG_KEY, f"{name}#{leg}")
            t0 = time.time()
            df = SPARK_QUERIES[name](spark, sf_dir)
            action = "noop" if leg.startswith("noop") else "count"
            if action == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            best[action] = min(best[action], time.time() - t0)
            sc.setLocalProperty(LEG_KEY, None)
        digest = output_hash(df)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        timings[name] = (best["noop"], best["count"], digest)
        sc.setJobDescription(None)
    spark.stop()
    return timings


if __name__ == "__main__":
    main()
