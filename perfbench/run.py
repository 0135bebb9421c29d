"""Workload benchmark for assemblagedb_spark.

    python3 perfbench/run.py --workload {analytics,oltp} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Each run:

1. generates the workload's inputs from ``--seed`` with
   ``tools/make_scale_data.py`` (``mult=1``) out of the source tables
   committed in ``perfbench/source``, into ``.perfbench_work/`` of the
   checkout (removed again at exit);
2. brings up a warm Spark session on ``local[4]`` (``setup_s``, from
   JVM launch to the first Python-worker task; see ``bring_up``);
3. runs the workload as a closed loop with one client thread: untimed
   passes that check every output and warm the session, then timed
   passes until ``--seconds`` have elapsed;
4. prints a detail line (pass counts, per-op and wall pass seconds), then
   one JSON line last: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics ``setup_s``, ``pass_cpu_s`` (CPU seconds of this
   process, the JVM and the Python workers per timed pass) and ``peak_rss_mb``
   (``--trace 0``) or, from a run with Spark's event log on and every job
   tagged, the per-layer metrics (``--trace 1``; their rationale is in
   ``layers.json``).

The program is driven only through public functions: the query
registry ``harness.SPARK_QUERIES`` with its DuckDB ``harness.ORACLES``,
``db.AssemblageDb`` and ``views.linearize``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE = os.path.join(HERE, "source")
CPUS = 4
CLK_TCK = os.sysconf("SC_CLK_TCK")
DRIVER_MEM = "1g"
# JVM flags that make runs repeat: the whole heap is committed and touched
# at start, so peak_rss_mb does not follow the collector's heap-growth
# timing; C1-only JIT and the serial collector keep background compiler
# and GC threads from adding a varying share to pass_cpu_s (10 seeds on a
# shared 4-core VM: IQR/median 0.34 with C2, 0.11 with these flags).
JVM_FLAGS = (
    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
    "-XX:+UseSerialGC -XX:-UsePerfData"
)
WARMUP_PASS = -1  # untimed: the analytics oracle pass, the first oltp round

# One op per layer family: gram index + search joins (Arrow gram kernel),
# the BFS loop (localCheckpoint + observe probes), a three-micro-batch
# streaming ingest and an Arrow decode kernel.
ANALYTICS_OPS = (
    "search",
    "graph_bfs_depth",
    "streaming_rollup_ingest",
    "multimodal_decode",
)

WORKLOADS = ("analytics", "oltp")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_inputs(seed: int, out: str) -> None:
    import numpy as np

    from tools.make_scale_data import (
        gen_documents,
        gen_embeddings,
        gen_events,
        gen_tpch,
    )

    rng = np.random.default_rng(seed)
    with contextlib.redirect_stdout(sys.stderr):
        for gen in (gen_documents, gen_embeddings, gen_events, gen_tpch):
            gen(SOURCE, out, 1, rng)
    for dim in ("region", "nation", "part", "supplier"):
        shutil.copyfile(f"{SOURCE}/{dim}.parquet", f"{out}/{dim}.parquet")


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp {JVM_FLAGS}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    return conf


def bring_up(conf: dict[str, str], data: str):
    """Start a session and warm it: SparkSession start (launching the
    JVM), shipping the package to the Python workers as
    ``__spark_entry__._ensure_worker_import`` does, a first Arrow task
    (Python worker start) and a first parquet read of the inputs.
    Returns the session and the (start, warm) seconds."""
    import pandas as pd

    from __spark_entry__ import _ensure_worker_import
    from assemblagedb_spark.session import get_spark
    from assemblagedb_spark.sources.tpch import load_table

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _ensure_worker_import(spark)
    spark.range(CPUS).repartition(CPUS).mapInPandas(
        lambda it: (pd.DataFrame({"x": [1]}) for _ in it), "x int"
    ).count()
    load_table(spark, data, "documents").count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Shut the JVM gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def child_pids(pid) -> list[str]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        with contextlib.suppress(FileNotFoundError), open(path) as fh:
            out += fh.read().split()
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    Python workers; a child that exited counts through its parent's
    children times. CPU time leaves out the time the host gave to other
    guests, which wall time on a shared host includes."""
    total = sum(os.times()[:4])
    stack = child_pids(os.getpid())
    while stack:
        pid = stack.pop()
        with contextlib.suppress(FileNotFoundError):
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15]) / CLK_TCK
            stack += child_pids(pid)
    return total


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM child.

    Read after the first timed pass, so it covers a fixed amount of work;
    the JVM's code cache and heap keep growing with every further pass,
    and how many passes fit in the window depends on the host's speed."""
    pids = [str(os.getpid())] + child_pids(os.getpid())
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if pid != str(os.getpid()) and comm != "java":
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total_kb / 1024


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: MISMATCH {what}", file=sys.stderr)


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def run_analytics(spark, data, seconds, tagger, tally):
    import duckdb

    from assemblagedb_spark.harness import ORACLES, SPARK_QUERIES
    from assemblagedb_spark.sources.tpch import TABLES
    from bench import reset_shared_caches
    from checks import frames_match
    from tools.check_oracles import normalize

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet')"
            )
        refs = {op: con.execute(ORACLES[op]).fetchdf() for op in ANALYTICS_OPS}
    finally:
        con.close()

    per_op: dict[str, list[float]] = {}

    def run_op(op, pass_no, full):
        if tagger:
            tagger.set(op, pass_no)
        reset_shared_caches(op)
        try:
            t0 = time.perf_counter()
            df = SPARK_QUERIES[op](spark, data)
            t1 = time.perf_counter()
            if full:
                ok, why = frames_match(df.toPandas(), refs[op], normalize)
                tally.check(ok, f"{op}: {why}")
                return None
            n = df.count()
            t2 = time.perf_counter()
        except Exception:  # one failed op must not end the run
            traceback.print_exc()
            tally.check(False, f"{op} raised")
            return None
        tally.check(n == len(refs[op]), f"{op}: {n} rows, {len(refs[op])} expected")
        if pass_no >= 0:
            per_op.setdefault(op, []).append(t2 - t0)
        return t1 - t0, t2 - t1, n

    # the untimed oracle pass is also the warm-up pass
    for op in ANALYTICS_OPS:
        run_op(op, WARMUP_PASS, full=True)

    passes = []  # (pass_no, wall_s, out_rows, build_s, action_s, cpu_s)
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        k = len(passes)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        timed = [r for r in (run_op(op, k, False) for op in ANALYTICS_OPS) if r]
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if k == 0:
            rss = peak_rss_mb()
        passes.append(
            (
                k,
                wall,
                sum(r[2] for r in timed),
                sum(r[0] for r in timed),
                sum(r[1] for r in timed),
                cpu,
            )
        )
    e2e = {
        "pass_s": statistics.median(p[1] for p in passes),
        "pass_cpu_s": statistics.median(p[5] for p in passes),
        "peak_rss_mb": rss,
    }
    layers = {
        "harness.build_s": statistics.median(p[3] for p in passes),
        "harness.action_s": statistics.median(p[4] for p in passes),
    }
    detail = {
        "passes": len(passes),
        "op_s": {op: round(statistics.median(v), 3) for op, v in per_op.items()},
    }
    return e2e, layers, {p[0]: (p[1], p[2]) for p in passes}, detail


# ---------------------------------------------------------------------------
# oltp
# ---------------------------------------------------------------------------


def run_oltp(spark, data, seconds, seed, tagger, tally):
    from oltp import (
        READ_KINDS,
        SEARCH_EVERY,
        WRITE_KINDS,
        Round,
        Samples,
        check_searches,
        load_texts,
    )

    texts = load_texts(data)
    warm = Samples()  # warm-up: the script up to its first search
    if tagger:
        tagger.set("db.search", WARMUP_PASS)
    Round(spark, texts, seed, warm, tally).play(pages=SEARCH_EVERY)

    out = Samples()
    rounds = []  # (round_no, wall_s, rows returned by its searches, cpu_s)
    deadline = time.perf_counter() + seconds
    while not rounds or time.perf_counter() < deadline:
        k = len(rounds)
        if tagger:
            tagger.set("db.search", k)
        n_before = len(out.searches)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        Round(spark, texts, seed, out, tally).play()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if k == 0:
            rss = peak_rss_mb()
        rows = sum(len(s[3]) for s in out.searches[n_before:])
        rounds.append((k, wall, rows, cpu))

    check_searches(warm.searches + out.searches, tally)

    lat = out.lat
    writes = [s for k in WRITE_KINDS for s in lat.get(k, [])]
    reads = [s for k in READ_KINDS for s in lat.get(k, [])]
    searches = lat.get("search", [])
    updates = [s for k in ("push", "replace_child", "remove_child") for s in lat.get(k, [])]
    examined = sum(len(s[1]) for s in out.searches)
    returned = sum(len(s[3]) for s in out.searches)
    e2e = {
        "pass_s": statistics.median(r[1] for r in rounds),
        "pass_cpu_s": statistics.median(r[3] for r in rounds),
        "peak_rss_mb": rss,
    }
    layers = {
        "db.add_ms": statistics.median(lat["add"]) * 1e3,
        "db.swap_ms": statistics.median(lat["swap"]) * 1e3,
        "db.update_ms": statistics.median(updates) * 1e3,
        "views.tile_ms": statistics.median(lat["tile"]) * 1e3,
        "kvstore.version_rows": statistics.median(out.version_rows),
        # means, not percentiles: a run has 9 to 12 searches
        "db.blocks_s": statistics.mean(out.blocks_s),
        "db.examined_per_result": examined / max(returned, 1),
        "db.write_p50_ms": statistics.median(writes) * 1e3,
        "db.write_p90_ms": statistics.quantiles(writes, n=10)[-1] * 1e3,
        "db.read_p50_ms": statistics.median(reads) * 1e3,
        "db.read_p90_ms": statistics.quantiles(reads, n=10)[-1] * 1e3,
        "db.search_s": statistics.mean(searches),
    }
    detail = {
        "rounds": len(rounds),
        "writes": len(writes),
        "reads": len(reads),
        "searches": len(searches),
    }
    return e2e, layers, {r[0]: (r[1], r[2]) for r in rounds}, detail


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------

OLTP_LAYERS = (
    "db.add_ms", "db.swap_ms", "db.update_ms", "views.tile_ms",
    "kvstore.version_rows", "db.blocks_s", "db.examined_per_result",
    "db.write_p50_ms", "db.write_p90_ms", "db.read_p50_ms",
    "db.read_p90_ms", "db.search_s",
)
ANALYTICS_LAYERS = ("harness.build_s", "harness.action_s")


def end_to_end_metrics(setup_s, e2e) -> dict[str, float]:
    """Wall time per pass stays out: on a shared host it doubled between
    runs of identical work, so it is reported on the detail line."""
    return {
        "setup_s": setup_s,
        "pass_cpu_s": e2e["pass_cpu_s"],
        "peak_rss_mb": e2e["peak_rss_mb"],
    }


def per_layer_metrics(
    events, measured, calls, checkpoints, layers, start_s, warm_s, e2e
) -> dict[str, float]:
    """The event-log layers plus the layers the benchmark times itself;
    a layer the workload does not reach reads 0."""
    import eventlog

    metrics = eventlog.layer_metrics(events, measured, calls, checkpoints, CPUS)
    for name in ANALYTICS_LAYERS + OLTP_LAYERS:
        metrics[name] = float(layers.get(name, 0.0))
    metrics["session.start_s"] = start_s
    metrics["session.warm_s"] = warm_s
    metrics["trace.pass_s"] = e2e["pass_s"]
    metrics["trace.pass_cpu_s"] = e2e["pass_cpu_s"]
    return metrics


def result_line(tally, metrics) -> str:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return json.dumps(
        {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {
                k: {"value": float(v), "unit": units[k]}
                for k, v in sorted(metrics.items())
            },
        }
    )


def run(args, work: str) -> int:
    import eventlog

    data = f"{work}/data"
    for d in ("data", "tmp", "local", "eventlog", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_TASK_FAILURES"):
        os.environ.pop(var, None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": f"{work}/local",
            "TMPDIR": f"{work}/tmp",
            "PYTHONHASHSEED": "0",  # the Python workers' too
            # spark-submit's launcher JVM would write /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    tempfile.tempdir = f"{work}/tmp"
    make_inputs(args.seed, data)

    conf = spark_conf(work, bool(args.trace))
    spark = None
    try:
        spark, start_s, warm_s = bring_up(conf, data)

        tagger = eventlog.Tagger(spark, args.workload) if args.trace else None
        if tagger:
            tagger.install()
        tally = Tally()
        if args.workload == "analytics":
            e2e, layers, measured, detail = run_analytics(
                spark, data, args.seconds, tagger, tally
            )
        else:
            e2e, layers, measured, detail = run_oltp(
                spark, data, args.seconds, args.seed, tagger, tally
            )
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    if args.trace:
        metrics = per_layer_metrics(
            eventlog.read_events(f"{work}/eventlog"),
            measured,
            tagger.calls,
            tagger.checkpoints,
            layers,
            start_s,
            warm_s,
            e2e,
        )
    else:
        metrics = end_to_end_metrics(start_s + warm_s, e2e)
    detail["pass_s"] = round(e2e["pass_s"], 4)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(result_line(tally, metrics))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
        from tools import make_scale_data  # noqa: F401
    except ImportError as e:
        print(
            f"perfbench: the program is not beside the benchmark ({e}); "
            "run from the root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
