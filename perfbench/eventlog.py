"""Traced-run support: job tagging, call wrappers and the event-log parser.

A traced run starts Spark with an uncompressed event log
(``spark.eventLog.compress=false``; Spark 4.1 writes a rolling
``eventlog_v2_<app>`` directory of ``events_<n>_<app>`` JSON-lines files).
Every job the benchmark launches carries three local properties, which
Spark copies into ``SparkListenerJobStart``/``StageSubmitted`` properties
and which streaming execution threads inherit from the thread that
started the query:

- ``perfbench.op``   ``<workload>/<op>``
- ``perfbench.pass`` the pass (or ``oltp`` round) number; negative for the
  untimed oracle and warm-up passes
- ``perfbench.fn``   ``;``-joined stack of the wrapped public operator
  functions active when the job was submitted

Everything here uses only the standard library, so it can parse a log
without Spark installed.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

OP_KEY = "perfbench.op"
PASS_KEY = "perfbench.pass"
FN_KEY = "perfbench.fn"

# Loop operators whose per-call job count is reported (module, function).
# Jobs per call ~ rounds x jobs per round.
WRAPPED_FUNCTIONS = (
    ("components", "bfs_depth"),
)

PY_ACCUMULABLES = {
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "returned_b",
}

PROGRESS_EVENT = (
    "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
)

MB = 1024 * 1024


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


class Tagger:
    """Sets the job tags on the calling thread and wraps public operator
    functions so each job also names the loop operator that launched it."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.fn_stack: list[str] = []
        self.calls: list[tuple[str, str, str]] = []  # (fn, op tag, pass)
        self.checkpoints: dict[str, int] = defaultdict(int)  # pass -> calls
        self._op = ""
        self._pass = ""

    def set(self, op: str, pass_no: int) -> None:
        self._op, self._pass = f"{self.workload}/{op}", str(pass_no)
        self.sc.setJobGroup(self._op, f"pass {pass_no}")
        self.sc.setLocalProperty(OP_KEY, self._op)
        self.sc.setLocalProperty(PASS_KEY, self._pass)
        self.sc.setLocalProperty(FN_KEY, ";".join(self.fn_stack))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.calls.append((name, self._op, self._pass))
            self.fn_stack.append(f"{name}#{len(self.calls)}")
            self.sc.setLocalProperty(FN_KEY, ";".join(self.fn_stack))
            try:
                return fn(*args, **kwargs)
            finally:
                self.fn_stack.pop()
                self.sc.setLocalProperty(FN_KEY, ";".join(self.fn_stack))

        return traced

    def install(self) -> None:
        """Rebind each wrapped function in every loaded module of the
        package that holds it (``from ... import name`` copies included),
        and count ``DataFrame.localCheckpoint`` calls per pass."""
        import importlib

        for mod_name, fn_name in WRAPPED_FUNCTIONS:
            mod = importlib.import_module(
                f"assemblagedb_spark.operators.{mod_name}"
            )
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(f"{mod_name}.{fn_name}", orig)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("assemblagedb_spark"):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)

        # the concrete (classic) DataFrame class overrides the method
        DataFrame = type(self.spark.range(1))
        orig_ckpt = DataFrame.localCheckpoint

        @functools.wraps(orig_ckpt)
        def local_checkpoint(df, *args, **kwargs):
            self.checkpoints[self._pass] += 1
            return orig_ckpt(df, *args, **kwargs)

        DataFrame.localCheckpoint = local_checkpoint


# ---------------------------------------------------------------------------
# event-log parsing
# ---------------------------------------------------------------------------


def read_events(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``log_dir``:
    a rolling ``eventlog_v2_*`` directory or a plain uncompressed file."""
    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if apps:
        parts = glob.glob(os.path.join(apps[-1], "events_*"))
        parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        parts = sorted(
            p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p) and not os.path.basename(p).startswith(".")
        )
    if not parts:
        raise FileNotFoundError(f"no event log under {log_dir}")
    events = []
    for path in parts:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


class PassStats:
    """Per-pass sums of the layer counters found in the event log."""

    def __init__(self):
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.task_retries = 0
        self.job_spans: list[tuple[int, int]] = []
        self.shuffle_write_b = 0
        self.shuffle_read_b = 0
        self.shuffle_records = 0
        self.cpu_ns = 0
        self.run_ms = 0
        self.gc_ms = 0
        self.py = defaultdict(int)
        self.block_b = 0
        self.batches: list[dict] = []


def parse_events(events: list[dict]):
    """Fold the events into ``{pass: PassStats}`` plus ``{fn call id: jobs}``.

    Jobs, stages and tasks are attributed through the properties their job
    or stage was submitted with. Block updates and streaming progress carry
    no properties; they belong to the most recently started job."""
    passes: dict[str, PassStats] = defaultdict(PassStats)
    stage_pass: dict[int, str] = {}
    job_pass: dict[int, str] = {}
    job_start: dict[int, int] = {}
    fn_jobs: dict[str, int] = defaultdict(int)
    seen_blocks: set[str] = set()
    current = None
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            p = props.get(PASS_KEY)
            current = p
            if p is None:
                continue
            job_pass[e["Job ID"]] = p
            job_start[e["Job ID"]] = e["Submission Time"]
            passes[p].jobs += 1
            for call in filter(None, (props.get(FN_KEY) or "").split(";")):
                fn_jobs[call] += 1
        elif kind == "SparkListenerJobEnd":
            p = job_pass.get(e["Job ID"])
            if p is not None:
                passes[p].job_spans.append(
                    (job_start[e["Job ID"]], e["Completion Time"])
                )
        elif kind == "SparkListenerStageSubmitted":
            p = (e.get("Properties") or {}).get(PASS_KEY)
            if p is not None:
                stage_pass[e["Stage Info"]["Stage ID"]] = p
                passes[p].stages += 1
        elif kind == "SparkListenerTaskEnd":
            p = stage_pass.get(e["Stage ID"])
            if p is None:
                continue
            s = passes[p]
            s.tasks += 1
            info = e["Task Info"]
            if info.get("Attempt", 0) > 0 or info.get("Failed"):
                s.task_retries += 1
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            s.shuffle_records += sw.get("Shuffle Records Written", 0)
            s.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.run_ms += m.get("Executor Run Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            for acc in info.get("Accumulables") or []:
                field = PY_ACCUMULABLES.get(acc.get("Name"))
                if field is not None:
                    s.py[field] += int(acc.get("Update") or 0)
        elif kind == "SparkListenerBlockUpdated":
            b = e["Block Updated Info"]
            bid = b["Block ID"]
            size = b.get("Memory Size", 0) + b.get("Disk Size", 0)
            if current is not None and bid.startswith("rdd_") and size > 0:
                if bid not in seen_blocks:
                    seen_blocks.add(bid)
                    passes[current].block_b += size
        elif kind == PROGRESS_EVENT and current is not None:
            passes[current].batches.append(e["progress"])
    return dict(passes), dict(fn_jobs)


def union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(events, measured, calls, checkpoints, cpus) -> dict:
    """Per-layer metrics from the event log: the median over the measured
    passes of each per-pass value.

    ``measured`` maps pass number -> (wall_s, output_rows); ``calls`` lists
    ``(fn, op, pass)`` of the wrapped operator calls; ``checkpoints`` maps
    pass -> ``localCheckpoint`` calls."""
    passes, fn_jobs = parse_events(events)
    rows = defaultdict(list)
    for p, (wall_s, out_rows) in measured.items():
        s = passes.get(str(p), PassStats())
        progress = s.batches
        trig = [b["durationMs"].get("triggerExecution", 0) for b in progress]
        in_rows = sum(
            src.get("numInputRows", 0)
            for b in progress
            for src in b.get("sources", [])
        )

        def dur(key):
            return sum(b["durationMs"].get(key, 0) for b in progress)

        rows["spark.jobs"].append(s.jobs)
        rows["spark.stages"].append(s.stages)
        rows["spark.tasks"].append(s.tasks)
        rows["spark.task_retries"].append(s.task_retries)
        rows["checkpoint.count"].append(checkpoints.get(str(p), 0))
        rows["checkpoint.mb"].append(s.block_b / MB)
        rows["spark.shuffle_write_mb"].append(s.shuffle_write_b / MB)
        rows["spark.shuffle_read_mb"].append(s.shuffle_read_b / MB)
        rows["spark.shuffle_records"].append(s.shuffle_records)
        rows["spark.executor_cpu_s"].append(s.cpu_ns / 1e9)
        rows["spark.gc_s"].append(s.gc_ms / 1e3)
        rows["spark.cpu_util"].append(s.run_ms / 1e3 / (wall_s * cpus))
        rows["spark.shuffle_records_per_out_row"].append(
            s.shuffle_records / max(out_rows, 1)
        )
        rows["spark.driver_gap_s"].append(wall_s - union_ms(s.job_spans) / 1e3)
        rows["pyworker.init_s"].append(s.py["init_ms"] / 1e3)
        rows["pyworker.run_s"].append(s.py["run_ms"] / 1e3)
        rows["pyworker.sent_mb"].append(s.py["sent_b"] / MB)
        rows["pyworker.returned_mb"].append(s.py["returned_b"] / MB)
        rows["streaming.batches"].append(len(progress))
        rows["streaming.add_batch_ms"].append(dur("addBatch"))
        rows["streaming.get_batch_ms"].append(dur("getBatch"))
        rows["streaming.planning_ms"].append(dur("queryPlanning"))
        rows["streaming.wal_commit_ms"].append(dur("walCommit"))
        # mean, not a percentile: a pass has three micro-batches
        rows["streaming.batch_s"].append(
            sum(trig) / len(trig) / 1e3 if trig else 0.0
        )
        rows["streaming.rows_per_s"].append(
            in_rows / (sum(trig) / 1e3) if sum(trig) else 0.0
        )
    out = {k: float(median(v)) for k, v in rows.items()}
    measured_keys = {str(p) for p in measured}
    for mod_name, fn_name in WRAPPED_FUNCTIONS:
        name = f"{mod_name}.{fn_name}"
        per_call = [
            fn_jobs.get(f"{name}#{i + 1}", 0)
            for i, (fn, _op, p) in enumerate(calls)
            if fn == name and p in measured_keys
        ]
        out[f"{name}.jobs"] = float(median(per_call))
    return out
