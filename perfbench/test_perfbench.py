"""Tests of the benchmark's own parts; run with
``python3 -m pytest perfbench -q`` from the repository root.

The event-log fixture is a real Spark 4.1.2 log of three tagged ops
(``graph_bfs_depth``, ``streaming_rollup_ingest``, ``multimodal_decode``;
pass 0) trimmed to the event kinds the parser reads."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures")
# the Tagger state of the run that wrote the fixture
FIXTURE_CALLS = [("components.bfs_depth", "fixture/graph_bfs_depth", "0")]
FIXTURE_CHECKPOINTS = {"0": 7}


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(FIXTURE)


def test_fixture_is_a_rolling_uncompressed_log(events):
    assert os.path.isdir(
        os.path.join(FIXTURE, "eventlog_v2_local-fixture")
    )
    assert events[0]["Event"] == "SparkListenerLogStart"


def test_parse_attributes_jobs_stages_and_tasks_by_tag(events):
    passes, fn_jobs = eventlog.parse_events(events)
    assert set(passes) == {"0"}
    p = passes["0"]
    tagged_jobs = [
        e for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e["Properties"].get("perfbench.pass") == "0"
    ]
    assert p.jobs == len(tagged_jobs) > 0
    assert p.stages == sum(
        1 for e in events if e["Event"] == "SparkListenerStageSubmitted"
    )
    assert p.tasks == sum(1 for e in events if e["Event"] == "SparkListenerTaskEnd")
    assert len(p.job_spans) == p.jobs
    # only bfs_depth was wrapped, and every job inside it carries the tag
    assert set(fn_jobs) == {"components.bfs_depth#1"}
    assert fn_jobs["components.bfs_depth#1"] == sum(
        1 for e in tagged_jobs
        if e["Properties"].get("perfbench.fn") == "components.bfs_depth#1"
    )
    # the three micro-batches of the streaming ingest
    assert len(p.batches) == 3
    assert p.py["sent_b"] > 0 and p.py["returned_b"] > 0


def test_layer_metrics_from_fixture(events):
    m = eventlog.layer_metrics(
        events, {0: (10.0, 1000)}, FIXTURE_CALLS, FIXTURE_CHECKPOINTS, 4
    )
    passes, fn_jobs = eventlog.parse_events(events)
    assert m["spark.jobs"] == passes["0"].jobs
    assert m["components.bfs_depth.jobs"] == fn_jobs["components.bfs_depth#1"]
    assert m["streaming.batches"] == 3
    assert m["checkpoint.count"] == 7 and m["checkpoint.mb"] > 0
    assert m["streaming.rows_per_s"] > 0
    assert 0 < m["spark.cpu_util"] < 1
    assert m["spark.driver_gap_s"] < 10.0
    assert m["spark.shuffle_records_per_out_row"] == pytest.approx(
        passes["0"].shuffle_records / 1000
    )


def test_union_of_job_spans():
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog.union_ms([(0, 10), (2, 3)]) == 10
    assert eventlog.union_ms([]) == 0


def test_per_layer_names_match_benchmark_json(events):
    layers = {name: 1.0 for name in run.ANALYTICS_LAYERS + run.OLTP_LAYERS}
    metrics = run.per_layer_metrics(
        events, {0: (10.0, 1000)}, FIXTURE_CALLS, FIXTURE_CHECKPOINTS,
        layers, 9.0, 8.0, {"pass_s": 10.0, "pass_cpu_s": 20.0},
    )
    assert set(metrics) == {m["name"] for m in spec()["per_layer"]}
    line = json.loads(run.result_line(run.Tally(), metrics))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_end_to_end_names_match_benchmark_json():
    metrics = run.end_to_end_metrics(
        17.0, {"pass_s": 1.0, "pass_cpu_s": 2.0, "peak_rss_mb": 1e3}
    )
    assert set(metrics) == {m["name"] for m in spec()["end_to_end"]}


def test_every_layer_names_what_it_should_move():
    with open(os.path.join(HERE, "layers.json")) as fh:
        moves = json.load(fh)
    s = spec()
    assert set(moves) == {m["name"] for m in s["per_layer"]}
    e2e = {m["name"] for m in s["end_to_end"]}
    workloads = {w["name"] for w in s["workloads"]}
    for name, why in moves.items():
        assert why["moves"].split(" ")[0] in e2e | {"failed"}, name
        assert set(why["workload"].split(", ")) <= workloads, name


def test_frames_match_rules():
    import pandas as pd

    from checks import frames_match
    from tools.check_oracles import normalize

    a = pd.DataFrame({"k": [2, 1], "x": [0.5, 1.0 / 3]})
    b = pd.DataFrame({"k": [1, 2], "x": [1.0 / 3 + 1e-12, 0.5]})
    assert frames_match(a, b, normalize) == (True, "")
    assert not frames_match(a, b.assign(k=[1, 3]), normalize)[0]
    assert not frames_match(a, b.head(1), normalize)[0]


def test_oltp_script_agrees_with_the_store():
    """The script's page model matches AssemblageDb on every read of a
    whole round; searches, which need a Spark session, are left out."""
    from oltp import READ_KINDS, WRITE_KINDS, Round, Samples

    class NoSearch(Round):
        def search(self):
            pass

    tally, out = run.Tally(), Samples()
    texts = [f"w{i} x{i % 3} y{i % 5} z{i % 7}" for i in range(40)]
    NoSearch(None, texts, 7, out, tally).play()
    assert tally.attempted > 50 and tally.failed == 0
    assert set(out.lat) == set(WRITE_KINDS + READ_KINDS)


def test_missing_program_exits_nonzero_without_result(tmp_path, capsys):
    """From a directory holding only the benchmark, the run must fail."""
    import shutil
    import subprocess

    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "oltp",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
