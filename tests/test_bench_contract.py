"""Pin the driver-facing bench.py output contract WITHOUT running Spark.

Round-9 verdict "what's wrong" #5: the driver failed to parse the bench
payload for six straight rounds (BENCH_r03..r08 all have rc=0 but
``parsed: null``) and nothing pinned the contract that the ONE-line JSON
is the LAST line bench.py prints. These tests run ``bench.main()`` with
every Spark-touching hook stubbed, so they pin the printing/shape logic
itself — the part that broke — at unit-test cost.
"""

from __future__ import annotations

import io
import json
from contextlib import redirect_stdout


class _StubContext:
    defaultParallelism = 4

    def setLogLevel(self, level):
        pass

    def setJobDescription(self, desc):
        pass


class _StubSpark:
    sparkContext = _StubContext()


def _run_main(monkeypatch, tmp_path, sf_dir="/root/testdata/sf0.1"):
    import bench

    import assemblagedb_spark.session as session

    monkeypatch.setattr(session, "get_spark", lambda name: _StubSpark())
    monkeypatch.setattr(bench, "warmup", lambda spark, sf: None)
    monkeypatch.setattr(
        bench,
        "time_canaries",
        lambda spark, runs=2: {k: 0.25 for k in bench.CANARY_QUERIES},
    )
    calls = []

    def fake_time_queries(spark, sf, names, runs=2):
        calls.append((sf, list(names)))
        return {n: 0.5 for n in names}

    monkeypatch.setattr(bench, "time_queries", fake_time_queries)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    # keep the BENCH_LOCAL.json side write away from the repo
    monkeypatch.setattr(
        bench, "bench_local_path", lambda: str(tmp_path / "BENCH_LOCAL.json")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        bench.main()
    return buf.getvalue(), calls


def test_bench_prints_one_json_line_last(monkeypatch, tmp_path):
    out, calls = _run_main(monkeypatch, tmp_path)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    # the payload is the LAST non-empty stdout line and is valid JSON
    payload = json.loads(lines[-1])
    # and it is the ONLY stdout line — anything else printed before it
    # is what historically broke the driver's parse
    assert len(lines) == 1, out
    assert payload["unit"] == "sec"
    assert isinstance(payload["value"], (int, float))
    assert payload["sf"] == 0.1
    # every bench key appears in queries; keys only ever append
    import bench

    assert set(payload["queries"]) == set(bench.BENCH_QUERIES)
    assert set(payload["queries_normalized"]) == set(bench.BENCH_QUERIES)
    assert "canary" in payload and "factor" in payload["canary"]


def test_bench_respects_sf_dir_env(monkeypatch, tmp_path):
    out, calls = _run_main(monkeypatch, tmp_path, sf_dir="/some/dir/sf0.01")
    payload = json.loads(out.splitlines()[-1])
    assert payload["sf"] == 0.01
    # the timed queries actually received the env-provided directory
    assert all(sf == "/some/dir/sf0.01" for sf, _ in calls)
    # both halves of the suite were timed, covering every key exactly once
    timed = [n for _, names in calls for n in names]
    import bench

    assert timed == bench.BENCH_QUERIES
