"""The measured-run primitive in bench.py that every timing script shares,
and the timing tools' command lines."""

import glob
import os
import subprocess
import sys

import pytest

import bench

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_measure_warms_untimed_then_samples_after_before(spark, sf_dir):
    events = []

    def fn(spark, _sf_dir):
        events.append("fn")
        return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()

    samples = bench.measure(
        spark, fn, sf_dir, 3, before=lambda: events.append("before")
    )

    # one untimed warm-up, then before() ahead of every timed run
    assert events == ["fn"] + ["before", "fn"] * 3
    assert len(samples) == 3
    for s in samples:
        assert set(s) == {"build_s", "exec_s", "wall_s", "jobs"}
        assert s["jobs"] >= 1
        assert s["build_s"] >= 0 and s["exec_s"] > 0
        assert s["build_s"] + s["exec_s"] == pytest.approx(s["wall_s"])


def test_warm_covers_exactly_the_three_consumer_classes(monkeypatch):
    from hls_payer_mrf_sparkstreaming_spark.operators import dedup
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
    )
    from hls_payer_mrf_sparkstreaming_spark.plans.mrf_queries import (
        SILVER_CONSUMER_QUERIES,
    )

    written = []
    monkeypatch.setattr(bench, "noop", written.append)
    monkeypatch.setattr(dedup, "neardup_edges", lambda spark, sf: "edges")
    names = list(all_queries())
    queries = {n: (lambda n: lambda spark, sf: n)(n) for n in names}

    edge = dedup.EDGE_CONSUMER_QUERIES | {"neardup_pairs_lsh"}
    assert edge <= set(names) and SILVER_CONSUMER_QUERIES <= set(names)
    for name in names:
        written.clear()
        bench.warm(None, queries, name, "sf")
        expected = []
        if name in edge:
            expected.append("edges")
        if name in SILVER_CONSUMER_QUERIES:
            expected.append(name)
        assert written == expected, name


@pytest.mark.parametrize(
    "tool",
    sorted(
        os.path.relpath(p, REPO_ROOT)
        for p in glob.glob(os.path.join(REPO_ROOT, "tools", "*.py"))
    ),
)
def test_tool_help_exits_zero_without_spark(tool, tmp_path):
    # JAVA_HOME points nowhere, so a tool that starts Spark before it
    # parses its arguments fails instead of printing usage
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-java"))
    r = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, tool), "--help"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("usage:")
    assert os.listdir(tmp_path) == []
