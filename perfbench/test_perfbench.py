"""Self-tests of the benchmark: generator arithmetic, the metric table in
BENCHMARK.json, and that a wrong expectation is caught.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen
from perfbench.run import END_TO_END_UNITS, PER_LAYER_UNITS, ROOT, tail


def test_delta_feed_serves_each_epoch_plus_previous_marker():
    f = gen.DeltaFeed(seed=3, n_base=1000, n_changed=40, n_echoes=10, n_churn=5, n_hot=4)
    f.publish()
    rows, tombs = f._feed(f.base_end_ms, False), f._feed(f.base_end_ms, True)
    assert (len(rows), len(tombs)) == (40 + 5 + 10, 5)
    # the conservative watermark lands just below the marker of epoch 1
    since = f.epoch_ms(1) + gen.HOUR_MS - 1500
    f.publish()
    assert len(f._feed(since, False)) == 40 + 5 + 10 + 1
    assert len(f._feed(since, True)) == 5
    # paging returns every row exactly once
    url = f"/resources?limit=7&modifiedSince={gen.iso(since)}&expand=FULL"
    got = []
    while url:
        page = f.fetch_json(url)
        got += [r["href"] for r in page["results"]]
        url = page["$$meta"].get("next")
    assert len(got) == 56


def test_corpus_cluster_count_is_planted():
    docs, clusters = gen.make_corpus(seed=9, n_docs=200)
    assert len(docs) == 200 and len({d for d, _ in docs}) == 200
    assert 0 < clusters < 200
    assert docs == gen.make_corpus(seed=9, n_docs=200)[0]


def test_tail_percentile_has_ten_samples_beyond():
    assert tail([1.0] * 5) == (50.0, 1.0)
    pct, _ = tail([float(i) for i in range(40)])
    assert pct == 75.0


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS


needs_spark = pytest.mark.skipif(
    os.environ.get("PERFBENCH_SPARK_TESTS") != "1",
    reason="starts a Spark session; set PERFBENCH_SPARK_TESTS=1",
)


@needs_spark
def test_base_frame_json_matches_generator(tmp_path):
    """The JVM-built base rows are byte-identical to the generator's docs."""
    from perfbench import run, workloads

    spark = run.start_session("selftest", str(tmp_path), trace=False)
    try:
        w = workloads.DeltaSync(spark, str(tmp_path), seed=5, trace=False)
        got = w.base_frame().limit(3).collect()
    finally:
        run.stop_session(spark)
    for row in got:
        i = int(row["href"].rsplit("/", 1)[1])
        want = gen.dumps(gen.make_doc("/resources", i, gen.BASE_MS + i * 1000, seed=5, rev=0))
        assert row["resource"] == want


@needs_spark
def test_wrong_expectation_is_caught(monkeypatch, capsys):
    """A delta op whose expected row count is off by one must fail its
    check, lower ok_frac and flip ``correct``."""
    from perfbench import run, workloads

    monkeypatch.setattr(workloads.DeltaSync, "N_BASE", 2000)
    monkeypatch.setattr(workloads.DeltaSync, "N_CHANGED", 100)
    monkeypatch.setattr(workloads.DeltaSync, "N_ECHOES", 20)
    monkeypatch.setattr(workloads.DeltaSync, "N_CHURN", 10)
    monkeypatch.setattr(workloads.DeltaSync, "WARMUP", 0)
    monkeypatch.setattr(workloads.DeltaSync, "LOADS", 1)
    right = workloads.DeltaSync.expected
    monkeypatch.setattr(
        workloads.DeltaSync, "expected", lambda self, e: (right(self, e)[0] + 1, right(self, e)[1])
    )
    assert run.main(["--workload", "delta_sync", "--seed", "1", "--seconds", "1"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1
    assert result["metrics"]["ok_frac"]["value"] == 0.0
