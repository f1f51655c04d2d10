"""``run_batch`` sink fan-out and the codegen cache it relies on.

The first sink is written alone (it builds the DISK_ONLY persist); the rest
are written concurrently from a thread pool.  These tests pin what the
concurrent writes must keep from the sequential loop: counts in the fixed
sink order, error propagation, the persist outliving every write, and the
caller's job tags on the pool threads' jobs (strict mode: test_resume.py).
"""

from __future__ import annotations

import threading

import pytest

from wolf_quake_spark.datagen import synth_transcripts
from wolf_quake_spark.operators import assign_games, extract_events
from wolf_quake_spark.operators.aggregates import (
    game_totals,
    mod_histogram,
    player_ranking,
)
from wolf_quake_spark.operators.route import SINKS, route
from wolf_quake_spark.plans.pipeline import AGG_SINKS, run_batch
from wolf_quake_spark.sources.catalog import SinkCatalog

ALL_SINKS = SINKS + AGG_SINKS


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Three transcript files of the same shape (different seeds)."""
    paths = []
    for seed in (1, 2, 3):
        path = str(tmp_path_factory.mktemp("fanout") / f"t{seed}")
        synth_transcripts(
            spark, n_convs=6, lines_per_turn=3, seed=seed, n_games=3, kills_per_game=8
        ).repartition(2, "conv_id").write.parquet(path)
        paths.append(path)
    return paths


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_steady_state_batch_compiles_nothing(spark, inputs, tmp_path):
    cat = SinkCatalog(spark, str(tmp_path / "out"), table_format="snapshot")
    for i, path in enumerate(inputs[:2]):
        run_batch(spark.read.parquet(path), cat, f"b{i}")
    before = _compiles(spark)
    run_batch(spark.read.parquet(inputs[2]), cat, "b2")
    assert _compiles(spark) == before, (
        "a warm batch recompiled generated code: its plans outgrew "
        "spark.sql.codegen.cache.maxEntries (session.py)"
    )


def test_fanout_counts_equal_sequential(spark, inputs, tmp_path):
    tr = spark.read.parquet(inputs[0])
    sess = assign_games(extract_events(tr)).cache()
    frames = {
        **route(sess),
        "game_totals": game_totals(sess),
        "mod_histogram": mod_histogram(sess),
        "player_ranking": player_ranking(sess),
    }
    expected = {name: df.count() for name, df in frames.items()}
    sess.unpersist()

    cat = SinkCatalog(spark, str(tmp_path / "out"))
    res = run_batch(tr, cat, "b0", verify=True)
    assert list(res.counts) == list(ALL_SINKS)
    assert res.counts == expected
    assert res.counts["kills"] > 0


def test_failed_write_propagates_after_the_others_finish(
    spark, inputs, tmp_path, monkeypatch
):
    events: list[tuple[str, str]] = []
    real_write = SinkCatalog.write_batch_counted
    frame_cls = type(spark.range(1))
    real_unpersist = frame_cls.unpersist

    def write(self, df, sink, batch_id):
        if sink == "game_boundaries":
            raise RuntimeError("injected write failure")
        n = real_write(self, df, sink, batch_id)
        events.append(("wrote", sink))
        return n

    def unpersist(self, *a, **k):
        events.append(("unpersist", ""))
        return real_unpersist(self, *a, **k)

    monkeypatch.setattr(SinkCatalog, "write_batch_counted", write)
    monkeypatch.setattr(frame_cls, "unpersist", unpersist)
    cat = SinkCatalog(spark, str(tmp_path / "out"))
    with pytest.raises(RuntimeError, match="injected write failure"):
        run_batch(spark.read.parquet(inputs[0]), cat, "b0")

    others = [s for s in ALL_SINKS if s != "game_boundaries"]
    assert sorted(s for kind, s in events if kind == "wrote") == sorted(others)
    assert events[-1] == ("unpersist", "")
    assert [kind for kind, _ in events].count("unpersist") == 1


def test_caller_job_tag_reaches_pool_thread_jobs(spark, inputs, tmp_path, monkeypatch):
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    threads: dict[str, int] = {}
    real_write = SinkCatalog.write_batch_counted

    def write(self, df, sink, batch_id):
        # a tag set inside one write must stay on that write's jobs
        threads[sink] = threading.get_ident()
        sc.addJobTag(f"wqs-test-sink-{sink}")
        try:
            return real_write(self, df, sink, batch_id)
        finally:
            sc.removeJobTag(f"wqs-test-sink-{sink}")

    monkeypatch.setattr(SinkCatalog, "write_batch_counted", write)
    cat = SinkCatalog(spark, str(tmp_path / "out"))
    sc.addJobTag("wqs-test-caller")
    try:
        run_batch(spark.read.parquet(inputs[0]), cat, "b0")
    finally:
        sc.removeJobTag("wqs-test-caller")

    caller = set(tracker.getJobIdsForTag("wqs-test-caller"))
    per_sink = {s: set(tracker.getJobIdsForTag(f"wqs-test-sink-{s}")) for s in ALL_SINKS}
    main = threading.get_ident()
    assert threads[SINKS[0]] == main
    assert all(threads[s] != main for s in ALL_SINKS[1:])
    for sink, jobs in per_sink.items():
        assert jobs, sink
        assert jobs <= caller, sink
    seen: set[int] = set()
    for jobs in per_sink.values():
        assert not jobs & seen
        seen |= jobs
