"""Benchmark harness (driver contract).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...extras}

Headline: end-to-end transcript pipeline (vectorized extract → broadcast
enrich → window sessionize → route → aggregate) on a seeded synthetic
transcripts table sized to the SF dir, reported as turns/sec; plus per-query
timings for every driver-contract query at $SPARK_GRAFT_SF_DIR.

Env:
  SPARK_GRAFT_SF_DIR  input tables dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] core count (default 32)
  WQS_BENCH_EXTRACTOR udf|pandas|sql|both|all  (default both = arrow-"udf"
                                          vs pure-Catalyst "sql"; "all" adds
                                          the pandas reference path)
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark import StorageLevel

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TURNS_PER_SF = 4_000_000  # sf0.1 → ~400k turns


def sf_of(path: str) -> float:
    name = os.path.basename(path.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def bench_input(spark, sf: float, mega_factor: int = 50):
    """Seeded transcripts table cached as conv-partitioned parquet."""
    from wolf_quake_spark.datagen import synth_transcripts

    target_turns = max(20_000, int(sf * TURNS_PER_SF))
    path = os.path.join(REPO, ".cache", f"bench_transcripts_{target_turns}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        probe = synth_transcripts(spark, n_convs=1, lines_per_turn=4)
        turns_per_conv = probe.count()
        n_convs = max(8, target_turns // turns_per_conv)
        df = synth_transcripts(
            spark, n_convs=n_convs, lines_per_turn=4, mega_factor=mega_factor
        )
        df.repartition(max(CPUS * 2, 32), "conv_id").write.mode("overwrite").parquet(path)
    return path


def run_pipeline(spark, path: str, extractor: str) -> dict:
    from wolf_quake_spark.operators import assign_games
    from wolf_quake_spark.operators.aggregates import (
        game_totals,
        mod_histogram,
        player_ranking,
    )
    from wolf_quake_spark.operators.extract import EXTRACTORS

    # size input splits so the narrow extract stage can use every core
    # (default 128m packs a small bench input into one or two partitions)
    total_bytes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    split = max(1 << 20, total_bytes // (CPUS * 3))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    tr = spark.read.parquet(path)
    n_turns = tr.count()
    ex = EXTRACTORS[extractor]
    # warm-up: one full-size unmeasured run.  A fresh JVM's first execution
    # of each query shape pays one-off JIT/codegen/Python-worker costs that
    # slice-sized warm-ups don't fully absorb (measured: multi-second stalls
    # at zero CPU, see BENCH.md); the 100 TB analog is a long-running job
    # where startup amortizes away, so steady state is the honest headline.
    warm = assign_games(ex(tr)).persist(StorageLevel.DISK_ONLY)
    warm.groupBy("event_type").count().collect()
    for agg in (game_totals, mod_histogram, player_ranking):
        agg(warm).write.mode("overwrite").format("noop").save()
    warm.unpersist()
    # best of two measured runs: even after the full-size warm-up, the FIRST
    # measured run in a fresh JVM was observed 2.8x slower than the next
    # (27.4 s vs 9.8 s, same code/input — residual JIT tiers + Python-worker
    # pool growth + this host's noisy-neighbor bursts).  Both trials are
    # reported; the min is the steady-state headline.
    # three trials: this host's background load swings 2x+ within minutes
    # (BENCH.md "load regimes"); a third sample materially improves the odds
    # that the min reflects engine speed rather than neighbor noise.
    trials = []
    counts: dict = {}
    for _ in range(3):
        t0 = time.monotonic()
        sess = assign_games(ex(tr)).persist(StorageLevel.DISK_ONLY)
        counts = {
            r["event_type"]: r["count"]
            for r in sess.groupBy("event_type").count().collect()
        }
        for agg in (game_totals, mod_histogram, player_ranking):
            agg(sess).write.mode("overwrite").format("noop").save()
        trials.append(time.monotonic() - t0)
        sess.unpersist()
    secs = min(trials)
    return {
        "turns": n_turns,
        "secs": round(secs, 3),
        "secs_trials": [round(t, 3) for t in trials],
        "turns_per_sec": round(n_turns / secs, 1),
        "routed": counts,
    }


def run_stateful(spark, path: str) -> dict:
    """Streaming stateful sessionizer (applyInPandasWithState, RocksDB
    state store) draining the same transcripts input with one availableNow
    trigger — the incremental path's throughput next to the batch headline.
    Best-of-2: the first drain pays Python-worker + RocksDB open costs."""
    import shutil
    import tempfile

    from wolf_quake_spark.streaming.stateful import run_streaming_stateful

    n = spark.read.parquet(path).count()
    trials = []
    games = 0
    for _ in range(2):
        out = tempfile.mkdtemp(prefix="wqs_stateful_bench_")
        t0 = time.monotonic()
        run_streaming_stateful(spark, path, out, rocksdb=True)
        trials.append(time.monotonic() - t0)
        games = spark.read.parquet(os.path.join(out, "games")).count()
        shutil.rmtree(out, ignore_errors=True)
    secs = min(trials)
    return {
        "turns": n,
        "secs": round(secs, 3),
        "secs_trials": [round(t, 3) for t in trials],
        "turns_per_sec": round(n / secs, 1),
        "games": games,
        "state_store": "rocksdb",
    }


def run_snapshot_ingest(spark, path: str) -> dict:
    """Exactly-once streaming ingest into the snapshot table (append
    mode, availableNow) — what landing the same transcripts costs when
    every micro-batch must commit atomically with its epoch ledger.
    Best-of-2: the first drain pays stream-source + table-create costs."""
    import shutil
    import tempfile

    from wolf_quake_spark.plans.snapshots import read_snapshot
    from wolf_quake_spark.streaming.snapshot_sink import run_stream_to_snapshot

    n = spark.read.parquet(path).count()
    trials = []
    rows = 0
    for _ in range(2):
        tbl = tempfile.mkdtemp(prefix="wqs_snap_bench_")
        shutil.rmtree(tbl)
        t0 = time.monotonic()
        state = run_stream_to_snapshot(
            spark, path, tbl, ["conv_id", "turn_idx"]
        )
        trials.append(time.monotonic() - t0)
        rows = read_snapshot(spark, tbl).count()
        assert rows == n, f"snapshot ingest lost rows: {rows} != {n}"
        shutil.rmtree(tbl, ignore_errors=True)
    secs = min(trials)
    return {
        "turns": n,
        "secs": round(secs, 3),
        "secs_trials": [round(t, 3) for t in trials],
        "turns_per_sec": round(n / secs, 1),
        "epochs": int(state["stream_epochs"]["transcripts"]) + 1,
    }


def run_ann_index_split(spark) -> dict:
    """Train-vs-search split for the materialized IVFADC index: build ONCE
    into a scratch dir, then time the search and ingest-encode hot paths
    at a fixed trained index — the regression-visible numbers a deployment
    cares about (the registry's ivfpq_* rows deliberately retrain per call
    for oracle independence, which makes their timings ~80% training)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from wolf_quake_spark.analysis.ann_index import (
        ivfpq_build_index,
        ivfpq_index_batch_search,
        ivfpq_index_encode,
        ivfpq_index_search,
    )
    from wolf_quake_spark.queries import _query_vec

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    qv = _query_vec(spark, SF_DIR)
    idx = tempfile.mkdtemp(prefix="wqs_bench_ivfpq_")
    try:
        t0 = time.monotonic()
        rep = ivfpq_build_index(emb, idx)
        build_secs = time.monotonic() - t0

        search_trials = []
        for _ in range(3):
            t0 = time.monotonic()
            ivfpq_index_search(spark, idx, qv, n_probes=3, k=10).write.mode(
                "overwrite"
            ).format("noop").save()
            search_trials.append(time.monotonic() - t0)
        t0 = time.monotonic()
        ivfpq_index_encode(spark, idx, emb).write.mode("overwrite").format(
            "noop"
        ).save()
        encode_secs = time.monotonic() - t0

        # bulk mode: every ~11th corpus vector queries in ONE plan — the
        # per-query amortization a pipeline gets vs n single searches
        qs = emb.filter(F.col("vec_id") % 11 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        n_batch = qs.count()
        t0 = time.monotonic()
        ivfpq_index_batch_search(spark, idx, qs, n_probes=3, k=10).write.mode(
            "overwrite"
        ).format("noop").save()
        batch_secs = time.monotonic() - t0
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    return {
        "build_secs": round(build_secs, 3),
        "search_secs": round(min(search_trials), 3),
        "search_trials": [round(t, 3) for t in search_trials],
        "encode_secs": round(encode_secs, 3),
        "batch_search_secs": round(batch_secs, 3),
        "batch_queries": n_batch,
        "n_cells": rep["n_cells"],
        "n_vecs": rep["n"],
    }


def main() -> None:
    from wolf_quake_spark.session import build_session

    sf = sf_of(SF_DIR)
    spark = build_session(
        "wqs-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    extractor_mode = os.environ.get("WQS_BENCH_EXTRACTOR", "both")
    path = bench_input(spark, sf)

    pipeline: dict = {}
    modes = {
        "both": ["udf", "sql"],
        "all": ["udf", "pandas", "sql"],
    }.get(extractor_mode, [extractor_mode])
    for m in modes:
        pipeline[m] = run_pipeline(spark, path, m)

    stateful = None
    if os.environ.get("WQS_BENCH_STATEFUL", "1") != "0":
        stateful = run_stateful(spark, path)

    snap_ingest = None
    if os.environ.get("WQS_BENCH_SNAPSHOT", "1") != "0":
        snap_ingest = run_snapshot_ingest(spark, path)

    ann_split = None
    if os.environ.get("WQS_BENCH_ANN", "1") != "0":
        ann_split = run_ann_index_split(spark)

    import __spark_entry__ as entry_mod

    qtimes: dict[str, float] = {}
    for name, fn in sorted(entry_mod.queries().items()):
        def one_run() -> float:
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            secs = time.monotonic() - t0
            # release shared persisted frames (LSH shingles / simhash64
            # fingerprints) — CacheManager pins them for the session otherwise
            from wolf_quake_spark.analysis import persisted_handles

            for handle in persisted_handles(df):
                handle.unpersist()
            return secs
        first = one_run()
        # queries ≥1 s pay a visible first-run codegen/JIT cost for their
        # (fresh) query shape; a second run prices steady state.  Sub-second
        # queries stay single-shot to bound total bench wall time.
        qtimes[name] = round(first if first < 1.0 else min(first, one_run()), 3)

    # headline = fastest pipeline path this round.  Both paths are
    # correctness-equal implementations of the same engine (parity-tested);
    # the arrow path usually wins in quiet windows while the pure-Catalyst
    # path degrades less under host contention (no Python worker pool), so
    # picking per-round min reports what the engine actually achieves.  All
    # paths and trials remain in the "pipeline" section.
    headline = max(pipeline.values(), key=lambda p: p["turns_per_sec"])
    # value == sum of every entry in the queries table it ships (including
    # the stateful row when enabled) — consumers cross-checking the sidecar
    # must never see a silent mismatch
    total = round(
        sum(qtimes.values())
        + sum(p["secs"] for p in pipeline.values())
        + (stateful["secs"] if stateful is not None else 0.0)
        + (snap_ingest["secs"] if snap_ingest is not None else 0.0)
        + (
            ann_split["build_secs"]
            + ann_split["search_secs"]
            + ann_split["encode_secs"]
            + ann_split["batch_search_secs"]
            if ann_split is not None
            else 0.0
        ),
        3,
    )
    out = {
        "metric": "parsed turns/sec end-to-end (parse→enrich→route→aggregate)",
        "value": total,
        "unit": "sec",
        "queries": {**{f"pipeline_{m}": pipeline[m]["secs"] for m in modes}, **qtimes},
        "sf": sf,
        "turns_per_sec": headline["turns_per_sec"],
        "pipeline": pipeline,
        "cpus": CPUS,
    }
    if stateful is not None:
        out["stateful"] = stateful
        out["queries"]["pipeline_stateful"] = stateful["secs"]
    if snap_ingest is not None:
        out["snapshot_ingest"] = snap_ingest
        out["queries"]["pipeline_snapshot_ingest"] = snap_ingest["secs"]
    if ann_split is not None:
        out["ann_index"] = ann_split
        out["queries"]["ivfpq_index_build"] = ann_split["build_secs"]
        out["queries"]["ivfpq_search_only"] = ann_split["search_secs"]
        out["queries"]["ivfpq_encode_only"] = ann_split["encode_secs"]
        out["queries"]["ivfpq_batch_search_only"] = ann_split["batch_search_secs"]
    # full machine-readable sidecar: the driver's BENCH_r record truncates
    # the JSON tail, losing half the per-query table — persist the complete
    # dict so round-over-round diffs always have every query
    with open(os.path.join(REPO, "BENCH_full.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
