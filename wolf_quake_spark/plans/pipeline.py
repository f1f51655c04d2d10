"""End-to-end pipeline assembly: parse → enrich → route → aggregate.

``run_batch`` executes the logical pipeline on one transcripts DataFrame;
``run_resumable`` drives it batch-by-batch over a file-based input with the
checkpoint manifest (plans/checkpoint.py).

Strict vs lenient (reference aborts on first malformed gated line,
src/main.rs:33-39): ``strict=True`` raises ``PipelineRejectError`` after the
rejects sink lands if any reject rows exist; lenient keeps going.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from wolf_quake_spark.operators.aggregates import (
    game_totals,
    mod_histogram,
    player_ranking,
)
from wolf_quake_spark.operators.extract import EXTRACTORS
from wolf_quake_spark.operators.route import route
from wolf_quake_spark.operators.sessionize import assign_games
from wolf_quake_spark.plans.checkpoint import Manifest, BatchRecord, plan_batches
from wolf_quake_spark.sources.catalog import SinkCatalog

AGG_SINKS = ("game_totals", "mod_histogram", "player_ranking")


class PipelineRejectError(RuntimeError):
    pass


@dataclass
class BatchResult:
    counts: dict[str, int]
    wall_secs: float


def run_batch(
    transcripts: DataFrame,
    catalog: SinkCatalog,
    batch_id: str,
    strict: bool = False,
    extractor: str = "udf",
    with_aggregates: bool = True,
    verify: bool = False,
    skew_chunk_turns: int | None = None,
) -> BatchResult:
    """Run one batch.  Sink counts come from ``df.observe`` metrics collected
    by the write jobs themselves; ``verify=True`` additionally reads each sink
    back and asserts the on-disk count matches (a full second pass over the
    output — integrity check, off by default).

    Write order: the first sink (``kills``) is written alone on the calling
    thread, and that job materialises the DISK_ONLY persist.  The remaining
    sinks are then written concurrently from a thread pool, all reading the
    persist, so their small jobs overlap instead of queueing behind each
    other.  Launching every write at once is slower: before the persist
    exists each write plans and runs its own extract.  Counts come back in
    the fixed sink order.  A failing concurrent write re-raises once the
    others have finished, and strict mode raises only once every sink,
    ``rejects`` included, is on disk.

    ``skew_chunk_turns`` switches sessionization to the salted segmented
    scan (operators/sessionize.py::assign_games_salted) so a
    mega-conversation spreads over ``n_turns / skew_chunk_turns`` tasks
    instead of serializing on one; output is row-identical."""
    t0 = time.monotonic()
    extract = EXTRACTORS[extractor]
    # DISK_ONLY, deliberately: the sessionized frame of a 100 TB input never
    # fits executor memory, and the serialized disk store (absorbed by the OS
    # page cache when it does fit) avoids the MemoryStore unroll-lock
    # contention that serializes many-core cache builds — measured 2× faster
    # than MEMORY_AND_DISK at local[32] (see BENCH.md).
    if skew_chunk_turns is not None:
        from wolf_quake_spark.operators.sessionize import assign_games_salted

        sess = assign_games_salted(extract(transcripts), skew_chunk_turns)
    else:
        sess = assign_games(extract(transcripts))
    sess = sess.persist(StorageLevel.DISK_ONLY)
    try:
        to_write = dict(route(sess))
        if with_aggregates:
            to_write.update(
                game_totals=game_totals(sess),
                mod_histogram=mod_histogram(sess),
                player_ranking=player_ranking(sess),
            )

        def write(name: str) -> int:
            n = catalog.write_batch_counted(to_write[name], name, batch_id)
            if verify:
                on_disk = catalog.read_batch(name, batch_id).count()
                if on_disk != n:
                    raise RuntimeError(
                        f"sink {name} batch {batch_id}: wrote {n} "
                        f"rows but read back {on_disk}"
                    )
            return n

        first, *rest = to_write
        counts = {first: write(first)}
        # Leaving the block joins the pool, so every write has finished,
        # failed or not, before the finally below unpersists.  Each task
        # gets its own copy of the caller's local properties and tags: one
        # shared copy would leak a tag set inside one write into the others.
        session = sess.sparkSession
        with ThreadPoolExecutor(max_workers=len(rest)) as pool:
            pending = [
                (name, pool.submit(inheritable_thread_target(session)(write), name))
                for name in rest
            ]
        counts.update((name, fut.result()) for name, fut in pending)
        if strict and counts.get("rejects", 0) > 0:
            raise PipelineRejectError(
                f"strict mode: {counts['rejects']} reject rows in batch {batch_id}"
            )
        return BatchResult(counts=counts, wall_secs=time.monotonic() - t0)
    finally:
        sess.unpersist()


def run_resumable(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    files_per_batch: int = 64,
    strict: bool = False,
    extractor: str = "udf",
    with_aggregates: bool = True,
    iceberg_catalog: str | None = None,
    verify: bool = False,
    skew_chunk_turns: int | None = None,
    table_format: str = "parquet",
) -> Manifest:
    """Batch-resumable run over a parquet transcripts table.

    Precondition for cross-batch correctness: conversations do not span
    input-file-batch boundaries (conv-partitioned/bucketed layout — the
    standard Iceberg layout for this table; see plans/checkpoint.py).

    ``table_format="snapshot"`` fans the sinks out into emulated snapshot
    tables (batch-ledger idempotence instead of batch-dir overwrite) — the
    north rule's per-event-type Iceberg sinks, emulated.
    """
    catalog = SinkCatalog(
        spark, out_dir, iceberg_catalog=iceberg_catalog, table_format=table_format
    )
    manifest = Manifest(out_dir)

    files = spark.read.parquet(input_path).inputFiles()
    for batch_id, chunk in plan_batches(files, files_per_batch):
        if batch_id in manifest.completed:
            continue
        transcripts = spark.read.parquet(*chunk)
        result = run_batch(
            transcripts,
            catalog,
            batch_id,
            strict=strict,
            extractor=extractor,
            with_aggregates=with_aggregates,
            verify=verify,
            skew_chunk_turns=skew_chunk_turns,
        )
        manifest.record(
            BatchRecord(
                batch_id=batch_id,
                input_files=[f.rsplit("/", 1)[-1] for f in chunk],
                sink_counts=result.counts,
                wall_secs=round(result.wall_secs, 3),
            )
        )
    return manifest
