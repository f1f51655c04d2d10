"""The benchmark's workloads: each feeds a pre-generated backlog to one
production entry point, as a closed loop from one driver thread.

A *pass* is one production call.  ``start_pass`` prepares its input and
output directory, untimed; only ``run_pass`` is timed.  ``check_pass`` then
returns what the pass got wrong against the generator's expected values,
and ``epochs`` one record per epoch it committed; ``verify`` reads the last
output back from disk for the full check.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from gen import Dataset


@dataclass
class Pass:
    input_path: str
    out_dir: str
    files_done: int  # input files the output should hold after the pass
    files_in_pass: int


def _committed_epochs(checkpoint: str) -> int:
    return sum(1 for f in os.listdir(os.path.join(checkpoint, "commits")) if f.isdigit())


class EpochListener:
    """Collects ``triggerExecution``/``addBatch`` and state-operator figures
    of every streaming epoch."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.epochs: list[dict] = []
        self._lock = threading.Lock()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators
                with outer._lock:
                    outer.epochs.append(
                        {
                            "batch_id": p.batchId,
                            "latency_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                            "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
                            "rows": p.numInputRows,
                            "state_rows": sum(o.numRowsTotal for o in ops),
                            "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
                            "state_commit_ms": sum(o.commitTimeMs for o in ops),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def take(self, n_expected: int, timeout: float = 10.0) -> list[dict]:
        """Wait until ``n_expected`` epochs arrived (listener events are
        delivered asynchronously), then hand them over and reset."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.epochs) >= n_expected:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.epochs = self.epochs, []
        if len(out) != n_expected:
            raise RuntimeError(f"{len(out)} epoch progress events, expected {n_expected}")
        return out


@dataclass
class Workload:
    name: str
    n_files: int
    convs_per_file: int
    tiny_files: int
    tiny_convs_per_file: int
    # epochs already handed out per output dir; kept across sessions
    _seen: dict = field(default_factory=dict, init=False, repr=False)

    checkpoint = ""
    nominal_pass_s = 1.0  # sets the number of passes a window holds

    def sizes(self, tiny: bool) -> tuple[int, int]:
        if tiny:
            return self.tiny_files, self.tiny_convs_per_file
        return self.n_files, self.convs_per_file

    def attach(self, spark) -> None:
        """Register the epoch listener on a new session."""
        self.listener = EpochListener()
        spark.streams.addListener(self.listener.listener)

    def epochs(self, out_dir: str) -> list[dict]:
        """The epochs committed since the last call for ``out_dir``; each
        record's ``latency_s`` is its ``triggerExecution`` time."""
        n = _committed_epochs(os.path.join(out_dir, self.checkpoint))
        new, self._seen[out_dir] = n - self._seen.get(out_dir, 0), n
        return self.listener.take(new)

    def start_pass(self, ds: Dataset, work: str, k: int) -> Pass | None:
        """Input and output of pass ``k``, or None when the backlog is empty."""
        raise NotImplementedError

    def cold_pass(self, ds: Dataset, work: str, i: int) -> Pass:
        """Pass 0's input again, with an output directory of its own."""
        raise NotImplementedError

    def run_pass(self, spark, p: Pass) -> None:
        raise NotImplementedError

    def check_pass(self, spark, ds: Dataset, p: Pass) -> list[str]:
        raise NotImplementedError

    def verify(self, spark, ds: Dataset, p: Pass) -> list[str]:
        raise NotImplementedError

    def report(self, spark, ds: Dataset, out_dir: str) -> str:
        raise NotImplementedError


def _check_counts(got: dict[str, int], want: dict[str, int], what: str) -> list[str]:
    return [
        f"{what} {k}: {got.get(k)} != expected {v}" for k, v in want.items() if got.get(k) != v
    ]


class StreamSmallEpochs(Workload):
    """``streaming.adapter.run_streaming`` (availableNow, one file per
    trigger, snapshot-table sinks) run once per landed file, against one
    growing output: each pass lands the next backlog file and drains it in
    one epoch, so the sinks, the snapshot logs and the manifest fragment
    and grow as they do under a scheduled incremental ingest."""

    checkpoint = "_stream_checkpoint"
    nominal_pass_s = 4.5

    def start_pass(self, ds, work, k):
        if k >= ds.n_files:
            return None
        landing = os.path.join(work, "landing")
        os.makedirs(landing, exist_ok=True)
        name = f"part-{k:05d}.parquet"
        os.replace(os.path.join(ds.path, name), os.path.join(landing, name))
        return Pass(landing, os.path.join(work, "out"), k + 1, 1)

    def cold_pass(self, ds, work, i):
        name = "part-00000.parquet"
        src = os.path.join(ds.path, name)
        if not os.path.exists(src):  # pass 0 has moved it to the landing dir
            src = os.path.join(work, "landing", name)
        landing = os.path.join(work, f"cold{i}", "landing")
        os.makedirs(landing, exist_ok=True)
        shutil.copyfile(src, os.path.join(landing, name))
        return Pass(landing, os.path.join(work, f"cold{i}", "out"), 1, 1)

    def run_pass(self, spark, p):
        from wolf_quake_spark.streaming.adapter import run_streaming

        run_streaming(
            spark, p.input_path, p.out_dir, max_files_per_trigger=1, table_format="snapshot"
        )

    def check_pass(self, spark, ds, p):
        from wolf_quake_spark.plans.checkpoint import Manifest

        want = ds.expected(p.files_done).counts
        return _check_counts(Manifest(p.out_dir).totals(), want, "manifest")

    def verify(self, spark, ds, p):
        """Row counts of every sink, and the aggregate sums, read from disk."""
        from pyspark.sql import functions as F

        from wolf_quake_spark.operators.route import SINKS as ROUTE_SINKS
        from wolf_quake_spark.plans.pipeline import AGG_SINKS
        from wolf_quake_spark.sources.catalog import SinkCatalog

        cat = SinkCatalog(spark, p.out_dir)
        want = ds.expected(p.files_done)
        got = {s: cat.read(s).count() for s in ROUTE_SINKS + AGG_SINKS}
        sums = {
            "total_kills": cat.read("game_totals").agg(F.sum("total_kills")).first()[0],
            "histogram_kills": cat.read("mod_histogram").agg(F.sum("kills")).first()[0],
            "score": cat.read("player_ranking").agg(F.sum("score")).first()[0],
        }
        return _check_counts(got, want.counts, "on disk") + _check_counts(
            sums, want.sums, "sum"
        )

    def report(self, spark, ds, out_dir):
        from wolf_quake_spark.report import report_from_out_dir

        return report_from_out_dir(spark, out_dir, conv_ids=[ds.report_conv])


class StreamStateful(Workload):
    """``streaming.stateful.run_streaming_stateful`` on RocksDB, a few files
    per trigger, draining the whole backlog into a fresh ``games`` sink."""

    checkpoint = "_stateful_checkpoint"
    nominal_pass_s = 4.5
    FILES_PER_TRIGGER = 2

    def start_pass(self, ds, work, k):
        return Pass(ds.path, os.path.join(work, f"out{k}"), ds.n_files, ds.n_files)

    def cold_pass(self, ds, work, i):
        return Pass(ds.path, os.path.join(work, f"cold{i}"), ds.n_files, ds.n_files)

    def run_pass(self, spark, p):
        from wolf_quake_spark.streaming.stateful import run_streaming_stateful

        run_streaming_stateful(
            spark,
            p.input_path,
            p.out_dir,
            max_files_per_trigger=self.FILES_PER_TRIGGER,
            rocksdb=True,
        )

    def _games(self, spark, p):
        return spark.read.parquet(os.path.join(p.out_dir, "games"))

    def check_pass(self, spark, ds, p):
        want = {"game_totals": ds.expected(p.files_done).counts["game_totals"]}
        return _check_counts({"game_totals": self._games(spark, p).count()}, want, "games")

    def verify(self, spark, ds, p):
        from pyspark.sql import functions as F

        kills = self._games(spark, p).agg(F.sum("total_kills")).first()[0]
        want = {"total_kills": ds.expected(p.files_done).sums["total_kills"]}
        return _check_counts({"total_kills": kills}, want, "sum")

    def report(self, spark, ds, out_dir):
        from pyspark.sql import functions as F

        from wolf_quake_spark.report import render_text, reports_from_stateful_games

        rows = (
            spark.read.parquet(os.path.join(out_dir, "games"))
            .filter(F.col("conv_id") == ds.report_conv)
            .collect()
        )
        return render_text(reports_from_stateful_games(rows, ds.report_conv))


WORKLOADS = {
    w.name: w
    for w in (
        StreamSmallEpochs(
            "stream_small_epochs", n_files=16, convs_per_file=10, tiny_files=6, tiny_convs_per_file=2
        ),
        StreamStateful(
            "stream_stateful", n_files=6, convs_per_file=25, tiny_files=4, tiny_convs_per_file=2
        ),
    )
}
