"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench -q

The tiny-run tests start Spark; each takes about half a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from spans import Recorder, Span, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "pass", 0.0, 10.0, None, "r"),
        Span(2, "write", 1.0, 4.0, 1, "r"),
        Span(3, "write", 3.0, 6.0, 1, "r"),  # overlaps span 2
        Span(4, "commit", 2.0, 3.0, 2, "r"),
        Span(5, "late", 9.0, 12.0, 1, "r"),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(3.0)


def test_spans_opened_on_another_thread_hang_off_the_open_root():
    import threading

    rec = Recorder("r")

    def write():
        with rec.span("catalog.write"):
            pass

    with rec.span("pass") as root:
        t = threading.Thread(target=write)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
        with rec.span("child"):
            pass
    parents = {s.name: s.parent for s in rec.spans}
    assert parents == {"catalog.write": root, "child": root, "pass": None}


def test_expected_values_follow_the_oracle():
    lines = [
        " 0:00 InitGame: \\x",
        " 0:01 ClientConnect: 2",
        " 0:02 ClientUserinfoChanged: 2 n\\Ann\\t\\0",
        " 0:03 Kill: 1022 2 22: <world> killed Ann by MOD_TRIGGER_HURT",
        " 0:04 Kill: 2 2 7: Ann killed Ann by MOD_ROCKET_SPLASH",
        " 0:05 ShutdownGame:",
        " 0:06 Kill: x 2 7:",
        " 0:07 InitGame: \\x",
        " 0:08 Kill: 3 2 7: tail kill in the open game",
    ]
    exp, games = gen.expected_for(lines)
    assert exp.counts == {
        "kills": 3,  # the open game's kill lands in the kills sink
        "game_boundaries": 3,
        "player_state": 2,
        "rejects": 2,  # the malformed kill, and the kill by an unconnected player
        "game_totals": 1,
        "mod_histogram": 2,
        "player_ranking": 1,
    }
    assert exp.sums == {"total_kills": 2, "histogram_kills": 2, "score": 0}
    assert "Ann: 0" in gen.expected_report(games)


def test_a_wrong_expected_count_fails_the_pass(tmp_path):
    """A pass whose sink counts differ from the expected ones is counted as
    failed, and so is a report that differs from the oracle's."""
    from run import REPORT_REPEATS, REPORT_WARMUP, Harness
    from workloads import Pass, StreamSmallEpochs

    from wolf_quake_spark.plans.checkpoint import BatchRecord, Manifest

    ds = gen.generate(str(tmp_path / "in"), seed=3, n_files=1, convs_per_file=2)
    truth = dict(ds.expected(1).counts)

    class Fake(StreamSmallEpochs):
        """Writes a manifest with the true counts; checks it as the real
        workload does."""

        def start_pass(self, ds, work, k):
            return Pass(ds.path, str(tmp_path / f"out{k}"), 1, 1)

        def run_pass(self, spark, p):
            Manifest(p.out_dir).record(BatchRecord("b", [], truth, 0.0))

        def epochs(self, out_dir):
            return []

        def verify(self, spark, ds, p):
            return []

        def report(self, spark, ds, out_dir):
            return "not the oracle's report"

    class NoSampler:
        def read(self):
            return 0.0, 0

    h = Harness(Fake("fake", 1, 1, 1, 1), ds, str(tmp_path), Recorder("r"), NoSampler())
    assert h.one_pass(None)["ok"] and h.failed == 0
    ds.per_conv.counts["kills"] += 1
    assert not h.one_pass(None)["ok"]
    assert (h.attempted, h.failed) == (2, 1)
    h.final_checks(None)
    n = REPORT_WARMUP + REPORT_REPEATS
    assert (h.attempted, h.failed) == (2 + n, 1 + n)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = subprocess.run(
        BENCH["command"] + ["--workload", "stream_stateful", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def _tiny_run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        BENCH["command"]
        + ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


LAYERS = {
    "stream_small_epochs": (
        "extract.task_s",
        "sessionize.task_s",
        "route.task_s",
        "aggregates.task_s",
        "snapshots.commit_s",
        "stream.epochs",
    ),
    "stream_stateful": ("stateful.task_s", "stateful.state_rows", "stream.epochs"),
}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    out = _tiny_run(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if trace:
        m = {k: v["value"] for k, v in out["metrics"].items()}
        # layer attribution on the tiny traced run's event log
        assert m["trace.unattributed_share"] <= 0.05
        for name in LAYERS[workload] + ("driver.jobs_per_batch", "report.rows_read"):
            assert m[name] > 0, name
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())
