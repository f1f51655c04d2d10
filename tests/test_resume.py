"""Fan-out routing, checkpoint/resume, strict mode, and the CLI."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from wolf_quake_spark.cli import main as cli_main
from wolf_quake_spark.datagen import synth_transcripts
from wolf_quake_spark.operators import assign_games, extract_events
from wolf_quake_spark.operators.route import route
from wolf_quake_spark.plans.checkpoint import Manifest
from wolf_quake_spark.plans.pipeline import (
    PipelineRejectError,
    run_batch,
    run_resumable,
)
from wolf_quake_spark.sources.catalog import SinkCatalog


@pytest.fixture(scope="module")
def small_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("input") / "transcripts")
    df = synth_transcripts(spark, n_convs=12, lines_per_turn=3, n_games=4, kills_per_game=12)
    df.repartition(6, "conv_id").write.mode("overwrite").parquet(path)
    return path


def test_routed_rows_partition_gated_lines(spark, small_input):
    tr = spark.read.parquet(small_input)
    audit = extract_events(tr, audit=True)
    gated = audit.filter("event_type <> 'dropped'").count()
    ignored = audit.filter("event_type = 'ignored'").count()

    sess = assign_games(extract_events(tr))
    sinks = route(sess, with_orphans=False)
    routed = sum(sinks[s].count() for s in ("kills", "game_boundaries", "player_state", "rejects"))
    assert routed + ignored == gated


def test_resume_skips_completed_and_counts_match(spark, small_input, tmp_path):
    out1 = str(tmp_path / "run_full")
    m1 = run_resumable(spark, small_input, out1, files_per_batch=2, verify=True)
    assert len(m1.completed) >= 2
    totals_full = m1.totals()
    assert totals_full["kills"] > 0 and totals_full["game_totals"] > 0

    # interrupted run: pretend the last batch died mid-write — drop its
    # manifest entry and scribble partial junk into its sink dir
    out2 = str(tmp_path / "run_interrupted")
    m2 = run_resumable(spark, small_input, out2, files_per_batch=2)
    records = m2.records()
    victim = records[-1]
    manifest_path = os.path.join(out2, "_manifest.json")
    data = json.load(open(manifest_path))
    data["batches"] = [b for b in data["batches"] if b["batch_id"] != victim.batch_id]
    json.dump(data, open(manifest_path, "w"))
    # leave a partial/corrupt batch dir behind (must be overwritten on resume)
    for sink in ("kills", "game_totals"):
        d = os.path.join(out2, sink, f"batch={victim.batch_id}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        open(os.path.join(d, "part-junk.parquet"), "w").write("not parquet")

    m3 = run_resumable(spark, small_input, out2, files_per_batch=2)
    assert m3.totals() == totals_full
    # and the final sink contents equal the uninterrupted run's
    for sink in ("kills", "player_ranking"):
        a = spark.read.parquet(os.path.join(out1, sink, "*")).count()
        b = spark.read.parquet(os.path.join(out2, sink, "*")).count()
        assert a == b


def test_resume_is_noop_when_complete(spark, small_input, tmp_path):
    out = str(tmp_path / "run")
    m1 = run_resumable(spark, small_input, out, files_per_batch=3)
    mtimes = {p: os.path.getmtime(p) for p in glob.glob(os.path.join(out, "kills", "*", "*"))}
    m2 = run_resumable(spark, small_input, out, files_per_batch=3)
    assert m2.completed == m1.completed
    assert {p: os.path.getmtime(p) for p in glob.glob(os.path.join(out, "kills", "*", "*"))} == mtimes


def test_strict_mode_raises_on_rejects(spark, tmp_path):
    from wolf_quake_spark.datagen import transcripts_from_log

    tr = transcripts_from_log(spark, " 0:01 Kill: x 3 7:\n 0:02 ShutdownGame:", "c0")
    cat = SinkCatalog(spark, str(tmp_path / "strict_out"))
    with pytest.raises(PipelineRejectError):
        run_batch(tr, cat, "b0", strict=True)
    # the raise comes after every sink, rejects included, has landed
    assert cat.read_batch("rejects", "b0").count() == 1
    assert cat.read_batch("kills", "b0").count() == 0
    assert cat.read_batch("player_ranking", "b0").count() == 0
    # lenient: same input runs clean and routes the reject
    res = run_batch(tr, cat, "b1", strict=False)
    assert res.counts["rejects"] == 1


def test_cli_generate_run_report(spark, tmp_path, capsys):
    data = str(tmp_path / "cli_data")
    out = str(tmp_path / "cli_out")
    cli_main(["generate", "--out", data, "--convs", "4", "--out-partitions", "2",
              "--lines-per-turn", "2"])
    gen = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen["written_turns"] > 0

    cli_main(["run", "--input", data, "--out", out, "--files-per-batch", "1"])
    run_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run_out["batches"] >= 1 and run_out["totals"]["kills"] > 0

    cli_main(["report", "--out", out])
    rep = capsys.readouterr().out
    assert "Total game kills" in rep and "Game 1" in rep

    # report-type projections (reference src/cli.rs:9-16)
    cli_main(["report", "--out", out, "--report-type", "player-rank"])
    pr = capsys.readouterr().out
    assert "Kill Rank" in pr and "Death Causes" not in pr
    cli_main(["report", "--out", out, "--report-type", "mean-death"])
    md = capsys.readouterr().out
    assert "Death Causes" in md and "Kill Rank" not in md

    # file sink (reference src/main.rs:43-49) + html format + conv filter
    convs = sorted(r.conv_id for r in spark.read.parquet(data).select("conv_id").distinct().collect())
    rpt_file = str(tmp_path / "report.html")
    cli_main(["report", "--out", out, "--format", "html",
              "--output-file", rpt_file, "--conv", convs[0]])
    assert capsys.readouterr().out == ""
    html = open(rpt_file).read()
    assert html.startswith("<style>") and "Total game kills" in html
    assert f"== {convs[0]} ==" not in html  # single conv → no header


def test_manifest_atomicity(tmp_path):
    from wolf_quake_spark.plans.checkpoint import BatchRecord

    m = Manifest(str(tmp_path))
    m.record(BatchRecord("b1", ["f1"], {"kills": 3}, 0.1))
    m.record(BatchRecord("b2", ["f2"], {"kills": 4}, 0.1))
    m2 = Manifest(str(tmp_path))
    assert m2.completed == {"b1", "b2"}
    assert m2.totals() == {"kills": 7}


def test_compaction_preserves_rows_and_partitions(spark, tmp_path):
    """Small-file compaction: file counts collapse to the byte-target,
    footer-verified row counts and full content are unchanged, Hive
    partition columns still derive from directory names, and a second run
    is a no-op."""
    from pyspark.sql import functions as F

    from wolf_quake_spark.plans.compact import compact_dir

    root = str(tmp_path / "sink")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # deliberately shatter into many tiny files per language partition
    docs.repartition(12).write.partitionBy("lang").parquet(root)
    before = spark.read.parquet(root)
    n_before = before.count()
    sig_before = sorted(
        (r["doc_id"], r["lang"]) for r in before.select("doc_id", "lang").collect()
    )

    rep = compact_dir(spark, root, target_bytes=64 * 1024 * 1024)
    assert rep.files_before > rep.files_after
    assert all(v["files_after"] == 1 for v in rep.leaves.values())
    assert rep.rows == n_before

    after = spark.read.parquet(root)
    assert after.count() == n_before
    sig_after = sorted(
        (r["doc_id"], r["lang"]) for r in after.select("doc_id", "lang").collect()
    )
    assert sig_after == sig_before  # content identical, partitions intact
    # partition pruning still works on the compacted layout
    plan = (
        after.filter(F.col("lang") == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan

    rep2 = compact_dir(spark, root, target_bytes=64 * 1024 * 1024)
    assert all(v["skipped"] for v in rep2.leaves.values())  # idempotent


def test_compaction_crash_recovery(spark, tmp_path):
    """Every crash window of the journaled swap is repaired on the next run
    with zero row loss: (a) crash after the rewrite but before the journal
    (orphan tmp dir, invisible to readers, dropped+redone), (b) crash after
    the journal with moves half-done, (c) crash after moves with originals
    half-deleted."""
    import json
    import os
    import shutil

    from wolf_quake_spark.plans.compact import (
        _JOURNAL,
        _leaf_dirs,
        compact_dir,
    )

    def fresh_sink(name):
        root = str(tmp_path / name)
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        docs.repartition(6).write.parquet(root)
        return root, spark.read.parquet(root).count()

    # (a) orphan tmp: simulate a rewrite that crashed pre-verification
    root, n = fresh_sink("a")
    tmpdir = os.path.join(root, "_compact_tmp_deadbeef")
    os.makedirs(tmpdir)
    shutil.copy(
        next(os.path.join(root, f) for f in os.listdir(root) if f.endswith(".parquet")),
        os.path.join(tmpdir, "part-junk.parquet"),
    )
    assert _leaf_dirs(root) == [root]  # underscore dir is not a leaf
    rep = compact_dir(spark, root, target_bytes=64 * 1024 * 1024)
    assert not os.path.exists(tmpdir)  # orphan dropped
    assert rep.rows == n and spark.read.parquet(root).count() == n

    # (b)+(c): drive the real swap, then rewind it into each crash window
    root, n = fresh_sink("b")
    originals = sorted(f for f in os.listdir(root) if f.endswith(".parquet"))
    tmp = os.path.join(root, "_compact_tmp_cafef00d")
    spark.read.parquet(root).coalesce(1).write.mode("overwrite").parquet(tmp)
    new_files = sorted(
        os.path.join(tmp, f) for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    moves = [(f, f"compact-test-{i:05d}.parquet") for i, f in enumerate(new_files)]
    with open(os.path.join(root, _JOURNAL), "w", encoding="utf-8") as fh:
        json.dump({"tmp": tmp, "moves": moves, "old": originals}, fh)
    # crash window (b): journal written, zero moves done
    compact_dir(spark, root, target_bytes=64 * 1024 * 1024)
    assert not os.path.exists(os.path.join(root, _JOURNAL))
    assert spark.read.parquet(root).count() == n
    kept = sorted(f for f in os.listdir(root) if f.endswith(".parquet"))
    assert kept == ["compact-test-00000.parquet"]  # originals gone, new in

    # crash window (c): moves done, originals partially deleted
    root, n = fresh_sink("c")
    originals = sorted(f for f in os.listdir(root) if f.endswith(".parquet"))
    tmp = os.path.join(root, "_compact_tmp_0ddba11")
    spark.read.parquet(root).coalesce(1).write.mode("overwrite").parquet(tmp)
    new_files = sorted(
        os.path.join(tmp, f) for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    moves = [(f, f"compact-test-{i:05d}.parquet") for i, f in enumerate(new_files)]
    with open(os.path.join(root, _JOURNAL), "w", encoding="utf-8") as fh:
        json.dump({"tmp": tmp, "moves": moves, "old": originals}, fh)
    for src, dst in moves:
        shutil.move(src, os.path.join(root, dst))
    os.remove(os.path.join(root, originals[0]))  # crash mid-delete
    compact_dir(spark, root, target_bytes=64 * 1024 * 1024)
    assert spark.read.parquet(root).count() == n
    assert not any(f in os.listdir(root) for f in originals)

    # (d) TRUNCATED journal (pre-atomic-write artifact / fs corruption):
    # the journal write is now atomic, so "journal present ⇒ complete" —
    # an unparseable one means the swap never started and must be dropped
    # + redone, NOT crash recovery (which used to wedge every future run)
    root, n = fresh_sink("d")
    tmpdir = os.path.join(root, "_compact_tmp_feedface")
    os.makedirs(tmpdir)
    with open(os.path.join(root, _JOURNAL), "w", encoding="utf-8") as fh:
        fh.write('{"tmp": "' + tmpdir + '", "moves": [["a", ')  # cut mid-write
    rep = compact_dir(spark, root, target_bytes=64 * 1024 * 1024)
    assert not os.path.exists(os.path.join(root, _JOURNAL))
    assert not os.path.exists(tmpdir)  # staging reclaimed by orphan sweep
    assert rep.rows == n and spark.read.parquet(root).count() == n


def test_read_as_of_snapshot_semantics(spark, small_input, tmp_path):
    """Time-travel reads over the lineage manifest: 'as of batch k' equals
    the union of the first k committed batches, prefixes nest, the full
    snapshot equals a plain read, and unknown ids / empty selections
    raise."""
    import pytest

    from wolf_quake_spark.plans.checkpoint import Manifest, read_as_of

    out = str(tmp_path / "out")
    run_resumable(spark, small_input, out, files_per_batch=2)
    recs = Manifest(out).records()
    assert len(recs) >= 3  # multiple commits to travel across

    running = 0
    for k, rec in enumerate(recs, start=1):
        running += rec.sink_counts["kills"]
        # int form: first k commits; str form: up to this batch id
        assert read_as_of(spark, out, "kills", k).count() == running
        assert read_as_of(spark, out, "kills", rec.batch_id).count() == running

    full = spark.read.parquet(out + "/kills/*").count()
    assert read_as_of(spark, out, "kills", len(recs)).count() == full

    with pytest.raises(KeyError):
        read_as_of(spark, out, "kills", "nope")
    with pytest.raises(ValueError):
        read_as_of(spark, out, "kills", 0)


def test_incremental_view_refresh_equals_full_recompute(spark, tmp_path):
    """Materialized-view maintenance: each refresh folds ONLY newly
    committed batches, the pointer flips atomically, and after every
    refresh the view equals a from-scratch aggregate over all kills."""
    from pyspark.sql import functions as F

    from wolf_quake_spark.plans.incremental import read_view, refresh_mod_totals

    inp = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    view = str(tmp_path / "view")

    def full_recompute():
        return sorted(
            map(
                tuple,
                spark.read.parquet(out + "/kills/*")
                .groupBy("mod_name")
                .agg(F.count("*").cast("long").alias("n"))
                .collect(),
            )
        )

    def view_rows():
        return sorted(map(tuple, read_view(spark, view).collect()))

    def _write_convs(spark_, path, n_convs, seed):
        df = synth_transcripts(
            spark_, n_convs=n_convs, lines_per_turn=3, n_games=3,
            kills_per_game=8, seed=seed,
        ).withColumn("conv_id", F.concat(F.lit(f"s{seed}-"), F.col("conv_id")))
        df.repartition(max(2, n_convs // 2), "conv_id").write.mode("append").parquet(path)

    _write_convs(spark, inp, n_convs=4, seed=31)
    run_resumable(spark, inp, out, files_per_batch=1)
    r1 = refresh_mod_totals(spark, out, view)
    assert len(r1["processed_now"]) >= 2 and r1["version"] == 1
    assert view_rows() == full_recompute()

    # idempotent: nothing new -> no-op, same version
    r2 = refresh_mod_totals(spark, out, view)
    assert r2 == {"processed_now": [], "version": 1}

    # more conversations land and run -> only the NEW batches fold in
    _write_convs(spark, inp, n_convs=3, seed=37)
    run_resumable(spark, inp, out, files_per_batch=1)
    r3 = refresh_mod_totals(spark, out, view)
    assert r3["version"] == 2
    assert set(r3["processed_now"]).isdisjoint(r1["processed_now"])
    assert view_rows() == full_recompute()

    # grace retention: v1 survives one flip (a reader that loaded the state
    # just before the flip can finish reading it), v<N-2> is reclaimed
    import os

    assert os.path.isdir(os.path.join(view, "v1"))
    _write_convs(spark, inp, n_convs=2, seed=41)
    run_resumable(spark, inp, out, files_per_batch=1)
    r4 = refresh_mod_totals(spark, out, view)
    assert r4["version"] == 3
    assert not os.path.isdir(os.path.join(view, "v1"))  # two flips stale
    assert os.path.isdir(os.path.join(view, "v2"))
    assert view_rows() == full_recompute()


def test_read_changes_consumes_each_commit_exactly_once(spark, small_input, tmp_path):
    """The changes feed: chaining watermarks partitions the commit log —
    every row is delivered exactly once across calls, and a caught-up
    consumer gets (None, same watermark)."""
    import pytest

    from wolf_quake_spark.plans.checkpoint import read_changes

    out = str(tmp_path / "out")
    run_resumable(spark, small_input, out, files_per_batch=2)

    df1, wm1 = read_changes(spark, out, "kills", None)
    n1 = df1.count()
    assert n1 > 0 and wm1 is not None

    # caught up -> no frame, watermark unchanged
    df2, wm2 = read_changes(spark, out, "kills", wm1)
    assert df2 is None and wm2 == wm1

    # consume in two hops from the beginning: first commit, then the rest
    from wolf_quake_spark.plans.checkpoint import Manifest

    first = Manifest(out).records()[0].batch_id
    hop1 = spark.read.parquet(out + f"/kills/batch={first}")
    rest, wm_rest = read_changes(spark, out, "kills", first)
    assert hop1.count() + rest.count() == n1
    assert wm_rest == wm1

    with pytest.raises(KeyError):
        read_changes(spark, out, "kills", "bogus")
