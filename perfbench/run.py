"""Benchmark of the production pipeline path.

Run from the repository root:

    python3 perfbench/run.py --workload stream_small_epochs --seed 1 --seconds 20 --trace 0

Each run builds a SparkSession through ``session.build_session`` at
``local[N]`` with N shuffle partitions (N = half the listed CPUs, see
``_cores``), generates the workload's input from ``--seed`` and feeds it to
one production entry point as a closed loop from this driver thread: a cold
first pass, two warm-up passes, then the fixed number of passes that
``--seconds`` holds at the workload's nominal pass time.  Every pass is
checked against the generator's expected values, the last output is read
back from disk, and every one-conversation report is compared with the
oracle's.

``--trace 0`` prints the end-to-end metrics; it ends with a second cold
first pass in a fresh JVM, and ``first_pass_s`` is the faster of the two.
``--trace 1`` spends half the window untraced and half traced (event log, job tags, spans around the
catalog, checkpoint, snapshot and report calls) and prints the per-layer
metrics, including the traced-to-untraced throughput ratio.

``setup_s`` is the median of three set-ups: this process's cold start (JVM
launch, session, first trivial job) and two rebuilds of the session in the
same JVM.  ``peak_rss_mb`` is the peak summed proportional set size of this
process, the JVM and its Python workers, so pages a forked worker shares
with its parent count once.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  A fuller record (host
block, input sizes, samples, spans) is written under ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPEATS = 3  # the first is the cold start of this process
WARMUP_PASSES = 2  # after the first pass the JIT is still compiling
# First passes, each in a fresh JVM: one before the window and one after it.
# first_pass_s is the faster one.  A cold pass does fixed work, but on a
# shared host other load comes in bursts that stretched single cold passes
# by up to half; the faster of two passes some 45 s apart is the one no burst
# hit.  Each further fresh JVM adds about 20 s to a run.
COLD_STARTS = 2
REPORT_WARMUP = 1
REPORT_REPEATS = 5

END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "first_pass_s": "s",
    "setup_s": "s",
    "epoch_s.p50": "s",
    "report_s": "s",
    "cpu_s_per_mturn": "s/Mturn",
    "peak_rss_mb": "MB",
}


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read().decode()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cores() -> int:
    """Task slots: half the CPUs the kernel lists.  On the 4-vCPU host this
    was tuned on, four CPU-bound processes each ran at half the speed of
    one (the vCPUs are SMT siblings), and ``local[4]`` was both slower and
    less steady than ``local[2]``: the JIT, GC and Python workers need the
    other half."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _host(spark, ds) -> dict:
    import pyarrow

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "task_slots": _cores(),
        "cpu_model": model,
        "mem_total_mb": mem_kb // 1024,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_sha": sha,
        "input": ds.describe(),
    }


def _prepare_env(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # without -XX:-UsePerfData the JVM writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The default 8g heap grows by a different amount from run to run, and
    # several such JVMs would crowd a small host.
    os.environ["WQS_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None


def _session(work: str, event_dir: str | None = None):
    from wolf_quake_spark.session import build_session

    n = _cores()
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    return build_session(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def _shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from spans import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    children = descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in children) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, 9)
        except (ProcessLookupError, PermissionError):
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


class Harness:
    """One closed-loop driver: runs passes of a workload and keeps what the
    metrics need."""

    def __init__(self, wl, ds, work: str, recorder, sampler) -> None:
        self.wl, self.ds, self.work = wl, ds, work
        self.rec, self.sampler = recorder, sampler
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self._n = 0
        self.marks: list[tuple[str, float]] = []  # phase starts, for the record
        self.last = None  # the last Pass run

    def one_pass(self, spark) -> dict | None:
        """Run the next pass; None when the backlog is used up."""
        p = self.wl.start_pass(self.ds, self.work, self._n)
        if p is None:
            return None
        self._n += 1
        result = self._timed(spark, p)
        if self.last and self.last.out_dir != p.out_dir:
            shutil.rmtree(self.last.out_dir, ignore_errors=True)
        self.last = p
        return result

    def cold_pass(self, i: int) -> dict:
        """Pass 0's work again in a fresh JVM, into directories of its own:
        the first pass of another ``cli.py run``."""
        self.marks.append((f"cold_start{i}", time.monotonic()))
        _shutdown_jvm()
        spark = _session(self.work)
        spark.range(1).count()
        self.wl.attach(spark)
        p = self.wl.cold_pass(self.ds, self.work, i)
        result = self._timed(spark, p)
        spark.stop()
        shutil.rmtree(p.out_dir, ignore_errors=True)
        return result

    def _timed(self, spark, p) -> dict:
        """Time pass ``p`` and check its output."""
        self.attempted += 1
        error = None
        cpu0, _ = self.sampler.read()
        with self.rec.span("pass", workload=self.wl.name, out=p.out_dir):
            t0 = time.perf_counter()
            try:
                self.wl.run_pass(spark, p)
            except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
                error = f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
        cpu1, _ = self.sampler.read()
        epochs: list[dict] = []
        if error is None:
            errs = _guard(self.wl.check_pass, spark, self.ds, p)
            if errs:
                error = "; ".join(errs)
            else:
                try:
                    epochs = self.wl.epochs(p.out_dir)
                except RuntimeError as e:  # progress events went missing
                    error = str(e)
        if error is not None:
            self.failed += 1
            self.errors.append(error)
        return {
            "wall": wall,
            "cpu": cpu1 - cpu0,
            "turns": self.ds.turns(p.files_in_pass),
            "epochs": epochs,
            "ok": error is None,
        }

    def window(self, spark, seconds: float) -> list[dict]:
        """The passes that fill ``seconds`` at the workload's nominal pass
        time.  The count is fixed by ``seconds`` alone, so every run times
        the same passes; pass times still fall while the JIT warms up, and
        a count that followed the clock would let that trend into the
        figures."""
        self.marks.append(("window", time.monotonic()))
        passes = []
        for _ in range(max(1, round(seconds / self.wl.nominal_pass_s))):
            result = self.one_pass(spark)
            if result is None:
                break
            passes.append(result)
        if not passes:
            raise RuntimeError("the backlog ran out before the window started")
        return passes

    def final_checks(self, spark) -> list[float]:
        """Read the last pass back and time the one-conversation report."""
        self.marks.append(("final_checks", time.monotonic()))
        errs = _guard(self.wl.verify, spark, self.ds, self.last)
        if errs:
            self.failed += 1  # the last pass's output is wrong after all
            self.errors.extend(errs)
        times = []
        for _ in range(REPORT_WARMUP + REPORT_REPEATS):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                text = self.wl.report(spark, self.ds, self.last.out_dir)
            except Exception as e:  # noqa: BLE001 - a failed report is counted
                text = f"{type(e).__name__}: {e}"
            times.append(time.perf_counter() - t0)
            if text != self.ds.expected_report:
                self.failed += 1
                self.errors.append("report differs from the oracle's")
        return times[REPORT_WARMUP:]


def _guard(check, *args) -> list[str]:
    """A check that raises reports the exception as its finding."""
    try:
        return check(*args)
    except Exception as e:  # noqa: BLE001 - counted as a failed operation
        return [f"{check.__name__}: {type(e).__name__}: {e}"]


def _turns_per_s(passes: list[dict]) -> float:
    """Turns completed per second over the window's passes.  Pass times
    still fall while the JIT warms up, so the total over the window is
    steadier than the median pass."""
    return sum(p["turns"] for p in passes) / sum(p["wall"] for p in passes)


def _install_tracing(spark, rec):
    """Wrap the public calls each layer exposes with a span and a job tag;
    returns a function that removes the wrappers."""
    from wolf_quake_spark.plans import checkpoint, snapshots
    from wolf_quake_spark.sources import catalog

    sc = spark.sparkContext
    saved = []

    def tagged(name, fn, attrs=lambda *a, **k: {}):
        def wrapper(*a, **k):
            with rec.span(name, **attrs(*a, **k)) as sid:
                tag = f"perfbench-{sid}"
                sc.addJobTag(tag)
                try:
                    return fn(*a, **k)
                finally:
                    sc.removeJobTag(tag)

        return wrapper

    def patch(owner, attr, name, attrs=lambda *a, **k: {}):
        fn = getattr(owner, attr)
        saved.append((owner, attr, fn))
        setattr(owner, attr, tagged(name, fn, attrs))

    patch(
        catalog.SinkCatalog,
        "write_batch_counted",
        "catalog.write",
        lambda self, df, sink, batch_id: {"sink": sink, "batch_id": batch_id},
    )
    patch(checkpoint.Manifest, "record", "checkpoint.record")
    patch(snapshots, "append", "snapshots.commit", lambda *a, **k: {"op": "append"})
    patch(snapshots, "create_table", "snapshots.commit", lambda *a, **k: {"op": "create"})

    def restore():
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)

    return tagged, restore


def _on_disk(p) -> dict[str, float]:
    """Files and metadata of pass ``p``'s output.  Data files are counted
    per pass; metadata and manifest sizes are totals, as the next commit
    finds them."""
    from wolf_quake_spark.plans.snapshots import SNAP_LOG

    data_files = snap_meta = snap_files = 0
    for sink in sorted(os.listdir(p.out_dir)):
        d = os.path.join(p.out_dir, sink)
        if not os.path.isdir(d) or sink.startswith("_"):
            continue
        snapshot = os.path.exists(os.path.join(d, SNAP_LOG))
        for dirpath, _, files in os.walk(d):
            in_data = os.path.relpath(dirpath, d).split(os.sep)[0] == "data"
            for f in files:
                if f.endswith(".parquet"):
                    data_files += 1
                    snap_files += snapshot
                elif snapshot and not in_data and not f.startswith("."):
                    snap_meta += os.path.getsize(os.path.join(dirpath, f))
    manifest = os.path.join(p.out_dir, "_manifest.json")
    share = p.files_in_pass / p.files_done
    return {
        "catalog.files_written": data_files * share,
        "snapshots.metadata_bytes": snap_meta,
        "snapshots.data_files": snap_files * share,
        "checkpoint.manifest_bytes": os.path.getsize(manifest) if os.path.exists(manifest) else 0,
    }


def run(args) -> dict:
    from gen import generate
    from spans import Recorder, Sampler
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    work = args.work
    rec = Recorder(f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    load_before = _loadavg()
    detail: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
    with Sampler(rec) as sampler:
        setup = []
        spark = _session(work)
        spark.range(1).count()
        setup.append(_process_age())
        for _ in range(SETUP_REPEATS - 1):
            spark.stop()
            t0 = time.perf_counter()
            spark = _session(work)
            spark.range(1).count()
            setup.append(time.perf_counter() - t0)
        wl.attach(spark)

        n_files, convs_per_file = wl.sizes(args.tiny)
        ds = generate(os.path.join(work, "input"), args.seed, n_files, convs_per_file)
        detail["host"] = _host(spark, ds)
        h = Harness(wl, ds, work, rec, sampler)
        h.marks.append(("first_pass", time.monotonic()))
        first = h.one_pass(spark)
        warmup = [h.one_pass(spark) for _ in range(WARMUP_PASSES)]

        if args.trace:
            metrics, samples, units, passes = _traced(args, spark, wl, ds, h, rec, work)
        else:
            sampler.reset()
            n_samples = len(rec.samples)
            passes = h.window(spark, args.seconds)
            peak_rss = sampler.peak_rss
            n_samples = len(rec.samples) - n_samples
            report_times = h.final_checks(spark)
            detail["report_times"] = report_times
            spark.stop()
            firsts = [first] + [h.cold_pass(i) for i in range(1, COLD_STARTS)]
            detail["cold_passes"] = firsts[1:]
            epochs = [e["latency_s"] for p in passes for e in p["epochs"]] or [0.0]
            metrics = {
                "turns_per_s": _turns_per_s(passes),
                "first_pass_s": min(f["wall"] for f in firsts),
                "setup_s": statistics.median(setup),
                "epoch_s.p50": statistics.median(epochs),
                "report_s": statistics.median(report_times),
                "cpu_s_per_mturn": sum(p["cpu"] for p in passes) / sum(p["turns"] for p in passes) * 1e6,
                "peak_rss_mb": peak_rss / 2**20,
            }
            samples = {
                "turns_per_s": len(passes),
                "first_pass_s": len(firsts),
                "setup_s": len(setup),
                "epoch_s.p50": len(epochs),
                "report_s": len(report_times),
                "cpu_s_per_mturn": len(passes),
                "peak_rss_mb": n_samples,
            }
            units = END_TO_END_UNITS
        detail.update(
            setup_samples=setup,
            first_pass=first,
            warmup_passes=warmup,
            passes=passes,
            errors=h.errors,
            load_before=load_before,
            phases=[(name, round(t - h.marks[0][1], 3)) for name, t in h.marks],
        )
    _shutdown_jvm()
    detail["load_after"] = _loadavg()
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
        "units": units,
        "samples": samples,
        "detail": detail,
        "recorder": rec,
    }


def _traced(args, spark, wl, ds, h, rec, work: str):
    """Half the window untraced, half traced.  Each half starts on a fresh
    SparkContext (the event log can only be switched on at start), so both
    pay the same restart cost and ``trace.overhead`` compares like with like."""
    import eventlog

    def restart(event_dir=None):
        spark.stop()
        new = _session(work, event_dir)
        wl.attach(new)
        return new

    spark = restart()
    untraced = h.window(spark, args.seconds / 2)
    event_dir = os.path.join(work, "eventlog")
    spark = restart(event_dir)
    tagged, restore = _install_tracing(spark, rec)
    t_traced = time.time()
    try:
        passes = h.window(spark, args.seconds / 2)
        epochs = [e for p in passes for e in p["epochs"]]
        disk = _on_disk(h.last)
        h.final_checks(spark)
        tagged("report", wl.report)(spark, ds, h.last.out_dir)
    finally:
        restore()
    spark.stop()  # flushes the event log
    log = eventlog.parse(eventlog.read_events(event_dir))
    m = eventlog.layer_metrics(
        log,
        [s for s in rec.spans if s.start >= t_traced],
        turns=sum(p["turns"] for p in passes),
        batches=len(epochs),
        cores=_cores(),
        stateful=wl.name == "stream_stateful",
    )
    m.update(disk)
    stream = bool(epochs)
    m["stream.add_batch_s"] = statistics.median(e["add_batch_s"] for e in epochs) if stream else 0
    m["stream.overhead_s"] = (
        statistics.median(e["latency_s"] - e["add_batch_s"] for e in epochs) if stream else 0
    )
    m["stream.epochs"] = len(epochs) / len(passes) if stream else 0
    m["stateful.state_rows"] = epochs[-1]["state_rows"] if stream else 0
    m["stateful.state_mem_bytes"] = epochs[-1]["state_mem_bytes"] if stream else 0
    m["stateful.state_commit_ms"] = (
        sum(e["state_commit_ms"] for e in epochs) / len(passes) if stream else 0
    )
    m["trace.overhead"] = _turns_per_s(passes) / _turns_per_s(untraced)
    units = {k: eventlog.UNITS[k] for k in m}
    samples = {k: len(passes) for k in m}
    return m, samples, units, untraced + passes


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = p.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "wolf_quake_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))
    ):
        print(
            "perfbench: run from the repository root; wolf_quake_spark/ or "
            "tests/oracle.py is missing here",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    args.work = os.path.join(base, f"work-{os.getpid()}")
    # a terminated run still stops the JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _prepare_env(args.work)
    try:
        result = run(args)
    finally:
        try:
            _shutdown_jvm()
        finally:
            shutil.rmtree(args.work, ignore_errors=True)

    rec = result.pop("recorder")
    units, samples, detail = result.pop("units"), result.pop("samples"), result.pop("detail")
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, rec.run_id)
    rec.dump(stem + ".spans.json")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump({**result, "units": units, "samples": samples, "detail": detail}, f, indent=1)

    for name, value in result["metrics"].items():
        print(f"{name} = {value:.6g} {units[name]} (samples: {samples[name]})")
    for err in detail["errors"]:
        print(f"error: {err}")
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
