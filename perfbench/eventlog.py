"""Spark event-log reader and layer attribution.

The traced run writes an uncompressed event log (Spark 4 rolls it into an
``eventlog_v2_<app>`` directory).  Each stage is attributed to a layer:

* by the innermost benchmark span whose job tag the stage carries, or, for
  stages with no benchmark tag (broadcast jobs run on a separate thread
  pool), by the innermost span open when the stage was submitted;
* within a sink write, by plan scope: the first write of a batch
  materializes the DISK_ONLY persist, so its ``MapInArrow`` stage goes to
  ``extract`` and the stage that builds the persisted window output goes to
  ``sessionize``.

Task time of stages that no layer claims is reported as unattributed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

from spans import Span, _covered

TAG_PREFIX = "perfbench-"
# The sinks run_batch writes.  Their names are part of the per-layer metric
# names in BENCHMARK.json, so they are spelled out here.
ROUTE_SINKS = ("kills", "game_boundaries", "player_state", "rejects")
AGG_SINKS = ("game_totals", "mod_histogram", "player_ranking")

# Every per-layer metric and its unit.  Times are per pass, bytes per
# input turn unless the name says otherwise.
UNITS = {
    "extract.task_s": "s",
    "extract.cpu_s": "s",
    "extract.input_bytes_per_turn": "B/turn",
    "extract.shuffle_write_bytes_per_turn": "B/turn",
    "extract.skew": "ratio",
    "sessionize.task_s": "s",
    "sessionize.max_task_s": "s",
    "sessionize.skew": "ratio",
    "sessionize.shuffle_read_bytes_per_turn": "B/turn",
    "sessionize.persist_bytes_per_turn": "B/turn",
    "sessionize.spill_bytes": "B",
    **{f"route.{s}.s": "s" for s in ROUTE_SINKS},
    "route.task_s": "s",
    **{f"aggregates.{s}.s": "s" for s in AGG_SINKS},
    "aggregates.task_s": "s",
    "aggregates.shuffle_bytes_per_turn": "B/turn",
    "catalog.write_s": "s",
    "catalog.output_bytes_per_turn": "B/turn",
    "catalog.files_written": "count",
    "snapshots.commit_s": "s",
    "snapshots.metadata_bytes": "B",
    "snapshots.data_files": "count",
    "checkpoint.record_s": "s",
    "checkpoint.manifest_bytes": "B",
    "stream.add_batch_s": "s",
    "stream.overhead_s": "s",
    "stream.epochs": "count",
    "stateful.task_s": "s",
    "stateful.cpu_s": "s",
    "stateful.shuffle_bytes_per_turn": "B/turn",
    "stateful.state_rows": "count",
    "stateful.state_mem_bytes": "B",
    "stateful.state_commit_ms": "ms",
    "report.rows_read": "count",
    "report.files_read": "count",
    "driver.jobs_per_batch": "count",
    "driver.stages_per_batch": "count",
    "driver.tasks_per_batch": "count",
    "driver.gap_s": "s",
    "driver.core_util": "ratio",
    "trace.overhead": "ratio",
    "trace.unattributed_share": "ratio",
}


@dataclass
class Task:
    run_s: float
    cpu_s: float
    input_bytes: int
    input_records: int
    shuffle_read: int
    shuffle_write: int
    output_bytes: int
    spill: int


@dataclass
class Stage:
    id: int
    submitted: float
    completed: float
    scopes: set[str]
    persists_to_disk: bool
    tags: set[str]
    tasks: list[Task] = field(default_factory=list)
    layer: str = ""

    @property
    def run_s(self) -> float:
        return sum(t.run_s for t in self.tasks)

    def skew(self) -> float:
        runs = [t.run_s for t in self.tasks]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0


@dataclass
class Log:
    stages: dict[int, Stage]
    jobs: list[tuple[float, float]]  # (submitted, completed)
    persist_bytes: int
    files_read_by_execution: dict[int, int]
    execution_start: dict[int, float]


def read_events(event_dir: str) -> list[dict]:
    files = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no event log under {event_dir}")
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _tags(props: dict) -> set[str]:
    raw = props.get("spark.job.tags") or ""
    return {t for t in raw.split(",") if t.startswith(TAG_PREFIX)}


def _plan_accums(plan: dict, name: str, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_accums(child, name, out)


def parse(events: list[dict]) -> Log:
    stages: dict[int, Stage] = {}
    stage_tags: dict[int, set[str]] = {}
    jobs = []
    job_start: dict[int, float] = {}
    persist = 0
    files_accums: set[int] = set()
    accum_updates: list[tuple[int, int, int]] = []
    execution_start: dict[int, float] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            stage_tags[e["Stage Info"]["Stage ID"]] = _tags(e.get("Properties") or {})
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" not in si:
                continue  # skipped stage: it never ran
            rdds = si.get("RDD Info", [])
            st = stages.setdefault(si["Stage ID"], Stage(si["Stage ID"], 0, 0, set(), False, set()))
            st.submitted = si["Submission Time"] / 1e3
            st.completed = si["Completion Time"] / 1e3
            st.scopes = {json.loads(r["Scope"])["name"] for r in rdds if r.get("Scope")}
            st.persists_to_disk = any(r["Storage Level"]["Use Disk"] for r in rdds)
            st.tags = stage_tags.get(si["Stage ID"], set())
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            sr = m["Shuffle Read Metrics"]
            task = Task(
                run_s=m["Executor Run Time"] / 1e3,
                cpu_s=m["Executor CPU Time"] / 1e9,
                input_bytes=m["Input Metrics"]["Bytes Read"],
                input_records=m["Input Metrics"]["Records Read"],
                shuffle_read=sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                shuffle_write=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                output_bytes=m["Output Metrics"]["Bytes Written"],
                spill=m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
            )
            # TaskEnd precedes its StageCompleted
            stages.setdefault(e["Stage ID"], Stage(e["Stage ID"], 0, 0, set(), False, set()))
            stages[e["Stage ID"]].tasks.append(task)
        elif kind == "SparkListenerJobStart":
            job_start[e["Job ID"]] = e["Submission Time"] / 1e3
        elif kind == "SparkListenerJobEnd":
            start = job_start.pop(e["Job ID"], None)
            if start is not None:
                jobs.append((start, e["Completion Time"] / 1e3))
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            if info["Block ID"].startswith("rdd_") and info["Storage Level"]["Use Disk"]:
                persist += info["Disk Size"]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            execution_start[e["executionId"]] = e["time"] / 1e3
            _plan_accums(e.get("sparkPlanInfo", {}), "number of files read", files_accums)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_accums(e.get("sparkPlanInfo", {}), "number of files read", files_accums)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                accum_updates.append((e["executionId"], acc_id, value))
    # a stage whose TaskEnd events arrived but whose completion was never
    # logged (the app stopped mid-stage) keeps submitted == 0: drop it
    stages = {k: s for k, s in stages.items() if s.submitted > 0}
    files_read: dict[int, int] = {}
    for ex, acc_id, value in accum_updates:
        if acc_id in files_accums:
            files_read[ex] = files_read.get(ex, 0) + int(value)
    return Log(stages, jobs, persist, files_read, execution_start)


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.id > best.id):
            best = s
    return best


def _sink_of(span: Span, by_id: dict[int, Span]) -> str | None:
    while span is not None:
        if span.name == "catalog.write":
            return span.attrs["sink"]
        span = by_id.get(span.parent)
    return None


def attribute(log: Log, spans: list[Span], stateful: bool) -> None:
    """Set ``stage.layer`` for every stage that ran inside a span."""
    by_id = {s.id: s for s in spans}
    for st in log.stages.values():
        tagged = [by_id[int(t[len(TAG_PREFIX):])] for t in st.tags if int(t[len(TAG_PREFIX):]) in by_id]
        span = max(tagged, key=lambda s: s.id) if tagged else _innermost(spans, st.submitted)
        if span is None:
            st.layer = ""
            continue
        sink = _sink_of(span, by_id)
        if span.name == "report":
            st.layer = "report"
        elif stateful:
            st.layer = "stateful"
        elif "MapInArrow" in st.scopes:
            st.layer = "extract"
        elif st.persists_to_disk and "InMemoryTableScan" not in st.scopes:
            st.layer = "sessionize"
        elif sink is not None:
            st.layer = ("route." if sink in ROUTE_SINKS else "aggregates.") + sink
        else:
            st.layer = "unattributed"


def layer_metrics(
    log: Log,
    spans: list[Span],
    *,
    turns: int,
    batches: int,
    cores: int,
    stateful: bool,
) -> dict[str, float]:
    """Per-layer figures over the traced passes and the traced report;
    ``turns`` is the number of input turns those passes processed.

    Times are per pass; bytes are per input turn.
    """
    attribute(log, spans, stateful)
    passes = [s for s in spans if s.name == "pass"]
    n = max(len(passes), 1)
    in_run = [
        st
        for st in log.stages.values()
        if any(s.start <= st.submitted <= s.end for s in spans if s.name in ("pass", "report"))
    ]
    total_turns = max(turns, 1)

    def of(prefix: str) -> list[Stage]:
        return [st for st in in_run if st.layer == prefix or st.layer.startswith(prefix + ".")]

    def tasks(stages: list[Stage]) -> list[Task]:
        return [t for st in stages for t in st.tasks]

    def run_s(stages):
        return sum(st.run_s for st in stages)

    def skew(stages):
        return max((st.skew() for st in stages), default=1.0)

    m: dict[str, float] = {}
    ex, se, ag, sf = of("extract"), of("sessionize"), of("aggregates"), of("stateful")
    m["extract.task_s"] = run_s(ex) / n
    m["extract.cpu_s"] = sum(t.cpu_s for t in tasks(ex)) / n
    m["extract.input_bytes_per_turn"] = sum(t.input_bytes for t in tasks(ex)) / total_turns
    m["extract.shuffle_write_bytes_per_turn"] = sum(t.shuffle_write for t in tasks(ex)) / total_turns
    m["extract.skew"] = skew(ex)
    m["sessionize.task_s"] = run_s(se) / n
    m["sessionize.max_task_s"] = max((t.run_s for t in tasks(se)), default=0.0)
    m["sessionize.skew"] = skew(se)
    m["sessionize.shuffle_read_bytes_per_turn"] = sum(t.shuffle_read for t in tasks(se)) / total_turns
    m["sessionize.persist_bytes_per_turn"] = log.persist_bytes / total_turns
    m["sessionize.spill_bytes"] = sum(t.spill for t in tasks(se)) / n

    # Wall time of each sink's writes, less the extract and sessionize
    # stages that the first write of a batch runs for the persist.
    writes = [s for s in spans if s.name == "catalog.write"]
    moved = [(st.submitted, st.completed) for st in ex + se]
    for sink in ROUTE_SINKS + AGG_SINKS:
        layer = ("route." if sink in ROUTE_SINKS else "aggregates.") + sink
        m[f"{layer}.s"] = (
            sum(
                w.secs - _covered(moved, w.start, w.end)
                for w in writes
                if w.attrs["sink"] == sink
            )
            / n
        )
    m["route.task_s"] = run_s(of("route")) / n
    m["aggregates.task_s"] = run_s(ag) / n
    m["aggregates.shuffle_bytes_per_turn"] = sum(t.shuffle_write for t in tasks(ag)) / total_turns

    # Driver-side time of the write and commit calls: the span less the
    # Spark jobs that ran inside it and less its child spans.
    job_iv = log.jobs
    commits = [s for s in spans if s.name == "snapshots.commit"]
    m["catalog.write_s"] = (
        sum(
            w.secs
            - _covered(
                job_iv + [(c.start, c.end) for c in commits if c.parent == w.id],
                w.start,
                w.end,
            )
            for w in writes
        )
        / n
    )
    m["catalog.output_bytes_per_turn"] = (
        sum(t.output_bytes for st in in_run if st.layer != "report" for t in st.tasks)
        / total_turns
    )
    m["snapshots.commit_s"] = sum(c.secs - _covered(job_iv, c.start, c.end) for c in commits) / n
    m["checkpoint.record_s"] = sum(s.secs for s in spans if s.name == "checkpoint.record") / n

    m["stateful.task_s"] = run_s(sf) / n
    m["stateful.cpu_s"] = sum(t.cpu_s for t in tasks(sf)) / n
    m["stateful.shuffle_bytes_per_turn"] = sum(t.shuffle_write for t in tasks(sf)) / total_turns

    report = [s for s in spans if s.name == "report"]
    rep_stages = of("report")
    m["report.rows_read"] = sum(t.input_records for t in tasks(rep_stages)) / max(len(report), 1)
    m["report.files_read"] = sum(
        v
        for ex_id, v in log.files_read_by_execution.items()
        if any(r.start <= log.execution_start.get(ex_id, 0) <= r.end for r in report)
    ) / max(len(report), 1)

    pass_jobs = [
        (a, b) for a, b in log.jobs if any(p.start <= a <= p.end for p in passes)
    ]
    pass_stages = [st for st in in_run if st.layer != "report"]
    nb = max(batches, 1)
    m["driver.jobs_per_batch"] = len(pass_jobs) / nb
    m["driver.stages_per_batch"] = len(pass_stages) / nb
    m["driver.tasks_per_batch"] = sum(len(st.tasks) for st in pass_stages) / nb
    m["driver.gap_s"] = sum(p.secs - _covered(pass_jobs, p.start, p.end) for p in passes) / n
    wall = sum(p.secs for p in passes)
    m["driver.core_util"] = run_s(pass_stages) / (wall * cores) if wall else 0.0

    total = run_s(in_run)
    unclaimed = run_s([st for st in in_run if st.layer in ("", "unattributed")])
    m["trace.unattributed_share"] = unclaimed / total if total else 0.0
    return m
