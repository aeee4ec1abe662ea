"""Spans around engine calls, and a per-span ledger from Spark's event log.

The harness wraps every call into the engine in a :class:`Spans` span. A
span adds a Spark job tag naming it for as long as it is open, so every job
the call launches (including jobs launched by threads Spark starts from
that thread, such as a streaming query's) carries the tag. A traced run
turns on Spark's uncompressed event log; :func:`read_event_log` folds it
into per-job totals and :func:`attribute` sums them per span.

Run ``python3 perfbench/ledger.py`` to check the parser against the small
recorded log in ``perfbench/testdata``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench-span-"

# Task-level sums kept per job (read from TaskEnd events in read_event_log)
TASK_FIELDS = (
    "tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "python_run_ms", "python_init_ms",
    "parse_tasks",
)
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"


@dataclass
class Span:
    id: int
    layer: str
    name: str
    phase: str
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.id}"


class Spans:
    """In-memory span recorder. ``sc`` is the SparkContext whose job tags
    name the open span; it may be set after construction (the session
    start is itself a span)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.sc = None
        self.phase = "setup"

    @contextmanager
    def span(self, layer: str, name: str):
        s = Span(len(self.spans), layer, name, self.phase, time.time())
        self.spans.append(s)
        sc = self.sc
        if sc is not None:
            sc.addJobTag(s.tag)
        try:
            yield s
        finally:
            s.end = time.time()
            if sc is not None:
                sc.removeJobTag(s.tag)

    def tag_current_thread(self, s: Span) -> None:
        """Tag jobs launched from a thread the engine owns (the Flight
        server's request threads); the thread's tags are replaced."""
        self.sc.clearJobTags()
        self.sc.addJobTag(s.tag)

    def select(self, layer: str, prefix: str = "") -> list[Span]:
        """Spans of the timed loop in ``layer`` whose name starts with ``prefix``."""
        return [s for s in self.spans if s.layer == layer and s.phase == "loop"
                and s.name.startswith(prefix)]


@dataclass
class Job:
    id: int
    span: int | None
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    sums: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0))


def _span_of(tags: str | None) -> int | None:
    for t in (tags or "").split(","):
        if t.startswith(TAG_PREFIX):
            return int(t[len(TAG_PREFIX):])
    return None


def event_log_files(log_dir: str) -> list[str]:
    """The event-log files of the one application logged under
    ``log_dir``, in write order (plain file, or rolling ``eventlog_v2``
    directory)."""
    entries = [p for p in glob.glob(os.path.join(log_dir, "*"))
               if not p.endswith((".inprogress", ".crc"))]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {entries}")
    (entry,) = entries
    if os.path.isdir(entry):
        parts = glob.glob(os.path.join(entry, "events_*"))
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return [entry]


def read_event_log(paths: list[str]) -> dict[int, Job]:
    """Per-job totals of the task metrics and Python-worker accumulators.
    A stage that runs a ``MapInPandas`` operator counts its tasks as
    ``parse_tasks``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    pandas_stages: set[int] = set()
    task_ends = []
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job = Job(e["Job ID"], _span_of(props.get("spark.job.tags")),
                              e["Submission Time"], stages=list(e["Stage IDs"]))
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job[sid] = job.id
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    for rdd in info.get("RDD Info", []):
                        if '"MapInPandas"' in rdd.get("Scope", ""):
                            pandas_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(e)
    for e in task_ends:
        job_id = stage_job.get(e["Stage ID"])
        if job_id is None:
            continue
        s = jobs[job_id].sums
        m = e.get("Task Metrics") or {}
        s["tasks"] += 1
        s["parse_tasks"] += e["Stage ID"] in pandas_stages
        s["executor_run_ms"] += m.get("Executor Run Time", 0)
        s["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
        s["gc_ms"] += m.get("JVM GC Time", 0)
        s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        s["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") == PY_RUN:
                s["python_run_ms"] += int(acc.get("Update") or 0)
            elif acc.get("Name") == PY_INIT:
                s["python_init_ms"] += int(acc.get("Update") or 0)
    return jobs


def _covered_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class SpanTotals:
    jobs: int
    job_covered_s: float
    sums: dict


def attribute(jobs: dict[int, Job]) -> tuple[dict[int, SpanTotals], dict, dict]:
    """(per-span totals, run totals, totals of jobs no span tagged)."""
    by_span: dict[int, list[Job]] = {}
    for j in jobs.values():
        by_span.setdefault(j.span, []).append(j)

    def total(js: list[Job]) -> dict:
        out = dict.fromkeys(TASK_FIELDS, 0)
        for j in js:
            for k, v in j.sums.items():
                out[k] += v
        return out

    per_span = {
        sid: SpanTotals(len(js), _covered_ms([(j.start_ms, j.end_ms or j.start_ms)
                                               for j in js]) / 1e3, total(js))
        for sid, js in by_span.items() if sid is not None
    }
    return per_span, total(list(jobs.values())), total(by_span.get(None, []))


def self_check() -> int:
    """Parse the recorded log in ``testdata`` and compare with its expected totals."""
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
    with open(os.path.join(here, "eventlog_small.expected.json")) as fh:
        want = json.load(fh)
    jobs = read_event_log([os.path.join(here, "eventlog_small.jsonl")])
    per_span, run, untagged = attribute(jobs)
    got = {
        "jobs": len(jobs),
        "run": run,
        "untagged": untagged,
        "spans": {str(k): {"jobs": v.jobs, "job_covered_s": v.job_covered_s, **v.sums}
                  for k, v in sorted(per_span.items())},
    }
    # independent of the parser: job and task counts straight from the log
    with open(os.path.join(here, "eventlog_small.jsonl")) as fh:
        kinds = [json.loads(line)["Event"] for line in fh]
    if (kinds.count("SparkListenerJobStart"), kinds.count("SparkListenerTaskEnd")) != (
            len(jobs), run["tasks"]):
        print("ledger self-check: job or task count differs from the log", file=sys.stderr)
        return 1
    # the parts add up: every task is either in a tagged span or untagged
    for k in TASK_FIELDS:
        parts = sum(v.sums[k] for v in per_span.values()) + untagged[k]
        if parts != run[k]:
            print(f"ledger self-check: {k} spans+untagged={parts} != run={run[k]}",
                  file=sys.stderr)
            return 1
    if got != want:
        print("ledger self-check: parsed totals differ from the recorded expectation",
              file=sys.stderr)
        print(json.dumps(got, indent=1, sort_keys=True), file=sys.stderr)
        return 1
    print(f"ledger self-check: ok ({len(jobs)} jobs, {run['tasks']} tasks, "
          f"{len(per_span)} spans)", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(self_check())
