"""The three benchmark workloads. Each is a closed loop with one client:
the next operation starts when the previous one has returned.

Every call into the engine sits in a span (``ledger.Spans``) named after
the module it enters. Correctness checks run outside the timed
operations, and a failed check fails its operation.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen

# Input sizes are fixed (not scaled to the box) so that two commits measured
# on one box see the same inputs; only parallelism follows the box.
PIPELINE = dict(n_files=4, events_per_file=100_000, pulses_per_file=36_000)
TIMESLICE = dict(n_files=8, events_per_file=250_000, pulses_per_file=36_000)
WIDTHS_S = (1, 10, 60, 600)
RANGE_WIDTHS_S = (5, 30, 120)
DOCS_PER_BATCH = 1000
# Loops run at least this many passes / rounds / micro-batches even past
# --seconds, so a run always has a second pass, a median over both halves of
# the query mix, and a batch against a non-empty state.
MIN_OPS = 2
# Batches generated for corpus_curate: the loop stops at --seconds or when
# they run out. A batch takes about 15 s on a 4-core box, most of it a
# per-batch cost that does not shrink with fewer documents, so a run feeds
# MIN_OPS of them.
CURATE_BATCHES = MIN_OPS + 2
SEMANTIC = dict(semantic_threshold=0.9, semantic_bands=16, semantic_planes=16,
                semantic_probes=2)


@dataclass
class Outcome:
    """What one workload run measured."""

    op_s: list[float] = field(default_factory=list)   # latency per operation
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    items: int = 0            # items processed by the loop's operations
    item_s: float = 0.0       # time those items took
    stored_bytes: int = 0     # bytes the workload's output occupies on disk
    stored_items: int = 1     # ... for this many input items
    info: dict = field(default_factory=dict)   # workload-specific named figures
    layers: dict = field(default_factory=dict)  # per-layer figures measured by the harness

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.errors.append(what)
        return ok

    def record(self, op_s: float, ok: bool) -> None:
        self.op_s.append(op_s)
        self.attempted += 1
        self.failed += not ok


@dataclass
class Ctx:
    spark: object
    spans: object
    work: str
    seed: int
    seconds: float
    t0: float        # perf_counter() when set-up began
    sampler: object  # procstat.TreeSampler
    setup_s: float = 0.0
    loop_cpu_s: float = 0.0

    def end_setup(self) -> None:
        """Set-up (session, inputs, lake, warm-up) ends; the timed loop begins."""
        self.setup_s = time.perf_counter() - self.t0
        self.spans.phase = "loop"
        self.loop_cpu_s = -self.sampler.cpu_s()

    def end_loop(self) -> None:
        """The timed loop ends; what follows is checking."""
        self.loop_cpu_s += self.sampler.cpu_s()
        self.spans.phase = "check"


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _parquet_files(root: str):
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(d, f)


def _lake_rows_and_bytes(lake_dir: str, table: str) -> tuple[int, int, int]:
    import pyarrow.parquet as pq

    files = list(_parquet_files(os.path.join(lake_dir, table)))
    rows = sum(pq.read_metadata(f).num_rows for f in files)
    return rows, sum(os.path.getsize(f) for f in files), len(files)


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


# ---------------------------------------------------------------------------
# Shared engine calls (each in its span)
# ---------------------------------------------------------------------------


def ingest_lake(ctx: Ctx, lake: gen.Lake, lake_dir: str, tables=gen.TABLE_NAMES) -> float:
    """files -> nine tables -> lake; returns the stage's wall time."""
    from nexus_processor_spark.sources import catalog, nexus

    t0 = time.perf_counter()
    for table in tables:
        with ctx.spans.span("sources.nexus", f"ingest:{table}"):
            catalog.write_table(nexus.ingest_table(ctx.spark, lake.paths, table),
                                lake_dir, table)
    return time.perf_counter() - t0


def read_events(ctx: Ctx, lake_dir: str):
    from nexus_processor_spark.sources import catalog

    with ctx.spans.span("sources.catalog", "read:events"):
        return catalog.read_table(ctx.spark, lake_dir, "events")


def run_query(ctx: Ctx, events, q: tuple, lake: gen.Lake):
    """One time-slice query; ``q`` is (kind, *params). Returns rows in a
    form comparable with :func:`reference`."""
    from pyspark.sql import functions as F

    from nexus_processor_spark.operators import timeslice

    kind = q[0]
    with ctx.spans.span("operators.timeslice", f"query:{kind}"):
        if kind == "range":
            _, start, end = q
            (r,) = timeslice.count_in_time_range(
                timeslice.with_absolute_time(events), start, end).collect()
            return (r.event_count, r.n_banks, r.n_pulses)
        if kind == "run":
            _, width, run = q
            inst, number = lake.runs[run]
            events = events.filter((F.col("instrument_id") == inst)
                                   & (F.col("run_number") == number))
        else:
            _, width = q
        rows = timeslice.count_by_bank_and_interval(
            timeslice.with_absolute_time(events), width).collect()
        return {(r.interval, r.bank): (r.event_count, r.n_pulses) for r in rows}


def reference(lake: gen.Lake, q: tuple):
    if q[0] == "range":
        return gen.range_count(lake, q[1], q[2])
    if q[0] == "run":
        return gen.bucket_counts(lake, q[1], run=q[2])
    return gen.bucket_counts(lake, q[1])


def flight_replay(ctx: Ctx, lake_dir: str):
    """Ordered replay of the events table over Arrow Flight, from a fresh
    server with the cache off, so every sample runs the Spark plan."""
    from nexus_processor_spark.sources import catalog
    from nexus_processor_spark.sources.flight import EventFlightServer, read_flight
    from nexus_processor_spark.streaming import replay

    with ctx.spans.span("streaming.replay", "flight") as span:
        def events():
            # runs on the server's request thread: tag its jobs too
            ctx.spans.tag_current_thread(span)
            return replay.ordered_replay(catalog.read_table(ctx.spark, lake_dir, "events"))

        server = EventFlightServer({"events": events}, "grpc://localhost:0", cache=False)
        try:
            return read_flight(server.endpoint, "events")
        finally:
            server.shutdown()


def check_replay_order(tbl, lake: gen.Lake, out: Outcome) -> bool:
    """Row count, pulse-index sum and non-decreasing (instrument_id,
    run_number, pulse_index, time_offset) order of a replayed table."""
    import pyarrow.compute as pc

    ok = out.check(tbl.num_rows == lake.n_events,
                   f"flight rows {tbl.num_rows} != {lake.n_events}")
    ok &= out.check(int(pc.sum(tbl.column("pulse_index")).as_py() or 0)
                    == int(lake.pulse_index.sum()), "flight pulse_index sum differs")
    cols = [tbl.column(c).combine_chunks() for c in
            ("instrument_id", "run_number", "pulse_index", "time_offset")]
    a = [c.slice(0, len(c) - 1) for c in cols]
    b = [c.slice(1) for c in cols]
    in_order = pc.less_equal(a[-1], b[-1])
    for x, y in zip(reversed(a[:-1]), reversed(b[:-1])):
        in_order = pc.or_(pc.less(x, y), pc.and_(pc.equal(x, y), in_order))
    return ok & out.check(bool(pc.all(in_order).as_py()), "flight replay out of order")


def jsonl_replay(ctx: Ctx, lake_dir: str, lake: gen.Lake, run: int, path: str) -> int:
    from nexus_processor_spark.sources import catalog
    from nexus_processor_spark.streaming import replay

    inst, number = lake.runs[run]
    with ctx.spans.span("streaming.replay", "jsonl"), open(path, "w") as fh:
        events = catalog.read_table(ctx.spark, lake_dir, "events")
        return replay.replay_to_jsonl(
            replay.filtered_events(events, run_id=f"{inst}:{number}"), out=fh)


# ---------------------------------------------------------------------------
# nexus_pipeline: files -> lake -> time-slice -> replay, writes included
# ---------------------------------------------------------------------------


def _pipeline_pass(ctx: Ctx, lake: gen.Lake, lake_dir: str, rng, out: Outcome):
    """One files -> lake -> time-slice -> replay pass. Returns (stage
    times, lake (bytes, files), ok)."""
    times = {"ingest": ingest_lake(ctx, lake, lake_dir)}
    ok = True
    lake_bytes = files = 0
    for table, want in lake.table_rows.items():
        rows, nbytes, nfiles = _lake_rows_and_bytes(lake_dir, table)
        ok &= out.check(rows == want, f"lake {table}: {rows} rows, want {want}")
        lake_bytes, files = lake_bytes + nbytes, files + nfiles

    events = read_events(ctx, lake_dir)
    # fixed kinds and widths, so every seed does the same work; the seed
    # picks the run and the window
    queries = [("full", 60), ("run", 1, int(rng.integers(len(lake.runs)))),
               ("range", *_range(rng, 30.0))]
    times["query"] = []
    for q in queries:
        got, dt = _timed(lambda: run_query(ctx, events, q, lake))
        times["query"].append(dt)
        ok &= out.check(got == reference(lake, q), f"time-slice {q} differs from reference")

    tbl, times["flight"] = _timed(lambda: flight_replay(ctx, lake_dir))
    ok &= check_replay_order(tbl, lake, out)
    del tbl
    run = int(rng.integers(len(lake.runs)))
    n, times["jsonl"] = _timed(lambda: jsonl_replay(
        ctx, lake_dir, lake, run, os.path.join(ctx.work, "replay.jsonl")))
    want = int((lake.run == run).sum())
    ok &= out.check(n == want, f"jsonl replay {n} events, want {want}")
    times["jsonl_events"] = n
    return times, (lake_bytes, files), ok


def _range(rng, width: float) -> tuple[float, float]:
    start = float(rng.integers(0, int(600 - width) // 5 + 1) * 5)
    return start, start + width


def nexus_pipeline(ctx: Ctx, out: Outcome) -> None:
    rng = np.random.default_rng([ctx.seed, 10])
    lake = gen.nexus_files(os.path.join(ctx.work, "nexus"), ctx.seed, **PIPELINE)
    warm = gen.nexus_files(os.path.join(ctx.work, "nexus-warm"), ctx.seed + 7919,
                           **{**PIPELINE, "n_files": 1})
    with ctx.spans.span("bench", "warm-up"):
        _pipeline_pass(ctx, warm, os.path.join(ctx.work, "lake-warm"), rng, out)
    ctx.end_setup()

    passes = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(passes) < MIN_OPS:
        lake_dir = os.path.join(ctx.work, f"lake-{len(passes)}")
        times, (lake_bytes, files), ok = _pipeline_pass(ctx, lake, lake_dir, rng, out)
        out.record(times["ingest"] + sum(times["query"]) + times["flight"] + times["jsonl"], ok)
        passes.append(times)
        shutil.rmtree(lake_dir)
    ctx.end_loop()

    def med(key):
        return statistics.median(t[key] for t in passes)

    out.items = lake.n_events * len(passes)
    out.item_s = sum(t["ingest"] for t in passes)
    out.stored_bytes, out.stored_items = lake_bytes, lake.n_events
    out.layers["catalog.files_written"] = files
    n = len(passes)
    out.info = {
        "pipeline_s": (statistics.median(out.op_s), "s", n),
        "ingest_events_per_s": (lake.n_events / med("ingest"), "1/s", n),
        "replay_events_per_s": (lake.n_events / med("flight"), "1/s", n),
        "jsonl_events_per_s": (statistics.median(t["jsonl_events"] / t["jsonl"] for t in passes),
                               "1/s", n),
        "query_p50_s": (statistics.median(q for t in passes for q in t["query"]), "s", 3 * n),
        "lake_bytes_per_event": (lake_bytes / lake.n_events, "B", n),
        "events_per_pass": (lake.n_events, "count", n),
    }


# ---------------------------------------------------------------------------
# lake_timeslice: read-only query mix over a larger lake
# ---------------------------------------------------------------------------


def _mix_round(rng, lake: gen.Lake) -> list[tuple]:
    """One round of the seeded mix, in a fixed order of kinds, so every
    seed runs the same shares of full-lake per-bank counts at many and at
    few buckets, run_id-pruned counts, time-range counts and an ordered
    Flight replay of the lake; the seed picks widths, runs and windows.
    Full-lake queries are three in six, so the median latency falls inside
    one kind's spread rather than in the gap between two kinds."""
    return [("full", 1),
            ("run", int(rng.choice(WIDTHS_S)), int(rng.integers(len(lake.runs)))),
            ("full", int(rng.choice(WIDTHS_S[1:]))),
            ("range", *_range(rng, float(rng.choice(RANGE_WIDTHS_S)))),
            ("full", int(rng.choice(WIDTHS_S[1:]))),
            ("replay",)]


def lake_timeslice(ctx: Ctx, out: Outcome) -> None:
    rng = np.random.default_rng([ctx.seed, 20])
    lake = gen.nexus_files(os.path.join(ctx.work, "nexus"), ctx.seed, **TIMESLICE)
    lake_dir = os.path.join(ctx.work, "lake")
    ingest_lake(ctx, lake, lake_dir, tables=("events",))
    events = read_events(ctx, lake_dir)
    with ctx.spans.span("bench", "warm-up"):
        for q in (("full", 1), ("run", 60, 0), ("range", 0.0, 30.0)):
            run_query(ctx, events, q, lake)
        check_replay_order(flight_replay(ctx, lake_dir), lake, out)
    ctx.end_setup()

    # whole rounds only, so every run has the same mix of kinds
    done = []
    t_end = time.perf_counter() + ctx.seconds
    for n in itertools.count():
        if time.perf_counter() >= t_end and n >= MIN_OPS:
            break
        for q in _mix_round(rng, lake):
            if q[0] == "replay":
                tbl, dt = _timed(lambda: flight_replay(ctx, lake_dir))
                got = check_replay_order(tbl, lake, out)
                del tbl
            else:
                got, dt = _timed(lambda: run_query(ctx, events, q, lake))
            done.append((q, got, dt))
    ctx.end_loop()
    refs: dict = {}
    items = 0
    for q, got, dt in done:
        if q[0] == "replay":   # ``got`` is the outcome of its checks
            out.record(dt, got)
        else:
            if q not in refs:
                refs[q] = reference(lake, q)
            out.record(dt, out.check(got == refs[q], f"time-slice {q} differs from reference"))
        items += lake.n_events if q[0] != "run" else int((lake.run == q[2]).sum())
    rows, nbytes, _ = _lake_rows_and_bytes(lake_dir, "events")
    out.check(rows == lake.n_events, f"lake events: {rows} rows, want {lake.n_events}")
    out.items, out.item_s = items, sum(out.op_s)
    out.stored_bytes, out.stored_items = nbytes, lake.n_events
    by_kind: dict[str, list[float]] = {}
    for q, _, dt in done:
        by_kind.setdefault(q[0], []).append(dt)
    replays = by_kind.pop("replay")
    out.info = {f"query_{k}_p50_s": (statistics.median(v), "s", len(v))
                for k, v in by_kind.items()}
    out.info["replay_events_per_s"] = (lake.n_events / statistics.median(replays),
                                       "1/s", len(replays))
    out.info["lake_events"] = (lake.n_events, "count", 1)


# ---------------------------------------------------------------------------
# corpus_curate: streaming curation with exact, lexical and semantic gates
# ---------------------------------------------------------------------------


def _start_curation(ctx: Ctx, in_dir: str, run_dir: str):
    from nexus_processor_spark.streaming import curate

    stream = (ctx.spark.readStream.schema(gen.DOC_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    return curate.curate_stream(
        stream, state_path=os.path.join(run_dir, "state"),
        sink_path=os.path.join(run_dir, "sink"),
        checkpoint_dir=os.path.join(run_dir, "checkpoint"),
        embedding_col="embedding", trigger_available_now=False, **SEMANTIC)


def _feed(query, staged: str, in_dir: str, batch_id: int, timeout_s: float = 170) -> dict:
    """Publish one batch file and wait until the stream has processed it;
    returns that batch's progress record."""
    os.rename(staged, os.path.join(in_dir, os.path.basename(staged)))
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"curation stream failed: {query.exception()}")
        for p in query.recentProgress:
            if p["batchId"] == batch_id and "addBatch" in p["durationMs"]:
                return p
        time.sleep(0.005)
    raise TimeoutError(f"curation batch {batch_id} did not finish")


def _curation_run(ctx: Ctx, batches: gen.DocBatches, run_dir: str, seconds: float | None):
    """Feed batches one at a time (closed loop) until ``seconds`` have
    passed (None: all of them). Returns (progress records, wall time)."""
    in_dir = os.path.join(run_dir, "in")
    os.makedirs(in_dir)
    with ctx.spans.span("streaming.curate", "stream"):
        query = _start_curation(ctx, in_dir, run_dir)
        try:
            t0 = time.perf_counter()
            progress = []
            for i, path in enumerate(batches.paths):
                if (seconds is not None and time.perf_counter() - t0 >= seconds
                        and len(progress) >= MIN_OPS):
                    break
                progress.append(_feed(query, path, in_dir, i))
            wall = time.perf_counter() - t0
        finally:
            query.stop()
    return progress, wall


def corpus_curate(ctx: Ctx, out: Outcome) -> None:
    import pyarrow.parquet as pq

    warm = gen.doc_batches(os.path.join(ctx.work, "docs-warm"), ctx.seed + 7919,
                           n_batches=1, docs_per_batch=DOCS_PER_BATCH // 4)
    docs = gen.doc_batches(os.path.join(ctx.work, "docs"), ctx.seed,
                           n_batches=CURATE_BATCHES, docs_per_batch=DOCS_PER_BATCH)
    with ctx.spans.span("bench", "warm-up"):
        _curation_run(ctx, warm, os.path.join(ctx.work, "curate-warm"), None)
    ctx.end_setup()

    run_dir = os.path.join(ctx.work, "curate")
    progress, wall = _curation_run(ctx, docs, run_dir, ctx.seconds)
    ctx.end_loop()
    fed = len(progress)

    audit = pq.read_table(os.path.join(run_dir, "sink")).select(
        ["doc_id", "keep", "drop_reason"]).to_pydict()
    verdict = dict(zip(audit["doc_id"], zip(audit["keep"], audit["drop_reason"])))
    batch_of = {d: b for b, ids in enumerate(docs.ids[:fed]) for d in ids}
    out.check(sorted(audit["doc_id"]) == sorted(batch_of),
              "audit rows are not exactly the fed documents")
    bad = [0] * fed
    for d, b in batch_of.items():
        keep, reason = verdict.get(d, (None, "missing"))
        if d in docs.unique and keep is not True:
            bad[b] += 1
            out.check(False, f"unique doc {d} dropped ({reason})")
        elif d in docs.exact and reason != "exact_dup":
            bad[b] += 1
            out.check(False, f"exact copy {d} not dropped ({reason})")
    for p, n_bad in zip(progress, bad):
        out.record(p["durationMs"]["triggerExecution"] / 1e3, n_bad == 0)

    n_docs = len(batch_of)
    out.items, out.item_s = n_docs, wall
    state_dir = os.path.join(run_dir, "state")
    out.stored_bytes, out.stored_items = _dir_bytes(state_dir), n_docs
    q = max(1, fed // 4)
    first, last = out.op_s[:q], out.op_s[-q:]

    def recall(copies: dict, reason: str):
        fed_copies = [d for d in copies if d in batch_of]
        hits = sum(verdict.get(d, (None, None))[1] == reason for d in fed_copies)
        return hits / len(fed_copies) if fed_copies else None

    out.layers.update({
        "curate.batch_growth": statistics.mean(last) / statistics.mean(first),
        "state_store.bytes": out.stored_bytes,
        "state_store.bytes_per_batch": out.stored_bytes / max(1, fed),
        # delta directories on disk (the store keeps them under data/)
        "state_store.dirs": sum(1 for e in os.scandir(os.path.join(state_dir, "data"))
                                if e.is_dir()),
    })
    out.info = {
        "batch_p50_s": (statistics.median(out.op_s), "s", fed),
        "curate_docs_per_s": (n_docs / wall, "1/s", fed),
        "near_dup_recall": (recall(docs.near, "near_dup"), "ratio", fed),
        "semantic_dup_recall": (recall(docs.semantic, "semantic_dup"), "ratio", fed),
        "docs_per_batch": (DOCS_PER_BATCH, "count", 1),
    }


WORKLOADS = {
    "nexus_pipeline": nexus_pipeline,
    "lake_timeslice": lake_timeslice,
    "corpus_curate": corpus_curate,
}
