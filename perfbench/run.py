"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the engine in this checkout (``workloads.py``),
checks every output against the generator's reference answers, and prints
a report followed, as the last line, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` Spark's event log is on and the
metrics are the per-layer ones, read from that log by ``ledger.py``.
Exits non-zero when any output is wrong. All files go under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
PERCENTILES = (99, 95, 90, 75, 50)
OVERHEAD_BASE_RUNS = 10


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(mem_total: int) -> int:
    """An eighth of the box's RAM, between 1 and 4 GiB: the JVM shares the
    box with its Python workers and the harness."""
    return int(min(4096, max(1024, mem_total / 8 / 2**20)))


def box_info(cores: int, mem_total: int) -> dict:
    cpu = "unknown"
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    java = [line for line in subprocess.run(
        ["java", "-version"], capture_output=True, text=True, timeout=60).stderr.splitlines()
        if "version" in line]
    import pyspark

    return {"cpu": cpu, "nproc": cores, "ram_gb": round(mem_total / 2**30, 1),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": java[0] if java else "unknown"}


def timing(values: list[float]) -> dict:
    """Median, plus the highest listed percentile with at least ten samples
    beyond it, and the sample count."""
    out = {"n": len(values), "p50": statistics.median(values)}
    for p in PERCENTILES[:-1]:
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
            break
    return out


def spark_confs(work: str, trace: bool, mem_total: int) -> dict:
    heap = f"{driver_memory_mb(mem_total)}m"
    confs = {
        "spark.driver.memory": heap,
        # Only the maximum heap is set, so the JVM's resident memory follows
        # what the workload holds. The serial collector grows the heap with
        # the data live after a collection; the default collector grows it
        # with measured pause times, which moves the peak by a fifth from
        # run to run.
        "spark.driver.extraJavaOptions": "-XX:+UseSerialGC",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def wait_for_children(timeout_s: float = 30) -> None:
    """Python workers exit once the JVM is gone; wait for them, then kill
    any straggler."""
    import procstat

    deadline = time.monotonic() + timeout_s
    while True:
        kids = procstat.descendants(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.1)


def end_to_end(ctx, out, peak_mem: int) -> dict:
    return {
        "setup_s": (ctx.setup_s, "s"),
        "peak_rss_mb": (peak_mem / 2**20, "MB"),
        "op_p50_s": (statistics.median(out.op_s), "s"),
        "items_per_s": (out.items / out.item_s, "1/s"),
        "stored_bytes_per_item": (out.stored_bytes / out.stored_items, "B"),
        "cpu_s_per_op": (ctx.loop_cpu_s / len(out.op_s), "s"),
    }


def per_layer(spans, log_dir: str, out) -> dict:
    """Per-layer metrics, from the spans and the event log: per operation
    of the timed loop for the module layers, whole-run totals for
    ``spark.*`` (``unattributed_s`` is executor time of jobs no span
    tagged)."""
    import ledger

    jobs = ledger.read_event_log(ledger.event_log_files(log_dir))
    per_span, run, untagged = ledger.attribute(jobs)
    empty = ledger.SpanTotals(0, 0.0, dict.fromkeys(ledger.TASK_FIELDS, 0))

    def tot(sel, key):
        return sum(per_span.get(s.id, empty).sums[key] for s in sel)

    def n_jobs(sel):
        return sum(per_span.get(s.id, empty).jobs for s in sel)

    def driver_s(sel):
        return sum(s.wall_s - per_span.get(s.id, empty).job_covered_s for s in sel)

    def per(x, n):
        return x / n if n else 0.0

    ingest = spans.select("sources.nexus")
    big = [s for s in ingest if s.name == "ingest:events"]
    small = [s for s in ingest if s.name != "ingest:events"]
    passes = len(big)
    queries = spans.select("operators.timeslice")
    flights = spans.select("streaming.replay", prefix="flight")
    streams = spans.select("streaming.curate")
    batches = out.attempted if streams else 0
    (start,) = [s for s in spans.spans if s.layer == "session"]
    return {
        "session.start_s": (start.wall_s, "s"),
        "nexus.tables8_s": (per(sum(s.wall_s for s in small), passes), "s"),
        "nexus.events_s": (per(sum(s.wall_s for s in big), passes), "s"),
        "nexus.tasks": (per(tot(ingest, "parse_tasks"), passes), "count"),
        "nexus.python_run_s": (per(tot(ingest, "python_run_ms") / 1e3, passes), "s"),
        "nexus.python_init_s": (per(tot(ingest, "python_init_ms") / 1e3, passes), "s"),
        "catalog.bytes_written": (per(tot(ingest, "output_bytes"), passes), "B"),
        "catalog.files_written": (out.layers.get("catalog.files_written", 0), "count"),
        "timeslice.jobs_per_query": (per(n_jobs(queries), len(queries)), "count"),
        "timeslice.tasks_per_query": (per(tot(queries, "tasks"), len(queries)), "count"),
        "timeslice.executor_cpu_s": (per(tot(queries, "executor_cpu_ns") / 1e9, len(queries)), "s"),
        "timeslice.shuffle_write_bytes": (per(tot(queries, "shuffle_write_bytes"), len(queries)), "B"),
        "timeslice.driver_s": (per(driver_s(queries), len(queries)), "s"),
        "replay.executor_s": (per(tot(flights, "executor_run_ms") / 1e3, len(flights)), "s"),
        "replay.egress_s": (per(driver_s(flights), len(flights)), "s"),
        "replay.shuffle_write_bytes": (per(tot(flights, "shuffle_write_bytes"), len(flights)), "B"),
        "curate.jobs_per_batch": (per(n_jobs(streams), batches), "count"),
        "curate.tasks_per_batch": (per(tot(streams, "tasks"), batches), "count"),
        "curate.python_run_s": (per(tot(streams, "python_run_ms") / 1e3, batches), "s"),
        "curate.executor_cpu_s": (per(tot(streams, "executor_cpu_ns") / 1e9, batches), "s"),
        "curate.spill_bytes": (per(tot(streams, "spill_bytes"), batches), "B"),
        "curate.batch_growth": (out.layers.get("curate.batch_growth", 0.0), "ratio"),
        "state_store.bytes": (out.layers.get("state_store.bytes", 0), "B"),
        "state_store.bytes_per_batch": (out.layers.get("state_store.bytes_per_batch", 0.0), "B"),
        "state_store.dirs": (out.layers.get("state_store.dirs", 0), "count"),
        "spark.jobs": (len(jobs), "count"),
        "spark.tasks": (run["tasks"], "count"),
        "spark.executor_run_s": (run["executor_run_ms"] / 1e3, "s"),
        "spark.executor_cpu_s": (run["executor_cpu_ns"] / 1e9, "s"),
        "spark.gc_s": (run["gc_ms"] / 1e3, "s"),
        "spark.shuffle_read_bytes": (run["shuffle_read_bytes"], "B"),
        "spark.shuffle_write_bytes": (run["shuffle_write_bytes"], "B"),
        "spark.spill_bytes": (run["spill_bytes"], "B"),
        "spark.python_run_s": (run["python_run_ms"] / 1e3, "s"),
        "spark.unattributed_s": (untagged["executor_run_ms"] / 1e3, "s"),
    }


def remove_stale_work_dirs() -> None:
    """Delete work directories left by runs that were killed."""
    if not os.path.isdir(OUT_DIR):
        return
    for entry in os.scandir(OUT_DIR):
        pid = entry.name.rsplit("-", 1)[-1]
        if entry.is_dir() and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(entry.path, ignore_errors=True)


def declared(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "nexus_processor_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import ledger
    import procstat
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if ledger.self_check() != 0:
        return 1
    want = declared(bool(args.trace))

    cores = len(os.sched_getaffinity(0))
    mem_total = _mem_total_bytes()
    remove_stale_work_dirs()
    work = os.path.join(OUT_DIR, f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    # Set before the engine is imported: its session defaults read them,
    # and Python workers inherit them.
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM (launcher, driver) keeps its temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    sys.path.insert(0, ROOT)
    box = box_info(cores, mem_total)

    out = workloads.Outcome()
    spans = ledger.Spans()
    spark = None
    crashed = None
    with procstat.TreeSampler() as sampler:
        t0 = time.perf_counter()
        try:
            from nexus_processor_spark.session import get_spark

            with spans.span("session", "start"):
                spark = get_spark(app_name=f"perfbench-{args.workload}",
                                  extra_confs=spark_confs(work, bool(args.trace), mem_total))
            spark.sparkContext.setLogLevel("ERROR")
            spans.sc = spark.sparkContext
            ctx = workloads.Ctx(spark, spans, work, args.seed, args.seconds, t0, sampler)
            workloads.WORKLOADS[args.workload](ctx, out)
        except Exception as e:
            crashed = (traceback.format_exc(), f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            if spark is not None:
                stop_spark(spark)
            wait_for_children()
        peak_mem = sampler.peak_bytes

    metrics: dict = {}
    if not crashed:
        try:
            m = end_to_end(ctx, out, peak_mem)
            if args.trace:
                layers = per_layer(spans, os.path.join(work, "eventlog"), out)
            metrics = layers if args.trace else m
            if {k: u for k, (_, u) in metrics.items()} != want:
                raise RuntimeError("metric names or units differ from BENCHMARK.json")
        except Exception as e:
            crashed = (traceback.format_exc(), f"{type(e).__name__}: {str(e)[:300]}")
    if crashed:
        print(crashed[0], file=sys.stderr)
        out.errors.append(crashed[1])
        metrics = {}
    if out.errors and out.failed == 0:
        # a check outside any timed operation failed (the lake, a crash):
        # count it as one more failed operation
        out.attempted += 1
        out.failed += 1

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": box,
        "error_rate": out.failed / max(1, out.attempted),
        "errors": out.errors[:20],
    }
    if not crashed:
        setup_spans = {s.name: s.wall_s for s in spans.spans if s.phase == "setup"
                       and s.name in ("start", "warm-up")}
        report.update({
            "setup_parts_s": {"session_start": setup_spans["start"],
                              "warm_up": setup_spans.get("warm-up", 0.0),
                              "inputs_and_lake": ctx.setup_s - sum(setup_spans.values())},
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            "op_latency_s": timing(out.op_s),
            "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in out.info.items()},
        })
        if args.trace:
            report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            report["tracing_overhead"] = tracing_overhead(args.workload, m, build_key(box))
        elif not out.errors:
            with open(untraced_log(args.workload), "a") as fh:
                fh.write(json.dumps({"build": build_key(box),
                                     **{k: v for k, (v, _) in m.items()}}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print_report(report)
    correct = not out.errors
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def build_key(box: dict) -> str:
    """Hash of the engine package, the benchmark's files and the box: an
    untraced run is a tracing-overhead baseline only for runs of the same
    code on the same box."""
    h = hashlib.sha256(json.dumps(box, sort_keys=True).encode())
    paths = ["BENCHMARK.json"]
    for top in ("nexus_processor_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            paths += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    for path in sorted(paths):
        h.update(path.encode())
        with open(os.path.join(ROOT, path), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def tracing_overhead(workload: str, traced: dict, build: str) -> dict:
    """Traced minus untraced, per end-to-end metric: this run against the
    median of the latest untraced runs of the workload, of the same build
    on the same box, in this checkout."""
    try:
        with open(untraced_log(workload)) as fh:
            base = [r for r in map(json.loads, fh) if r.get("build") == build]
    except FileNotFoundError:
        base = []
    if not base:
        return {"unavailable": "no untraced run of this workload, build and box in this checkout"}
    base = base[-OVERHEAD_BASE_RUNS:]
    out = {"untraced_runs": len(base)}
    for k, (v, u) in traced.items():
        values = [r[k] for r in base if k in r]
        if values:
            b = statistics.median(values)
            out[k] = {"value": v - b, "unit": u, "share": (v - b) / b if b else None}
    return out


def untraced_log(workload: str) -> str:
    return os.path.join(OUT_DIR, f"untraced-{workload}.jsonl")


def print_report(report: dict) -> None:
    print(f"perfbench {report['workload']} seed={report['seed']} "
          f"seconds={report['seconds']} trace={report['trace']}")
    print("box: " + ", ".join(f"{k}={v}" for k, v in report["box"].items()))
    for section in ("end_to_end", "named", "per_layer", "tracing_overhead"):
        if section not in report:
            continue
        print(f"{section}:")
        for k, v in report[section].items():
            if isinstance(v, dict) and "value" in v:
                n = f"  (n={v['n']})" if "n" in v else ""
                print(f"  {k:32s} {v['value']!r:>24} {v['unit']}{n}")
            else:
                print(f"  {k:32s} {v}")
    for k in ("setup_parts_s", "op_latency_s"):
        if k in report:
            print(f"{k}: {report[k]}")
    print(f"error_rate: {report['error_rate']}")
    for e in report["errors"]:
        print(f"  error: {e}")


if __name__ == "__main__":
    sys.exit(main())
