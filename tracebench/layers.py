"""Per-layer metrics of a traced run: the tracer's spans joined with
Spark's event log. Layer names are the engine's module names. A metric of
a layer the workload never calls reads 0.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

from tracing import Attribution, EventLog, median, tail

# span name → layer whose self time it is
LAYER_OF = {
    "sources.read_raw_traces": "sources",
    "operators.spans.spans_table": "operators.spans",
    "operators.traces.traces_table": "operators.traces",
    "sinks.write_spans": "sinks",
    "sinks.write_traces": "sinks",
    "sinks.read_spans": "sinks",
    "pyspark.read.parquet": "pyspark.read",
    "operators.search.search_traces": "operators.search",
    "operators.search.collect": "operators.search",
    "operators.assemble.trace_with_spans": "operators.assemble",
    "operators.critical_path": "operators.critical_path",
    "operators.analytics.service_dependencies": "operators.analytics",
    "operators.analytics.operation_stats": "operators.analytics",
}


def ratio(x: float, n: float) -> float:
    return x / n if n else 0.0


def per_layer(run_dir: Path, tracer, client, workload, *, session_s, request_p50_ms,
              request_cpu_ms, store_files, files_per_build) -> dict[str, float]:
    (log_file,) = (run_dir / "eventlog").iterdir()
    log = EventLog.parse(str(log_file))
    tracer.dump(sys.stderr)  # the run directory is deleted at exit
    a = Attribution(tracer.spans, log)
    spans = workload.corpus.n_spans
    m: dict[str, float] = {"session.start_s": session_s}

    builds = a.named("setup.build")
    build_tasks = log.tasks_of(a.jobs(builds))
    json_scan_ms = sum(t.run_ms for t in build_tasks if t.stage in log.json_scan_stages)
    m["sources.read_raw_traces.call_ms"] = a.call_ms("sources.read_raw_traces")
    m["sources.json_scan_s"] = ratio(json_scan_ms / 1000, len(builds))
    m["operators.spans.spans_table.call_ms"] = a.call_ms("operators.spans.spans_table")
    m["operators.traces.traces_table.call_ms"] = a.call_ms("operators.traces.traces_table")
    writes = a.named("sinks.write_spans")
    write_jobs = a.jobs(writes)
    m["sinks.write_spans.wall_s"] = median(s.seconds for s in writes)
    m["sinks.write_traces.wall_s"] = median(s.seconds for s in a.named("sinks.write_traces"))
    m["sinks.write_spans.jobs"] = ratio(len(write_jobs), len(writes))
    m["sinks.write_spans.shuffle_bytes_per_span"] = ratio(
        sum(t.shuffle_write for t in log.tasks_of(write_jobs)), spans * len(writes))
    m["sinks.files_per_append"] = files_per_build
    m["sinks.store_files"] = store_files
    m["sinks.read_spans.call_ms"] = a.call_ms("sinks.read_spans")

    searches = a.named("request.search")
    jobs = a.jobs(searches)
    tasks = log.tasks_of(jobs)
    latency = client.latency.get("search", [])
    t = tail(latency)
    m["operators.search.call_ms"] = a.call_ms("operators.search.search_traces")
    m["operators.search.collect_ms"] = a.call_ms("operators.search.collect")
    m["operators.search.p50_ms"] = 1000 * median(latency)
    m["operators.search.tail_ms"] = 1000 * t[1] if t else 0.0
    m["operators.search.jobs_per_query"] = ratio(len(jobs), len(searches))
    m["operators.search.tasks_per_query"] = ratio(len(tasks), len(searches))
    m["operators.search.files_read_per_query"] = ratio(log.files_of(jobs), len(searches))
    m["operators.search.rows_scanned_per_result"] = ratio(
        sum(t.records_read for t in tasks), getattr(workload, "traced_results", 0))
    m["operators.search.driver_share"] = a.driver_share(searches)

    lookups = a.named("request.lookup")
    jobs = a.jobs(lookups)
    latency = client.latency.get("lookup", [])
    t = tail(latency)
    m["operators.assemble.lookup_ms"] = a.call_ms("operators.assemble.trace_with_spans")
    m["operators.assemble.p50_ms"] = 1000 * median(latency)
    m["operators.assemble.tail_ms"] = 1000 * t[1] if t else 0.0
    m["operators.assemble.jobs_per_lookup"] = ratio(len(jobs), len(lookups))
    m["operators.assemble.files_read_per_lookup"] = ratio(log.files_of(jobs), len(lookups))
    m["operators.assemble.rows_scanned_per_lookup"] = ratio(
        sum(t.records_read for t in log.tasks_of(jobs)), len(lookups))
    m["operators.assemble.driver_share"] = a.driver_share(lookups)

    for layer in ("operators.critical_path", "operators.analytics.service_dependencies",
                  "operators.analytics.operation_stats"):
        calls = a.named(layer)
        tasks = log.tasks_of(a.jobs(calls))
        exec_s = median(s.seconds for s in calls)
        m[f"{layer}.exec_s"] = exec_s
        m[f"{layer}.spans_per_s"] = ratio(spans, exec_s)
        m[f"{layer}.shuffle_bytes_per_span"] = ratio(sum(t.shuffle_write for t in tasks), spans * len(calls))
    calls = a.named("operators.critical_path")
    tasks = log.tasks_of(a.jobs(calls))
    m["operators.critical_path.python_exchange_bytes_per_span"] = ratio(
        sum(t.python_bytes for t in tasks), spans * len(calls))
    m["operators.critical_path.task_skew"] = _kernel_skew(a, log, calls)
    m["operators.critical_path.executor_cpu_share"] = ratio(
        sum(t.cpu_ms for t in tasks), sum(t.run_ms for t in tasks))

    m["spark.gc_share"] = ratio(sum(t.gc_ms for t in log.tasks), sum(t.run_ms for t in log.tasks))
    m["spark.scheduler_delay_ms_per_task"] = statistics.fmean(
        max(0.0, 1000 * (t.finish - t.launch) - t.run_ms - t.overhead_ms) for t in log.tasks
    )
    m["spark.failed_tasks"] = sum(not t.ok for t in log.tasks)
    m["client.request_cpu_ms"] = request_cpu_ms
    m["tracing.request_p50_ms"] = request_p50_ms
    _report(a, log)
    return m


def _kernel_skew(a: Attribution, log: EventLog, calls) -> float:
    """Median over calls of slowest / median task run time in the stage
    that exchanges rows with the Python sweep kernel."""
    skews = []
    for c in calls:
        by_stage: dict[int, list[float]] = {}
        for t in log.tasks_of(a.jobs([c])):
            if t.python_bytes:
                by_stage.setdefault(t.stage, []).append(t.run_ms)
        for runs in by_stage.values():
            mid = statistics.median(runs)
            if mid:
                skews.append(max(runs) / mid)
    return median(skews)


def _report(a: Attribution, log: EventLog) -> None:
    """Print which layer dominates the measured requests' and the set-up's
    wall time, by self time of the spans around engine calls."""
    for label, roots in (("requests", [s for s in a.spans if s.name.startswith("request.")]),
                         ("setup", a.named("setup.build"))):
        ids = set().union(*(a.subtree(s) for s in roots)) if roots else set()
        wall = sum(s.seconds for s in roots)
        if not wall:
            continue
        own: dict[str, float] = {}
        for s in a.spans:
            if s.id in ids and s.name in LAYER_OF:
                own[LAYER_OF[s.name]] = own.get(LAYER_OF[s.name], 0.0) + a.self_seconds(s)
        ranked = sorted(own.items(), key=lambda kv: -kv[1])
        shares = ", ".join(f"{k} {100 * v / wall:.0f}%" for k, v in ranked)
        print(f"trace {label}: self time by layer: {shares}")
        if ranked:
            top = ranked[0][0]
            top_spans = [s for s in a.spans if s.id in ids and LAYER_OF.get(s.name) == top]
            print(f"trace {label}: dominant layer {top}, driver share of its time "
                  f"{a.driver_share(top_spans):.2f}")
    print("trace: " + json.dumps({"jobs": len(log.jobs), "tasks": len(log.tasks)}))
