"""The benchmark's workloads. Each drives only the engine's public API and
only its own operations, from one client in a closed loop: the next
request is sent when the previous answer has arrived and been checked.

``interactive``: a trace UI over a standing store. Requests alternate
broad (service only) and narrow (service + operation + status tag + min
duration) searches; each search is followed by opening one trace of its
results, newest first, and every eighth open asks for an absent ID.
Latency here is the fixed per-query cost: plan building, file listing,
scan planning and job scheduling.

``reports``: a dashboard refresh over a larger standing store — the
critical-path breakdown by service, the service graph and approximate
per-operation latency stats, in turn. Most of the work is shuffles, the
Arrow exchange to the Python sweep kernel and aggregation.
"""

from __future__ import annotations

import random
import sys
import traceback
from dataclasses import dataclass
from time import perf_counter

from checks import critical_path_ok, lookup_ok, op_stats_ok, search_ok, service_graph_ok
from corpus import Corpus, absent_trace_id, broad_search, expected_search, generate, narrow_search

ABSENT_EVERY = 8  # every 8th trace open asks for an ID no trace has


@dataclass(frozen=True)
class Store:
    spans: str
    traces: str | None  # None when the workload reads no trace store


class Client:
    """The closed-loop client: sends each call, checks its answer against
    ground truth and counts what was attempted, what failed and how long
    each kind of call took."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.latency: dict[str, list[float]] = {}

    def answer(self, kind: str, fn, check) -> float:
        start = perf_counter()
        try:
            ans = fn()
        except Exception as e:  # noqa: BLE001 — an exception is a failed answer
            ans = e
        seconds = perf_counter() - start
        self.attempted += 1
        if not check(ans):
            self.failed += 1
            print(f"WRONG ANSWER ({kind}): {ans!r:.300}", file=sys.stderr)
            if isinstance(ans, BaseException) and not isinstance(ans, KeyError):
                traceback.print_exception(ans, file=sys.stderr)
        self.latency.setdefault(kind, []).append(seconds)
        return seconds

    def build(self, jsonl: str, out: Store) -> None:
        """Land one JSONL export in a span store and, if the workload reads
        one, a trace store — the ingest pipeline every standing store is
        built with."""
        from traceframe_spark import read_raw_traces, sinks, spans_table, traces_table

        tr = self.tracer
        with tr.span("setup.build"):
            raw = tr.call("sources.read_raw_traces", read_raw_traces, self.spark, jsonl, multiline=False)
            spans = tr.call("operators.spans.spans_table", spans_table, raw)
            tr.call("sinks.write_spans", sinks.write_spans, spans, out.spans)
            if out.traces is not None:
                traces = tr.call("operators.traces.traces_table", traces_table, raw)
                tr.call("sinks.write_traces", sinks.write_traces, traces, out.traces)


class Workload:
    name: str
    store_spans: int  # spans in the standing store
    trace_store: bool  # whether requests read a trace store besides the span store
    warmups: int  # untimed requests before measuring; first calls run 2-3x slower

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(f"requests/{seed}")
        self.corpus: Corpus | None = None
        self.store: Store | None = None

    def generate(self, path: str) -> Corpus:
        self.corpus = generate(self.seed, self.store_spans, path)
        return self.corpus

    def request(self, client: Client, tracer) -> float:
        """One request; returns its latency in seconds."""
        raise NotImplementedError


class Interactive(Workload):
    name = "interactive"
    store_spans = 40_000
    trace_store = True
    warmups = 3

    def __init__(self, seed: int):
        super().__init__(seed)
        self.n = 0
        self.traced_results = 0  # rows the traced searches returned

    def request(self, client: Client, tracer) -> float:
        from traceframe_spark import search_traces, sinks, trace_with_spans

        spark, store, corpus, rng = client.spark, self.store, self.corpus, self.rng
        q = broad_search(rng) if self.n % 2 == 0 else narrow_search(rng, corpus)
        self.n += 1
        expected = expected_search(corpus, q)

        def search():
            with tracer.span("request.search"):
                spans = tracer.call("sinks.read_spans", sinks.read_spans, spark, store.spans)
                df = tracer.call("operators.search.search_traces", search_traces, spans, **q.kwargs())
                return tracer.call("operators.search.collect", df.collect)

        seconds = client.answer("search", search, lambda rows: search_ok(rows, expected))
        if tracer.enabled:
            self.traced_results += len(expected)

        if self.n % ABSENT_EVERY == 0 or not expected:
            trace_id, truth = absent_trace_id(rng), None
        else:  # users open the newest results most often
            trace_id = expected[min(len(expected) - 1, int(rng.expovariate(0.5)))][0]
            truth = corpus.trace(trace_id)

        def lookup():
            with tracer.span("request.lookup"):
                spans = tracer.call("sinks.read_spans", sinks.read_spans, spark, store.spans)
                traces = tracer.call("pyspark.read.parquet", spark.read.parquet, store.traces)
                return tracer.call("operators.assemble.trace_with_spans", trace_with_spans, traces, spans, trace_id)

        return seconds + client.answer("lookup", lookup, lambda ans: lookup_ok(ans, truth))


class Reports(Workload):
    name = "reports"
    store_spans = 60_000
    trace_store = False
    warmups = 2  # the first refresh also starts the Python workers; the second still runs ~1.5x slow

    def request(self, client: Client, tracer) -> float:
        from traceframe_spark import critical_path_breakdown, operation_stats, service_dependencies, sinks

        spark, store, corpus = client.spark, self.store, self.corpus
        reports = (
            ("critical_path", "operators.critical_path",
             lambda s: critical_path_breakdown(s, by="service"), critical_path_ok),
            ("service_graph", "operators.analytics.service_dependencies",
             service_dependencies, service_graph_ok),
            ("op_stats", "operators.analytics.operation_stats",
             lambda s: operation_stats(s, approx=True), op_stats_ok),
        )
        seconds = 0.0
        for kind, layer, report, check in reports:

            def run(kind=kind, layer=layer, report=report):
                with tracer.span(f"request.{kind}"):
                    spans = tracer.call("sinks.read_spans", sinks.read_spans, spark, store.spans)
                    return tracer.call(layer, lambda: report(spans).collect())

            seconds += client.answer(kind, run, lambda rows, check=check: check(rows, corpus))
        return seconds


WORKLOADS = {w.name: w for w in (Interactive, Reports)}
