"""Answer checks: each compares one engine answer with the generator's
ground truth and returns True only for an exactly right answer.

The checks take plain Python values (``Row`` objects behave as tuples and
dicts here), so they run without Spark in the benchmark's own tests.
"""

from __future__ import annotations

import datetime as dt
import math

from corpus import Corpus, Trace

EPOCH = dt.datetime(1970, 1, 1)


def search_ok(rows, expected: list[tuple]) -> bool:
    """``search_traces(...).collect()`` rows equal the expected rows, in
    order: (traceID, root_service, root_operation, start_us, duration_us,
    n_spans)."""
    return not isinstance(rows, BaseException) and [tuple(r) for r in rows] == expected


def lookup_ok(answer, trace: Trace | None) -> bool:
    """``trace_with_spans`` answer for ``trace``; ``trace=None`` means the
    ID is absent and the only right answer is a ``KeyError``."""
    if trace is None:
        return isinstance(answer, KeyError)
    if not isinstance(answer, dict):
        return False
    root = trace.spans[0]
    n_err = sum(s.error for s in trace.spans)
    want_spans = sorted(
        (s.start, s.span_id, s.parent, s.service, s.operation, s.duration, str(s.status), s.error)
        for s in trace.spans
    )
    got_spans = [
        (
            s["startTime"], s["spanID"], s["parent"], s["service"], s["operationName"],
            s["duration"], (s["tags"] or {}).get("http.status_code"), "error" in (s["tags"] or {}),
        )
        for s in answer.get("spans", [])
    ]
    return (
        answer.get("traceID") == trace.trace_id
        and answer.get("traceName") == f"{root.service}: {root.operation}"
        and answer.get("nspans") == len(trace.spans)
        and answer.get("errspans") == n_err
        and answer.get("iserror") == (n_err > 0)
        and answer.get("duration") == dt.timedelta(microseconds=root.duration)
        # naive datetimes: the benchmark pins the process timezone to UTC
        and answer.get("startTime") == EPOCH + dt.timedelta(microseconds=root.start)
        and got_spans == want_spans
    )


def critical_path_ok(rows, corpus: Corpus) -> bool:
    """``critical_path_breakdown(by="service")`` rows: the per-service
    critical time partitions the root spans' durations exactly, shares sum
    to one, every trace contributes a segment, rows are ordered by
    ``crit_us`` descending, and only generated services appear."""
    if isinstance(rows, BaseException):
        return False
    rows = list(rows)
    crit = [r["crit_us"] for r in rows]
    services = {k[0] for k in corpus.op_stats}
    return (
        len(rows) > 0
        and sum(crit) == corpus.crit_total_us
        and crit == sorted(crit, reverse=True)
        and all(r["service"] in services for r in rows)
        and sum(r["n_segments"] for r in rows) >= len(corpus.traces)
        and math.isclose(sum(r["share"] for r in rows), 1.0, rel_tol=1e-9)
    )


def service_graph_ok(rows, corpus: Corpus) -> bool:
    """``service_dependencies`` edges equal the generated cross-service
    parent→child calls, with exact call and error counts."""
    if isinstance(rows, BaseException):
        return False
    got = {(r["parent_service"], r["child_service"]): [r["n_calls"], r["n_error_calls"]] for r in rows}
    return got == corpus.edges


def op_stats_ok(rows, corpus: Corpus) -> bool:
    """``operation_stats(approx=True)`` rows: exact span and error counts
    and error rate per (service, operation); approximate percentiles
    ordered and within the group's duration range."""
    if isinstance(rows, BaseException):
        return False
    rows = list(rows)
    if len(rows) != len(corpus.op_stats):
        return False
    for r in rows:
        truth = corpus.op_stats.get((r["service"], r["operationName"]))
        if truth is None:
            return False
        n, errors, lo, hi = truth
        if (r["n_spans"], r["n_errors"]) != (n, errors):
            return False
        if not math.isclose(r["error_rate"], errors / n, rel_tol=1e-12, abs_tol=1e-15):
            return False
        if not lo <= r["p50_us"] <= r["p95_us"] <= r["p99_us"] <= hi:
            return False
    return True
