"""The benchmark's own tests: generator truth, answer checks, and the
trace-attribution helpers. No Spark needed.

    python3 -m pytest tracebench -q
"""

from __future__ import annotations

import datetime as dt
import json
import random
import statistics

import pytest

import corpus
from checks import EPOCH, critical_path_ok, lookup_ok, op_stats_ok, search_ok, service_graph_ok
from tracing import EventLog, Tracer, covered_seconds, tail
from workloads import Client


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    path = tmp_path_factory.mktemp("corpus") / "c.jsonl"
    return corpus.generate(seed=11, target_spans=20_000, path=str(path))


@pytest.fixture(scope="module")
def docs(truth):
    with open(truth.path, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def _spans(doc):
    """(span, service, status, is_error) for every span of a parsed trace document."""
    for s in doc["spans"]:
        tags = {t["key"]: t["value"] for t in s["tags"]}
        yield s, doc["processes"][s["processID"]]["serviceName"], str(tags["http.status_code"]), "error" in tags


def test_same_seed_same_corpus(tmp_path, truth):
    again = corpus.generate(seed=11, target_spans=20_000, path=str(tmp_path / "again.jsonl"))
    assert open(again.path, "rb").read() == open(truth.path, "rb").read()
    other = corpus.generate(seed=12, target_spans=2_000, path=str(tmp_path / "other.jsonl"))
    assert other.traces[0].trace_id != truth.traces[0].trace_id


def test_corpus_properties(truth, docs):
    sizes = [len(d["spans"]) for d in docs]
    assert sum(sizes) == truth.n_spans >= 20_000
    assert max(sizes) >= 100 and statistics.median(sizes) <= 10  # heavy tail
    days = {s["startTime"] // corpus.DAY_US for d in docs for s in d["spans"]}
    assert len(days) >= corpus.DAYS
    services = {svc for d in docs for _, svc, _, _ in _spans(d)}
    assert services == set(corpus.SERVICES)
    errors = sum(err for d in docs for *_, err in _spans(d))
    assert 0.04 < errors / truth.n_spans < 0.06
    for d in docs:
        by_id = {s["spanID"]: s for s in d["spans"]}
        roots = [s for s in d["spans"] if not s["references"]]
        assert len(roots) == 1
        for s in d["spans"]:
            if s["references"]:
                p = by_id[s["references"][0]["spanID"]]
                assert p["startTime"] < s["startTime"]
                assert s["startTime"] + s["duration"] < p["startTime"] + p["duration"]


def test_report_truth_matches_the_written_file(truth, docs):
    crit, edges, ops = 0, {}, {}
    for d in docs:
        svc_of = {s["spanID"]: svc for s, svc, _, _ in _spans(d)}
        for s, svc, _, err in _spans(d):
            if not s["references"]:
                crit += s["duration"]
            else:
                parent_svc = svc_of[s["references"][0]["spanID"]]
                if parent_svc != svc:
                    e = edges.setdefault((parent_svc, svc), [0, 0])
                    e[0] += 1
                    e[1] += err
            o = ops.setdefault((svc, s["operationName"]), [0, 0, s["duration"], s["duration"]])
            o[0] += 1
            o[1] += err
            o[2] = min(o[2], s["duration"])
            o[3] = max(o[3], s["duration"])
    assert crit == truth.crit_total_us
    assert edges == truth.edges
    assert ops == truth.op_stats


def _brute_force_search(docs, q: corpus.Search):
    hits = []
    for d in docs:
        spans = list(_spans(d))
        root, root_svc, _, _ = next(x for x in spans if not x[0]["references"])
        match = any(
            svc == q.service
            and (q.operation is None or s["operationName"] == q.operation)
            and (q.status is None or status == q.status)
            for s, svc, status, _ in spans
        )
        if match and root["duration"] >= q.min_duration_us:
            hits.append((d["traceID"], root_svc, root["operationName"], root["startTime"],
                         root["duration"], len(spans)))
    hits.sort(key=lambda h: (-h[3], h[0]))
    return hits[: q.limit]


def test_expected_search_matches_brute_force(truth, docs):
    rng = random.Random(5)
    for i in range(20):
        q = corpus.broad_search(rng) if i % 2 else corpus.narrow_search(rng, truth)
        assert corpus.expected_search(truth, q) == _brute_force_search(docs, q)


def _lookup_answer(t: corpus.Trace) -> dict:
    """What a correct ``trace_with_spans`` answer looks like after collect."""
    root = t.spans[0]
    n_err = sum(s.error for s in t.spans)
    spans = [
        {"spanID": s.span_id, "parent": s.parent, "service": s.service, "operationName": s.operation,
         "startTime": s.start, "duration": s.duration,
         "tags": {"http.status_code": str(s.status), **({"error": "true"} if s.error else {})}}
        for s in sorted(t.spans, key=lambda s: (s.start, s.span_id))
    ]
    return {"traceID": t.trace_id, "traceName": f"{root.service}: {root.operation}",
            "nspans": len(t.spans), "errspans": n_err, "iserror": n_err > 0,
            "duration": dt.timedelta(microseconds=root.duration),
            "startTime": EPOCH + dt.timedelta(microseconds=root.start), "spans": spans}


def test_lookup_check(truth):
    t = truth.trace(truth.traces[3].trace_id)
    answer = _lookup_answer(t)
    assert lookup_ok(answer, t)
    assert lookup_ok(KeyError("absent"), None)
    assert not lookup_ok(answer, None)  # an absent ID must raise
    assert not lookup_ok(KeyError("absent"), t)
    answer["spans"] = answer["spans"][:-1]
    assert not lookup_ok(answer, t)


def _report_answers(truth):
    crit = [{"service": "frontend", "crit_us": truth.crit_total_us - 10, "n_segments": len(truth.traces), "share": 0.0},
            {"service": "cart", "crit_us": 10, "n_segments": 5, "share": 0.0}]
    for r in crit:
        r["share"] = r["crit_us"] / truth.crit_total_us
    graph = [{"parent_service": p, "child_service": c, "n_calls": n, "n_error_calls": e}
             for (p, c), (n, e) in truth.edges.items()]
    ops = [{"service": s, "operationName": o, "n_spans": n, "n_errors": e, "error_rate": e / n,
            "p50_us": lo, "p95_us": hi, "p99_us": hi}
           for (s, o), (n, e, lo, hi) in truth.op_stats.items()]
    return crit, graph, ops


def test_report_checks_accept_right_answers(truth):
    crit, graph, ops = _report_answers(truth)
    assert critical_path_ok(crit, truth)
    assert service_graph_ok(graph, truth)
    assert op_stats_ok(ops, truth)


def test_report_checks_reject_wrong_answers(truth):
    crit, graph, ops = _report_answers(truth)
    crit[1]["crit_us"] += 1
    assert not critical_path_ok(crit, truth)
    graph[0]["n_error_calls"] += 1
    assert not service_graph_ok(graph, truth)
    ops[0]["p50_us"] = ops[0]["p99_us"] + 1
    assert not op_stats_ok(ops, truth)
    assert not op_stats_ok(ops[1:], truth)
    assert not service_graph_ok(RuntimeError("job aborted"), truth)


def test_wrong_answer_counts_as_failed(truth):
    client = Client(spark=None, tracer=Tracer())
    q = corpus.Search("checkout")
    expected = corpus.expected_search(truth, q)
    client.answer("search", lambda: expected, lambda rows: search_ok(rows, expected))
    assert (client.attempted, client.failed) == (1, 0)
    wrong = [expected[1], expected[0], *expected[2:]]  # two results out of order
    client.answer("search", lambda: wrong, lambda rows: search_ok(rows, expected))
    assert (client.attempted, client.failed) == (2, 1)

    def boom():
        raise RuntimeError("executor lost")

    client.answer("search", boom, lambda rows: search_ok(rows, expected))
    assert (client.attempted, client.failed) == (3, 2)
    assert len(client.latency["search"]) == 3


def test_tail_and_coverage():
    assert tail([1.0] * 19) is None
    pct, value = tail([float(i) for i in range(20)])
    assert (pct, value) == (50.0, 9.0)
    assert covered_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_seconds([(0, 2), (8, 12)], 1, 10) == 3


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"tracebench.span": "3", "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 1100, "Finish Time": 1900, "Getting Result Time": 0,
                       "Accumulables": [{"Name": "data sent to Python workers", "Update": "40"}]},
         "Task Metrics": {"Executor Run Time": 700, "Executor CPU Time": 350_000_000, "JVM GC Time": 7,
                          "Executor Deserialize Time": 50, "Result Serialization Time": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 123},
                          "Input Metrics": {"Records Read": 10}}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "Scan parquet ", "children": [],
                           "metrics": [{"name": "number of files read", "accumulatorId": 5}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[5, 4], [6, 99]]},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = EventLog.parse(str(path))
    jobs = log.jobs_of({3})
    assert [j.id for j in jobs] == [0] and log.jobs_of({4}) == []
    (task,) = log.tasks_of(jobs)
    assert (task.run_ms, task.cpu_ms, task.shuffle_write, task.records_read, task.python_bytes) == (700, 350, 123, 10, 40)
    assert log.files_of(jobs) == 4


def test_metric_names_match_benchmark_json(tmp_path, truth):
    """Every per-layer metric the traced run computes is declared in
    BENCHMARK.json and vice versa (a traced run prints exactly those)."""
    from pathlib import Path
    from types import SimpleNamespace

    from layers import per_layer

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    (tmp_path / "eventlog").mkdir()
    (tmp_path / "eventlog" / "app").write_text(json.dumps(
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 0, "Finish Time": 5}, "Task Metrics": {"Executor Run Time": 4}}) + "\n")
    m = per_layer(tmp_path, Tracer(), SimpleNamespace(latency={}), SimpleNamespace(corpus=truth),
                  session_s=1.0, request_p50_ms=3.0, request_cpu_ms=2.0,
                  store_files=4, files_per_build=8)
    assert set(m) == {x["name"] for x in spec["per_layer"]}
