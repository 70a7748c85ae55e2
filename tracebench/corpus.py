"""Seeded Jaeger-style trace corpus with ground truth for every check.

The engine only ever sees the JSON-lines files written here (one trace
document per line, the shape ``read_raw_traces(..., multiline=False)``
reads). Everything the benchmark checks an answer against comes from the
generator's own bookkeeping, never from the engine.

Corpus properties, each chosen because an engine path depends on it:

- heavy-tailed spans per trace (Pareto, capped at ``MAX_SPANS``): the
  largest trace bounds the critical-path kernel's per-task skew;
- start times spread over ``DAYS`` UTC days: ``write_spans`` partitions
  by span date;
- twelve services with two to four operations each, an
  ``http.status_code`` tag on every span and about 5% error spans;
- every child span strictly inside its parent's interval, so the
  critical path of a trace partitions its root span's duration and the
  corpus-wide ``crit_us`` total equals the sum of root durations.

A trace is generated from its own ``random.Random`` keyed by
``(seed, index)``, so any trace can be regenerated on demand for a lookup
check without keeping every span in memory.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import NamedTuple

SERVICES: dict[str, tuple[str, ...]] = {
    "frontend": ("GET /", "GET /product", "POST /cart", "POST /checkout"),
    "gateway": ("route", "authorize", "rate_limit"),
    "auth": ("login", "verify_token", "refresh"),
    "catalog": ("get_product", "list_products", "get_price"),
    "search": ("query", "suggest"),
    "recommend": ("for_user", "similar_items"),
    "cart": ("get_cart", "add_item", "empty_cart"),
    "checkout": ("place_order", "quote", "validate"),
    "payment": ("charge", "refund"),
    "shipping": ("quote", "ship_order"),
    "inventory": ("reserve", "check_stock", "release"),
    "email": ("send_confirmation", "render"),
}
# Services a span of each service may call; a leaf service's children
# are internal frames of the same service.
DOWNSTREAM: dict[str, tuple[str, ...]] = {
    "frontend": ("gateway", "catalog", "search", "recommend", "cart"),
    "gateway": ("auth", "checkout", "cart", "catalog"),
    "catalog": ("inventory", "search"),
    "search": ("catalog",),
    "recommend": ("catalog",),
    "cart": ("inventory", "auth"),
    "checkout": ("payment", "shipping", "inventory", "email", "cart"),
    "payment": ("auth",),
    "shipping": ("inventory",),
    "auth": (),
    "inventory": (),
    "email": (),
}
ROOT_SERVICES = ("frontend", "frontend", "gateway")
OK_STATUS = (200, 200, 200, 200, 200, 201, 404)
ERROR_STATUS = (500, 503)
ERROR_RATE = 0.05
MAX_SPANS = 500
DAYS = 4
BASE_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z
DAY_US = 86_400_000_000


class Span(NamedTuple):
    span_id: str
    parent: str  # "" for the root
    service: str
    operation: str
    start: int  # µs since epoch
    duration: int  # µs
    status: int
    error: bool


class Trace(NamedTuple):
    trace_id: str
    spans: list[Span]  # spans[0] is the root


def _pick(rng: random.Random, seq):
    return seq[int(rng.random() * len(seq))]


def make_trace(seed: int, index: int) -> Trace:
    """Trace ``index`` of the corpus of ``seed``; a pure function of both."""
    rng = random.Random(f"{seed}/{index}")
    rand = rng.random
    bits = rng.getrandbits
    n = min(MAX_SPANS, 1 + int(rng.paretovariate(1.2) * 2.5))
    trace_id = f"{bits(64):016x}{index:016x}"
    svc = _pick(rng, ROOT_SERVICES)
    start = BASE_US + int(rand() * DAYS * DAY_US)
    duration = int(rng.lognormvariate(10.6, 0.8)) + 40 * n  # ~40 ms median
    parent_id = ""
    spans: list[Span] = []
    for i in range(n):
        if i:
            parent = spans[int(rand() * i)]
            if parent.duration < 3:  # no room to nest strictly inside it
                parent = spans[0]
            down = DOWNSTREAM[parent.service]
            svc = _pick(rng, down) if down and rand() < 0.75 else parent.service
            # strictly nested: parent.start < start and end < parent end
            duration = max(1, min(parent.duration - 2, int(parent.duration * (0.05 + 0.55 * rand()))))
            start = parent.start + 1 + int(rand() * (parent.duration - 1 - duration))
            parent_id = parent.span_id
        error = rand() < ERROR_RATE
        spans.append(
            Span(
                f"{bits(48):012x}{i:04x}",
                parent_id,
                svc,
                _pick(rng, SERVICES[svc]),
                start,
                duration,
                _pick(rng, ERROR_STATUS if error else OK_STATUS),
                error,
            )
        )
    return Trace(trace_id, spans)


def trace_line(t: Trace) -> str:
    """One Jaeger JSON trace document as a line of JSON. Every string in
    it is a hex ID or a fixed service/operation name, so none needs
    escaping and plain formatting replaces the slower ``json.dumps``."""
    pids: dict[str, str] = {}
    for s in t.spans:
        if s.service not in pids:
            pids[s.service] = f"p{len(pids) + 1}"
    tid = t.trace_id
    spans = []
    for s in t.spans:
        refs = f'{{"refType":"CHILD_OF","traceID":"{tid}","spanID":"{s.parent}"}}' if s.parent else ""
        err = ',{"key":"error","type":"bool","value":true}' if s.error else ""
        spans.append(
            f'{{"traceID":"{tid}","spanID":"{s.span_id}","flags":1,'
            f'"operationName":"{s.operation}","references":[{refs}],'
            f'"startTime":{s.start},"duration":{s.duration},'
            f'"tags":[{{"key":"http.status_code","type":"int64","value":{s.status}}}{err}],'
            f'"logs":[],"processID":"{pids[s.service]}","warnings":null}}'
        )
    procs = ",".join(
        f'"{pid}":{{"serviceName":"{svc}","tags":[{{"key":"hostname","type":"string","value":"{svc}-0"}}]}}'
        for svc, pid in pids.items()
    )
    return f'{{"traceID":"{tid}","spans":[{",".join(spans)}],"processes":{{{procs}}},"warnings":null}}\n'


@dataclass
class TraceSummary:
    index: int
    trace_id: str
    root_service: str
    root_operation: str
    start: int
    duration: int
    n_spans: int


@dataclass
class Corpus:
    """One generated JSONL file and the ground truth of its traces."""

    seed: int
    path: str
    n_spans: int = 0
    n_bytes: int = 0
    traces: list[TraceSummary] = field(default_factory=list)
    by_id: dict[str, int] = field(default_factory=dict)
    # search index: key → trace positions, newest first (start desc, traceID)
    by_service: dict[str, list[int]] = field(default_factory=dict)
    by_combo: dict[tuple[str, str, str], list[int]] = field(default_factory=dict)
    # report truth
    crit_total_us: int = 0
    edges: dict[tuple[str, str], list[int]] = field(default_factory=dict)  # [calls, errors]
    op_stats: dict[tuple[str, str], list[int]] = field(default_factory=dict)  # [n, errors, min, max]

    def trace(self, trace_id: str) -> Trace:
        """Regenerate one trace of the corpus for a lookup check."""
        return make_trace(self.seed, self.traces[self.by_id[trace_id]].index)

    def newest(self, positions: list[int], min_duration_us: int, limit: int) -> list[TraceSummary]:
        out = []
        for p in positions:
            t = self.traces[p]
            if t.duration >= min_duration_us:
                out.append(t)
                if len(out) == limit:
                    break
        return out


def generate(seed: int, target_spans: int, path: str) -> Corpus:
    """Write traces of the corpus of ``seed`` to ``path`` until at least
    ``target_spans`` spans are written; return the corpus's ground truth."""
    truth = Corpus(seed, path)
    by_service: dict[str, set[int]] = {}
    by_combo: dict[tuple[str, str, str], set[int]] = {}
    with open(path, "w", encoding="utf-8") as f:
        index = 0
        while truth.n_spans < target_spans:
            t = make_trace(seed, index)
            line = trace_line(t)
            f.write(line)
            truth.n_bytes += len(line)
            pos = len(truth.traces)
            root = t.spans[0]
            truth.traces.append(
                TraceSummary(
                    index, t.trace_id, root.service, root.operation, root.start, root.duration, len(t.spans)
                )
            )
            truth.by_id[t.trace_id] = pos
            truth.n_spans += len(t.spans)
            truth.crit_total_us += root.duration
            svc_of = {s.span_id: s.service for s in t.spans}
            for svc in set(svc_of.values()):
                by_service.setdefault(svc, set()).add(pos)
            for combo in {(s.service, s.operation, str(s.status)) for s in t.spans}:
                by_combo.setdefault(combo, set()).add(pos)
            for s in t.spans:
                st = truth.op_stats.setdefault((s.service, s.operation), [0, 0, s.duration, s.duration])
                st[0] += 1
                st[1] += s.error
                st[2] = min(st[2], s.duration)
                st[3] = max(st[3], s.duration)
                if s.parent and svc_of[s.parent] != s.service:
                    e = truth.edges.setdefault((svc_of[s.parent], s.service), [0, 0])
                    e[0] += 1
                    e[1] += s.error
            index += 1

    def order(positions: set[int]) -> list[int]:
        return sorted(positions, key=lambda p: (-truth.traces[p].start, truth.traces[p].trace_id))

    truth.by_service = {k: order(v) for k, v in by_service.items()}
    truth.by_combo = {k: order(v) for k, v in by_combo.items()}
    return truth


@dataclass(frozen=True)
class Search:
    """One trace search; ``operation``/``status``/``min_duration_us`` are
    None/0 for a broad (service-only) search."""

    service: str
    operation: str | None = None
    status: str | None = None
    min_duration_us: int = 0
    limit: int = 20

    def kwargs(self) -> dict:
        kw: dict = {"service": self.service, "limit": self.limit}
        if self.operation is not None:
            kw["operation"] = self.operation
        if self.status is not None:
            kw["tags"] = {"http.status_code": self.status}
        if self.min_duration_us:
            kw["min_duration_us"] = self.min_duration_us
        return kw


def expected_search(corpus: Corpus, q: Search) -> list[tuple]:
    """Ground-truth result rows of ``q`` in ``search_traces`` order: newest
    root start first, then traceID."""
    if q.operation is None:
        positions = corpus.by_service.get(q.service, [])
    else:
        positions = corpus.by_combo.get((q.service, q.operation, q.status), [])
    return [
        (t.trace_id, t.root_service, t.root_operation, t.start, t.duration, t.n_spans)
        for t in corpus.newest(positions, q.min_duration_us, q.limit)
    ]


def narrow_search(rng: random.Random, corpus: Corpus) -> Search:
    """A service + operation + status tag + min-duration search drawn from
    combinations present in ``corpus``, so it always has results."""
    service, operation, status = rng.choice(sorted(corpus.by_combo))
    # threshold at a random quantile (below the 80th) of the matching root durations
    durs = sorted(corpus.traces[p].duration for p in corpus.by_combo[(service, operation, status)])
    return Search(service, operation, status, durs[int(rng.random() * 0.8 * len(durs))])


def broad_search(rng: random.Random) -> Search:
    return Search(rng.choice(sorted(SERVICES)))


def absent_trace_id(rng: random.Random) -> str:
    """A trace ID no generated trace has: generated IDs end in their index
    as 16 hex digits, and no index reaches 0xffff000000000000."""
    return f"{rng.getrandbits(64):016x}ffff{rng.getrandbits(48):012x}"
