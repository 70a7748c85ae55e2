"""Trace-engine benchmark: one workload, one seed, one Spark session.

    python3 tracebench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its corpus from
``--seed``, starts one session on ``local[nproc]``, builds the standing
stores several times (``setup_s`` reports the median), warms every
operation kind untimed, then sends requests in a closed loop for
``--seconds`` seconds, checking every answer against the generator's
ground truth. It prints the share of host CPU time the hypervisor stole
during measurement, so a caller can tell a disturbed run. The last line
of standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``
(see README.md).

Every file of a run lives under one temporary directory inside the
checkout, removed at exit, and the JVM has exited before the result is
printed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path
from time import perf_counter

ROOT = Path(__file__).resolve().parent.parent
SETUP_BUILDS = 3  # set-up repetitions; setup_s reports the median build
HEAP = "1g"  # driver heap, committed and touched up front so RSS does not track G1's resizing


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def data_files(path: str) -> list[Path]:
    return [p for p in Path(path).rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]


def mount_of(path: Path) -> str:
    best = ("", "?", "?")
    with open("/proc/mounts", encoding="utf-8") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if str(path).startswith(mnt) and len(mnt) > len(best[0]):
                best = (mnt, fstype, dev)
    return f"{best[1]} ({best[2]} at {best[0]})"


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_ticks() -> tuple[int, int]:
    """Host CPU ticks stolen by the hypervisor, and all ticks, so far."""
    with open("/proc/stat", encoding="utf-8") as f:
        fields = f.readline().split()
    return int(fields[8]), sum(int(x) for x in fields[1:9])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of process ``root`` and every live
    descendant, including children they have reaped."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(p for p, pp in parent.items() if pp == pid)
    return total / os.sysconf("SC_CLK_TCK")


def isolate(run_dir: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory, and let Python workers import the engine."""
    for sub in ("tmp", "local"):
        (run_dir / sub).mkdir()
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the engine's driver-heap setting; 1 GB holds every workload here
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["TZ"] = "UTC"  # collected timestamps are naive datetimes
    time.tzset()
    tempfile.tempdir = None


def start_session(run_dir: Path, cpus: int, trace: bool):
    from traceframe_spark import get_spark

    conf = {
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="tracebench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited: it exits when its
    stdin closes, and its Python worker daemons exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()  # later py4j object finalizers must not call the exiting JVM
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


@dataclass
class Request:
    wall: float  # seconds
    cpu: float  # CPU seconds of the client, the JVM and its Python workers
    steal: float  # share of the host's CPU time the hypervisor stole meanwhile


def measure(workload, client, tracer, seconds: float) -> tuple[list[Request], float]:
    """Closed loop until ``seconds`` have passed (the request running at
    the deadline completes). Returns every request and the share of host
    CPU time stolen over the whole loop."""
    me = os.getpid()
    out: list[Request] = []
    start, steal_start = perf_counter(), steal_ticks()
    while perf_counter() - start < seconds:
        cpu0, steal0 = tree_cpu_seconds(me), steal_ticks()
        wall = workload.request(client, tracer)
        cpu1, steal1 = tree_cpu_seconds(me), steal_ticks()
        out.append(Request(wall, cpu1 - cpu0, steal_share(steal0, steal1)))
    return out, steal_share(steal_start, steal_ticks())


def run(args, run_dir: Path, spec: dict) -> dict:
    from tracing import Tracer, tail
    from workloads import WORKLOADS, Client, Store

    print(f"storage: run files under {run_dir} on {mount_of(run_dir)}", flush=True)
    workload = WORKLOADS[args.workload](args.seed)
    jsonl = str(run_dir / "corpus.jsonl")
    t0 = perf_counter()
    corpus = workload.generate(jsonl)
    print(f"corpus: seed {args.seed}, {corpus.n_spans} spans in {len(corpus.traces)} traces, "
          f"{corpus.n_bytes / 1e6:.1f} MB JSONL in {perf_counter() - t0:.2f} s", flush=True)

    cpus = len(os.sched_getaffinity(0))
    t0 = perf_counter()
    spark = start_session(run_dir, cpus, bool(args.trace))
    session_s = perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None)
        client = Client(spark, tracer)
        builds = []
        for k in range(SETUP_BUILDS):
            store = Store(str(run_dir / f"spans{k}"), str(run_dir / f"traces{k}") if workload.trace_store else None)
            t0 = perf_counter()
            client.build(jsonl, store)
            builds.append(perf_counter() - t0)
        workload.store = store
        setup_s = session_s + statistics.median(builds)
        print(f"setup: session {session_s:.2f} s, builds " + ", ".join(f"{b:.2f}" for b in builds)
              + f" s -> setup_s {setup_s:.3f} s", flush=True)

        t0 = perf_counter()
        for _ in range(workload.warmups):
            workload.request(client, Tracer())
        print(f"warm-up: {workload.warmups} requests in {perf_counter() - t0:.2f} s", flush=True)
        for kind in client.latency:  # report measured calls only
            client.latency[kind].clear()

        requests, steal = measure(workload, client, tracer, args.seconds)
        jvm_kb = vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    finally:
        t0 = perf_counter()
        stop_session(spark)
        print(f"teardown: {perf_counter() - t0:.2f} s", flush=True)
    client_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss

    span_files = data_files(store.spans)
    files = span_files + (data_files(store.traces) if store.traces else [])
    request_p50_ms = 1000 * statistics.median(r.wall for r in requests)
    result = {
        "request_p50_ms": request_p50_ms,
        "setup_s": setup_s,
        "ok_share": (client.attempted - client.failed) / client.attempted,
        "peak_rss_mb": (jvm_kb + client_kb) / 1024,
        "store_bytes_per_input_byte": sum(f.stat().st_size for f in files) / corpus.n_bytes,
    }
    for kind, samples in client.latency.items():
        t = tail(samples)
        tail_txt = f"tail p{t[0]:.0f} {1000 * t[1]:.1f} ms (10 beyond)" if t else "tail n/a (<20 samples)"
        print(f"{kind}: n={len(samples)} p50 {1000 * statistics.median(samples):.1f} ms, {tail_txt}")
    print(f"requests: n={len(requests)}; answers {client.attempted}, wrong {client.failed}")
    print(f"peak rss: driver JVM {jvm_kb / 1024:.0f} MB, client {client_kb / 1024:.0f} MB")
    print(f"steal: {steal:.4f} of host CPU time during measurement", flush=True)
    print("request wall ms/cpu ms/steal: " + " ".join(
        f"{1000 * r.wall:.0f}/{1000 * r.cpu:.0f}/{100 * r.steal:.1f}%" for r in requests))

    names = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        from layers import per_layer

        result = per_layer(
            run_dir, tracer, client, workload, session_s=session_s, request_p50_ms=request_p50_ms,
            request_cpu_ms=1000 * statistics.median(r.cpu for r in requests),
            store_files=len(span_files), files_per_build=len(files),
        )
    return {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {m["name"]: {"value": result[m["name"]], "unit": m["unit"]} for m in names},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import traceframe_spark  # noqa: F401 — fail fast when the engine is absent

    base = ROOT / ".bench_run"
    base.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base))
    try:
        isolate(run_dir)
        out = run(args, run_dir, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
