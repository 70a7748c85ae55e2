"""Steadiness self-check: run every workload as two sets of seeded runs,
print each end-to-end metric's spread against its bound, and measure the
tracing overhead.

    python3 tracebench/steady.py [--runs 10] [--first-seed 1]

For each workload and set, the spread of a metric is the distance
between the first and third quartile of its values, as a share of their
median. A metric holds when its spread in each set is within its bound
and the two sets' medians differ by no more than the bound, in either
direction. Runs go one at a time, each in its own process, exactly as
``BENCHMARK.json``'s command runs them; the second set uses other seeds
than the first. A run during which the hypervisor stole more than
``STEAL_LIMIT`` of the host's CPU time is repeated once on the same
seed, and the repeat is kept whatever its steal.

Then ``TRACED_PAIRS`` pairs of runs per workload, each an untraced and
a traced run of one seed back to back (the order alternating, so a
drifting host speed cancels), give the tracing overhead: the traced
run's request median over the untraced run's ``request_p50_ms``, minus
one (the median over the pairs). Exits 1 if any metric fails or any
answer is wrong.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# On shared VMs steal swings between 0% and 20% within minutes and
# inflates wall time by up to 2x.
STEAL_LIMIT = 0.03
TRACED_PAIRS = 3


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def change(first: float, second: float) -> float:
    """Relative change from ``first`` to ``second``."""
    return (second - first) / first if first else 0.0


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> tuple[dict, float]:
    """One run of the benchmark command; returns its result and the
    steal share it printed."""
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    start = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    lines = out.stdout.strip().splitlines()
    (steal,) = [float(line.split()[1]) for line in lines if line.startswith("steal:")]
    r = json.loads(lines[-1])
    print(f"{workload} seed {seed} trace {trace} ({time.monotonic() - start:.0f} s, steal {steal:.1%}): "
          f"correct={r['correct']} " + " ".join(f"{k}={v['value']:.5g}" for k, v in r["metrics"].items()),
          flush=True)
    return r, steal


def measured(spec: dict, workload: str, seed: int) -> dict:
    r, steal = run_once(spec, workload, seed)
    if steal > STEAL_LIMIT:
        print(f"  steal over {STEAL_LIMIT:.0%}: repeating seed {seed}", flush=True)
        r, _ = run_once(spec, workload, seed)
    return r


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload and set")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    ok = True
    table, overheads = [], []
    for workload in (w["name"] for w in spec["workloads"]):
        seeds1 = range(args.first_seed, args.first_seed + args.runs)
        seeds2 = range(args.first_seed + args.runs, args.first_seed + 2 * args.runs)
        set1 = {s: measured(spec, workload, s) for s in seeds1}
        set2 = {s: measured(spec, workload, s) for s in seeds2}
        ok &= all(r["correct"] for r in (*set1.values(), *set2.values()))
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            v1 = [r["metrics"][name]["value"] for r in set1.values()]
            v2 = [r["metrics"][name]["value"] for r in set2.values()]
            s1, s2 = spread(v1), spread(v2)
            med1, med2 = statistics.median(v1), statistics.median(v2)
            good = s1 <= bound and s2 <= bound and abs(change(med1, med2)) <= bound
            steady = max(s1, s2, abs(change(med1, med2))) < bound / 3
            ok &= good
            table.append(f"{workload:<12} {name:<28} {bound:>6.2f} {med1:>12.5g} {s1:>8.3f} "
                         f"{med2:>12.5g} {s2:>8.3f} {change(med1, med2):>+8.3f} "
                         + ("FAIL" if not good else "ok" if steady else "ok, over bound/3"))

        ratios = []
        for i, seed in enumerate(seeds1[:TRACED_PAIRS]):
            pair = {trace: run_once(spec, workload, seed, trace)[0] for trace in ((0, 1) if i % 2 == 0 else (1, 0))}
            ok &= pair[0]["correct"] and pair[1]["correct"]
            ratios.append(pair[1]["metrics"]["tracing.request_p50_ms"]["value"]
                          / pair[0]["metrics"]["request_p50_ms"]["value"] - 1)
        overheads.append(f"{workload}: tracing overhead {statistics.median(ratios):+.3f} "
                         f"(pairs: {', '.join(f'{x:+.3f}' for x in ratios)})")

    print(f"\n{'workload':<12} {'metric':<28} {'bound':>6} {'median1':>12} {'spread1':>8} "
          f"{'median2':>12} {'spread2':>8} {'change':>8}")
    print("\n".join(table))
    print("\n".join(overheads))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
