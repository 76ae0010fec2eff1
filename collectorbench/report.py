"""Steadiness report over repeated benchmark runs.

Usage, from the root of a checkout::

    # run seeds 1..10 of each workload (sequentially), then report
    python3 collectorbench/report.py --run --workloads ingest_browser_avro \\
        ingest_json_kafka --seeds 1-10

    # report on the run records already in .bench_out/
    python3 collectorbench/report.py

For each workload and end-to-end metric it prints the median, the
quartiles (as ``statistics.quantiles(values, n=4)`` gives them) and
the spread (q3 - q1) / median across runs, next to the metric's bound
in ``BENCHMARK.json``. For each run it adds the drift between the
first and the second half of the steady chunks' latencies, so a
warm-up trend inside runs shows before it turns into run-to-run noise.
With traced runs present it also reports the tracing overhead: the
traced runs' median chunk latency against the untraced runs'.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import drift, quartiles, spread  # noqa: E402

OUT = os.path.join(ROOT, ".bench_out")
#: timings each run records beside its BENCHMARK.json metrics
RECORD_ONLY = ("cold_s", "batch_tail_ms")


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}


def _records(workload: str, trace: int) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(OUT, f"{workload}-seed*-trace{trace}.json"))):
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def summarize(records: list[dict], bounds: dict[str, float]) -> dict:
    """Per-metric median, quartiles and spread across ``records`` for
    every end-to-end metric and ``RECORD_ONLY`` timing, plus each
    run's within-run drift of steady chunk latency."""
    metrics = {}
    for name in [*bounds, *RECORD_ONLY]:
        values = [r["metrics"][name]["value"] if name in r["metrics"] else r.get(name)
                  for r in records]
        values = [v for v in values if v is not None]  # a tail needs 11 chunks
        if not values:
            continue
        q1, med, q3 = quartiles(values)
        metrics[name] = {
            "median": med, "q1": q1, "q3": q3, "spread": spread(values),
            "bound": bounds.get(name), "n": len(values),
        }
    return {
        "runs": len(records),
        "seeds": [r["seed"] for r in records],
        "metrics": metrics,
        "drift": [drift(r["steady_latencies_ms"]) for r in records],
        "errors": [r["error_rate"] for r in records],
    }


def _print(workload: str, s: dict, overhead: float | None) -> None:
    print(f"== {workload}: {s['runs']} runs, seeds {s['seeds']}")
    print(f"   {'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for name, m in s["metrics"].items():
        flag = ""
        if m["bound"] is not None and m["spread"] > m["bound"] / 3:
            flag = "  > bound/3"
        bound = "" if m["bound"] is None else f"{m['bound']:.2f}"
        print(f"   {name:<20}{m['median']:>12.4g}{m['q1']:>12.4g}{m['q3']:>12.4g}"
              f"{m['spread']:>9.3f}{bound:>7}{flag}")
    drifts = ", ".join("-" if d is None else f"{d:+.3f}" for d in s["drift"])
    print(f"   within-run drift of chunk latency (2nd half vs 1st): {drifts}")
    print(f"   error rates: {s['errors']}")
    if overhead is not None:
        print(f"   tracing overhead on median chunk latency: {overhead:+.3f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--run", action="store_true", help="run the seeds first")
    ap.add_argument("--workloads", nargs="+", default=None)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]

    if args.run:
        for w in workloads:
            for seed in _seeds(args.seeds):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(seconds),
                       "--trace", str(args.trace)]
                done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                last = (done.stdout.strip().splitlines() or ["(no output)"])[-1]
                print(f"{w} seed {seed}: exit {done.returncode} {last[:160]}", flush=True)

    bounds = _bounds()
    for w in workloads:
        recs = _records(w, 0)
        if not recs:
            continue
        s = summarize(recs, bounds)
        traced = _records(w, 1)
        overhead = None
        if traced:
            t = statistics.median(r["metrics"]["batch_p50_ms"]["value"] for r in traced)
            overhead = t / s["metrics"]["batch_p50_ms"]["median"] - 1
        _print(w, s, overhead)
    return 0


if __name__ == "__main__":
    sys.exit(main())
