"""Collector-path benchmark: one workload, one seed, one fresh process.

Usage, from the root of a checkout::

    python3 collectorbench/run.py --workload ingest_browser_avro \\
        --seed 1 --seconds 12 --trace 0

Workloads (``BENCHMARK.json`` says why each is there):

- ``ingest_browser_avro``: ``GET /csc-event`` access-log chunks through
  the ``divolte-wirelog`` stream source, the ``browser`` decoder (one
  Python crossing), ``dedup_events_stream`` (a state store), a
  ``MappingBuilder`` mapping and the Avro container sink;
- ``ingest_json_kafka``: JSON-POST request chunks through Spark's file
  stream source, the ``json`` decoder (JVM only), a mapping of JVM
  operators without state and the emulated Kafka sink.

Steps:

1. render the workload's chunks and manifest from ``--seed``
   (``gen.py``; plain Python, reported as ``gen_s``, never timed);
2. start ``measured.py`` in a fresh process on ``local[nproc]`` (the
   driver JVM started with ``settings.JVM_OPTS``) and sample its
   process tree's memory from ``/proc`` while it runs;
3. verify the sink's contents against the manifest;
4. print a record line (seed, nproc, Spark default parallelism, load
   averages before and after, the host's steal share, every metric's
   sample count, the chunk tail, the error rate, ...) and,
   as the last line, ``{"correct", "attempted", "failed", "metrics"}``:
   the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``,
   its ``per_layer`` metrics with ``--trace 1``. Both lines also go to
   ``.bench_out/``, with the spans of a traced run.

End-to-end metrics:

- ``setup_s``: time from the spawn of the measured process to ready
  (Python imports, JVM launch, session, source registration, Python
  worker warm-up, topology build, query start). It is one fresh
  set-up per run: a second set-up in the same process would reuse the
  running JVM, and two more fresh processes per run would add about
  35 s to every run. Its steadiness comes from the median over a
  set of runs;
- ``cold_s`` (in the record only): latency of the first chunk. It is
  one sample per run; across sets of ten seeds its interquartile
  range was 0.08-0.19 of the median on a 4-core VM, too close to the
  largest bound a metric may have (0.25);
- ``batch_p50_ms``: median of the steady chunks' latency, from the
  rename into the source directory to ``processAllAvailable()``
  returning;
- ``batch_tail_ms`` (in the record only): the highest percentile of
  the same latencies with at least ten chunks beyond it
  (``stats.py``), reported with that percentile and the number of
  chunks. The rule needs at least 11 chunks and a run has 4-7, so
  it is null and not a ``BENCHMARK.json`` metric;
- ``events_per_s``: events published in the steady window over its
  wall time; ``cpu_ms_per_kevent``: the process tree's CPU time over
  the window per 1000 published events;
- ``peak_rss_mb``: the peak during the steady window of the tree's
  resident memory (JVM RSS plus the other processes' PSS, see
  ``sampler.py``).

The error rate (failed over attempted requests, from verification) is
in the record too; it is not a ``BENCHMARK.json`` metric because it
is 0.

Exits non-zero without a result when the package is not next to this
directory, when the measured process fails, when Spark's parallelism
is not nproc, or when the chunk pool ran out before
``settings.MIN_STEADY_CHUNKS`` steady chunks. A pool that runs out after
them ends the window early; the record says so (``window_cut_by_pool``).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import sampler  # noqa: E402
from settings import (  # noqa: E402
    DRIVER_MEM,
    JVM_OPTS,
    MIN_CHUNK_S,
    MIN_STEADY_CHUNKS,
    RUN_BUDGET_S,
    WARM_CHUNKS,
)
from schemas import CONFLUENT_ID, SCHEMAS  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402
from verify import read_avro_sink, verify  # noqa: E402

def _metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit of one metric list in ``BENCHMARK.json``;
    the run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _fail(msg: str, code: int = 2) -> None:
    print(f"collectorbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _child_env(work: str, nproc: int) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "{JVM_OPTS}" pyspark-shell',
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    return env


def _become_subreaper() -> None:
    """Have orphaned descendants (the PySpark daemons start process
    groups of their own) reparented to this process, not to init, so
    that ``_stop_descendants`` finds and reaps them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_descendants(wait_s: float = 10.0) -> None:
    """SIGKILL every process left below this one and reap it."""
    me = os.getpid()
    deadline = time.time() + wait_s
    while True:
        try:  # reap what has already ended
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = set(sampler.snapshot(me)) - {me}
        if not left:
            return
        if time.time() > deadline:
            _fail(f"processes {sorted(left)} outlived SIGKILL for {wait_s} s", 6)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _end_to_end(m: dict, peak_rss: float, rss_samples: int) -> tuple[dict, dict]:
    lat = m["latencies_s"]
    n = len(lat)
    p = tail_percentile(n)
    values = {
        "setup_s": m["setup_s"],
        "peak_rss_mb": peak_rss,
        "events_per_s": m["published"] / m["window_s"],
        "batch_p50_ms": statistics.median(lat) * 1000,
        "batch_tail_ms": None if p is None else percentile(lat, p) * 1000,
        "cold_s": m["cold_s"],
        "cpu_ms_per_kevent": m["cpu_s"] * 1000 / (m["published"] / 1000),
    }
    samples = {
        "setup_s": 1,
        "peak_rss_mb": rss_samples,
        "events_per_s": m["published"],
        "batch_p50_ms": n,
        "batch_tail_ms": n,
        "cold_s": 1,
        "cpu_ms_per_kevent": m["published"],
    }
    return values, {"samples": samples, "batch_tail_percentile": p}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.time()

    if not os.path.isfile(os.path.join(ROOT, "divolte_collector_spark", "__init__.py")):
        _fail(f"package divolte_collector_spark not found under {ROOT}")
    e2e_units = _metric_units("end_to_end")
    layer_units = _metric_units("per_layer")

    _become_subreaper()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    pool = os.path.join(work, "pool")
    try:
        steady = max(MIN_STEADY_CHUNKS, math.ceil(args.seconds / MIN_CHUNK_S[args.workload]))
        # cold + warm-up + steady, and one kept back for the traced prefix runs
        n_chunks = 1 + WARM_CHUNKS + steady + args.trace
        t = time.perf_counter()
        manifest = gen.generate(args.workload, args.seed, n_chunks, pool)
        if args.trace:  # browser wire lines for the kernel timings
            gen.generate("ingest_browser_avro", args.seed, 2, os.path.join(work, "kernel"))
        gen_s = time.perf_counter() - t
        with open(os.path.join(work, "plan.json"), "w") as fh:
            json.dump({"chunks": [
                {"file": c["file"], "published": sum(e[3] for e in c["events"])}
                for c in manifest["chunks"]
            ]}, fh)

        load_before = sampler.loadavg()
        host_before = sampler.host_cpu_ticks()
        t_spawn = time.time()
        cmd = [
            sys.executable, os.path.join(HERE, "measured.py"),
            "--workload", args.workload, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--spawn-time", repr(t_spawn),
        ]
        with open(os.path.join(work, "measured.stderr"), "w") as err:
            child = subprocess.Popen(
                cmd, stdout=subprocess.PIPE, stderr=err, cwd=work,
                env=_child_env(work, nproc),
            )
            rss = sampler.RssSampler(child.pid).start()
            budget = max(30.0, RUN_BUDGET_S - (time.time() - t_begin))
            try:
                stdout, _ = child.communicate(timeout=budget)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
                stdout = b""
            finally:
                rss.stop()
                _stop_descendants()  # stragglers (JVM, Python daemons and workers)
        t_exit = time.time()
        load_after = sampler.loadavg()
        host_after = sampler.host_cpu_ticks()
        lines = [ln for ln in stdout.decode(errors="replace").splitlines()
                 if ln.startswith('{"measured"')]
        if child.returncode != 0 or not lines:
            with open(os.path.join(work, "measured.stderr")) as fh:
                tail = fh.read()[-3000:]
            _fail(f"measured process failed (exit {child.returncode}):\n{tail}", 4)
        m = json.loads(lines[-1])["measured"]
        if m["pool_exhausted"]:
            _fail("chunk pool exhausted before the steady window had "
                  f"{MIN_STEADY_CHUNKS} chunks", 5)

        published = manifest["chunks"][: m["chunks_done"]]
        if args.workload == "ingest_browser_avro":
            observed, wrong = read_avro_sink(m["sink_dir"], SCHEMAS[args.workload])
        else:
            rows = m["observed"]
            wrong = sum(1 for r in rows if r[4] != CONFLUENT_ID)
            observed = [tuple(r[:4]) for r in rows if r[4] == CONFLUENT_ID]
        check = verify(published, observed, wrong)
        verify_s = time.time() - t_exit

        window = (m["t_steady_start"], m["t_steady_end"])
        peak = rss.peak_between(*window)
        n_rss = sum(1 for s in rss.samples if window[0] <= s[0] <= window[1])
        e2e, extra = _end_to_end(m, peak[1], n_rss)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc,
            "default_parallelism": m["default_parallelism"],
            "load_before": load_before,
            "load_after": load_after,
            "host_steal_share": (host_after[1] - host_before[1])
            / max(1, host_after[0] - host_before[0]),
            "gen_s": gen_s,
            "measured_process_s": t_exit - t_spawn,
            "verify_s": verify_s,
            "phases": m["phases"],
            "rss_peak": {"at_s": peak[0] - t_spawn, "total_mb": peak[1],
                         "largest_process_mb": peak[2], "processes": peak[3],
                         "samples": n_rss},
            # (seconds since spawn, summed MB, largest process MB, processes)
            "rss_series": [[round(t - t_spawn, 2), round(mb), round(big), n]
                           for t, mb, big, n in rss.samples],
            "traffic": gen.traffic(args.workload),
            "warm_chunks": m["warm_chunks"],
            "window_cut_by_pool": m["window_cut_by_pool"],
            "steady_latencies_ms": [v * 1000 for v in m["latencies_s"]],
            "error_rate": check["failed"] / check["attempted"],
            "cold_s": e2e["cold_s"],
            "batch_tail_ms": e2e["batch_tail_ms"],
            "verification": check,
            **extra,
            "metrics": {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()},
        }
        if args.trace:
            metrics = {k: {"value": m["layers"][k], "unit": u} for k, u in layer_units.items()}
            spans_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json")
            shutil.copyfile(os.path.join(work, "spans.json"), spans_path)
            record["spans"] = os.path.relpath(spans_path, ROOT)
        else:
            metrics = record["metrics"]
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        print(json.dumps(record))
        print(json.dumps({
            "correct": check["failed"] == 0,
            "attempted": check["attempted"],
            "failed": check["failed"],
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
