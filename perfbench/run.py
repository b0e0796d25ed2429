#!/usr/bin/env python3
"""perfbench — end-to-end and per-layer benchmark of sagan_spark.

    python3 perfbench/run.py --workload batch_sparse_wide --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

``--trace 0`` (timed run) prints the end-to-end metrics; ``--trace 1``
(traced run) prints the per-layer metrics. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. See
perfbench/README.md for the workloads and the metric → layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Set in the child process that does the run (see supervise.py).
CHILD_ENV = "PERFBENCH_CHILD"
# A run must end within 180 s; the child is stopped after this long, which
# leaves time to end what it started.
RUN_LIMIT_S = 165

# Cold starts per timed run; setup_s is their median. Each costs 9-14 s on
# 4 cores, about a fifth of a run, so a third one is not taken.
SETUP_REPEATS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def warm_up(wl, sessions, inp) -> None:
    """The workload's untimed warm-up jobs. A reference not cached yet is
    made beside them, in a helper process; one that needs the session is
    made after them."""
    call = wl.reference_call(inp)
    if call is None:
        wl.warm_up(sessions.spark, inp)
    else:
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as pool:
            fn, fargs = call
            fut = pool.submit(fn, *fargs)
            wl.warm_up(sessions.spark, inp)
            wl.accept_reference(inp, fut.result())
    wl.reference_with_spark(sessions.spark, inp)


def run_timed(wl, sessions, inp, n: int, seconds: float, first_start: float):
    """On the warm session of the first cold start: jobs back to back for
    ``seconds`` (at least ``wl.min_jobs``). Every job's output is checked
    against the reference, outside its timed wall. Then the JVM is shut
    down and cold-started SETUP_REPEATS - 1 more times for ``setup_s``."""
    from sparkenv import cpu_ticks, peak_rss_mb
    from workloads import Checks

    spark = sessions.spark
    checks = Checks()
    t_start = time.perf_counter()
    steal0, total0 = cpu_ticks()
    t_end = t_start + seconds
    jobs = []
    t_give_up = t_end + 60  # a job far slower than the window: stop, report what ran
    while (time.perf_counter() < t_end or len(jobs) < wl.min_jobs) and time.perf_counter() < t_give_up:
        job = checks.run(wl, spark, inp)
        if job is not None:
            jobs.append(job)
        elif checks.failed > 2 * wl.min_jobs + 2:
            break
    t_setup = time.perf_counter()
    steal1, total1 = cpu_ticks()
    if not jobs:
        raise RuntimeError("no job completed correctly: " + "; ".join(checks.problems[:5]))
    peak, procs = peak_rss_mb()
    setups = [first_start]
    for _ in range(SETUP_REPEATS - 1):
        sessions.shutdown()
        setups.append(sessions.start(n))
    phases = (f"  phases: window {t_setup - t_start:.1f}s, "
              f"cold starts {time.perf_counter() - t_setup:.1f}s; "
              f"CPU steal in the window {100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}%")

    walls = [j.wall_s for j in jobs]
    job_p50 = statistics.median(walls)
    per_s = inp.items / job_p50
    metrics = {
        "setup_s": metric(statistics.median(setups), "s"),
        "items_per_s": metric(per_s, "1/s"),
        "peak_rss_mb": metric(peak, "MiB"),
    }
    # the same figures under the names operators read them by
    rows = [("setup_s", statistics.median(setups), "s",
             f"median of {len(setups)} cold starts: " + ", ".join(f"{s:.3f}" for s in setups))]
    rows.append((f"{wl.item}_per_s", per_s, "1/s",
                 f"{inp.items} {wl.item} / median of {len(walls)} jobs: "
                 + ", ".join(f"{w:.3f}" for w in walls)))
    micro = [m for j in jobs for m in j.microbatch_s]
    if micro:
        rows.append(("microbatch_p50_s", statistics.median(micro), "s",
                     f"median of {len(micro)} micro-batches"))
    rows.append(("peak_rss_mb", peak, "MiB", f"VmHWM of the JVM and {procs - 1} Python processes"))
    rows.append(("output_mismatch", checks.failed / checks.attempted, "share",
                 f"{checks.failed} of {checks.attempted} checked runs differ from the reference"))
    lines = [f"  {name:<18} {value:>14.4f} {unit:<6} {note}" for name, value, unit, note in rows]
    lines += [phases] + [f"  mismatch: {p}" for p in checks.problems[:10]]
    result = {"correct": checks.failed == 0, "attempted": checks.attempted,
              "failed": checks.failed, "metrics": metrics}
    return result, lines


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    import sparkenv

    sparkenv.isolate(ROOT, WORK)
    wl = WORKLOADS[args.workload](ROOT, WORK)
    t0 = time.perf_counter()
    inp = wl.prepare(args.seed)
    t_prepared = time.perf_counter()
    n = sparkenv.cores()
    sessions = sparkenv.Sessions(WORK)
    try:
        # a cold start: JVM launch, session, module shipping, first jobs
        cold = sessions.start(n)
        t_warm = time.perf_counter()
        warm_up(wl, sessions, inp)
        t_warmed = time.perf_counter()
        if args.trace:
            import trace_layers

            result, lines = trace_layers.run_traced(wl, sessions, inp, n, WORK, args.seed)
        else:
            result, lines = run_timed(wl, sessions, inp, n, args.seconds, cold)
    finally:
        t_stop = time.perf_counter()
        sessions.shutdown()
    mode = "traced" if args.trace else "timed"
    print(f"perfbench {wl.name} seed={args.seed} local[{n}] {mode}; inputs "
          f"{t_prepared - t0:.1f}s, first cold start {cold:.1f}s, warm-up and reference "
          f"{t_warmed - t_warm:.1f}s, shutdown {time.perf_counter() - t_stop:.1f}s")
    print("  inputs: " + json.dumps(inp.props, sort_keys=True))
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process (its own JVM), one table."""
    summary = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        out = p.stdout.strip().splitlines()
        if p.returncode != 0 or not out:
            print(f"perfbench {name}: failed (exit {p.returncode})\n{p.stderr[-2000:]}")
            return 1
        print("\n".join(out[:-1]), flush=True)
        summary[name] = json.loads(out[-1])
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sagan_spark")):
        print(f"perfbench: no sagan_spark package in {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    import supervise

    if os.environ.get(CHILD_ENV) != "1":
        # the run happens in a child; this process ends whatever it leaves
        cmd = [sys.executable, os.path.abspath(__file__), *argv]
        return supervise.supervise(cmd, CHILD_ENV, RUN_LIMIT_S)
    supervise.exit_on_sigterm()
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
