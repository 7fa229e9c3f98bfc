"""Crawl-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload deep_crawl --seed 1 --seconds 1

Workloads: deep_crawl, dataset_export (see README.md).  ``--prepare``
builds all cached inputs and exits.

A run sets up once, timed from process start (Python imports, JVM
launch, session, store copy, world registered, engine resumed), then
runs measured operations in a closed loop — one client, the next
operation only after the previous one committed — until ``--seconds``
of operation time is spent, checking every operation's output.  The
first operation is the process's cold one; with the ``run_seconds`` of
BENCHMARK.json it is the only one.  With ``--trace 1`` it then runs one
more untraced operation, the baseline of the tracing overhead, and one
with the layers instrumented, and prints the per-layer metrics instead.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import prepare as P  # noqa: E402

DEADLINE_S = 100.0  # stop starting operations after this much run time,
# not counting the preparation of cached inputs


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_probe_s() -> float:
    """Median time of a fixed pure-Python loop: a gauge of the host's
    speed, printed next to the run's timings."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i
        times.append(time.perf_counter() - t)
    return sorted(times)[2]


def machine_cpu_s() -> tuple[float, float]:
    """CPU seconds the whole machine has spent busy, and those its
    hypervisor gave to other guests (steal), since boot."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


class Counter:
    """Operations attempted and failed (raised or failed their check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, wl, tracer=None):
        self.attempted += 1
        try:
            res = wl.op(tracer)
            why = wl.check()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        if why is not None:
            self.failed += 1
            print(f"output check failed: {why}", file=sys.stderr)
        return res


def set_up(workload, seed: int, t_start: float, event_dir=None):
    """Session up, store copied, world registered, engine resumed (or
    input opened).  Returns (spark, workload, session_s, setup_s), the
    times counted from ``t_start``."""
    spark = P.open_session(event_dir)
    session_s = time.perf_counter() - t_start
    wl = workload(spark, seed)
    wl.clone()
    wl.setup()
    return spark, wl, session_s, time.perf_counter() - t_start


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true")
    args = ap.parse_args(argv)
    t_start = time.perf_counter() - process_age_s()

    shutil.rmtree(P.RUN, ignore_errors=True)
    P.configure_env()
    import legislation_scraper_spark  # noqa: F401  (fails outside a checkout)

    from perfbench.report import E2E_UNITS, LAYER_UNITS, end_to_end
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload}; one of {list(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    trace = bool(args.trace)
    event_dir = P.RUN / "eventlog"

    if args.prepare:
        spark = P.open_session()
        try:
            P.prepare(spark)
        finally:
            P.stop_session(spark)
        return 0
    # cache misses are built by a separate process, so that every
    # measured process starts equally cold
    t = time.perf_counter()
    if not P.prepared():
        subprocess.run(
            [sys.executable, __file__, "--prepare", "--workload",
             args.workload, "--seed", str(args.seed)],
            check=True,
        )
    prep_s = time.perf_counter() - t
    t_start += prep_s

    spark = None
    try:
        spark, wl, session_s, setup_s = set_up(
            workload, args.seed, t_start, event_dir if trace else None
        )
        count = Counter()
        probe_s = cpu_probe_s()
        cpu0 = machine_cpu_s()
        ops, measured = [], 0.0
        while measured < args.seconds or not ops:
            res = count.run(wl)
            if res is not None:
                ops.append(res)
                measured += res.wall
            if time.perf_counter() - t_start > DEADLINE_S or count.failed > 3:
                break
        if not ops:
            print("no operation succeeded", file=sys.stderr)
            return 1
        busy, steal = (
            (b - a) / count.attempted for a, b in zip(cpu0, machine_cpu_s())
        )

        traced, baseline = [], []
        if trace:
            from perfbench.tracing import Tracer, instrument

            # the measured operation is the process's cold one: the
            # overhead is taken against the untraced operation right
            # before the traced one
            res = count.run(wl)
            if res is not None:
                baseline.append(res)
            tracer = Tracer(spark.sparkContext)
            with instrument(tracer):
                res = count.run(wl, tracer)
            if res is not None:
                traced.append(res)
        P.stop_session(spark)
        spark = None

        if trace:
            from perfbench.report import format_report, per_layer
            from perfbench.tracing import find_event_log, parse_event_log

            if not (traced and baseline):
                print("no traced or baseline operation succeeded",
                      file=sys.stderr)
                return 1
            log = parse_event_log(find_event_log(str(event_dir)))
            metrics, rep = per_layer(
                tracer.spans, log, traced, baseline, session_s
            )
            rep["end_to_end_untraced"] = end_to_end(ops, setup_s)
            rep["seed"], rep["workload"] = args.seed, args.workload
            P.REPORTS.mkdir(parents=True, exist_ok=True)
            out = P.REPORTS / f"{args.workload}-s{args.seed}.json"
            out.write_text(json.dumps(rep, indent=1, default=str))
            print(format_report(args.workload, rep))
            print(f"report: {out}")
            units = LAYER_UNITS
        else:
            metrics = end_to_end(ops, setup_s)
            units = E2E_UNITS

        print(
            f"perfbench: prepare {prep_s:.1f} s, set-up {setup_s:.2f} s, "
            f"cpu probe {probe_s:.4f} s, operations "
            f"{[round(op.wall, 2) for op in ops]} s, "
            f"busy cpu {busy:.1f} s and steal {steal:.1f} s per operation, "
            f"run {time.perf_counter() - t_start:.1f} s",
            file=sys.stderr,
        )
        print(json.dumps({
            "correct": count.failed == 0,
            "attempted": count.attempted,
            "failed": count.failed,
            "metrics": {
                k: {"value": metrics[k], "unit": u} for k, u in units.items()
            },
        }))
        return 0
    finally:
        # however the run ends, end the JVM and its workers
        if spark is not None:
            P.stop_session(spark)


if __name__ == "__main__":
    sys.exit(main())
