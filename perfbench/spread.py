"""Run-to-run spread of the end-to-end metrics, and two-set comparison.

    python3 perfbench/spread.py --workload deep_crawl --seeds 1-10
    python3 perfbench/spread.py --compare first.jsonl second.jsonl

The first form runs the benchmark once per seed (``--trace 0``, the
``run_seconds`` of BENCHMARK.json), appends every result line to
``.perfbench/results/<workload>.jsonl`` (or ``--out``) with the run's
timing line from standard error, and prints each
metric's median, quartiles and spread — the interquartile distance as a
share of the median — next to its bound.  The second form prints, per
workload, both sets' spreads and, per metric, how much the second
set's median is worse than the first's.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import prepare as P  # noqa: E402
from perfbench.stats import median, quartiles, spread, worse_by  # noqa: E402

BENCH = json.loads((P.ROOT / "BENCHMARK.json").read_text())
METRICS = {m["name"]: m for m in BENCH["end_to_end"]}


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def running_jvms() -> int:
    """JVMs alive on the machine: a run that starts next to a JVM left
    over from an earlier, killed run is not measured on an idle host."""
    n = 0
    for d in Path("/proc").iterdir():
        try:
            n += d.name.isdigit() and (d / "comm").read_text() == "java\n"
        except OSError:
            pass
    return n


def run_seeds(workload: str, seeds: list[int], out: Path) -> list[dict]:
    out.parent.mkdir(parents=True, exist_ok=True)
    results = []
    for seed in seeds:
        jvms = running_jvms()
        if jvms:
            print(f"warning: {jvms} JVMs running before seed {seed}",
                  file=sys.stderr)
        proc = subprocess.run(
            [*BENCH["command"], "--workload", workload, "--seed", str(seed),
             "--seconds", str(BENCH["run_seconds"]), "--trace", "0"],
            cwd=P.ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"seed {seed}: exit {proc.returncode}")
        res = json.loads(lines[-1])
        diag = [
            ln for ln in proc.stderr.splitlines()
            if ln.startswith("perfbench:")
        ]
        res.update(workload=workload, seed=seed, diag=diag[-1:],
                   jvms_before=jvms, ended=time.time())
        with out.open("a") as f:
            f.write(json.dumps(res) + "\n")
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} {vals}",
              flush=True)
        results.append(res)
    return results


def load(path: Path) -> list[dict]:
    return [json.loads(line) for line in path.read_text().splitlines()]


def summarize(results: list[dict]) -> bool:
    """Print the spread table; True when every spread is within its
    bound and every operation passed."""
    ok = all(r["correct"] and r["failed"] == 0 for r in results)
    if len(results) < 2:
        return ok  # a spread needs two runs
    for name, spec in METRICS.items():
        vals = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = quartiles(vals)
        s = spread(vals)
        within = s <= spec["bound"]
        ok &= within
        print(f"  {name:12s} median {q2:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"spread {s:.3f}  bound {spec['bound']}"
              f"{'' if within else '  OVER'}")
    return ok


def compare(first: list[dict], second: list[dict]) -> bool:
    """Print each set's spreads and how much the second set's median is
    worse than the first's; True when every spread and every change is
    within its bound."""
    ok = True
    for wl in sorted({r["workload"] for r in first}):
        a = [r for r in first if r["workload"] == wl]
        b = [r for r in second if r["workload"] == wl]
        for label, rs in (("first", a), ("second", b)):
            print(f"{wl} {label} set, {len(rs)} runs:")
            ok &= summarize(rs)
        for name, spec in METRICS.items():
            ma = median(r["metrics"][name]["value"] for r in a)
            mb = median(r["metrics"][name]["value"] for r in b)
            w = worse_by(ma, mb, spec["better"])
            ok &= w <= spec["bound"]
            print(f"  {wl:15s} {name:12s} {ma:.4g} -> {mb:.4g}  "
                  f"worse by {w:+.3f}  bound {spec['bound']}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=seeds_arg)
    ap.add_argument("--out", type=Path)
    ap.add_argument("--compare", nargs=2, type=Path)
    args = ap.parse_args()
    if args.compare:
        return 0 if compare(*map(load, args.compare)) else 1
    if not (args.workload and args.seeds):
        ap.error("--workload and --seeds, or --compare")
    out = args.out or P.STATE / "results" / f"{args.workload}.jsonl"
    results = run_seeds(args.workload, args.seeds, out)
    return 0 if summarize(results) else 1


if __name__ == "__main__":
    sys.exit(main())
