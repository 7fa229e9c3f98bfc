"""End-to-end metrics of a run and per-layer metrics of a traced run."""

from __future__ import annotations

from .stats import median
from .tracing import (
    EventLog,
    Span,
    attribute_tasks,
    blocking_path,
    jobs_in_window,
    self_times,
)

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "urls_per_s": "1/s",
    "pages_per_s": "1/s",
    "rows_per_s": "1/s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "crawl.maintain_s": "s",
    "crawl.frontier_merge_s": "s",
    "crawl.jobs_per_round": "count",
    "crawl.stages_per_round": "count",
    "crawl.tasks_per_round": "count",
    "seen.filter_unseen_s": "s",
    "seen.add_s": "s",
    "seen.candidates_in": "count",
    "seen.unseen_out": "count",
    "politeness.schedule_s": "s",
    "politeness.selected_rows": "count",
    "politeness.fetch_partition_skew": "ratio",
    "fetch.resolve_s": "s",
    "fetch.web_bytes_scanned": "B",
    "extract.parse_s": "s",
    "extract.pages_ok_ratio": "ratio",
    "tables.append_s": "s",
    "tables.commits": "count",
    "tables.files_written": "count",
    "tables.bytes_written": "B",
    "tables.checkpoint_s": "s",
    "tables.compact_s": "s",
    "tables.read_s": "s",
    "dataset_build.export_s": "s",
    "dataset_build.rows_out": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
}


def end_to_end(ops, setup_s: float) -> dict[str, float]:
    """The run's set-up time; medians over its operations; rates over
    summed unit time.

    Crawl units are rounds (attempted = frontier URLs, pages = pages
    committed, rows = rows committed to all tables); an export unit has
    attempted = rows = dataset rows written, pages = pages rows read."""
    units = [u for op in ops for u in op.units]
    busy = sum(u.wall for u in units)
    return {
        "setup_s": setup_s,
        "wall_s": median(op.wall for op in ops),
        "urls_per_s": sum(u.attempted for u in units) / busy,
        "pages_per_s": sum(u.pages for u in units) / busy,
        "rows_per_s": sum(u.rows for u in units) / busy,
    }


def output_commits(spans: list[Span]) -> list[Span]:
    """Table commits that write a round's (or export's) output: every
    append and overwrite span except those inside a compaction, whose
    work is reported under tables.compact only."""
    by_id = {s.sid: s for s in spans}

    def in_compaction(s: Span) -> bool:
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name == "tables.compact":
                return True
        return False

    return [
        s for s in spans
        if s.name in ("tables.append", "tables.overwrite")
        and not in_compaction(s)
    ]


def per_layer(
    spans: list[Span],
    log: EventLog,
    traced_ops,
    untraced_ops,
    session_s: float,
) -> tuple[dict[str, float], dict]:
    """Per-layer metrics (means per traced unit) and the full report."""
    roots = [s for s in spans if s.parent is None]
    n = len(roots)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    selfs = self_times(spans)
    spark = attribute_tasks(log, spans)

    def total(name: str) -> float:
        return sum(s.duration for s in by_name.get(name, ())) / n

    def attr(name: str, key: str) -> float:
        return sum(
            s.attrs.get(key, 0) for s in by_name.get(name, ())
        ) / n

    def counter(key: str, names=None) -> float:
        return sum(
            c[key] for sid, c in spark.items()
            if names is None or span_name[sid] in names
        ) / n

    span_name = {s.sid: s.name for s in spans}
    commits = output_commits(spans)
    crawl_units = [
        u for op in untraced_ops for u in op.units if u.name == "crawl.round"
    ]
    windows = [
        jobs_in_window(log, u.start, u.start + u.wall) for u in crawl_units
    ]

    def per_round(key: str) -> float:
        return (
            sum(w[key] for w in windows) / len(windows) if windows else 0.0
        )

    traced_units = [u for op in traced_ops for u in op.units]
    fetched_docs = sum(u.metrics.get("fetched_docs", 0) for u in traced_units)
    pages = sum(u.metrics.get("pages", 0) for u in traced_units)
    maintain = [
        u.metrics["timings"]["maintain"]
        for u in traced_units if "timings" in u.metrics
    ]
    paths = {r.sid: blocking_path(r, spans) for r in roots}
    unattributed = [
        paths[r.sid].get(r.name, 0.0) / r.duration for r in roots
    ]
    m = {
        "session.start_s": session_s,
        "crawl.maintain_s": sum(maintain) / n if maintain else 0.0,
        "crawl.frontier_merge_s": total("crawl.frontier_merge"),
        "crawl.jobs_per_round": per_round("jobs"),
        "crawl.stages_per_round": per_round("stages"),
        "crawl.tasks_per_round": per_round("tasks"),
        "seen.filter_unseen_s": total("seen.filter_unseen"),
        "seen.add_s": total("seen.add"),
        "seen.candidates_in": attr("seen.filter_unseen", "candidates_in"),
        "seen.unseen_out": attr("seen.filter_unseen", "unseen_out"),
        "politeness.schedule_s": total("politeness.schedule"),
        "politeness.selected_rows": attr(
            "politeness.schedule", "selected_rows"
        ),
        "politeness.fetch_partition_skew": attr(
            "politeness.schedule", "partition_skew"
        ),
        "fetch.resolve_s": total("fetch.resolve"),
        "fetch.web_bytes_scanned": counter("input_bytes", {"fetch.resolve"}),
        "extract.parse_s": total("extract.parse"),
        "extract.pages_ok_ratio": (
            pages / fetched_docs if fetched_docs else 0.0
        ),
        "tables.append_s": total("tables.append"),
        "tables.commits": len(commits) / n,
        "tables.files_written": sum(
            s.attrs.get("files", 0) for s in commits
        ) / n,
        "tables.bytes_written": sum(
            s.attrs.get("bytes", 0) for s in commits
        ) / n,
        "tables.checkpoint_s": total("tables.checkpoint"),
        "tables.compact_s": total("tables.compact"),
        "tables.read_s": total("tables.read"),
        "dataset_build.export_s": total("dataset_build.export"),
        "dataset_build.rows_out": attr("dataset_build.export", "rows_out"),
        "spark.executor_cpu_s": counter("cpu_s"),
        "spark.gc_s": counter("gc_s"),
        "spark.shuffle_write_bytes": counter("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": counter("shuffle_read_bytes"),
        "spark.spill_bytes": counter("spill_bytes"),
        "trace.overhead_s": median(op.wall for op in traced_ops)
        - median(op.wall for op in untraced_ops),
        "trace.unattributed_share": sum(unattributed) / n,
    }

    table = {}
    for name, group in sorted(by_name.items()):
        row = {
            "calls": len(group),
            "total_s": sum(s.duration for s in group),
            "self_s": sum(selfs[s.sid] for s in group),
            "blocking_s": sum(p.get(name, 0.0) for p in paths.values()),
        }
        for key in ("cpu_s", "gc_s", "shuffle_write_bytes",
                    "shuffle_read_bytes", "spill_bytes", "input_bytes"):
            row["spark_" + key] = sum(
                spark.get(s.sid, {}).get(key, 0) for s in group
            )
        table[name] = row
    report = {
        "spans": table,
        "units": [
            {
                "name": r.name,
                "attrs": {k: v for k, v in r.attrs.items() if k != "metrics"},
                "wall_s": r.duration,
                "blocking_path_s": paths[r.sid],
            }
            for r in roots
        ],
        "untraced_unit_wall_s": [
            u.wall for op in untraced_ops for u in op.units
        ],
        "traced_unit_wall_s": [u.wall for u in traced_units],
        "rounds_jobs_stages_tasks": windows,
        "metrics": m,
    }
    return m, report


def format_report(workload: str, report: dict) -> str:
    """Human-readable span table: per span name, the calls, total, self
    and blocking-path seconds summed over the traced units."""
    lines = [
        f"traced run: {workload}",
        f"{'span':28s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s} "
        f"{'blocking_s':>10s} {'cpu_s':>8s}",
    ]
    for name, row in sorted(
        report["spans"].items(), key=lambda kv: -kv[1]["blocking_s"]
    ):
        lines.append(
            f"{name:28s} {row['calls']:5d} {row['total_s']:9.3f} "
            f"{row['self_s']:9.3f} {row['blocking_s']:10.3f} "
            f"{row['spark_cpu_s']:8.3f}"
        )
    m = report["metrics"]
    lines.append(
        f"tracing overhead {m['trace.overhead_s']:.3f} s per operation; "
        f"unattributed share of unit wall "
        f"{m['trace.unattributed_share']:.3f}"
    )
    return "\n".join(lines)
