"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench/selftest.py -q

The file name keeps it out of the repo's default test collection; run
it by path.

The pure parts (the median/quartile rule, span arithmetic, event-log
parsing and attribution, the export check) run on hand-made inputs;
the instrumentation runs a few traced crawl rounds of a tiny world on
a local Spark session with its event log enabled.
"""

from __future__ import annotations

import json
import os
import statistics
from pathlib import Path

import pandas as pd
import pytest

from perfbench.stats import median, quartiles, spread, worse_by
from perfbench.tracing import (
    SPAN_PROPERTY,
    Span,
    attribute_tasks,
    blocking_path,
    find_event_log,
    jobs_in_window,
    parse_event_log,
    self_times,
)
from perfbench.report import output_commits
from perfbench.workloads import _rows_written, export_mismatch

# -- median / quartile rule -------------------------------------------------


def test_median_and_quartiles_follow_statistics_quantiles():
    vals = [float(v) for v in range(1, 11)]
    assert median(vals) == 5.5
    assert quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    q1, _, q3 = quartiles(vals)
    assert (q1, q3) == (2.75, 8.25)
    assert spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


def test_spread_is_scale_free_and_rejects_degenerate_input():
    vals = [9.0, 10.0, 11.0, 10.5, 9.5]
    assert spread(vals) == pytest.approx(spread([v * 7 for v in vals]))
    with pytest.raises(ValueError):
        spread([1.0])
    with pytest.raises(ValueError):
        spread([0.0, 0.0, 0.0])


def test_worse_by_respects_direction():
    assert worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert worse_by(10.0, 11.0, "higher") == pytest.approx(-0.1)
    assert worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)


# -- span arithmetic --------------------------------------------------------


def _span(sid, name, start, end, parent=None, unit=1):
    return Span(sid, name, start, end, parent, unit)


def _round_with_parallel_sinks():
    return [
        _span(1, "crawl.round", 0.0, 10.0),
        _span(2, "crawl.pending", 1.0, 4.0, parent=1),
        _span(3, "seen.filter_unseen", 2.0, 3.5, parent=2),
        # two sinks in parallel threads, children of the round
        _span(4, "tables.append", 5.0, 8.0, parent=1),
        _span(5, "tables.append", 5.5, 9.0, parent=1),
        _span(6, "tables.checkpoint", 9.0, 9.5, parent=1),
    ]


def test_self_time_subtracts_the_union_of_children():
    st = self_times(_round_with_parallel_sinks())
    # round: 10 s minus [1,4] ∪ [5,9] ∪ [9,9.5] = 10 - 7.5
    assert st[1] == pytest.approx(2.5)
    assert st[2] == pytest.approx(1.5)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(3.0)


def test_blocking_path_sums_to_the_root_and_follows_the_last_sink():
    spans = _round_with_parallel_sinks()
    path = blocking_path(spans[0], spans)
    assert sum(path.values()) == pytest.approx(10.0)
    assert path["seen.filter_unseen"] == pytest.approx(1.5)
    assert path["crawl.pending"] == pytest.approx(1.5)
    # [5, 9]: both appends are depth 1; the later-ending one blocks
    assert path["tables.append"] == pytest.approx(4.0)
    assert path["tables.checkpoint"] == pytest.approx(0.5)
    assert path["crawl.round"] == pytest.approx(2.5)


def test_output_commits_leave_out_compaction_rewrites():
    spans = [
        _span(1, "crawl.round", 0.0, 10.0),
        _span(2, "tables.append", 1.0, 2.0, parent=1),
        _span(3, "tables.compact", 3.0, 6.0, parent=1),
        _span(4, "tables.overwrite", 4.0, 5.0, parent=3),
        _span(5, "tables.overwrite", 7.0, 8.0, parent=1),
    ]
    assert [s.sid for s in output_commits(spans)] == [2, 5]


def test_rows_written_counts_appends_only(tmp_path):
    snaps = tmp_path / "log" / "snapshots"
    snaps.mkdir(parents=True)
    manifests = [
        (["a"], 5, {}),  # before the round
        (["a", "b"], 3, {}),  # append
        (["c"], 8, {"compaction": True}),  # compaction
        (["d"], 8, {}),  # unmarked rewrite (filter-log fold)
        (["d", "e"], 2, {}),  # append
    ]
    for v, (sets, rows, metrics) in enumerate(manifests, start=1):
        (snaps / f"v{v:05d}.json").write_text(json.dumps({
            "version": v, "file_sets": sets, "lineage": {"p": rows},
            "metrics": metrics,
        }))
    assert _rows_written(tmp_path, {"log": 1}) == 5
    assert _rows_written(tmp_path, {}) == 10


# -- event log --------------------------------------------------------------


def _write_log(path: Path, t0_ms: int) -> None:
    def task(stage, launch, cpu_ns, inp=0, sw=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": launch + 5},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": 2,
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 1,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": sw},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Input Metrics": {"Bytes Read": inp},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": t0_ms + 100, "Stage IDs": [0],
         "Properties": {SPAN_PROPERTY: "3"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0}, "Properties": {SPAN_PROPERTY: "3"}},
        task(0, t0_ms + 110, 2_000_000_000, inp=500),
        task(0, t0_ms + 120, 1_000_000_000, inp=250),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": t0_ms + 100,
            "Completion Time": t0_ms + 200, "Number of Tasks": 2}},
        # an untagged job inside the unit's window: goes to the root
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": t0_ms + 3000, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1}, "Properties": {}},
        task(1, t0_ms + 3010, 500_000_000, sw=64),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": t0_ms + 3000,
            "Completion Time": t0_ms + 3100, "Number of Tasks": 1}},
        # after the unit: dropped
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": t0_ms + 20000, "Stage IDs": [3],
         "Properties": {}},
        task(3, t0_ms + 20010, 7_000_000_000),
    ]
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_parsing_and_attribution(tmp_path):
    t0 = 1_700_000_000.0
    _write_log(tmp_path / "app-1", int(t0 * 1000))
    log = parse_event_log(find_event_log(str(tmp_path)))
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.stages[0]["span"] == 3 and log.stages[0]["job"] == 0
    assert log.stages[1]["span"] is None
    assert len(log.tasks) == 4
    spans = [
        _span(1, "crawl.round", t0, t0 + 10),
        _span(3, "fetch.resolve", t0 + 0.05, t0 + 1, parent=1),
    ]
    by_span = attribute_tasks(log, spans)
    assert by_span[3]["cpu_s"] == pytest.approx(3.0)
    assert by_span[3]["input_bytes"] == 750
    assert by_span[3]["gc_s"] == pytest.approx(0.004)
    assert by_span[1]["cpu_s"] == pytest.approx(0.5)
    assert by_span[1]["shuffle_write_bytes"] == 64
    assert by_span[1]["spill_bytes"] == 1
    assert set(by_span) == {1, 3}
    assert jobs_in_window(log, t0, t0 + 10) == {
        "jobs": 2, "stages": 2, "tasks": 3,
    }


# -- export check ------------------------------------------------------------


def test_export_mismatch_applies_dedup_and_squeeze():
    inp = pd.DataFrame({
        "document_url": ["a", "a", "b"],
        "text_markdown": ["late", "x\n\n\n\n\ny", "p\n\nq"],
        "fetched_round": [2, 1, 0],
    })
    good = pd.DataFrame({
        "document_url": ["b", "a"], "text": ["p\n\nq", "x\n\n\ny"],
    })
    assert export_mismatch(inp, good) is None
    unsqueezed = good.assign(text=["p\n\nq", "x\n\n\n\n\ny"])
    assert "differ" in export_mismatch(inp, unsqueezed)
    assert "rows for" in export_mismatch(inp, good.iloc[:1])


# -- instrumentation on a tiny world ------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from legislation_scraper_spark.session import get_spark

    root = Path(__file__).resolve().parent.parent
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    logs = tmp_path_factory.mktemp("eventlog")
    s = get_spark("perfbench-selftest", master="local[2]",
                  shuffle_partitions=4, extra_conf={
                      "spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": str(logs),
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.sql.warehouse.dir": str(
                          tmp_path_factory.mktemp("warehouse")
                      ),
                  })
    s.event_log_dir = str(logs)
    yield s
    s.stop()


def test_traced_rounds_on_a_tiny_world(spark, tmp_path):
    from legislation_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from legislation_scraper_spark.plans.simulator import SimWorld, simulate
    from legislation_scraper_spark.synth import synth_world
    from legislation_scraper_spark.tables import Catalog, Table
    from perfbench.tracing import Tracer, instrument

    w = synth_world(spark, seed=5, docs_per_source=3, partitions=2)
    raw_path = str(tmp_path / "pages_raw")
    w["pages_raw"].write.parquet(raw_path)
    pages_raw = spark.read.parquet(raw_path)
    eng = CrawlEngine(
        spark, Catalog(spark, str(tmp_path / "store")), pages_raw,
        w["seeds"], w["robots"],
        CrawlConfig(n_shards=4, fetch_partitions=2, frontier_buckets=2),
    )
    eng.bootstrap()
    append = Table.append
    tracer = Tracer(spark.sparkContext)
    rounds = 3
    with instrument(tracer):
        for r in range(rounds):
            with tracer.unit("crawl.round", round=r):
                eng.round(r)
    assert Table.append is append  # instrumentation is undone

    names = {s.name for s in tracer.spans}
    assert {
        "crawl.round", "crawl.pending", "crawl.frontier_merge",
        "seen.filter_unseen", "politeness.schedule", "fetch.resolve",
        "extract.parse", "tables.append", "seen.add", "tables.checkpoint",
    } <= names
    roots = [s for s in tracer.spans if s.parent is None]
    assert len(roots) == rounds
    for root in roots:
        path = blocking_path(root, tracer.spans)
        assert sum(path.values()) == pytest.approx(root.duration)
    assert min(self_times(tracer.spans).values()) > -1e-9
    appends = [s for s in tracer.spans if s.name == "tables.append"]
    assert all(s.attrs["files"] > 0 for s in appends)

    log = parse_event_log(find_event_log(spark.event_log_dir))
    by_span = attribute_tasks(log, tracer.spans)
    fetch_ids = {s.sid for s in tracer.spans if s.name == "fetch.resolve"}
    assert sum(by_span.get(i, {}).get("input_bytes", 0)
               for i in fetch_ids) > 0
    assert all(
        jobs_in_window(log, r.start, r.end)["jobs"] > 0 for r in roots
    )

    # the crawl log is the simulator's visit order
    sim = simulate(
        SimWorld(
            {r["url"]: bytes(r["html"]) for r in pages_raw.collect()},
            {r["host"]: r.asDict() for r in w["robots"].collect()},
            [r.asDict() for r in w["seeds"].collect()],
        ),
        max_rounds=rounds,
    )
    got = {
        tuple(r) for r in eng.crawl_log.read().select(
            "round", "host", "host_rank", "canon_url"
        ).collect()
    }
    assert got == {v[:4] for v in sim.visit_log}
