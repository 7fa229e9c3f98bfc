"""The workloads: set-up, one measured operation and its output
check.

An operation is what one closed-loop client waits for: a deep_crawl
sequence of DEEP_ROUNDS rounds, or one dataset export.  Its
units are the rounds (or the export) inside it; each unit records its
wall time and the work it committed.
"""

from __future__ import annotations

import json
import re
import shutil
import time
from dataclasses import dataclass, field

from . import prepare as P


@dataclass
class Unit:
    name: str
    start: float  # epoch seconds
    wall: float
    attempted: int = 0  # frontier URLs attempted (crawl) / rows out
    pages: int = 0  # documents committed to pages (crawl) / pages read
    rows: int = 0  # rows committed to all tables (crawl) / rows out
    metrics: dict = field(default_factory=dict)


@dataclass
class OpResult:
    wall: float
    units: list[Unit]


def _table_versions(store) -> dict[str, int]:
    """Latest manifest version of every table in a store."""
    return {
        snaps.parent.name: max(
            (int(f.name[1:6]) for f in snaps.glob("v*.json")), default=0
        )
        for snaps in store.glob("*/snapshots")
    }


def _manifest(snaps, version: int) -> dict:
    return json.loads((snaps / f"v{version:05d}.json").read_text())


def _rows_written(store, before: dict[str, int]) -> int:
    """Rows the commits made after the ``before`` versions added, from
    the manifests' per-commit lineage.  Rewrites — compactions and
    other overwrites, whose lineage is the whole rewritten table — are
    not counted: only append-shaped commits, which keep every file set
    of their predecessor."""
    total = 0
    for snaps in store.glob("*/snapshots"):
        last = before.get(snaps.parent.name, 0)
        for v in sorted(int(f.name[1:6]) for f in snaps.glob("v*.json")):
            if v <= last:
                continue
            cur = _manifest(snaps, v)
            prev = _manifest(snaps, v - 1)["file_sets"] if v > 1 else []
            if cur["metrics"].get("compaction") or not set(prev) <= set(
                cur["file_sets"]
            ):
                continue
            total += sum(cur["lineage"].values())
    return total


class Workload:
    """The first operation after ``setup`` is the process's cold one:
    each run measures the JVM's class loading, code generation and JIT
    warm-up together with the work, because a warm pass per run does
    not fit the run budget, and because the first operation repeats
    from run to run better than the JIT-drifting ones after it."""

    name = ""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.ws = P.world_seed(seed)

    def clone(self) -> None:
        """Fresh copy of the workload's cached input store."""
        raise NotImplementedError

    def setup(self) -> None:
        """Register the world and resume the engine or open the input."""
        raise NotImplementedError

    def op(self, tracer=None) -> OpResult:
        raise NotImplementedError

    def check(self) -> str | None:
        """None when the last operation's output is correct, else why."""
        raise NotImplementedError

    def _round(self, eng, r: int, store, tracer) -> Unit:
        before = _table_versions(store)
        start = time.time()
        t0 = time.perf_counter()
        if tracer is None:
            m = eng.round(r)
        else:
            with tracer.unit("crawl.round", round=r) as sp:
                m = eng.round(r)
            sp.attrs["metrics"] = m
        wall = time.perf_counter() - t0
        if tracer is not None:
            from pyspark.sql import functions as F

            # denominator of extract.pages_ok_ratio: fetched documents
            m["fetched_docs"] = eng.crawl_log.read().filter(
                (F.col("round") == r) & F.col("fetched")
                & ~F.col("canon_url").contains(eng.cfg.search_marker)
            ).count()
        return Unit(
            "crawl.round", start, wall, attempted=m["selected"],
            pages=m["pages"], rows=_rows_written(store, before),
            metrics=m,
        )


class DeepCrawl(Workload):
    """Rounds TEMPLATE_ROUNDS.. of a politeness-bound crawl, resumed from
    the cached template store."""

    name = "deep_crawl"

    def setup(self) -> None:
        self.world = P.load_world(
            self.spark, self.ws, ("pages_raw", "seeds", "robots")
        )
        self._resume()
        self._fresh = True

    def _resume(self) -> None:
        from legislation_scraper_spark.plans.crawl import CrawlEngine
        from legislation_scraper_spark.tables import Catalog

        self.eng = CrawlEngine(
            self.spark, Catalog(self.spark, str(self.store)),
            self.world["pages_raw"], self.world["seeds"],
            self.world["robots"], P.crawl_config(),
        )
        self.start_round = self.eng.resume()
        if self.start_round != P.TEMPLATE_ROUNDS:
            raise RuntimeError(
                f"template resumed at round {self.start_round}"
            )

    def clone(self) -> None:
        """Fresh copy of the template store."""
        self.store = P.clone_store(P.template_dir() / "store",
                                   P.RUN / "deep_store")

    def op(self, tracer=None) -> OpResult:
        if not self._fresh:  # the set-up's engine runs the first round
            self.clone()
            self._resume()
        self._fresh = False
        units = [
            self._round(self.eng, r, self.store, tracer)
            for r in range(self.start_round,
                           self.start_round + P.DEEP_ROUNDS)
        ]
        return OpResult(sum(u.wall for u in units), units)

    def check(self) -> str | None:
        last = self.start_round + P.DEEP_ROUNDS
        got = {
            (r["round"], r["host"], r["host_rank"], r["canon_url"])
            for r in self.eng.crawl_log.read()
            .select("round", "host", "host_rank", "canon_url").collect()
        }
        want = {
            tuple(v) for v in P.ensure_sim(self.spark, self.ws)
            if v[0] < last
        }
        if got != want:
            return (
                f"crawl_log differs from the simulator: "
                f"{len(got - want)} extra, {len(want - got)} missing"
            )
        return None


_SQUEEZE = re.compile(r"\n{4,}")


class DatasetExport(Workload):
    """export_dataset over the pages table of a bulk crawl."""

    name = "dataset_export"

    def setup(self) -> None:
        from legislation_scraper_spark.tables import Catalog

        self.pages = Catalog(self.spark, str(self.store)).table(
            "pages"
        ).read()

    def clone(self) -> None:
        self.store = P.clone_store(
            P.export_store_dir(self.ws) / "store", P.RUN / "export_store"
        )

    def _export(self, pages) -> None:
        from legislation_scraper_spark.plans.dataset_build import (
            export_dataset,
        )

        self.out = P.RUN / "export_out"
        shutil.rmtree(self.out, ignore_errors=True)
        export_dataset(pages, str(self.out))

    def _rows_out(self) -> int:
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(p).num_rows
            for p in self.out.rglob("*.parquet")
        )

    def op(self, tracer=None) -> OpResult:
        start = time.time()
        t0 = time.perf_counter()
        if tracer is None:
            self._export(self.pages)
        else:
            with tracer.unit("dataset_export"):
                with tracer.span("tables.read") as sp:
                    pages, n = tracer.barrier(self.pages)
                sp.attrs["rows"] = n
                with tracer.span("dataset_build.export") as sp:
                    self._export(pages)
                sp.attrs["rows_out"] = self._rows_out()
        wall = time.perf_counter() - t0
        rows = self._rows_out()
        n_in = self.n_pages()
        u = Unit("dataset_export", start, wall, attempted=rows,
                 pages=n_in, rows=rows)
        return OpResult(wall, [u])

    def n_pages(self) -> int:
        if not hasattr(self, "_n_pages"):
            self._n_pages = self.pages.count()
        return self._n_pages

    def check(self) -> str | None:
        if not hasattr(self, "_inp"):  # the input never changes
            self._inp = self.pages.select(
                "document_url", "text_markdown", "fetched_round"
            ).toPandas()
        out = self.spark.read.parquet(str(self.out)).select(
            "document_url", "text"
        ).toPandas()
        return export_mismatch(self._inp, out)


def export_mismatch(inp, out) -> str | None:
    """Why the export ``out`` (document_url, text) is not ``inp``
    (document_url, text_markdown, fetched_round) deduplicated on
    document_url — earliest fetch, then smallest text — with runs of
    four or more newlines squeezed to three; None when it is."""
    first = (
        inp.sort_values(["document_url", "fetched_round", "text_markdown"])
        .drop_duplicates("document_url")
        .set_index("document_url")["text_markdown"]
    )
    if len(out) != len(first):
        return f"{len(out)} rows for {len(first)} distinct documents"
    if out["document_url"].duplicated().any():
        return "duplicate document_url in the export"
    bad = 0
    for url, text in zip(out["document_url"], out["text"]):
        src = first.get(url)
        want = None if src is None else _SQUEEZE.sub("\n\n\n", src)
        bad += want != text
    if bad:
        return f"{bad} rows differ from the squeezed input text"
    return None


WORKLOADS = {w.name: w for w in (DeepCrawl, DatasetExport)}
