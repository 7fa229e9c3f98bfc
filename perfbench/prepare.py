"""Run environment, Spark session and the cached, seed-keyed inputs.

Everything the benchmark writes lives under ``.perfbench/`` at the root
of the checkout:

- ``cache/`` — inputs built once and reused: the pool of worlds
  (``synth_world`` output as parquet), the ``deep_crawl`` template
  store, each world's ``dataset_export`` input store and simulator
  visit log.  Each entry is built in a scratch directory and renamed
  into place, so an interrupted build is rebuilt, never half-read.
- ``run/`` — the current run's store copies, Spark scratch space and
  event log; emptied at the start of every run.
- ``reports/`` — traced-run reports.

A seed picks its world from a pool of WORLDS worlds:
``synth_world(seed=seed % WORLDS)``.  The first run in a checkout builds
the whole pool in one process, where each world after the first costs a
warm JVM's ~17 s instead of a cold process's ~45 s; no later run,
whatever its seed, prepares anything.

The deep_crawl template is keyed by size and crawl configuration, not
by seed.  ``synth_world`` makes every URL, link, robots budget and
failure outcome a function of the source and document index, never of
the seed — the seed only changes page content — so the frontier, seen
and log state after the template rounds is the same for every seed.
Each run still checks that claim: deep_crawl compares the whole crawl
log, template rounds included, with the simulator run over that run's
own world.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
CACHE = STATE / "cache"
RUN = STATE / "run"
REPORTS = STATE / "reports"

DEFAULT_SEED = 1
HELD_OUT_SEED = 20270  # world 0; the default seed uses world 1
WORLDS = 2  # distinct worlds; seed s runs on world s % WORLDS
# one world size for every workload: ~3.3k documents + ~350 search pages
WORLD = {"docs_per_source": 100, "skew": 10, "words_scale": 4}
SIZE_KEY = "d{docs_per_source}-k{skew}-w{words_scale}".format(**WORLD)
# deep_crawl resumes at this round: the frontier log compacts in round 12
# and the seen, visited and filter logs in round 13
TEMPLATE_ROUNDS = 12
DEEP_ROUNDS = 1  # rounds measured per deep_crawl operation
LOCAL_CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "3g"
UNBOUNDED = 2**31 - 1
# CrawlConfig fields that differ from the defaults; stores built under
# one configuration are cached apart from the others
CRAWL = {
    "n_shards": 16, "fetch_partitions": 4, "sink_coalesce": 4,
    "frontier_buckets": 4,
}
CONFIG_KEY = (
    "n{n_shards}-f{fetch_partitions}-c{sink_coalesce}-b{frontier_buckets}"
    .format(**CRAWL) + f"-p{SHUFFLE_PARTITIONS}"
)


def crawl_config():
    from legislation_scraper_spark.plans.crawl import CrawlConfig

    return CrawlConfig(**CRAWL)


def configure_env() -> None:
    """Point every scratch path of Spark, the JVM and Python into the
    checkout.  Must run before pyspark starts its JVM."""
    tmp = RUN / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = str(tmp)


def open_session(event_log: Path | None = None):
    from legislation_scraper_spark.session import get_spark

    (RUN / "uds").mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(RUN / "spark-local"),
        "spark.sql.warehouse.dir": str(RUN / "warehouse"),
        # relative: a socket path must stay under 108 bytes wherever
        # the checkout lives
        "spark.python.unix.domain.socket.dir": os.path.relpath(
            RUN / "uds", Path.cwd()
        ),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", master=f"local[{LOCAL_CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )


def stop_session(spark, wait_s: float = 60.0) -> None:
    """Stop Spark, end its JVM and wait until the JVM and its Python
    workers have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    before = _descendants(os.getpid())
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=wait_s)
    _reap(before, wait_s)


def _descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def _reap(pids: set[int], wait_s: float) -> None:
    import signal
    import time

    deadline = time.monotonic() + wait_s
    live = set(pids)
    while live and time.monotonic() < deadline:
        live = {p for p in live if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in live:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            while os.path.exists(f"/proc/{p}"):
                time.sleep(0.05)


# -- cache entries --------------------------------------------------------


def _build_once(final: Path, build) -> Path:
    """Run ``build(scratch_dir)`` unless ``final`` exists, then publish
    the scratch dir as ``final`` with one rename."""
    if final.exists():
        return final
    scratch = final.with_name(f".{final.name}.{uuid.uuid4().hex[:8]}")
    scratch.mkdir(parents=True)
    try:
        build(scratch)
        os.rename(scratch, final)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return final


def world_seed(seed: int) -> int:
    """The synth_world seed of the world a run of ``seed`` uses."""
    return seed % WORLDS


def world_dir(ws: int) -> Path:
    return CACHE / f"world-s{ws}-{SIZE_KEY}"


def ensure_world(spark, ws: int) -> Path:
    """synth_world(seed=ws) at the benchmark size, as parquet."""
    from pyspark.sql import functions as F

    from legislation_scraper_spark.synth import synth_world

    def build(d: Path) -> None:
        w = synth_world(spark, seed=ws, partitions=8, **WORLD)
        w["pages_raw"].write.parquet(str(d / "pages_raw"))
        w["seeds"].coalesce(1).write.parquet(str(d / "seeds"))
        w["robots"].coalesce(1).write.parquet(str(d / "robots"))
        w["golden_meta"].select(
            "document_url", "source", "text", "is_error"
        ).write.parquet(str(d / "golden"))
        raw = spark.read.parquet(str(d / "pages_raw"))
        n = raw.count()
        size = sum(
            f.stat().st_size for f in (d / "pages_raw").glob("*.parquet")
        )
        html = raw.agg(F.sum(F.length("html"))).first()[0]
        (d / "world.json").write_text(json.dumps({
            "seed": ws, **WORLD, "pages_raw_rows": n,
            "pages_raw_parquet_bytes": size, "pages_raw_html_bytes": html,
        }))

    return _build_once(world_dir(ws), build)


def load_world(
    spark, ws: int, parts=("pages_raw", "seeds", "robots", "golden")
) -> dict:
    d = world_dir(ws)
    w = {k: spark.read.parquet(str(d / k)) for k in parts}
    w["info"] = json.loads((d / "world.json").read_text())
    return w


def bulk_inputs(world: dict):
    """Frontier and robots of a bulk crawl: every document URL as a
    seed, no per-host parallelism cap."""
    from pyspark.sql import functions as F

    seeds = world["golden"].select(
        F.col("document_url").alias("seed_url"), "source",
        F.lit(0).alias("priority"), F.lit(1990).alias("year_start"),
    )
    robots = world["robots"].withColumn(
        "max_parallel", F.lit(UNBOUNDED)
    )
    return seeds, robots


# -- stores ---------------------------------------------------------------

_ROOT_FILE = "store_root.txt"


def new_store(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    (path / _ROOT_FILE).write_text(str(path))
    return path


def clone_store(src: Path, dst: Path) -> Path:
    """Copy a table store and repoint its manifests at the copy."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    old = (src / _ROOT_FILE).read_text()
    for p in dst.rglob("*.json"):
        text = p.read_text()
        if old in text:
            p.write_text(text.replace(old, str(dst)))
    (dst / _ROOT_FILE).write_text(str(dst))
    return dst


def template_dir() -> Path:
    return CACHE / f"deep-{SIZE_KEY}-{CONFIG_KEY}-r{TEMPLATE_ROUNDS}"


def ensure_template(spark) -> Path:
    """The deep_crawl store: TEMPLATE_ROUNDS rounds from the search
    seeds with the world's own robots budgets, on the default seed's
    world."""
    from legislation_scraper_spark.plans.crawl import CrawlEngine
    from legislation_scraper_spark.tables import Catalog

    def build(d: Path) -> None:
        ensure_world(spark, world_seed(DEFAULT_SEED))
        w = load_world(spark, world_seed(DEFAULT_SEED))
        store = new_store(d / "store")
        eng = CrawlEngine(
            spark, Catalog(spark, str(store)), w["pages_raw"], w["seeds"],
            w["robots"], crawl_config(),
        )
        eng.bootstrap()
        for r in range(TEMPLATE_ROUNDS):
            eng.round(r)

    return _build_once(template_dir(), build) / "store"


def export_store_dir(ws: int) -> Path:
    return CACHE / f"export-s{ws}-{SIZE_KEY}-{CONFIG_KEY}"


def ensure_export_store(spark, ws: int) -> Path:
    """dataset_export input: the pages table of a bulk crawl of world
    ``ws``."""
    from legislation_scraper_spark.plans.crawl import CrawlEngine
    from legislation_scraper_spark.tables import Catalog

    def build(d: Path) -> None:
        w = load_world(spark, ws)
        seeds, robots = bulk_inputs(w)
        store = new_store(d / "store")
        eng = CrawlEngine(
            spark, Catalog(spark, str(store)), w["pages_raw"], seeds,
            robots, crawl_config(),
        )
        eng.bootstrap()
        eng.round(0)

    return _build_once(export_store_dir(ws), build) / "store"


def sim_path(ws: int) -> Path:
    return CACHE / f"sim-s{ws}-{SIZE_KEY}-r{TEMPLATE_ROUNDS + DEEP_ROUNDS}"


def ensure_sim(spark, ws: int) -> list[tuple]:
    """Simulator visit log (round, host, rank, url) over world ``ws``
    for every round deep_crawl reaches."""
    from legislation_scraper_spark.plans.simulator import SimWorld, simulate

    def build(d: Path) -> None:
        w = load_world(spark, ws)
        pages = {
            r["url"]: bytes(r["html"])
            for r in w["pages_raw"].select("url", "html").toLocalIterator()
        }
        robots = {
            r["host"]: r.asDict() for r in w["robots"].collect()
        }
        seeds = [r.asDict() for r in w["seeds"].collect()]
        res = simulate(
            SimWorld(pages, robots, seeds),
            max_rounds=TEMPLATE_ROUNDS + DEEP_ROUNDS,
        )
        log = [list(v[:4]) for v in res.visit_log]
        (d / "visit_log.json").write_text(json.dumps(log))

    d = _build_once(sim_path(ws), build)
    return [tuple(v) for v in json.loads((d / "visit_log.json").read_text())]


def _entries() -> dict:
    """Cache entry -> build function, for everything any run reads:
    the template and, for every world of the pool, the world, its
    export store and its simulator log."""
    out = {template_dir(): ensure_template}
    for ws in range(WORLDS):
        out.update({
            world_dir(ws): lambda spark, ws=ws: ensure_world(spark, ws),
            export_store_dir(ws):
                lambda spark, ws=ws: ensure_export_store(spark, ws),
            sim_path(ws): lambda spark, ws=ws: ensure_sim(spark, ws),
        })
    return out


def prepared() -> bool:
    return all(d.exists() for d in _entries())


def prepare(spark) -> None:
    """Build every missing cache entry in one process, so that one JVM
    start and one warm-up serve the whole pool."""
    for build in _entries().values():
        build(spark)
