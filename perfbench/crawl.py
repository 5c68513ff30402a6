"""Crawl-to-fixpoint workload: ``CrawlEngine.run`` drains the synthetic
nrsr.sk site, checked against ``testing.simulator`` on the same site, seeds,
budget and robots rules.  The traced run wraps ``EpochLake.commit`` and
``EpochLake.write_delta`` from this process and replays the robots, parse,
typed-extraction and canon layers over the whole page table."""

from __future__ import annotations

import shutil
import threading
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nrsr_crawler_spark.functions import urls as U
from nrsr_crawler_spark.lake.table import EpochLake
from nrsr_crawler_spark.operators import parse as parse_ops
from nrsr_crawler_spark.operators import parse_typed as PT
from nrsr_crawler_spark.operators import robots
from nrsr_crawler_spark.plans.epoch_loop import CrawlEngine
from nrsr_crawler_spark.sources.synthetic_site import SEED_URL, generate_site, robots_rules
from nrsr_crawler_spark.testing import simulator

import gen
import probes

SITE = {"periods": 3, "pages_per_period": 1, "details_per_page": 8, "members_per_period": 4}
BUDGET = 16
FAILING_PAGES = 4


@dataclass
class Crawl:
    spark: object
    seed: int
    site: dict
    pages: DataFrame | None
    rules: list
    budget: int
    work: Path
    ref_seen: set | None = None
    ref_missing: set | None = None
    ref_fetched: int = 0
    ref_links: int = 0
    runs: int = 0


def _site_args(scale: float) -> dict:
    if scale >= 1:
        return SITE
    return {"periods": 1, "pages_per_period": 1, "details_per_page": 3, "members_per_period": 2}


def setup(spark, seed: int, scale: float, work: Path) -> Crawl:
    """Site, simulator reference and page table.  The failing pages are
    leaves the failure-free simulator fetches in its first budget-bound
    epoch (its third)."""
    site = generate_site(seed=seed, **_site_args(scale))
    c = Crawl(spark, seed, site, None, robots_rules(), BUDGET if scale >= 1 else 4, work)
    golden = simulator.simulate_epochs(
        site, [SEED_URL], budget_per_host=c.budget, allow=lambda u: simulator.robots_allow_py(c.rules, u)
    )
    by_canon = {U.canonicalize_py(p.url): p for p in site.values()}
    c.ref_seen = set(golden.seen)
    c.ref_missing = {r["canon_url"] for r in golden.order if r["canon_url"] not in by_canon}
    c.ref_fetched = len(golden.order)
    c.ref_links = sum(len(by_canon[r["canon_url"]].child_hrefs) for r in golden.order if r["canon_url"] in by_canon)
    failing = gen.failing_pages(seed, site, golden.order, 3, FAILING_PAGES if scale >= 1 else 1)
    c.pages = gen.crawl_pages(spark, site, failing).persist()
    c.pages.count()
    return c


def run_crawl(c: Crawl, max_epochs: int = 100_000) -> tuple[float, CrawlEngine, object, Path]:
    """One crawl from engine construction to fixpoint (or ``max_epochs``);
    returns its wall time, the engine, its stats and its lake directory."""
    c.runs += 1
    lake = c.work / f"lake{c.runs}"
    cleanup(lake)
    t0 = time.perf_counter()
    eng = CrawlEngine(c.spark, c.pages, str(lake), budget_per_host=c.budget, robots_rules=c.rules, typed_items=True)
    stats = eng.run(seeds=[SEED_URL], max_epochs=max_epochs)
    return time.perf_counter() - t0, eng, stats, lake


def epoch_times(lake: Path) -> list[float]:
    """Per-epoch wall times from the commit times of the lake's manifests
    (epoch 0 is the seed commit; epoch e ends when ``e.json`` lands)."""
    man = lake / "_manifests"
    t = sorted((int(p.stem), p.stat().st_mtime_ns) for p in man.glob("*.json") if p.stem.isdigit())
    return [(b[1] - a[1]) / 1e9 for a, b in zip(t, t[1:])]


def check(c: Crawl, eng: CrawlEngine, stats, lake: Path) -> int:
    """Failures of one crawl: fetches logged ``failed``, fetches logged
    ``missing`` for a page the site has, and the URLs by which the seen set
    or the fetch count differs from the simulator's.  (The site links a
    ``javascript:`` href that resolves to a URL with no page; the simulator
    404s it too, so its ``missing`` entry is the expected outcome.)"""
    seen = {r["canon_url"] for r in eng.seen_set().select("canon_url").collect()}
    log = EpochLake(str(lake)).read_all(c.spark, "fetch_log").filter(F.col("status").isin("failed", "missing"))
    bad = log.select("canon_url", "status").collect()
    failed = sum(r["status"] == "failed" for r in bad)
    missing = {r["canon_url"] for r in bad if r["status"] == "missing"}
    return failed + len(missing ^ c.ref_missing) + len(seen ^ c.ref_seen) + abs(stats.fetched - c.ref_fetched)


def cleanup(lake: Path) -> None:
    shutil.rmtree(lake, ignore_errors=True)


# -- traced run ----------------------------------------------------------------
class LakeProbe:
    """Wraps ``EpochLake.commit`` / ``write_delta`` for one crawl: write and
    commit spans, files and bytes written, and the Spark jobs, stages and
    task time between consecutive commits."""

    def __init__(self, spark, sp: probes.Spans) -> None:
        self.spark = spark
        self.sp = sp
        self.files = 0
        self.bytes = 0
        self.epochs: list[dict] = []
        self._lock = threading.Lock()  # writes run on the engine's threads
        self._orig = (EpochLake.commit, EpochLake.write_delta)
        self._last = None

    def _snapshot(self) -> tuple[float, set]:
        return time.perf_counter(), set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def _stages(self, jobs: set) -> tuple[int, float]:
        """Completed stages of ``jobs`` and their summed task run time (s)."""
        from py4j.protocol import Py4JJavaError

        store = self.spark.sparkContext._jsc.sc().statusStore()
        n, run_ms = 0, 0
        for sid in probes.stage_ids(self.spark, sorted(jobs)):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never reach the store
                continue
            if st.status().toString() == "COMPLETE":
                n += 1
                run_ms += int(st.executorRunTime())
        return n, run_ms / 1000

    def __enter__(self) -> "LakeProbe":
        probe, (orig_commit, orig_write) = self, self._orig

        def commit(lake_self, epoch, metrics):
            with probe.sp.span("lake.commit"):
                orig_commit(lake_self, epoch, metrics)
            snap = probe._snapshot()
            if probe._last is not None and metrics.get("kind") == "crawl":
                t0, jobs0 = probe._last
                jobs = snap[1] - jobs0
                stages, task_s = probe._stages(jobs)
                probe.sp.add("epoch_loop.epoch", t0, snap[0], None)
                probe.epochs.append({"wall_s": snap[0] - t0, "jobs": len(jobs), "stages": stages, "task_s": task_s})
            probe._last = snap

        def write_delta(lake_self, table, df, epoch):
            t0 = time.perf_counter()
            orig_write(lake_self, table, df, epoch)
            probe.sp.add("lake.write", t0, time.perf_counter(), "epoch_loop.epoch")
            files = [p for p in Path(lake_self.delta_path(table, epoch)).glob("*.parquet")]
            with probe._lock:
                probe.files += len(files)
                probe.bytes += sum(p.stat().st_size for p in files)

        EpochLake.commit, EpochLake.write_delta = commit, write_delta
        return self

    def __exit__(self, *exc) -> None:
        EpochLake.commit, EpochLake.write_delta = self._orig


def traced_crawl(c: Crawl, sp: probes.Spans, cores: int) -> tuple[dict, int, float]:
    """One crawl under :class:`LakeProbe`; returns layer metrics, failures
    and the crawl's wall time."""
    with LakeProbe(c.spark, sp) as probe:
        with sp.span("crawl.run"):
            wall, eng, stats, lake = run_crawl(c)
    failed = check(c, eng, stats, lake)
    cleanup(lake)
    ep = probe.epochs
    attempts = stats.fetched + stats.retried
    out = {
        "lake.write_s": sp.total("lake.write"),
        "lake.write_calls": sp.count("lake.write"),
        "lake.files_written": probe.files,
        "lake.bytes_written": probe.bytes,
        "lake.commit_s": sp.total("lake.commit"),
        "epoch_loop.epochs": stats.epochs,
        "epoch_loop.jobs_per_epoch": statistics.median(e["jobs"] for e in ep) if ep else 0,
        "epoch_loop.stages_per_epoch": statistics.median(e["stages"] for e in ep) if ep else 0,
        "epoch_loop.task_busy_share": (
            sum(e["task_s"] for e in ep) / (cores * sum(e["wall_s"] for e in ep)) if ep else 0.0
        ),
        "retry.retried_share": stats.retried / attempts if attempts else 0.0,
    }
    return out, failed, wall


def _timed(sp: probes.Spans, name: str, df: DataFrame) -> int:
    with sp.span(name):
        return int(df.select(F.count(F.lit(1))).collect()[0][0])


def replay_layers(c: Crawl, sp: probes.Spans) -> dict:
    """Self times of the per-page layers over the whole page table: parse
    (children, items), typed extraction, canon and robots on every link."""
    pages = (
        c.pages.select("url", "body")
        .withColumn("canon_url", U.canonicalize(F.col("url")))
        .withColumn("url_hash", U.url_hash(F.col("canon_url")))
        .withColumn("seq", F.monotonically_increasing_id())
        .withColumn("rk", F.lit(1))
        .withColumn("depth", F.lit(0))
        .persist()
    )
    n_pages = pages.count()
    with sp.span("replay"):
        children = parse_ops.extract_children(pages, rank_col="rk").persist()
        _timed(sp, "parse.children", children)
        n_items = _timed(sp, "parse.items", parse_ops.extract_items(pages))
        typed = pages.select(F.col("canon_url").alias("page_url"), "body", PT.kind_expr(F.col("body")).alias("__kind"))
        typed = typed.persist()
        typed.count()
        with sp.span("parse_typed.extract"):
            n_typed = 0
            for _kind, (_item, extract_fn, fold_fn) in PT.TYPED_SINKS.items():
                n_typed += fold_fn(extract_fn(typed, kind_col="__kind")).count()
        links = children.select(
            F.when(
                F.col("href").startswith("http://") | F.col("href").startswith("https://"), F.col("href")
            ).otherwise(F.concat(F.lit("https://www.nrsr.sk/web/"), F.col("href")))
            .alias("url")
        ).persist()
        n_links = links.count()
        canon = U.with_canon(links, hash_col="url_hash", valid_col="url_ok").persist()
        _timed(sp, "urls.canon", canon)
        ok = canon.filter(F.col("url_ok"))
        allowed = _timed(sp, "robots.filter", ok.filter(robots.allowed_expr(c.rules, F.col("canon_url"), F.col("host"))))
        n_ok = ok.count()
    for df in (pages, children, typed, links, canon):
        df.unpersist()
    sp.counts.update({"pages": n_pages, "items": n_items, "links": n_links, "typed_items": n_typed})
    parse_s = sp.total("parse.children") + sp.total("parse.items")
    return {
        "parse.children_s": sp.total("parse.children"),
        "parse.items_s": sp.total("parse.items"),
        "parse.pages_per_s": n_pages / parse_s if parse_s else 0.0,
        "parse_typed.extract_s": sp.total("parse_typed.extract"),
        "parse_typed.items": n_typed,
        "urls.canon_s": sp.total("urls.canon"),
        "urls.canon_ns_per_url": sp.total("urls.canon") / max(n_links, 1) * 1e9,
        "robots.filter_s": sp.total("robots.filter"),
        "robots.blocked_share": 1 - allowed / n_ok if n_ok else 0.0,
    }


def props(c: Crawl) -> dict:
    return {
        "pages": len(c.site),
        "reachable_pages": c.ref_fetched,
        "transient_failures": c.pages.filter(F.col("fail_times").isNotNull()).count(),
        "budget_per_host": c.budget,
    }

