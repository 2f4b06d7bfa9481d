"""Golden-output crawl tests, mirroring the reference's golden-array style
(tests/util/test_db_reader.py): small corpus -> N rounds -> exact tables."""

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from fs_crawler_spark.functions.urls import url_host
from fs_crawler_spark.plans.crawl import (
    CrawlConfig,
    load_frontier,
    read_output,
    run_crawl,
)
from fs_crawler_spark.sources.corpus import build_pages, doc_url
from fs_crawler_spark.sources.fetcher import CorpusJoinFetcher


def expected_bfs(n: int, seeds: list[int], max_rounds: int) -> dict[int, int]:
    """Pure-python oracle: doc -> BFS round (min depth), capped at max_rounds."""

    def children(d):
        out = []
        if 2 * d + 1 < n:
            out.append(2 * d + 1)
        if 2 * d + 2 < n:
            out.append(2 * d + 2)
        c = (7 * d + 3) % n
        if c != d:
            out.append(c)
        return out

    depth = {s: 0 for s in seeds}
    frontier = list(seeds)
    for it in range(1, max_rounds):
        nxt = []
        for d in frontier:
            for c in children(d):
                if c not in depth:
                    depth[c] = it
                    nxt.append(c)
        frontier = nxt
    return depth


@pytest.fixture(scope="module")
def pages120(spark, sf_dir):
    return build_pages(spark, sf_dir, limit_docs=120).cache()


def test_bfs_crawl_matches_oracle(spark, pages120, tmp_path):
    max_rounds = 5
    res = run_crawl(
        spark,
        pages120,
        seeds=[doc_url(0)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=CrawlConfig(max_rounds=max_rounds),
    )
    assert res["rounds"] == max_rounds
    vertices = read_output(spark, str(tmp_path / "ckpt"), "vertices")
    got = {r["id"]: r["iteration"] for r in vertices.collect()}
    want = {doc_url(d): it for d, it in expected_bfs(120, [0], max_rounds).items()}
    assert got == want


def test_crawl_to_exhaustion(spark, pages120, tmp_path):
    res = run_crawl(
        spark,
        pages120,
        seeds=[doc_url(0)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=CrawlConfig(max_rounds=25),
    )
    vertices = read_output(spark, str(tmp_path / "ckpt"), "vertices")
    # the whole 120-doc universe is reachable from doc 0 and fetched once each
    assert vertices.count() == 120
    assert vertices.select("id").distinct().count() == 120
    assert res["rounds"] < 25  # frontier exhausted before the cap


def test_politeness_budget_respected(spark, sf_dir, tmp_path):
    budget = 3
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    run_crawl(
        spark,
        pages,
        seeds=[doc_url(0)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=CrawlConfig(max_rounds=40, host_budget=budget),
    )
    vertices = read_output(spark, str(tmp_path / "ckpt"), "vertices")
    per_round_host = (
        vertices.select(url_host(F.col("id")).alias("host"), "iteration")
        .groupBy("host", "iteration")
        .count()
    )
    assert per_round_host.filter(F.col("count") > budget).count() == 0
    # budget defers, never drops: full reachable set still crawled
    assert vertices.count() == 60
    pages.unpersist()


def test_resume_is_identical(spark, pages120, tmp_path):
    full_dir = str(tmp_path / "full")
    resumed_dir = str(tmp_path / "resumed")
    seeds = [doc_url(0)]

    run_crawl(spark, pages120, seeds, full_dir, CrawlConfig(max_rounds=4))
    # killed after round 1, then resumed
    run_crawl(spark, pages120, seeds, resumed_dir, CrawlConfig(max_rounds=2))
    res2 = run_crawl(spark, pages120, seeds, resumed_dir, CrawlConfig(max_rounds=4))
    assert res2["start_round"] == 2

    for table in ("vertices", "edges", "seen"):
        a = read_output(spark, full_dir, table)
        b = read_output(spark, resumed_dir, table)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect())), table


def test_crawl_log_lineage(spark, pages120, tmp_path):
    run_crawl(spark, pages120, [doc_url(0)], str(tmp_path / "c"), CrawlConfig(max_rounds=3))
    log = read_output(spark, str(tmp_path / "c"), "crawl_log")
    totals = log.filter(F.col("partition_id") == -1)
    assert totals.count() == 3  # one total row per round
    # per-partition urls_in sums to the round total
    per_part = (
        log.filter(F.col("partition_id") >= 0)
        .groupBy("iteration")
        .agg(F.sum("urls_in").alias("s"))
    )
    joined = per_part.join(totals.select("iteration", "urls_in"), "iteration")
    assert joined.filter(F.col("s") != F.col("urls_in")).count() == 0
    assert totals.filter(F.col("snapshot_id") <= 0).count() == 0
    # fetched totals equal the vertex count
    vertices = read_output(spark, str(tmp_path / "c"), "vertices")
    fetched_total = totals.agg(F.sum("urls_fetched")).collect()[0][0]
    assert fetched_total == vertices.count()


def test_resume_rederives_lost_totals(spark, pages120, tmp_path):
    """Round r's totals row piggybacks on round r+1's commit; a crash before
    that commit loses it. Resume must re-derive it from committed counts so
    the log export never silently skews cumulative counts."""
    import os
    import shutil

    d = str(tmp_path / "c")
    run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=2))

    # simulate the crash: strip round 1's own totals row (the clean-stop
    # flush wrote it into round 1's dir; a killed run never would have)
    p = os.path.join(d, "snapshots", "round=1", "crawl_log")
    kept = (
        spark.read.parquet(p)
        .filter(~((F.col("partition_id") == -1) & (F.col("iteration") == 1)))
        .collect()
    )
    schema = spark.read.parquet(p).schema
    shutil.rmtree(p)
    spark.createDataFrame(kept, schema).write.parquet(p)

    run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=4))
    log = read_output(spark, d, "crawl_log")
    totals = {r["iteration"]: r for r in log.filter(F.col("partition_id") == -1).collect()}
    assert sorted(totals) == [0, 1, 2, 3]
    # re-derived from committed counts: fetched == round-1 vertex delta
    v1 = spark.read.parquet(os.path.join(d, "snapshots", "round=1", "vertices"))
    assert totals[1]["urls_fetched"] == v1.count()
    assert totals[1]["duration"] == 0.0  # unrecoverable, zeroed


def test_frontier_delta_mode_identical_and_resumable(spark, pages120, tmp_path):
    """Delta-frontier commits (auto under a host budget) must produce
    byte-identical tables and crawl ordering vs full rewrites, and resume
    from the reconstructed frontier."""
    rw = str(tmp_path / "rw")
    dl = str(tmp_path / "dl")
    res = str(tmp_path / "res")
    budget = 7  # defers most of the frontier -> deltas actually differ
    run_crawl(
        spark, pages120, [doc_url(0)], rw,
        CrawlConfig(max_rounds=6, host_budget=budget, frontier_mode="rewrite"),
    )
    run_crawl(
        spark, pages120, [doc_url(0)], dl,
        CrawlConfig(max_rounds=6, host_budget=budget, frontier_mode="delta"),
    )
    for table in ("vertices", "edges", "seen"):
        a = sorted(map(tuple, read_output(spark, rw, table).collect()))
        b = sorted(map(tuple, read_output(spark, dl, table).collect()))
        assert a == b, table
    # reconstructed frontier == committed full frontier, row for row
    fa = sorted(map(tuple, load_frontier(spark, rw).collect()))
    fb = sorted(map(tuple, load_frontier(spark, dl).collect()))
    assert fa == fb
    # exact frontier gauge in the log totals at every round
    log_rw = {
        r["iteration"]: r["frontier"]
        for r in read_output(spark, rw, "crawl_log")
        .filter(F.col("partition_id") == -1).collect()
    }
    log_dl = {
        r["iteration"]: r["frontier"]
        for r in read_output(spark, dl, "crawl_log")
        .filter(F.col("partition_id") == -1).collect()
    }
    assert log_rw == log_dl
    # kill/resume through the delta reconstruction path
    run_crawl(
        spark, pages120, [doc_url(0)], res,
        CrawlConfig(max_rounds=3, host_budget=budget, frontier_mode="delta"),
    )
    r2 = run_crawl(
        spark, pages120, [doc_url(0)], res,
        CrawlConfig(max_rounds=6, host_budget=budget, frontier_mode="delta"),
    )
    assert r2["start_round"] == 3
    for table in ("vertices", "edges", "seen"):
        a = sorted(map(tuple, read_output(spark, rw, table).collect()))
        b = sorted(map(tuple, read_output(spark, res, table).collect()))
        assert a == b, f"resume {table}"


def _crawl_state(spark, ckpt):
    state = {
        t: sorted(map(tuple, read_output(spark, ckpt, t).collect()))
        for t in ("vertices", "edges", "seen")
    }
    state["frontier"] = sorted(map(tuple, load_frontier(spark, ckpt).collect()))
    return state


def test_robots_blocked_seed_is_never_fetched(spark, pages120, tmp_path):
    """A robots-blocked seed is gated out of the seed frontier like any
    other blocked url. Otherwise it sits in the frontier until rediscovered,
    enters seen as blocked, and then full-frontier rounds keep (and fetch)
    it while delta rounds tombstone it."""
    robots = spark.createDataFrame(
        [("hub.example.com", "/doc/3")], "host string, disallow_prefix string"
    )
    seeds = [doc_url(0), doc_url(3)]

    def crawl(name, mode, max_rounds):
        d = str(tmp_path / name)
        cfg = CrawlConfig(max_rounds=max_rounds, host_budget=1, frontier_mode=mode)
        run_crawl(spark, pages120, seeds, d, cfg, robots=robots)
        return d

    rewrite = _crawl_state(spark, crawl("rewrite", "rewrite", 3))
    assert doc_url(3) not in {v[0] for v in rewrite["vertices"]}
    assert _crawl_state(spark, crawl("delta", "delta", 3)) == rewrite
    # killed after round 0, resumed under the per-round auto mode
    crawl("resumed", "auto", 1)
    assert _crawl_state(spark, crawl("resumed", "auto", 3)) == rewrite


class _FailsInRound1(CorpusJoinFetcher):
    """Round 1's fetch fails when it EXECUTES — inside the commit writes,
    after the loop has persisted that round's caches."""

    def __init__(self, pages):
        super().__init__(pages)
        self.rounds = 0

    def fetch(self, batch):
        self.rounds += 1
        out = super().fetch(batch)
        if self.rounds == 2:
            out = out.filter(F.raise_error(F.lit("injected fetch failure")).isNull())
        return out


def test_loop_releases_caches_and_restores_aqe(spark, pages120, tmp_path):
    """Every cache the loop persists (per-round caches, LSM probe parts,
    the resume-path part) is gone after run_crawl returns or raises, and the
    session's AQE setting is restored either way."""
    pages120.count()  # the caller's cache is not the loop's
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()

    def assert_clean():
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe

    def cfg(max_rounds):
        # budgeted delta frontier with compaction at round 1 and round 3
        return CrawlConfig(
            max_rounds=max_rounds, host_budget=5, frontier_mode="delta",
            compact_every=2,
        )

    seeds = [doc_url(0)]
    ok = str(tmp_path / "ok")
    run_crawl(spark, pages120, seeds, ok, cfg(3))
    assert_clean()
    ref = _crawl_state(spark, ok)
    res = run_crawl(spark, pages120, seeds, ok, cfg(5))
    assert res["start_round"] == 3
    assert_clean()

    failed = str(tmp_path / "failed")
    with pytest.raises(PySparkException, match="injected fetch failure"):
        run_crawl(
            spark, pages120, seeds, failed, cfg(3), fetcher=_FailsInRound1(pages120)
        )
    assert_clean()
    # the failed round never committed; a resume redoes it exactly
    res = run_crawl(spark, pages120, seeds, failed, cfg(3))
    assert res["start_round"] == 1
    assert_clean()
    assert _crawl_state(spark, failed) == ref


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_driver_frames_are_local_table_scans(spark, arrow):
    """The seed frontier and the crawl_log totals frame plan as a
    LocalTableScan, never a Python-RDD scan (ExistingRDD) whose every
    re-read forks Python tasks, whatever the Arrow conf says. The seed
    rows equal the Python-list construction's: empty, non-ASCII and
    duplicate seeds."""
    from fs_crawler_spark.operators.frontier import as_frontier_rows, dedup_frontier
    from fs_crawler_spark.plans.crawl import seed_frontier
    from fs_crawler_spark.schemas import CRAWL_LOG
    from fs_crawler_spark.session import local_frame

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        def assert_local(df):
            plan = _plan(df)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

        totals = local_frame(spark, [(0, -1, 1.5, 3, 4, 5, 6, 3, 2, 99)], CRAWL_LOG)
        assert_local(totals)
        assert totals.schema == CRAWL_LOG
        assert totals.collect()[0]["snapshot_id"] == 99
        assert local_frame(spark, [], CRAWL_LOG).schema == CRAWL_LOG
        for seeds in (
            [],
            [doc_url(0), "http://bücher.example/straße?q=ü", "http://例え.jp/パス"],
            [doc_url(0), doc_url(1), doc_url(0), "HTTP://Hub.Example.com/doc/1"],
        ):
            f = seed_frontier(spark, seeds)
            assert_local(f)
            old = dedup_frontier(
                as_frontier_rows(
                    spark.createDataFrame([(u,) for u in seeds], "url string"), 0
                )
            )
            assert f.schema == old.schema
            assert sorted(map(tuple, f.collect())) == sorted(
                map(tuple, old.collect())
            )
    finally:
        spark.conf.set(key, before)


# Jobs a budgeted delta-mode crawl of pages120 submits: round 0 stopped by
# max_rounds, then a resumed call running round 1. Every job the loop adds
# (or removes) moves this pin; update it on purpose.
CRAWL_JOB_BUDGET = 25


def test_crawl_job_budget(spark, pages120, tmp_path):
    pages120.count()  # a materialized cache: stable broadcast decisions
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def last_job_id() -> int:
        # job-start events reach the tracker through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(tracker.getJobIdsForGroup(None), default=-1)

    d = str(tmp_path / "c")
    cfg = dict(host_budget=5, frontier_mode="delta", compact_every=4)
    start = last_job_id()
    run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=1, **cfg))
    res = run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=2, **cfg))
    assert res["start_round"] == 1 and res["rounds"] == 1
    assert last_job_id() - start == CRAWL_JOB_BUDGET
