"""The benchmark's workloads, their output checks and their traced
breakdown. See README.md in this directory for why each was chosen.

Every workload has the same life cycle inside one Spark session:
prepare (inputs + cached corpus), one discarded warm-up pass, timed passes
until ``--seconds`` have elapsed, and output checks outside the timed
sections. A traced run adds one more pass with spans switched on, followed
(for the crawl) by isolated replays of each crawl layer on the committed
checkpoint of that pass.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import oracles
import tracing as tr

# -- workload shapes -----------------------------------------------------------
# crawl_polite: a budgeted crawl over 65 hosts (the hub holds a third of the
# urls) that stops after STOP rounds and resumes in a second run_crawl call
# through round ROUNDS - 1. Delta frontier commits and compaction every 2nd
# round put, inside two rounds, one delta frontier commit that the resume
# rebuilds and one seen compaction.
POLITE = {
    "sf": 0.04,  # 2,000 base documents
    "multiplier": 10,  # x 10 = 20,000 pages
    "n_hosts": 64,
    "seed_every": 10,  # one seed per 10 docs, drawn by the seed
    "budget": 5,
    "frontier_mode": "delta",
    "compact_every": 2,
    "stop": 1,
    "rounds": 2,
    "replay_round": 1,
    # the robots layer is replayed on this workload's candidates
    "replay_robots": (("hub.example.com", "/doc/3"),),
}
SUITE = {"sf": 0.02}
LEAVES = (
    "token_jaccard",
    "minhash_lsh",
    "simhash_near_dup",
    "emb_near_dup_lsh",
    "emb_near_dup",
    "ann_lsh",
    "ann_ivf",
    "media_features",
    "link_edges",
    "nation_revenue",
    "validator_stats",
)
PAIR_LEAVES = ("token_jaccard", "minhash_lsh", "simhash_near_dup", "emb_near_dup_lsh")
MAX_PASSES = 8


@dataclass
class Ctx:
    spark: object
    work: str
    data: str
    seed: int
    cores: int
    tracer: tr.Tracer
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok


@dataclass
class Pass:
    wall: float
    steps: list[float]  # per-round durations, or per-leaf walls
    items: int  # urls committed, or leaves run
    t0: float = 0.0  # epoch start / end, for event-log windows
    t1: float = 0.0
    ckpt: str | None = None
    shape: tuple[int, int] = (0, 0)  # crawl: (rounds, delta rounds)
    rows: dict = field(default_factory=dict)  # suite: rows per leaf


# -- crawls ---------------------------------------------------------------------


class Crawl:
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.shape = POLITE
        self.reference: dict | None = None

    def prepare(self) -> None:
        from fs_crawler_spark.sources.corpus import build_pages

        ctx, s = self.ctx, self.shape
        self.pages = (
            build_pages(ctx.spark, ctx.data, multiplier=s["multiplier"], n_hosts=s["n_hosts"])
            .repartition(ctx.cores, "url")
            .persist()
        )
        self.n = self.pages.count()
        rng = random.Random(ctx.seed)
        self.seed_ids = sorted(rng.sample(range(self.n), self.n // s["seed_every"]))
        self.seeds = [oracles.doc_url(d, s["n_hosts"]) for d in self.seed_ids]

    def unprepare(self) -> None:
        self.pages.unpersist()

    def _cfg(self, max_rounds: int):
        from fs_crawler_spark.plans.crawl import CrawlConfig

        return CrawlConfig(
            max_rounds=max_rounds,
            host_budget=self.shape["budget"],
            compact_every=self.shape["compact_every"],
            frontier_mode=self.shape["frontier_mode"],
            pages_url_partitioned=True,
        )

    def run_pass(self, ckpt: str, resume: bool = True) -> Pass:
        """One pass: stop after ``stop`` rounds and resume in a second call,
        or (``resume=False``, the reference) run every round in one call."""
        from fs_crawler_spark.plans import crawl

        shutil.rmtree(ckpt, ignore_errors=True)
        s = self.shape
        stops = [s["stop"], s["rounds"]] if resume else [s["rounds"]]
        t0, w0 = time.time(), time.perf_counter()
        items = 0
        for max_rounds in stops:
            # through the module attribute, so a traced run's wrapper applies
            res = crawl.run_crawl(
                self.ctx.spark, self.pages, self.seeds, ckpt, self._cfg(max_rounds)
            )
            items += res["total_fetched"]
        wall = time.perf_counter() - w0
        return Pass(wall, [], items, t0, time.time(), ckpt)

    def observe(self, p: Pass) -> dict:
        """Read the committed outputs back (untimed) and fill ``p.steps``."""
        from fs_crawler_spark.plans.crawl import load_frontier, read_output
        from fs_crawler_spark.sources.checkpoint import CheckpointStore

        spark = self.ctx.spark

        def urls(df):
            return {r["url"] for r in df.select("url").collect()}

        log = read_output(spark, p.ckpt, "crawl_log").filter("partition_id = -1")
        p.steps = [r["duration"] for r in log.select("duration").collect()]
        store = CheckpointStore(p.ckpt)
        rounds = store.committed_rounds()
        return {
            "rounds": len(rounds),
            "delta_rounds": sum(
                1 for r in rounds
                if not store.manifest(r).get("meta", {}).get("frontier_full", True)
            ),
            "vertices": {
                r["id"]: r["iteration"]
                for r in read_output(spark, p.ckpt, "vertices").select("id", "iteration").collect()
            },
            "seen": urls(read_output(spark, p.ckpt, "seen")),
            "frontier": urls(load_frontier(spark, p.ckpt)),
        }

    def oracle(self) -> None:
        s = self.shape
        self.want_rounds, self.want_frontier = oracles.polite_oracle(
            self.n, self.seed_ids, s["budget"], s["rounds"], s["n_hosts"]
        )

    def check(self, got: dict, label: str) -> bool:
        """Per-round fetched sets, seen set and final frontier equal the
        oracle's, and (once the uninterrupted reference exists) the pass
        equals it url for url."""
        by_round = [set() for _ in self.want_rounds]
        ok = True
        for url, it in got["vertices"].items():
            if 0 <= it < len(by_round):
                by_round[it].add(url)
            else:
                ok = False
        fetched = set().union(*self.want_rounds)
        ok = ok and by_round == self.want_rounds
        ok = ok and got["frontier"] == self.want_frontier and got["seen"] == fetched
        if ok and self.reference is not None:
            ok = all(got[k] == self.reference[k] for k in ("vertices", "frontier", "seen"))
        return self.ctx.check(ok, f"{label}: committed crawl differs from the oracle")

    # -- isolated replays of one round's layers ---------------------------------

    def replay(self, ckpt: str) -> dict:
        """Re-run each crawl layer of round R on its committed inputs from a
        checkpoint, one noop-sink action per layer, AQE off as in the loop.
        Inputs of each layer are cached before its timer starts."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from fs_crawler_spark.functions.extract import extract_pages
        from fs_crawler_spark.operators.frontier import (
            anti_join_seen_chain,
            frontier_from_links,
            merge_frontier_fww,
        )
        from fs_crawler_spark.operators.politeness import select_batch
        from fs_crawler_spark.operators.robots import robots_gate
        from fs_crawler_spark.plans.crawl import _load_frontier
        from fs_crawler_spark.sources.checkpoint import CheckpointStore
        from fs_crawler_spark.sources.fetcher import CorpusJoinFetcher

        spark = self.ctx.spark
        rnd = self.shape["replay_round"]
        cfg = self._cfg(rnd + 1)
        store = CheckpointStore(ckpt)
        held = []

        def keep(df, level=StorageLevel.MEMORY_AND_DISK):
            df = df.persist(level)
            held.append(df)
            return df, df.count()

        def timed(df_fn):
            t = time.perf_counter()
            df = df_fn()
            df.write.format("noop").mode("overwrite").save()
            return df, time.perf_counter() - t

        probe_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def as_part(df):
            return keep(
                df.select("url_hash", "url")
                .repartition(probe_n, "url_hash", "url")
                .sortWithinPartitions("url_hash", "url"),
                StorageLevel.DISK_ONLY,
            )[0]

        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            frontier, n_front = keep(_load_frontier(spark, store, rnd - 1))
            sel_holder = {}

            def select():
                sel_holder["sel"] = select_batch(frontier, cfg.host_budget, cfg.salt_n)
                return sel_holder["sel"].batch

            _, select_s = timed(select)
            batch, n_batch = keep(sel_holder["sel"].batch)
            deferred, _ = keep(sel_holder["sel"].deferred)
            fetched_df, fetch_s = timed(
                lambda: CorpusJoinFetcher(self.pages, True).fetch(batch)
            )
            fetched, n_fetched = keep(fetched_df)
            parsed_df, extract_s = timed(lambda: extract_pages(fetched))
            parsed, n_parsed = keep(parsed_df)
            n_links = parsed.select(F.sum(F.size("links"))).first()[0] or 0
            links = parsed.select(F.explode("links").alias("url"))
            cand_df, cand_s = timed(lambda: frontier_from_links(links, rnd + 1))
            cands, n_raw = keep(cand_df)
            compacted = [
                r for r in store.committed_rounds()
                if r < rnd and "seen" in store.manifest(r).get("compacted", [])
            ]
            first = max(compacted) if compacted else 0
            parts = [
                as_part(store.read(spark, r, "seen"))
                for r in store.committed_rounds()
                if first <= r < rnd
            ] + [as_part(batch)]
            unseen_df, anti_s = timed(lambda: anti_join_seen_chain(cands, parts))
            unseen, n_unseen = keep(unseen_df)
            robots = spark.createDataFrame(
                list(self.shape["replay_robots"]), "host string, disallow_prefix string"
            )
            gated_df, gate_s = timed(lambda: robots_gate(unseen, robots))
            gated, n_gated = keep(gated_df)
            _, merge_s = timed(lambda: merge_frontier_fww(deferred, gated))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            for df in held:
                df.unpersist()
        return {
            "politeness.select_s": select_s,
            "politeness.batch_ratio": n_batch / max(n_front, 1),
            "fetcher.fetch_s": fetch_s,
            "fetcher.hit_ratio": n_fetched / max(n_batch, 1),
            "extract.extract_s": extract_s,
            "extract.links_per_page": n_links / max(n_parsed, 1),
            "frontier.candidates_s": cand_s,
            "frontier.antijoin_s": anti_s,
            "frontier.merge_s": merge_s,
            "frontier.new_ratio": n_unseen / max(n_raw, 1),
            "frontier.probe_parts": len(parts),
            "robots.gate_s": gate_s,
            "robots.blocked_ratio": 1.0 - n_gated / max(n_unseen, 1),
        }

    # -- life cycle ---------------------------------------------------------------

    def warmup(self) -> None:
        p = self.run_pass(os.path.join(self.ctx.work, "ckpt"), resume=False)
        got = self.observe(p)
        self.check(got, "warm-up")
        # the uninterrupted warm-up is the reference a resumed pass must equal
        self.reference = got
        self.shape_seen = (got["rounds"], got["delta_rounds"])
        shutil.rmtree(p.ckpt, ignore_errors=True)

    def timed_pass(self, keep_ckpt: bool = False) -> Pass:
        p = self.run_pass(os.path.join(self.ctx.work, "ckpt"))
        got = self.observe(p)
        self.check(got, "timed pass")
        p.shape = (got["rounds"], got["delta_rounds"])
        if not keep_ckpt:
            shutil.rmtree(p.ckpt, ignore_errors=True)
        return p


# -- operator suite -------------------------------------------------------------


class Suite:
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.shape = SUITE

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.sql = entry.oracle_sql()

    def unprepare(self) -> None:
        pass

    def oracle(self) -> None:
        self.want = oracles.leaf_oracles(self.ctx.data, list(LEAVES), self.sql)

    def warmup(self) -> None:
        self.timed_pass()

    def timed_pass(self, keep_ckpt: bool = False) -> Pass:
        """Each leaf is one .collect() action; its rows must equal the
        oracle's as a multiset."""
        walls, rows = [], {}
        t0 = time.time()
        for leaf in LEAVES:
            got = None
            with self.ctx.tracer.span(f"suite.{leaf}"):
                w = time.perf_counter()
                try:
                    df = self.queries[leaf](self.ctx.spark, self.ctx.data)
                    got = (df.columns, df.collect())
                except Exception as e:  # noqa: BLE001 - a raising leaf is a failed check
                    err = type(e).__name__
                walls.append(time.perf_counter() - w)
            if got is None:
                ok, what = False, f"{leaf} raised {err}"
            else:
                cols, data = got
                ok = (sorted(cols), oracles.canonical(cols, data)) == self.want[leaf]
                what = f"{leaf}: rows differ from its DuckDB oracle"
                rows[leaf] = len(data)
            self.ctx.check(ok, what)
        return Pass(sum(walls), walls, len(LEAVES), t0, time.time(), rows=rows)


def make(ctx: Ctx, workload: str):
    if workload == "operator_suite":
        return Suite(ctx)
    return Crawl(ctx)


def timed_passes(wl, ctx: Ctx, seconds: float) -> list[Pass]:
    passes, t0 = [], time.perf_counter()
    while not passes or (
        time.perf_counter() - t0 < seconds and len(passes) < MAX_PASSES
    ):
        passes.append(wl.timed_pass())
    return passes


def end_to_end(passes: list[Pass]) -> dict:
    steps = [s for p in passes for s in p.steps]
    return {
        "throughput": statistics.median(p.items / p.wall for p in passes),
        "pass_s": statistics.median(p.wall for p in passes),
        "step_s_p50": statistics.median(steps) if steps else 0.0,
    }


# -- traced breakdown -------------------------------------------------------------


def crawl_layers(wl: Crawl, p: Pass, tracer: tr.Tracer, run_id: int) -> dict:
    """Span metrics of one traced crawl pass (before the event log is read)."""
    out = {}
    runs = sorted(tracer.named("crawl.run", run_id), key=lambda s: s.start)
    plans = sorted(tracer.named("crawl.plan", run_id), key=lambda s: s.start)
    rounds = []
    for r in runs:
        mine = [s for s in plans if r.start <= s.start <= r.end]
        for i, s in enumerate(mine):
            end = mine[i + 1].start if i + 1 < len(mine) else r.end
            rounds.append((s.start, end))
    out["_rounds"] = rounds
    out["_runs"] = [(r.start, r.end) for r in runs]
    out["crawl.rounds"] = len(rounds)
    out["crawl.delta_rounds"] = p.shape[1]

    def total(name):  # spans inside the run_crawl calls, not the read-back
        return sum(
            s.end - s.start
            for s in tracer.named(name, run_id)
            if any(r.start <= s.start <= r.end for r in runs)
        )

    out["crawl.plan_s"] = total("crawl.plan")
    out["crawl.counts_s"] = total("crawl.counts")
    out["crawl.reload_s"] = total("crawl.reload")
    out["checkpoint.commit_s"] = total("checkpoint.commit")
    for t in tr.COMMIT_TABLES:
        out[f"checkpoint.write_s.{t}"] = total(f"checkpoint.write.{t}")
    if len(runs) > 1:
        first = [s for s in plans if s.start >= runs[1].start]
        out["checkpoint.resume_s"] = first[0].start - runs[1].start if first else 0.0
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(p.ckpt):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
    out["checkpoint.bytes_per_url"] = n_bytes / max(p.items, 1)
    out["checkpoint.files_per_round"] = n_files / max(len(rounds), 1)
    return out


def event_layers(evlog: str, scratch: str, p: Pass, spans: dict, cores: int) -> dict:
    m = tr.window_metrics(evlog, scratch, p.t0, p.t1)
    out = {
        "spark.task_run_s": m["run_s"],
        "spark.task_cpu_s": m["cpu_s"],
        "spark.gc_s": m["gc_s"],
        "spark.shuffle_write_bytes": m["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": m["shuffle_read_bytes"],
        "spark.spill_bytes": m["spill_bytes"],
        "spark.tasks": m["tasks"],
        "spark.slot_util": m["run_s"] / (cores * p.wall),
    }
    rounds = spans.get("_rounds")
    if rounds:
        runs = spans["_runs"]
        jobs = [(j[1], j[2]) for j in m["jobs"] if any(a <= j[1] <= b for a, b in runs)]
        out["crawl.jobs_per_round"] = len(jobs) / len(rounds)
        gap = 0.0
        for a, b in rounds:
            inside = [(max(s, a), min(e, b)) for s, e in jobs if e > a and s < b]
            gap += (b - a) - tr.union_length(inside)
        out["crawl.driver_gap_s"] = gap
    return out
