"""The four benchmark workloads.

Each workload builds its inputs from the seed (``make_inputs``), warms
up (``warm_up``), runs one operation per ``op`` call through the
engine's public API (at least ``min_ops`` of them in a measured run),
and knows the outputs that operation must produce (``expected``).
Timing sections end once the outputs are materialized; comparing them
with the expectation happens outside (``check``).

- bfs_exhaust: BFS to exhaustion with table fetch, global dedup, Bloom on,
  no politeness. Many small waves, so fixed per-wave cost dominates.
- wide_wave: one engine wave over a 2x duplicated frontier of every page.
  The wave's fixed cost is paid once, so per-row work dominates.
- polite_resume: the reference-default config (per-seed dedup, budget 5)
  with mined robots enforcement, in-loop image verify and a snapshot
  store; 8 waves, then a fresh Crawler resumes to exhaustion.
- corpus_dedup: the five pair-engine corpus queries on a seed-permuted
  copy of a fixed documents table.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
import uuid

from pyspark import StorageLevel
from pyspark.sql import functions as F

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.plans.crawl import FRONTIER_COLS, Crawler
from xcrawl3r_spark.sources import datagen as G

from perfbench import oracle
from perfbench.trace import NO_TRACE

N_SEEDS = 4
HERE = os.path.dirname(os.path.abspath(__file__))
#: oracle results that do not depend on the seed, kept between runs
CACHE_DIR = os.path.join(os.path.dirname(HERE), ".perfbench_cache")
CORPUS_QUERIES = ["corpus_curate", "corpus_clean", "dedup_minhash_lsh",
                  "dedup_ngram_jaccard", "text_winnow_spans"]
#: a wave slower than this many times the median wave so far stops the run
GUARD_FACTOR = 10.0
GUARD_MIN_WAVES = 3


class GuardStop(RuntimeError):
    """A wave took more than GUARD_FACTOR x the run's median wave so far."""


class WaveClock:
    """``on_iteration`` hook: wave intervals, a Spark job group per wave
    (so jobs are counted without running any), and the optional guard.

    A new group opens when a crawl call starts and each time a wave
    reports, so every wave's jobs (its ``isEmpty`` probe included) land
    in the group that was open when it began. Jobs after the last wave of
    a call (the final emptiness probe, the tail filter fold) land in a
    group no wave owns and count in the total only; ``tail`` opens the
    group of the result materialization, which counts in neither."""

    def __init__(self, spark, tag: str, guard: bool = False):
        self.sc = spark.sparkContext
        # group names must be unique in the session: the status store
        # counts jobs by name
        self.tag = f"{tag}-{uuid.uuid4().hex[:8]}"
        self.guard = guard
        self.waves: list[float] = []
        self.bounds: list[tuple[float, float]] = []
        self.groups: list[str] = []
        self.wave_groups: list[str] = []
        self._t = 0.0

    def _open(self, kind: str) -> None:
        name = f"{self.tag}-{len(self.groups)}-{kind}"
        self.groups.append(name)
        self.sc.setJobGroup(name, name)

    def start(self) -> None:
        self._t = time.perf_counter()
        self._open("wave")

    def __call__(self, it: int, _edges) -> None:
        now = time.perf_counter()
        dt = now - self._t
        prev = list(self.waves)
        self.waves.append(dt)
        self.bounds.append((self._t, now))
        self.wave_groups.append(self.groups[-1])
        self._t = now
        self._open("wave")
        if (self.guard and len(prev) >= GUARD_MIN_WAVES
                and dt > GUARD_FACTOR * statistics.median(prev)):
            raise GuardStop(
                f"wave {it} took {dt:.2f}s, over {GUARD_FACTOR:g}x the "
                f"median {statistics.median(prev):.2f}s of {len(prev)} waves")

    def tail(self) -> None:
        self._open("tail")

    def done(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self) -> tuple[list[int], int]:
        """(jobs per wave, jobs of all crawl calls in total)."""
        st = self.sc.statusTracker()
        n = {g: len(st.getJobIdsForGroup(g)) for g in self.groups}
        total = sum(v for g, v in n.items() if not g.endswith("-tail"))
        return [n[g] for g in self.wave_groups], total


def _crawl_cfg(**kw) -> CrawlConfig:
    return CrawlConfig(domains=["test"], include_subdomains=True, depth=0, **kw)


def materialize(df):
    """Checkpoint ``df`` to disk now, so later timings exclude building it."""
    df = df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    df.count()
    return df


class _GraphCrawl:
    """Set-up, timing and checking shared by the crawl workloads."""

    name = ""
    guard = False
    #: a measured run takes the median of at least this many ops
    min_ops = 3
    #: waves of the warm-up op (None: the whole op)
    warm_waves: int | None = None

    def __init__(self, seed: int, work: str, params: G.GraphParams,
                 cfg: CrawlConfig):
        self.seed = seed
        self.work = work
        self.params = params
        self.cfg = cfg
        self.inputs: dict = {}
        self.ops = 0
        self.last_clock: WaveClock | None = None
        self._expected = None

    def expected(self) -> dict:
        if self._expected is None:
            self._expected = self._compute_expected()
        return self._expected

    def check(self, rec: dict) -> list[str]:
        return oracle.compare_digests(rec["digests"], self.expected())

    def make_inputs(self, spark, timings: dict) -> None:
        t0 = time.perf_counter()
        pages = G.pages_df(spark, self.params).persist()
        pages.count()
        timings["datagen.pages_s"] = time.perf_counter() - t0
        self.inputs = {"spark": spark, "pages": pages,
                       "seeds": G.seeds_df(spark, self.params, N_SEEDS)}

    def warm_up(self, spark) -> None:
        """Run the op once, or its first ``warm_waves`` waves: the first
        run of each plan in a JVM compiles it, and the Python workers
        start."""
        self.run_op(spark, NO_TRACE, "warm",
                    self.legs(self.inputs, self.warm_waves))

    def op(self, spark, tracer) -> dict:
        self.ops += 1
        return self.run_op(spark, tracer, f"op{self.ops}",
                           self.legs(self.inputs, None))

    def run_op(self, spark, tracer, tag: str, legs) -> dict:
        """Run the crawl calls in ``legs`` [(span name, fn(clock))], then
        materialize the last result's digests. Wave times and jobs come
        from the clock, which outlives a GuardStop as ``last_clock``."""
        clock = self.last_clock = WaveClock(spark, tag, self.guard)
        results, starts = [], []
        with tracer.span(f"{self.name}.op"):
            try:
                t0 = time.perf_counter()
                for name, call in legs:
                    starts.append(time.perf_counter())
                    clock.start()
                    with tracer.span(name):
                        results.append(call(clock))
                t_crawl = time.perf_counter()
                clock.tail()
                with tracer.span("result_tail"):
                    digests = self._digests(results[-1])
                t_end = time.perf_counter()
            finally:
                clock.done()
                for i, (a, b) in enumerate(clock.bounds, 1):
                    tracer.add(f"wave{i}", a, b)
        per_wave, total = clock.jobs()
        return {
            "wall_s": t_end - t0, "crawl_s": t_crawl - t0,
            "result_s": t_end - t_crawl, "last_call_s": t_end - starts[-1],
            "waves": clock.waves, "jobs_per_wave": per_wave,
            "jobs_total": total,
            "metrics": [m for r in results for m in r.metrics],
            "digests": digests, "urls": digests["seen"][0],
        }

    def _digests(self, res) -> dict:
        """Global-dedup outputs, keyed by URL alone."""
        return oracle.spark_digests({
            "seen": (res.seen, ["url"]),
            "edges": (res.edges, ["src_url", "url", "kind"]),
            "images": (res.images, ["url"]),
            "errors": (res.errors, ["url"]),
        })


class BfsExhaust(_GraphCrawl):
    name = "bfs_exhaust"

    def __init__(self, seed: int, work: str, small: bool = False):
        super().__init__(
            seed, work,
            G.GraphParams(hosts=3, pages_per_host=6, fanout=16, seed=seed)
            if small else
            G.GraphParams(hosts=8, pages_per_host=10, fanout=64, seed=seed),
            _crawl_cfg(parallelism=0, bloom_enabled=True, global_dedup=True))

    def _compute_expected(self):
        return oracle.expected_global_crawl(self.params, N_SEEDS, self.cfg)

    def legs(self, inp, max_iterations):
        """[(span name, fn(clock) -> CrawlResult)]: the op's crawl calls."""
        return [("Crawler.crawl", lambda clock: Crawler(inp["spark"], self.cfg)
                 .crawl(inp["seeds"], inp["pages"], on_iteration=clock,
                        max_iterations=max_iterations or 1000))]


class WideWave(_GraphCrawl):
    name = "wide_wave"

    def __init__(self, seed: int, work: str, small: bool = False,
                 params: G.GraphParams | None = None):
        super().__init__(
            seed, work,
            params or (
                G.GraphParams(hosts=3, pages_per_host=6, fanout=16, seed=seed)
                if small else
                G.GraphParams(hosts=10, pages_per_host=500, fanout=16,
                              seed=seed)),
            _crawl_cfg(parallelism=0, bloom_enabled=True, global_dedup=True))

    def _compute_expected(self):
        return oracle.expected_wide_wave(self.params, self.cfg)

    def make_inputs(self, spark, timings):
        super().make_inputs(spark, timings)
        self.inputs["frontier"] = wide_frontier(self.inputs["pages"])
        self.inputs["seeds"] = spark.createDataFrame([], G.SEEDS_SCHEMA)

    def legs(self, inp, _max_iterations):
        return [("Crawler.crawl", lambda clock: Crawler(inp["spark"], self.cfg)
                 .crawl(inp["seeds"], inp["pages"],
                        initial_frontier=inp["frontier"], max_iterations=1,
                        on_iteration=clock))]


def wide_frontier(pages):
    """Every page URL twice, at depth 1, as a materialized frontier. Keys
    follow the global-dedup contract: dedup_key = url_hash = xxhash64(url)."""
    urls = pages.select("url").withColumn("seed_id", F.lit("r"))
    return materialize(
        urls.unionByName(urls)
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("dedup_key", F.xxhash64("url"))
        .withColumn("host", F.lower(F.try_parse_url("url", F.lit("HOST"))))
        .withColumn("depth", F.lit(1))
        .withColumn("disc_iter", F.lit(0))
        .withColumn("src_url", F.lit(None).cast("string"))
        .select(*FRONTIER_COLS))


class PoliteResume(_GraphCrawl):
    name = "polite_resume"
    guard = True
    min_ops = 1
    # the first wave only: the whole op takes minutes on the seed code
    warm_waves = 1
    LEG1_WAVES = 8

    def __init__(self, seed: int, work: str, small: bool = False):
        super().__init__(
            seed, work,
            G.GraphParams(hosts=3, pages_per_host=6, seed=seed) if small else
            G.GraphParams(hosts=20, pages_per_host=100, seed=seed),
            _crawl_cfg(obey_robots=True))
        # the small graph runs out of waves before leg 1's cap would end
        self.leg1_waves = 2 if small else self.LEG1_WAVES
        self.store_dir = ""

    def _compute_expected(self):
        return oracle.expected_per_seed_crawl(self.params, N_SEEDS, self.cfg)

    def make_inputs(self, spark, timings):
        super().make_inputs(spark, timings)
        t0 = time.perf_counter()
        imgs = G.images_df(spark, self.params).persist()
        imgs.count()
        timings["datagen.images_s"] = time.perf_counter() - t0
        self.inputs["images"] = imgs

    def legs(self, inp, max_iterations):
        self.store_dir = os.path.join(self.work, f"store-{self.ops}")
        shutil.rmtree(self.store_dir, ignore_errors=True)
        cfg = _crawl_cfg(obey_robots=True, checkpoint_dir=self.store_dir)
        args = (inp["seeds"], inp["pages"])
        first = ("Crawler.crawl", lambda clock: Crawler(inp["spark"], cfg).crawl(
            *args, image_payloads=inp["images"], on_iteration=clock,
            max_iterations=max_iterations or self.leg1_waves))
        if max_iterations:
            return [first]
        # a FRESH Crawler resumes from the store to exhaustion
        return [first, ("Crawler.resume", lambda clock: Crawler(
            inp["spark"], cfg).resume(*args, image_payloads=inp["images"],
                                      on_iteration=clock))]

    def _digests(self, res):
        """Per-seed outputs, plus the images that decoded and verified."""
        ok = F.col("pixel_ok") & F.col("caption_ok")
        return oracle.spark_digests({
            "seen": (res.seen, ["seed_id", "url"]),
            "edges": (res.edges, ["seed_id", "src_url", "url", "kind"]),
            "images": (res.images, ["seed_id", "url"]),
            "images_ok": (res.images.filter(ok), ["seed_id", "url"]),
        })


class CorpusDedup:
    """The five pair-engine queries over a seed-permuted documents table."""

    name = "corpus_dedup"
    min_ops = 1

    def __init__(self, seed: int, work: str, small: bool = False):
        self.seed = seed
        self.work = work
        table = "documents_sf0.001" if small else "documents_sf0.01"
        self.src = os.path.join(HERE, "data", f"{table}.parquet")
        self.sf_dir = os.path.join(work, "corpus")
        self.probe_dir = os.path.join(work, "corpus_probe")
        self.queries: dict = {}
        self._expected = None

    def write_tables(self) -> None:
        """Permute row order and row-group boundaries by the seed (the
        queries must not depend on either). The first 40 permuted rows
        are the small table of the other workloads' corpus layer probe."""
        import numpy as np
        import pyarrow.parquet as pq

        t = pq.read_table(self.src)
        rng = np.random.default_rng(self.seed)
        t = t.take(rng.permutation(t.num_rows))
        for d, rows, group in ((self.sf_dir, t, int(rng.integers(50, 200))),
                               (self.probe_dir, t.slice(0, 40), 20)):
            os.makedirs(d, exist_ok=True)
            pq.write_table(rows, os.path.join(d, "documents.parquet"),
                           row_group_size=group)

    def make_inputs(self, spark, timings: dict) -> None:
        import __spark_entry__ as E

        t0 = time.perf_counter()
        self.write_tables()
        timings["datagen.documents_s"] = time.perf_counter() - t0
        self.queries = E.queries()

    def warm_up(self, spark) -> None:
        """Run the five queries once untimed: a plan's first run in a JVM
        compiles it (corpus_curate's takes about twice as long as later
        ones)."""
        self.op(spark, NO_TRACE)

    def expected(self) -> dict:
        if self._expected is None:
            self._expected = oracle.corpus_expected(
                self.src, CORPUS_QUERIES, CACHE_DIR)
        return self._expected

    def op(self, spark, tracer, sf_dir: str | None = None) -> dict:
        per = {}
        t0 = time.perf_counter()
        with tracer.span("corpus_dedup.op"):
            for q in CORPUS_QUERIES:
                with tracer.span(q):
                    tq = time.perf_counter()
                    df = self.queries[q](spark, sf_dir or self.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    per[q] = {"s": time.perf_counter() - tq,
                              "cols": df.columns, "rows": rows,
                              "exchanges": count_exchanges(df)}
        return {"wall_s": time.perf_counter() - t0, "queries": per}

    def check(self, rec: dict) -> list[str]:
        want = self.expected()
        out = []
        for q, r in rec["queries"].items():
            why = oracle.compare_query(r["cols"], r["rows"], want[q])
            if why:
                out.append(f"{q}: {why}")
        return out


_EXCHANGE = re.compile(r"^[\s:+\-*|]*(?:Broadcast|Reused)?Exchange\b", re.M)


def count_exchanges(df) -> int:
    """Exchange nodes in the executed physical plan. Once the query has
    run, AQE prints its final plan first and the initial plan after it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan.split("== Initial Plan ==")[0]))


WORKLOADS = {w.name: w for w in (BfsExhaust, WideWave, PoliteResume,
                                 CorpusDedup)}
