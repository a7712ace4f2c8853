"""Wave sizing and loop termination from the counts the per-wave
checkpoints observe.

Each iteration's flagged and extracted checkpoints count rows on the way
through (no extra Spark job). Those counts size a wide wave's fetch +
extraction stage, end the loop without an ``isEmpty`` probe, and land in
``CrawlResult.metrics``. The tests pin each of those uses against counts
computed independently of the engine.
"""

import time
from collections import Counter

from pyspark.sql import functions as F

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.functions import urls as U
from xcrawl3r_spark.operators.dedup import bloom_probe_maybe_seen
from xcrawl3r_spark.plans import crawl as C
from xcrawl3r_spark.plans.crawl import Crawler
from xcrawl3r_spark.simulator import simulate_crawl
from xcrawl3r_spark.sinks.tables import SnapshotStore
from xcrawl3r_spark.sources import datagen as G

P = G.GraphParams(hosts=4, pages_per_host=8)
SEEDS_SCHEMA = "seed_id string, url string"


def _cfg(**kw):
    kw.setdefault("bloom_enabled", False)
    return CrawlConfig(domains=["test"], include_subdomains=True, **kw)


def _edges_ms(res):
    return Counter(
        (r["seed_id"], r["src_url"], r["url"], r["kind"], r["depth"])
        for r in res.edges.collect())


class _JobGroup:
    """Run a block under a Spark job group; ``jobs()`` lists its jobs."""

    def __init__(self, spark, name):
        self.sc, self.name = spark.sparkContext, name

    def __enter__(self):
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self):
        # the status store is fed by the async listener bus: let the
        # events of the block's last jobs land first
        time.sleep(1.0)
        return self.sc.statusTracker().getJobIdsForGroup(self.name)

    def stage_names(self):
        st = self.sc.statusTracker()
        infos = [st.getStageInfo(s) for j in self.jobs()
                 for s in st.getJobInfo(j).stageIds]
        return [i.name for i in infos if i is not None]


def test_wide_wave_extracts_in_several_tasks_with_parity(spark):
    """A wave of >= 2*EXTRACT_ROWS_PER_TASK selected rows (every page of
    the graph as its own seed) is spread over more than one extraction
    task and keeps the simulator's seen set and edge multiset."""
    params = G.GraphParams(hosts=4, pages_per_host=600)
    pages = G.pages_dict(params)
    seeds = [(f"s{i}", u) for i, u in enumerate(sorted(pages))]
    cfg = _cfg(depth=1, expand_seeds=False, parallelism=0)
    sim = simulate_crawl(seeds, pages, cfg)

    res = Crawler(spark, cfg).crawl(
        spark.createDataFrame(seeds, SEEDS_SCHEMA),
        G.pages_df(spark, params, distributed=False))
    assert res.iterations == 1
    (m,) = res.metrics
    assert m["selected"] >= 2 * C.EXTRACT_ROWS_PER_TASK
    want_tasks = min(spark.sparkContext.defaultParallelism,
                     m["selected"] // C.EXTRACT_ROWS_PER_TASK)
    assert m["extract_tasks"] == want_tasks > 1  # one per spread partition
    assert {(r["seed_id"], r["url"]) for r in res.seen.collect()} == sim.seen
    assert _edges_ms(res) == Counter(sim.edges)


def test_metrics_counts_match_independent_counts(spark, tmp_path):
    """Per-wave selected/overflow/children/edges counts equal counts taken
    from the outputs and the committed frontier snapshots."""
    store_dir = str(tmp_path / "store")
    cfg = _cfg(depth=3, parallelism=2, checkpoint_dir=store_dir)
    res = Crawler(spark, cfg).crawl(
        G.seeds_df(spark, P, 2), G.pages_df(spark, P, distributed=False))
    assert res.iterations == len(res.metrics) > 1
    seen = [(r["url"], r["iter"]) for r in res.seen.collect()]
    edges = Counter(r["iter"] for r in res.edges.collect())
    store = SnapshotStore(spark, store_dir)
    saw_overflow = False
    for m in res.metrics:
        it = m["iter"]
        # every selected row is fetched and marked seen; media rows are
        # marked seen without being selected
        assert m["selected"] == sum(
            1 for u, i in seen if i == it and not U.is_media_url(u))
        assert m["edges"] == edges[it]
        nxt = store.read_iteration("frontier", it)
        assert m["children"] == nxt.filter(F.col("disc_iter") == it).count()
        assert m["overflow"] == nxt.filter(F.col("disc_iter") < it).count()
        assert m["extract_tasks"] >= 1
        saw_overflow |= m["overflow"] > 0
    assert saw_overflow  # the budget really deferred rows
    last = res.metrics[-1]
    assert last["children"] + last["overflow"] == 0


def test_loop_ends_on_empty_seeds(spark):
    """Seeds that are empty three ways (a local list, an empty RDD, a
    filter the optimizer folds to an empty relation) run no wave."""
    pages = G.pages_df(spark, P, distributed=False)
    empties = [
        spark.createDataFrame([], SEEDS_SCHEMA),
        spark.createDataFrame(spark.sparkContext.emptyRDD(), SEEDS_SCHEMA),
        G.seeds_df(spark, P, 2).where(F.lit(False)),
    ]
    for seeds in empties:
        res = Crawler(spark, _cfg(depth=2)).crawl(seeds, pages)
        assert res.iterations == 0
        assert res.metrics == []
        assert res.seen.count() == 0
        assert res.edges.count() == 0


def test_loop_ends_when_recrawl_frontier_is_all_seen(spark):
    """A re-crawl whose whole seed frontier is already seen selects
    nothing in its first wave and stops there."""
    seeds = G.seeds_df(spark, P, 2)
    pages = G.pages_df(spark, P, distributed=False)
    first = Crawler(spark, _cfg(depth=2)).crawl(seeds, pages)
    n_seen = first.seen.count()
    again = Crawler(spark, _cfg(depth=2)).crawl(
        seeds, pages, initial_seen=first.seen,
        start_iteration=first.iterations + 1)
    assert again.iterations == 1
    (m,) = again.metrics
    assert m["selected"] == m["children"] == m["overflow"] == 0
    assert again.seen.count() == n_seen
    assert again.edges.count() == 0


def test_no_isempty_job_on_table_fetch_path(spark):
    """No job of a table-fetch crawl is an emptiness probe."""
    with _JobGroup(spark, "test-no-isempty") as group:
        res = Crawler(spark, _cfg(depth=3, bloom_enabled=True)).crawl(
            G.seeds_df(spark, P, 2), G.pages_df(spark, P, distributed=False))
    assert res.iterations > 1
    names = group.stage_names()
    assert len(names) >= 2 * res.iterations  # two checkpoints per wave
    assert [n for n in names if n.startswith("isEmpty")] == []


def test_seen_filter_folds_lazily_and_covers_seen(spark):
    """The tail filter fold runs only when seen_filter is read, once, and
    the filter then covers every seen key."""
    cfg = _cfg(depth=3, bloom_enabled=True, global_dedup=True)
    # 3 waves: the filter folds every 4, so all 3 increments are pending
    res = Crawler(spark, cfg).crawl(
        G.seeds_df(spark, P, 2), G.pages_df(spark, P, distributed=False),
        max_iterations=3)
    assert res.iterations == 3
    with _JobGroup(spark, "test-lazy-fold-1") as first:
        filt = res.seen_filter
    with _JobGroup(spark, "test-lazy-fold-2") as second:
        assert res.seen_filter is filt  # cached: the second read is free
    assert first.jobs() and not second.jobs()
    keys = res.seen.select(F.col("dedup_key").alias("url_hash"))
    probed = bloom_probe_maybe_seen(
        keys, filt, cfg.bloom_partitions, cfg.bloom_bits, cfg.bloom_hashes)
    assert probed.filter("not maybe_seen").count() == 0


def test_resume_returns_metrics_and_seen_filter(spark, tmp_path):
    seeds = G.seeds_df(spark, P, 2)
    pages = G.pages_df(spark, P, distributed=False)
    cfg = _cfg(depth=3, bloom_enabled=True, global_dedup=True,
               checkpoint_dir=str(tmp_path / "ckpt"))
    partial = Crawler(spark, cfg).crawl(seeds, pages, max_iterations=2)
    assert partial.iterations == 2
    resumed = Crawler(spark, cfg).resume(seeds, pages)
    tail = resumed.iterations - 2
    assert tail > 0
    assert [m["iter"] for m in resumed.metrics] == list(range(3, 3 + tail))
    keys = resumed.seen.select(F.col("dedup_key").alias("url_hash"))
    probed = bloom_probe_maybe_seen(
        keys, resumed.seen_filter, cfg.bloom_partitions, cfg.bloom_bits,
        cfg.bloom_hashes)
    assert probed.filter("not maybe_seen").count() == 0
