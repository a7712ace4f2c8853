"""Per-layer metrics of the traced run.

Each standalone call goes into one layer through its public function, on
inputs made from the run's seed and materialized before the call's span
opens. Layers the workload's own operation already ran (the crawl loop
on the crawl workloads, the five queries on corpus_dedup) are read from
that operation's records; the others are run here as probes, so every
traced run reports every per-layer metric.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from pyspark.sql import functions as F

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.functions import urls as U
from xcrawl3r_spark.functions.extraction import extract_occurrences
from xcrawl3r_spark.functions.imagecodec import decode_image, phash64
from xcrawl3r_spark.operators.dedup import (
    anti_join_seen, bloom_probe_maybe_seen, build_bloom,
)
from xcrawl3r_spark.operators.extract import extract_links
from xcrawl3r_spark.operators.images import decode_and_verify
from xcrawl3r_spark.operators.politeness import (
    parse_robots_rules, politeness_flag, robots_flag,
)
from xcrawl3r_spark.sinks.tables import SnapshotStore
from xcrawl3r_spark.sources import datagen as G

from perfbench.trace import NO_TRACE
from perfbench.workloads import (
    CORPUS_QUERIES, BfsExhaust, CorpusDedup, PoliteResume, WideWave,
    materialize,
)

_CFG = CrawlConfig()
KERNEL_SAMPLE = 2000
IMAGE_SAMPLE = 300
STORE_PROBE_WAVES = 2
#: the 1-core scaling leg takes about a minute; a traced run that has
#: lasted longer than this when it gets there skips it, so that the run
#: ends within the 180 s a run may take
SCALE_LEG_LATEST_S = 100.0

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("crawl.waves", "count", "lower"),
    ("crawl.jobs", "count", "lower"),
    ("crawl.jobs_per_wave_p50", "count", "lower"),
    ("crawl.wave_s_max", "s", "lower"),
    ("crawl.t_new_s", "s", "lower"),
    ("crawl.t_fetch_extract_s", "s", "lower"),
    ("crawl.t_frontier_s", "s", "lower"),
    ("crawl.t_store_s", "s", "lower"),
    ("crawl.result_s", "s", "lower"),
    ("dedup.bloom_build_s", "s", "lower"),
    ("dedup.anti_join_s", "s", "lower"),
    ("dedup.bloom_maybe_frac", "ratio", "lower"),
    ("dedup.new_frac", "ratio", "higher"),
    ("extract.stage_s", "s", "lower"),
    ("extract.rows_in", "count", "higher"),
    ("extract.rows_out", "count", "higher"),
    ("extract.kernel_us_per_row", "us", "lower"),
    ("extract.boundary_us_per_row", "us", "lower"),
    ("politeness.flag_s", "s", "lower"),
    ("politeness.robots_flag_s", "s", "lower"),
    ("politeness.selected_frac", "ratio", "higher"),
    ("images.verify_stage_s", "s", "lower"),
    ("images.kernel_us_per_row", "us", "lower"),
    ("images.boundary_us_per_row", "us", "lower"),
    ("images.ok_frac", "ratio", "higher"),
    ("store.bytes_written", "B", "lower"),
    ("store.read_s", "s", "lower"),
    *[(f"corpus.{q}_{k}", u, b) for q in CORPUS_QUERIES
      for k, u, b in (("s", "s", "lower"), ("exchanges", "count", "lower"),
                      ("rows", "count", "higher"))],
    ("session.start_s", "s", "lower"),
    ("session.ship_s", "s", "lower"),
    ("datagen.pages_s", "s", "lower"),
    ("datagen.images_s", "s", "lower"),
]
PER_LAYER_UNITS = {n: u for n, u, _ in PER_LAYER}
#: measured only in wide_wave's traced run: its 1-core leg starts a second
#: JVM pinned to one core
WIDE_WAVE_LAYER_UNITS = {"scale.eff_1to4": "ratio"}


def _materialize(df):
    df = materialize(df)
    return df, df.count()


def _timed(tracer, name, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out


def probe_params(seed: int) -> G.GraphParams:
    """The wide-wave graph of the layer probes (wide_wave's own size)."""
    return G.GraphParams(hosts=10, pages_per_host=500, fanout=16, seed=seed)


def scale_params(seed: int) -> G.GraphParams:
    """The wide-wave graph of the scaling legs and the tracing-overhead
    waves: smaller than the probes' so the 1-core leg keeps the traced
    run within its time limit."""
    return G.GraphParams(hosts=2, pages_per_host=500, fanout=16, seed=seed)


def scale_waves(spark, seed: int, work: str, tracer=None) -> list[dict]:
    """Wide waves on the scale graph after a warm-up op on the same graph
    (so every leg runs them with the same plans compiled): one untraced
    wave, or with ``tracer`` an untraced, a traced and an untraced one."""
    sw = WideWave(seed, work, params=scale_params(seed))
    sw.make_inputs(spark, {})
    sw.run_op(spark, NO_TRACE, "warm", sw.legs(sw.inputs, None))
    recs = [sw.op(spark, t) for t in
            ((NO_TRACE, tracer, NO_TRACE) if tracer else (NO_TRACE,))]
    for rec in recs:
        rec["problems"] = sw.check(rec)
    return recs


def crawl_metrics(rec: dict) -> dict:
    ms = rec["metrics"]
    return {
        "crawl.waves": len(rec["waves"]),
        "crawl.jobs": rec["jobs_total"],
        "crawl.jobs_per_wave_p50": statistics.median(rec["jobs_per_wave"]),
        "crawl.wave_s_max": max(rec["waves"]),
        "crawl.t_new_s": sum(m.get("t_new", 0) for m in ms),
        "crawl.t_fetch_extract_s": sum(m.get("t_fetch_extract", 0) for m in ms),
        "crawl.t_frontier_s": sum(m.get("t_frontier", 0) for m in ms),
        "crawl.result_s": rec["result_s"],
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def store_probe(spark, seed: int, work: str, tracer) -> tuple[dict, str]:
    """The first STORE_PROBE_WAVES waves of bfs_exhaust, committing every
    wave to a snapshot store. Returns the op record and the store dir."""
    wl = BfsExhaust(seed, work)
    sdir = os.path.join(work, "store-probe")
    wl.cfg = dataclasses.replace(wl.cfg, checkpoint_dir=sdir)
    wl.make_inputs(spark, {})
    rec = wl.run_op(spark, tracer, "store", wl.legs(wl.inputs, STORE_PROBE_WAVES))
    return rec, sdir


def measure_layers(spark, wl, recs: list[dict], rounds: list[dict], tracer,
                   work: str, cores: int) -> tuple[dict, dict]:
    """All per-layer metrics, plus report notes (tracing overhead)."""
    med = statistics.median
    seed = wl.seed
    m: dict = {}
    notes: dict = {}
    for k in ("session.start_s", "session.ship_s", "datagen.pages_s",
              "datagen.images_s"):
        vals = [r[k] for r in rounds if k in r]
        if vals:
            m[k] = med(vals)

    # -- crawl loop + snapshot store ------------------------------------
    if isinstance(wl, PoliteResume) and recs:
        srec, sdir = recs[-1], wl.store_dir
    else:
        srec, sdir = store_probe(spark, seed, work, tracer)
    m.update(crawl_metrics(recs[0] if recs and "waves" in recs[0] else srec))
    m["crawl.t_store_s"] = sum(x.get("t_store", 0) for x in srec["metrics"])
    m["store.bytes_written"] = _dir_bytes(sdir)

    def read_store():
        store = SnapshotStore(spark, sdir)
        n = store.read("seen").count() + store.read("edges").count()
        return n + store.read_iteration(
            "frontier", store.last_iteration("frontier")).count()

    m["store.read_s"], _ = _timed(tracer, "store.read", read_store)

    # -- wide-wave candidates: dedup, extraction, politeness ------------
    if isinstance(wl, WideWave):
        ww = wl
    else:
        ww = WideWave(seed, work, params=probe_params(seed))
        t: dict = {}
        ww.make_inputs(spark, t)
        m.setdefault("datagen.pages_s", t["datagen.pages_s"])
    inp = ww.inputs
    pages = inp["pages"]
    cand, n_cand = _materialize(inp["frontier"].dropDuplicates(["dedup_key"]))
    seen, _ = _materialize(cand.filter(F.pmod("url_hash", F.lit(2)) == 0))
    m["dedup.bloom_build_s"], bloom = _timed(
        tracer, "dedup.build_bloom", lambda: build_bloom(
            seen, _CFG.bloom_partitions, _CFG.bloom_bits, _CFG.bloom_hashes))
    maybe = bloom_probe_maybe_seen(
        cand, bloom, _CFG.bloom_partitions, _CFG.bloom_bits,
        _CFG.bloom_hashes, key="dedup_key").filter("maybe_seen").count()
    m["dedup.bloom_maybe_frac"] = maybe / n_cand
    m["dedup.anti_join_s"], n_new = _timed(
        tracer, "dedup.anti_join_seen", lambda: anti_join_seen(
            cand, seen, key="dedup_key", bloom=bloom,
            bloom_partitions=_CFG.bloom_partitions,
            bloom_bits=_CFG.bloom_bits, bloom_hashes=_CFG.bloom_hashes,
            keys_unique=True).count())
    m["dedup.new_frac"] = n_new / n_cand

    pk = pages.withColumnRenamed("url", "page_url")
    fetched, n_in = _materialize(
        cand.join(pk, cand.url == pk.page_url).drop("page_url")
        .filter(F.col("status") == 200)
        .withColumn("is_file", U.is_file_col(F.col("url"))))
    m["extract.stage_s"], n_out = _timed(
        tracer, "extract.extract_links", lambda: extract_links(fetched).count())
    m["extract.rows_in"], m["extract.rows_out"] = n_in, n_out
    sample = fetched.select("url", "content_type", "body").limit(
        KERNEL_SAMPLE).collect()
    with tracer.span("extract.kernel"):
        t0 = time.perf_counter()
        for r in sample:
            for _ in extract_occurrences(r["url"], r["content_type"], r["body"],
                                         U.is_file_url(r["url"])):
                pass
        kernel = (time.perf_counter() - t0) / len(sample) * 1e6
    m["extract.kernel_us_per_row"] = kernel
    m["extract.boundary_us_per_row"] = (
        m["extract.stage_s"] * cores * 1e6 / n_in - kernel)

    def flag_counts(df, col):
        r = df.agg(F.sum(F.col(col).cast("int")).alias("k"),
                   F.count("*").alias("n")).collect()[0]
        return r["k"], r["n"]

    m["politeness.flag_s"], (k_sel, n_pol) = _timed(
        tracer, "politeness.politeness_flag",
        lambda: flag_counts(politeness_flag(cand, 5, 8), "_sel"))
    m["politeness.selected_frac"] = k_sel / n_pol
    rules, _ = _materialize(parse_robots_rules(
        pages.filter(F.col("url").endswith("/robots.txt")).select(
            F.lower(F.try_parse_url("url", F.lit("HOST"))).alias("host"),
            "body")))
    m["politeness.robots_flag_s"], _ = _timed(
        tracer, "politeness.robots_flag",
        lambda: flag_counts(robots_flag(cand, rules), "_robots_ok"))

    # -- image payload branch (the polite_resume graph's payloads) -------
    if isinstance(wl, PoliteResume):
        imgs = wl.inputs["images"]
    else:
        t0 = time.perf_counter()
        imgs = G.images_df(spark, PoliteResume(seed, work).params).persist()
        imgs.count()
        m["datagen.images_s"] = time.perf_counter() - t0
    n_img = imgs.count()
    m["images.verify_stage_s"], (k_ok, _) = _timed(
        tracer, "images.decode_and_verify", lambda: flag_counts(
            decode_and_verify(imgs).withColumn(
                "ok", F.col("pixel_ok") & F.col("caption_ok")), "ok"))
    m["images.ok_frac"] = k_ok / n_img
    rows = imgs.select("bytes", "fmt").limit(IMAGE_SAMPLE).collect()
    with tracer.span("images.kernel"):
        t0 = time.perf_counter()
        for r in rows:
            phash64(decode_image(bytes(r["bytes"]), r["fmt"]))
        ikernel = (time.perf_counter() - t0) / len(rows) * 1e6
    m["images.kernel_us_per_row"] = ikernel
    m["images.boundary_us_per_row"] = (
        m["images.verify_stage_s"] * cores * 1e6 / n_img - ikernel)

    # -- corpus pair engines (a 40-document probe off corpus_dedup) -------
    if isinstance(wl, CorpusDedup) and recs:
        crec = recs[0]
    else:
        import __spark_entry__ as E

        cw = CorpusDedup(seed, work)
        cw.write_tables()
        cw.queries = E.queries()
        crec = cw.op(spark, tracer, sf_dir=cw.probe_dir)
    for q, r in crec["queries"].items():
        m[f"corpus.{q}_s"] = r["s"]
        m[f"corpus.{q}_exchanges"] = r["exchanges"]
        m[f"corpus.{q}_rows"] = len(r["rows"])

    # -- tracing overhead: a wide wave untraced, traced, untraced -------
    # (later runs of a plan are faster, so the traced one sits in between)
    before, traced, after = scale_waves(spark, seed, work, tracer)
    notes["trace_overhead_crawl_s"] = traced["crawl_s"] - (
        before["crawl_s"] + after["crawl_s"]) / 2
    notes["jobs_per_wave_untraced_traced"] = [before["jobs_per_wave"],
                                              traced["jobs_per_wave"]]
    notes["scale_wave_problems"] = [p for r in (before, traced, after)
                                    for p in r["problems"]]

    # -- 1 -> 4 core scaling of a wide wave (wide_wave only) ---------------
    elapsed = time.perf_counter() - tracer.spans[0]["start"]
    if isinstance(wl, WideWave) and elapsed > SCALE_LEG_LATEST_S:
        notes["scale_leg_skipped_at_s"] = elapsed
    elif isinstance(wl, WideWave):
        t4 = before["wall_s"]  # the 1-core leg times its first wave too
        with tracer.span("scale.local1"):
            leg1 = _scale_subprocess(seed)
        t1 = leg1["wall_s"]
        notes["scale_local1_problems"] = leg1["problems"]
        m["scale.eff_1to4"] = t1 / t4 / cores
        notes["scale_local1_s"], notes["scale_local4_s"] = t1, t4

    names = list(PER_LAYER_UNITS) + [n for n in WIDE_WAVE_LAYER_UNITS if n in m]
    missing = [n for n in names if n not in m]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {n: m[n] for n in names}, notes


def _scale_subprocess(seed: int) -> dict:
    """The 1-core leg, pinned to core 0 in its own process and JVM."""
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", "wide_wave", "--seed", str(seed), "--seconds", "0",
           "--scale-leg"]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", "0", *cmd]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170,
                         check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def scale_leg(seed: int, work: str, cores: int) -> dict:
    """Subprocess entry: one warmed wide wave on the scale graph."""
    from perfbench.run import start_session, stop_jvm

    from xcrawl3r_spark.session import ship_package

    spark = start_session(work, cores)
    try:
        ship_package(spark)
        rec = scale_waves(spark, seed, work)[0]
        return {"wall_s": rec["wall_s"], "cores": cores,
                "problems": rec["problems"]}
    finally:
        stop_jvm(spark)
