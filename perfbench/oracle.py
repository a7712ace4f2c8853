"""Expected outputs for every workload, and the digests they are compared by.

Crawl outputs are compared as (row count, sum of a 40-bit md5 row hash):
Spark computes the digest in one aggregation job over the result frames,
Python computes the same digest over the expected rows, so a check never
collects a million edge rows to the driver. Duplicated or missing rows
change the count or the sum; a colliding sum has odds of about 2^-40.

Crawl expectations come from the repo's pure-Python simulator and the
extraction kernel it shares with the engine; corpus expectations come
from the DuckDB ``oracle_sql()`` twin of each query.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.functions import urls as U
from xcrawl3r_spark.functions.extraction import extract_occurrences
from xcrawl3r_spark.simulator import simulate_crawl
from xcrawl3r_spark.sources import datagen as G

SEP = "\x01"


def row_hash(row: tuple) -> int:
    return int(hashlib.md5(SEP.join(row).encode()).hexdigest()[:10], 16)


def digest(rows) -> tuple[int, int]:
    """(count, hash sum) of an iterable of string tuples."""
    n = s = 0
    for r in rows:
        n += 1
        s += row_hash(r)
    return n, s


def spark_digests(outputs: dict[str, tuple[DataFrame, list[str]]]) -> dict:
    """Materialize every output frame in ONE job and return
    {name: (count, hash sum)} — the Spark side of ``digest``."""
    parts = [
        df.select(F.lit(name).alias("t"), F.conv(F.substring(
            F.md5(F.concat_ws(SEP, *cols)), 1, 10), 16, 10)
            .cast("long").alias("h"))
        for name, (df, cols) in outputs.items()
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    got = {r["t"]: (r["n"], r["s"] or 0)
           for r in u.groupBy("t").agg(F.count("*").alias("n"),
                                       F.sum("h").alias("s")).collect()}
    return {name: got.get(name, (0, 0)) for name in outputs}


def page_edges(urls, pages: dict, scope: str) -> list[tuple[str, str, str]]:
    """(src_url, url, kind) for each fetchable page in ``urls``, every
    in-scope kernel occurrence once — what one visit of the page emits."""
    scope_re = re.compile(scope)
    out = []
    for u in urls:
        if U.is_media_url(u):
            continue
        page = pages.get(u)
        if page is None or page[2] != 200:
            continue
        ctype, body, _ = page
        for absu, kind in extract_occurrences(u, ctype, body, U.is_file_url(u)):
            if scope_re.search(absu):
                out.append((u, absu, kind))
    return out


def expected_global_crawl(p: G.GraphParams, n_seeds: int,
                          cfg: CrawlConfig) -> dict:
    """Global-dedup BFS to exhaustion: the seen set is the union of the
    simulator's per-seed seen sets, and every seen page emits its kernel
    occurrences exactly once."""
    pages = G.pages_dict(p)
    seeds = [(r["seed_id"], r["url"]) for r in G.seeds_rows(p, n_seeds)]
    sim = simulate_crawl(seeds, pages, cfg)
    seen = {u for _, u in sim.seen}
    return {
        "seen": digest((u,) for u in seen),
        "edges": digest(page_edges(seen, pages, cfg.scope_pattern())),
        "images": digest((u,) for u in {u for _, u in sim.images}),
        "errors": digest((u,) for u in {u for _, u, _ in sim.errors}),
    }


def expected_wide_wave(p: G.GraphParams, cfg: CrawlConfig) -> dict:
    """One wave over every page URL: each page is seen and visited once."""
    pages = G.pages_dict(p)
    return {
        "seen": digest((u,) for u in pages),
        "edges": digest(page_edges(pages, pages, cfg.scope_pattern())),
        "images": (0, 0),
        "errors": (0, 0),
    }


def expected_per_seed_crawl(p: G.GraphParams, n_seeds: int,
                            cfg: CrawlConfig) -> dict:
    """Per-seed dedup: the simulator's seen set, edge multiset and image
    set, keyed by seed. Every discovered image has a payload, so every
    one must verify."""
    pages = G.pages_dict(p)
    seeds = [(r["seed_id"], r["url"]) for r in G.seeds_rows(p, n_seeds)]
    sim = simulate_crawl(seeds, pages, cfg)
    images = digest(sim.images)
    return {
        "seen": digest(sim.seen),
        "edges": digest((s, src, u, k) for s, src, u, k, _ in sim.edges),
        "images": images,
        "images_ok": images,
    }


def corpus_expected(table: str, names: list[str], cache_dir: str) -> dict:
    """{query: (sorted columns, row count, value hash)} from DuckDB's
    ``oracle_sql()`` over ``table`` (a documents parquet file), fetched
    through pandas like the repo's oracle gate (a HUGEINT sum degrades to
    float64 there). Results do not depend on row order, so the fixed
    table's answer is cached under ``cache_dir``, keyed by the table's
    bytes and the oracle SQL text; computing it takes about 7 s."""
    import duckdb

    import __spark_entry__ as E
    from tools.oracle_check import value_hash

    oracles = E.oracle_sql()
    with open(table, "rb") as f:
        key = hashlib.sha256(f.read())
    for q in names:
        key.update(oracles[q].encode())
    path = os.path.join(cache_dir, f"corpus-oracle-{key.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {q: tuple(v) for q, v in json.load(f).items()}
    con = duckdb.connect()
    try:
        con.execute("create view documents as select * from "
                    f"read_parquet('{table}')")
        out = {}
        for q in names:
            odf = con.execute(oracles[q]).df()
            cols = list(odf.columns)
            rows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
            out[q] = (sorted(cols), len(rows), value_hash(cols, rows))
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def compare_query(cols: list[str], rows: list[tuple], want: tuple) -> str | None:
    """None when a Spark result equals the oracle's (sorted columns, row
    count, value hash) under the oracle gate's comparator, else why not."""
    from tools.oracle_check import value_hash

    want_cols, want_n, want_hash = want
    if sorted(cols) != list(want_cols):
        return f"schema {sorted(cols)} != {list(want_cols)}"
    if len(rows) != want_n:
        return f"rows {len(rows)} != {want_n}"
    if value_hash(cols, rows) != want_hash:
        return "value hash differs"
    return None


def compare_digests(got: dict, want: dict) -> list[str]:
    return [f"{k}: got {got[k]} want {want[k]}"
            for k in want if got.get(k) != want[k]]
