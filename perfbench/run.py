"""Crawl + corpus benchmark for xcrawl3r_spark.

    python3 perfbench/run.py --workload bfs_exhaust --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The workload's inputs are made from
``--seed``. Set-up starts a SparkSession, ships the package and persists
the inputs SETUP_ROUNDS times (each on a fresh session), then warms the
op once; ``setup_s`` is the rounds' median plus the warm-up. Then
operations repeat until ``--seconds`` have passed and at least the
workload's ``min_ops`` have run; ``wall_s`` is their median. A traced
run times one operation, then the layer probes. Every operation's
outputs are checked against an oracle outside its timed section. The
last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"} with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``, spans written under
.perfbench_traces/).
Lines before it are a human-readable report with every metric.
``--workload all`` runs the four workloads one after another in one
process. Everything it writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"
END_TO_END = {"setup_s": "s", "wall_s": "s"}


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def prepare(work: str) -> None:
    """Check the program is there, then point every scratch location
    (Python temp files, the package zip, Spark local dirs, the JVM temp
    dir) into ``work``."""
    if not os.path.isfile(os.path.join(ROOT, "xcrawl3r_spark", "__init__.py")):
        raise SystemExit(f"perfbench: no xcrawl3r_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = os.path.join(work, "tmp")


def start_session(work: str, cores: int):
    from xcrawl3r_spark.session import get_spark

    return get_spark(
        app="perfbench", master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (it exits on EOF of its stdin)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """High-water RSS of this Python driver plus the Spark JVM."""
    from pyspark import SparkContext

    kb = _hwm_kb("self")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


def setup(wl, work: str, cores: int):
    """Set up the workload: SETUP_ROUNDS times a fresh session, the package
    ship and the persisted inputs, then one warm-up of the op. Returns the
    session, the per-round timings and the warm-up time."""
    from xcrawl3r_spark.session import ship_package

    spark, rounds = None, []
    for _ in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        t = {}
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        t["session.start_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        ship_package(spark)
        t["session.ship_s"] = time.perf_counter() - t1
        wl.make_inputs(spark, t)
        t["round_s"] = time.perf_counter() - t0
        rounds.append(t)
    t0 = time.perf_counter()
    wl.warm_up(spark)
    return spark, rounds, time.perf_counter() - t0


def measure(wl, spark, seconds: float, tracer,
            min_ops: int = 1) -> tuple[list[dict], list[dict]]:
    """Repeat the workload's op until ``seconds`` have passed and at least
    ``min_ops`` ops have run; check each op's outputs outside its timed
    section. Returns (records, failures)."""
    recs, fails = [], []
    deadline = time.perf_counter() + seconds
    while len(recs) + len(fails) < min_ops or time.perf_counter() < deadline:
        try:
            rec = wl.op(spark, tracer)
        except Exception as ex:  # a failed op is counted, not fatal
            clock = getattr(wl, "last_clock", None)
            fails.append({"error": f"{type(ex).__name__}: {ex}",
                          "trace": traceback.format_exc(limit=3),
                          "waves": list(clock.waves) if clock else []})
            continue
        problems = wl.check(rec)
        if problems:
            fails.append({"error": "oracle mismatch", "problems": problems})
        recs.append(rec)
    return recs, fails


def summarize(name: str, recs: list[dict], fails: list[dict], rounds,
              warm_s: float, rss: float) -> dict:
    """Every end-to-end metric of the workload, for the report."""
    med = statistics.median
    walls = [r["wall_s"] for r in recs]
    out = {
        "setup_s": med(r["round_s"] for r in rounds) + warm_s,
        "warmup_s": warm_s,
        "wall_s": med(walls) if walls else None,
        "wall_max_s": max(walls) if walls else None, "walls": walls,
        "ops_ok": len(recs), "peak_rss_mb": rss, "setup_rounds": rounds,
    }
    if name == "corpus_dedup":
        # each query of a pass is one op; a pass that raised fails all five
        n_exc = sum(1 for f in fails if "problems" not in f)
        out["attempted"] = 5 * (len(recs) + n_exc)
        out["failed"] = 5 * n_exc + sum(len(f.get("problems", []))
                                        for f in fails)
        out["queries_s"] = [{q: r["s"] for q, r in rec["queries"].items()}
                            for rec in recs]
    else:
        out["attempted"] = len(recs) + sum(1 for f in fails if "problems" not in f)
        out["failed"] = len(fails)
        if walls:
            out["urls_per_s"] = med(r["urls"] / r["wall_s"] for r in recs)
        waves = [w for r in recs for w in r["waves"]] or [
            w for f in fails for w in f.get("waves", [])]
        if name in ("bfs_exhaust", "polite_resume") and waves:
            out["wave_p50_s"] = med(waves)
            out["wave_n"] = len(waves)
            out["wave_max_s"] = max(waves)
        if recs:
            out["jobs_per_wave"] = recs[0]["jobs_per_wave"]
        if name == "polite_resume":
            out["resume_s"] = (med(r["last_call_s"] for r in recs)
                               if recs else None)
            out["images_per_s"] = (
                med(r["digests"]["images_ok"][0] / r["wall_s"] for r in recs)
                if recs else None)
    out["failed_ops_frac"] = out["failed"] / max(out["attempted"], 1)
    return out


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 work: str, cores: int) -> tuple[dict, dict]:
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](seed, work)
    tracer = Tracer(f"{name}-seed{seed}", trace)
    spark = None
    try:
        with tracer.span("setup"):
            spark, rounds, warm_s = setup(wl, work, cores)
        wl.expected()  # the oracle: once per seed, outside every timing
        # a traced run's end-to-end numbers are not used: one op feeds
        # the crawl-loop layer metrics, then the layer probes run
        recs, fails = (measure(wl, spark, 0, tracer) if trace else
                       measure(wl, spark, seconds, tracer, wl.min_ops))
        summary = summarize(name, recs, fails, rounds, warm_s, peak_rss_mb())
        summary["failures"] = fails
        per_layer = {}
        if trace:
            per_layer, notes = layers.measure_layers(
                spark, wl, recs, rounds, tracer, work, cores)
            summary.update(notes)
        return summary, per_layer
    finally:
        if trace:
            tdir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(tdir, exist_ok=True)
            tracer.write(os.path.join(tdir, f"{name}-seed{seed}.jsonl"))
        if spark is not None:
            stop_jvm(spark)


def result_line(summary: dict, per_layer: dict, trace: bool) -> dict:
    from perfbench.layers import PER_LAYER_UNITS

    if trace:
        # the BENCHMARK.json names only: wide_wave's scale.eff_1to4 is in
        # the report lines above, since no other workload measures it
        metrics = {k: {"value": per_layer[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": summary[k], "unit": u}
                   for k, u in END_TO_END.items()}
    return {"correct": summary["failed"] == 0,
            "attempted": summary["attempted"], "failed": summary["failed"],
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bfs_exhaust", "wide_wave", "polite_resume",
                             "corpus_dedup", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale-leg", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    prepare(work)
    cores = ncpu()
    try:
        if args.scale_leg:
            from perfbench.layers import scale_leg

            print(json.dumps(scale_leg(args.seed, work, cores)))
            return 0
        names = (["bfs_exhaust", "wide_wave", "polite_resume", "corpus_dedup"]
                 if args.workload == "all" else [args.workload])
        results = {}
        for name in names:
            summary, per_layer = run_workload(
                name, args.seed, args.seconds, bool(args.trace), work, cores)
            report = {"workload": name, "seed": args.seed, "cores": cores,
                      **{k: v for k, v in summary.items() if k != "failures"}}
            print(json.dumps(report))
            for f in summary["failures"]:
                print(json.dumps({"workload": name, "failure": f}))
            for k, v in per_layer.items():
                print(f"{name} {k} = {v}")
            sys.stdout.flush()
            results[name] = result_line(summary, per_layer, bool(args.trace))
        if args.workload == "all":
            final = {
                "correct": all(r["correct"] for r in results.values()),
                "attempted": sum(r["attempted"] for r in results.values()),
                "failed": sum(r["failed"] for r in results.values()),
                "metrics": {f"{n}.{k}": v for n, r in results.items()
                            for k, v in r["metrics"].items()},
            }
        else:
            final = results[args.workload]
        print(json.dumps(final))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left while other runs use it
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
