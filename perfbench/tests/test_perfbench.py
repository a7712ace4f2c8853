"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q      # about 5 minutes on 4 cores

Every workload runner passes its own output check on a small input, the
checks reject wrong outputs, the wave guard stops a slow wave and is
counted as a failed op, and the metric names in BENCHMARK.json are the
ones the command prints.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as R  # noqa: E402
from perfbench.trace import NO_TRACE  # noqa: E402


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    R.prepare(work)
    from xcrawl3r_spark.session import ship_package

    spark = R.start_session(work, 2)
    ship_package(spark)
    yield spark, work
    R.stop_jvm(spark)


@pytest.mark.parametrize(
    "name", ["bfs_exhaust", "wide_wave", "polite_resume", "corpus_dedup"])
def test_workload_runner_passes_its_check(session, name):
    from perfbench.workloads import WORKLOADS

    spark, work = session
    wl = WORKLOADS[name](3, os.path.join(work, name), small=True)
    timings: dict = {}
    wl.make_inputs(spark, timings)
    wl.warm_up(spark)
    rec = wl.op(spark, NO_TRACE)
    assert wl.check(rec) == []
    assert rec["wall_s"] > 0
    if name != "corpus_dedup":
        assert timings["datagen.pages_s"] > 0
        assert len(rec["jobs_per_wave"]) == len(rec["waves"]) > 0
        assert all(j > 0 for j in rec["jobs_per_wave"])
        assert rec["jobs_total"] >= sum(rec["jobs_per_wave"])
        # a wrong output must not pass: drop one edge from the digest
        n, s = rec["digests"]["edges"]
        rec["digests"]["edges"] = (n - 1, s)
        assert wl.check(rec)
    else:
        rows = rec["queries"]["text_winnow_spans"]["rows"]
        rows[-1] = rows[-1][:-1] + (None,)
        assert wl.check(rec) == ["text_winnow_spans: value hash differs"]


def _slow_wave_op(spark):
    """Three 10 ms waves, then a 500 ms one: the guard must stop it."""
    from perfbench.workloads import WaveClock

    class Stub:
        name = "polite_resume"
        last_clock = None

        def op(self, _spark, _tracer):
            clock = self.last_clock = WaveClock(spark, "guard", guard=True)
            clock.start()
            try:
                for it, pause in enumerate([0.01, 0.01, 0.01, 0.5], 1):
                    time.sleep(pause)
                    clock(it, None)
            finally:
                clock.done()

        def check(self, _rec):
            return []

    return Stub()


def test_guard_stops_a_slow_wave(session):
    from perfbench.workloads import GuardStop

    spark, _ = session
    stub = _slow_wave_op(spark)
    with pytest.raises(GuardStop):
        stub.op(spark, None)
    assert len(stub.last_clock.waves) == 4


def test_guard_stop_is_a_failed_op_with_its_waves_kept(session):
    spark, _ = session
    recs, fails = R.measure(_slow_wave_op(spark), spark, 0, NO_TRACE)
    assert recs == [] and len(fails) == 1
    assert fails[0]["error"].startswith("GuardStop")
    assert len(fails[0]["waves"]) == 4
    s = R.summarize("polite_resume", recs, fails, [{"round_s": 1.0}], 0.5, 1.0)
    assert (s["attempted"], s["failed"], s["failed_ops_frac"]) == (1, 1, 1.0)
    assert s["wave_n"] == 4
    assert R.result_line(s, {}, False)["correct"] is False


def test_measure_runs_at_least_min_ops():
    class Stub:
        def op(self, _spark, _tracer):
            return {"wall_s": 0.0}

        def check(self, _rec):
            return []

    recs, fails = R.measure(Stub(), None, 0, NO_TRACE, min_ops=3)
    assert len(recs) == 3 and fails == []


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    from perfbench.layers import PER_LAYER
    from perfbench.workloads import WORKLOADS

    b = _bench_json()
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == R.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        tuple(x) for x in PER_LAYER]
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
def test_command_prints_the_benchmark_names(trace):
    """One real run of the command, from the checkout root."""
    b = _bench_json()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup",
         "--seed", "1", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0
    want = b["per_layer"] if trace else b["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())


def test_command_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bfs_exhaust",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
