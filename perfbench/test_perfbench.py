"""The benchmark's own tests: the checker catches wrong answers, the
reference is reproducible, and each workload runs end to end at a tiny
size with the metric names ``BENCHMARK.json`` declares.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from perfbench import model, registry, workloads

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _answer() -> pd.DataFrame:
    return pd.DataFrame(
        {"g": [0, 1, 2], "n": [10, 20, 30], "s": [1.25, -2.5, 123456.75]}
    )


def test_checker_accepts_same_rows_in_any_order():
    want = _answer()
    got = want.iloc[::-1].reset_index(drop=True)[["s", "g", "n"]]
    assert model.mismatch(got, want) is None
    # floats agree to 9 significant digits: last-digit noise passes
    got.loc[0, "s"] *= 1 + 1e-12
    assert model.mismatch(got, want) is None


@pytest.mark.parametrize(
    "perturb",
    [
        lambda d: d.assign(n=d["n"] + [0, 1, 0]),  # one count off by one
        lambda d: d.assign(s=d["s"] * [1, 1, 1 + 1e-7]),  # 8th digit of a float
        lambda d: d.iloc[:2],  # a lost row
        lambda d: pd.concat([d, d.iloc[:1]], ignore_index=True),  # a double count
        lambda d: d.assign(s=d["s"].iloc[::-1].to_numpy()),  # values on wrong keys
        lambda d: d.rename(columns={"s": "sum"}),  # wrong column
        lambda d: d.assign(s=[1.25, None, 123456.75]),  # NULL for a value
    ],
)
def test_checker_rejects_perturbed_answer(perturb):
    assert model.mismatch(perturb(_answer()), _answer()) is not None


class _FakeLazy:
    def __init__(self, pdf):
        self.df, self._pdf = None, pdf

    def execute(self):
        return self._pdf


class _FakeDb:
    def __init__(self, pdf):
        self._pdf = pdf

    def query(self, sql):
        return _FakeLazy(self._pdf)


class _FakeRegistry:
    def __init__(self, pdf):
        self.want, self._pdf = {"q": _answer()}, pdf

    def run(self, spark, name):
        return self._pdf


class _FakeStore:
    def __init__(self, pdf):
        self.db = _FakeDb(pdf)
        self.registry = _FakeRegistry(pdf)


def test_bench_counts_perturbed_answer_as_failed():
    """A wrong answer from the program is a failed operation."""
    bench = workloads.Bench(None, workloads.MIXES["dashboard"], seed=0)
    q = model.Query("recent", "SELECT 1", _answer())
    stats: list[float] = []
    assert bench.query(_FakeStore(_answer()), q, stats)
    wrong = _answer().assign(n=[10, 20, 31])
    assert not bench.query(_FakeStore(wrong), q, stats)
    assert (bench.attempted, bench.failed, len(stats)) == (2, 1, 1)
    # the same through the registry path, checked against its oracle answer
    bench._registry_query(_FakeStore(_answer()), "q", timed=True)
    bench._registry_query(_FakeStore(wrong), "q", timed=True)
    assert (bench.attempted, bench.failed, len(bench.samples.registry_s)) == (4, 2, 1)


def test_feed_is_seeded_and_time_ordered():
    a, b = model.Feed(7, 100), model.Feed(7, 100)
    for feed in (a, b):
        feed.batch(model.HOUR_NS, 500)
        feed.batch(model.HOUR_NS, 500)
    pd.testing.assert_frame_equal(a.rows, b.rows)
    t = a.rows["time"].to_numpy()
    assert (np.diff(t) > 0).all() and t[-1] < a.t_next
    assert not model.Feed(8, 100).batch(model.HOUR_NS, 500).equals(a.rows.iloc[:500])


def test_reference_answers_on_a_small_feed():
    feed = model.Feed(3, 10)
    rows = feed.batch(model.DAY_NS, 1000)
    q = model.recent(feed, 24)
    assert q.want["n"][0] == 1000 and q.want["s"][0] == rows["v"].sum()
    down = model.downsample(feed, 24, 60)
    assert down.want["n"].sum() == 1000 and len(down.want) <= 24
    assert model.mv_read(rows).want["n"].sum() == 1000
    point = model.point(feed, 4)
    assert (point.want["k"] == 4).all() and len(point.want) == (rows["k"] == 4).sum()


def test_registry_tables_are_seeded_and_reach_q3_filter():
    a, b = registry.tables(4), registry.tables(4)
    for name in registry.SIZES:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not registry.tables(5)["lineitem"].equals(a["lineitem"])
    # q3's filters: BUILDING customers' orders before 1999-03-15 with
    # lines shipped after 1998-03-15
    c, o, li = a["customer"], a["orders"], a["lineitem"]
    building = c[c["c_mktsegment"] == "BUILDING"]["c_custkey"]
    o = o[(o["o_orderdate"] < pd.Timestamp("1999-03-15")) & o["o_custkey"].isin(building)]
    li = li[(li["l_shipdate"] > pd.Timestamp("1998-03-15")) & li["l_orderkey"].isin(o["o_orderkey"])]
    assert len(li) > 0


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


#: per-layer metrics each workload must load: a traced run that reads
#: 0 for one of them has lost the layer or the way it is measured
LOADED = {
    "dashboard": [
        "engine.query_ms", "spark.jobs", "scan.files_read", "topic.shards",
        "registry.query_ms", "registry.tasks",
    ],
    "ingest_live": ["maintenance.pass_ms", "stream.add_batch_ms", "incremental.refresh_ms"],
}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    """Tiny end-to-end run: correct, every declared metric printed, and
    every end-to-end metric and every layer the workload loads above 0."""
    p = _run("--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace, "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    declared = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    values = {k: v["value"] for k, v in out["metrics"].items()}
    loaded = LOADED[workload] if trace == "1" else list(values)
    assert all(values[k] > 0 for k in loaded), {k: values[k] for k in loaded}


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "dashboard", "--seed", "1", "--seconds", "1",
             cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
