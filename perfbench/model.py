"""Seeded inputs, the pandas reference they are checked against, and
the answer checker.

Every row the benchmark publishes is generated here and kept, so each
answer the program gives can be recomputed from the published rows
alone, without Spark. Values are multiples of 0.25 in [-1000, 1000],
so sums are exact in float64 whatever the summation order, and a mean
is one rounding of an exact sum on either side.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

HOUR_NS = 3_600 * 10**9
DAY_NS = 24 * HOUR_NS
#: 2023-12-08 00:00 UTC, a day boundary
T0_NS = 19_699 * DAY_NS

TOPIC = "metrics"
VIEW = "hot"
VIEW_SQL = f"SELECT time, k, g, v FROM {TOPIC} WHERE g < 8"
MV = "by_group"
MV_SQL = (
    "SELECT g, count(*) AS n, sum(v) AS s, min(v) AS lo, max(v) AS hi "
    f"FROM {TOPIC} GROUP BY g"
)
N_GROUPS = 64


class Feed:
    """Generates time-ordered batches and keeps every row published."""

    def __init__(self, seed: int, n_keys: int):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self._parts: list[pd.DataFrame] = []
        self._rows: pd.DataFrame | None = None
        self.t_next = T0_NS  # every later row is at or after this time

    def batch(self, span_ns: int, n: int) -> pd.DataFrame:
        """``n`` rows with distinct, increasing times in the next
        ``span_ns`` of the timeline; recorded as published."""
        lo = self.t_next
        offsets = np.sort(self.rng.integers(0, span_ns - n, n)) + np.arange(n)
        k = self.rng.integers(0, self.n_keys, n)
        df = pd.DataFrame(
            {
                "time": lo + offsets,
                "k": k,
                "g": k % N_GROUPS,
                "v": self.rng.integers(-4000, 4001, n) / 4.0,
            }
        )
        self.t_next = lo + span_ns
        self._parts.append(df)
        self._rows = None
        return df

    @property
    def rows(self) -> pd.DataFrame:
        if self._rows is None:
            self._rows = pd.concat(self._parts, ignore_index=True)
        return self._rows

    @property
    def published(self) -> int:
        return sum(len(p) for p in self._parts)


@dataclass
class Query:
    kind: str
    sql: str
    want: pd.DataFrame


def _window(rows: pd.DataFrame, lo: int, hi: int) -> pd.DataFrame:
    t = rows["time"]
    return rows[(t >= lo) & (t < hi)]


def recent(feed: Feed, hours: int) -> Query:
    """Totals over the most recent ``hours``."""
    hi = feed.t_next
    lo = hi - hours * HOUR_NS
    w = _window(feed.rows, lo, hi)["v"]
    s = w.sum() if len(w) else math.nan  # SQL sum over no rows is NULL
    return Query(
        "recent",
        "SELECT count(*) AS n, sum(v) AS s, min(v) AS lo, max(v) AS hi "
        f"FROM {TOPIC} WHERE time >= {lo} AND time < {hi}",
        pd.DataFrame({"n": [len(w)], "s": [s], "lo": [w.min()], "hi": [w.max()]}),
    )


def downsample(feed: Feed, hours: int, stride_min: int) -> Query:
    """``date_bin`` rollup of the most recent ``hours``."""
    hi = feed.t_next
    lo = hi - hours * HOUR_NS
    stride = stride_min * 60 * 10**9
    w = _window(feed.rows, lo, hi)
    want = (
        w.assign(b=w["time"] - w["time"] % stride)
        .groupby("b", as_index=False)
        .agg(n=("v", "size"), m=("v", "mean"))
    )
    return Query(
        "downsample",
        f"SELECT date_bin({stride}, time, 0) AS b, count(*) AS n, avg(v) AS m "
        f"FROM {TOPIC} WHERE time >= {lo} AND time < {hi} GROUP BY 1",
        want,
    )


def latest(feed: Feed, group: int) -> Query:
    """Latest value of every key in one group."""
    rows = feed.rows
    w = rows[rows["g"] == group]
    last = w.loc[w.groupby("k")["time"].idxmax()]
    return Query(
        "latest",
        f"SELECT k, max_by(v, time) AS v, max(time) AS t FROM {TOPIC} "
        f"WHERE g = {group} GROUP BY k",
        pd.DataFrame({"k": last["k"].to_numpy(), "v": last["v"].to_numpy(), "t": last["time"].to_numpy()}),
    )


def point(feed: Feed, key: int) -> Query:
    """Every row of one key, through the Bloom-backed ``point_lookup``."""
    rows = feed.rows
    return Query(
        "point",
        f"SELECT time, k, g, v FROM point_lookup('{TOPIC}', 'k', {key})",
        rows[rows["k"] == key].reset_index(drop=True),
    )


def view(feed: Feed, hours: int) -> Query:
    """Per-group totals of the stored view over the most recent hours."""
    lo = feed.t_next - hours * HOUR_NS
    rows = feed.rows
    w = rows[(rows["g"] < 8) & (rows["time"] >= lo)]
    want = w.groupby("g", as_index=False).agg(n=("v", "size"), s=("v", "sum"))
    return Query(
        "view",
        f"SELECT g, count(*) AS n, sum(v) AS s FROM {VIEW} WHERE time >= {lo} GROUP BY g",
        want,
    )


def mv_answer(rows: pd.DataFrame) -> pd.DataFrame:
    return rows.groupby("g", as_index=False).agg(
        n=("v", "size"), s=("v", "sum"), lo=("v", "min"), hi=("v", "max")
    )


def mv_read(mv_rows: pd.DataFrame) -> Query:
    """The aggregate MV as of its last refresh."""
    return Query("mv", f"SELECT g, n, s, lo, hi FROM {MV}", mv_answer(mv_rows))


def freshness(batch: pd.DataFrame) -> Query:
    """The probe a writer runs after publishing: is the batch queryable?"""
    lo, hi = int(batch["time"].iloc[0]), int(batch["time"].iloc[-1])
    return Query(
        "freshness",
        f"SELECT count(*) AS n FROM {TOPIC} WHERE time >= {lo} AND time <= {hi}",
        pd.DataFrame({"n": [len(batch)]}),
    )


def total(feed: Feed) -> Query:
    return Query(
        "total", f"SELECT count(*) AS n FROM {TOPIC}", pd.DataFrame({"n": [feed.published]})
    )


KINDS = ("recent", "downsample", "latest", "point", "view", "mv")


def make_query(kind: str, feed: Feed, mv_rows: pd.DataFrame, rng: np.random.Generator) -> Query:
    if kind == "recent":
        return recent(feed, int(rng.choice([1, 6, 24, 72])))
    if kind == "downsample":
        return downsample(feed, 24, int(rng.choice([5, 15, 60])))
    if kind == "latest":
        return latest(feed, int(rng.integers(0, N_GROUPS)))
    if kind == "point":
        return point(feed, int(rng.integers(0, feed.n_keys)))
    if kind == "view":
        return view(feed, int(rng.choice([6, 24, 72])))
    if kind == "mv":
        return mv_read(mv_rows)
    raise ValueError(kind)


# -- the checker -----------------------------------------------------------


def _sig9(a: float, b: float) -> bool:
    """Equal to 9 significant digits (NaN/None equal each other)."""
    a_nan, b_nan = a is None or math.isnan(a), b is None or math.isnan(b)
    if a_nan or b_nan:
        return a_nan and b_nan
    return abs(a - b) <= 5e-9 * max(abs(a), abs(b))


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` as a set of rows: same columns,
    same row count, integers exact and floats to 9 significant digits.
    Otherwise a one-line reason."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} != {cols}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g = got[cols].sort_values(cols, ignore_index=True)
    w = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        float_col = pd.api.types.is_float_dtype(w[c]) or pd.api.types.is_float_dtype(g[c])
        for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if float_col:
                ok = _sig9(None if x is None else float(x), None if y is None else float(y))
            else:
                ok = x == y
            if not ok:
                return f"row {i} column {c}: {x!r} != {y!r}"
    return None
