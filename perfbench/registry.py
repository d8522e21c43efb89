"""The query registry (``ella_spark.queries`` over ``operators`` and
``sources``) on a seeded star schema.

``write_tables`` generates small TPC-H-shaped tables, with the schemas
of the repository's test data, into a directory of
the run. ``Registry`` runs a few headline queries through
``queries.all_queries()`` and checks each answer against the query's
own oracle SQL (``queries.all_oracles()``) run in DuckDB over the same
files; no reference answer comes from Spark.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

#: cheap headline queries (``bench.HEADLINE``), one per operator family:
#: filtered hash aggregate, 3-way join + top-k, window top-n
NAMES = ("q1_pricing_summary", "q3_shipping_priority", "q_rank_per_group")

#: rows per table, as in the 0.001 scale factor of the test data
SIZES = {"customer": 150, "orders": 1_500, "lineitem": 6_000}

DAY_US = 86_400 * 10**6
#: 1995-01-01 and 2002-01-01 UTC: the order/ship date range the
#: queries' date filters cut into
DATE_LO_US, DATE_HI_US = 9_131 * DAY_US, 11_688 * DAY_US

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _days_us(rng: np.random.Generator, n: int) -> pd.Series:
    days = rng.integers(DATE_LO_US // DAY_US, DATE_HI_US // DAY_US, n)
    return pd.Series(days * DAY_US).astype("datetime64[us]")


def tables(seed: int) -> dict[str, pd.DataFrame]:
    """The seeded tables, keyed by name."""
    rng = np.random.default_rng([seed, 2])
    nc, no, nl = (SIZES[t] for t in ("customer", "orders", "lineitem"))
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": _cents(rng, -1_000, 10_000, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _cents(rng, 1_000, 400_000, no),
            "o_orderdate": _days_us(rng, no),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, 200, nl),
            "l_suppkey": rng.integers(0, 10, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _cents(rng, 900, 100_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days_us(rng, nl),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def write_tables(sf_dir: Path, seed: int) -> None:
    """One ``<name>.parquet`` per table, as the test data lays them out."""
    sf_dir.mkdir(parents=True, exist_ok=True)
    for name, df in tables(seed).items():
        df.to_parquet(sf_dir / f"{name}.parquet", index=False)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Engine-neutral column types: timestamps as epoch microseconds,
    every integer as int64, every float as float64."""
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        out[c] = s
    return pd.DataFrame(out)


class Registry:
    """The headline queries of ``NAMES`` over one generated directory,
    with their DuckDB reference answers."""

    def __init__(self, sf_dir: Path):
        import duckdb

        from ella_spark import queries

        self.sf_dir = str(sf_dir)
        self.fns = {n: queries.all_queries()[n] for n in NAMES}
        oracles = queries.all_oracles()
        con = duckdb.connect()
        try:
            for t in SIZES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')"
                )
            self.want = {n: normalize(con.execute(oracles[n]).fetch_df()) for n in NAMES}
        finally:
            con.close()
        empty = [n for n, w in self.want.items() if len(w) == 0]
        if empty:  # a query the data does not reach measures nothing
            raise RuntimeError(f"generated tables give empty answers for {empty}")

    def run(self, spark, name: str) -> pd.DataFrame:
        return normalize(self.fns[name](spark, self.sf_dir).toPandas())
