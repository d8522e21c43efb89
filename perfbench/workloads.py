"""The two workloads: one closed-loop client against one ella store.

Both run the same round, with different traffic mixes (``MIXES``):

1. ``PUBLISHES`` times: publish one seeded batch of ``DEFAULT_CAPACITY``
   rows through a default ``Topic.publish()`` Publisher, which writes
   it as one shard; run the freshness probe, a SQL count over the
   batch's time range, which must equal the batch size; and wait for
   the ``read_stream_exact`` subscriber (foreachBatch sink) to deliver
   exactly the batch;
2. ``reads`` queries drawn from the mix through ``Ella.query(...).execute()``,
   then ``registry`` headline queries through ``queries.all_queries()``
   (``perfbench/registry.py``), checked against their DuckDB oracles;
3. ``refresh_materialized`` of the aggregate MV; every ``maintain_every``
   rounds ``Maintainer.run_once``, after which the topic total must
   equal the rows published.

Every topic answer is compared with the pandas reference of the
published rows (``model``); a wrong answer or an exception is a failed
operation.

Where the traffic figures come from: the history of ``dashboard`` (30
day buckets, 210 small shards) is the uncompacted topic of the sizing
probe its spec cites; a live batch is one shard of a default client.
A batch of several shards would reach the subscriber in one micro-batch
or in two, as its writes happen to fall between the subscriber's polls,
which splits delivery times into two clusters and the publish times
with them. Batch time spans, reads per round and the maintenance
cadence have no measured client to follow; they are set so that one
run of a few seconds holds several of every operation (the reference's
30 s Maintainer interval would give less than one pass a run).

The JVM is still compiling hot code well into the timed section, so
latencies fall through a run; the warm-up rounds take the steepest part
of that fall out of it.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from ella_spark.topic import DEFAULT_CAPACITY as CAPACITY

from perfbench import model, registry
from perfbench.model import HOUR_NS, MV, MV_SQL, TOPIC, VIEW, VIEW_SQL


@dataclass(frozen=True)
class Mix:
    days: int  # history: day buckets ...
    shards_per_day: int  # ... of this many Publisher shards ...
    shard_rows: int  # ... of this many rows
    n_keys: int
    batch_span_ns: int  # timeline covered by one batch
    reads: int  # mix queries per round
    kinds: tuple[str, ...]
    maintain_every: int  # 0: never
    warm_rounds: int  # untimed rounds before the timed section
    registry: int = 0  # registry queries per round


MIXES = {
    # read-heavy TSDB: 210 small shards over 30 day buckets, Bloom
    # manifest on k; a live feed, no maintenance; one registry query
    # (the dashboard's analytics panel) per round
    "dashboard": Mix(
        days=30, shards_per_day=7, shard_rows=250, n_keys=20_000,
        batch_span_ns=5 * 60 * 10**9,
        reads=3, kinds=model.KINDS, maintain_every=0, registry=1, warm_rounds=3,
    ),
    # writes beside reads: hourly batches into a short history,
    # compaction every third round
    "ingest_live": Mix(
        days=2, shards_per_day=4, shard_rows=500, n_keys=20_000,
        batch_span_ns=HOUR_NS,
        reads=1, kinds=("recent",), maintain_every=3, warm_rounds=4,
    ),
}

#: batches published a round: two give the few-millisecond publish
#: enough samples for a steady median
PUBLISHES = 2

#: history size for the smoke test: same shape, a few rows
TINY = dict(days=2, shards_per_day=2, shard_rows=50, n_keys=200, warm_rounds=1)


class Sink:
    """foreachBatch target: keeps each micro-batch with its arrival time."""

    def __init__(self):
        self._lock = threading.Lock()
        self._got: list[tuple[float, object]] = []

    def __call__(self, df, epoch_id) -> None:
        pdf = df.toPandas()
        with self._lock:
            self._got.append((time.perf_counter(), pdf))

    def drain(self) -> list[tuple[float, object]]:
        with self._lock:
            got, self._got = self._got, []
        return got


@dataclass
class Samples:
    query_s: list[float] = field(default_factory=list)
    ingest_rows_per_s: list[float] = field(default_factory=list)
    freshness_s: list[float] = field(default_factory=list)
    delivery_s: list[float] = field(default_factory=list)
    registry_s: list[float] = field(default_factory=list)  # also in query_s
    refresh_s: list[float] = field(default_factory=list)
    bytes_per_row: list[float] = field(default_factory=list)


class Store:
    """One ella store under test, its feed and its subscriber."""

    def __init__(self, spark, root: Path, mix: Mix, seed: int):
        from ella_spark import Column, Ella

        self.spark, self.root, self.mix, self.seed = spark, root, mix, seed
        self.feed = model.Feed(seed, mix.n_keys)
        self.db = Ella.create(str(root / "db"), spark)
        self.topic = self.db.create_topic(
            TOPIC, [Column("k", "int64"), Column("g", "int64"), Column("v", "float64")]
        )
        self.pub = self.topic.publish()
        self.mv_rows = 0  # rows the MV has folded in
        self.sink = Sink()
        self.stream = None
        self.registry = None

    def build(self) -> dict[str, float]:
        """Publish the history, then manifest, view, MV and subscriber.
        Returns seconds per phase."""
        from ella_spark import maintenance

        m, phases = self.mix, {}
        t = time.perf_counter()

        def lap(name: str) -> None:
            nonlocal t
            now = time.perf_counter()
            phases[name] = now - t
            t = now

        for _day in range(m.days):
            for _ in range(m.shards_per_day):
                self.pub.write_batch(self.feed.batch(model.DAY_NS // m.shards_per_day, m.shard_rows))
                self.pub.flush()
        lap("publish")
        # the subscriber starts on its own thread while the manifest,
        # view and MV are built; it delivers only batches published later
        self.stream = (
            self.topic.read_stream_exact(self.spark, starting="latest")
            .writeStream.foreachBatch(self.sink)
            .option("checkpointLocation", str(self.root / "checkpoint"))
            .start()
        )
        maintenance.build_manifest(self.topic, bloom_cols=["k"])
        lap("manifest")
        self.db.create_view(VIEW, VIEW_SQL)
        self.db.create_materialized_view(MV, MV_SQL)
        self.mv_rows = self.feed.published
        lap("view_mv")
        self.stream.processAllAvailable()
        lap("subscriber")
        if m.registry:
            sf_dir = Path(os.environ["SPARK_GRAFT_ORACLE_SF"])  # see host.pin_environment
            registry.write_tables(sf_dir, self.seed)
            self.registry = registry.Registry(sf_dir)
            lap("registry")
        return phases

    def close(self) -> None:
        if self.stream is not None:
            self.stream.stop()
        shutil.rmtree(self.root, ignore_errors=True)

    def shard_sizes(self) -> dict[Path, int]:
        """Shard file -> bytes, listed here rather than through
        ``Topic.shards`` so the benchmark's own listing adds no span."""
        return {p: p.stat().st_size for p in self.topic.path.glob("__bucket=*/part-*.parquet")}

    def bytes_per_row(self) -> float:
        size = sum(p.stat().st_size for p in self.topic.path.rglob("*") if p.is_file())
        return size / self.feed.published


class Bench:
    """Runs rounds against a Store and keeps samples and failures."""

    def __init__(self, spark, mix: Mix, seed: int, tracer=None):
        self.spark, self.mix, self.tracer = spark, mix, tracer
        self.rng = np.random.default_rng([seed, 1])
        self.attempted = 0
        self.failed = 0
        self.samples = Samples()
        self.query_layers: list[dict] = []  # traced: per mix query
        self.maintenance: list[dict] = []  # traced: per pass
        self.refresh_kinds: list[str] = []
        self.shard_counts: list[int] = []  # traced: per round
        self.ingest_bytes = 0  # traced: bytes of shards published
        self.point_lookups = 0
        self.first_timed_op = 1
        self._known: set = set()  # traced: shard paths seen
        self._deck: list[str] = []
        self._registry_deck: list[str] = []
        self._ops = 0

    def start_timed(self, store: Store) -> None:
        """Forget what set-up recorded; the timed section starts."""
        self.samples = Samples()
        self._deck, self._registry_deck = [], []
        self.first_timed_op = self._ops + 1
        self._known = set(store.shard_sizes())
        self.refresh_kinds.clear()
        self.query_layers.clear()
        self.maintenance.clear()
        self.shard_counts.clear()
        self.ingest_bytes = 0
        self.point_lookups = 0
        if self.tracer is not None:
            self.tracer.counts.clear()

    # -- operation bookkeeping ---------------------------------------------

    def _begin(self, kind: str) -> None:
        """Count one operation; when tracing, tag its spans and jobs."""
        self._ops += 1
        self.attempted += 1
        if self.tracer is not None:
            group = self.tracer.begin_op(self._ops, kind)
            self.spark.sparkContext.setJobGroup(group, kind)

    def fail(self, kind: str, reason: str) -> None:
        self.failed += 1
        print(f"FAILED {kind}: {reason}", file=sys.stderr)

    def query(self, store: Store, q: model.Query, stats: list | None) -> bool:
        """Run one checked query; its latency goes to ``stats``."""
        self._begin(q.kind)
        try:
            t0 = time.perf_counter()
            lazy = store.db.query(q.sql)
            got = lazy.execute()
            dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — the program failed the op
            self.fail(q.kind, f"{type(e).__name__}: {e}")
            return False
        bad = model.mismatch(got, q.want)
        if bad is not None:
            self.fail(q.kind, f"{bad} | {q.sql}")
            return False
        if stats is not None:
            stats.append(dt)
            if self.tracer is not None:
                self._query_layers(lazy.df)
        return True

    def _query_layers(self, df) -> None:
        from perfbench import trace

        layers = trace.query_phases_ms(df)
        layers["files"], layers["bytes"] = trace.scan_metrics(df)
        self.query_layers.append(layers)

    # -- one round -----------------------------------------------------------

    def round(self, store: Store, n: int, timed: bool) -> None:
        s, m = self.samples, self.mix
        for _ in range(PUBLISHES):
            self._publish(store, timed)
        kinds = m.kinds if not timed else [self._draw() for _ in range(m.reads)]
        for kind in kinds:
            self.point_lookups += kind == "point"
            q = model.make_query(kind, store.feed, store.feed.rows.iloc[: store.mv_rows], self.rng)
            self.query(store, q, s.query_s if timed else None)
        if store.registry is not None:
            names = [self._draw_registry() for _ in range(m.registry)] if timed else registry.NAMES
            for name in names:
                self._registry_query(store, name, timed)
        self._refresh(store, timed)
        if m.maintain_every and n % m.maintain_every == 0:
            self._maintain(store)
        if timed:
            s.bytes_per_row.append(store.bytes_per_row())

    def _publish(self, store: Store, timed: bool) -> None:
        """Publish one batch, probe that it is queryable and wait for
        the subscriber to deliver it."""
        s, m = self.samples, self.mix
        batch = store.feed.batch(m.batch_span_ns, CAPACITY)
        self._begin("publish")
        t0 = time.perf_counter()
        try:
            store.pub.write_batch(batch)
            store.pub.flush()
        except Exception as e:  # noqa: BLE001
            self.fail("publish", f"{type(e).__name__}: {e}")
            return
        t_pub = time.perf_counter() - t0
        if self.tracer is not None and timed:
            self._count_shards(store)
        fresh = self.query(store, model.freshness(batch), None)
        t_fresh = time.perf_counter() - t0
        t_deliver = self._deliver(store, batch, t0)
        if timed:
            s.ingest_rows_per_s.append(len(batch) / t_pub)
            if fresh:
                s.freshness_s.append(t_fresh)
            if t_deliver is not None:
                s.delivery_s.append(t_deliver)

    def _draw(self) -> str:
        """Next query kind: the mix is dealt as seeded shuffles of all
        kinds, so every run holds each kind in the same share."""
        if not self._deck:
            self._deck = [str(k) for k in self.rng.permutation(self.mix.kinds)]
        return self._deck.pop()

    def _draw_registry(self) -> str:
        if not self._registry_deck:
            self._registry_deck = [str(n) for n in self.rng.permutation(registry.NAMES)]
        return self._registry_deck.pop()

    def _registry_query(self, store: Store, name: str, timed: bool) -> None:
        self._begin("registry")
        try:
            t0 = time.perf_counter()
            got = store.registry.run(self.spark, name)
            dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            self.fail(name, f"{type(e).__name__}: {e}")
            return
        bad = model.mismatch(got, store.registry.want[name])
        if bad is not None:
            self.fail(name, bad)
            return
        if timed:
            self.samples.query_s.append(dt)
            self.samples.registry_s.append(dt)

    def _count_shards(self, store: Store) -> None:
        sizes = store.shard_sizes()
        self.ingest_bytes += sum(sizes[p] for p in sizes.keys() - self._known)
        self._known = set(sizes)
        self.shard_counts.append(len(sizes))

    def _deliver(self, store: Store, batch, t0: float) -> float | None:
        self._begin("deliver")
        try:
            store.stream.processAllAvailable()
        except Exception as e:  # noqa: BLE001
            self.fail("deliver", f"{type(e).__name__}: {e}")
            return None
        got = store.sink.drain()
        if not got:
            self.fail("deliver", "no micro-batch delivered")
            return None
        rows = pd.concat([pdf for _, pdf in got], ignore_index=True)
        bad = model.mismatch(rows, batch)
        if bad is not None:
            self.fail("deliver", bad)
            return None
        return max(t for t, _ in got) - t0

    def _refresh(self, store: Store, timed: bool) -> None:
        self._begin("refresh")
        before = store.db.store.resolve(MV).refresh_state or {}
        t0 = time.perf_counter()
        try:
            n = store.db.refresh_materialized(MV)
        except Exception as e:  # noqa: BLE001
            self.fail("refresh", f"{type(e).__name__}: {e}")
            return
        dt = time.perf_counter() - t0
        store.mv_rows = store.feed.published
        groups = store.feed.rows["g"].nunique()
        if n != groups:
            self.fail("refresh", f"{n} MV rows != {groups} groups")
            return
        after = store.db.store.resolve(MV).refresh_state or {}
        delta = set(before.get("shards", ())) <= set(after.get("shards", ()))
        if timed:
            self.samples.refresh_s.append(dt)
            self.refresh_kinds.append("delta" if delta else "full")

    def _maintain(self, store: Store) -> None:
        from ella_spark.maintenance import Maintainer

        self._begin("maintain")
        before = store.shard_sizes()
        try:
            report = Maintainer(store.db, bloom_cols={TOPIC: ["k"]}).run_once(refresh_views=False)
        except Exception as e:  # noqa: BLE001
            self.fail("maintain", f"{type(e).__name__}: {e}")
            return
        if report["errors"]:
            self.fail("maintain", "; ".join(report["errors"]))
        after = store.shard_sizes()
        self._known = set(after)
        self.maintenance.append(
            {
                "merged": len(before.keys() - after.keys()),
                "rewritten_bytes": sum(after[p] for p in after.keys() - before.keys()),
            }
        )
        # no loss and no double count across the compaction, and the MV
        # (refreshed earlier in this round) holds every published row
        self.query(store, model.total(store.feed), None)
        self.query(store, model.mv_read(store.feed.rows.iloc[: store.mv_rows]), None)


def setup(spark, work: Path, mix: Mix, seed: int, bench: Bench) -> tuple[Store, dict[str, float]]:
    """Build the store, start its subscriber and run the warm-up
    rounds: the first with every query kind, the others as timed ones,
    numbered so that the maintenance cadence runs on into the timed
    section. Returns the store and the seconds of each phase."""
    t0 = time.perf_counter()
    store = Store(spark, work / "store", mix, seed)
    phases = {"create": time.perf_counter() - t0}
    phases.update(store.build())
    t1 = time.perf_counter()
    for n in range(1 - mix.warm_rounds, 1):
        bench.round(store, n, timed=n > 1 - mix.warm_rounds)
    phases["warm_up"] = time.perf_counter() - t1
    return store, phases


def period(mix: Mix) -> int:
    """Rounds after which the mix repeats: every query kind dealt the
    same number of times, and delta and full MV refreshes in the same
    ratio. A timed section ends on a multiple of it."""
    deck = len(mix.kinds) // math.gcd(len(mix.kinds), mix.reads)
    return math.lcm(deck, mix.maintain_every or 1)


def percentile(xs, q: int = 50) -> float:
    """The q-th percentile (inclusive interpolation); 0 for no samples,
    which only a run with failed operations has."""
    xs = [float(x) for x in xs]
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]
