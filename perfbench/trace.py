"""Spans around the public functions of each ``ella_spark`` layer, and
the Spark-side counters a traced run adds.

The wrappers live here, in the benchmark, and are installed only for
a traced run; the program itself is unchanged. A span records name,
start, end, parent span and the id of the benchmark operation that
caused it, and that operation's kind. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JError

#: (module[:class], attribute, span name): the layer boundaries
SPAN_TARGETS = [
    ("ella_spark.session", "configure", "session.configure"),
    ("ella_spark.catalog:CatalogStore", "put_table", "catalog.put_table"),
    ("ella_spark.engine:Ella", "query", "engine.query"),
    ("ella_spark.engine:Ella", "create_topic", "engine.create_topic"),
    ("ella_spark.engine:Ella", "create_view", "engine.create_view"),
    ("ella_spark.engine:Ella", "create_materialized_view", "engine.create_mv"),
    ("ella_spark.engine:Ella", "refresh_materialized", "engine.refresh_materialized"),
    ("ella_spark.lazy:Lazy", "execute", "engine.execute"),
    ("ella_spark.topic:Topic", "read", "topic.read"),
    ("ella_spark.topic:Topic", "read_files", "topic.read_files"),
    ("ella_spark.topic:Topic", "shards", "topic.shards"),
    ("ella_spark.topic:Topic", "manifest", "topic.manifest"),
    ("ella_spark.topic:Topic", "read_stream_exact", "topic.read_stream_exact"),
    ("ella_spark.topic:Publisher", "write_batch", "topic.write_batch"),
    ("ella_spark.topic:Publisher", "flush", "topic.flush"),
    ("ella_spark.incremental", "analyze_mv_sql", "incremental.analyze"),
    ("ella_spark.maintenance:Maintainer", "run_once", "maintenance.pass"),
    ("ella_spark.maintenance", "compact_topic", "maintenance.compact"),
    ("ella_spark.maintenance", "build_manifest", "maintenance.manifest"),
    ("ella_spark.maintenance", "cleanup_orphans", "maintenance.cleanup"),
]


def _resolve(target: str):
    mod, _, cls = target.partition(":")
    owner = importlib.import_module(mod)
    return getattr(owner, cls) if cls else owner


class Tracer:
    """In-memory span recorder; ``install`` wraps SPAN_TARGETS."""

    def __init__(self):
        self.spans: list[tuple] = []  # (id, parent, name, start, end, op)
        self.counts: Counter = Counter()
        self.op: int | None = None  # the benchmark operation running now
        self.op_kinds: dict[int, str] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple] = []

    def begin_op(self, op: int, kind: str) -> str:
        """Tag later spans with ``op``; returns its Spark job group."""
        self.op, self.op_kinds[op] = op, kind
        return f"op{op}"

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid, parent = next(self._ids), (stack[-1] if stack else None)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, t0, t1, self.op))

    def _wrap(self, owner, attr: str, name: str) -> None:
        raw = inspect.getattr_static(owner, attr)
        fn = raw.__func__ if isinstance(raw, (staticmethod, classmethod)) else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, type(raw)(traced) if fn is not raw else traced)
        self._restore.append((owner, attr, raw))

    def install(self) -> None:
        for target, attr, name in SPAN_TARGETS:
            self._wrap(_resolve(target), attr, name)
        # Bloom probes are counted, not spanned: one call per shard
        bloom = importlib.import_module("ella_spark.bloom")
        probe = bloom.bloom_might_contain

        @functools.wraps(probe)
        def counted(b, value):
            hit = probe(b, value)
            self.counts["bloom.probes"] += 1
            self.counts["bloom.files_skipped"] += not hit
            return hit

        bloom.bloom_might_contain = counted
        self._restore.append((bloom, "bloom_might_contain", probe))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, raw = self._restore.pop()
            setattr(owner, attr, raw)

    # -- summaries ---------------------------------------------------------

    def durations_ms(self, name: str, since: float = 0.0) -> list[float]:
        """Durations of the ``name`` spans that started at ``since`` or later."""
        return [(e - s) * 1e3 for _, _, n, s, e, _ in self.spans if n == name and s >= since]

    def self_ms(self, name: str, since: float = 0.0) -> list[float]:
        """Span time not covered by its child spans (children of one
        span run in its thread, one after another)."""
        child = defaultdict(float)
        for _, parent, _, s, e, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        return [
            (e - s - child[sid]) * 1e3
            for sid, _, n, s, e, _ in self.spans
            if n == name and s >= since
        ]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        keys = ("id", "parent", "name", "start", "end", "op")
        with open(path, "w") as f:
            for sp in self.spans:
                rec = dict(zip(keys, sp), kind=self.op_kinds.get(sp[5]))
                f.write(json.dumps(rec) + "\n")


# -- Spark-side counters -----------------------------------------------------


def query_phases_ms(df) -> dict[str, float]:
    """analysis / optimization / planning ms from the query tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def scan_metrics(df) -> tuple[int, int]:
    """(files read, bytes read) summed over the executed plan's file
    scans; adaptive and query-stage nodes are walked into."""
    files = size = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        mets = node.metrics()
        if mets.contains("numFiles") and mets.contains("filesSize"):
            files += int(mets.apply("numFiles").value())
            size += int(mets.apply("filesSize").value())
        for accessor in ("executedPlan", "plan"):
            try:
                todo.append(getattr(node, accessor)())
                break
            except Py4JError:  # no such accessor on this node
                continue
        else:
            it = node.children().iterator()
            while it.hasNext():
                todo.append(it.next())
    return files, size


def event_log_by_group(log_dir: Path) -> dict[str, dict[str, int]]:
    """Jobs, executed stages, tasks and shuffle bytes per job group,
    from the Spark event log (written out when the context stops)."""
    stage_group: dict[int, str] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    logs = [
        p for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    ]
    for f in sorted(logs):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    out[group]["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    out[group]["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
    return {g: dict(c) for g, c in out.items()}
