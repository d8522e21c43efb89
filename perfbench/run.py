#!/usr/bin/env python3
"""ella-spark benchmark: one closed-loop client against one ella store.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 30 --trace 0

Run from the repository root. Workloads (``perfbench/workloads.py``):
``dashboard`` (read-heavy, 210 small shards over 30 day buckets) and
``ingest_live`` (writes beside reads, with MV refresh and compaction).
Spark runs as ``local[<cores>]`` in this process's JVM.

Every answer is checked against a pandas reference of the published
rows; any mismatch is a failed operation and the exit code is 1.

Output: a context line (``{"context": ...}``: seed, resolved master,
parallelism, pinned environment, steal and load over the timed
section), then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the per-layer ones, from spans recorded around the
public ``ella_spark`` functions (written to ``.perfbench_out/``), the
query tracker, scan-node SQL metrics, streaming progress and the Spark
event log. ``--tiny`` shrinks the data for the smoke test.

The first run in a checkout leaves the JVM's class-data archive in
``.perfbench_build/``; later runs start their JVM from it.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import host  # noqa: E402  (needs the path above)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test data size")
    args = ap.parse_args(argv)

    work = host.ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        pinned = host.pin_environment(work, work / "eventlog" if args.trace else None)
        context, result, clean_exit = run(args, work)
        if clean_exit:
            host.keep_class_archive(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    context["env"] = pinned
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, work: Path) -> tuple[dict, dict, bool]:
    import ella_spark  # noqa: F401 — fail before any set-up if the program is absent
    from ella_spark.session import get_session

    from perfbench import workloads
    from perfbench.trace import Tracer

    mix = workloads.MIXES[args.workload]
    if args.tiny:
        mix = dataclasses.replace(mix, **workloads.TINY)
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()

    t0 = time.perf_counter()
    spark = get_session("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        bench = workloads.Bench(spark, mix, args.seed, tracer)
        store, phases = workloads.setup(spark, work, mix, args.seed, bench)
        setup_s = session_s + sum(phases.values())
        bench.start_timed(store)
        sampler = host.HostSampler()
        t_start, t_wall = time.perf_counter(), time.time()
        rounds = 0
        period = workloads.period(mix)
        while rounds % period or time.perf_counter() - t_start < args.seconds:
            rounds += 1
            bench.round(store, rounds, timed=True)
            sampler.sample()
            if bench.failed > 20:
                break
        elapsed = time.perf_counter() - t_start
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "rounds": rounds,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "spark": spark.version,
            "host": sampler.result(),
            "setup_phases_s": {
                k: round(v, 3) for k, v in ({"session": session_s} | phases).items()
            },
            "refreshes": dict(
                (k, bench.refresh_kinds.count(k)) for k in ("delta", "full")
            ),
        }
        rss = host.peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        progress = [json.loads(p.json) for p in store.stream.recentProgress] if tracer else []
        log_files = len(list(store.db.store.log_dir.glob("*.json")))
        store.close()
    finally:
        clean_exit = host.stop_spark(spark)
    if tracer is not None:
        tracer.uninstall()

    s = bench.samples
    context["samples"] = {
        "queries": len(s.query_s),
        "registry_queries": len(s.registry_s),
        "publishes": len(s.freshness_s),
        "refreshes": len(s.refresh_s),
    }
    # too few samples per run for a gated tail; recorded for reading
    context["tails_ms"] = {
        f"{name}_p90": workloads.percentile(xs, 90) * 1e3
        for name, xs in (
            ("query", s.query_s), ("freshness", s.freshness_s), ("delivery", s.delivery_s)
        )
    }
    if tracer is None:
        metrics = end_to_end(s, setup_s, elapsed, rss)
    else:
        from perfbench import layers

        metrics = layers.per_layer(
            bench, tracer, session_s, (t_start, t_wall), progress, log_files, work / "eventlog"
        )
        out = host.ROOT / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.jsonl"
        tracer.write(out)
        context["spans"] = str(out.relative_to(host.ROOT))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    return context, result, clean_exit


def end_to_end(s, setup_s: float, elapsed: float, rss: float) -> dict:
    from perfbench.workloads import percentile

    values = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (percentile(s.query_s, 50) * 1e3, "ms"),
        "queries_per_s": (len(s.query_s) / elapsed, "1/s"),
        "ingest_rows_per_s": (percentile(s.ingest_rows_per_s, 50), "1/s"),
        "freshness_p50_ms": (percentile(s.freshness_s, 50) * 1e3, "ms"),
        "delivery_p50_ms": (percentile(s.delivery_s, 50) * 1e3, "ms"),
        "mv_refresh_p50_ms": (percentile(s.refresh_s, 50) * 1e3, "ms"),
        "disk_bytes_per_row": (percentile(s.bytes_per_row, 50), "bytes"),
        "peak_rss_mb": (rss, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


if __name__ == "__main__":
    sys.exit(main())
