"""The replicator's batch path, driven through the package's public
calls, and the per-layer breakdown of the traced run.

Batch path: ``runner.run_batch`` (binlog_files source, TRID
partitioner, timemachine applier), then ``write_timemachine`` into a
fresh store. Reads are ``asof_snapshot`` over a written store, run to
completion through Spark's ``noop`` sink.
"""

from __future__ import annotations

import os
import time

from common import dir_stats, few_median, median

# as-of cutoffs, as fractions of the input's event-time span
CUTOFF_FRACTIONS = (0.5, 1.0)


def tm_config(src: str) -> dict:
    return {
        "source.type": "binlog_files",
        "source.binlog.path": src,
        "partitioner.type": "TRID",
        "applier.type": "timemachine",
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def backfill_pass(spark, src: str, store: str) -> tuple[float, float]:
    """One replication of every file under ``src`` into a fresh store
    at ``store``. Returns (seconds until ``run_batch`` returned the
    plan, seconds until the store was committed)."""
    from replicator_spark.runner import run_batch
    from replicator_spark.sinks.timemachine import write_timemachine

    t0 = time.perf_counter()
    cells = run_batch(spark, "", tm_config(src))
    t1 = time.perf_counter()
    write_timemachine(cells, store, mode="overwrite")
    return t1 - t0, time.perf_counter() - t0


def setup(warm_dir: str, warm_store: str):
    """The benchmark's set-up: package and pyspark import, JVM and
    session start, and one replication of the small fixed input set
    ``warm_dir`` (see gen.py) followed by an as-of read. Returns the
    session and the timings (``setup_s`` and its ``session.start_s``
    and ``session.warm_s`` parts)."""
    t0 = time.perf_counter()
    from replicator_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    backfill_pass(spark, os.path.join(warm_dir, "src"), warm_store)
    asof_once(spark, warm_store, 1 << 62)
    t2 = time.perf_counter()
    return spark, {
        "setup_s": t2 - t0,
        "session.start_s": t1 - t0,
        "session.warm_s": t2 - t1,
    }


def cutoffs(t0_us: int, t1_us: int) -> list[int]:
    """The as-of cutoffs for input spanning [t0_us, t1_us)."""
    return [t0_us + int(f * (t1_us - t0_us)) for f in CUTOFF_FRACTIONS]


def asof_once(spark, store: str, cutoff: int) -> float:
    from replicator_spark.sinks.timemachine import asof_snapshot

    t0 = time.perf_counter()
    noop(asof_snapshot(spark.read.parquet(store), cutoff))
    return time.perf_counter() - t0


def write_asof(spark, store: str, cutoffs: list[int], out: str) -> None:
    """The as-of read at every cutoff, written under ``out/asof-<i>``
    for the oracle check. It also warms the read path for ``store``."""
    from replicator_spark.sinks.timemachine import asof_snapshot

    cells = spark.read.parquet(store)
    for i, c in enumerate(cutoffs):
        asof_snapshot(cells, c).write.mode("overwrite").parquet(
            os.path.join(out, f"asof-{i}")
        )


def asof_read_s(spark, store: str, cutoffs: list[int], rounds: int) -> float:
    """Median over ``rounds`` rounds of the mean ``asof_snapshot`` time
    over the cutoffs (a read's cost follows its cutoff)."""
    means = []
    for _ in range(rounds):
        t = [asof_once(spark, store, c) for c in cutoffs]
        means.append(sum(t) / len(t))
    return few_median("asof_read_s", means)


# ------------------------------------------------------------ traced run

LAYERS = ("binlog", "envelope", "partitioner", "organize", "cells")


def _prefix_frames(spark, src: str) -> list:
    """The batch path as cumulative prefixes, each one layer longer:
    decode; + envelope; + partitioner; + organizer; + cells -- the same
    public calls ``run_batch`` composes for ``tm_config``."""
    from pyspark.sql import functions as F
    from replicator_spark.cdc.envelope import change_feed_from
    from replicator_spark.cdc.partitioners import repartition_for
    from replicator_spark.cdc.transactions import organized_feed_from
    from replicator_spark.runner import DEFAULT_CONFIG
    from replicator_spark.sinks.timemachine import cells_from
    from replicator_spark.sources.binlog import (
        envelope_projection,
        read_binlog_files,
    )

    rows = read_binlog_files(spark, src)
    env = change_feed_from(envelope_projection(rows), op_col="op")
    part = repartition_for(
        env.where(F.col("op") != "QUERY"), "TRID",
        int(DEFAULT_CONFIG["replicator.tasks"]),
    )
    org = organized_feed_from(part)
    return list(zip(LAYERS, (rows, env, part, org, cells_from(org))))


def _skew(stages: list[dict]) -> float:
    """Largest max/median task run time over stages with 2+ tasks."""
    out = 1.0
    for s in stages:
        t = sorted(s["task_ms"])
        if len(t) >= 2 and median(t) > 0:
            out = max(out, t[-1] / median(t))
    return out


def layer_breakdown(bench, src: str, reps: int) -> dict:
    """Per-layer metrics of the batch path (traced runs only).

    A layer's self time is the difference between consecutive
    cumulative prefix materialisations of one repetition, reported as
    the median over ``reps`` repetitions with its minimum and maximum;
    jobs, stages, tasks and shuffle bytes come from each span's job
    group. ``binlog.rows`` counts the rows the decode prefix yields, in
    one more materialisation outside every span."""
    from replicator_spark.sinks.timemachine import write_timemachine

    spark, tr = bench.spark, bench.tracer
    names = LAYERS + ("write",)
    cum = {n: [] for n in names}
    last = {}
    for r in range(reps):
        frames = _prefix_frames(spark, src)
        for name, df in frames:
            with tr.span(f"prefix.{name}") as sp:
                noop(df)
            cum[name].append(sp["end"] - sp["start"])
            last[name] = sp
        with tr.span("prefix.write") as sp:
            write_timemachine(frames[-1][1], bench.path("store-prefix"),
                              mode="overwrite")
        cum["write"].append(sp["end"] - sp["start"])
        last["write"] = sp

    out = {"binlog.rows": frames[0][1].count()}

    def put(key: str, xs: list[float]) -> None:
        out[key] = few_median(key, xs)
        out[key + "_min"], out[key + "_max"] = min(xs), max(xs)

    put("binlog.decode_s", cum["binlog"])
    out["binlog.decode_tasks"] = last["binlog"]["tasks"]
    self_key = {"envelope": "envelope.self_s",
                "partitioner": "partitioner.self_s",
                "organize": "organize.self_s",
                "cells": "cells.self_s",
                "write": "tm_write.self_s"}
    for prev, name in zip(names, names[1:]):
        put(self_key[name], [b - a for a, b in zip(cum[prev], cum[name])])
        if name in ("envelope", "partitioner", "organize"):
            out[f"{name}.shuffle_bytes"] = (
                last[name]["shuffle_bytes"] - last[prev]["shuffle_bytes"]
            )
    n_part = len(last["partitioner"]["stage_list"])
    org_stages = sorted(last["organize"]["stage_list"],
                        key=lambda s: s["stage"])[max(n_part - 1, 0):]
    out["organize.task_skew"] = _skew(org_stages)
    files, size = dir_stats(bench.path("store-prefix"))
    out["tm_write.files"] = files
    out["tm_write.bytes"] = size
    return out


def traced_asof(bench, store: str, cutoffs: list[int]) -> dict:
    """asof.self_s (median read time over one read per cutoff), and the
    stages and shuffle bytes of the read at the last cutoff."""
    from replicator_spark.sinks.timemachine import asof_snapshot

    spark, tr = bench.spark, bench.tracer
    times = []
    for c in cutoffs:
        with tr.span("sinks.timemachine.asof_snapshot") as sp:
            noop(asof_snapshot(spark.read.parquet(store), c))
        times.append(sp["end"] - sp["start"])
    return {
        "asof.self_s": few_median("asof.self_s", times),
        "asof.stages": sp["stages"],
        "asof.shuffle_bytes": sp["shuffle_bytes"],
    }
