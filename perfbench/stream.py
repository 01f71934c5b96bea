"""The live replicator: a continuously triggered stream over a watched
directory of rotated binlog files, composed from the package's public
calls (``runner.run_stream`` only offers an availableNow trigger):

    tail_binlog_files -> envelope_projection -> foreachBatch(
        change_feed_from(op_col="op") -> repartition_for(TRID)
        -> runner.apply_sink(timemachine)
        -> write_timemachine(<out>/epoch=<id>, overwrite))

Files come from an open-loop generator process (``python3
perfbench/stream.py PLAN``) that renames pre-encoded files into the
watched directory on a fixed schedule, whatever the stream does. Each
file is timed from its *scheduled* arrival to the commit of the epoch
that took it, so a stall counts against every file queued behind it.
Epochs are mapped to files through the checkpoint's ``sources/0`` log
and committed at the mtime of ``commits/<epoch>``.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from datetime import datetime

LEAD_S = 0.5  # the generator's first file is due this long after start
DRAIN_S = 30.0  # after the last file, wait at most this long for its commit


def place_files(plan_path: str) -> None:
    """Generator process: rename ``moves[i]`` (src, dst) of the JSON
    plan at ``t0 + i * period`` (wall clock) until done or sent SIGTERM;
    write the times the renames actually happened to the plan's
    ``placed`` path."""
    with open(plan_path) as fh:
        plan = json.load(fh)
    t0, period = plan["t0"], plan["period"]
    placed = []
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    try:
        for i, (src, dst) in enumerate(plan["moves"]):
            delay = t0 + i * period - time.time()
            if delay > 0:
                time.sleep(delay)
            # a stop request waits until the rename is recorded
            signal.pthread_sigmask(signal.SIG_BLOCK, {signal.SIGTERM})
            os.rename(src, dst)
            placed.append(time.time())
            signal.pthread_sigmask(signal.SIG_UNBLOCK, {signal.SIGTERM})
    finally:
        with open(plan["placed"], "w") as fh:
            json.dump(placed, fh)


def start_query(bench, watch: str, out: str, ckpt: str):
    from replicator_spark.cdc.envelope import change_feed_from
    from replicator_spark.cdc.partitioners import repartition_for
    from replicator_spark.runner import DEFAULT_CONFIG, apply_sink
    from replicator_spark.sinks.timemachine import write_timemachine
    from replicator_spark.sources.binlog import (
        envelope_projection,
        tail_binlog_files,
    )

    import batch

    cfg = batch.tm_config(watch)
    tasks = int(DEFAULT_CONFIG["replicator.tasks"])
    tracer = bench.tracer

    def one_batch(df, epoch_id: int) -> None:
        with tracer.span(f"stream.epoch.{epoch_id}"):
            feed = repartition_for(
                change_feed_from(df, op_col="op"), "TRID", tasks
            )
            write_timemachine(
                apply_sink(feed, cfg),
                os.path.join(out, f"epoch={epoch_id}"),
                mode="overwrite",
            )

    stream = envelope_projection(tail_binlog_files(bench.spark, watch))
    return (
        stream.writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )


def epoch_files(ckpt: str) -> dict[str, int]:
    """file name -> epoch, from the file source's metadata log."""
    log = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    names = [n for n in os.listdir(log) if not n.startswith(".")]
    for name in sorted(names, key=lambda n: int(n.split(".")[0])):
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
        for n in os.listdir(d)
        if n.isdigit()
    }


def _batches_since(progress, t: float) -> int:
    return sum(1 for p in progress
               if p.get("numInputRows", 0) > 0 and _ts(p["timestamp"]) >= t)


def run_open_loop(bench, files: list[str], period: float, first: int,
                  n_base: int, min_batches: int = 0) -> dict:
    """Start the stream and place staged ``files`` one every ``period``
    seconds: the first ``n_base``, and past them, while fewer than
    ``min_batches`` batches began after file ``first`` was due, the
    rest. Then wait until every placed file is committed or ``DRAIN_S``
    passed, and stop the stream. Returns the per-file and per-epoch
    bookkeeping of the placed files."""
    watch, out, ckpt = (bench.path("stream", d) for d in ("watch", "out", "ckpt"))
    os.makedirs(watch)
    q = start_query(bench, watch, out, ckpt)
    t0 = time.time() + LEAD_S
    plan = {
        "moves": [(f, os.path.join(watch, os.path.basename(f))) for f in files],
        "t0": t0,
        "period": period,
        "placed": bench.path("stream", "placed.json"),
    }
    plan_path = bench.path("stream", "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    gen = subprocess.Popen([sys.executable, os.path.abspath(__file__), plan_path])
    t_base = t0 + (n_base - 1) * period
    t_first = t0 + first * period
    while gen.poll() is None:
        time.sleep(0.1)
        if min_batches and time.time() > t_base and _batches_since(
                [json.loads(p.json) for p in q.recentProgress], t_first
        ) >= min_batches:
            gen.terminate()
    rc = gen.wait()
    if rc != 0:
        q.stop()
        raise RuntimeError(f"file generator failed: exit code {rc}")
    with open(plan["placed"]) as fh:
        placed = json.load(fh)
    names = [os.path.basename(f) for f in files[:len(placed)]]
    deadline = time.time() + DRAIN_S
    error = None
    while True:
        if q.exception() is not None:
            error = str(q.exception())
            break
        done = sum(p["numInputRows"] for p in q.recentProgress)
        if done >= len(names) or time.time() > deadline:
            break
        time.sleep(0.05)
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    q.awaitTermination(60)
    return {
        "names": names,
        "due": [t0 + i * period for i in range(len(names))],
        "placed": placed,
        "period": period,
        "file_epoch": epoch_files(ckpt),
        "commits": commit_times(ckpt),
        "progress": progress,
        "error": error,
        "out": out,
        "epoch_spans": [s for s in bench.tracer.spans
                        if s["name"].startswith("stream.epoch.")],
    }


def freshness(run: dict, first: int) -> tuple[list[float], list[str]]:
    """Per committed file from index ``first`` on: commit time minus
    scheduled arrival; and the names of files never committed."""
    lat, lost = [], []
    for i, (name, due) in enumerate(zip(run["names"], run["due"])):
        e = run["file_epoch"].get(name)
        c = run["commits"].get(e) if e is not None else None
        if c is None:
            lost.append(name)
        elif i >= first:
            lat.append(c - due)
    return lat, lost


def validity(run: dict) -> dict:
    """How late the generator ran, its achieved input rate over the
    nominal one, and the files placed but not yet committed one period
    after the last was due."""
    late = [p - d for p, d in zip(run["placed"], run["due"])]
    pl = run["placed"]
    rate = (len(pl) - 1) / (pl[-1] - pl[0]) if len(pl) > 1 else 0.0
    t_end = run["due"][-1] + run["period"]
    commit_of = {n: run["commits"].get(run["file_epoch"].get(n))
                 for n in run["names"]}
    backlog = sum(1 for c in commit_of.values() if c is None or c > t_end)
    return {
        "gen.late_s_max": max(late),
        "gen.input_rate_ratio": rate * run["period"],
        "stream.backlog_files_end": backlog,
    }


def _ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def stream_layer(run: dict, first: int) -> dict:
    """Per-layer metrics of one stream run over the batches that took
    files from index ``first`` on (traced runs only). Every per-batch
    figure is a median under the sample rule."""
    from common import dir_stats, reported_pctl

    measured = set(run["names"][first:])
    epochs = {e for n, e in run["file_epoch"].items() if n in measured}
    prog = [p for p in run["progress"]
            if p["batchId"] in epochs and p["numInputRows"] > 0]
    dur = {k: [p["durationMs"].get(k, 0) for p in prog]
           for k in ("triggerExecution", "addBatch", "latestOffset",
                     "walCommit", "commitOffsets")}
    files_per = {}
    for n, e in run["file_epoch"].items():
        files_per[e] = files_per.get(e, 0) + 1
    start_of = {p["batchId"]: _ts(p["timestamp"]) for p in run["progress"]}
    waits = [start_of[run["file_epoch"][n]] - d
             for n, d in zip(run["names"][first:], run["due"][first:])
             if run["file_epoch"].get(n) in start_of]
    jobs = [s["jobs"] for s in run["epoch_spans"]
            if int(s["name"].rsplit(".", 1)[1]) in epochs]
    t_first = min(start_of[e] for e in epochs)
    t_last = max(run["commits"][e] for e in epochs)
    out = {
        f"stream.{name}_p50": reported_pctl(f"stream.{name}_p50", xs, 50)
        for name, xs in (
            ("trigger_ms", dur["triggerExecution"]),
            ("add_batch_ms", dur["addBatch"]),
            ("overhead_ms", [t - a for t, a in zip(dur["triggerExecution"],
                                                   dur["addBatch"])]),
            ("latest_offset_ms", dur["latestOffset"]),
            ("wal_commit_ms", dur["walCommit"]),
            ("commit_offsets_ms", dur["commitOffsets"]),
            ("files_per_batch", [files_per[e] for e in epochs]),
            ("queue_wait_s", waits),
        )
    }
    out["stream.jobs_per_batch"] = reported_pctl("stream.jobs_per_batch", jobs, 50)
    out["tm_write.files_per_batch"] = reported_pctl(
        "tm_write.files_per_batch",
        [dir_stats(os.path.join(run["out"], f"epoch={e}"))[0] for e in epochs], 50)
    out.update({
        "stream.batches": len(prog),
        "stream.busy_frac": sum(dur["triggerExecution"]) / 1000.0
        / (t_last - t_first),
    })
    return out


if __name__ == "__main__":
    place_files(sys.argv[1])
