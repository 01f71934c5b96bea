"""Replicator benchmark: one workload, one run.

    python3 perfbench/run.py --workload binlog_backfill --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run generates its binlog inputs from
``--seed`` under ``.bench_work/``, replicates them with the package's
public calls on ``local[<visible cores>]``, checks every output against
the DuckDB oracle outside the timed region, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. The exit
code is 1 when a check failed or the run was invalid, and 2 when the
checkout holds no ``replicator_spark``. Every process the run starts,
and every process orphaned under it, has ended before it exits. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import batch
import checks
import common
import gen
import stream

# Both workloads run the same two phases, a stream phase and a batch
# phase, at different sizes; ``timed`` names the phase that runs for
# ``--seconds``. The other phase is the side phase that gives the
# workload its cross metrics, sized for the sample rule.
WORKLOADS = {
    # bootstrap / catch-up of a retained backlog: cost per event rules
    "binlog_backfill": {"timed": "batch", "n_files": 20, "per_file": 10_000,
                        "file_minutes": 72},
    # the live replicator: fixed per-trigger costs rule
    "binlog_tail": {"timed": "stream"},
}
N_KEYS = 50_000
STREAM_PERIOD_S = 0.1  # one file every 0.1 s ...
STREAM_PER_FILE = 250  # ... of 250 events: 2,500 events/s
STREAM_WARM_S = 3.0  # files due in the first seconds warm the stream
STREAM_SIDE_S = 10  # measured stream window when the stream is the side phase
# Pass times keep falling for the first passes after set-up, as the JVM
# compiles the hot paths. The passes replicating the first WARM_EVENTS
# events are not measured (one backfill pass, four passes over the
# tail's files), and the median of the timed passes absorbs what
# warming is left.
WARM_EVENTS = 100_000
MIN_PASSES = 3  # timed passes when the batch is the timed phase
BATCH_SIDE_PASSES = 3  # timed passes when the batch is the side phase
TRACE_PAIRS = 2  # traced: at least this many (traced, untraced) pass pairs
ASOF_ROUNDS = 3  # the median of 3 rejects one slow round
TRACE_REPS = 3  # repetitions of the traced prefix materialisations
# traced runs: per-batch stream medians need 10 batches beyond them
TRACE_MIN_BATCHES = 21
TRACE_EXTRA_S = 50  # staged past the window for those batches
WARM_SET = {"seed": 0, "n_files": 2, "per_file": 1000, "file_minutes": 60,
            "n_keys": N_KEYS}


def _units(key: str) -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def stream_phase(bench, files: list[str], seconds: float) -> dict:
    """The open-loop stream over the staged ``files``: per-file
    freshness of the files due after the warm-up, validity, and the
    traced layer metrics. Traced, files keep coming past the window
    until the per-batch medians have enough batches."""
    first = round(STREAM_WARM_S / STREAM_PERIOD_S)
    n_base = first + round(seconds / STREAM_PERIOD_S)
    run = stream.run_open_loop(
        bench, files, STREAM_PERIOD_S, first, n_base,
        min_batches=TRACE_MIN_BATCHES if bench.trace else 0)
    if run["error"]:
        raise RuntimeError("stream failed: " + run["error"])
    lat, lost = stream.freshness(run, first)
    out = {"run": run}
    out.update(stream.validity(run))
    bench.check(f"generator at most one period late "
                f"(late {out['gen.late_s_max']:.3f} s)",
                out["gen.late_s_max"] <= STREAM_PERIOD_S)
    bench.check(f"every placed file committed ({len(lost)} never)", not lost)
    for q in (50, 90):
        out[f"tail_freshness_p{q}_s"] = common.reported_pctl(
            f"tail_freshness_p{q}_s", lat, q)
    bench.log(f"stream: {len(run['names'])} files, {len(run['commits'])} epochs")
    if bench.trace:
        out.update(stream.stream_layer(run, first))
    return out


def batch_phase(bench, src: str, n_events: int, seconds: float | None,
                passes: int | None) -> dict:
    """Passes that are not measured until ``WARM_EVENTS`` events were
    replicated, then timed passes into fresh stores, for ``seconds`` (at
    least ``MIN_PASSES``) or ``passes``. The rate of a pass is its events
    over its wall time; the phase reports the median. Traced, the timed
    passes alternate between tracing on and off, in at least
    ``TRACE_PAIRS`` whole pairs, and ``trace.overhead_s`` is the median
    over pairs of the traced pass's time minus the untraced one's."""
    for _ in range(-(-WARM_EVENTS // n_events)):
        batch.backfill_pass(bench.spark, src, bench.path("store-discard"))
    tr = bench.tracer
    rates, plan_s, stores = [], [], []
    times, spans = [], []
    t_end = time.perf_counter() + (seconds or 0)
    k = 0

    def more() -> bool:
        if bench.trace and (k < 2 * TRACE_PAIRS or k % 2):
            return True
        if passes:
            return k < passes
        return k < MIN_PASSES or time.perf_counter() < t_end

    while more():
        store = bench.path(f"store-{k}")
        traced = bench.trace and k % 2 == 0
        tr.enabled = traced
        with tr.span("backfill.pass") as sp:
            p, total = batch.backfill_pass(bench.spark, src, store)
        tr.enabled = bench.trace
        if traced:
            spans.append(sp)
        times.append(total)
        rates.append(n_events / total)
        plan_s.append(p)
        stores.append(store)
        k += 1
    bench.log(f"batch: {k} passes, rates {[round(r) for r in rates]}")
    out = {"stores": stores, "backfill_events_per_s": common.few_median(
        "backfill_events_per_s", rates)}
    if bench.trace:
        out["runner.plan_s"] = common.few_median("runner.plan_s", plan_s)
        out["trace.overhead_s"] = common.few_median(
            "trace.overhead_s", [a - b for a, b in zip(times[::2], times[1::2])])
        for key in ("jobs", "stages", "tasks"):
            out[f"backfill.{key}"] = spans[0][key]
    return out


def run(bench) -> dict:
    spec = WORKLOADS[bench.workload]
    timed_stream = spec["timed"] == "stream"
    warm, sset, bset = (bench.path(d) for d in ("warm", "stream-set", "batch-set"))
    stream_s = bench.seconds if timed_stream else STREAM_SIDE_S
    n_base = round((STREAM_WARM_S + stream_s) / STREAM_PERIOD_S)
    n_extra = round(TRACE_EXTRA_S / STREAM_PERIOD_S) if bench.trace else 0
    sets = [
        dict(WARM_SET, dir=warm),
        {"seed": bench.seed, "n_keys": N_KEYS, "n_files": n_base + n_extra,
         "per_file": STREAM_PER_FILE, "file_minutes": 1, "dir": sset},
    ]
    if not timed_stream:
        sets.append({"seed": bench.seed, "n_keys": N_KEYS,
                     "n_files": spec["n_files"], "per_file": spec["per_file"],
                     "file_minutes": spec["file_minutes"], "dir": bset})
    gen.run(sets, bench.path("inputs.json"))
    # the files a traced stream may place past its window wait apart
    staged = os.path.join(sset, "src")
    files = [os.path.join(staged, n) for n in sorted(os.listdir(staged))]
    os.makedirs(os.path.join(sset, "extra"))
    for i, f in enumerate(files[n_base:], n_base):
        files[i] = os.path.join(sset, "extra", os.path.basename(f))
        os.rename(f, files[i])
    bench.log("inputs written")

    bench.spark, m = batch.setup(warm, bench.path("store-warm"))
    bench.tracer = common.Tracer(bench.spark, bench.trace,
                                 f"{bench.workload}-{bench.seed}")
    bench.log(f"set-up: {m['setup_s']:.2f} s")
    mem = common.MemSampler(common.jvm_pid(bench.spark)).start() if bench.trace else None

    # The batch phase runs first, so that the stream starts on a JVM
    # whose compiler has already warmed the shared operators; on the
    # tail workload it replays the staged stream files.
    if timed_stream:
        b_set, b_src, b_events = sset, staged, n_base * STREAM_PER_FILE
        bt = batch_phase(bench, b_src, b_events, None, BATCH_SIDE_PASSES)
    else:
        b_set, b_src = bset, os.path.join(bset, "src")
        b_events = gen.meta(bset)["n_events"]
        bt = batch_phase(bench, b_src, b_events, bench.seconds, None)
    stores = bt.pop("stores")
    m.update(bt)
    if bench.trace:
        m.update(batch.layer_breakdown(bench, b_src, TRACE_REPS))
        stores.append(bench.path("store-prefix"))
        m["binlog.bytes_in"] = sum(
            os.path.getsize(os.path.join(b_src, f)) for f in os.listdir(b_src))

    st = stream_phase(bench, files, stream_s)
    s_run = st.pop("run")
    m.update(st)
    # the placed files are a prefix of the stream set
    s_meta = gen.meta(sset)
    s_events = len(s_run["names"]) * STREAM_PER_FILE

    # reads go to the store the workload's timed phase wrote
    if timed_stream:
        a_set, a_events, asof_store = sset, s_events, s_run["out"]
        a_span = (s_meta["t0_us"],
                  s_meta["t0_us"] + len(s_run["names"]) * gen.MINUTE_US)
    else:
        b_meta = gen.meta(bset)
        a_set, a_events, asof_store = bset, b_events, stores[-1]
        a_span = (b_meta["t0_us"], b_meta["t1_us"])
    cutoffs = batch.cutoffs(*a_span)
    batch.write_asof(bench.spark, asof_store, cutoffs, bench.path("asof"))
    m["store_bytes_per_event"] = common.dir_stats(asof_store)[1] / a_events
    if bench.trace:
        m.update(batch.traced_asof(bench, asof_store, cutoffs))
        m.update(mem.stop())
    else:
        m["asof_read_s"] = batch.asof_read_s(
            bench.spark, asof_store, cutoffs, ASOF_ROUNDS)
    bench.stop()

    # ---- checks, outside every timed region
    tmp, threads = bench.path("tmp"), common.nproc()
    oracles: dict[tuple, checks.Oracle] = {}

    def oracle(set_dir: str, n_events: int) -> checks.Oracle:
        key = (set_dir, n_events)
        if key not in oracles:
            oracles[key] = checks.Oracle(set_dir, n_events, tmp, threads)
        return oracles[key]

    try:
        ok, msg = oracle(sset, s_events).store_matches(s_run["out"])
        bench.check("stream epochs: " + msg, ok)
        for st_dir in stores:
            ok, msg = oracle(b_set, b_events).store_matches(st_dir)
            bench.check(f"{os.path.basename(st_dir)}: " + msg, ok)
        a_oracle = oracle(a_set, a_events)
        for i, c in enumerate(cutoffs):
            ok, msg = a_oracle.asof_matches(bench.path("asof", f"asof-{i}"), c)
            bench.check(f"as-of {i}: " + msg, ok)
        if bench.trace:
            # counted in the program's outputs: the breakdown's store,
            # and the store read against its full-span as-of read
            m["cells.per_event"] = a_oracle.n_rows(
                bench.path("store-prefix")) / b_events
            m["asof.rows_in_per_row_out"] = a_oracle.n_rows(
                asof_store) / a_oracle.n_rows(
                bench.path("asof", f"asof-{len(cutoffs) - 1}"))
    finally:
        for o in oracles.values():
            o.close()
    bench.log(f"checks done: {bench.attempted - bench.failed}/{bench.attempted} ok")
    if bench.trace:
        bench.tracer.dump(os.path.join(
            os.path.dirname(bench.work),
            f"spans-{bench.workload}-seed{bench.seed}.json"))
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(common.ROOT, "replicator_spark")):
        print("replicator_spark is not in this checkout", file=sys.stderr)
        return 2
    units = _units("per_layer" if args.trace else "end_to_end")

    base = os.path.join(common.ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work)
    common.adopt_orphans()
    common.spark_env(work)
    bench = common.Bench(args.workload, args.seed, args.seconds,
                         bool(args.trace), work)
    try:
        metrics = run(bench)
    except common.SampleRuleError as e:
        print(f"invalid run: {e}", file=sys.stderr)
        return 1
    finally:
        bench.stop()
        common.reap_all()
        shutil.rmtree(work, ignore_errors=True)

    missing = sorted(set(units) - set(metrics))
    if missing:
        print("metrics not measured: " + ", ".join(missing), file=sys.stderr)
        return 1
    for name, unit in units.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    for e in bench.errors:
        print("CHECK FAILED: " + e, file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
