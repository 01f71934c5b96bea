"""Seeded, deterministic binlog v4 input generator.

The generator writes row lifecycles of one ``events`` table:

- row keys are drawn from a bounded Zipf law (s = 1.0) over ``n_keys``
  keys, hot keys scattered over the id space, so the user-keyed window
  shuffles of the envelope and organizer see realistic skew;
- a key's first event is an INSERT; a live key gets an UPDATE (value
  and props each change with a fixed probability) or, rarely, a
  DELETE; a deleted key is re-INSERTed the next time it is drawn;
- an UPDATE's wire before-image and a DELETE's image hold the row's
  true prior state, so the wire before-image fallback the envelope
  uses across micro-batches agrees with the batch-local lag and with
  the DuckDB oracle's lag;
- GTIDs count up across files (64 rows per transaction);
- each file covers a disjoint range of whole minutes, so every envelope
  transaction (user, minute) and every commit second lies inside one
  file. Whole files are the unit a file stream batches, so the
  time-machine cells do not depend on how files group into
  micro-batches.

Run as ``python3 perfbench/gen.py SPEC.json``: one process encodes
every input set of the spec with the package's ``encode_binlog_file``
and writes, per set, the binlog files, the events as the oracle's
``events`` view reads them (``events.parquet``) and ``meta.json``.
The benchmark runs it as a child so that its own process imports
neither the package nor pyspark before its set-up clock starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

# 2024-03-31T12:00:00Z: a 24 h span crosses into April, so the store
# gets two monthly table partitions
T0_US = 1_711_886_400_000_000
MINUTE_US = 60_000_000
TXN_ROWS = 64
P_DELETE = 0.05
P_VALUE_CHANGES = 0.6
P_PROPS_CHANGES = 0.4


def generate(seed: int, n_files: int, per_file: int, n_keys: int,
             file_minutes: int) -> dict:
    """Draw ``n_files * per_file`` events from ``seed``; returns column
    lists plus the wire before-images and the file layout."""
    rng = np.random.default_rng(seed)
    n = n_files * per_file
    weights = 1.0 / np.arange(1, n_keys + 1)
    keys = rng.permutation(n_keys)[
        rng.choice(n_keys, size=n, p=weights / weights.sum())
    ] + 1
    ts = np.empty(n, dtype=np.int64)
    span = file_minutes * MINUTE_US
    for f in range(n_files):
        off = np.sort(rng.integers(0, span, size=per_file))
        ts[f * per_file:(f + 1) * per_file] = T0_US + f * span + off
    u_op, u_val, u_props, u_kind = (rng.random(n).tolist() for _ in range(4))
    new_vals = (rng.integers(100, 100_000, size=n) / 100.0).tolist()
    new_props = rng.integers(0, 1_000_000, size=n).tolist()
    keys = keys.tolist()

    live: dict[int, tuple[float, str]] = {}
    ops, etypes, values, props, before = [], [], [], [], []
    for i in range(n):
        k = keys[i]
        prior = live.get(k)
        if prior is None:
            op, et = "INSERT", "signup"
            cur = (new_vals[i], '{"k": %d}' % new_props[i])
            live[k] = cur
            bi = None
        elif u_op[i] < P_DELETE:
            op, et, cur, bi = "DELETE", "error", prior, None
            del live[k]
        else:
            op = "UPDATE"
            et = "click" if u_kind[i] < 0.7 else "purchase"
            cur = (
                new_vals[i] if u_val[i] < P_VALUE_CHANGES else prior[0],
                '{"k": %d}' % new_props[i]
                if u_props[i] < P_PROPS_CHANGES else prior[1],
            )
            live[k] = cur
            bi = prior
        ops.append(op)
        etypes.append(et)
        values.append(cur[0])
        props.append(cur[1])
        before.append(bi)
    return {
        "op": ops,
        "event_id": list(range(1, n + 1)),
        "ts_us": ts.tolist(),
        "user_id": keys,
        "event_type": etypes,
        "value": values,
        "props": props,
        "before": before,
        "n_files": n_files,
        "per_file": per_file,
        "t0_us": T0_US,
        "t1_us": T0_US + n_files * span,
    }


def write_set(spec: dict) -> None:
    """Generate one input set and write it under ``spec['dir']``: the
    binlog files in ``src/``, ``events.parquet`` and ``meta.json``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicator_spark.sources.binlog import encode_binlog_file

    ev = generate(spec["seed"], spec["n_files"], spec["per_file"],
                  spec["n_keys"], spec["file_minutes"])
    src = os.path.join(spec["dir"], "src")
    os.makedirs(src, exist_ok=True)
    cols = ("op", "event_id", "ts_us", "user_id", "event_type", "value",
            "props")
    per = spec["per_file"]
    sizes = []
    for f in range(spec["n_files"]):
        lo, hi = f * per, (f + 1) * per
        recs = list(zip(*(ev[c][lo:hi] for c in cols)))
        blob = encode_binlog_file(
            recs,
            txn_ids=[i // TXN_ROWS + 1 for i in range(lo, hi)],
            before_images=ev["before"][lo:hi],
        )
        with open(os.path.join(src, f"binlog.{f + 1:06d}"), "wb") as fh:
            fh.write(blob)
        sizes.append(len(blob))
    table = pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts_us"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(ev["event_type"], pa.string()),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(ev["props"], pa.string()),
    })
    pq.write_table(table, os.path.join(spec["dir"], "events.parquet"))
    meta = {k: ev[k] for k in ("n_files", "per_file", "t0_us", "t1_us")}
    meta.update(n_events=len(ev["op"]), bytes=sum(sizes))
    with open(os.path.join(spec["dir"], "meta.json"), "w") as fh:
        json.dump(meta, fh)


def run(specs: list[dict], spec_path: str) -> None:
    """Write every input set in one child process and wait for it."""
    with open(spec_path, "w") as fh:
        json.dump(specs, fh)
    rc = subprocess.run([sys.executable, os.path.abspath(__file__),
                         spec_path]).returncode
    if rc != 0:
        raise RuntimeError(f"input generation failed: exit code {rc}")


def meta(set_dir: str) -> dict:
    with open(os.path.join(set_dir, "meta.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(sys.argv[1]) as fh:
        for s in json.load(fh):
            write_set(s)
