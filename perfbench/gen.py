#!/usr/bin/env python3
"""Seeded inputs for the benchmark workloads.

The tables come from the repository's own generator, `scripts/gen_sf.py`
(run read-only, as a separate process), at one small scale factor for every
workload, so a change to its data shapes reaches the benchmark. The same
seed always gives the same bytes.

The streams are fed the tick projection of the first events, pre-split into
event-time-ordered parquet files (`tick_files/NNNNN.parquet`, schema
symbol, timestamp, price, volume, seq), which the stream generator releases
on its schedule, and a flush file (`tick_flush.parquet`) whose sentinels
close every open window and chunk once the data has been fed.

`perfbench/run.py` calls `generate`.
"""
import json
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.03 is 30,000 events, 1,500 documents and 240 embeddings, far below
# sf1 because every run must fit the time budget of BENCHMARK.json (see
# README.md, "Sizing"). The stream is fed the first 2,400 events, cut into
# 300 files of 8 ticks.
SF = 0.03
TICK_FILES = 300
TICKS_PER_FILE = 8
# twice the W14 anchor chunk (AnchorSnapshots.DefaultChunkDays = 30 days):
# a flush sentinel this far past the data lands in a later chunk than any
# tick, so every open chunk closes
FLUSH_AFTER_US = 60 * 86_400 * 1_000_000
BARRIER = "\u0000BARRIER"


def key(seed):
    """Cache key of the inputs; every workload reads the same ones."""
    return f"sf{SF:g}-seed{seed}-files{TICK_FILES}x{TICKS_PER_FILE}"


def tick_table(symbol, ts_us, price, volume, seq):
    return pa.table({
        "symbol": pa.array(symbol, type=pa.string()),
        "timestamp": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        "price": pa.array(price, type=pa.float64()),
        "volume": pa.array(volume, type=pa.float64()),
        "seq": pa.array(seq, type=pa.int64()),
    })


def split_tick_files(events, out, n_files):
    """The tick projection of `events` (graft.core.Tables.ticks: symbol =
    event_type, ns -> us truncation, volume = user_id + 1, seq = event_id)
    in event-time order, cut into `n_files` contiguous slices."""
    ts_us = events["ts"].cast(pa.int64()).to_numpy() // 1000
    symbol = events["event_type"].to_numpy(zero_copy_only=False)
    price = events["value"].to_numpy()
    volume = (events["user_id"].to_numpy() + 1).astype(np.float64)
    seq = events["event_id"].to_numpy()
    files = out / "tick_files"
    files.mkdir()
    rows = {}
    for i, idx in enumerate(np.array_split(np.arange(len(ts_us)), n_files)):
        rows[f"{i:05d}.parquet"] = len(idx)
        pq.write_table(tick_table(symbol[idx], ts_us[idx], price[idx], volume[idx], seq[idx]),
                       files / f"{i:05d}.parquet")
    # rows per file, one "name rows" line each, for the stream's rate figures
    (out / "tick_files.txt").write_text("".join(f"{k} {v}\n" for k, v in rows.items()))
    # one sentinel per symbol past every chunk closes every candle window and
    # anchor chunk; the barrier an hour later advances the
    # watermark past all of them (the stream_pipeline_full flush)
    syms = sorted(set(symbol.tolist()))
    s1 = int(ts_us.max()) + FLUSH_AFTER_US
    flush = tick_table(syms + [BARRIER], [s1] * len(syms) + [s1 + 3_600_000_000],
                       [1.0] * (len(syms) + 1), [1.0] * (len(syms) + 1),
                       [-1] * len(syms) + [-2])
    pq.write_table(flush, out / "tick_flush.parquet")


def generate(root, out, seed):
    """Writes the inputs into the new directory `out`; the caller publishes
    it atomically."""
    out.mkdir(parents=True)
    subprocess.run([sys.executable, str(root / "scripts" / "gen_sf.py"), "--sf", f"{SF:g}",
                    "--seed", str(seed), "--out", str(out)],
                   check=True, stdout=subprocess.DEVNULL)
    events = pq.read_table(out / "events.parquet")  # sorted by ts
    split_tick_files(events.slice(0, TICK_FILES * TICKS_PER_FILE), out, TICK_FILES)
    (out / "inputs.json").write_text(json.dumps(
        {"seed": seed, "sf": SF, "generator": "scripts/gen_sf.py", "tick_files": TICK_FILES,
         "ticks_per_file": TICKS_PER_FILE}, sort_keys=True))
