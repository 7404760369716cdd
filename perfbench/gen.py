"""Seeded input generators for the `ingest` feed and the `interactive`
workload's window table.

The same seed always yields byte-identical inputs: every value comes from
one `numpy.random.Generator` seeded with the workload seed, and the
parquet files are written with fixed writer settings.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2026-01-01T00:00:00Z, the register-poll source's epoch.
EPOCH_US = 1767225600 * 1_000_000

# One poll sweep of every inverter's three registers every 30 minutes,
# over two calendar months and a bit, in one parquet file per micro-batch.
INGEST_REGISTERS = [("dc_voltage", 0.1), ("ac_watts", 1.0), ("ac_frequency", 0.01)]
INGEST_INVERTERS = 4
INGEST_POLLS = 3000
INGEST_SWEEP_S = 1800
INGEST_FILES = 3

# The reference catalog format read by the `register-catalog` source.
CATALOG = """dc_voltage   109  1  0.1   V
ac_watts     117  2  1.0   W
ac_frequency 119  1  0.01  Hz
"""


def _write(table, path, row_group_size):
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy", use_dictionary=True,
                   write_statistics=True)


def feed_table(seed):
    """Register readings in poll order: (poll, inverter, register, raw,
    scaled, ts). `raw` is an integer in [0, 10000); `scaled` is `raw`
    times the register's scale, rounded to the two decimals the daemon's
    exact-decimal average assumes."""
    rng = np.random.default_rng(seed)
    n_reg = len(INGEST_REGISTERS)
    per_poll = INGEST_INVERTERS * n_reg
    idx = np.arange(INGEST_POLLS * per_poll, dtype=np.int64)
    poll = idx // per_poll
    inverter = (idx // n_reg) % INGEST_INVERTERS
    reg = (idx % n_reg).astype(np.int64)
    raw = rng.integers(0, 10000, idx.size, dtype=np.int64)
    scales = np.array([s for _, s in INGEST_REGISTERS])
    scaled = np.round(raw * scales[reg], 2)
    # each inverter answers a sweep a few seconds after it starts
    jitter = rng.integers(0, 30, INGEST_INVERTERS, dtype=np.int64)[inverter]
    ts = EPOCH_US + (poll * INGEST_SWEEP_S + jitter) * 1_000_000
    names = np.array([n for n, _ in INGEST_REGISTERS], dtype=object)
    return pa.table({
        "poll": poll,
        "inverter": inverter,
        "register": pa.array(names[reg], pa.string()),
        "raw": raw,
        "scaled": scaled,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def write_ingest_input(seed, out_dir):
    """The feed as `INGEST_FILES` poll-ordered parquet files plus the
    register catalog. Returns (feed dir, catalog path, rows)."""
    feed_dir = f"{out_dir}/feed"
    os.makedirs(feed_dir, exist_ok=True)
    table = feed_table(seed)
    step = -(-table.num_rows // INGEST_FILES)
    for i in range(INGEST_FILES):
        path = f"{feed_dir}/part-{i:04d}.parquet"
        _write(table.slice(i * step, step), path, step)
        # the file source takes files oldest first: keep poll order
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    catalog = f"{out_dir}/registers.txt"
    with open(catalog, "w") as f:
        f.write(CATALOG)
    return feed_dir, catalog, table.num_rows


# The window table: one reading a row, three rows to each minute (ties
# on `ts`), integer readings with many ties and runs of nulls.
WINDOW_ROWS = 120_000
WINDOW_INVERTERS = 16


def window_table(seed):
    """(inverter, ts, raw) telemetry rows; `raw` is an integer in
    [0, 1000) or null, in runs of 1 to 8 nulls starting at 1% of rows."""
    rng = np.random.default_rng(seed)
    n = WINDOW_ROWS
    idx = np.arange(n, dtype=np.int64)
    inverter = rng.integers(0, WINDOW_INVERTERS, n, dtype=np.int64)
    ts = EPOCH_US + (idx // 3) * 60 * 1_000_000
    raw = rng.integers(0, 1000, n, dtype=np.int64)
    nulls = np.zeros(n, dtype=bool)
    for start, length in zip(np.flatnonzero(rng.random(n) < 0.01),
                             rng.integers(1, 9, n)):
        nulls[start:start + length] = True
    return pa.table({
        "inverter": inverter,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "raw": pa.array(raw, pa.int64(), mask=nulls),
    })


def write_window_input(seed, out_dir):
    """The window table as one parquet file. Returns its path."""
    os.makedirs(out_dir, exist_ok=True)
    path = f"{out_dir}/telemetry.parquet"
    table = window_table(seed)
    _write(table, path, table.num_rows // 4)
    return path
