"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Rows come from ``datagen.transcripts.generate_transcripts`` — hot
conversations, exact duplicates, late rows and dirty rows, in arrival
order — and are cut into equal parquet part files whose mtimes follow
arrival order (both the file source and the Python Data Source replay a
directory in (mtime, name) order). A drain source ends with a flush
sentinel row far past the last event time, so every append-mode window
closes and the drained sinks can be compared with the batch oracles.

The cache lives under the benchmark's state directory (``.perfbench/`` at
the checkout root, ignored by git), outside the tracked tree and outside
``data/``; it is built before any timed phase.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from crypto_near_real_time_data_ingestion_spark.datagen.flush import FLUSH_CONV_ID
from crypto_near_real_time_data_ingestion_spark.datagen.transcripts import (
    SCHEMA,
    TranscriptConfig,
    generate_transcripts,
)

FLUSH_FILE = "zz-flush.parquet"
_MTIME_BASE = 1_000_000_000


@dataclass(frozen=True)
class Source:
    path: str
    parts: list[str]  # real part files, arrival order
    rows: list[int]  # rows per part file
    ts_range: list[tuple]  # (min ts, max ts) per part file, numpy datetime64


def flush_table(after_ts) -> pa.Table:
    """One sentinel row 26 h past ``after_ts`` (clears hour and day windows
    plus the watermark)."""
    df = pd.DataFrame(
        {
            "conv_id": [FLUSH_CONV_ID],
            "turn_idx": np.array([0], dtype="int32"),
            "role": ["user"],
            "text": ["flush"],
            "tool": [None],
            "ts": [pd.Timestamp(after_ts) + pd.Timedelta(hours=26)],
        }
    )
    return pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False)


def _describe(path: str) -> Source:
    parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    rows, rng = [], []
    for p in parts:
        t = pq.read_table(p, columns=["ts"])
        rows.append(t.num_rows)
        ts = t.column("ts").to_numpy()
        ts = ts[~np.isnat(ts)]
        rng.append((ts.min(), ts.max()))
    return Source(path, parts, rows, rng)


def make_source(
    cache_dir: str, seed: int, n_turns: int, n_files: int, flush: bool
) -> Source:
    """Seeded stream source of ``n_files`` part files (plus the flush
    sentinel when ``flush``); built once per parameter set."""
    name = f"seed{seed}-n{n_turns}-f{n_files}" + ("-flush" if flush else "")
    dest = os.path.join(cache_dir, name)
    if os.path.isdir(dest):
        return _describe(dest)
    tmp = dest + f".build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    df = generate_transcripts(TranscriptConfig(n_turns=n_turns, seed=seed))
    chunk = -(-len(df) // n_files)
    for i in range(n_files):
        f = os.path.join(tmp, f"part-{i:05d}.parquet")
        t = pa.Table.from_pandas(
            df.iloc[i * chunk : (i + 1) * chunk], schema=SCHEMA, preserve_index=False
        )
        pq.write_table(t, f, compression="snappy")
        os.utime(f, (_MTIME_BASE + i, _MTIME_BASE + i))
    if flush:
        f = os.path.join(tmp, FLUSH_FILE)
        pq.write_table(flush_table(df["ts"].max()), f)
        os.utime(f, (_MTIME_BASE + n_files, _MTIME_BASE + n_files))
    try:
        os.rename(tmp, dest)
    except OSError:
        # another run built the same source first
        shutil.rmtree(tmp, ignore_errors=True)
    return _describe(dest)


def head(src: Source, n_files: int) -> Source:
    """The first ``n_files`` part files of a flushed ``src`` plus its flush
    sentinel, as a source of its own (same files, same arrival order)."""
    dest = f"{src.path}-head{n_files}"
    if not os.path.isdir(dest):
        tmp = dest + f".build-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for f in src.parts[:n_files] + [os.path.join(src.path, FLUSH_FILE)]:
            shutil.copy2(f, os.path.join(tmp, os.path.basename(f)))
        try:
            os.rename(tmp, dest)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return _describe(dest)
