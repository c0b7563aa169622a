"""Deterministic synthetic transcripts generator.

Produces the engine's primary input table (``BASELINE.json`` input_hint):
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)`` with the stress properties listed in ``FIXTURES.md`` §1:

* Zipf-skewed conversation sizes (a few "hot" conv_ids → skew/salting paths)
* strictly increasing ``ts`` within a conversation; occasional gaps > 30 min
  (session-window boundaries)
* exact duplicate rows for a fraction of (conv_id, turn_idx) pairs —
  full row copies, so dedup keep-first (streaming) and keep-any (batch)
  agree, mirroring the reference's reprocessing-duplicate scenario
  (``milestone_silver.md:11-16``)
* out-of-order arrival: the emitted row order is by ``ts`` + bounded
  lateness jitter, NOT event order (late-data / watermark tests)
* dirty rows: null role / null ts / null conv_id / negative turn_idx /
  null-or-empty text (cleansing tests, ``silver_glue_job.py:253-263`` analog)

Everything is seeded (numpy PCG64, seed=42 by default); no wall clock, no
external data. The same config always yields byte-identical parquet.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .. import CHECKOUT_ROOT

BASE_TS = np.datetime64("2025-01-01T00:00:00", "us")
_VOCAB = np.array(
    [
        "plan", "query", "join", "window", "state", "stream", "batch", "shuffle",
        "agg", "merge", "table", "turn", "tool", "call", "reply", "think",
        "search", "code", "run", "test", "fix", "parse", "read", "write",
        "index", "cache", "spill", "skew", "salt", "prune", "scan", "commit",
    ]
)
_TOOLS = np.array(["search", "browser", "python", "calculator", "sql", "shell"])

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ]
)


@dataclass(frozen=True)
class TranscriptConfig:
    n_turns: int = 20_000
    seed: int = 42
    mean_turns_per_conv: int = 12
    n_hot_convs: int = 3
    hot_conv_frac: float = 0.02  # each hot conv ≈ this fraction of all turns
    duplicate_rate: float = 0.02
    late_rate: float = 0.05
    max_lateness_s: float = 600.0  # bounded: within a 15-min watermark
    session_gap_rate: float = 0.03  # inter-turn gaps > 30 min
    null_role_rate: float = 0.01
    null_ts_rate: float = 0.004
    null_conv_rate: float = 0.004
    neg_turn_rate: float = 0.004
    null_text_rate: float = 0.02
    tool_rate: float = 0.18  # fraction of assistant-slot turns that are tool calls


def _words_for(h: np.ndarray, n_words: int = 10) -> np.ndarray:
    """Vectorized deterministic pseudo-text: n_words vocab picks per hash."""
    cols = []
    x = h.astype(np.uint64)
    for i in range(n_words):
        x = x * np.uint64(6364136223846793005) + np.uint64(1442695040888963407 + i)
        cols.append(_VOCAB[(x >> np.uint64(33)) % np.uint64(len(_VOCAB))])
    out = cols[0].astype(object)
    for c in cols[1:]:
        out = out + " " + c
    return out


def generate_transcripts(cfg: TranscriptConfig) -> pd.DataFrame:
    """Return the transcripts table as a pandas DataFrame in ARRIVAL order."""
    rng = np.random.default_rng(cfg.seed)

    # --- conversation sizes: geometric body + a few hot heads (Zipf-ish skew)
    hot_size = max(int(cfg.n_turns * cfg.hot_conv_frac), 50)
    sizes: list[int] = [hot_size] * cfg.n_hot_convs
    total = hot_size * cfg.n_hot_convs
    while total < cfg.n_turns:
        s = int(rng.geometric(1.0 / cfg.mean_turns_per_conv))
        s = max(2, min(s, 200))
        sizes.append(s)
        total += s
    sizes_arr = np.array(sizes, dtype=np.int64)
    n_convs = len(sizes_arr)
    conv_num = np.repeat(np.arange(n_convs), sizes_arr)
    turn_idx = np.concatenate([np.arange(s) for s in sizes_arr]).astype(np.int32)
    n = len(conv_num)

    # --- event time: per-conv start spread over 7 days, strictly increasing
    conv_start_s = rng.uniform(0, 7 * 24 * 3600, size=n_convs)
    gaps = rng.uniform(3.0, 120.0, size=n)
    long_gap = rng.random(n) < cfg.session_gap_rate
    gaps = np.where(long_gap, rng.uniform(1900.0, 7200.0, size=n), gaps)
    gaps[turn_idx == 0] = 0.0
    # grouped cumsum (conversations are contiguous runs)
    cum = np.cumsum(gaps)
    group_starts = np.zeros(n, dtype=np.int64)
    group_starts[np.cumsum(sizes_arr)[:-1]] = 1
    first_row = np.concatenate([[0], np.cumsum(sizes_arr)[:-1]])
    offset = np.repeat(cum[first_row] - gaps[first_row], sizes_arr)
    rel_s = cum - offset
    ts_s = conv_start_s[conv_num] + rel_s

    # --- roles: user/assistant alternation; some assistant slots are tools
    is_user = turn_idx % 2 == 0
    is_tool = (~is_user) & (rng.random(n) < cfg.tool_rate)
    role = np.where(is_user, "user", np.where(is_tool, "tool", "assistant")).astype(object)
    tool = np.where(
        is_tool | ((~is_user) & (rng.random(n) < 0.05)),
        _TOOLS[rng.integers(0, len(_TOOLS), size=n)],
        None,
    ).astype(object)

    # --- deterministic text keyed by (conv, turn): per-turn equality invariant
    h = conv_num.astype(np.uint64) * np.uint64(1000003) + turn_idx.astype(np.uint64) * np.uint64(7919)
    text = _words_for(h)
    prefix = np.char.add(
        np.char.add(np.char.add("c", conv_num.astype("U10")), ":t"),
        turn_idx.astype("U10"),
    ).astype(object)
    text = prefix + " " + text
    null_text = rng.random(n) < cfg.null_text_rate
    text[null_text & (rng.random(n) < 0.5)] = None
    text[null_text & pd.notna(text) & (rng.random(n) < 0.5)] = ""

    conv_id = np.char.add("conv-", np.char.zfill(conv_num.astype("U10"), 6)).astype(object)

    df = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool,
            "ts_s": ts_s,
        }
    )

    # --- dirty rows (cleansing fodder): mutate a small disjoint sample each
    dirty = rng.random(n)
    df.loc[dirty < cfg.null_role_rate, "role"] = None
    m = (dirty >= cfg.null_role_rate) & (dirty < cfg.null_role_rate + cfg.null_ts_rate)
    df.loc[m, "ts_s"] = np.nan
    lo = cfg.null_role_rate + cfg.null_ts_rate
    m = (dirty >= lo) & (dirty < lo + cfg.null_conv_rate)
    df.loc[m, "conv_id"] = None
    lo += cfg.null_conv_rate
    m = (dirty >= lo) & (dirty < lo + cfg.neg_turn_rate)
    df.loc[m, "turn_idx"] = -df.loc[m, "turn_idx"] - 1
    # role case noise (silver normalizes with lower())
    up = rng.random(n) < 0.03
    df.loc[up & df["role"].notna(), "role"] = (
        df.loc[up & df["role"].notna(), "role"].str.upper()
    )

    # --- exact duplicates: full row copies (reprocessing scenario)
    dup_mask = rng.random(len(df)) < cfg.duplicate_rate
    dups = df[dup_mask].copy()
    df = pd.concat([df, dups], ignore_index=True)

    # --- arrival order: ts + bounded lateness jitter (late rows arrive late)
    n2 = len(df)
    late = rng.random(n2) < cfg.late_rate
    arrival = df["ts_s"].fillna(0.0).to_numpy() + np.where(
        late, rng.uniform(60.0, cfg.max_lateness_s, size=n2), rng.uniform(0.0, 5.0, size=n2)
    )
    df = df.iloc[np.argsort(arrival, kind="stable")].reset_index(drop=True)

    ts_s_arr = df.pop("ts_s").to_numpy(dtype="float64")
    valid = ~np.isnan(ts_s_arr)
    ts_arr = np.full(len(ts_s_arr), np.datetime64("NaT", "us"))
    ts_arr[valid] = BASE_TS + (ts_s_arr[valid] * 1e6).astype("int64").astype(
        "timedelta64[us]"
    )
    df["ts"] = ts_arr
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


# ---------------------------------------------------------------------------
# materialization / caching
# ---------------------------------------------------------------------------

DATA_ROOT = os.environ.get(
    "SPARK_GRAFT_DATA_ROOT", os.path.join(CHECKOUT_ROOT, "data", "transcripts")
)

_SF_TURNS = {0.001: 2_000, 0.01: 20_000, 0.1: 200_000}


def sf_from_dir(sf_dir: str) -> float:
    """Extract the scale factor from a testdata dir like '/root/testdata/sf0.01'."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.01


def n_turns_for_sf(sf: float) -> int:
    return _SF_TURNS.get(sf, max(2_000, int(sf * 2_000_000)))


def transcripts_path(sf: float) -> str:
    return os.path.join(DATA_ROOT, f"sf{sf}", "transcripts.parquet")


def stream_dir(sf: float) -> str:
    return os.path.join(DATA_ROOT, f"sf{sf}", "stream")


def ensure_transcripts(sf: float, n_stream_files: int = 16) -> str:
    """Generate (once, cached) the transcripts table for a scale factor.

    Writes two layouts from the SAME rows, both in arrival order:
      * ``transcripts.parquet`` — single file (DuckDB-oracle-friendly path)
      * ``stream/part-*.parquet`` — N chunk files, for rate-controlled
        streaming reads via ``maxFilesPerTrigger`` (each file ≈ one
        micro-batch of arrivals; the Iceberg-source analog per SURVEY §1.4)
    """
    path = transcripts_path(sf)
    sdir = stream_dir(sf)
    if os.path.exists(path) and os.path.isdir(sdir) and os.listdir(sdir):
        return path
    cfg = TranscriptConfig(n_turns=n_turns_for_sf(sf))
    df = generate_transcripts(cfg)
    table = pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    os.makedirs(sdir, exist_ok=True)
    chunk = max(1, len(df) // n_stream_files + 1)
    for i in range(0, len(df), chunk):
        t = pa.Table.from_pandas(df.iloc[i : i + chunk], schema=SCHEMA, preserve_index=False)
        pq.write_table(t, os.path.join(sdir, f"part-{i // chunk:05d}.parquet"), compression="snappy")
    return path
