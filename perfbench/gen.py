"""Seeded transcript generator owned by the benchmark.

Writes the north-star input table ``(conv_id, turn_idx, role, text, tool,
ts)`` as parquet, with numpy only, so nothing in the engine can change the
inputs a seed produces. The engine sees only the files.

Knobs (``Shape``): conversation count, a log-normal turn-length
distribution with a few long "hub" conversations, and the role/tool mix.
Hub length is fixed, so the longest turn chain -- which bounds WCC/SCC
round counts and PageRank's DAG convergence -- is the same for every seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ("user", "assistant", "tool", "system")
TOOLS = ("search", "code", "sql", "browse", "files", "math", "plot", "shell")


@dataclass(frozen=True)
class Shape:
    convs: int
    hubs: int = 4              # long conversations, ``hub_turns`` each
    hub_turns: int = 8
    turns_mu: float = 1.4      # log-normal turn length: exp(N(mu, sigma))
    turns_sigma: float = 0.5
    max_turns: int = 6         # non-hub conversations are clipped to this
    role_p: tuple = (0.40, 0.42, 0.13, 0.05)
    tool_p: float = 0.35       # share of turns that call a tool
    files: int = 8             # parquet parts, so the scan is parallel


def make_table(shape: Shape, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = shape.convs
    turns = np.clip(np.rint(rng.lognormal(shape.turns_mu, shape.turns_sigma, n)),
                    2, shape.max_turns).astype(np.int64)
    hubs = rng.choice(n, size=min(shape.hubs, n), replace=False)
    turns[hubs] = shape.hub_turns
    conv = np.repeat(np.arange(n, dtype=np.int64), turns)
    starts = np.repeat(np.cumsum(turns) - turns, turns)
    turn_idx = np.arange(len(conv), dtype=np.int64) - starts
    total = len(conv)
    role = np.asarray(ROLES, dtype=object)[
        rng.choice(len(ROLES), size=total, p=shape.role_p)]
    tool_w = 1.0 / np.arange(1, len(TOOLS) + 1)
    tool_ix = rng.choice(len(TOOLS), size=total, p=tool_w / tool_w.sum())
    tool = np.where(rng.random(total) < shape.tool_p,
                    np.asarray(TOOLS, dtype=object)[tool_ix], None)
    conv_id = pd.Series(conv).map("conv_{:07d}".format)
    text = conv_id + ":" + pd.Series(turn_idx).astype(str) + ":" + role
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (conv * 100_000 + turn_idx * 7).astype("timedelta64[s]"))
    return pd.DataFrame({
        "conv_id": conv_id, "turn_idx": turn_idx.astype(np.int32),
        "role": role, "text": text, "tool": tool, "ts": ts,
    })


SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def write_table(df: pd.DataFrame, out_dir: str, files: int) -> None:
    """Split on conversation boundaries into ``files`` parquet parts."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(df), files + 1).astype(int)
    conv = df["conv_id"].to_numpy()
    for i in range(files):
        lo, hi = bounds[i], bounds[i + 1]
        # move the cut forward to the next conversation start
        while 0 < lo < len(df) and conv[lo] == conv[lo - 1]:
            lo += 1
        while 0 < hi < len(df) and conv[hi] == conv[hi - 1]:
            hi += 1
        part = pa.Table.from_pandas(df.iloc[lo:hi], schema=SCHEMA,
                                    preserve_index=False)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))


def ensure_table(shape: Shape, seed: int, out_dir: str) -> pd.DataFrame:
    """Generate once per (shape, seed); later calls re-read the same files."""
    marker = os.path.join(out_dir, "_DONE")
    if not os.path.exists(marker):
        write_table(make_table(shape, seed), out_dir, shape.files)
        with open(marker, "w") as f:
            f.write(repr(shape))
    return pq.read_table(out_dir).to_pandas()
