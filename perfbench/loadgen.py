"""Seeded load generator for the benchmark; it is not part of the system
under test.

Every input is a pure function of ``(workload, seed, size)`` and is built
with numpy, outside Spark, so generation neither warms nor loads the JVM
the benchmark then measures. Generated files are cached under the
benchmark's work directory, keyed by those three values.

Transcripts follow the engine's input schema and the reference's job-size
mix (small 1-3 turns 40 %, medium 4-10 50 %, large 11-20 10 %); the text
is 5-200 tokens, a quarter of them the conversation's bias label.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from distributed_classification_system_spark.sources.gen import (
    ALL_MARKERS,
    FILLER,
    JOB_TYPES,
    THRESHOLDS,
    TOOLS,
)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        pa.field("ts", pa.timestamp("us"), nullable=False),
    ]
)
CONFIG_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("job_type", pa.string(), nullable=False),
        pa.field("top_k", pa.int32(), nullable=False),
        pa.field("confidence_threshold", pa.float64(), nullable=False),
        pa.field("n_turns", pa.int32(), nullable=False),
    ]
)
MEAN_TURNS = 5.85
BASE_TS_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z
TURN_GAP_S = 7


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) << (8 * (i % 4)) for i, c in enumerate(tag))])


def transcripts(seed: int, n_convs: int) -> tuple[pa.Table, pa.Table]:
    """(turns, conv_config) for ``n_convs`` conversations, turns sorted by ts."""
    r = _rng(seed, "transcripts")
    band = r.random(n_convs)
    size = r.random(n_convs)
    n_turns = np.where(
        band < 0.4, 1 + np.floor(size * 3),
        np.where(band < 0.9, 4 + np.floor(size * 7), 11 + np.floor(size * 10)),
    ).astype(np.int32)
    conv_ids = np.array([f"conv-{i:08d}" for i in range(n_convs)], dtype=object)
    job = np.array(JOB_TYPES, dtype=object)[r.integers(0, len(JOB_TYPES), n_convs)]
    top_k = r.integers(1, 11, n_convs).astype(np.int32)
    thr = np.array(THRESHOLDS)[r.integers(0, len(THRESHOLDS), n_convs)]
    bias = r.integers(0, len(ALL_MARKERS), n_convs)
    # conversations start spread over the first n_convs seconds of the day
    start_s = r.permutation(n_convs)

    conv_of = np.repeat(np.arange(n_convs), n_turns)
    turn_idx = (np.arange(len(conv_of)) - np.repeat(np.cumsum(n_turns) - n_turns, n_turns)).astype(np.int32)
    n = len(conv_of)
    rot = r.integers(0, 5, n_convs)[conv_of]
    role = np.where(
        (turn_idx + rot) % 5 == 4, "tool", np.where(turn_idx % 2 == 0, "user", "assistant")
    ).astype(object)
    tool = np.where(
        r.random(n) >= 0.7, np.array(TOOLS, dtype=object)[r.integers(0, len(TOOLS), n)], None
    )
    vocab = np.array(FILLER + ALL_MARKERS, dtype=object)
    n_tok = r.integers(5, 201, n)
    tok = r.integers(0, len(FILLER), int(n_tok.sum()))
    marker = r.random(len(tok)) < 0.25
    tok[marker] = len(FILLER) + np.repeat(bias[conv_of], n_tok)[marker]
    words = vocab[tok]
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    text = np.array([" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)], dtype=object)
    ts = BASE_TS_US + (start_s[conv_of].astype(np.int64) + turn_idx.astype(np.int64) * TURN_GAP_S) * 1_000_000

    order = np.lexsort((turn_idx, conv_of, ts))
    turns = pa.table(
        {
            "conv_id": conv_ids[conv_of][order],
            "turn_idx": turn_idx[order],
            "role": role[order],
            "text": text[order],
            "tool": tool[order],
            "ts": ts[order],
        },
        schema=TRANSCRIPT_SCHEMA,
    )
    config = pa.table(
        {
            "conv_id": conv_ids,
            "job_type": job,
            "top_k": top_k,
            "confidence_threshold": thr,
            "n_turns": n_turns,
        },
        schema=CONFIG_SCHEMA,
    )
    return turns, config


def n_convs_for_turns(n_turns: int) -> int:
    return max(1, int(n_turns / MEAN_TURNS))


def write_slices(turns: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ts-sorted turns into ``n_files`` time-ordered parquet files with
    ascending mtimes, so the file source replays them in event-time order."""
    os.makedirs(out_dir, exist_ok=True)
    edges = np.linspace(0, turns.num_rows, n_files + 1).astype(int)
    now = time.time()
    for i in range(n_files):
        p = os.path.join(out_dir, f"f{i:05d}.parquet")
        pq.write_table(turns.slice(edges[i], edges[i + 1] - edges[i]), p)
        t = now - (n_files - i)
        os.utime(p, (t, t))


class InputCache:
    """Generated inputs under ``root``, one directory per (workload, seed, size).

    A directory is complete once its ``done.json`` exists; anything else is
    a leftover from an interrupted run and is rebuilt. Only the ``keep``
    most recently built directories stay."""

    keep = 16

    def __init__(self, root: str):
        self.root = root
        self.recorded_gen_s = 0.0  # generation time of every input used, cached or not

    def get(self, workload: str, seed: int, size: int, build) -> tuple[str, float]:
        """Return (directory, generation seconds spent now; 0.0 when cached)."""
        d = os.path.join(self.root, f"{workload}-s{seed}-n{size}")
        done = os.path.join(d, "done.json")
        if os.path.exists(done):
            os.utime(d)  # recently used: keep it through pruning
            with open(done) as f:
                self.recorded_gen_s += json.load(f)["gen_s"]
            return d, 0.0
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t0 = time.perf_counter()
        build(d)
        gen_s = time.perf_counter() - t0
        with open(done, "w") as f:
            json.dump({"gen_s": gen_s}, f)
        self.recorded_gen_s += gen_s
        self._prune()
        return d, gen_s

    def _prune(self) -> None:
        dirs = sorted((os.path.join(self.root, e) for e in os.listdir(self.root)),
                      key=os.path.getmtime)
        for old in dirs[:-self.keep]:
            shutil.rmtree(old, ignore_errors=True)


def build_stream_input(d: str, seed: int, n_turns: int, n_files: int) -> None:
    turns, config = transcripts(seed, n_convs_for_turns(n_turns))
    write_slices(turns, os.path.join(d, "files"), n_files)
    os.makedirs(os.path.join(d, "conv_config"))
    pq.write_table(config, os.path.join(d, "conv_config", "part-0.parquet"))
