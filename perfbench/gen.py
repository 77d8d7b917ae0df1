"""Seeded inputs for the benchmark workloads.

Every table here is a pure function of the seed: the same seed gives
byte-identical files, another seed gives different ones. Nothing here
touches Spark, so generation stays outside every timed region.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
JAN_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
HORIZON_US = 30 * 86_400 * 1_000_000  # the testdata's January-2024 horizon

#: near-copy rates of the arrival backlog, per file
CROSS_BATCH_RATE = 0.06  # copies of a document from an earlier file
SAME_BATCH_RATE = 0.04  # copies of a document earlier in the same file
#: share of a copy's words replaced; 3-gram Jaccard stays >= 0.8
EDIT_RATE = 0.03

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def seeded_rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def events_table(seed: int, n_rows: int) -> pa.Table:
    """Events with the testdata schema: ``ts`` sorted over January
    2024, ~67 events per user, five event types, exponential values and
    a ``{"k": 0..99}`` props payload."""
    rng = seeded_rng(seed, 1)
    ts = np.sort(rng.integers(0, HORIZON_US, n_rows)) + JAN_2024_US
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_rows), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_rows * 3 // 200), n_rows)),
            "event_type": pa.array(
                np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_rows)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
            "props": pa.array(props[rng.integers(0, 100, n_rows)]),
        }
    )


def write_events(sf_dir: Path, seed: int, n_rows: int) -> Path:
    sf_dir.mkdir(parents=True, exist_ok=True)
    path = sf_dir / "events.parquet"
    pq.write_table(events_table(seed, n_rows), path)
    return path


def vocabulary(rng: np.random.Generator, size: int = 4000) -> np.ndarray:
    """Pronounceable synthetic words; large enough that two independent
    documents share no word 3-gram."""
    cons = list("bcdfghjklmnprstvz")
    vows = list("aeiou")
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        words.add(
            "".join(rng.choice(cons) + rng.choice(vows) for _ in range(n))
        )
    return np.array(sorted(words), dtype=object)


@dataclass
class Backlog:
    """The arrival backlog: one parquet file per micro-batch, plus the
    planted ground truth ``copies`` (copy doc_id -> origin doc_id) and
    each file's doc_ids."""

    files: list[Path] = field(default_factory=list)
    file_ids: list[list[int]] = field(default_factory=list)
    copies: dict[int, int] = field(default_factory=dict)


def _edit(rng, words: list[str], vocab: np.ndarray) -> list[str]:
    out = list(words)
    n_edits = max(1, round(EDIT_RATE * len(out)))
    for pos in rng.choice(len(out), n_edits, replace=False):
        out[pos] = vocab[rng.integers(len(vocab))]
    return out


def write_backlog(
    staging: Path, seed: int, n_files: int, docs_per_file: int
) -> Backlog:
    """Files of ``docs_per_file`` documents. Each file plants near-copies
    of clean documents from earlier files (``CROSS_BATCH_RATE``) and of
    clean documents earlier in the same file (``SAME_BATCH_RATE``; the
    copy gets the larger id). Every origin is copied at most once and
    is never itself a copy, so each copy has exactly one right match."""
    rng = seeded_rng(seed, 2)
    vocab = vocabulary(rng)
    staging.mkdir(parents=True, exist_ok=True)
    out = Backlog()
    pool: list[tuple[int, list[str]]] = []  # clean, not yet copied
    next_id = 0
    for f in range(n_files):
        n_cross = min(len(pool), round(docs_per_file * CROSS_BATCH_RATE))
        n_same = round(docs_per_file * SAME_BATCH_RATE)
        n_clean = docs_per_file - n_cross - n_same
        clean = [
            (next_id + i, list(vocab[rng.integers(len(vocab), size=int(rng.integers(40, 100)))]))
            for i in range(n_clean)
        ]
        next_id += n_clean
        same_origins = set(rng.choice(n_clean, n_same, replace=False).tolist())
        cross_origins = sorted(
            rng.choice(len(pool), n_cross, replace=False).tolist(), reverse=True
        )
        origins = [clean[i] for i in sorted(same_origins)] + [
            pool.pop(i) for i in cross_origins
        ]
        docs = list(clean)
        for origin_id, words in origins:
            out.copies[next_id] = origin_id
            docs.append((next_id, _edit(rng, words, vocab)))
            next_id += 1
        pool.extend(d for i, d in enumerate(clean) if i not in same_origins)
        path = staging / f"part-{f:05d}.parquet"
        pq.write_table(
            pa.table(
                {
                    "doc_id": [d[0] for d in docs],
                    "text": [" ".join(d[1]) for d in docs],
                },
                schema=DOC_SCHEMA,
            ),
            path,
        )
        out.files.append(path)
        out.file_ids.append([d[0] for d in docs])
    return out


def digest(paths: list[Path]) -> str:
    """sha256 over the bytes of ``paths`` in order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(Path(p).read_bytes())
    return h.hexdigest()
