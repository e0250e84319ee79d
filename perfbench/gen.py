"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, scale)``: the same seed gives
byte-identical parquet, so the program under test only ever sees the
generated files.  The shapes follow the engine's testdata tables
(``events`` and ``documents`` at ``sf`` = 1.0 -> 1M events, 50k documents)
so the package's ``queries()`` run on them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
WORDS = np.array(
    (
        "spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row the "
        "agg key query a scan batch"
    ).split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
TS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_SPAN_US = 30 * 86_400 * 1_000_000
DUP_SHARE = 0.05


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _event_columns(
    rng: np.random.Generator, user_ids: np.ndarray, first_event_id: int
) -> dict[str, np.ndarray]:
    n = len(user_ids)
    ts = np.sort(rng.integers(0, TS_SPAN_US, n)) + TS_START_US
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
    )
    return {
        "event_id": np.arange(first_event_id, first_event_id + n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": user_ids.astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": props,
    }


def events_table(seed: int, sf: float = 0.1) -> pa.Table:
    """``events`` (event_id, ts, user_id, event_type, value, props):
    1M x sf events over 15k x sf users, uniform user and type draws."""
    n, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 1)
    rng = _rng(seed, 1)
    return pa.table(_event_columns(rng, rng.integers(0, n_users, n), 0))


def replicate_events(events: pa.Table, copies: int) -> pa.Table:
    """``copies`` disjoint replicas: replica r shifts user and event ids
    past every id of the replicas before it, so each replica adds new
    conversations with the same turns."""
    user_span = int(pc.max(events["user_id"]).as_py()) + 1
    n = events.num_rows
    parts = []
    for r in range(copies):
        parts.append(
            events.set_column(
                0, "event_id", pc.add(events["event_id"], r * n)
            ).set_column(
                2, "user_id", pc.add(events["user_id"], r * user_span)
            )
        )
    return pa.concat_tables(parts)


def documents_table(seed: int, sf: float = 0.1) -> pa.Table:
    """``documents`` (doc_id, text, lang, source, n_chars): 50k x sf docs
    of 10-100 words from a 30-word vocabulary; 5% are an earlier
    document's text plus `` dup`` (near-duplicates for the dedup ops)."""
    n = int(50_000 * sf)
    rng = _rng(seed, 2)
    lengths = rng.integers(10, 101, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    is_dup = rng.random(n) < DUP_SHARE
    is_dup[0] = False
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[src[i]] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": np.char.add("src", (doc_id % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def event_shard(
    seed: int,
    i: int,
    turns_per_shard: int = 10_000,
    users_per_shard: int = 150,
    hot_users: int = 3,
    hot_share: float = 0.3,
) -> pa.Table:
    """The i-th arriving ``events`` shard.  It owns users
    ``[i*users_per_shard, (i+1)*users_per_shard)`` (every conversation
    lives in exactly one shard, as ``checkpointed_fanout`` requires);
    ``hot_users`` of them carry ``hot_share`` of the shard's turns."""
    rng = _rng(seed, 100 + i)
    n_hot = int(turns_per_shard * hot_share)
    local = np.concatenate(
        [
            rng.integers(0, hot_users, n_hot),
            rng.integers(hot_users, users_per_shard, turns_per_shard - n_hot),
        ]
    )
    rng.shuffle(local)
    users = local + i * users_per_shard
    return pa.table(_event_columns(rng, users, i * turns_per_shard))


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
