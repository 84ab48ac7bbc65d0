"""Seeded input generators for the service benchmark.

Every streaming message is a *replica* of one content id: replicas of a
content share the payload (``event_type``, ``value``) and the non-ignored
property ``mqttTopic``, and differ only in ``event_ts`` and in the ignored
MQTT transport properties (FIXTURES.md §A.2). The benchmark's dedup config
ignores exactly those keys, so replicas of one content id hash equal and
distinct content ids hash apart. Message ids are unique per message and map
back to their content id, which is what the correctness model checks.

The batch tables for ``batch_dedup`` mimic the shape of the driver-generated
corpus tables (``documents``, ``embeddings``, ``events``) at a fixed seed.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

IGNORED = ("mqttQos", "mqttIsRetained", "mqttIsDuplicate")
TYPES = ("view", "click", "purchase", "signup", "error")

#: the service's warm-up clock (``start_dedup_service(now_ts=...)``)
NOW_TS = "2024-01-03 00:00:00"
_NOW_US = 1_704_240_000_000_000  # NOW_TS as epoch micros (UTC)
_HOUR_US = 3_600_000_000
#: live traffic is stamped an hour before the warm-up clock
LIVE_BASE_US = _NOW_US - _HOUR_US

#: a stream file's physical schema; UTC-adjusted timestamps read as
#: TIMESTAMP both through the schema probe and the empty-directory fallback
STREAM_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def content_props(cid: int, rng: np.random.Generator) -> str:
    return json.dumps(
        {
            "mqttTopic": f"apc-from-vehicle/v1/fi/waltti/telia/JL{cid % 997}-APC",
            "mqttQos": str(int(rng.integers(0, 3))),
            "mqttIsRetained": "true" if rng.random() < 0.5 else "false",
            "mqttIsDuplicate": "true" if rng.random() < 0.5 else "false",
        },
        separators=(",", ":"),
    )


def message_table(
    cids: np.ndarray, msg_ids: np.ndarray, ts_us: np.ndarray, rng
) -> pa.Table:
    """Rows for the given (content id, message id, event time) triples."""
    return pa.table(
        {
            "event_id": pa.array(msg_ids, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cids % 1500, pa.int64()),
            "event_type": pa.array([TYPES[c % len(TYPES)] for c in cids.tolist()]),
            # cid / 4 is exact in binary and distinct per content id
            "value": pa.array(cids / 4.0 + 0.25, pa.float64()),
            "props": pa.array([content_props(c, rng) for c in cids.tolist()]),
        },
        schema=STREAM_SCHEMA,
    )


@dataclass
class MessageSet:
    """A generated message stream, cut into files in arrival order."""

    cids: np.ndarray  # content id per message, in arrival order
    file_rows: list[int]  # message count of each file, in arrival order

    @property
    def n(self) -> int:
        return len(self.cids)


def replica_stream(
    rng: np.random.Generator,
    n_msgs: int,
    n_contents: int,
    cid_base: int = 0,
) -> np.ndarray:
    """``n_msgs`` messages over ``n_contents`` content ids, every content id
    present at least once, the rest drawn uniformly, in a random arrival
    order (so replicas cross file and batch boundaries)."""
    cids = np.concatenate(
        [
            np.arange(n_contents),
            rng.integers(0, n_contents, n_msgs - n_contents),
        ]
    )
    rng.shuffle(cids)
    return cids.astype(np.int64) + cid_base


def write_files(out_dir: str, cids: np.ndarray, n_files: int, rng) -> MessageSet:
    """Cut ``cids`` into ``n_files`` equal parquet files named in arrival
    order under ``out_dir``; a message's id is its arrival position."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(cids), n_files + 1).astype(int)
    rows = []
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        part = cids[lo:hi]
        ts = LIVE_BASE_US + rng.integers(0, 600_000_000, len(part))
        tbl = message_table(part, np.arange(lo, hi), ts, rng)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:05d}.parquet"))
        rows.append(int(hi - lo))
    return MessageSet(cids=cids, file_rows=rows)


def write_contents(out_dir: str, cids: np.ndarray, rng) -> None:
    """One representative message per content id, as ``events.parquet``
    under ``out_dir`` — the batch input for computing seed digests."""
    os.makedirs(out_dir, exist_ok=True)
    ts = np.full(len(cids), LIVE_BASE_US)
    pq.write_table(
        message_table(cids, np.arange(len(cids)), ts, rng),
        os.path.join(out_dir, "events.parquet"),
    )


def prior_output_table(
    in_window: list[str], out_of_window: list[str], malformed_of: list[str]
) -> pa.Table:
    """The service's prior output as the warm-up scans it
    (``publish_ts``/``event_ts`` + ``origin``):

    * ``in_window`` digests inside the cache window (they seed the state);
    * ``out_of_window`` digests published before the cache window (they
      must not seed);
    * malformed ``origin`` values, including arrays that carry a real
      digest next to an invalid element (message-granular rejection, so
      those digests must not seed either).
    """
    origins, pub = [], []
    for i, d in enumerate(in_window):
        origins.append(json.dumps([d]))
        pub.append(_NOW_US - (i % 40) * _HOUR_US - 1)
    for i, d in enumerate(out_of_window):
        origins.append(json.dumps([d]))
        pub.append(_NOW_US - (49 + i % 100) * _HOUR_US)
    bad = ["not json", "{}", "[42]", '[""]', "[]"]
    for i, d in enumerate(malformed_of):
        origins.append(json.dumps([d, ""]) if i % 2 else json.dumps([d, 7]))
        pub.append(_NOW_US - 2 * _HOUR_US)
    for b in bad:
        origins.append(b)
        pub.append(_NOW_US - 2 * _HOUR_US)
    pub_arr = pa.array(pub, pa.timestamp("us", tz="UTC"))
    return pa.table({"publish_ts": pub_arr, "event_ts": pub_arr, "origin": origins})


# ─── batch corpus for the registry's dedup family ──────────────────────────

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def write_batch_corpus(out_dir: str, n_docs: int, n_vecs: int, n_events: int):
    """``documents``, ``embeddings`` and ``events`` parquet tables at a fixed
    seed: random word documents with ~5% planted near-duplicates (a copy of
    an earlier document plus one token), unit-norm 64-d float embeddings in
    ten labels, and events with ~1% repeated content."""
    rng = np.random.default_rng(20240101)
    os.makedirs(out_dir, exist_ok=True)

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(_WORDS, k).tolist()))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": texts,
                "lang": rng.choice(_LANGS, n_docs, p=_LANG_P).tolist(),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    vecs = rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )

    base = 1_704_067_200_000_000  # 2024-01-01 UTC
    ts = np.sort(base + rng.integers(0, 30 * 24 * _HOUR_US, n_events))
    types = rng.choice(TYPES, n_events)
    values = np.round(rng.exponential(50.0, n_events), 2)
    ks = rng.integers(0, 100, n_events)
    rep = rng.random(n_events) < 0.01
    src = rng.integers(0, n_events, n_events)
    types[rep], values[rep], ks[rep] = types[src[rep]], values[src[rep]], ks[src[rep]]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
                "event_type": types.tolist(),
                "value": pa.array(values, pa.float64()),
                "props": [f'{{"k": {k}}}' for k in ks.tolist()],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
