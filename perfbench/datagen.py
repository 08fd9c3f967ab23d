"""Seeded input generators for the benchmark.

Everything here is plain ``random`` + ``pyarrow``/``json`` in one process,
run before the timed region: the program under test only ever sees the
files these functions write.

- ``write_tables`` writes the four parquet tables the query workloads read
  (``events``, ``documents``, ``embeddings``, ``orders``) with the column
  names, types and value distributions of the engine's synthetic testdata
  (TESTDATA.md). The constants below were measured on its sf0.1 tables.
- ``WeblogBatches`` produces iceberg-dialect JSON-lines batches for the
  ingest workload, with a known share of invalid records and of re-sent
  ``(user_id, timestamp)`` keys, and keeps the ground truth the
  correctness checks compare against.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

# events (sf0.1: 100k rows): 66.7 events per user, users drawn uniformly;
# the five event types equally often; value exponential with mean 50
# (median 34.8, max 560), two decimals; props {"k": 0..99}; 30 days.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENTS_PER_USER = 200 / 3
VALUE_MEAN = 50.0
# documents (sf0.1: 5000 rows): a 30-word vocabulary drawn uniformly
# (every word 3.3-3.4% of all words), 10-99 words per document drawn
# uniformly, 4.9% near-duplicates (another document's text plus the word
# "dup"), languages en 41%, de/es/fr/zh 14-15% each, 20 sources.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_WORDS = (10, 99)
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
# embeddings (sf0.1: 2000 rows): unit-norm i.i.d. gaussian, dimension 64
# (mean cosine within and across labels both ~0), labels 0..9 uniform.
EMBED_DIM = 64
# orders (sf0.1: 150k rows): 10 orders per customer, status, priority,
# date (1995-01-01..2001-08-01) and price (1000..500000) uniform.
ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Ingest batches (recorded in BENCHMARK.json next to the workload).
INVALID_SHARE = 0.04
RESENT_SHARE = 0.25


def write_tables(out_dir: str, seed: int, events: int, docs: int, vecs: int,
                 orders: int) -> None:
    """Write the query workloads' parquet inputs into ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    write = lambda name, cols: pq.write_table(  # noqa: E731
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet")
    )

    # events: one month of activity, ts ascending with event_id
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 1_000_000
    users = max(round(events / EVENTS_PER_USER), 10)
    ts_us = sorted(rng.randrange(span_us) for _ in range(events))
    write("events", {
        "event_id": pa.array(range(events), pa.int64()),
        "ts": pa.array(
            [start + dt.timedelta(microseconds=u) for u in ts_us],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([rng.randrange(users) for _ in range(events)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(events)]),
        "value": pa.array([round(rng.expovariate(1 / VALUE_MEAN), 2)
                           for _ in range(events)]),
        "props": pa.array([json.dumps({"k": rng.randrange(100)}) for _ in range(events)]),
    })

    # documents: bag-of-words text, some near-duplicates of an earlier doc
    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(*DOC_WORDS))))
    write("documents", {
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=docs)),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: unit-norm gaussian vectors with a label in 0..9
    emb = []
    for _ in range(vecs):
        v = [rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        emb.append([x / norm for x in v])
    write("embeddings", {
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(vecs)], pa.int32()),
    })

    first_day = dt.datetime(1995, 1, 1)
    n_days = (dt.datetime(2001, 8, 1) - first_day).days
    write("orders", {
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(
            [rng.randrange(max(orders // 10, 1)) for _ in range(orders)], pa.int64()
        ),
        "o_orderstatus": pa.array([rng.choice(ORDER_STATUS) for _ in range(orders)]),
        "o_totalprice": pa.array(
            [round(rng.uniform(1000, 500_000), 2) for _ in range(orders)]
        ),
        "o_orderdate": pa.array(
            [first_day + dt.timedelta(days=rng.randrange(n_days)) for _ in range(orders)],
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array([rng.choice(ORDER_PRIORITY) for _ in range(orders)]),
    })


class WeblogBatches:
    """Iceberg-dialect web-log batches with known ground truth.

    Each record is valid except an ``INVALID_SHARE`` of them, which carry a
    non-wire timestamp (``yyyy-MM-dd HH:mm:ss``) and so must land in the
    error zone. A ``RESENT_SHARE`` of the records re-send the
    ``(user_id, timestamp)`` key of an earlier valid record with a new
    payload, so the upsert keeps one row per key (last write wins).
    """

    def __init__(self, seed: int, batch_events: int) -> None:
        self.rng = random.Random(seed)
        self.batch_events = batch_events
        self.keys: list[tuple[str, str]] = []
        self.distinct_keys: set[tuple[str, str]] = set()
        self.valid = 0
        self.invalid = 0
        self.valid_bytes = 0
        self._t0 = dt.datetime(2026, 3, 2, 13, 0, 0)

    def batch(self) -> tuple[str, int, int]:
        """One batch as JSON-lines text, with its valid and invalid counts."""
        rng = self.rng
        lines = []
        valid = invalid = 0
        for _ in range(self.batch_events):
            if self.keys and rng.random() < RESENT_SHARE:
                user, ts = rng.choice(self.keys)
            else:
                user = f"user-{rng.randrange(5000):04d}"
                ts = (self._t0 + dt.timedelta(seconds=rng.randrange(7200))).strftime(
                    "%Y-%m-%dT%H:%M:%SZ"
                )
            rec = {
                "user_id": user,
                "session_id": f"{rng.getrandbits(96):024x}",
                "event": rng.choice(["visit", "view", "list", "like", "cart", "purchase"]),
                "referrer": rng.choice(["search.example", "social.example", None]),
                "user_agent": "Mozilla/5.0",
                "ip": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
                "hostname": rng.choice(["shop.example", "news.example", "docs.example"]),
                "os": rng.choice(["Linux", "macOS", "Android", "iOS"]),
                "timestamp": ts,
                "uri": f"/p/{rng.randrange(100_000)}",
            }
            if rng.random() < INVALID_SHARE:
                rec["timestamp"] = ts.replace("T", " ").rstrip("Z")
                invalid += 1
            line = json.dumps(rec)
            if rec["timestamp"] == ts:
                valid += 1
                self.valid_bytes += len(line) + 1
                if (user, ts) not in self.distinct_keys:
                    self.distinct_keys.add((user, ts))
                    self.keys.append((user, ts))
            lines.append(line)
        self.valid += valid
        self.invalid += invalid
        return "\n".join(lines) + "\n", valid, invalid
