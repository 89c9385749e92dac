"""Seeded synthetic corpus for the benchmark.

The three source tables have the same schemas as the project's testdata
(``documents``, ``events``, ``orders``), so the rules config below is the
one the declared queries index (``__spark_entry__.INDEX_CONFIG``).
Everything is derived from the seed: the vocabulary, the table contents
and the live-ingest batches.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from __spark_entry__ import INDEX_CONFIG

# Rows per table; the same 1:20:30 mix as the testdata.
N_DOCUMENTS = 100
N_EVENTS = 2_000
N_ORDERS = 3_000
VOCAB_SIZE = 800
EVENT_TYPES = ("click", "view", "error", "purchase", "signup", "logout")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")
EVENTS_DAY0 = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 60
ORDERS_DAY0 = dt.datetime(1995, 1, 1)
ORDERS_DAYS = 1_000

TYPE_DOCUMENTS = "docs.db/documents"
TYPE_EVENTS = "events.db/events"
TYPE_ORDERS = "orders.db/orders"

# The rules config ``cli index`` and ``cli serve`` would read: the
# declared queries' rules, plus a display template per rule and, for
# events, a display_sql that the page hydrates its results with.
DISPLAY = {
    ("docs.db", "documents"): {
        "display": "<h3>{{ title }}</h3><p>{{ search_1[:120] }}</p>",
    },
    ("events.db", "events"): {
        "display_sql": "select event_id, user_id, value from events where event_id = :key",
        "display": "<p>{{ title }} by user {{ display.user_id }}: {{ display.value }}</p>",
    },
}
RULES = {
    db: {t: {**rule, **DISPLAY.get((db, t), {})} for t, rule in tables.items()}
    for db, tables in INDEX_CONFIG.items()
}

# Term every live-ingested doc carries; the base corpus never contains it.
LIVE_MARKER = "zlivemark"
TS_FORMAT = "%Y-%m-%d %H:%M:%S.%f"


def make_vocabulary(rng: np.random.Generator, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase pseudo-words of 2-4 syllables."""
    onsets = list("bcdfghjklmnprstvwz")
    vowels = list("aeiou")
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(
            onsets[rng.integers(len(onsets))] + vowels[rng.integers(len(vowels))]
            for _ in range(n)
        )
        if w != LIVE_MARKER:
            words.add(w)
    return sorted(words)


def _zipf_weights(n: int, s: float = 1.05) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class Corpus:
    """The generated source tables plus what the request generators
    and the oracle need to know about them."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 1])
        self.seed = seed
        self.vocab = make_vocabulary(rng)
        # word frequencies follow a Zipf law over a seeded permutation
        self.word_p = _zipf_weights(len(self.vocab))[rng.permutation(len(self.vocab))]
        self.documents = self._documents(rng)
        self.events = self._events(rng)
        self.orders = self._orders(rng)
        self.event_dates = sorted(
            {t.date().isoformat() for t in self.events.column("ts").to_pylist()}
        )
        self.order_dates = sorted(
            {t.date().isoformat() for t in self.orders.column("o_orderdate").to_pylist()}
        )

    def words(self, rng: np.random.Generator, n: int) -> list[str]:
        idx = rng.choice(len(self.vocab), size=n, p=self.word_p)
        return [self.vocab[i] for i in idx]

    def _documents(self, rng) -> pa.Table:
        texts = [
            " ".join(self.words(rng, int(rng.integers(20, 70))))
            for _ in range(N_DOCUMENTS)
        ]
        return pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
                "text": texts,
                "lang": ["en"] * N_DOCUMENTS,
                "source": [f"src{int(i)}" for i in rng.integers(0, 50, N_DOCUMENTS)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )

    def event_props(self, rng, n: int, extra: str = "") -> list[str]:
        """JSON props whose ``tags`` hold three vocabulary words."""
        ks = rng.integers(0, 100, n)
        tags = self.words(rng, 3 * n)
        return [
            f'{{"k": {int(k)}, "tags": "{" ".join(tags[3 * i : 3 * i + 3])}{extra}"}}'
            for i, k in enumerate(ks)
        ]

    def event_times(self, rng, n: int) -> list[dt.datetime]:
        secs = np.sort(rng.integers(0, EVENTS_DAYS * 86_400, n))
        us = rng.integers(0, 1_000_000, n)
        return [
            EVENTS_DAY0 + dt.timedelta(seconds=int(s), microseconds=int(u))
            for s, u in zip(secs, us)
        ]

    def _events(self, rng) -> pa.Table:
        n = N_EVENTS
        return pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(self.event_times(rng, n), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 500, n), pa.int64()),
                "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)],
                "value": pa.array(np.round(rng.uniform(0, 100, n), 2)),
                "props": self.event_props(rng, n),
            }
        )

    def _orders(self, rng) -> pa.Table:
        n = N_ORDERS
        days = rng.integers(0, ORDERS_DAYS, n)
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, 1_500, n), pa.int64()),
                "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n)],
                "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, n), 2)),
                "o_orderdate": pa.array(
                    [ORDERS_DAY0 + dt.timedelta(days=int(d)) for d in days],
                    pa.timestamp("us"),
                ),
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
            }
        )

    def text_sources(self) -> list[dict]:
        """Documents and events as the novel-search generator sees them:
        type, category, date and the vocabulary words of the indexed text."""
        out = [
            {"type": TYPE_DOCUMENTS, "category": 1, "date": None, "words": t.split()}
            for t in self.documents.column("text").to_pylist()
        ]
        for ts, props in zip(self.events.column("ts").to_pylist(),
                             self.events.column("props").to_pylist()):
            out.append({"type": TYPE_EVENTS, "category": 3, "date": ts.date().isoformat(),
                        "words": json.loads(props)["tags"].split()})
        return out

    @property
    def n_docs(self) -> int:
        return N_DOCUMENTS + N_EVENTS + N_ORDERS

    def write(self, sources_dir: str) -> None:
        """One ``<table>.parquet`` per source, the layout ``--sources`` reads."""
        os.makedirs(sources_dir, exist_ok=True)
        for name in ("documents", "events", "orders"):
            pq.write_table(getattr(self, name), os.path.join(sources_dir, f"{name}.parquet"))

    def ingest_batches(self, n_batches: int, size: int, update_share: float):
        """Live-ingest batches of events-type docs in the rule's output
        shape (key, title, timestamp, category, is_public, search_1).

        Each batch mixes new keys with updates to existing event keys;
        no key is touched twice, so after batch b the docs carrying
        ``LIVE_MARKER`` are exactly the keys of batches 0..b."""
        rng = np.random.default_rng([self.seed, 2])
        n_upd = int(size * update_share)
        if n_batches * n_upd > N_EVENTS:
            raise ValueError(f"{n_batches} batches of {n_upd} updates exceed the {N_EVENTS} events")
        upd_keys = rng.permutation(N_EVENTS)[: n_batches * n_upd]
        next_key = N_EVENTS
        batches = []
        for b in range(n_batches):
            keys = [int(k) for k in upd_keys[b * n_upd : (b + 1) * n_upd]]
            keys += range(next_key, next_key + size - n_upd)
            next_key += size - n_upd
            times = self.event_times(rng, size)
            props = self.event_props(rng, size, extra=f" {LIVE_MARKER}")
            batches.append(
                [
                    {
                        "key": str(k),
                        "title": EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))],
                        "timestamp": t.strftime(TS_FORMAT),
                        "category": 3,
                        "is_public": 0,
                        "search_1": p,
                    }
                    for k, t, p in zip(keys, times, props)
                ]
            )
        return batches
