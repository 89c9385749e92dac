"""Seeded request streams for the two workloads.

A request is a dict with the ``/-/beta`` query args (``args``) and, for
searches, a structured ``match`` spec that the oracle turns into SQL
without parsing the MATCH string.  The same seed gives the same stream,
and ``digest`` names it so two commits can be shown to have been driven
by identical inputs.
"""

from __future__ import annotations

import hashlib
import json
from urllib.parse import urlencode

import numpy as np

from perfbench.corpus import (
    LIVE_MARKER,
    TYPE_DOCUMENTS,
    TYPE_EVENTS,
    TYPE_ORDERS,
    Corpus,
)

# MATCH kinds of search_novel, cycled in this order so every run sees
# the same mix; the filter cycle has a coprime length so kinds and
# filters pair differently on each pass.
NOVEL_KINDS = ("term", "and", "or", "not", "phrase", "prefix", "title", "and3")
NOVEL_FILTERS = (None, "type", None, "category", "date", "sort")

CATEGORY = {TYPE_DOCUMENTS: 1, TYPE_ORDERS: 2, TYPE_EVENTS: 3}


def match_string(spec: dict) -> str:
    """The MATCH text a user would type for a structured spec."""
    kind, t = spec["kind"], spec["terms"]
    if kind in ("term", "and", "and3"):
        return " ".join(t)
    if kind == "or":
        return f"{t[0]} OR {t[1]}"
    if kind == "not":
        return f"{t[0]} NOT {t[1]}"
    if kind == "phrase":
        return '"' + " ".join(t) + '"'
    if kind == "prefix":
        return f"{t[0]}*"
    if kind == "title":
        return f"title:{t[0]}"
    raise ValueError(f"unknown match kind {kind!r}")


def make_request(args: dict, match: dict | None = None) -> dict:
    args = dict(args)
    if match is not None:
        args["q"] = match_string(match)
    return {"args": args, "match": match, "path": "/-/beta?" + urlencode(args)}


def digest(requests: list[dict]) -> str:
    blob = json.dumps([r["path"] for r in requests]).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _novel_terms(rng, kind, src, vocab, used, prefixes):
    """Terms for one search of ``kind`` drawn from the text of ``src``,
    none of them used before in the run; None if ``src`` has too few
    unused words."""
    words = list(dict.fromkeys(w for w in src["words"] if w not in used))
    if kind == "phrase":
        pairs = [
            src["words"][j : j + 2] for j in range(len(src["words"]) - 1)
            if src["words"][j] != src["words"][j + 1]
            and not set(src["words"][j : j + 2]) & used
        ]
        return list(pairs[int(rng.integers(len(pairs)))]) if pairs else None
    if kind == "prefix":
        words = [w for w in words if w[:3] not in prefixes]
        return [words[int(rng.integers(len(words)))][:3]] if words else None
    k = {"term": 1, "or": 1, "not": 1, "and": 2, "and3": 3}[kind]
    if len(words) < k:
        return None
    terms = [words[i] for i in rng.choice(len(words), size=k, replace=False)]
    if kind in ("or", "not"):
        # the second term is any unused word; for NOT, one the doc lacks
        other = [w for w in vocab if w not in used and w not in src["words"] and w not in terms]
        terms.append(other[int(rng.integers(len(other)))])
    return terms


def novel_searches(corpus: Corpus, seed: int, n: int) -> list[dict]:
    """``n`` search requests in which no MATCH term, phrase or prefix
    repeats, so no request can reuse a phrase-hit cache entry.  Each
    search but ``title:`` takes its terms from one document or event and
    its filter from that same doc, so it has at least one hit."""
    rng = np.random.default_rng([seed, 3])
    sources = corpus.text_sources()
    n_documents = sum(s["type"] == TYPE_DOCUMENTS for s in sources)
    used: set[str] = set()
    prefixes: set[str] = set()
    # title tokens by type: the documents' source, the events' type and
    # the words of the orders' priority
    titles = {
        t: list(rng.permutation(sorted(set(v))))
        for t, v in (
            (TYPE_DOCUMENTS, corpus.documents.column("source").to_pylist()),
            (TYPE_EVENTS, corpus.events.column("event_type").to_pylist()),
            (TYPE_ORDERS, ["urgent", "high", "medium", "low", "specified"]),
        )
    }
    out = []
    for i in range(n):
        kind = NOVEL_KINDS[i % len(NOVEL_KINDS)]
        f = NOVEL_FILTERS[i % len(NOVEL_FILTERS)]
        if kind == "title":
            # events are the only titled type with dates
            typ = TYPE_EVENTS if f == "date" and titles[TYPE_EVENTS] else (
                [TYPE_DOCUMENTS, TYPE_EVENTS, TYPE_ORDERS][i % 3])
            if not titles[typ]:
                typ = TYPE_DOCUMENTS
            terms = [str(titles[typ].pop())]
            src = {"type": typ, "category": CATEGORY[typ], "date": None}
            if typ == TYPE_EVENTS:
                src["date"] = corpus.event_dates[int(rng.integers(len(corpus.event_dates)))]
        else:
            terms = None
            while terms is None:
                # documents and events in equal shares; dated filters need events
                if f != "date" and rng.random() < 0.5:
                    src = sources[int(rng.integers(n_documents))]
                else:
                    src = sources[int(rng.integers(n_documents, len(sources)))]
                terms = _novel_terms(rng, kind, src, corpus.vocab, used, prefixes)
            if kind == "prefix":
                prefixes.add(terms[0])
            else:
                used.update(terms)
        args: dict = {}
        if f == "type":
            args["type"] = src["type"]
        elif f == "category":
            args["category"] = str(src["category"])
        elif f == "date" and src["date"] is not None:
            args["timestamp__date"] = src["date"]
        elif f == "sort":
            args["sort"] = "newest"
        out.append(make_request(args, {"kind": kind, "terms": terms}))
    return out


def timeline_shapes(corpus: Corpus, seed: int) -> list[dict]:
    """18 timeline pages (no ``q``) with facet toggles, filters and
    sorts, in Zipf rank order.  The shape at each rank is fixed; the
    seed picks its dates."""
    rng = np.random.default_rng([seed, 4])
    ed = corpus.event_dates
    od = corpus.order_dates

    def pick(xs):
        return xs[int(rng.integers(len(xs)))]

    return [
        make_request(args)
        for args in (
            {},
            {"sort": "oldest"},
            {"type": TYPE_DOCUMENTS},
            {"type": TYPE_EVENTS},
            {"type": TYPE_ORDERS},
            {"category": "1"},
            {"category": "2"},
            {"category": "3"},
            {"is_public": "1"},
            {"is_public": "0"},
            {"timestamp__date": pick(ed)},
            {"timestamp__date": pick(ed)},
            {"timestamp__date": pick(od)},
            {"type": TYPE_EVENTS, "timestamp__date": pick(ed)},
            {"type": TYPE_ORDERS, "sort": "oldest"},
            {"category": "3", "timestamp__date": pick(ed)},
            {"type": TYPE_EVENTS, "category": "3"},
            {"timestamp__date": pick(od), "sort": "oldest"},
        )
    ]


def zipf_stream(shapes: list[dict], n: int, seed: int, s: float = 1.0) -> list[dict]:
    """``n`` seeded draws over ``shapes`` with Zipf probabilities by
    rank, so the hot shapes repeat within a run."""
    rng = np.random.default_rng([seed, 5])
    w = 1.0 / np.arange(1, len(shapes) + 1) ** s
    return [shapes[i] for i in rng.choice(len(shapes), size=n, p=w / w.sum())]


def marker_request() -> dict:
    return make_request({}, {"kind": "term", "terms": [LIVE_MARKER]})
