"""Deterministic input generator for the graft benchmark.

Writes `events`, `documents` and `embeddings` parquet in the exact
schemas of the repository's test data (events.ts as parquet timestamp[us]
with isAdjustedToUTC=false, embeddings as list<float> of 64), so
`graft.core.Tables` and the registered oracle SQL read them unchanged.
Value and mix distributions follow the sf0.1 tables:

- events: ~2.22 events per station-day (Poisson), five event types
  drawn uniformly, exponential values with mean 50 rounded to 0.01,
  `props` = '{"k": n}' with n in [0, 100);
- documents: 10-100 words from the sf0.1 30-word vocabulary, lang mix
  en 41% / de, es, fr, zh ~15% each, source = src{doc_id % 20};
- embeddings: unit-normalised 64-d Gaussian vectors, labels 0-9.

Everything is a pure function of (seed, sizes): the same seed gives
byte-identical files.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
# the shared boilerplate paragraph planted into a share of the documents
BOILERPLATE = ("the data in this table is part of a big batch scan "
               "the key row value order is fast")
DIM = 64
EVENTS_START = dt.date(2021, 1, 1)

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32())])


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _start_us():
    return (dt.datetime.combine(EVENTS_START, dt.time())
            - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def events(seed, stations, days):
    """Events table of `stations` stations over `days` days, sorted by
    ts with event_id in ts order (as in the test data)."""
    rng = _rng(seed, 1)
    per_day = rng.poisson(2.22, size=(stations, days))
    n = int(per_day.sum())
    station = np.repeat(np.tile(np.arange(stations), days),
                        per_day.T.reshape(-1))
    day = np.repeat(np.repeat(np.arange(days), stations), per_day.T.reshape(-1))
    ts = _start_us() + day.astype(np.int64) * 86_400_000_000 \
        + rng.integers(0, 86_400_000_000, size=n)
    order = np.argsort(ts, kind="stable")
    ts, station = ts[order], station[order]
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(station.astype(np.int64)),
        "event_type": pa.array(etype.tolist(), type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props.tolist(), type=pa.string()),
    }, schema=EVENTS_SCHEMA)


def documents(seed, n, dup_share=0.08, boiler_share=0.10, first_id=0, suffix=""):
    """Corpus with planted near-duplicate chains (a copy of an earlier
    document, itself possibly a copy, plus one trailing word) and a
    boilerplate paragraph shared by `boiler_share` of the documents.
    `suffix` is appended to every vocabulary word but the English
    stopwords "the" and "a": corpora with different suffixes share no
    near-duplicates, while the language gate still sees English.
    Returns the table and the planted {duplicate: source} doc ids."""
    rng = _rng(seed, 2)
    vocab = np.array([w if w in ("the", "a") else w + suffix for w in VOCAB])
    boilerplate = " ".join(w if w in ("the", "a") else w + suffix for w in BOILERPLATE.split())
    lengths = rng.integers(10, 101, size=n)
    words = vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    boiler = rng.random(n) < boiler_share
    for i in np.nonzero(boiler)[0]:
        texts[i] = boilerplate + " " + texts[i]
    dup = rng.random(n) < dup_share
    dup[0] = False
    planted = {}
    for i in np.nonzero(dup)[0]:
        src = int(rng.integers(max(0, i - 500), i))
        texts[i] = texts[src] + " dup"
        planted[first_id + int(i)] = first_id + src
    langs = LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs.tolist(), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }, schema=DOCS_SCHEMA), planted


def request_documents(seed, corpus_texts, n, first_id=10_000_000):
    """`n` new documents with ids from `first_id`: every other one a
    copy of an indexed corpus document (doc_id % 10 != 0) plus one
    trailing word — a near-duplicate the snapshot screen must flag —
    the rest fresh random text."""
    rng = _rng(seed, 4)
    fresh, _ = documents(seed + 7919, n, dup_share=0.0, boiler_share=0.0)
    texts = fresh.column("text").to_pylist()
    indexed = [i for i in range(len(corpus_texts)) if i % 10 != 0]
    for k in range(0, n, 2):
        texts[k] = corpus_texts[indexed[int(rng.integers(0, len(indexed)))]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": fresh.column("lang"), "source": fresh.column("source"),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }, schema=DOCS_SCHEMA)


def embeddings(seed, n, n_queries, dup_noise=0.02):
    """Unit vectors; each of the first `n_queries` vectors has a planted
    near-duplicate at a random later position (returned alongside)."""
    rng = _rng(seed, 3)
    v = rng.standard_normal((n, DIM)).astype(np.float64)
    pos = rng.choice(np.arange(n_queries, n), size=n_queries, replace=False)
    v[pos] = v[:n_queries] + dup_noise * rng.standard_normal((n_queries, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    }, schema=EMB_SCHEMA)
    return table, {int(q): int(p) for q, p in enumerate(pos)}


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_parts(table, directory, parts):
    """Write `table` as `parts` consecutive row ranges under `directory`
    (an ingest log: each part holds a contiguous time range)."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(table.slice(p * step, step), f"{directory}/part-{p:05d}.parquet")


def checksum(paths):
    """sha256 over the bytes of the given files, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(directory):
    out = []
    for root, _, names in os.walk(directory):
        out += [os.path.join(root, n) for n in names]
    return sorted(out)
