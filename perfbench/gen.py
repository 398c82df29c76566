"""Seeded input generator for the benchmark workloads.

Writes `events`, `documents` and `embeddings` parquet tables with the
schemas and value shapes of the engine's synthetic test corpus:

- events: contiguous `event_id`s (so every id-modulo payload rule of
  `EventCatalogFixture` keeps its share), `ts` increasing with `event_id`
  over 30 days, 1500 users, five event types, exponential `value`
  (mean 50), and `props` = `{"k": <0..99>}`.
- documents: contiguous `doc_id`s below 10000 (the documents fixture adds
  +10000/+20000 to injected copies), word-soup text of 10-100 words from a
  fixed 30-word vocabulary, 5% near-duplicates (another document's text
  plus " dup"), `lang` 40% en and 15% each of zh/es/fr/de, `source` =
  src<doc_id % 20>, `n_chars` = text length.
- embeddings: contiguous `vec_id`s from 0 (queries select fixed id windows
  such as `vec_id < 2000 AND vec_id % s = 0`), 64-dim unit vectors drawn
  uniformly on the sphere, labels 0..9.

The seed changes row order, which content each id carries (so which rows
fall in each id-modulo split), the texts and duplicate sources, and the
vectors. It keeps the shapes above, which are what the queries depend on.
The same seed always gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64

# numpy Generator streams per table, so one table's size never shifts
# another table's draws
_STREAMS = {"events": 1, "documents": 2, "embeddings": 3}


def _rng(seed, table):
    return np.random.default_rng([seed, _STREAMS[table]])


def events(seed, n):
    rng = _rng(seed, "events")
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    value = np.round(rng.exponential(50.0, n), 2)
    order = rng.permutation(n)
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": value,
        "props": np.array(['{"k": %d}' % k for k in range(100)],
                          dtype=object)[rng.integers(0, 100, n)],
    }
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    return pa.table({k: v[order] for k, v in cols.items()}, schema=schema)


def documents(seed, n):
    assert n < 10000, "documents fixture offsets need doc_id < 10000"
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    base = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    texts = list(base)
    dups = np.flatnonzero(rng.random(n) < 0.05)
    for i in dups:
        j = int(rng.integers(0, n - 1))
        j += j >= i
        texts[i] = base[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    langs = np.array(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]
    order = rng.permutation(n)
    t = pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in ids], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    return t.take(pa.array(order))


def embeddings(seed, n):
    rng = _rng(seed, "embeddings")
    x = rng.standard_normal((n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n).astype(np.int32)
    order = rng.permutation(n)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x[order].ravel()), DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)[order]),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels[order]),
    })


GENERATORS = {"events": events, "documents": documents, "embeddings": embeddings}


def write(seed, sizes, out_dir):
    """Write each table of `sizes` ({table: rows}) to `out_dir` and return
    {table: {"rows": n, "bytes": file size}}."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, n in sorted(sizes.items()):
        path = os.path.join(out_dir, name + ".parquet")
        pq.write_table(GENERATORS[name](seed, n), path, compression="snappy")
        info[name] = {"rows": n, "bytes": os.path.getsize(path)}
    return info
