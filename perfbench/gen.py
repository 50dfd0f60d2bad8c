"""Seeded input generators for the benchmark.

Batch fixtures (`events`, `documents`, `embeddings`) follow the schemas of
the graft query fixtures (FIXTURES.md): the same column names, types and
value vocabularies, at a row count chosen per workload; `events` has 15
users per 1,000 rows, as every graft fixture scale has (sf0.1: 100,000
rows, 1,500 users). The stream
generator makes the raw producer batches of the `topic-stream` workload.
The same seed always gives the same files.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the key value row table part data scan join agg group sort "
         "merge hash window stream batch spark query filter order line "
         "customer column vector big small fast slow").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def events(rng, n, n_users):
    ids = np.arange(n, dtype=np.int64)
    gaps = rng.integers(0, 52_000_000, n)  # microseconds, mean ~26 s
    t0 = datetime.datetime(2024, 1, 1)
    ts = (np.datetime64(t0, "us") + np.cumsum(gaps).astype("timedelta64[us]"))
    return pa.table({
        "event_id": ids,
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.minimum(np.round(rng.exponential(50.0, n), 2), 560.21),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n, near_dup_share=0.05):
    """Word-salad documents over the fixture vocabulary; a share of them
    are near-copies of an earlier document (a few words replaced), so the
    dedup and similarity-join queries have real candidates."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < near_dup_share:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64, n_labels=10):
    """Unit vectors around one centre per label."""
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centres[labels] * 0.35 + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": labels.astype(np.int32),
    })


def batch_fixtures(out_dir, seed, sizes):
    """Write the tables named in `sizes` ({table: rows}) under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in sizes.items():
        rng = np.random.default_rng([seed, len(name), rows])
        if name == "events":
            table = events(rng, rows, n_users=max(15, rows * 15 // 1000))
        elif name == "documents":
            table = documents(rng, rows)
        else:
            table = embeddings(rng, rows)
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def stream_batches(out_dir, seed, n_appends, new_rows, n_keys, zipf_s,
                   replay_share, late_share, window_ms):
    """Raw producer batches for the topic-stream workload.

    The producer's rows are numbered by `ord` (0, 1, 2, ...); append k
    sends `new_rows` rows it has not sent before. Every append after the
    first also re-sends the last `replay_share` of the previous append's
    rows, as a producer does when it retries after a lost ack; those rows
    carry their original `ord`, so the produce path must reject them.
    Keys are Zipf-skewed over `n_keys` keys with exponent `zipf_s`.

    Event times: append k spans [t0 + k*span, t0 + (k+1)*span) with
    span = 2 windows, and the stream's watermark delay is one span, so no
    on-time row can be late whatever micro-batches the stream cuts. From
    the second append on, a `late_share` of the new rows carry an event
    time two or more windows below append k-1's span, so they are late
    under any watermark the stream can hold once append k-1 has been
    drained (the workload drains every subscription after each append).
    Writes b<NNN>.parquet files and returns their paths.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    key_p = ranks ** -zipf_s
    key_p /= key_p.sum()
    span = 2 * window_ms
    lag = span
    t0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z
    n = n_appends * new_rows
    keys = np.array([f"k{i}" for i in range(n_keys)])[rng.choice(n_keys, n, p=key_p)]
    vals = np.round(rng.exponential(50.0, n), 2)
    ev = np.empty(n, dtype=np.int64)
    for k in range(n_appends):
        sl = slice(k * new_rows, (k + 1) * new_rows)
        ev[sl] = t0 + k * span + rng.integers(0, span, new_rows)
        if k >= 1:
            late = np.nonzero(rng.random(new_rows) < late_share)[0] + k * new_rows
            ev[late] = (t0 + (k - 1) * span - lag - 2 * window_ms
                        - rng.integers(1, window_ms, len(late)))
    replay = int(round(new_rows * replay_share))
    paths = []
    for k in range(n_appends):
        lo = k * new_rows - (replay if k else 0)
        sl = slice(lo, (k + 1) * new_rows)
        path = os.path.join(out_dir, f"b{k:03d}.parquet")
        _write(pa.table({
            "ord": pa.array(np.arange(lo, (k + 1) * new_rows, dtype=np.int64)),
            "key": pa.array(keys[sl], pa.string()),
            "value": pa.array(vals[sl], pa.float64()),
            "event_ms": pa.array(ev[sl], pa.int64()),
        }), path)
        paths.append(path)
    return paths
