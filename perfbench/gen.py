"""Seeded input generator for the benchmark.

Everything the program under test reads is written here, from one seed:

- ``sf/events.parquet``: the review table in the testdata ``events``
  schema (``props`` = ``{"k": N}``, ``value`` whose floor mod 5 is the
  rating), holding the "db" split of the spliter.py split. Batch layers
  A and B and their DuckDB oracles read it unchanged.
- ``replay/``: the "stream" split as wire-format JSON-lines files, the
  file-source twin of the Kafka ``Reviews`` topic.
- ``store_seed/``: the ``user_ratings`` store pre-seeded with the db
  split's distinct ratings, as ``initial_insert.py`` seeds Redis.
- ``sf/documents.parquet`` and ``sf/embeddings.parquet``: a document
  corpus with a Zipf vocabulary and an embeddings table, each with a
  stated share of planted near-duplicate clusters.

Shape of the review data. Users fall on both sides of the batch layer's
1000-id cutoff. Products have Zipf popularity. Every user belongs to one
of ``N_TASTE_GROUPS`` groups, rates products of the own group well and
other products poorly, so the co-review graph splits into several
communities instead of one clique.

Pure NumPy + PyArrow: no SparkSession is involved, so generation time is
not program time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BATCH_USER_CUTOFF = 1000  # operators.graph.BATCH_USER_CUTOFF

# --- reviews ---------------------------------------------------------------
N_EVENTS = 30_000
N_USERS = 2_400  # ids 1..N_USERS: ~40% below the cutoff
N_PRODUCTS = 600  # catalog; sf0.1 has 100
N_TASTE_GROUPS = 6
ZIPF_A = 1.1
IN_GROUP_SHARE = 0.65  # reviews of a product from the user's own group
IN_GROUP_GOOD = 0.85  # ... rated 4 or 5
OUT_GROUP_GOOD = 0.01  # out-of-group reviews rated 4 or 5
DB_SHARE = 0.8  # spliter.py: 80% seeds the store, 20% is replayed
RESEND_SHARE = 0.1  # stream events that re-send a rating already stored

# --- corpus ----------------------------------------------------------------
N_DOCS = 1_200
VOCAB = 3_000
DOC_WORDS = (30, 120)
NEAR_DUP_SHARE = 0.15  # docs that are edited copies of another doc
EXACT_DUP_SHARE = 0.03  # docs that are verbatim copies
NEAR_DUP_EDIT = 0.04  # share of words replaced in a near-dup copy
N_SOURCES = 20  # 'src0'..'src19'; the DSIR target 'src1' gets ~5%
EMB_DIM = 64
N_VECS = 1_200
EMB_DUP_SHARE = 0.15  # vectors that are perturbed copies of another
EMB_DUP_NOISE = 0.02

EPOCH_2024_US = 1_704_067_200_000_000


@dataclass(frozen=True)
class Inputs:
    root: str
    sf_dir: str
    replay_dir: str
    store_seed: str
    replay_files: tuple[str, ...]
    events_per_file: int
    sizes: dict


def _zipf_index(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """Indices in [0, n) with Zipf(ZIPF_A) popularity, rank order shuffled
    so popularity is not correlated with id."""
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_A
    order = rng.permutation(n)
    return order[rng.choice(n, size=size, p=w / w.sum())]


def _reviews(rng: np.random.Generator):
    users = rng.integers(1, N_USERS + 1, size=N_EVENTS)
    group = users % N_TASTE_GROUPS
    per_group = N_PRODUCTS // N_TASTE_GROUPS
    in_group = rng.random(N_EVENTS) < IN_GROUP_SHARE
    # product id p belongs to group p % N_TASTE_GROUPS
    local = _zipf_index(rng, per_group, N_EVENTS)
    own = local * N_TASTE_GROUPS + group + 1
    anywhere = _zipf_index(rng, N_PRODUCTS, N_EVENTS) + 1
    product = np.where(in_group, own, anywhere)
    same = (product - 1) % N_TASTE_GROUPS == group
    good = rng.random(N_EVENTS) < np.where(same, IN_GROUP_GOOD, OUT_GROUP_GOOD)
    rating = np.where(
        good, rng.integers(4, 6, N_EVENTS), rng.integers(1, 4, N_EVENTS)
    )
    # value with floor(value) % 5 + 1 == rating (reviews_from_events)
    value = (
        (rating - 1) + 5 * rng.integers(0, 20, N_EVENTS)
        + np.round(rng.random(N_EVENTS) * 0.99, 2)
    )
    ts_us = EPOCH_2024_US + np.sort(rng.integers(0, 86_400_000_000, N_EVENTS))
    return users, product, rating.astype(np.float64), value, ts_us


def _write_events(path, users, product, value, ts_us, rng) -> None:
    n = len(users)
    kinds = np.array(["view", "click", "purchase", "review"])
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us.astype("datetime64[us]")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(kinds[rng.integers(0, 4, n)]),
            "value": pa.array(value.astype(np.float64)),
            "props": pa.array([f'{{"k": {int(p)}}}' for p in product]),
        }
    )
    pq.write_table(table, path)


def _words(rng: np.random.Generator) -> np.ndarray:
    """VOCAB distinct pronounceable words."""
    cons, vow = list("bcdfghklmnprstvz"), list("aeiou")
    out: set[str] = set()
    while len(out) < VOCAB:
        k = int(rng.integers(1, 4))
        out.add("".join(
            cons[rng.integers(len(cons))] + vow[rng.integers(len(vow))]
            for _ in range(k)
        ) + cons[rng.integers(len(cons))] * int(rng.integers(0, 2)))
    return np.array(sorted(out))


def _documents(rng: np.random.Generator):
    words = _words(rng)
    texts: list[str] = []
    n_near = n_exact = 0
    for i in range(N_DOCS):
        r = rng.random()
        if i > 0 and r < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(i))])
            n_exact += 1
        elif i > 0 and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(i))].split(" ")
            edit = rng.random(len(toks)) < NEAR_DUP_EDIT
            for j in np.flatnonzero(edit):
                toks[j] = words[_zipf_index(rng, VOCAB, 1)[0]]
            texts.append(" ".join(toks))
            n_near += 1
        else:
            n = int(rng.integers(*DOC_WORDS))
            texts.append(" ".join(words[_zipf_index(rng, VOCAB, n)]))
    src_w = np.full(N_SOURCES, 0.95 / (N_SOURCES - 1))
    src_w[1] = 0.05
    sources = rng.choice(N_SOURCES, size=N_DOCS, p=src_w)
    langs = np.where(rng.random(N_DOCS) < 0.9, "en", "de")
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{s}" for s in sources]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    return table, n_near, n_exact


def _embeddings(rng: np.random.Generator):
    n_labels = 8
    centers = rng.normal(size=(n_labels, EMB_DIM))
    label = rng.integers(0, n_labels, N_VECS)
    vecs = centers[label] * 0.3 + rng.normal(size=(N_VECS, EMB_DIM))
    dup = rng.random(N_VECS) < EMB_DUP_SHARE
    dup[0] = False
    for i in np.flatnonzero(dup):
        src = int(rng.integers(i))
        vecs[i] = vecs[src] + rng.normal(scale=EMB_DUP_NOISE, size=EMB_DIM)
        label[i] = label[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
            ),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    return table, int(dup.sum())


def generate(root: str, seed: int, events_per_file: int,
             corpus: bool = True) -> Inputs:
    """Write every input under ``root`` from ``seed``; the replay split is
    cut into files of ``events_per_file`` events. ``corpus=False`` skips
    the documents and embeddings tables (the review-path workloads do not
    read them); the review inputs are the same either way."""
    rng = np.random.default_rng(seed)
    sf_dir = os.path.join(root, "sf")
    replay_dir = os.path.join(root, "replay")
    store_seed = os.path.join(root, "store_seed")
    for d in (sf_dir, replay_dir, store_seed):
        os.makedirs(d)

    users, product, rating, value, ts_us = _reviews(rng)
    is_db = rng.random(N_EVENTS) < DB_SHARE
    db = np.flatnonzero(is_db)
    _write_events(
        os.path.join(sf_dir, "events.parquet"),
        users[db], product[db], value[db], ts_us[db], rng,
    )
    seed_rows = sorted(set(zip(
        users[db].tolist(), product[db].tolist(), rating[db].tolist()
    )))
    pq.write_table(
        pa.table({
            "user_id": pa.array([r[0] for r in seed_rows], pa.int64()),
            "product_id": pa.array([r[1] for r in seed_rows], pa.int64()),
            "rating": pa.array([r[2] for r in seed_rows], pa.float64()),
        }),
        os.path.join(store_seed, "part-00000.parquet"),
    )

    # stream split, with RESEND_SHARE of events re-sending a db rating
    st = np.flatnonzero(~is_db)
    resend = rng.random(len(st)) < RESEND_SHARE
    pick = db[rng.integers(0, len(db), int(resend.sum()))]
    s_users, s_prod, s_rating = users[st], product[st], rating[st]
    s_users[resend], s_prod[resend], s_rating[resend] = (
        users[pick], product[pick], rating[pick]
    )
    s_ts = ts_us[st] // 1_000_000
    files = []
    for f, lo in enumerate(range(0, len(st), events_per_file)):
        name = f"part-{f:05d}.json"
        with open(os.path.join(replay_dir, name), "w") as fh:
            for i in range(lo, min(lo + events_per_file, len(st))):
                fh.write(json.dumps({
                    "userId": int(s_users[i]),
                    "productId": int(s_prod[i]),
                    "review": float(s_rating[i]),
                    "timestamp": int(s_ts[i]),
                }) + "\n")
        files.append(name)

    sizes = {
        "events": int(N_EVENTS),
        "db_rows": int(len(db)),
        "stream_events": int(len(st)),
        "stream_resend_share": round(float(resend.mean()), 4),
        "replay_files": len(files),
        "users": int(len(np.unique(users))),
        "users_below_cutoff": int(len(np.unique(users[users < BATCH_USER_CUTOFF]))),
        "products": int(len(np.unique(product))),
        "store_seed_rows": len(seed_rows),
    }
    if corpus:
        docs, n_near, n_exact = _documents(rng)
        pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
        emb, n_emb_dup = _embeddings(rng)
        pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
        sizes.update({
            "documents": int(N_DOCS),
            "near_dup_doc_share": round(n_near / N_DOCS, 4),
            "exact_dup_doc_share": round(n_exact / N_DOCS, 4),
            "embeddings": int(N_VECS),
            "near_dup_embedding_share": round(n_emb_dup / N_VECS, 4),
        })
    return Inputs(
        root, sf_dir, replay_dir, store_seed, tuple(files), events_per_file, sizes
    )
