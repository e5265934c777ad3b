"""Seeded input generator for the benchmark.

Every table is a pure function of (workload, seed, size, mix). The program
renders the transcript text itself (graft.sources.Transcripts over
`events.parquet`); this module only chooses WHICH surrogate event ids exist.
An event id n encodes episode k = n // 20 and payload slot s = n % 20, so
the slot weights below decide the record mix the parser sees.

Each data set lands in its own directory whose name carries the identity,
because the program's transcript store caches by directory: reusing one
directory for another seed would serve the previous seed's transcripts.
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Inclusion probability of each payload slot per episode (see the slot table
# in graft.sources.Transcripts); the share of slot s in the table is
# WEIGHTS[s] / sum(WEIGHTS). The mix is the one the program's reference test
# data sets have: their events.parquet holds the contiguous ids 0..N-1, so
# every episode carries all 20 slots and each slot is 1/20 of the turns.
# With every slot present, n % 10 == s % 10 puts the 6 slots with s % 10 < 3
# (30% of turns) into the three hot conversations, and n % 7 == 0 puts 1/7
# of the rows on the +2 h host.
WEIGHTS = [1.0] * 20
START_SLOTS = (0, 10, 14)
STOP_SLOTS = (3, 13, 17)

# Sizes per workload: episodes of 20 turns each with the weights above,
# documents and embeddings for the curation queries, and the stream's file
# layout.
SIZES = {
    "route-batch": {"episodes": 2350, "docs": 200, "vecs": 200},
    "queries-analyst": {"episodes": 250, "docs": 300, "vecs": 300},
    "stream-lifecycle": {"episodes": 1400, "docs": 200, "vecs": 200,
                         "files": 24, "max_stop_lag": 3},
    # tiny inputs for the benchmark's own tests
    "tiny": {"episodes": 70, "docs": 60, "vecs": 60,
             "files": 4, "max_stop_lag": 2},
}

EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
VOCAB = ("key agg row scan slow fast table value part hash merge batch spark "
         "the a line sort window order data column join small customer query "
         "big stream filter group load shard index plan cost node cache disk "
         "net page heap lock queue task stage job file block split").split()
BOILERPLATE = "all rights reserved terms of service apply to this page"
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DIM = 64


# Episode numbers start at EPISODE_BASE + (seed % EPISODE_SLOTS) * EPISODE_STRIDE.
# The program derives turn_idx = event_id // 10 as a 32-bit int (and so does
# its oracle SQL), so event ids must stay below 2**31 * 10; the reference data
# sets number their events from 0. This range keeps every event id within
# [2e8, 1e9) and every attack id (1000 + 10 * episode) within 9 digits, so
# the rendered text has the same width whatever the seed.
EPISODE_BASE = 10_000_000
EPISODE_STRIDE = 200_000
EPISODE_SLOTS = 200


def mix_id(weights=WEIGHTS):
    return hashlib.sha1(json.dumps(weights).encode()).hexdigest()[:8]


def episode_base(seed):
    return EPISODE_BASE + (seed % EPISODE_SLOTS) * EPISODE_STRIDE


def data_dir(root, workload, seed, size_key=None):
    size_key = size_key or workload
    size = SIZES[size_key]
    tag = "e%d-b%d" % (size["episodes"], episode_base(seed))
    return os.path.join(root, "%s-s%d-%s-m%s" % (size_key, seed, tag, mix_id()))


def _episodes(rng, seed, n_episodes):
    """Episode numbers, contiguous, at a seed-dependent offset."""
    assert n_episodes <= EPISODE_STRIDE
    return episode_base(seed) + np.arange(n_episodes, dtype=np.int64)


def _events(rng, seed, n_episodes):
    ks = _episodes(rng, seed, n_episodes)
    keep = rng.random((n_episodes, 20)) < np.asarray(WEIGHTS)[None, :]
    kk, ss = np.nonzero(keep)
    ids = ks[kk] * 20 + ss
    # episode k starts k minutes after the epoch; slot s lands s*2 s later,
    # plus a seeded sub-second jitter, so every stop follows its start
    ts = (EPOCH_US + (ks[kk] - ks[0]) * 60_000_000 + ss * 2_000_000
          + rng.integers(0, 1_000_000, size=ids.size))
    return kk, ss, ids, ts


def _write_events(path, ids, ts, rng):
    n = ids.size
    kinds = np.array(["click", "view", "purchase", "signup", "error"])
    table = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, size=n), pa.int64()),
        "event_type": pa.array(kinds[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.random(n) * 100, 2)),
        "props": pa.array(['{"k": %d}' % v for v in rng.integers(0, 100, size=n)]),
    })
    pq.write_table(table, path)


def _documents(rng, n_docs):
    """Near-duplicate clusters (a base text plus light token edits) and a
    seeded share of documents carrying one hot boilerplate phrase, so both
    the capped and the uncapped candidate paths have pairs to find."""
    texts = []
    bases = []
    for i in range(n_docs):
        if bases and rng.random() < 0.35:
            words = list(bases[rng.integers(0, len(bases))])
            for _ in range(rng.integers(0, 3)):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=rng.integers(20, 70))]
            bases.append(tuple(words))
        text = " ".join(words)
        if rng.random() < 0.2:
            text = text + " " + BOILERPLATE
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), size=n_docs)]),
        "source": pa.array(["src%d" % (i % 5) for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n_vecs):
    """Unit vectors in tight clusters (near duplicates) plus singletons."""
    centers = rng.normal(size=(max(n_vecs // 6, 1), DIM))
    vecs = np.empty((n_vecs, DIM))
    labels = np.empty(n_vecs, dtype=np.int32)
    for i in range(n_vecs):
        if rng.random() < 0.5:
            c = rng.integers(0, centers.shape[0])
            vecs[i] = centers[c] + rng.normal(scale=0.05, size=DIM)
            labels[i] = c % 10
        else:
            vecs[i] = rng.normal(size=DIM)
            labels[i] = rng.integers(0, 10)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array([list(map(float, v)) for v in vecs.astype(np.float32)],
                   pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def _stream_plan(rng, kk, ss, n_episodes, n_files, max_lag):
    """File index per event: an episode's rows land in one file, except its
    stop rows, which land a seeded 1..max_lag files later (clipped to the
    last file), so later micro-batches close attacks routed earlier."""
    per_file = -(-n_episodes // n_files)
    home = kk // per_file
    lag = rng.integers(1, max_lag + 1, size=n_episodes)[kk]
    is_stop = np.isin(ss, STOP_SLOTS)
    return np.where(is_stop, np.minimum(home + lag, n_files - 1), home)


def generate(root, workload, seed, size_key=None):
    """Write the data set for (workload, seed) unless present; return its dir."""
    size_key = size_key or workload
    size = SIZES[size_key]
    out = data_dir(root, workload, seed, size_key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7919])
    kk, ss, ids, ts = _events(rng, seed, size["episodes"])
    _write_events(os.path.join(out, "events.parquet"), ids, ts, rng)
    pq.write_table(_documents(rng, size["docs"]), os.path.join(out, "documents.parquet"))
    pq.write_table(_embeddings(rng, size["vecs"]), os.path.join(out, "embeddings.parquet"))
    if "files" in size:
        fidx = _stream_plan(rng, kk, ss, size["episodes"], size["files"], size["max_stop_lag"])
        pq.write_table(pa.table({"event_id": pa.array(ids, pa.int64()),
                                 "file_idx": pa.array(fidx, pa.int32())}),
                       os.path.join(out, "plan.parquet"))
    with open(os.path.join(out, "identity.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "size": size,
                   "mix": mix_id(), "weights": WEIGHTS}, f)
    open(os.path.join(out, "_DONE"), "w").close()
    return out
