"""Input generation for the workload benchmark.

Two kinds of input:

* the BASE tables (`events`, `documents`, `embeddings`) have the shape and
  size of the sf0.1 testdata: 100,000 events over 1,500 users x 5 event
  types (7,500 series) in January 2024, 5,000 documents, 2,000 64-d
  embeddings.  They come from a fixed internal seed, so every run and every
  `--seed` reads the same bytes; they are written once per checkout and
  reused.
  Their distributions copy those measured on sf0.1 (SF01 below; the
  self-tests hold the generator to them).
* the PLAN of one run comes from `--seed`.  The seed picks only parameters
  that leave the amount of work unchanged: which users and start days the
  dashboard panels read, which documents and vectors form the curation
  corpus, and which users and values the stream's events carry.  Query
  templates, range lengths, corpus size, near-duplicate share, event rate
  and backlog are constants below.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_VERSION = "base-v2"
BASE_SEED = 20240101

N_EVENTS = 100_000
N_USERS = 1_500
TYPES = ["click", "error", "purchase", "signup", "view"]
T0_MS = 1704067200000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
N_DAYS = 30
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VALUE_MEAN = 50.0  # event values are exponential, rounded to cents
NEAR_DUP_P = 0.045  # base documents: "<earlier text> dup"
EXACT_DUP_P = 0.0016  # base documents: a copy of an earlier text

# Properties of the sf0.1 testdata the base tables copy (measured with
# DuckDB on sf0.1; near-duplicates are documents with a word-3-gram Jaccard
# of at least 0.5 to an earlier, different document).
SF01 = {
    "events": 100_000, "series": 7_500,
    "events_per_series_first_7d": {"p10": 1, "p50": 3, "mean": 3.245},
    "series_over_5_events_first_7d_share": 0.0988,
    "events_per_type_share": 0.2,
    "value_quantiles": {"p10": 5.35, "p25": 14.64, "p50": 34.77, "p75": 68.9,
                        "p90": 114.3, "p99": 228.08},
    "documents": 5_000, "doc_words": {"p10": 19, "p50": 54, "p90": 90},
    "doc_chars": {"p10": 103, "p50": 295, "p90": 493}, "vocabulary": 31,
    "near_dup_share": 0.0482, "exact_dup_share": 0.0016,
    "lang_share": {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148,
                   "de": 0.140},
    "embeddings": 2_000, "dim": 64,
}

# --- dashboard: twelve panel templates, one per DQL family.  `days` is the
# range length; the seed picks the start day and the user(s).
PANELS = [
    ("aggr", 7, 1), ("glob", 7, 0), ("where", 7, 1), ("group_by", 7, 2),
    ("top", 7, 0), ("shift", 7, 1), ("derivate", 7, 1), ("conf", 1, 1),
    ("percentile", 7, 1), ("histogram", 7, 1), ("multi", 7, 1),
    ("events", 1, 0),
]
CHECK_PANELS = 4

# --- curation: fixed corpus size and near-duplicate share
CORPUS_DOCS = 200
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.02
CORPUS_VECS = 600
DELTA_DOCS = 50
DELTA_VECS = 50
SIM_QUERIES = 5
STEPS = [
    ("dedup_exact", "SELECT dedup_exact() LAST 30 d"),
    ("dedup_minhash", "SELECT dedup_minhash(0.5) LAST 30 d"),
    ("dedup_ngram", "SELECT dedup_ngram(0.3) LAST 30 d"),
    ("quality", "SELECT quality() LAST 30 d"),
    ("langid", "SELECT langid() LAST 30 d"),
    ("fingerprint", "SELECT fingerprint() LAST 30 d"),
    ("scrub", "SELECT scrub(8) LAST 30 d"),
    ("sim_topk", f"SELECT sim_topk({SIM_QUERIES}, 10) LAST 30 d"),
]

# --- stream: fixed event rate and backlog; the seed picks the users and
# the values.  The windowed DQL query and the reader templates are fixed;
# `$t` is the event type, rotated per reader pass.
STREAM = {
    "users": 100, "rate_per_s": 1000, "tick_ms": 100, "window_ms": 2000,
    "setup_events": 500, "warmup_ticks": 10, "warmup_reader_ops": 2,
    "reader_threads": 3,
    "backlog_events": 5000, "drains": 3,
    "ingest_watermark": "2 seconds", "dql_watermark": "1 second",
    "shuffle_partitions": 1,
    "dql": "SELECT avg('click'.* BUCKET 'testdata', 2 s) LAST 1 h",
}
STREAM_READERS = [
    ("read_glob", "SELECT avg('$t'.* BUCKET 'testdata', 5 s) LAST 30 s"),
    ("read_group", "SELECT '$t' FROM 'testdata' GROUP BY $'graft':'user' "
                   "USING max LAST 30 s"),
]

def _doc_text(rng, n_words):
    return " ".join(rng.choice(VOCAB, size=n_words))


def write_base(out_dir):
    """Write the base tables under `out_dir` unless they are already there."""
    stamp = os.path.join(out_dir, "STAMP")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == BASE_VERSION:
                return False
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)

    ts_ns = np.sort(rng.integers(0, N_DAYS * DAY_MS * 1000, N_EVENTS)) * 1000 \
        + T0_MS * 1_000_000
    types = np.array(TYPES)[rng.integers(0, len(TYPES), N_EVENTS)]
    values = np.round(rng.exponential(VALUE_MEAN, N_EVENTS), 2)
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(types),
        "value": pa.array(values),
        "props": pa.array(['{"k": %d}' % k
                           for k in rng.integers(0, 100, N_EVENTS)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 20 and r < NEAR_DUP_P:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < NEAR_DUP_P + EXACT_DUP_P:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 100))))
    documents = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=N_DOCS, p=LANG_P)),
        "source": pa.array(["src%d" % (i % 20) for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    with open(stamp, "w") as f:
        f.write(BASE_VERSION)
    return True


def dashboard_plan(seed):
    """Panel parameters: per template the start day and the user(s)."""
    rng = np.random.default_rng([seed, 1])
    panels = []
    for name, days, n_users in PANELS:
        users = sorted(int(u) for u in
                       rng.choice(N_USERS, size=n_users, replace=False))
        day = int(rng.integers(0, N_DAYS - days + 1))
        panels.append({"name": name, "users": users,
                       "start_ms": T0_MS + day * DAY_MS,
                       "end_ms": T0_MS + (day + days) * DAY_MS})
    # the output check runs a seed-chosen sample of the panels
    checks = sorted(int(i) for i in
                    rng.choice(len(PANELS), size=CHECK_PANELS, replace=False))
    return {"types": TYPES, "panels": panels, "check_panels": checks}


def curate_plan(seed, base_dir, run_dir):
    """Sample the corpus, inject near-duplicates and write the corpus and
    delta tables under `run_dir`."""
    rng = np.random.default_rng([seed, 2])
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    embs = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    doc_ids = rng.choice(N_DOCS, size=CORPUS_DOCS + DELTA_DOCS, replace=False)
    corpus_ids, delta_ids = np.sort(doc_ids[:CORPUS_DOCS]), doc_ids[CORPUS_DOCS:]
    corpus = docs.take(pa.array(corpus_ids))
    n_near = int(CORPUS_DOCS * NEAR_DUP_SHARE)
    n_exact = int(CORPUS_DOCS * EXACT_DUP_SHARE)
    src = rng.choice(CORPUS_DOCS, size=n_near + n_exact, replace=False)
    texts = corpus.column("text").to_pylist()
    injected_text = [texts[i] + " dup" for i in src[:n_near]] + \
                    [texts[i] for i in src[n_near:]]
    next_id = N_DOCS
    injected = pa.table({
        "doc_id": pa.array(np.arange(next_id, next_id + len(src)), pa.int64()),
        "text": pa.array(injected_text),
        "lang": corpus.column("lang").take(pa.array(src)),
        "source": corpus.column("source").take(pa.array(src)),
        "n_chars": pa.array([len(t) for t in injected_text], pa.int64()),
    })
    corpus_dir = os.path.join(run_dir, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    pq.write_table(pa.concat_tables([corpus, injected]),
                   os.path.join(corpus_dir, "documents.parquet"))
    delta = docs.take(pa.array(delta_ids)).select(["doc_id", "text"])
    delta = delta.set_column(0, "doc_id", pa.array(
        np.arange(1_000_000, 1_000_000 + DELTA_DOCS), pa.int64()))
    pq.write_table(delta, os.path.join(run_dir, "delta_docs.parquet"))

    vec_ids = rng.choice(N_VECS, size=CORPUS_VECS + DELTA_VECS, replace=False)
    # vec_id < SIM_QUERIES are the sim_topk query vectors: keep the ids of
    # the corpus sample dense from 0 so the query set has fixed size
    sample = embs.take(pa.array(vec_ids[:CORPUS_VECS])).select(
        ["vec_id", "embedding"])
    sample = sample.set_column(0, "vec_id", pa.array(
        np.arange(CORPUS_VECS), pa.int64()))
    pq.write_table(sample, os.path.join(corpus_dir, "embeddings.parquet"))
    dvec = embs.take(pa.array(vec_ids[CORPUS_VECS:])).select(
        ["vec_id", "embedding"])
    dvec = dvec.set_column(0, "vec_id", pa.array(
        np.arange(1_000_000, 1_000_000 + DELTA_VECS), pa.int64()))
    pq.write_table(dvec, os.path.join(run_dir, "delta_vecs.parquet"))
    return {"corpus_dir": corpus_dir,
            "delta_docs": os.path.join(run_dir, "delta_docs.parquet"),
            "delta_vecs": os.path.join(run_dir, "delta_vecs.parquet"),
            "corpus_docs": CORPUS_DOCS + n_near + n_exact,
            "sim_queries": SIM_QUERIES,
            "steps": [{"name": n, "dql": d} for n, d in STEPS]}


def stream_plan(seed):
    """Stream parameters: the seed picks the users (and, in the JVM, the
    event values); rate, backlog and queries are fixed."""
    rng = np.random.default_rng([seed, 3])
    users = sorted(int(u) for u in
                   rng.choice(N_USERS, size=STREAM["users"], replace=False))
    return dict(STREAM, users=users, types=TYPES,
                readers=[{"name": n, "dql": d} for n, d in STREAM_READERS])


def write_plan(path, plan):
    with open(path, "w") as f:
        json.dump(plan, f, indent=1, sort_keys=True)


def _q(xs, ps):
    return {f"p{p}": float(np.quantile(xs, p / 100.0)) for p in ps}


def near_dup_share(texts, jaccard=0.5):
    """Share of documents with a word-3-gram Jaccard of at least `jaccard`
    to an earlier, different document."""
    grams = [set(zip(*(t.split()[i:] for i in range(3)))) for t in texts]
    index = {}
    for i, g in enumerate(grams):
        for x in g:
            index.setdefault(x, []).append(i)
    near = 0
    for i, g in enumerate(grams):
        shared = {}
        for x in g:
            post = index[x]
            if len(post) < 50:  # common 3-grams say nothing about overlap
                for j in post:
                    if j < i:
                        shared[j] = shared.get(j, 0) + 1
        if any(c / len(g | grams[j]) >= jaccard and texts[i] != texts[j]
               for j, c in shared.items()):
            near += 1
    return near / len(texts)


def measure(data_dir):
    """The SF01 properties of the tables in `data_dir`."""
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
    ts = ev.column("ts").cast(pa.timestamp("ms"), safe=False).cast(pa.int64()).to_numpy()
    ty = np.array(ev.column("event_type").to_pylist())
    us = ev.column("user_id").to_numpy()
    first = ts < ts.min() + 7 * DAY_MS
    _, per_series = np.unique(np.char.add(ty[first], us[first].astype(str)),
                              return_counts=True)
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    words = [t.split() for t in texts]
    langs = docs.column("lang").to_pylist()
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    return {
        "events": ev.num_rows, "series": len(set(zip(ty, us))),
        "events_per_series_first_7d": dict(_q(per_series, (10, 50)),
                                           mean=float(per_series.mean())),
        "series_over_5_events_first_7d_share": float((per_series > 5).mean()),
        "events_per_type_share": max(float((ty == t).mean()) for t in TYPES),
        "value_quantiles": _q(ev.column("value").to_numpy(),
                              (10, 25, 50, 75, 90, 99)),
        "documents": docs.num_rows,
        "doc_words": _q([len(w) for w in words], (10, 50, 90)),
        "doc_chars": _q([len(t) for t in texts], (10, 50, 90)),
        "vocabulary": len({x for w in words for x in w}),
        "near_dup_share": near_dup_share(texts),
        "exact_dup_share": (len(texts) - len(set(texts))) / len(texts),
        "lang_share": {k: langs.count(k) / len(langs) for k in sorted(set(langs))},
        "embeddings": emb.num_rows,
        "dim": len(emb.column("embedding")[0].as_py()),
    }


if __name__ == "__main__":
    # python3 wlbench/gen.py <dir>: the SF01 properties of a data directory
    import sys
    print(json.dumps(measure(sys.argv[1]), indent=1))
