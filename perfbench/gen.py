"""Seeded input generator for the benchmark.

Makes the corpus tables the graft queries read (`documents`, `events`,
`embeddings`) with the same shape as the repository's sf0.1 test data, and
the enrichment records the three reference flows consume (`tweets`,
`posts`, `feeds`, `seen`), derived from those tables.  The same seed
and size give byte-identical inputs.
"""
import datetime
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "en", "en", "en", "en", "en",
         "es", "es", "es", "zh", "zh", "zh", "de", "de", "de", "fr", "fr", "fr"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

# Injected emoji and the name graft's demojize must give each (the CLDR
# short names of emoji.demojize(language="en")).  The checker expects
# exactly `:name:` in place of each one.
EMOJI = {
    "\U0001F600": "grinning_face",
    "\U0001F602": "face_with_tears_of_joy",
    "\U0001F622": "crying_face",
    "\U0001F525": "fire",
    "\U0001F680": "rocket",
    "\U0001F44D": "thumbs_up",
    "\U0001F389": "party_popper",
    "\U0001F4A1": "light_bulb",
    "\U0001F30D": "earth_africa",
    "❤": "red_heart",
}
EMOJI_LIST = sorted(EMOJI)
# The traffic shares below are assumptions, not measurements: neither the
# reference consumers (record-at-a-time Kafka consumers with no batch
# setting) nor the papers the design draws on give them.  They are chosen
# so that every code path the checker covers is taken on every seed.
EMOJI_SHARE = 0.2     # share of tweets and of comments that carry emoji
DUP_TWEET_SHARE = 0.02  # tweets delivered twice (identical rows)
SEEN_MOD = 10         # feeds with doc_id % SEEN_MOD == 0 are already seen
REDELIVER_SHARE = 0.1  # share of a micro-batch's rows delivered again next batch


def _words(r, lo, hi):
    return r.choices(VOCAB, k=r.randrange(lo, hi))


def documents(r, rng, n):
    texts = [" ".join(_words(r, 10, 100)) for _ in range(n)]
    # ~5% near-duplicates (another doc's text + " dup") and ~0.2% exact
    # copies, as in the test data, so the dedup operators find pairs.
    for i in range(n):
        u = r.random()
        if u < 0.05 or u >= 0.998:
            j = r.randrange(n)
            if j != i:
                texts[i] = texts[j] + (" dup" if u < 0.05 else "")
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def events(rng, n, n_users):
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64(start, "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    lab = rng.integers(0, labels, n)
    v = centers[lab] + rng.normal(0.0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": lab.astype(np.int32),
    })


def _decorate(r, words):
    """Insert 1-3 emoji and 1-2 extra hashtags at seeded positions."""
    words = list(words)
    for _ in range(r.randrange(1, 4)):
        words.insert(r.randrange(len(words) + 1), r.choice(EMOJI_LIST))
    for _ in range(r.randrange(1, 3)):
        words.insert(r.randrange(len(words) + 1), "#" + r.choice(VOCAB))
    return words


def tweets(r, ev):
    ids = ev.column("event_id").to_pylist()
    types = ev.column("event_type").to_pylist()
    vals = ev.column("value").to_pylist()
    users = ev.column("user_id").to_pylist()
    ts = ev.column("ts").to_pylist()
    rows = []
    for i, eid in enumerate(ids):
        words = [types[i]] + _words(r, 3, 12) + ["#" + types[i]]
        if r.random() < EMOJI_SHARE:
            words = _decorate(r, words)
        rows.append((str(eid), " ".join(words),
                     ts[i].strftime("%Y-%m-%d %H:%M:%S") + "+0000",
                     [("views", f"{vals[i]:.2f}")], [("name", f"user_{users[i]}")],
                     types[i]))
        if r.random() < DUP_TWEET_SHARE:
            rows.append(rows[-1])
    cols = list(zip(*rows)) or [()] * 6
    m = pa.map_(pa.string(), pa.string())
    return pa.table({
        "tweet_id": pa.array(cols[0], pa.string()),
        "text": pa.array(cols[1], pa.string()),
        "created_at": pa.array(cols[2], pa.string()),
        "metrics": pa.array(cols[3], m),
        "author": pa.array(cols[4], m),
        "trend": pa.array(cols[5], pa.string()),
    })


def posts(r, docs):
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    srcs = docs.column("source").to_pylist()
    langs = docs.column("lang").to_pylist()
    nch = docs.column("n_chars").to_pylist()
    comments = []
    for t in texts:
        cs = []
        for piece in (t[:200], t[200:]):
            if piece and r.random() < EMOJI_SHARE:
                piece = " ".join(_decorate(r, piece.split(" ")))
            cs.append({"text": piece})
        comments.append(cs)
    m = pa.map_(pa.string(), pa.string())
    return pa.table({
        "id": [str(i) for i in ids],
        "title": [f"doc {i} from {s}" for i, s in zip(ids, srcs)],
        "author": pa.array([[("name", s)] for s in srcs], m),
        "created": ["2024-03-01 12:00:00"] * len(ids),
        "score": pa.array([c % 1000 for c in nch], pa.int32()),
        "upvote_ratio": [0.9] * len(ids),
        "reddit": pa.array([[("subreddit", l)] for l in langs], m),
        "comments": pa.array(comments,
                             pa.list_(pa.struct([("text", pa.string())]))),
    })


def feeds(docs):
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    srcs = docs.column("source").to_pylist()
    return pa.table({
        "feed_source": srcs,
        "title": [f"article {i}" for i in ids],
        "link": [f"https://feeds.example/{i}" for i in ids],
        "published": pa.array(
            [("Mon, 04 Mar 2024 10:30:00 " + ("+0100" if i % 4 == 0 else "GMT"))
             if i % 2 == 0 else None for i in ids], pa.string()),
        "published_parsed": pa.array(
            [[2024, 3, 4, 10, 30, 0, 0, 64, -1] if i % 2 == 1 else None
             for i in ids], pa.list_(pa.int32())),
        "summary": pa.array(
            [f"<p>summary of {i}</p>" if i % 3 == 0 else None for i in ids],
            pa.string()),
        "content": [f"<html><body><p>{t}</p></body></html>" for t in texts],
    })


def batches(r, t, rounds):
    """`t` cut into `rounds` micro-batches, in a leading `batch` column;
    each batch after the first also re-delivers REDELIVER_SHARE of the
    previous batch's rows."""
    n = t.num_rows
    edges = [n * i // rounds for i in range(rounds + 1)]
    idx, tag = [], []
    for i in range(rounds):
        rows = list(range(edges[i], edges[i + 1]))
        if i > 0:
            prev = range(edges[i - 1], edges[i])
            rows += sorted(r.sample(prev, round(len(prev) * REDELIVER_SHARE)))
        idx += rows
        tag += [i] * len(rows)
    return t.take(pa.array(idx, pa.int64())).add_column(
        0, "batch", pa.array(tag, pa.int32()))


def generate(out_dir, seed, sizes):
    """Write every input table under `out_dir`; `sizes` holds the row
    counts (docs, events, users, vectors, tweets, posts) and the number
    of micro-batch rounds (0 for none).  Returns each table's rows."""
    r = random.Random(seed)
    rng = np.random.default_rng(seed)
    docs = documents(r, rng, sizes["docs"])
    ev = events(rng, sizes["events"], sizes["users"])
    tables = {
        "documents": docs,
        "events": ev,
        "embeddings": embeddings(rng, sizes["vectors"]),
        "tweets": tweets(r, ev.slice(0, sizes["tweets"])),
    }
    rec_docs = docs.slice(0, sizes["posts"])
    tables["posts"] = posts(r, rec_docs)
    tables["feeds"] = feeds(rec_docs)
    tables["seen"] = pa.table({"link": [
        l for l in tables["feeds"].column("link").to_pylist()
        if int(l.rsplit("/", 1)[1]) % SEEN_MOD == 0]})
    for name in ("tweets", "posts", "feeds") if sizes["rounds"] else ():
        tables["ingest_" + name] = batches(r, tables[name], sizes["rounds"])
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    rows = {name: t.num_rows for name, t in tables.items()}
    # records offered per micro-batch round, all three flows together
    rows["round_rows"] = [0] * sizes["rounds"]
    for name in ("tweets", "posts", "feeds") if sizes["rounds"] else ():
        for b in tables["ingest_" + name].column("batch").to_pylist():
            rows["round_rows"][b] += 1
    return rows
