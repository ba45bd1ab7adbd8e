"""Seeded input generators for the benchmark.

Everything the engine receives is written here, from the seed alone:

* ``suite_tables`` writes the ``documents``, ``embeddings`` and ``events``
  tables the registry rows read, with the schemas and value distributions of
  the test tables (TESTDATA.md / FIXTURES.md section 2).
* ``eventstore`` writes a canonical event log as commits (the input of
  ``Storage.commitToRows``), the append batches, the op list and, for every
  op, the answer the generator's own arithmetic predicts.

The same seed gives byte-identical files; ``digest`` hashes a generated
directory so the tests can prove it.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- registry-row tables ------------------------------------------------------

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(table, path):
    # fixed writer settings: the file bytes depend only on the rows
    pq.write_table(table, path, compression="snappy", store_schema=False)


def suite_tables(seed, out_dir, docs, embeddings, events, users):
    """The three test tables the selected rows read, in their TESTDATA shape:
    30-word vocabulary documents of 10-100 words with about 5% near-copies
    (another document's text plus " dup"), unit-norm 64-d float embeddings
    with ten labels, and a 30-day event stream ordered by time."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    lengths = rng.integers(10, 101, docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + n]))
        at += n
    for i in rng.choice(docs, size=max(1, docs // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, docs))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), docs, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), f"{out_dir}/documents.parquet")

    vecs = rng.standard_normal((embeddings, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(embeddings, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, embeddings).astype(np.int32)),
    }), f"{out_dir}/embeddings.parquet")

    gaps = rng.exponential(30 * DAY_US / events, events)
    ts = EPOCH_2024_US + np.cumsum(gaps).astype(np.int64)
    _write(pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, events).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, events)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]),
    }), f"{out_dir}/events.parquet")


def row_order(seed, rows):
    """The seeded permutation the registry-row workloads run their rows in."""
    rng = np.random.default_rng([seed, 2])
    return [rows[i] for i in rng.permutation(len(rows))]


# -- canonical event log --------------------------------------------------------

FILETIME_EPOCH = 116_444_736_000_000_000  # FileTime ticks at 1970-01-01
TICKS_PER_US = 10
ES_TYPES = [f"Contract.Event{i}" for i in range(10)]
PUBLIC_OFFSET = 5  # Model.PublicEventsOffset
ES_DAYS = 10  # the bulk log spans days 0..9; appends land on day 10


def us_to_filetime(us):
    return FILETIME_EPOCH + us * TICKS_PER_US


def day_bounds_ft(day):
    """Inclusive FileTime bounds of day ``day`` after 2024-01-01."""
    lo = us_to_filetime(EPOCH_2024_US + day * DAY_US)
    return lo, lo + DAY_US * TICKS_PER_US - 1


class _Log:
    """The generator's model of the store: per aggregate, its events in
    (rev, pos) order; per (type, day), its event count."""

    def __init__(self, rng):
        self.rng = rng
        self.ids = []          # aggregate ids, in creation order
        self.events = {}       # id -> list of (rev, pos)
        self.revs = {}         # id -> last rev
        self.replay = {}       # (et, day) -> count
        self.user_bytes = 0
        self.filler = rng.integers(97, 123, 1 << 20, dtype=np.uint8).tobytes()

    def payload(self, et, rev, pos):
        head = f'{{"t":"{et}","rev":{rev},"pos":{pos},"body":"'.encode()
        size = int(np.exp(self.rng.uniform(np.log(64), np.log(2048))))
        start = int(self.rng.integers(0, len(self.filler) - 2048))
        body = self.filler[start:start + max(0, size - len(head) - 2)]
        return head + body + b'"}'

    def commit(self, aid, ts_us):
        """One commit of 1-3 private events and, one time in five, a public
        event at the pos offset; event types are distinct within a commit."""
        rev = self.revs.get(aid, 0) + 1
        self.revs[aid] = rev
        n_priv = int(self.rng.integers(1, 4))
        n_pub = 1 if self.rng.random() < 0.2 else 0
        types = self.rng.choice(len(ES_TYPES), n_priv + n_pub, replace=False)
        ts = us_to_filetime(int(ts_us))
        day = int((ts_us - EPOCH_2024_US) // DAY_US)
        priv, pub, evs = [], [], self.events.setdefault(aid, [])
        for k in range(n_priv + n_pub):
            pos = k if k < n_priv else n_priv - 1 + PUBLIC_OFFSET + (k - n_priv)
            et = ES_TYPES[types[k]]
            data = self.payload(et, rev, pos)
            (priv if k < n_priv else pub).append(data)
            evs.append((rev, pos))
            self.replay[(et, day)] = self.replay.get((et, day), 0) + 1
            self.user_bytes += 16 + 4 + 4 + 8 + len(data)
        return {"id": aid, "rev": rev, "ts": ts, "events": priv, "publicEvents": pub}


COMMIT_SCHEMA = pa.schema([
    ("id", pa.binary()), ("rev", pa.int32()), ("ts", pa.int64()),
    ("events", pa.list_(pa.binary())), ("publicEvents", pa.list_(pa.binary())),
])


def _write_commits(commits, path):
    _write(pa.Table.from_pylist(commits, schema=COMMIT_SCHEMA), path)


def _unique_sorted(rng, n, lo_us, span_us):
    """n distinct timestamps in [lo, lo + span), sorted."""
    t = np.sort(rng.integers(lo_us, lo_us + span_us, n))
    return t + np.arange(n)  # strictly increasing, so no two commits tie


def _digest(pairs):
    return hashlib.sha1(",".join(f"{r}:{p}" for r, p in pairs).encode()).hexdigest()


ES_MIX = {"load": 0.7, "page": 0.1, "replay": 0.1, "append": 0.1}


def eventstore(seed, out_dir, aggregates, n_ops, append_commits):
    """The bulk log (``bulk.parquet``), one commits file per append op
    (``append_<k>.parquet``), ``ops.tsv``: the ``n_ops`` ops of the fixed mix
    ``ES_MIX`` in a seeded order, one per line with the answer the generator
    predicts, and ``meta.json``: the bulk log's event count and generated
    user bytes."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    log = _Log(rng)

    # revisions per aggregate: 1-12, plus a heavy tail of a few aggregates
    # with a few hundred revisions each
    revs = rng.integers(1, 13, aggregates)
    heavy = rng.choice(aggregates, size=max(1, aggregates // 400), replace=False)
    revs[heavy] = rng.integers(150, 400, len(heavy))
    ids = [rng.bytes(16) for _ in range(aggregates)]
    owner = np.repeat(np.arange(aggregates), revs)
    rng.shuffle(owner)
    times = _unique_sorted(rng, len(owner), EPOCH_2024_US, ES_DAYS * DAY_US)
    commits = [log.commit(ids[a], t) for a, t in zip(owner, times)]
    log.ids = ids
    _write_commits(commits, f"{out_dir}/bulk.parquet")
    bulk_user_bytes = log.user_bytes
    bulk_events = sum(len(c["events"]) + len(c["publicEvents"]) for c in commits)

    # Zipf-skewed popularity over a seeded rank order of the aggregates
    rank = rng.permutation(aggregates)
    zipf_p = 1.0 / np.arange(1, aggregates + 1) ** 0.9
    zipf_p /= zipf_p.sum()
    recent = []           # ids touched by the latest appends
    next_ts = EPOCH_2024_US + ES_DAYS * DAY_US

    def pick_id():
        if recent and rng.random() < 0.3:
            return recent[int(rng.integers(0, len(recent)))]
        return ids[rank[rng.choice(aggregates, p=zipf_p)]]

    counts = {k: int(round(v * n_ops)) for k, v in ES_MIX.items()}
    counts["load"] += n_ops - sum(counts.values())
    kinds = [k for k, n in counts.items() for _ in range(n)]
    rng.shuffle(kinds)

    lines, n_append = [], 0
    for kind in kinds:
        if kind == "load":
            aid = pick_id()
            evs = log.events[aid]
            lines.append(["load", aid.hex(), len(evs), _digest(evs)])
        elif kind == "page":
            aid = pick_id()
            evs = log.events[aid]
            take = int(rng.integers(5, 21))
            if rng.random() < 0.25:
                key, after = "-", evs
            else:
                r, p = evs[int(rng.integers(0, len(evs)))]
                key, after = f"{r}:{p}", [e for e in evs if e > (r, p)]
            want = after[:take]
            lines.append(["page", aid.hex(), key, take, len(want), _digest(want)])
        elif kind == "replay":
            et = ES_TYPES[int(rng.integers(0, len(ES_TYPES)))]
            day = int(rng.integers(0, ES_DAYS + 1))
            lo, hi = day_bounds_ft(day)
            lines.append(["replay", et, lo, hi, log.replay.get((et, day), 0)])
        else:
            batch = []
            n_new = append_commits // 4
            for _ in range(n_new):
                aid = rng.bytes(16)
                log.ids.append(aid)
                batch.append(aid)
            for _ in range(append_commits - n_new):
                batch.append(pick_id())
            ts = _unique_sorted(rng, len(batch), next_ts, 60_000_000)
            next_ts = int(ts[-1]) + 1
            before = log.user_bytes
            batch_commits = [log.commit(a, t) for a, t in zip(batch, ts)]
            name = f"append_{n_append}.parquet"
            _write_commits(batch_commits, f"{out_dir}/{name}")
            n_append += 1
            recent = list(dict.fromkeys(batch))
            lines.append(["append", name, log.user_bytes - before])
    with open(f"{out_dir}/ops.tsv", "w") as f:
        for l in lines:
            f.write("\t".join(str(x) for x in l) + "\n")
    meta = {"bulk_events": bulk_events, "bulk_user_bytes": bulk_user_bytes}
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def digest(path):
    """SHA-1 over every file under ``path`` (names and bytes, sorted)."""
    h = hashlib.sha1()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
