"""Seeded input generator for the perfbench workloads.

Everything the program reads is written here, to disk, before any timing
starts; the same seed gives byte-identical files. Each generator also
returns what the benchmark needs to check the program's outputs itself:

- etl_sync: the keep-last state (row count and checksum) after every sync,
  and the ids each sync carries (for the Singer RECORD check);
- search_mixed: the planted duplicate groups (doc id -> group root) that
  the maintained cluster labels must equal. Query answers are checked in
  the JVM against the one-shot BM25 operator, the documented
  bit-identical contract.

Text follows the program's tokenizer (lower-case, split on whitespace) and
its word-3-gram shingles, so the Jaccard values computed here are the ones
the dedup index verifies against its 0.7 threshold.
"""

import csv
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

THRESHOLD = 0.7
# Planted near-duplicates are kept at or above PLANTED_MIN Jaccard with the
# document they copy; every other pair stays at or below RANDOM_MAX.
PLANTED_MIN = 0.8
RANDOM_MAX = 0.3
# Shares of each search_mixed corpus part (seed, batch) that are planted
# near-duplicates, and that are empty or whitespace-only documents.
DUP_SHARE = 0.1
BLANK_SHARE = 0.02
SHINGLE_K = 3

_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "dr", "gl", "kr", "pl", "st",
           "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]


def vocabulary(rng, n):
    """n distinct lower-case pseudo-words, in generation order."""
    seen, words = set(), []
    while len(words) < n:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                    for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_cum(n, s):
    """Cumulative weights of a Zipf(s) law over ranks 1..n."""
    cum, acc = [], 0.0
    for r in range(1, n + 1):
        acc += 1.0 / r ** s
        cum.append(acc)
    return cum


def shingles(text, k=SHINGLE_K):
    """The program's distinct word-k-gram set of a text."""
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


def _blank(rng):
    """An empty or whitespace-only document (zero tokens)."""
    return rng.choice(["", " ", "   ", "\t", " \n ", "\t \t"])


def _write_parquet(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


# --------------------------------------------------------------- etl_sync

ORDERS_COLS = ["id", "seq", "amount", "active", "updated_at", "note"]
_EPOCH0 = np.datetime64("2024-01-01T00:00:00", "s")


def _catalog():
    def stream(name, props):
        return {
            "stream": name, "tap_stream_id": name,
            "schema": {"type": "object", "properties": props},
            "metadata": [{"breadcrumb": [], "metadata": {
                "table-key-properties": ["id"], "selected": True}}],
        }
    nullable = lambda t, **kw: dict({"type": [t, "null"]}, **kw)
    return {"streams": [
        stream("orders", {
            "id": nullable("integer"), "seq": nullable("integer"),
            "amount": nullable("number"), "active": nullable("boolean"),
            "updated_at": nullable("string", format="date-time"),
            "note": nullable("string")}),
        stream("customers", {
            "id": nullable("integer"), "seq": nullable("integer"),
            "name": nullable("string"), "score": nullable("number"),
            "vip": nullable("boolean"),
            "signup_at": nullable("string", format="date-time")}),
    ]}


def row_hash(rid, seq, scaled, flag, ts):
    """Per-row checksum term (scalars or int64 arrays); the JVM computes
    the same over the snapshot, with `scaled` the amount in cents or the
    score in thousandths and `ts` in epoch seconds."""
    return rid * 1000003 + seq * 7919 + scaled * 31 + flag * 17 + ts


def _phrases(rng, words, n, lo, hi):
    """n phrases of lo..hi words each."""
    lens = rng.integers(lo, hi + 1, n)
    picks = rng.integers(0, len(words), int(lens.sum())).tolist()
    ends = np.cumsum(lens).tolist()
    return [" ".join(words[j] for j in picks[e - k:e])
            for k, e in zip(lens.tolist(), ends)]


def gen_etl(root, seed, n_syncs, seed_orders, seed_customers,
            sync_orders, sync_customers):
    """Sync 0 seeds the snapshot; syncs 1..n_syncs are the incremental ops.

    Each sync dir holds catalog.json and sync-output/{orders.csv,
    customers.parquet}. Half of a sync's rows update existing ids, half
    insert new ones; no id repeats inside one sync. Ids are never
    deleted, so the live ids of a stream are 1..(next id - 1).
    """
    rng = np.random.default_rng(
        int(hashlib.sha256(b"etl:%d" % seed).hexdigest(), 16))
    words = vocabulary(random.Random("etl-words:%d" % seed), 400)
    catalog = json.dumps(_catalog(), indent=2, sort_keys=True)
    n_total = {"orders": seed_orders + n_syncs * sync_orders,
               "customers": seed_customers + n_syncs * sync_customers}
    # keep-last checksum term by id; index 0 unused
    state = {st: np.zeros(n + 1, np.int64) for st, n in n_total.items()}
    next_id = {"orders": 1, "customers": 1}
    after, ids_per_sync, syncs = [], [], []

    def pick_ids(stream, n):
        live = next_id[stream] - 1
        n_upd = min(live, n // 2)
        upd = rng.choice(live, n_upd, replace=False) + 1
        new = np.arange(next_id[stream], next_id[stream] + n - n_upd)
        next_id[stream] += n - n_upd
        return rng.permutation(np.concatenate([upd, new]).astype(np.int64))

    def times(s, n):
        ts = (_EPOCH0 + s * 3600 + rng.integers(0, 3600, n)).astype("int64")
        iso = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
        return ts, [t + "Z" for t in iso.tolist()]

    for s in range(n_syncs + 1):
        d = os.path.join(root, "s%05d" % s)
        out = os.path.join(d, "sync-output")
        os.makedirs(out)
        with open(os.path.join(d, "catalog.json"), "w") as f:
            f.write(catalog)
        n_o = seed_orders if s == 0 else sync_orders
        n_c = seed_customers if s == 0 else sync_customers

        o_ids = pick_ids("orders", n_o)
        cents = rng.integers(0, 1000000, n_o)
        active = rng.random(n_o) < 0.6
        ts, iso = times(s, n_o)
        notes = _phrases(rng, words, n_o, 1, 6)
        blank = (rng.random(n_o) < 0.1).tolist()
        comma = (rng.random(n_o) < 0.2).tolist()
        notes = ["" if b else t.replace(" ", ", ", 1) if c else t
                 for t, b, c in zip(notes, blank, comma)]
        with open(os.path.join(out, "orders.csv"), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(ORDERS_COLS)
            w.writerows(zip(
                o_ids.tolist(), [s] * n_o,
                ["%d.%02d" % divmod(c, 100) for c in cents.tolist()],
                ["true" if a else "false" for a in active.tolist()],
                iso, notes))
        state["orders"][o_ids] = row_hash(o_ids, s, cents, active, ts)

        c_ids = pick_ids("customers", n_c)
        milli = rng.integers(0, 100000, n_c)
        vip = rng.random(n_c) < 0.2
        ts, iso = times(s, n_c)
        _write_parquet(os.path.join(out, "customers.parquet"), {
            "id": pa.array(c_ids, pa.int64()),
            "seq": pa.array(np.full(n_c, s, np.int64)),
            "name": pa.array(_phrases(rng, words, n_c, 2, 2), pa.string()),
            "score": pa.array(milli / 1000.0, pa.float64()),
            "vip": pa.array(vip, pa.bool_()),
            "signup_at": pa.array(iso, pa.string()),
        })
        state["customers"][c_ids] = row_hash(c_ids, s, milli, vip, ts)

        after.append({st: [next_id[st] - 1, int(state[st].sum())]
                      for st in state})
        ids_per_sync.append({"orders": o_ids.tolist(),
                             "customers": c_ids.tolist()})
        syncs.append(d)
    return {"syncs": syncs}, {"after": after, "ids": ids_per_sync}


# ----------------------------------------------------------- search_mixed

class _DocPool:
    """Documents so far, with a shingle inverted index used to keep every
    unplanted pair at or below RANDOM_MAX Jaccard."""

    def __init__(self):
        self.sh = {}
        self.index = {}

    def max_overlap(self, s, exclude=()):
        counts = {}
        for x in s:
            for d in self.index.get(x, ()):
                counts[d] = counts.get(d, 0) + 1
        best = 0.0
        for d, c in counts.items():
            if d not in exclude:
                best = max(best, c / (len(s) + len(self.sh[d]) - c))
        return best

    def add(self, doc_id, s):
        self.sh[doc_id] = s
        for x in s:
            self.index.setdefault(x, []).append(doc_id)


def gen_corpus(root, seed, n_seed, batch_size, n_batches, n_queries):
    """Seed corpus, n_batches ingest batches and n_queries queries.

    Documents draw 20-120 words from a Zipf law over a 5000-word
    vocabulary. A DUP_SHARE of the seed and of each batch are planted
    near-duplicates of an earlier doc: of the seed (half), of an earlier
    batch (three tenths) or of the same batch (a fifth). Queries hold 1-4
    distinct Zipf-skewed terms. Returns the plan part and root_of[doc_id]
    (the group's first document) for every planted group member.
    """
    rng = random.Random("search:%d" % seed)
    words = vocabulary(rng, 5000)
    doc_cum = zipf_cum(len(words), 1.05)
    pool, texts, root_of = _DocPool(), {}, {}
    next_id = [1]

    def fresh_text():
        while True:
            t = " ".join(rng.choices(words, cum_weights=doc_cum,
                                     k=rng.randint(20, 120)))
            s = shingles(t)
            if pool.max_overlap(s) <= RANDOM_MAX:
                return t, s

    def mutate(text):
        toks = text.split()
        for _ in range(rng.randint(1, 2)):
            toks[rng.randrange(len(toks))] = rng.choices(
                words, cum_weights=doc_cum)[0]
        if rng.random() < 0.5:
            toks.append(rng.choices(words, cum_weights=doc_cum)[0])
        return " ".join(toks)

    def planted(candidates):
        while True:
            parent = rng.choice(candidates)
            t = mutate(texts[parent])
            s = shingles(t)
            if jaccard(s, pool.sh[parent]) < PLANTED_MIN:
                continue
            group = root_of.get(parent, parent)
            members = {d for d, r in root_of.items() if r == group}
            if pool.max_overlap(s, members | {group}) <= RANDOM_MAX:
                return parent, t, s

    def make(n, seed_ids, batch_ids):
        ids, out = [], []
        for _ in range(n):
            doc_id = next_id[0]
            next_id[0] += 1
            u = rng.random()
            if u < BLANK_SHARE:
                out.append((doc_id, _blank(rng)))
                continue
            w = rng.random()
            cands = (ids if w < 0.2 and ids else
                     batch_ids if w < 0.5 and batch_ids else
                     seed_ids or ids)
            if u < BLANK_SHARE + DUP_SHARE and cands:
                parent, t, s = planted(cands)
                root_of[doc_id] = root_of.get(parent, parent)
                root_of.setdefault(parent, root_of[doc_id])
            else:
                t, s = fresh_text()
            pool.add(doc_id, s)
            texts[doc_id] = t
            ids.append(doc_id)
            out.append((doc_id, t))
        return ids, out

    def write(path, rows):
        _write_parquet(path, {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string())})

    os.makedirs(os.path.join(root, "incoming"))
    seed_ids, rows = make(n_seed, [], [])
    seed_path = os.path.join(root, "seed.parquet")
    write(seed_path, rows)
    earlier, batches = [], []
    for b in range(n_batches):
        ids, rows = make(batch_size, seed_ids, earlier)
        path = os.path.join(root, "incoming", "batch-%05d.parquet" % b)
        write(path, rows)
        earlier.extend(ids)
        batches.append({"path": path, "docs": len(rows),
                        "last_id": rows[-1][0]})
    # Query terms skip the ten most frequent words (stop words a search
    # front end drops) and otherwise follow a Zipf law over rank.
    q_cum = zipf_cum(len(words) - 10, 0.9)
    queries = []
    for _ in range(n_queries):
        terms = []
        for _ in range(rng.choice([1, 2, 2, 3, 3, 4])):
            t = rng.choices(words[10:], cum_weights=q_cum)[0]
            while t in terms:
                t = rng.choices(words[10:], cum_weights=q_cum)[0]
            terms.append(t)
        queries.append(terms)
    qpath = os.path.join(root, "queries.json")
    with open(qpath, "w") as f:
        json.dump(queries, f)
    plan = {"seed": seed_path, "batches": batches, "queries": qpath,
            "watch": os.path.join(root, "watch")}
    return plan, {"root_of": root_of, "texts": texts}


def expected_labels(root_of, last_id):
    """ClusterIndex labels for docs with id <= last_id: every member of a
    planted group with >= 2 consumed members maps to the group's min id."""
    groups = {}
    for d, r in root_of.items():
        if d <= last_id:
            groups.setdefault(r, set()).add(d)
    return {d: min(g) for g in groups.values() if len(g) > 1 for d in g}
