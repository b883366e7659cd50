"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its arguments: the same seed
writes byte-identical files (``generated_twice`` checks it on every
run by generating twice and comparing digests). The engine never sees anything but the
files written here.

* ``fixture``       -- the star-schema + LLM tables the query catalog
                       reads, shaped like the repository's fixture
                       generator (same schemas, value domains, key
                       relationships); fixed seed, so the checksum
                       table in ``checksums.json`` applies to it.
* ``daily_inputs``  -- one CSV document batch and one embeddings batch
                       per simulated day, plus the eval set.
* ``stream_inputs`` -- one set of parquet files per simulated hour,
                       plus the eval set and the phrase blocklist.

Each input generator also returns a manifest: which rows were planted
as what, so the benchmark can check the outputs row by row.
"""
import bisect
import hashlib
import itertools
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Language marker words of the engine's language-id stage; generated
# vocabulary must avoid them so only planted markers decide a doc's
# language.
EN_MARKERS = ["the", "a", "and", "of", "is", "to", "in"]
DE_MARKERS = ["der", "die", "und", "das", "ist", "nicht", "ein"]
FR_MARKERS = ["le", "la", "et", "les", "des", "est", "un"]
RESERVED = set(EN_MARKERS + DE_MARKERS + FR_MARKERS +
               ["el", "de", "que", "y", "los", "es", "shi", "bu", "wo",
                "zai", "you"])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _digest(root):
    """sha256 over every file (relative path + bytes) under root."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------- catalog

FIXTURE_SEED = 42
CATALOG_WORDS = ["join", "hash", "row", "batch", "scan", "column",
                 "customer", "filter", "small", "slow", "merge", "order",
                 "vector", "line", "table", "data", "agg", "value", "key",
                 "stream", "window", "a", "spark", "part", "group", "big",
                 "sort", "query", "fast", "the"]
PART_ADJ = ["red", "blue", "green", "small", "big", "old", "new", "hot"]
PART_NOUN = ["widget", "plate", "ring", "rod", "anvil", "gear", "bolt",
             "valve"]


def fixture(out, scale=0.01):
    """Write the query catalog's ten tables at ``scale`` (0.01 = 1,500
    customers, 60,000 line items, 500 documents)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_li, n_part = int(6_000_000 * scale), int(200_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_ev, n_docs = int(1_000_000 * scale), min(int(50_000 * scale), 5000)
    n_emb = min(int(50_000 * scale), 2000)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, span, n)).astype("datetime64[us]")

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10,
                                  1),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")
    lnum = rng.integers(1, 8, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", 2500, n_li),
    }), f"{out}/lineitem.parquet")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, int(30 * 86400e6 / n_ev) * 2, n_ev)
    _write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": start + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev),
                            pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": money(0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")
    texts, langs = [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the
            # repository fixture (an earlier text plus a marker word)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(CATALOG_WORDS,
                                             int(rng.integers(10, 100)))))
        langs.append(str(rng.choice(["en", "en", "en", "de", "es", "fr",
                                     "zh"])))
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    _write(_embeddings(rng, 0, n_emb), f"{out}/embeddings.parquet")


def _embeddings(rng, first_id, n, dim=64, k=10):
    """Unit vectors around k seeded class centres, labelled by class."""
    centres = np.random.default_rng(7).normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    v = centres[labels] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ------------------------------------------------------ corpus text model

class Corpus:
    """Seeded document text: a Zipf-weighted synthetic vocabulary with
    language markers mixed in, plus an eval set built from a disjoint
    vocabulary so only planted spans can contaminate."""

    def __init__(self, seed, vocab=4000, eval_docs=200):
        self.rng = random.Random(seed)
        vrng = random.Random(1234)  # vocabulary does not depend on seed
        words = set()
        while len(words) < vocab + 600:
            w = "".join(vrng.choice("bcdfghjklmnprstvwz") +
                        vrng.choice("aeiou")
                        for _ in range(vrng.randint(2, 4)))
            if w not in RESERVED:
                words.add(w)
        words = sorted(words)
        vrng.shuffle(words)
        self.vocab, self.eval_vocab = words[:vocab], words[vocab:]
        weights = [1.0 / (r + 1) ** 0.8 for r in range(vocab)]
        total = sum(weights)
        self.cum = list(itertools.accumulate(w / total for w in weights))
        self.eval_set = [" ".join(vrng.choice(self.eval_vocab)
                                  for _ in range(vrng.randint(20, 40)))
                         for _ in range(eval_docs)]

    def _word(self):
        i = bisect.bisect_right(self.cum, self.rng.random())
        return self.vocab[min(i, len(self.vocab) - 1)]

    def doc(self, markers=EN_MARKERS, lo=60, hi=240):
        out = []
        for _ in range(self.rng.randint(lo, hi)):
            if self.rng.random() < 0.12:
                out.append(self.rng.choice(markers))
            else:
                out.append(self._word())
        return out

    def near_dup(self, text):
        """Light edit: one token in every ~60 replaced."""
        toks = text.split()
        for _ in range(max(1, len(toks) // 60)):
            toks[self.rng.randrange(len(toks))] = self._word()
        return " ".join(toks)

    def contaminated(self):
        toks = self.doc()
        span = self.rng.choice(self.eval_set).split()[:13]
        at = self.rng.randrange(len(toks))
        return " ".join(toks[:at] + span + toks[at:])


# ------------------------------------------------------------ daily batch

DAILY_MIX = {"recrawl": 0.08, "near_dup": 0.06, "contaminated": 0.04,
             "non_english": 0.06}


def daily_inputs(out, seed, days, docs_per_day, embeddings_per_day):
    """Per day d: ``day{d}/documents.csv`` and ``day{d}/embeddings.parquet``;
    ``eval_set.parquet`` once. Returns the manifest (planted ids per day)."""
    c = Corpus(seed)
    erng = np.random.default_rng(seed)
    _write(pa.table({"text": c.eval_set}), f"{out}/eval_set.parquet")
    history, manifest = [], {"days": []}
    for d in range(days):
        rows, planted = [], {k: [] for k in DAILY_MIX}
        base = (d + 1) * 1_000_000
        for i in range(docs_per_day):
            doc_id = base + i
            r = c.rng.random()
            kind, acc = "fresh", 0.0
            for k, share in DAILY_MIX.items():
                acc += share
                if r < acc:
                    kind = k
                    break
            if kind in ("recrawl", "near_dup") and not history:
                kind = "fresh"
            if kind == "recrawl":
                text = c.rng.choice(history)
            elif kind == "near_dup":
                text = c.near_dup(c.rng.choice(history))
            elif kind == "contaminated":
                text = c.contaminated()
            elif kind == "non_english":
                text = " ".join(c.doc(c.rng.choice([DE_MARKERS,
                                                    FR_MARKERS])))
            else:
                text = " ".join(c.doc())
            if kind in planted:
                planted[kind].append(doc_id)
            lang = "xx" if kind == "non_english" else "en"
            rows.append((doc_id, text, lang, f"src{i % 20}"))
        history.extend(t for (_, t, lang, _) in rows if lang == "en")
        ddir = f"{out}/day{d}"
        os.makedirs(ddir, exist_ok=True)
        with open(f"{ddir}/documents.csv", "w", newline="\n") as fh:
            fh.write("doc_id,text,lang,source,n_chars\n")
            for doc_id, text, lang, src in rows:
                fh.write(f"{doc_id},{text},{lang},{src},{len(text)}\n")
        _write(_embeddings(erng, d * embeddings_per_day, embeddings_per_day),
               f"{ddir}/embeddings.parquet")
        manifest["days"].append({"ids": [r[0] for r in rows], **planted})
    return manifest


# ----------------------------------------------------------- stream hours

STREAM_MIX = {"replay": 0.10, "contaminated": 0.07, "blocked": 0.06,
              "bad_rule": 0.07}
BLOCKED_PHRASES = ["buy cheap pills now", "click this link today",
                   "free money offer"]


def stream_inputs(out, seed, hours, rows_per_hour, files_per_hour):
    """Per hour h: ``hour{h}/part-*.parquet`` (doc_id LONG, text STRING);
    ``eval_set.parquet`` and ``blocked_phrases.txt`` once. Returns the
    manifest: per hour the ids expected in the store (with their final
    text digest) and in the quarantine, and the ids expected in neither."""
    c = Corpus(seed)
    _write(pa.table({"text": c.eval_set}), f"{out}/eval_set.parquet")
    with open(f"{out}/blocked_phrases.txt", "w") as fh:
        fh.write("\n".join(BLOCKED_PHRASES) + "\n")
    stored, manifest = [], {"hours": []}
    neg = -1
    for h in range(hours):
        # replays target ids stored in earlier hours: two rows with one id
        # in one drain would leave the winner to micro-batch order
        earlier = list(stored)
        ids, texts = [], []
        kinds = {"store": [], "quarantine": [], "dropped": []}
        replayed = set()
        for i in range(rows_per_hour):
            doc_id = (h + 1) * 1_000_000 + i
            r = c.rng.random()
            kind, acc = "fresh", 0.0
            for k, share in STREAM_MIX.items():
                acc += share
                if r < acc:
                    kind = k
                    break
            text = " ".join(c.doc(lo=40, hi=120))
            if kind == "replay":
                cands = [s for s in earlier if s not in replayed]
                if cands:
                    doc_id = c.rng.choice(cands)
                    replayed.add(doc_id)
                else:
                    kind = "fresh"
            if kind == "contaminated":
                text = c.contaminated()
            elif kind == "blocked":
                toks = text.split()
                at = c.rng.randrange(len(toks))
                text = " ".join(toks[:at] +
                                c.rng.choice(BLOCKED_PHRASES).split() +
                                toks[at:])
            elif kind == "bad_rule":
                if c.rng.random() < 0.5:
                    text = None
                else:
                    doc_id, neg = neg, neg - 1
            ids.append(doc_id)
            texts.append(text)
            if kind in ("fresh", "replay"):
                kinds["store"].append([doc_id, hashlib.sha256(
                    text.encode()).hexdigest()[:16]])
                if kind == "fresh":
                    stored.append(doc_id)
            elif kind == "bad_rule":
                kinds["quarantine"].append(doc_id)
            else:
                kinds["dropped"].append(doc_id)
        # rows spread round-robin over the hour's files
        for f in range(files_per_hour):
            _write(pa.table({
                "doc_id": pa.array(ids[f::files_per_hour], pa.int64()),
                "text": pa.array(texts[f::files_per_hour], pa.string()),
            }), f"{out}/hour{h}/part-{f:03d}.parquet")
        manifest["hours"].append({"rows": len(ids), **kinds})
    return manifest


def generated_twice(gen, out, *args):
    """Generate into ``out`` and again into a sibling directory; return
    (digests equal, digest of ``out``, manifest)."""
    import shutil
    import tempfile
    m = gen(out, *args)
    other = tempfile.mkdtemp(dir=os.path.dirname(os.path.abspath(out)))
    try:
        m2 = gen(other, *args)
        d1, d2 = _digest(out), _digest(other)
    finally:
        shutil.rmtree(other)
    return d1 == d2 and m == m2, d1, m
