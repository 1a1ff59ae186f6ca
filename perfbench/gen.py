"""Seeded input generation for the benchmark.

Every table is written with pyarrow in the fixture layout the program's
loaders expect (graft.Tables: one `<name>.parquet` file per table under a
scale-factor directory). The same seed gives byte-identical files, so the
program only ever sees generated inputs and a run can be reproduced from
its seed alone.

Three input sets:

* `catalog`: the ten fixture tables at roughly sf0.01, for the catalog probe
  of the traced `migrate_ticks` run. Built from the fixed seed
  `FIXTURE_SEED`, never from the run seed, so the query digests recorded in
  `catalog_digests.txt` hold on every run. The run seed only shuffles the
  query order.
* `corpus`: a document crawl for `Corpus.assemble`. `CORPUS_BASE` base
  documents are amplified `CORPUS_AMPLIFY` times with id offsets. Their
  words are drawn from a Zipf-distributed vocabulary of `CORPUS_VOCAB`
  words, as in a real crawl: with the fixture's 30-word vocabulary every
  long document would be a near-duplicate of every other. A
  `CORPUS_DUP_SHARE` share of the copies are perturbed near-duplicates (5%
  of the words replaced, the embedding moved by noise); the other copies
  are exact. Every document has an embedding. All of this comes from
  `FIXTURE_SEED`; the run seed permutes the document ids. When the seed
  picked the perturbed copies and their noise, the work of a pass depended
  on the seed: 19.8 CPU seconds for four passes at seed 800, 32.9 at seed
  802, in two runs each. With the content fixed, seeds differ in the labels
  of the dedup graph, not in its shape.
* `migrate`: a typed base extract of `events` that becomes the initial
  target, plus `TICKS` stringly CDC extracts. Each tick carries a
  `UPDATE_SHARE` share of updates to existing keys, a `REDUP_SHARE` share
  of second versions of a key inside the same tick, and a `DIRTY_SHARE`
  share of rows with exactly one defect that the DQ gate must quarantine.
  `manifest.json` records the row count and the injected dirty count of
  every tick.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DIM = 64

CORPUS_BASE = 200
CORPUS_AMPLIFY = 2
CORPUS_DUP_SHARE = 0.5
CORPUS_VOCAB = np.array([f"w{i}" for i in range(5000)])
CORPUS_VOCAB_P = 1.0 / np.arange(1, len(CORPUS_VOCAB) + 1)
CORPUS_VOCAB_P /= CORPUS_VOCAB_P.sum()

EVENTS_BASE = 20000
TICKS = 4
TICK_ROWS = 5000
UPDATE_SHARE = 0.3
REDUP_SHARE = 0.05
DIRTY_SHARE = 0.04

JAN_2024_US = 1704067200 * 1_000_000
MONTH_US = 30 * 86400 * 1_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _texts(rng, n, vocab=VOCAB, p=None):
    lens = rng.integers(10, 101, size=n)
    words = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(vocab[w]) for w in np.split(words, cuts)]


def _unit(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, type=pa.int32()),
    })


def _langs(rng, n):
    return rng.choice(LANGS, size=n, p=LANG_P)


def _doc_table(ids, texts, langs):
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _events(rng, n, first_id=0):
    ts = np.sort(JAN_2024_US + rng.integers(0, MONTH_US, size=n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, size=n),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "value": np.round(rng.exponential(50.0, size=n), 2),
    }


def catalog(out):
    """The ten fixture tables at about sf0.01, from FIXTURE_SEED."""
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    }), f"{out}/nation.parquet")
    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")
    day_us = 86400 * 1_000_000
    d1995 = 788918400 * 1_000_000
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(d1995 + rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(d1995 + 86400_000_000 + rng.integers(0, 2497, n_line) * day_us),
    }), f"{out}/lineitem.parquet")
    ev = _events(rng, 10000)
    _write(pa.table({
        "event_id": ev["event_id"], "ts": _ts(ev["ts"]),
        "user_id": ev["user_id"], "event_type": ev["event_type"],
        "value": ev["value"],
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, 10000)],
    }), f"{out}/events.parquet")
    ids = np.arange(500)
    _write(_doc_table(ids, _texts(rng, 500), _langs(rng, 500)), f"{out}/documents.parquet")
    _write(_emb_table(ids, _unit(rng, 500), rng.integers(0, 10, 500)),
           f"{out}/embeddings.parquet")


def corpus(out, seed):
    """The fixture-style base crawl amplified with perturbed copies, all
    from FIXTURE_SEED; the run seed permutes the document ids. Returns its
    summary."""
    base = np.random.default_rng([FIXTURE_SEED, 1])
    n0 = CORPUS_BASE
    os.makedirs(out, exist_ok=True)
    base_text = _texts(base, n0, CORPUS_VOCAB, CORPUS_VOCAB_P)
    base_vec = _unit(base, n0)
    base_label = base.integers(0, 10, n0)
    base_lang = _langs(base, n0)
    texts, vecs, dups = list(base_text), [base_vec], 0
    for _ in range(1, CORPUS_AMPLIFY):
        is_dup = np.zeros(n0, dtype=bool)
        is_dup[base.choice(n0, round(n0 * CORPUS_DUP_SHARE), replace=False)] = True
        for i in range(n0):
            if is_dup[i]:
                toks = base_text[i].split()
                swap = base.random(len(toks)) < 0.05
                for j in np.flatnonzero(swap):
                    toks[j] = VOCAB[base.integers(0, len(VOCAB))]
                texts.append(" ".join(toks) + " dup")
            else:
                texts.append(base_text[i])
        noisy = base_vec + 0.05 * base.standard_normal((n0, DIM)).astype(np.float32)
        noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
        vecs.append(np.where(is_dup[:, None], noisy, base_vec))
        dups += int(is_dup.sum())
    # Base document i and its copies get the ids perm[i] + k * n0: the seed
    # relabels the documents, and with them their sources (id % 20), but the
    # texts, embeddings and dedup graph are the same for every seed, so a
    # pass does the same work whatever the seed.
    perm = np.random.default_rng([seed, 1]).permutation(n0)
    ids = (perm[None, :] + n0 * np.arange(CORPUS_AMPLIFY)[:, None]).reshape(-1)
    order = np.argsort(ids)
    langs = np.tile(base_lang, CORPUS_AMPLIFY)
    _write(_doc_table(ids[order], [texts[i] for i in order], langs[order]),
           f"{out}/documents.parquet")
    _write(_emb_table(ids[order], np.concatenate(vecs)[order],
                      np.tile(base_label, CORPUS_AMPLIFY)[order]),
           f"{out}/embeddings.parquet")
    return {"docs": len(ids), "near_dup_copies": dups}


def migrate(out, seed):
    """Base target extract plus TICKS stringly CDC extracts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    base = _events(rng, EVENTS_BASE)
    _write(pa.table({
        "event_id": base["event_id"], "ts": _ts(base["ts"]),
        "user_id": base["user_id"], "event_type": base["event_type"],
        "value": base["value"],
    }), f"{out}/base.parquet")
    next_id = EVENTS_BASE
    dirty, staged = [], []
    for t in range(TICKS):
        n_upd = int(TICK_ROWS * UPDATE_SHARE)
        rows = _events(rng, TICK_ROWS, first_id=next_id)
        rows["event_id"][:n_upd] = rng.choice(next_id, n_upd, replace=False)
        next_id += TICK_ROWS - n_upd
        n_re = int(TICK_ROWS * REDUP_SHARE)
        re = rng.choice(TICK_ROWS, n_re, replace=False)
        again = {k: v[re].copy() for k, v in rows.items()}
        # a second version of the key within the tick, always at another
        # microsecond, so last-write-wins has one answer
        again["ts"] = again["ts"] + rng.integers(1, 3600_000_000, n_re) * \
            rng.choice([-1, 1], n_re)
        again["value"] = np.round(rng.exponential(50.0, n_re), 2)
        rows = {k: np.concatenate([rows[k], again[k]]) for k in rows}
        n = len(rows["event_id"])
        ts_str = np.datetime_as_string(rows["ts"].astype("datetime64[us]"), unit="us")
        cols = {
            "event_id": rows["event_id"].astype(str).astype(object),
            "ts": np.char.replace(ts_str, "T", " ").astype(object),
            "user_id": rows["user_id"].astype(str).astype(object),
            "event_type": rows["event_type"].astype(object),
            "value": np.char.mod("%.2f", rows["value"]).astype(object),
        }
        bad = rng.choice(n, int(n * DIRTY_SHARE), replace=False)
        kind = rng.integers(0, 3, len(bad))
        cols["event_id"][bad[kind == 0]] = "n/a"
        cols["ts"][bad[kind == 1]] = "2024-13-45 99:00:00"
        cols["event_type"][bad[kind == 2]] = "unknown"
        order = rng.permutation(n)
        _write(pa.table({k: pa.array(v[order], type=pa.string())
                         for k, v in cols.items()}), f"{out}/tick{t}.parquet")
        dirty.append(len(bad))
        staged.append(n)
    manifest = {"ticks": TICKS, "base_rows": EVENTS_BASE, "staged": staged, "dirty": dirty}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


def generate(workload, out, seed):
    if workload == "corpus_dedup":
        return corpus(out, seed)
    if workload == "migrate_ticks":
        return migrate(out, seed)
    raise ValueError(f"unknown workload {workload}")
