"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is made here from the seed, so
the same seed always gives byte-identical inputs. The tables follow the
schema and value shapes of the repository's synthetic test data (a
TPC-H-like star schema plus `events`, `documents` and `embeddings`):

- `inventory_read`: the ten inventory tables at a reduced scale factor,
  plus a per-pass permutation of the query keys.
- `lake_backfill`: one parquet file per event day. Each file holds the
  day's new events and a seeded share of earlier-day events re-sent
  with changed values (late corrections).
- `corpus_dedup`: a document corpus and a vector corpus with planted
  near-duplicates, a seed-chosen history slice (the base store and
  index) and the ingest batches.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold",
            "shiny", "old", "new", "dark", "light", "smooth"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
SMALL_VOCAB = ("a agg batch big column customer data dup fast filter group "
               "hash join key line merge order part query row scan slow "
               "small sort spark stream table the value vector window").split()
EPOCH_2024 = dt.datetime(2024, 1, 1)
LATE_DAYS = 3
DIM = 64


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts_us(base, offsets_us):
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(start + np.asarray(offsets_us, dtype=np.int64),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n, days, n_users):
    """`n` events over `days` days from 2024-01-01, ordered by time."""
    offs = np.sort(rng.integers(0, days * 86_400_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": offs,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _events_table(ev, with_day=False):
    cols = {
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": _ts_us(EPOCH_2024, ev["ts_us"]),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(ev["event_type"], pa.string()),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(ev["props"], pa.string()),
    }
    if with_day:
        cols["day"] = pa.array(ev["day"], pa.int32())
    return pa.table(cols)


def _small_vocab_docs(rng, n):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(SMALL_VOCAB, k)) for k in lens]
    return texts


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def gen_inventory(rng, out, sf, query_keys, passes):
    os.makedirs(out, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    rows = {}

    def put(name, table):
        _write(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}))
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}))
    pk = np.arange(n_part)
    put("part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))}))
    day0 = dt.datetime(1995, 1, 1)
    od = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_us(day0, od * 86_400_000_000),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}))
    # one to seven lines per order, numbered 1..k: (orderkey, linenumber)
    # is unique, so every ORDER BY on it is a total order
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts_us(day0, (od[okey] + rng.integers(1, 122, n_li))
                             * 86_400_000_000)}))
    put("events", _events_table(_events(rng, n_ev, 30, max(100, int(15_000 * sf)))))
    texts = _small_vocab_docs(rng, n_doc)
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    emb = _unit_vectors(rng, n_emb).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}))
    order = [list(rng.permutation(query_keys)) for _ in range(passes)]
    return {"dir": out, "sf": sf, "rows": rows, "passes": order}


def gen_lake(rng, out, n_events, days, correction_share):
    """Per-day arrival files: day d carries its own events plus late
    corrections of events of the previous `LATE_DAYS` days (same
    event_id, changed value)."""
    os.makedirs(out, exist_ok=True)
    ev = _events(rng, n_events, days, 1500)
    day_of = (ev["ts_us"] // 86_400_000_000).astype(np.int64)
    ev["day"] = np.array([int((EPOCH_2024 + dt.timedelta(days=int(d)))
                              .strftime("%Y%m%d")) for d in day_of])
    files = []
    input_bytes = 0
    for d in range(days):
        own = np.nonzero(day_of == d)[0]
        # late data arrives within a few days, so a day's merge rewrites
        # a bounded number of earlier partitions
        earlier = np.nonzero((day_of < d) & (day_of >= d - LATE_DAYS))[0]
        n_corr = int(round(len(own) * correction_share)) if len(earlier) else 0
        corr = np.sort(rng.choice(earlier, n_corr, replace=False)) if n_corr else \
            np.array([], dtype=np.int64)
        idx = np.concatenate([corr, own])
        part = {k: np.asarray(v)[idx] for k, v in ev.items()}
        # a correction re-sends the event with a new value; key, time
        # and day stay, so it lands in (and rewrites) the earlier day
        part["value"] = part["value"].copy()
        part["value"][:n_corr] = np.round(rng.exponential(50.0, n_corr), 2)
        path = os.path.join(out, f"day-{d:02d}.parquet")
        _write(_events_table(part, with_day=True), path)
        input_bytes += os.path.getsize(path)
        files.append({"path": path, "day": int(ev["day"][own[0]]) if len(own) else None,
                      "rows": int(len(idx)), "corrections": n_corr})
    return {"days": files, "input_bytes": input_bytes}


def gen_corpus(rng, out, n_docs, n_vecs, history_share, n_batches):
    """Documents over an open vocabulary and unit vectors; a quarter of
    each corpus is planted near-duplicates of earlier items."""
    os.makedirs(out, exist_ok=True)
    vocab = np.array([f"w{i}" for i in range(4000)])
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.25:
            toks = texts[rng.integers(0, i)].split(" ")
            for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(vocab, rng.integers(40, 61), p=zipf)))
    vecs = _unit_vectors(rng, n_vecs)
    for i in range(1, n_vecs):
        if rng.random() < 0.25:
            v = vecs[rng.integers(0, i)] + 0.3 * rng.standard_normal(DIM) / 8.0
            vecs[i] = v / np.linalg.norm(v)
    docs_path = os.path.join(out, "docs.parquet")
    vecs_path = os.path.join(out, "vectors.parquet")
    _write(pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                     "text": pa.array(texts)}), docs_path)
    _write(pa.table({"vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                     "v": pa.array(list(vecs), pa.list_(pa.float64()))}), vecs_path)

    def split(n):
        ids = rng.permutation(n)
        h = int(n * history_share)
        hist = np.sort(ids[:h])
        rest = ids[h:]
        batches = [np.sort(b) for b in np.array_split(rest, n_batches)]
        return hist, batches

    dh, db = split(n_docs)
    vh, vb = split(n_vecs)
    # centroids: 16 history vectors, the x65 seed-centroid idiom
    cents = rng.choice(vh, 16, replace=False)
    return {
        "docs": docs_path, "vectors": vecs_path,
        "doc_history": dh.tolist(), "vec_history": vh.tolist(),
        "doc_batches": [b.tolist() for b in db],
        "vec_batches": [b.tolist() for b in vb],
        "centroid_ids": sorted(int(c) for c in cents),
        "input_bytes": os.path.getsize(docs_path) + os.path.getsize(vecs_path),
    }


def generate(workload, seed, out, cfg, query_keys=()):
    rng = np.random.default_rng(seed)
    if workload == "inventory_read":
        return gen_inventory(rng, os.path.join(out, "inv"), cfg["sf"],
                             list(query_keys), cfg["passes"])
    if workload == "lake_backfill":
        return gen_lake(rng, os.path.join(out, "lake"), cfg["events"],
                        cfg["days"], cfg["correction_share"])
    if workload == "corpus_dedup":
        return gen_corpus(rng, os.path.join(out, "corpus"), cfg["docs"],
                          cfg["vectors"], cfg["history_share"], cfg["batches"])
    raise ValueError(f"unknown workload {workload}")

