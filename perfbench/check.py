"""Output checks for the benchmark workloads.

Each check replays the workload's generated inputs independently of the
program under test and returns the indices of timed ops whose output is
wrong, plus a list of run-level problems (a wrong warm-up op, a wrong
final table) that no single timed op owns.
"""
import glob
import hashlib
import json
import math
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow.parquet as pq

INVENTORY_TABLES = ("region nation customer supplier part orders lineitem "
                    "events documents embeddings").split()


def _load(path):
    with open(path) as f:
        return json.load(f)


def _same_cell(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def compare_frames(got, exp):
    """None when equal as multisets of rows (rows sorted by every column),
    else a one-line reason. Floats must match bit for bit."""
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = got[gcols].sort_values(by=gcols).reset_index(drop=True)
    e = exp[ecols].sort_values(by=ecols).reset_index(drop=True)
    for c in gcols:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if not _same_cell(a, b):
                return f"column {c} row {i}: {a!r} != {b!r}"
    return None


def check_inventory(work, inputs, ops):
    """Each key's result against its DuckDB oracle SQL; keys without an
    oracle (approximate by design) must return rows."""
    con = duckdb.connect()
    for t in INVENTORY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs['dir']}/{t}.parquet'")
    oracle = _load(f"{work}/check/oracle_sql.json")
    bad = {}
    for key in sorted(inputs["passes"][0]):
        files = glob.glob(f"{work}/check/{key}/*.parquet")
        if not files:
            bad[key] = "no output"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if key not in oracle:
            if len(got) == 0:
                bad[key] = "empty result"
            continue
        try:
            exp = con.execute(oracle[key]).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[key] = f"oracle error: {e}"
            continue
        why = compare_frames(got, exp)
        if why:
            bad[key] = why
    failed = {o["i"] for o in ops if o["name"] in bad}
    return failed, [f"{k}: {v}" for k, v in sorted(bad.items())]


def check_lake(work, inputs, ops):
    """Keep-latest replay of the landed day files: every daily report,
    the final silver table and the bronze row count."""
    days = inputs["days"][:jvm_state(work)["days_landed"]]
    first_timed = len(days) - len(ops)
    con = duckdb.connect()
    state = {}
    expected_reports = {}
    for idx, meta in enumerate(days):
        t = pq.read_table(meta["path"]).to_pylist()
        for r in t:
            state[r["event_id"]] = r
        agg = {}
        for r in state.values():
            if r["day"] == meta["day"]:
                n, s = agg.get(r["event_type"], (0, Decimal(0)))
                agg[r["event_type"]] = (n + 1, s + Decimal(repr(r["value"])).quantize(Decimal("0.01")))
        expected_reports[idx] = {k: (n, str(s)) for k, (n, s) in agg.items()}
    failed, problems = set(), []
    for rep in _load(f"{work}/check/reports.json"):
        idx = rep["day_index"]
        got = {k: (n, str(Decimal(s))) for k, n, s in rep["rows"]}
        if got != expected_reports.get(idx):
            if idx < first_timed:
                problems.append(f"warm-up day {idx} report differs from the replay")
            else:
                failed.add(idx - first_timed)
    silver = con.execute(
        f"SELECT event_id, value, day, event_type, user_id, props, "
        f"epoch_us(ts) AS ts FROM read_parquet('{work}/check/silver/*.parquet')").fetchall()
    exp_rows = sorted((r["event_id"], r["value"], r["day"], r["event_type"], r["user_id"],
                       r["props"], _epoch_us(r["ts"])) for r in state.values())
    if sorted(silver) != exp_rows:
        problems.append(f"silver table differs from the keep-latest replay "
                        f"({len(silver)} vs {len(exp_rows)} rows)")
        failed |= {o["i"] for o in ops}
    want_bronze = sum(d["rows"] for d in days)
    if jvm_state(work)["bronze_rows"] != want_bronze:
        problems.append(f"bronze holds {jvm_state(work)['bronze_rows']} rows, "
                        f"{want_bronze} landed")
        failed |= {o["i"] for o in ops}
    return failed, problems


def jvm_state(work):
    return _load(f"{work}/../jvm.json")["state"]


def _epoch_us(ts):
    import datetime as dt
    return (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


# ---------------------------------------------------------------- corpus

P = 1000000007
TIE = 1e-9  # kernels agree far below this; closer calls accept either verdict


def _tok_hash(tok):
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % P


def _minhash_bands(toks, perms, n_bands):
    hs = [_tok_hash(t) for t in toks]
    mh = [min((a * h + b) % P for h in hs) for _, a, b in perms]
    r = len(perms) // n_bands
    return [tuple(mh[i * r:(i + 1) * r]) for i in range(n_bands)]


def _scheme(n_docs):
    if n_docs <= 100000:
        return 16, 4
    if n_docs <= (1 << 24):
        return 48, 8
    return 128, 16


def check_corpus(work, inputs, ops):
    """Independent replay of every batch's keep verdicts (x71's census
    rule for documents, x79's cell-pruned cosine rule for vectors), of
    the index membership after each optimize, and of the closing probe."""
    cfg = _load(f"{work}/check/perms.json")
    th, tau = cfg["threshold"], cfg["tau"]
    docs = dict(zip(*[c.to_pylist() for c in pq.read_table(inputs["docs"]).columns]))
    vt = pq.read_table(inputs["vectors"])
    vecs = {i: np.array(v) for i, v in zip(vt.column(0).to_pylist(), vt.column(1).to_pylist())}
    toks = {i: set(t.split(" ")) for i, t in docs.items()}
    nh, nb = _scheme(len(inputs["doc_history"]))
    perms = [p for p in cfg["perms"] if p[0] < nh]
    bands = {}

    def doc_bands(i):
        if i not in bands:
            bands[i] = _minhash_bands(sorted(toks[i]), perms, nb)
        return bands[i]

    store = set(inputs["doc_history"])
    index = {}  # vec_id -> cell
    cents = _centroids(work, 0)
    for v in inputs["vec_history"]:
        index[v] = _top_cells(vecs[v], cents, 1)[0]

    failed, problems = set(), []
    log = _load(f"{work}/check/batches.json")
    for entry in log:
        if "optimized_after" in entry:
            cents = _centroids(work, entry["centroids"])
            layout = dict(_load(f"{work}/check/layout-{entry['centroids']}.json"))
            if set(layout) != set(index):
                problems.append(f"index membership changed by optimize after "
                                f"batch {entry['optimized_after']}")
            index = layout
            continue
        b = entry["batch"]
        ok = True
        # documents: census against store and smaller-id batch docs
        by_band = {}
        for s in store:
            for k, sig in enumerate(doc_bands(s)):
                by_band.setdefault((k, sig), []).append(s)
        batch_ids = sorted(d for d, _ in entry["docs"])
        for d in batch_ids:
            for k, sig in enumerate(doc_bands(d)):
                by_band.setdefault((k, sig), []).append(d)
        got = dict(entry["docs"])
        batch_set = set(batch_ids)
        kept = []
        for d in batch_ids:
            cands = set()
            for k, sig in enumerate(doc_bands(d)):
                for c in by_band[(k, sig)]:
                    if c != d and (c in store or (c in batch_set and c < d)):
                        cands.add(c)
            dup = any(len(toks[d] & toks[c]) / len(toks[d] | toks[c]) >= th for c in cands)
            if got.get(d) != (not dup):
                ok = False
            if not dup:
                kept.append(d)
        store |= set(kept)
        # vectors: top-2 cells of the centroids in force, cosine >= tau
        members = {}
        for v, c in index.items():
            members.setdefault(c, []).append(v)
        got_v = dict(entry["vecs"])
        for v, keep in got_v.items():
            x = vecs[v]
            cos = [float(np.dot(x, vecs[u]) / (np.linalg.norm(x) * np.linalg.norm(vecs[u])))
                   for c in _top_cells(x, cents, 2) for u in members.get(c, []) if u != v]
            if any(abs(c - tau) < TIE for c in cos):
                continue
            if keep != (not any(c >= tau for c in cos)):
                ok = False
        for v, keep in got_v.items():
            if keep:
                index[v] = _top_cells(vecs[v], cents, 1)[0]
        if not ok:
            if b == 0:
                problems.append("warm-up batch verdicts differ from the replay")
            else:
                failed |= {o["i"] for o in ops if o["name"] == f"batch-{b:02d}"}
    final = dict(_load(f"{work}/check/layout-final.json"))
    if set(final) != set(index):
        problems.append("final index membership differs from history plus kept vectors")
    probe = _load(f"{work}/check/probe.json")
    cents = _centroids(work, probe["centroids"])
    members = {}
    for v, c in final.items():
        members.setdefault(c, []).append(v)
    for p_id in sorted({r[0] for r in probe["rows"]}):
        x = vecs[p_id]
        scored = sorted(((-float(np.dot(x, vecs[u])), u)
                         for c in _top_cells(x, cents, 2) for u in members.get(c, [])))
        want = [u for _, u in scored[:5]]
        got = [r[2] for r in sorted(r for r in probe["rows"] if r[0] == p_id)]
        if got != want:
            problems.append(f"probe {p_id}: top-5 {got} != {want}")
    return failed, problems


def _centroids(work, version):
    rows = _load(f"{work}/check/centroids-{version}.json")
    return [(r["cid"], np.array(r["c"])) for r in rows]


def _top_cells(x, cents, k):
    scored = sorted((-float(np.dot(x, c)), cid) for cid, c in cents)
    return [cid for _, cid in scored[:k]]


CHECKS = {"inventory_read": check_inventory, "lake_backfill": check_lake,
          "corpus_dedup": check_corpus}


def run_check(workload, work, inputs, ops):
    try:
        return CHECKS[workload](work, inputs, ops)
    except Exception as e:  # a check that cannot run fails every op
        return {o["i"] for o in ops}, [f"check crashed: {type(e).__name__}: {e}"]

