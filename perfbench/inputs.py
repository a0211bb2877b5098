"""Seeded input generator for the graft benchmark.

Everything the engine sees is generated here from the workload seed: a
TPC-H-shaped star schema (the kcidb object graph stand-in), kcidb-style
JSON reports with resubmitted ids, and a text corpus with planted exact
and near duplicates. The same seed always gives the same files.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime.date(1995, 1, 1)
N_DAYS = 2404  # 1995-01-01 .. 2001-08-01

# Star-schema sizes (rows). Small enough that per-request fixed costs
# (planning, job scheduling, scan set-up) dominate a lookup.
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _date(days):
    """Days since EPOCH as a date column (date32 counts from 1970)."""
    since_1970 = (EPOCH - datetime.date(1970, 1, 1)).days
    return pa.array(np.asarray(days, dtype=np.int32) + since_1970,
                    type=pa.date32())


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def star_schema(rng):
    """The seven tables as {name: {column: numpy array}}, rows shuffled."""
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array([f"REGION_{i}" for i in range(5)])}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    c = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = {
        "c_custkey": c,
        "c_name": np.array([f"Customer#{i:09d}" for i in c]),
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]}
    s = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": s,
        "s_name": np.array([f"Supplier#{i:09d}" for i in s]),
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)}
    p = np.arange(N_PART, dtype=np.int64)
    t["part"] = {
        "p_partkey": p,
        "p_name": np.array([f"part {i}" for i in p]),
        "p_brand": np.array([f"Brand#{i % 25}" for i in p]),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, N_PART), 2)}
    o = rng.permutation(N_ORDERS).astype(np.int64)
    odate = rng.integers(0, N_DAYS, N_ORDERS)
    t["orders"] = {
        "o_orderkey": o,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.choice(3, N_ORDERS, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": odate.astype(np.int32),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, N_ORDERS)]}
    nlines = rng.integers(1, 8, N_ORDERS)
    lo = np.repeat(o, nlines)
    ln = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    n = len(lo)
    perm = rng.permutation(n)
    t["lineitem"] = {
        "l_orderkey": lo[perm],
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": ln[perm],
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[
            rng.choice(3, n, p=[0.25, 0.25, 0.5])],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (np.repeat(odate, nlines)[perm] +
                       rng.integers(1, 122, n)).astype(np.int32)}
    return t


DATE_COLS = {"o_orderdate", "l_shipdate"}


def write_star(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"),
               {k: (_date(v) if k in DATE_COLS else v)
                for k, v in cols.items()})


# ----------------------------------------------------------------- lookup

LOOKUP_KINDS = ["children", "parents", "family", "pattern_down",
                "pattern_up", "rollup"]


def lookup_requests(rng, orders, n_decks):
    """Decks of one request per kind, each deck in seeded order, keys drawn
    uniformly, so the kind mix is fixed and repeated keys are rare. A
    family request starts from orders of one customer, so its parents pass
    always reaches one region."""
    by_cust = {}
    for o, c in zip(orders["o_orderkey"], orders["o_custkey"]):
        by_cust.setdefault(int(c), []).append(int(o))
    custs = sorted(by_cust)
    reqs = []
    for _ in range(n_decks):
        for k in rng.permutation(len(LOOKUP_KINDS)):
            kind = LOOKUP_KINDS[k]
            if kind in ("children", "pattern_down", "rollup"):
                ids = rng.choice(N_CUSTOMER, rng.integers(1, 4), replace=False)
            elif kind == "parents":
                ids = rng.choice(N_ORDERS, rng.integers(1, 6), replace=False)
            elif kind == "family":
                own = by_cust[custs[rng.integers(0, len(custs))]]
                ids = rng.choice(own, min(len(own), rng.integers(1, 4)),
                                 replace=False)
            else:
                ids = rng.choice(N_ORDERS, rng.integers(1, 4), replace=False)
            reqs.append({"kind": kind, "ids": sorted(int(i) for i in ids)})
    return reqs


def make_lookup(seed, work):
    rng = np.random.default_rng([seed, 1])
    tables = star_schema(rng)
    write_star(tables, os.path.join(work, "db"))
    o = tables["orders"]
    warm = lookup_requests(np.random.default_rng([seed, 2]), o, 1)
    timed = lookup_requests(np.random.default_rng([seed, 3]), o, 400)
    return {"db": os.path.join(work, "db"), "warmup": warm,
            "requests": timed}


# ----------------------------------------------------------------- ingest

MUTABLE = {"orders": ["o_orderstatus", "o_totalprice", "o_orderpriority"],
           "lineitem": ["l_quantity", "l_discount", "l_returnflag",
                        "l_linestatus"]}
REPORT_ORDERS = 40      # orders per report, consecutive in order date
RESUBMIT_SHARE = 0.25   # of each report's fresh rows, re-sent with edits
INITIAL_ORDERS = 300
N_REPORTS = 60


def _iso(d):
    return (EPOCH + datetime.timedelta(days=int(d))).isoformat()


def _rows(cols, idx, date_cols):
    out = []
    for i in idx:
        r = {}
        for k, v in cols.items():
            x = v[i]
            if k in date_cols:
                r[k] = _iso(x)
            elif isinstance(x, np.floating):
                r[k] = float(x)
            elif isinstance(x, np.integer):
                r[k] = int(x)
            else:
                r[k] = str(x)
        out.append(r)
    return out


def _edit(rng, row, table):
    """A resubmitted record: one field nulled or changed."""
    row = dict(row)
    f = MUTABLE[table][rng.integers(0, len(MUTABLE[table]))]
    if rng.random() < 0.5:
        row[f] = None
    elif f == "o_totalprice":
        row[f] = float(np.round(rng.uniform(1000, 500000), 2))
    elif f == "l_quantity":
        row[f] = float(rng.integers(1, 51))
    elif f == "l_discount":
        row[f] = float(np.round(rng.integers(0, 11) / 100.0, 2))
    elif f == "o_orderstatus":
        row[f] = ["F", "O", "P"][rng.integers(0, 3)]
    elif f == "o_orderpriority":
        row[f] = PRIORITIES[rng.integers(0, 5)]
    elif f == "l_returnflag":
        row[f] = ["R", "A", "N"][rng.integers(0, 3)]
    else:
        row[f] = ["F", "O"][rng.integers(0, 2)]
    return row


def make_ingest(seed, work):
    """Base database (static, read by the ingest closure), an initial
    warehouse (orders + lineitem of one window), and a stream of reports.
    Returns the config plus the reports as row dicts for the reference."""
    rng = np.random.default_rng([seed, 1])
    t = star_schema(rng)
    write_star(t, os.path.join(work, "db"))
    o, li = t["orders"], t["lineitem"]
    lines_of = {}
    for i, k in enumerate(li["l_orderkey"]):
        lines_of.setdefault(int(k), []).append(i)
    order_idx = {int(k): i for i, k in enumerate(o["o_orderkey"])}

    rrng = np.random.default_rng([seed, 4])
    by_date = np.argsort(o["o_orderdate"], kind="stable")
    start = rrng.integers(0, N_ORDERS - INITIAL_ORDERS)
    init = by_date[start:start + INITIAL_ORDERS]
    init_lines = [j for i in init for j in lines_of[int(o["o_orderkey"][i])]]
    wh = os.path.join(work, "wh")
    os.makedirs(wh, exist_ok=True)
    for name, cols, idx in (("orders", o, init), ("lineitem", li, init_lines)):
        sel = {k: (_date(v[idx]) if k in DATE_COLS else v[idx])
               for k, v in cols.items()}
        _write(os.path.join(wh, f"{name}.parquet"), sel)

    loaded = [int(o["o_orderkey"][i]) for i in init]
    loaded_set = set(loaded)
    reports = []
    rep_dir = os.path.join(work, "reports")
    os.makedirs(rep_dir, exist_ok=True)
    for r in range(N_REPORTS):
        d = rrng.integers(0, N_ORDERS - REPORT_ORDERS)
        fresh = by_date[d:d + REPORT_ORDERS]
        fresh_keys = {int(o["o_orderkey"][i]) for i in fresh}
        orders = _rows(o, fresh, DATE_COLS)
        lines = _rows(li, [j for i in fresh
                           for j in lines_of[int(o["o_orderkey"][i])]],
                      DATE_COLS)
        pool = [k for k in loaded if k not in fresh_keys]
        n_re = min(len(pool), int(round(RESUBMIT_SHARE * len(fresh))))
        for k in rrng.choice(pool, n_re, replace=False) if n_re else []:
            k = int(k)
            orders.append(_edit(rrng, _rows(o, [order_idx[k]], DATE_COLS)[0],
                                "orders"))
            j = lines_of[k][rrng.integers(0, len(lines_of[k]))]
            lines.append(_edit(rrng, _rows(li, [j], DATE_COLS)[0],
                               "lineitem"))
        doc = {"version": {"major": 4, "minor": 3},
               "orders": orders, "lineitem": lines}
        path = os.path.join(rep_dir, f"report_{r:04d}.json")
        with open(path, "w") as f:
            json.dump(doc, f)
        reports.append({"path": path, "bytes": os.path.getsize(path),
                        "readback": min(fresh_keys),
                        "orders": orders, "lineitem": lines})
        for k in sorted(fresh_keys - loaded_set):
            loaded.append(k)
            loaded_set.add(k)
    return {"db": os.path.join(work, "db"), "warehouse": wh,
            "initial": {"orders": _rows(o, init, DATE_COLS),
                        "lineitem": _rows(li, init_lines, DATE_COLS)},
            "reports": reports}


# ----------------------------------------------------------------- corpus

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"]
N_BASE_DOCS = 300
COPIES = 2           # ScaleUp copies; copy k>0 suffixes every token "x<k>"
COPY_ID_OFFSET = 1_000_000
NEAR_DUP_SHARE = 0.15
EXACT_DUP_SHARE = 0.05
LOW_QUALITY_SHARE = 0.05


def _vocab(rng, n=300):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, rng.integers(3, 9))))
    return sorted(words - set(STOPWORDS))


def _shout(text):
    """An exact duplicate: same words, different case and punctuation."""
    return text[:1].upper() + text[1:].replace(" ", ",  ", 3) + "!"


def make_corpus(seed, work):
    """Writes documents.parquet with planted structure. Returns the ground
    truth the reference needs: every text, the low-quality ids and the
    planted (original, near-duplicate) pairs."""
    rng = np.random.default_rng([seed, 5])
    vocab = np.array(_vocab(rng) + STOPWORDS * 6)
    docs = []          # (text, kind, origin index)
    for _ in range(N_BASE_DOCS):
        docs.append((" ".join(rng.choice(vocab, rng.integers(30, 70))),
                     "orig", None))
    n_near = int(NEAR_DUP_SHARE * N_BASE_DOCS)
    for i in rng.choice(N_BASE_DOCS, n_near, replace=False):
        toks = docs[i][0].split(" ")
        for p in rng.choice(len(toks), rng.integers(1, 3), replace=False):
            toks[p] = str(rng.choice(vocab))
        docs.append((" ".join(toks), "near", int(i)))
    for i in rng.choice(N_BASE_DOCS, int(EXACT_DUP_SHARE * N_BASE_DOCS),
                        replace=False):
        docs.append((None, "exact", int(i)))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    for _ in range(int(LOW_QUALITY_SHARE * N_BASE_DOCS)):
        docs.append((" ".join("".join(rng.choice(letters, 14))
                              for _ in range(rng.integers(3, 6))),
                     "low", None))
    ids = rng.permutation(len(docs)).astype(np.int64) * 3 + 1
    ids_all, texts, sources, low, near = [], [], [], set(), []
    for c in range(COPIES):
        def copy(text):
            return text if c == 0 else " ".join(
                w + f"x{c}" for w in text.split(" "))
        for j, (text, kind, origin) in enumerate(docs):
            did = int(ids[j]) + c * COPY_ID_OFFSET
            ids_all.append(did)
            texts.append(_shout(copy(docs[origin][0])) if kind == "exact"
                         else copy(text))
            sources.append(f"src{j % 7}")
            if kind == "low":
                low.add(did)
            elif kind == "near":
                near.append((int(ids[origin]) + c * COPY_ID_OFFSET, did))
    os.makedirs(work, exist_ok=True)
    _write(os.path.join(work, "documents.parquet"),
           {"doc_id": np.array(ids_all, dtype=np.int64),
            "source": np.array(sources), "text": np.array(texts)})
    return {"ids": ids_all, "texts": texts, "low": low, "near": near}
