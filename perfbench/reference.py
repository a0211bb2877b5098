"""Reference answers for every benchmark output, computed outside the
timed region by a different route than the engine: plain numpy joins over
the generated parquet, a Python replay of the upsert and spool, and exact
shingle sets for the corpus."""
import base64
import hashlib
import math
import re

import numpy as np
import pyarrow.parquet as pq

NEAR_DUP_THRESHOLD = 0.5
RECALL_FLOOR = 0.9   # planted pairs at or above this Jaccard must be found
DF_BUDGET = 4        # graft.dedup.Dedup.DefaultDfBudget
SEQ_LEN = 256
BUCKETS = 8


def load_tables(db):
    out = {}
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        tab = pq.read_table(f"{db}/{t}.parquet")
        out[t] = {c: tab.column(c).to_numpy() for c in tab.column_names}
        out[t]["_ncols"] = tab.num_columns
    return out


# ----------------------------------------------------------------- lookup

def _digest(T, table, mask):
    t = T[table]
    if table == "lineitem":
        k = t["l_orderkey"][mask].astype(np.int64) * 8 + \
            t["l_linenumber"][mask].astype(np.int64)
    else:
        k = t[{"region": "r_regionkey", "nation": "n_nationkey",
               "customer": "c_custkey", "supplier": "s_suppkey",
               "orders": "o_orderkey"}[table]][mask].astype(np.int64)
    return [int(mask.sum()), int(k.sum()), t["_ncols"]]


def lookup_expected(T, req):
    c, o, li, n = T["customer"], T["orders"], T["lineitem"], T["nation"]
    ids = np.array(req["ids"], dtype=np.int64)
    kind = req["kind"]
    if kind in ("children", "pattern_down", "rollup"):
        cm = np.isin(c["c_custkey"], ids)
        om = np.isin(o["o_custkey"], ids)
        lm = np.isin(li["l_orderkey"], o["o_orderkey"][om])
        if kind == "children":
            return {"customer": _digest(T, "customer", cm),
                    "orders": _digest(T, "orders", om),
                    "lineitem": _digest(T, "lineitem", lm)}
        if kind == "pattern_down":
            return {"lineitem": _digest(T, "lineitem", lm)}
        prio = {"R": 0, "A": 1, "N": 2}
        worst = {}
        for k, f in zip(li["l_orderkey"][lm], li["l_returnflag"][lm]):
            worst[int(k)] = min(worst.get(int(k), 9), prio[f])
        return {"rollup": [len(worst),
                           sum(k * 4 + p for k, p in worst.items()), 2]}
    om = np.isin(o["o_orderkey"], ids)
    cust = np.unique(o["o_custkey"][om])
    cm = np.isin(c["c_custkey"], cust)
    nat = np.unique(c["c_nationkey"][cm])
    nm = np.isin(n["n_nationkey"], nat)
    reg = np.unique(n["n_regionkey"][nm])
    rm = np.isin(T["region"]["r_regionkey"], reg)
    if kind == "parents":
        return {"orders": _digest(T, "orders", om),
                "customer": _digest(T, "customer", cm),
                "nation": _digest(T, "nation", nm),
                "region": _digest(T, "region", rm)}
    if kind == "pattern_up":
        return {"customer": _digest(T, "customer", cm),
                "nation": _digest(T, "nation", nm),
                "region": _digest(T, "region", rm)}
    # family: the parents pass, then the children pass from every set
    nm = nm | np.isin(n["n_regionkey"], reg)
    nat = n["n_nationkey"][nm]
    cm = cm | np.isin(c["c_nationkey"], nat)
    sm = np.isin(T["supplier"]["s_nationkey"], nat)
    om = om | np.isin(o["o_custkey"], c["c_custkey"][cm])
    lm = np.isin(li["l_orderkey"], o["o_orderkey"][om]) | \
        np.isin(li["l_suppkey"], T["supplier"]["s_suppkey"][sm])
    return {"region": _digest(T, "region", rm),
            "nation": _digest(T, "nation", nm),
            "customer": _digest(T, "customer", cm),
            "supplier": _digest(T, "supplier", sm),
            "orders": _digest(T, "orders", om),
            "lineitem": _digest(T, "lineitem", lm)}


def check_lookup(T, req, out):
    """Returns an error string, or None when the digest matches."""
    want = lookup_expected(T, req)
    got = {k: list(v) for k, v in out["digest"].items()}
    return None if got == want else f"{req}: {got} != {want}"


# ----------------------------------------------------------------- ingest

def _b64(s):
    return base64.b64encode(s.encode()).decode().replace("/", "-")


def _notif(sub, typ, obj_id, subject, body):
    nid = f"{sub}:{typ}:{_b64(obj_id)}:{_b64('m0')}"
    return nid, f"{nid}|{subject}|{hashlib.md5(body.encode()).hexdigest()}"


def _text(v):
    """A field as the engine side writes it: doubles to four decimals."""
    if v is None:
        return "null"
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def _sha256(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update((line + "\n").encode())
    return h.hexdigest()


class IngestReference:
    """Replays reports in order: the warehouse upsert (latest non-null value
    wins per field), the ingest closure over the base tables, subscription
    matching and the register-once spool."""

    def __init__(self, T, initial):
        self.T = T
        self.wh = {"orders": {}, "lineitem": {}}
        for t in ("orders", "lineitem"):
            for r in initial[t]:
                self.wh[t][self._key(t, r)] = dict(r)
        self.seen = set()
        idx = {}
        for t, key in (("orders", "o_orderkey"), ("customer", "c_custkey")):
            idx[t] = {int(k): i for i, k in enumerate(T[t][key])}
        idx["lineitem"] = {(int(a), int(b)): i for i, (a, b) in enumerate(
            zip(T["lineitem"]["l_orderkey"], T["lineitem"]["l_linenumber"]))}
        self.idx = idx

    @staticmethod
    def _key(t, r):
        return (r["o_orderkey"] if t == "orders"
                else (r["l_orderkey"], r["l_linenumber"]))

    def _row(self, t, i):
        return {c: v[i] for c, v in self.T[t].items() if c != "_ncols"}

    def apply(self, rep):
        submitted = merged = 0
        for t in ("orders", "lineitem"):
            for r in rep[t]:
                submitted += 1
                cur = self.wh[t].get(self._key(t, r))
                if cur is None:
                    self.wh[t][self._key(t, r)] = dict(r)
                else:
                    merged += 1
                    for f, v in r.items():
                        if v is not None:
                            cur[f] = v
        o_keys = {r["o_orderkey"] for r in rep["orders"]}
        l_keys = {(r["l_orderkey"], r["l_linenumber"])
                  for r in rep["lineitem"]}
        lines = [self._row("lineitem", self.idx["lineitem"][k])
                 for k in sorted(l_keys)]
        o_keys |= {int(r["l_orderkey"]) for r in lines}
        orders = [self._row("orders", self.idx["orders"][k])
                  for k in sorted(o_keys)]
        custs = [self._row("customer", self.idx["customer"][int(k)])
                 for k in sorted({int(r["o_custkey"]) for r in orders})]
        matched = []
        for r in orders:
            if r["o_orderstatus"] == "F" and r["o_totalprice"] > 400000:
                k = int(r["o_orderkey"])
                matched.append(_notif(
                    "failed_big_orders", "orders", str(k),
                    f"Order {k} failed ({r['o_orderpriority']})",
                    f"Order {k} of customer {int(r['o_custkey'])} is in "
                    f"status {r['o_orderstatus']}."))
        for r in custs:
            if r["c_acctbal"] < -500:
                k = int(r["c_custkey"])
                matched.append(_notif(
                    "negative_balance", "customer", str(k),
                    f"Customer {r['c_name']} balance went negative",
                    f"Customer {k} of nation {int(r['c_nationkey'])}, "
                    f"segment {r['c_mktsegment']}."))
        for r in lines:
            if r["l_returnflag"] == "R" and r["l_quantity"] >= 45:
                k, n = int(r["l_orderkey"]), int(r["l_linenumber"])
                matched.append(_notif(
                    "returned_full_qty", "lineitem", f"{k}:{n}",
                    f"Return on order {k} line {n}",
                    f"Lineitem {k}_{n} of part {int(r['l_partkey'])} came "
                    f"back ({r['l_linestatus']})."))
        ids = {nid for nid, _ in matched}
        delivered = sorted(ids - self.seen)
        self.seen |= ids
        return {"matched": sorted(m for _, m in matched),
                "delivered": delivered,
                "wh": self.wh_digest(),
                "submitted": submitted, "merged": merged}

    def wh_digest(self):
        """{table: [rows, key sum, sha-256 of its rows]}, each row written
        as column=value pairs in column-name order, nulls included."""
        out = {}
        for t, rows in self.wh.items():
            keys = sum(k if t == "orders" else k[0] * 8 + k[1] for k in rows)
            out[t] = [len(rows), keys, _sha256(
                "\t".join(f"{c}={_text(r[c])}" for c in sorted(r))
                for r in rows.values())]
        return out

    def readback_ok(self, rb):
        """rb = [order id, [order row as strings], lineitem count]."""
        oid, rows, n_lines = rb
        want = self.wh["orders"].get(oid)
        if want is None or len(rows) != 1:
            return False
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"]
        for c, got in zip(cols, rows[0]):
            w = want[c]
            if w is None or got is None:
                if w is not got:
                    return False
            elif isinstance(w, float):
                if float(got) != w:
                    return False
            elif str(w) != got:
                return False
        return n_lines == sum(1 for k in self.wh["lineitem"] if k[0] == oid)


# ----------------------------------------------------------------- corpus

def _norm(text):
    return re.sub("[^a-z0-9]+", " ", text.lower()).strip(" ")


def _grams(toks):
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[p:p + 3]) for p in range(len(toks) - 2)}


def check_corpus(truth, first_rows, first_pairs):
    """Returns an error string, or None when every output matches."""
    texts = dict(zip(truth["ids"], truth["texts"]))
    norm = {i: _norm(t) for i, t in texts.items()}
    fp = {i: hashlib.md5(t.encode()).hexdigest() for i, t in norm.items()}
    rep = {}
    for i in sorted(norm):
        rep.setdefault(fp[i], i)
    keep = {i: rep[fp[i]] for i in norm}
    universe = sorted(i for i in norm
                      if keep[i] == i and i not in truth["low"])
    toks = {i: norm[i].split(" ") for i in universe}
    cap = math.ceil(sum(max(len(toks[i]) - 2, 1) for i in universe) /
                    len(universe) * DF_BUDGET)
    grams = {i: _grams(toks[i]) for i in universe}
    df = {}
    for g in grams.values():
        for x in g:
            df[x] = df.get(x, 0) + 1
    grams = {i: {x for x in g if df[x] <= cap} for i, g in grams.items()}

    def jac(a, b):
        return len(grams[a] & grams[b]) / len(grams[a] | grams[b])

    pairs = set()
    for a, b, j in first_pairs:
        if not (a < b and a in grams and b in grams):
            return f"pair ({a}, {b}) outside the filtered corpus"
        if jac(a, b) < NEAR_DUP_THRESHOLD or abs(jac(a, b) - j) > 1e-9:
            return f"pair ({a}, {b}) jaccard {j} vs exact {jac(a, b)}"
        pairs.add((a, b))
    for a, b in truth["near"]:
        a, b = sorted((keep[a], keep[b]))
        if a != b and a in grams and b in grams and \
                jac(a, b) >= RECALL_FLOOR and (a, b) not in pairs:
            return f"planted near-duplicate ({a}, {b}) not found"

    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {v for p in pairs for v in p}
    size = {}
    for x in members:
        size[find(x)] = size.get(find(x), 0) + 1
    want = {}
    offsets = {}
    for i in universe:
        root = find(i) if i in members else i
        n = size.get(root, 1)
        b = i % BUCKETS
        off = offsets.get(b, 0)
        nt = len(toks[i])
        want[i] = [i, root, n, 1.0 / n, nt, b, off, off // SEQ_LEN,
                   (off + nt - 1) // SEQ_LEN]
        offsets[b] = off + nt
    got = {r[0]: list(r) for r in first_rows}
    if sorted(got) != universe:
        return (f"{len(got)} docs after exact dedup and the quality floor, "
                f"want {len(universe)}")
    for i in universe:
        if got[i] != want[i]:
            return f"doc {i}: {got[i]} != {want[i]}"
    return None


def corpus_properties(truth, first_rows):
    """Shares of the generated corpus that the dedup stages act on."""
    n = len(truth["ids"])
    kept = {r[0] for r in first_rows}
    near = {b for _, b in truth["near"]}
    return {"exact_dup_share": 1 - (len(kept) + len(truth["low"])) / n,
            "near_dup_share": len(near) / n,
            "low_quality_share": len(truth["low"]) / n}
