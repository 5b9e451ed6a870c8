"""Seeded input generator for the graft benchmark.

Every input a workload feeds the engine is made here, from the workload
seed alone: the TPC-H-shaped base tables (parquet, the layout the
engine's `Tables` loaders read), and, for `etl_batch`, each day's CSV/JSON
file drops, order-delta file and document batch. The same
seed and sizes give byte-identical files; `tree_hash` fingerprints them.

Each table draws from its own numpy stream keyed on (seed, table), so a
size change in one table never shifts the values of another.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
SOURCES = ["api_rest", "file_csv", "file_json", "database"]

DAY_US = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)
ORDER_DATE0 = (dt.datetime(1995, 1, 1) - EPOCH).days
EVENT_TS0 = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
# the drops' own arrivals land after every shipdate of the base tables
DROP_TS0 = int((dt.datetime(2002, 1, 1) - EPOCH).total_seconds()) * 1_000_000

_TABLE_IDS = {name: i for i, name in enumerate(
    ["region", "nation", "customer", "part", "orders", "lineitem", "events",
     "documents", "etl_drops", "stream_deltas", "stream_docs"])}


def rng(seed, table):
    return np.random.default_rng([seed, _TABLE_IDS[table]])


def money(x):
    return np.round(x, 2)


def ts_us(a):
    return pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def tpch_tables(seed, sf):
    """The base tables at scale factor `sf` (lineitem ~ 6M * sf rows)."""
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})

    r = rng(seed, "orders")
    odate = ORDER_DATE0 + r.integers(0, 2400, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": money(r.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": ts_us(odate.astype(np.int64) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    r = rng(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, max(1, int(10_000 * sf)), n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(r.uniform(900.0, 105_000.0, n_li)),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": ts_us((odate[okey] + r.integers(1, 122, n_li))
                            .astype(np.int64) * DAY_US)})

    r = rng(seed, "events")
    ts = EVENT_TS0 + np.sort(r.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_us(ts),
        "user_id": r.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, money(r.exponential(50.0, n_ev))),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = rng(seed, "documents")
    texts = random_texts(r, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    return t


def random_texts(r, n):
    lens = r.integers(10, 100, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return out


def write_tables(tables, out_dir):
    for name, tbl in tables.items():
        write_parquet(tbl, os.path.join(out_dir, f"{name}.parquet"))


def orders_domain(t):
    """The canonical 13-column order records `OrdersDomain.fromTpch`
    derives from the base tables, as python dicts (values the drops
    copy and perturb). Money values use the engine's round-half-up."""
    li, o = t["lineitem"], t["orders"]
    okey = li["l_orderkey"].to_numpy()
    cust = o["o_custkey"].to_numpy()[okey]
    c_name = np.array(t["customer"]["c_name"].to_pylist())[cust]
    pk = li["l_partkey"].to_numpy()
    p_name = np.array(t["part"]["p_name"].to_pylist())[pk]
    p_type = np.array(t["part"]["p_type"].to_pylist())[pk]
    qty = li["l_quantity"].to_numpy()
    ext = li["l_extendedprice"].to_numpy()
    disc = li["l_discount"].to_numpy()
    ship = li["l_shipdate"].to_numpy().astype("datetime64[us]").astype(np.int64)
    line = li["l_linenumber"].to_numpy()
    price = np.floor(ext / qty * 100 + 0.5) / 100
    discount = np.floor(ext * disc * 100 + 0.5) / 100
    total = np.floor((price * qty.astype(np.int64) - discount) * 100 + 0.5) / 100
    cols = {
        "order_id": [f"ORD-{k:09d}-{n}" for k, n in zip(okey.tolist(), line.tolist())],
        "customer_name": c_name.tolist(),
        "customer_email": [c.replace("#", ".").lower() + "@example.com" for c in c_name.tolist()],
        "product": p_name.tolist(),
        "product_category": p_type.tolist(),
        "quantity": qty.astype(np.int64).tolist(),
        "price": price.tolist(),
        "discount": discount.tolist(),
        "order_date": ship.tolist(),
        "source": [SOURCES[k % 4] for k in okey.tolist()],
        "ingested_at": (ship + DAY_US).tolist(),
        "api_post_id": okey.tolist(),
        "total_amount": total.tolist()}
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


def fmt_ts(us):
    return (EPOCH + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%d %H:%M:%S")


def day_rows(r, domain, n, prefix, day, prev):
    """One format's drop records for `day`. Day 0 (the cold run that
    creates the table): 90% new orders, 10% invalid. Every later day:
    50% new orders, 20% updates of the previous day's new orders (new
    price and quantity, later arrival), 20% exact re-deliveries of other
    previous-day records, 10% invalid. New orders copy a random
    orders-domain record under the key `<prefix>-<day>-<n>`. These shares
    are an assumed traffic mix, not measured from a real feed. Returns
    the rows and the day's valid new orders (the next day's targets)."""
    ts0 = DROP_TS0 + day * DAY_US
    n_upd = n_dup = n // 5 if prev else 0
    n_bad = n // 10
    out = []
    if prev:
        picks = r.choice(len(prev), n_upd + n_dup, replace=False)
        for k, i in enumerate(picks[:n_upd]):
            d = dict(prev[i])
            d["quantity"] = int(r.integers(1, 51))
            d["price"] = float(money(r.uniform(5.0, 5000.0)))
            d["total_amount"] = float(money(d["price"] * d["quantity"] - d["discount"]))
            d["ingested_at"] = ts0 + k * 1_000_000
            out.append(d)
        out += [dict(prev[i]) for i in picks[n_upd:]]
    fresh = []
    base = [dict(domain[i]) for i in r.choice(len(domain), n - n_upd - n_dup, replace=False)]
    for k, d in enumerate(base):
        d["order_id"] = f"{prefix}-{day:02d}-{k:04d}"
        d["ingested_at"] = ts0 + (n_upd + k) * 1_000_000
        if k < n_bad:
            # one defect each: missing product, non-positive price, bad email
            if k % 3 == 0:
                d["product"] = None
            elif k % 3 == 1:
                d["price"] = -d["price"]
            else:
                d["customer_email"] = "not-an-email"
        else:
            fresh.append(d)
        out.append(d)
    return out, fresh


DROP_COLS = ["order_id", "customer_name", "customer_email", "product",
             "product_category", "quantity", "price", "discount", "order_date",
             "source", "ingested_at", "api_post_id", "total_amount"]


def csv_cell(v):
    if v is None:
        return ""
    s = str(v)
    return '"' + s.replace('"', '""') + '"' if ("," in s or '"' in s) else s


def write_csv(rows, path, ts_cols=("order_date", "ingested_at")):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write(",".join(DROP_COLS) + "\n")
        for d in rows:
            f.write(",".join(csv_cell(fmt_ts(d[c]) if c in ts_cols else d[c])
                             for c in DROP_COLS) + "\n")


def write_json(rows, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    recs = [{c: (fmt_ts(d[c]) if c in ("order_date", "ingested_at") else d[c])
             for c in DROP_COLS} for d in rows]
    with open(path, "w") as f:
        json.dump({"orders": recs}, f, sort_keys=False)


def etl_drops(seed, domain, out_dir, n_rows, n_files, days):
    """CSV and JSON drops for `Pipeline.run`, one set per day under
    `day_NN/{csv,json}_drop/`, `n_files` files per format."""
    r = rng(seed, "etl_drops")
    prev = {"csv": [], "json": []}
    for day in range(days):
        for kind, prefix in (("csv", "CSV"), ("json", "JSN")):
            rows, prev[kind] = day_rows(r, domain, n_rows, prefix, day, prev[kind])
            order = r.permutation(len(rows))
            for f in range(n_files):
                part = [rows[i] for i in order[f::n_files]]
                path = os.path.join(out_dir, f"day_{day:02d}", f"{kind}_drop",
                                    f"drop_{f:02d}.{kind}")
                (write_csv if kind == "csv" else write_json)(part, path)


def stream_deltas(seed, domain, out_dir, n_batches, batch_rows):
    """Order-delta CSV batches for `Streaming.upsertStream`. The first
    batch creates the table: all new orders. Every later batch: half
    updates of the previous batch's new orders, half new orders (keyed
    `STR-<batch>-<n>`). Keys are unique within a batch and arrivals
    strictly increase, so latest-wins is exact."""
    r = rng(seed, "stream_deltas")
    prev = []
    for b in range(n_batches):
        n_upd = batch_rows // 2 if prev else 0
        rows = [dict(prev[i]) for i in r.choice(len(prev), n_upd, replace=False)] if prev else []
        fresh = [dict(domain[i]) for i in r.choice(len(domain), batch_rows - n_upd, replace=False)]
        for k, d in enumerate(fresh):
            d["order_id"] = f"STR-{b:04d}-{k:05d}"
        for k, d in enumerate(rows + fresh):
            d["quantity"] = int(r.integers(1, 51))
            d["price"] = float(money(r.uniform(5.0, 5000.0)))
            d["total_amount"] = float(money(d["price"] * d["quantity"] - d["discount"]))
            d["source"] = "file_csv"
            d["ingested_at"] = DROP_TS0 + (b * batch_rows + k) * 1_000_000
        write_csv(rows + fresh, os.path.join(out_dir, "deltas", f"delta_{b:04d}.csv"))
        prev = fresh


def stream_docs(seed, tables, out_dir, n_batches, batch_docs):
    """Document batches for `Streaming.corpusAdmitStream`: per batch 60%
    fresh documents, 15% near-duplicates of seed-corpus documents (~5% of
    words replaced), 15% exact copies of seed-corpus documents under new
    ids, 10% replays of the previous batch's documents (same id, same
    text). Ids of new documents continue after the seed corpus."""
    r = rng(seed, "stream_docs")
    corpus = tables["documents"]["text"].to_pylist()
    next_id = len(corpus)
    prev = []
    for b in range(n_batches):
        n_near, n_exact = batch_docs * 15 // 100, batch_docs * 15 // 100
        n_replay = batch_docs // 10 if prev else 0
        n_fresh = batch_docs - n_near - n_exact - n_replay
        docs = []
        for text in random_texts(r, n_fresh):
            docs.append((next_id, text, "fresh"))
            next_id += 1
        for i in r.choice(len(corpus), n_near, replace=False):
            words = corpus[i].split(" ")
            for j in r.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = VOCAB[r.integers(0, len(VOCAB))]
            docs.append((next_id, " ".join(words), "near"))
            next_id += 1
        for i in r.choice(len(corpus), n_exact, replace=False):
            docs.append((next_id, corpus[i], "exact"))
            next_id += 1
        for i in r.choice(len(prev), n_replay, replace=False):
            docs.append((prev[i][0], prev[i][1], "replay"))
        prev = [d for d in docs if d[2] == "fresh"]
        tbl = pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "kind": [d[2] for d in docs]})
        write_parquet(tbl, os.path.join(out_dir, "docs", f"docs_{b:04d}.parquet"))


def tree_hash(root):
    """sha256 over every file under `root` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
