"""Seeded input generator for the benchmark.

Two products, both a pure function of (seed, scale):

* ``write_star`` writes the star-schema parquet tables the registered queries
  read (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names, types and value shapes of
  the repository's synthetic test data.
* ``write_landing`` maps a star schema onto the reference's five source
  tables (Customers, Sellers, Products, Orders, OrderItems) and lands them as
  CSV part files, then derives a sequence of incremental drops. The base
  seed decides the first-load tables, their row order and part files; the
  drop seed decides which rows each drop touches and how it is split.

Every landed table carries a unique primary key (``OrderItemID`` is
assigned, because ``(l_orderkey, l_linenumber)`` repeats in the star data),
and every drop's files get names no earlier landing used, so the streaming
Bronze contract (drops are new files) holds as well as the batch one.
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data row column table key value join merge sort hash scan "
         "filter group agg window order line part customer query spark "
         "batch stream vector small big fast slow").split()
ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "nut"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

ETL_SF = 0.002   # star scale mapped onto the landing tables
BASE_SEED = 0    # the first load every etl_incremental run starts from

# reference source table -> primary key (the pipeline's TableConfig list)
TABLES = {"Customers": "CustomerID", "Sellers": "SellerID",
          "Products": "ProductID", "Orders": "OrderID",
          "OrderItems": "OrderItemID"}
# money/quantity columns parsed exactly (decimal-strict landing types)
DECIMALS = {"Customers": ["AccountBalance"], "Sellers": ["AccountBalance"],
            "Products": ["Price"], "Orders": ["TotalPrice"],
            "OrderItems": ["Quantity", "Discount", "Tax"]}


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed, sf):
    """The star schema as pandas frames (same seed, same frames)."""
    rng = np.random.default_rng([seed, 1])
    n_c, n_s = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_p, n_o = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_l, n_e = 4 * n_o, max(1000, int(1_000_000 * sf))
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_c)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _money(rng, n_s, -999.99, 9999.99)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(TYPES, n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, n_o, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_o)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, n_l, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _days(rng, n_l, "1995-01-02", "2001-11-04")})
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_e))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_e),
        "value": np.maximum(0.01, np.round(rng.exponential(40.0, n_e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    texts = []
    for i in range(500):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(500, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], 500,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((500, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(500, dtype=np.int64), "embedding": list(emb),
        "label": rng.integers(0, 10, 500).astype(np.int32)})
    return t


def write_star(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in star_tables(seed, sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(1, "embedding", pa.array(
                [v for v in df["embedding"]], type=pa.list_(pa.float32())))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- landing

def _source_tables(star):
    """The star schema renamed into the reference's source vocabulary."""
    c, s, p = star["customer"], star["supplier"], star["part"]
    o, li = star["orders"], star["lineitem"]
    return {
        "Customers": pd.DataFrame({
            "CustomerID": c.c_custkey, "Name": c.c_name,
            "Email": [f"c{k}@mail.example" for k in c.c_custkey],
            "Segment": c.c_mktsegment, "NationID": c.c_nationkey,
            "AccountBalance": c.c_acctbal}),
        "Sellers": pd.DataFrame({
            "SellerID": s.s_suppkey, "Name": s.s_name,
            "NationID": s.s_nationkey, "AccountBalance": s.s_acctbal}),
        "Products": pd.DataFrame({
            "ProductID": p.p_partkey, "Name": p.p_name, "Brand": p.p_brand,
            "Type": p.p_type, "Size": p.p_size, "Price": p.p_retailprice}),
        "Orders": pd.DataFrame({
            "OrderID": o.o_orderkey, "CustomerID": o.o_custkey,
            "OrderStatus": o.o_orderstatus, "TotalPrice": o.o_totalprice,
            "OrderDate": o.o_orderdate, "Priority": o.o_orderpriority}),
        "OrderItems": pd.DataFrame({
            "OrderItemID": np.arange(len(li), dtype=np.int64),
            "OrderID": li.l_orderkey, "ProductID": li.l_partkey,
            "SellerID": li.l_suppkey, "LineNumber": li.l_linenumber,
            "Quantity": li.l_quantity, "Discount": li.l_discount,
            "Tax": li.l_tax, "ReturnFlag": li.l_returnflag,
            "LineStatus": li.l_linestatus, "ShipDate": li.l_shipdate}),
    }


def _write_csv(rng, df, table_dir, prefix):
    """Land `df` as 1-4 CSV part files in seeded row order; returns the
    written file names. An empty frame lands as one header-only file."""
    os.makedirs(table_dir, exist_ok=True)
    df = df.iloc[rng.permutation(len(df))]
    n_parts = 1 if len(df) == 0 else int(rng.integers(1, 5))
    cuts = np.sort(rng.choice(np.arange(1, max(2, len(df))), n_parts - 1,
                              replace=False)) if n_parts > 1 else []
    names = []
    bounds = [0, *cuts, len(df)]
    for i in range(n_parts):
        part = df.iloc[bounds[i]:bounds[i + 1]]
        name = f"{prefix}-part-{i}.csv"
        out = part.copy()
        for col in out.columns:
            if np.issubdtype(out[col].dtype, np.datetime64):
                out[col] = out[col].dt.strftime("%Y-%m-%d %H:%M:%S")
            elif out[col].dtype == np.float64:
                out[col] = out[col].map(lambda v: f"{v:.2f}")
        out.to_csv(os.path.join(table_dir, name), index=False)
        names.append(name)
    return names


def _drop(rng, cur, d):
    """One incremental drop against the current per-table state `cur`
    (mutated in place to the post-drop state). Returns (rows per table,
    counts) where counts records updated/inserted keys per table."""
    out, counts = {}, {}

    def pick(df, frac):
        k = max(1, int(len(df) * frac))
        return np.sort(rng.choice(len(df), k, replace=False))

    c = cur["Customers"]
    upd = c.iloc[pick(c, 0.02)].copy()
    which = rng.integers(0, 3, len(upd))
    seg_next = {s: SEGMENTS[(i + 1 + d) % 5] if SEGMENTS[(i + 1 + d) % 5] != s
                else SEGMENTS[(i + 2 + d) % 5] for i, s in enumerate(SEGMENTS)}
    upd.loc[which == 0, "Segment"] = upd.loc[which == 0, "Segment"].map(seg_next)
    upd.loc[which == 1, "Email"] = [f"c{k}.v{d}@mail.example"
                                    for k in upd.loc[which == 1, "CustomerID"]]
    upd.loc[which == 2, "AccountBalance"] = np.round(
        upd.loc[which == 2, "AccountBalance"] + 1.0 + d, 2)
    n_new = max(1, int(len(c) * 0.01))
    first = int(c.CustomerID.max()) + 1
    new = pd.DataFrame({
        "CustomerID": np.arange(first, first + n_new, dtype=np.int64),
        "Name": [f"Customer#{k:09d}" for k in range(first, first + n_new)],
        "Email": [f"c{k}@mail.example" for k in range(first, first + n_new)],
        "Segment": rng.choice(SEGMENTS, n_new),
        "NationID": rng.integers(0, 25, n_new).astype(np.int32),
        "AccountBalance": _money(rng, n_new, -999.99, 9999.99)})
    rest = c[~c.CustomerID.isin(upd.CustomerID)]
    replay = rest.iloc[pick(rest, 0.02)]  # already ingested, unchanged
    out["Customers"] = pd.concat([upd, new, replay], ignore_index=True)
    counts["Customers"] = {"updated": len(upd), "inserted": n_new}
    cur["Customers"] = pd.concat([rest, upd, new], ignore_index=True)

    o = cur["Orders"]
    upd = o.iloc[pick(o, 0.01)].copy()
    nxt = {"F": "O", "O": "P", "P": "F"}
    upd["OrderStatus"] = upd["OrderStatus"].map(nxt)
    n_new = max(1, int(len(o) * 0.01))
    first = int(o.OrderID.max()) + 1
    customers = cur["Customers"].CustomerID.to_numpy()
    new = pd.DataFrame({
        "OrderID": np.arange(first, first + n_new, dtype=np.int64),
        "CustomerID": rng.choice(customers, n_new),
        "OrderStatus": rng.choice(["F", "O", "P"], n_new),
        "TotalPrice": _money(rng, n_new, 1000.0, 500_000.0),
        "OrderDate": _days(rng, n_new, "2001-08-02", "2001-12-31"),
        "Priority": rng.choice(PRIORITIES, n_new)})
    rest = o[~o.OrderID.isin(upd.OrderID)]
    replay = rest.iloc[pick(rest, 0.01)]
    out["Orders"] = pd.concat([upd, new, replay], ignore_index=True)
    counts["Orders"] = {"updated": len(upd), "inserted": n_new}
    cur["Orders"] = pd.concat([rest, upd, new], ignore_index=True)

    oi = cur["OrderItems"]
    lines = rng.integers(1, 8, n_new)
    n_items = int(lines.sum())
    first = int(oi.OrderItemID.max()) + 1
    items = pd.DataFrame({
        "OrderItemID": np.arange(first, first + n_items, dtype=np.int64),
        "OrderID": np.repeat(new.OrderID.to_numpy(), lines),
        "ProductID": rng.choice(cur["Products"].ProductID.to_numpy(), n_items),
        "SellerID": rng.choice(cur["Sellers"].SellerID.to_numpy(), n_items),
        "LineNumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "Quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "Discount": rng.integers(0, 11, n_items) / 100.0,
        "Tax": rng.integers(0, 9, n_items) / 100.0,
        "ReturnFlag": rng.choice(["A", "N", "R"], n_items),
        "LineStatus": rng.choice(["F", "O"], n_items),
        "ShipDate": _days(rng, n_items, "2001-08-02", "2001-12-31")})
    replay = oi.iloc[pick(oi, 0.01)]
    out["OrderItems"] = pd.concat([items, replay], ignore_index=True)
    counts["OrderItems"] = {"updated": 0, "inserted": n_items}
    cur["OrderItems"] = pd.concat([oi, items], ignore_index=True)

    p = cur["Products"]
    idx = pick(p, 0.02)
    upd = p.iloc[idx].copy()
    upd["Price"] = np.round(upd["Price"] + 10.0 + d, 2)
    out["Products"] = upd
    counts["Products"] = {"updated": len(upd), "inserted": 0}
    cur["Products"] = pd.concat([p[~p.ProductID.isin(upd.ProductID)], upd],
                                ignore_index=True)

    out["Sellers"] = cur["Sellers"].iloc[:0]  # an empty table in every drop
    counts["Sellers"] = {"updated": 0, "inserted": 0}
    return out, counts


def write_landing(base_seed, drop_seed, sf, out_dir, n_drops):
    """Land the first-load CSVs under ``out_dir/initial/<Table>/`` and
    ``n_drops`` incremental drops under ``out_dir/drop<d>/<Table>/``; write
    the expected post-drop state per step for the output checks, and a
    manifest with row counts, byte counts and per-drop change counts. The
    first load depends on ``base_seed`` only, the drops on ``drop_seed``."""
    rng = np.random.default_rng([base_seed, 2])
    cur = _source_tables(star_tables(base_seed, sf))
    manifest = {"tables": TABLES, "decimals": DECIMALS, "steps": []}

    def land(step, frames, counts):
        step_dir = os.path.join(out_dir, step)
        info = {"name": step, "rows": {}, "files": {}, "bytes": 0, "counts": counts}
        for table in TABLES:
            names = _write_csv(rng, frames[table], os.path.join(step_dir, table), step)
            info["rows"][table] = len(frames[table])
            info["files"][table] = names
            info["bytes"] += sum(os.path.getsize(os.path.join(step_dir, table, n))
                                 for n in names)
        expected = os.path.join(out_dir, "expected", step)
        os.makedirs(expected, exist_ok=True)
        for table, df in cur.items():
            df.to_parquet(os.path.join(expected, f"{table}.parquet"), index=False)
        manifest["steps"].append(info)

    land("initial", dict(cur), {t: {"updated": 0, "inserted": 0} for t in TABLES})
    rng = np.random.default_rng([drop_seed, 3])
    for d in range(1, n_drops + 1):
        frames, counts = _drop(rng, cur, d)
        land(f"drop{d}", frames, counts)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
