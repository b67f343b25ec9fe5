"""Seeded inputs for the benchmark, and their expected results.

Two kinds of input come from one seed:

* an sf directory (the testdata layout: one parquet file per table) made
  from the bundled sf0.01 tables by dropping a seeded 2 % of orders with
  their lineitems and permuting the sales tables' rows (documents and
  embeddings are copied as they are);
* reference-layout ETL CSVs (`customers`, `products`, `orders`,
  `order_details`, with the reference's column names) derived from that
  sf directory, with dirt planted at fixed rates: duplicate detail keys
  with a later (keep-last) winner, FK violations in both detail FK
  columns and in orders.CustomerID, NULL keys, and unparseable numbers
  and dates.

`expect_*` recompute what the engine should produce with DuckDB, from
the CSV text alone: post-dedupe counts, reject counts, MERGE inserted and
updated counts, and the warehouse tables themselves.
"""
import csv
import hashlib
import json
import os
import shutil
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BUNDLED_SF = os.path.join(HERE, "data", "sf0.01")
SF_TABLES = ["customer", "part", "orders", "lineitem", "nation", "region", "supplier"]
# the lifecycle composites' inputs, copied byte for byte: their results do
# not vary with the seed, so their DuckDB expectations can be cached
FIXED_TABLES = ["documents", "embeddings"]
ETL_TABLES = ["customers", "products", "orders", "order_details"]
# warehouse table -> (CSV file, MERGE keys), as Pipeline loads them
WAREHOUSE = {
    "customer": ("customers", ["CustomerID"]),
    "product": ("products", ["ProductID"]),
    "orders": ("orders", ["OrderID"]),
    "order_details": ("order_details", ["OrderID", "ProductID"]),
}
COLUMNS = {
    "customers": ["CustomerID", "FirstName", "LastName", "Email", "Phone",
                  "City", "Country"],
    "products": ["ProductID", "ProductName", "Category", "Price", "Stock"],
    "orders": ["OrderID", "CustomerID", "OrderDate", "Status"],
    "order_details": ["OrderID", "ProductID", "Quantity", "TotalPrice"],
}
# keys of the engine's NULL-key drop and keep-last dedupe, per file
KEYS = {"customers": ["CustomerID"], "products": ["ProductID"],
        "orders": ["OrderID", "CustomerID"], "order_details": ["OrderID", "ProductID"]}
# DuckDB types the engine's Schemas pin (graft.model.Schemas)
TYPES = {
    "CustomerID": "INTEGER", "ProductID": "INTEGER", "OrderID": "INTEGER",
    "Stock": "INTEGER", "Quantity": "INTEGER",
    "Price": "DECIMAL(18,2)", "TotalPrice": "DECIMAL(18,2)",
    "OrderDate": "TIMESTAMP",
}
# Planted dirt. Duplicate detail keys need little planting: the sf0.01
# lineitems already repeat 55 (orderkey, partkey) keys in 60,000 rows
# (0.09 %), near the reference input's 38 duplicate (OrderID, ProductID)
# keys in 60,161 detail rows (0.06 %, FIXTURES.md). The generator adds
# MIN_PLANTED more per detail file, whose keep-last winners it knows. The
# reference holds no other dirt, so the other kinds are coverage minimums
# for the correctness checks, not measured traffic: COVERAGE_RATE of a
# file's rows, the smallest rate that still plants a few of each kind, and
# never fewer than MIN_PLANTED per file.
COVERAGE_RATE = 0.001
MIN_PLANTED = 2
# merge delta: share of orders re-sent with new values, and new keys
DELTA_ORDER_RATE = 0.05
NEW_KEY_RATE = 0.01


def check_out_path(path):
    """Refuse output paths that read like command-line flags: `--help`
    taken as a directory name once wrote a whole dataset under `--help/`."""
    if os.path.basename(os.path.normpath(path)).startswith("-") or path.startswith("-"):
        raise ValueError(f"refusing output path that looks like a flag: {path!r}")


# ---------------------------------------------------------------- sf tables

def derive_sf(out_dir, seed, src_dir=BUNDLED_SF, order_share=0.98):
    """Write a seeded sf directory: a seeded `order_share` of the orders
    kept with their lineitems, every sales table's rows permuted,
    FIXED_TABLES copied."""
    check_out_path(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(os.path.join(src_dir, f"{t}.parquet")) for t in SF_TABLES}
    orders = tables["orders"]
    keep = rng.random(orders.num_rows) < order_share
    tables["orders"] = orders.filter(pa.array(keep))
    kept = pa.array(np.asarray(orders["o_orderkey"])[keep])
    li = tables["lineitem"]
    tables["lineitem"] = li.filter(pa.compute.is_in(li["l_orderkey"], value_set=kept))
    for t, tab in tables.items():
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        pq.write_table(tab, os.path.join(out_dir, f"{t}.parquet"))
    for t in FIXED_TABLES:
        shutil.copyfile(os.path.join(src_dir, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet"))


# ---------------------------------------------------------------- ETL CSVs

def _entities(sf_dir):
    """The clean reference-layout rows behind every CSV, as strings."""
    def rd(t):
        return pq.read_table(os.path.join(sf_dir, f"{t}.parquet")).to_pandas()
    cust, nation, part = rd("customer"), rd("nation"), rd("part")
    orders, li = rd("orders"), rd("lineitem")
    country = dict(zip(nation.n_nationkey, nation.n_name))
    name = cust.c_name.str.split("#")
    customers = pd.DataFrame({
        "CustomerID": cust.c_custkey.astype(str),
        "FirstName": name.str[0],
        "LastName": "N" + name.str[1],
        "Email": "c" + cust.c_custkey.astype(str) + "@example.com",
        "Phone": "+1-555-" + cust.c_custkey.map("{:07d}".format),
        "City": "City" + (cust.c_nationkey * 7 % 40).astype(str),
        "Country": cust.c_nationkey.map(country),
    })
    products = pd.DataFrame({
        "ProductID": part.p_partkey.astype(str),
        "ProductName": part.p_name,
        "Category": part.p_type,
        "Price": part.p_retailprice.map("{:.2f}".format),
        "Stock": (part.p_partkey * 37 % 500).astype(str),
    })
    ords = pd.DataFrame({
        "OrderID": orders.o_orderkey.astype(str),
        "CustomerID": orders.o_custkey.astype(str),
        "OrderDate": orders.o_orderdate.dt.strftime("%Y-%m-%d"),
        "Status": orders.o_orderstatus,
    })
    dets = pd.DataFrame({
        "OrderID": li.l_orderkey.astype(str),
        "ProductID": li.l_partkey.astype(str),
        "Quantity": li.l_quantity.round().astype(int).astype(str),
        "TotalPrice": li.l_extendedprice.map("{:.2f}".format),
    })
    return {"customers": customers, "products": products, "orders": ords,
            "order_details": dets}


def _pick(rng, n, rate, floor=0):
    """`rate` of n distinct row indexes, and at least `floor` of them."""
    return rng.choice(n, size=min(n, max(floor, int(round(n * rate)))), replace=False)


def _plant(rng, n):
    return _pick(rng, n, COVERAGE_RATE, MIN_PLANTED)


def _dirty(file, df, rng, missing_ids):
    """Plant dirt in one clean file's rows. `missing_ids` maps an FK column
    to ids that exist in no parent file."""
    df = df.reset_index(drop=True).copy()
    n = len(df)
    key = COLUMNS[file][0]
    if file == "orders":
        for i in _plant(rng, n):
            df.at[i, "CustomerID"] = str(missing_ids["CustomerID"] + i)
        for i in _plant(rng, n):
            df.at[i, "OrderDate"] = "31/12/1999" if i % 2 else "not-a-date"
        # a NULL CustomerID drops the order silently, as in the reference
        for i in _plant(rng, n):
            df.at[i, "CustomerID"] = ""
    if file == "order_details":
        for c in ("OrderID", "ProductID"):
            for i in _plant(rng, n):
                df.at[i, c] = str(missing_ids[c] + i)
        for i in _plant(rng, n):
            df.at[i, "Quantity"] = "x" + df.at[i, "Quantity"]
        for i in _plant(rng, n):
            df.at[i, "TotalPrice"] = "n/a"
    if file == "products":
        for i in _plant(rng, n):
            df.at[i, "Price"] = "n/a"
    for i in _plant(rng, n):
        df.at[i, key] = ""
    if file != "order_details":
        return df, {"dups": 0, "winners": []}
    # duplicates: a copy of the (already dirty) row with another TotalPrice,
    # placed later in the file so it is the keep-last winner
    dups = _pick(rng, n, 0, MIN_PLANTED)
    copies = df.iloc[dups].copy()
    copies["TotalPrice"] = copies["TotalPrice"].map(_bump)
    pos = np.arange(n, dtype=float)
    cpos = pos[dups] + 0.5 + rng.random(len(dups)) * (n - pos[dups])
    out = pd.concat([df, copies], ignore_index=True)
    order = np.argsort(np.concatenate([pos, cpos]), kind="stable")
    keys = KEYS[file]
    winners = [[*(r[k] for k in keys), r["TotalPrice"]] for _, r in copies.iterrows()
               if all(r[k].isdigit() for k in keys)]
    return out.iloc[order].reset_index(drop=True), {"dups": len(dups), "winners": winners}


def _bump(v):
    """A different, still well-formed price for a duplicate detail line."""
    try:
        return f"{Decimal(v) + 1:.2f}"
    except Exception:  # an unparseable price stays unparseable
        return v


def _missing_ids(ents):
    """FK values that no parent file holds, far above every real key."""
    top = max(int(ents[f][COLUMNS[f][0]].astype(int).max())
              for f in ("customers", "products", "orders"))
    base = 10 ** len(str(top)) * 10
    return {"CustomerID": base, "OrderID": base * 2, "ProductID": base * 3}


def _write_csvs(out_dir, dirty):
    """Write each file's dirty rows, and `manifest.json`: what the
    generator planted (rows written, duplicate copies, and the keep-last
    winner it placed for every duplicated well-formed key). Returns the
    CSV sizes in bytes."""
    check_out_path(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    sizes, manifest = {}, {}
    for f, (df, info) in dirty.items():
        p = os.path.join(out_dir, f"{f}.csv")
        df[COLUMNS[f]].to_csv(p, index=False, quoting=csv.QUOTE_MINIMAL)
        sizes[f] = os.path.getsize(p)
        manifest[f] = {"rows": len(df), **info}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return sizes


def make_base(sf_dir, out_dir, seed):
    """The full batch: every entity once, with planted dirt."""
    ents = _entities(sf_dir)
    miss = _missing_ids(ents)
    rng = np.random.default_rng([seed, 1])
    return _write_csvs(out_dir, {f: _dirty(f, ents[f], rng, miss) for f in ETL_TABLES})


def make_delta(sf_dir, out_dir, seed, variant):
    """A MERGE delta over the base's keys. Both variants re-send the same
    5 % of orders with their detail lines (and every customer and product,
    which the FK checks need) with variant-specific values, plus the same
    1 % of new keys per table; dirt is planted at the base's rates."""
    ents = _entities(sf_dir)
    miss = _missing_ids(ents)
    pick = np.random.default_rng([seed, 2])
    bump = 1 if variant == "a" else 2
    tag = variant.upper()

    def new_ids(df, col, k):
        top = int(df[col].astype(int).max())
        return [str(top + 1 + i) for i in range(k)]

    cust = ents["customers"].copy()
    ch = _pick(pick, len(cust), DELTA_ORDER_RATE)
    cust.loc[ch, "Email"] = tag.lower() + "." + cust.loc[ch, "Email"]
    nc = new_ids(cust, "CustomerID", int(len(cust) * NEW_KEY_RATE))
    cust = pd.concat([cust, pd.DataFrame({
        "CustomerID": nc, "FirstName": "New", "LastName": ["N" + i for i in nc],
        "Email": [f"n{i}@example.com" for i in nc], "Phone": "+1-555-0000000",
        "City": "City0", "Country": "GERMANY"})], ignore_index=True)

    prod = ents["products"].copy()
    ch = _pick(pick, len(prod), DELTA_ORDER_RATE)
    prod.loc[ch, "Price"] = prod.loc[ch, "Price"].map(lambda v: f"{Decimal(v) + bump:.2f}")
    npid = new_ids(prod, "ProductID", int(len(prod) * NEW_KEY_RATE))
    prod = pd.concat([prod, pd.DataFrame({
        "ProductID": npid, "ProductName": [f"new part {i}" for i in npid],
        "Category": "NEW", "Price": "9.99", "Stock": "10"})], ignore_index=True)

    ords = ents["orders"]
    chosen = ords.iloc[_pick(pick, len(ords), DELTA_ORDER_RATE)].copy()
    chosen["Status"] = chosen["Status"] + tag
    dets = ents["order_details"]
    cdets = dets[dets.OrderID.isin(set(chosen.OrderID))].copy()
    cdets["Quantity"] = (cdets.Quantity.astype(int) + bump).astype(str)
    noid = new_ids(ords, "OrderID", int(len(ords) * NEW_KEY_RATE))
    ncust = pick.choice(ents["customers"].CustomerID.values, len(noid))
    nords = pd.DataFrame({"OrderID": noid, "CustomerID": ncust,
                          "OrderDate": "2001-01-01", "Status": "N" + tag})
    lines = pick.integers(1, 5, len(noid))
    pids = ents["products"].ProductID.values
    ndets = pd.DataFrame({
        "OrderID": np.repeat(noid, lines),
        "ProductID": [str(p) for p in pick.choice(pids, int(lines.sum()), replace=True)],
        "Quantity": str(bump), "TotalPrice": f"{bump * 10}.00"})
    ndets = ndets.drop_duplicates(["OrderID", "ProductID"])
    files = {"customers": cust, "products": prod,
             "orders": pd.concat([chosen, nords], ignore_index=True),
             "order_details": pd.concat([cdets, ndets], ignore_index=True)}
    rng = np.random.default_rng([seed, 3, bump])
    return _write_csvs(out_dir, {f: _dirty(f, files[f], rng, miss) for f in ETL_TABLES})


# ---------------------------------------------------------------- expectations

def _stage(con, csv_dir):
    """Register the engine's staged tables for one CSV directory in `con`:
    `<file>_clean` (coerced, NULL keys dropped, keep-last deduped) and the
    FK-split results. Rows are read as text by pandas (which keeps file
    order), and every rule runs as DuckDB SQL."""
    for f in ETL_TABLES:
        raw = pd.read_csv(os.path.join(csv_dir, f"{f}.csv"), dtype=str,
                          keep_default_na=False)
        raw["__ord"] = np.arange(len(raw))
        con.register(f"{f}_raw", raw)
        cols = []
        for c in COLUMNS[f]:
            # an empty CSV field reads as NULL; the rest is trimmed, then
            # parsed per cell with parse failures becoming NULL
            v = f"trim(NULLIF(\"{c}\", ''))"
            if c in TYPES:
                v = f"TRY_CAST({v} AS {TYPES[c]})"
            cols.append(f"{v} AS \"{c}\"")
        keys = KEYS[f]
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE {f}_clean AS
            SELECT * EXCLUDE (__rn, __ord) FROM (
              SELECT *, row_number() OVER (PARTITION BY {', '.join(keys)}
                                           ORDER BY __ord DESC) AS __rn
              FROM (SELECT {', '.join(cols)}, __ord FROM {f}_raw)
              WHERE {' AND '.join(f'{k} IS NOT NULL' for k in keys)})
            WHERE __rn = 1""")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE orders_valid AS
        SELECT * FROM orders_clean o
        WHERE o.CustomerID IN (SELECT CustomerID FROM customers_clean)""")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE details_valid AS
        SELECT * FROM order_details_clean d
        WHERE d.OrderID IN (SELECT OrderID FROM orders_valid)
          AND d.ProductID IN (SELECT ProductID FROM products_clean)""")
    rows_in = {f: con.execute(f"SELECT count(*) FROM {f}_raw").fetchone()[0] for f in ETL_TABLES}
    clean = {f: con.execute(f"SELECT count(*) FROM {f}_clean").fetchone()[0] for f in ETL_TABLES}
    ord_rej = clean["orders"] - con.execute("SELECT count(*) FROM orders_valid").fetchone()[0]
    det_rej = clean["order_details"] - con.execute("SELECT count(*) FROM details_valid").fetchone()[0]
    return {"rows_in": rows_in, "clean": clean,
            "rejects": {"orders": ord_rej, "order_details": det_rej}}


_STAGED = {"customer": "customers_clean", "product": "products_clean",
           "orders": "orders_valid", "order_details": "details_valid"}


def table_hash(con, relation):
    """Keyed content hash of a table, computed by DuckDB: md5 over its rows
    sorted, each row its columns in name order as text (NULL as \\N,
    timestamps as UTC wall time). Rows are unique on the MERGE keys, so
    the hash fixes every key's row."""
    cols = sorted(con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall())
    parts = []
    for name, typ, *_ in cols:
        c = f'CAST("{name}" AS TIMESTAMP)' if "TIMESTAMP" in typ else f'"{name}"'
        parts.append(f"coalesce(CAST({c} AS VARCHAR), '\\N')")
    row = " || '|' || ".join(parts)
    return con.execute(f"SELECT md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
                       f"FROM (SELECT {row} AS r FROM ({relation}))").fetchone()[0]


def expect_batch(csv_dir, base_dir=None):
    """Expected outcome of loading `csv_dir`, into an empty warehouse or
    (with `base_dir`) into the warehouse a load of `base_dir` leaves:
    row counts at each step, reject counts, MERGE inserted/updated/total
    per table, and each warehouse table's `table_hash`."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    if base_dir is not None:
        _stage(con, base_dir)
        for t, src in _STAGED.items():
            con.execute(f"CREATE TEMP TABLE wh_{t} AS SELECT * FROM {src}")
    s = _stage(con, csv_dir)
    merge, hashes = {}, {}
    for t, (_, keys) in WAREHOUSE.items():
        src = _STAGED[t]
        on = " AND ".join(f"w.{k} = s.{k}" for k in keys)
        staged = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        if base_dir is None:
            merged_sql = f"SELECT * FROM {src}"
            inserted = staged
        else:
            inserted = con.execute(
                f"SELECT count(*) FROM {src} s WHERE NOT EXISTS "
                f"(SELECT 1 FROM wh_{t} w WHERE {on})").fetchone()[0]
            merged_sql = (f"SELECT * FROM {src} UNION ALL SELECT w.* FROM wh_{t} w "
                          f"WHERE NOT EXISTS (SELECT 1 FROM {src} s WHERE {on})")
        total = con.execute(f"SELECT count(*) FROM ({merged_sql})").fetchone()[0]
        hashes[t] = table_hash(con, merged_sql)
        merge[t] = {"inserted": inserted, "updated": staged - inserted, "total": total}
    s["merge"] = merge
    s["counts"] = {t: m["total"] for t, m in merge.items()}
    s["hashes"] = hashes
    s["content_hash"] = hashlib.sha256(
        "".join(f"{t}={hashes[t]}\n" for t in sorted(hashes)).encode()).hexdigest()
    return s


# ---------------------------------------------------------------- comparing

def canon(df):
    """Columns sorted by name, rows sorted, NaN/None as one NULL — the
    order-free form both engines' results are compared in."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="first").reset_index(drop=True)
    return df


def frames_match(got, exp):
    """None when the two frames hold the same rows, else the first
    difference. Values compare with == after canonical sorting, so an
    int and an equal float, or a Decimal and its double, match."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if str(gv.dtype).startswith("datetime") or str(ev.dtype).startswith("datetime"):
            gv, ev = pd.to_datetime(gv), pd.to_datetime(ev)
        try:
            same = (gv.values == ev.values) | (pd.isna(gv.values) & pd.isna(ev.values))
        except Exception as ex:  # incomparable types are a mismatch
            return f"column {c}: {ex}"
        if not np.asarray(same).all():
            i = int((~np.asarray(same)).argmax())
            return f"column {c} row {i}: {gv.iloc[i]!r} != {ev.iloc[i]!r}"
    return None
