"""Output checks and self-tests. Each check returns (name, ok, detail)
tuples; run.py counts every check as an attempted operation and every
failed one as a failed operation.

The expected values come from the generator's own record of what it
landed, evaluated independently with DuckDB; nothing here reuses the
program's code.
"""
import math
import os

import duckdb
import pandas as pd

MARTS = ["fact_order_details", "seller_performance_daily", "seller_performance_monthly",
         "seller_performance_quarterly", "order_rates", "seller_segmentation",
         "customer_analytics"]

# the reference's Gold marts (3_Silver_to_Gold.py) over the expected source
# state: views c, s, p, o, oi hold the current version of every key
GOLD_SQL = {
    "fact_order_details": """
        SELECT oi.OrderID, oi.OrderItemID, o.CustomerID, c.Name AS CustomerName,
               oi.ProductID, p.Name AS ProductName, p.Brand AS CategoryName,
               oi.SellerID, s.Name AS SellerName,
               CASE oi.ReturnFlag WHEN 'N' THEN 'Delivered' WHEN 'A' THEN 'Cancelled'
                    ELSE 'Returned' END AS StatusName,
               CAST(oi.Quantity AS DECIMAL(12,2)) AS Quantity,
               CAST(p.Price AS DECIMAL(12,2)) AS CurrentPrice,
               CAST(oi.Quantity AS DECIMAL(12,2)) * CAST(p.Price AS DECIMAL(12,2)) AS TotalAmount,
               o.OrderDate, year(o.OrderDate) AS order_year
        FROM oi JOIN o ON oi.OrderID = o.OrderID JOIN c ON o.CustomerID = c.CustomerID
             JOIN p ON oi.ProductID = p.ProductID JOIN s ON oi.SellerID = s.SellerID""",
    "seller_performance_daily": """
        SELECT SellerID, SellerName, ProductID, ProductName, CategoryName,
               year(OrderDate) AS year, quarter(OrderDate) AS quarter,
               month(OrderDate) AS month, CAST(OrderDate AS DATE) AS order_date,
               sum(TotalAmount) AS total_revenue, sum(Quantity) AS total_quantity_sold,
               count(DISTINCT OrderID) AS distinct_orders
        FROM fact GROUP BY ALL""",
    "seller_performance_monthly": """
        SELECT SellerID, SellerName, ProductID, ProductName, CategoryName, year, month,
               sum(total_revenue) AS total_revenue,
               sum(total_quantity_sold) AS total_quantity_sold,
               sum(distinct_orders) AS distinct_orders
        FROM daily GROUP BY ALL""",
    "seller_performance_quarterly": """
        SELECT SellerID, SellerName, ProductID, ProductName, CategoryName, year, quarter,
               sum(total_revenue) AS total_revenue,
               sum(total_quantity_sold) AS total_quantity_sold,
               sum(distinct_orders) AS distinct_orders
        FROM daily GROUP BY ALL""",
    "order_rates": """
        SELECT SellerID, SellerName, count(DISTINCT OrderID) AS total_orders_placed,
               count(DISTINCT CASE WHEN StatusName = 'Delivered' THEN OrderID END) AS delivered_orders,
               count(DISTINCT CASE WHEN StatusName = 'Cancelled' THEN OrderID END) AS cancelled_orders,
               count(DISTINCT CASE WHEN StatusName = 'Returned' THEN OrderID END) AS returned_orders,
               cancelled_orders / total_orders_placed AS cancellation_rate,
               returned_orders / CASE WHEN delivered_orders > 0 THEN delivered_orders
                                      ELSE 1 END AS return_rate
        FROM fact GROUP BY ALL""",
    "seller_segmentation": """
        SELECT r.SellerID, v.SellerName, v.total_revenue, r.total_orders_placed,
               r.delivered_orders, r.cancelled_orders, r.returned_orders,
               r.cancellation_rate, r.return_rate,
               CASE WHEN v.total_revenue > 10000 AND r.return_rate < 0.015 THEN 'Top Seller'
                    WHEN v.total_revenue > 2000 AND r.return_rate < 0.03 THEN 'Premium Seller'
                    ELSE 'Risk Seller' END AS seller_segment
        FROM (SELECT SellerID, SellerName, sum(total_revenue) AS total_revenue
              FROM daily GROUP BY ALL) v JOIN rates r ON v.SellerID = r.SellerID""",
    "customer_analytics": """
        SELECT CustomerID, CustomerName, count(DISTINCT OrderID) AS total_orders,
               sum(TotalAmount) AS total_spend, min(OrderDate) AS first_purchase_date,
               max(OrderDate) AS last_purchase_date,
               CASE WHEN count(DISTINCT OrderID) > 1 THEN 'Returning Customer'
                    ELSE 'New Customer' END AS customer_type
        FROM fact GROUP BY ALL""",
}


def _canon(v):
    """Engine-neutral rendering: numbers by value, times to the second."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d %H:%M:%S" if hasattr(v, "hour") else "%Y-%m-%d")
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        f = float(v)
        return str(int(f)) if f.is_integer() else f"{f:.4f}"
    return str(v)


def _rows(con, sql, cols):
    rel = con.sql(sql)
    idx = [rel.columns.index(c) for c in cols]
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rel.fetchall())


def _same(con, name, got_sql, exp_sql, cols=None):
    cols = cols or sorted(con.sql(exp_sql).columns)
    got_cols = sorted(con.sql(got_sql).columns)
    if not set(cols) <= set(got_cols):
        return (name, False, f"columns: got {got_cols}, expected {cols}")
    got, exp = _rows(con, got_sql, cols), _rows(con, exp_sql, cols)
    if got == exp:
        return (name, True, f"{len(got)} rows")
    first = next((i for i, (g, e) in enumerate(zip(got, exp)) if g != e), min(len(got), len(exp)))
    return (name, False, f"{len(got)} rows vs {len(exp)} expected; first difference at "
                         f"sorted row {first}: got {got[first:first + 1]} "
                         f"expected {exp[first:first + 1]} cols {cols}")


def check_fixtures(manifest, landing):
    """Self-test of the generator: unique primary keys in every landed
    table, and drop files never reuse an earlier landing's file name."""
    out, seen = [], {t: set() for t in manifest["tables"]}
    for step in manifest["steps"]:
        for table, pk in manifest["tables"].items():
            files = step["files"][table]
            frames = [pd.read_csv(os.path.join(landing, step["name"], table, f)) for f in files]
            keys = pd.concat(frames)[pk]
            out.append((f"fixture {step['name']}/{table}: unique {pk}",
                        keys.is_unique and len(keys) == step["rows"][table],
                        f"{len(keys)} rows, {keys.nunique()} distinct"))
            reused = seen[table] & set(files)
            out.append((f"fixture {step['name']}/{table}: new file names", not reused,
                        sorted(reused)))
            seen[table] |= set(files)
    return out


def check_etl(res, manifest, landing):
    """Bronze rows equal landed rows; Silver keeps exactly one current row
    per key, equal to the latest landed version, and one expired row per
    update; the sink received exactly the inserted customers; Gold marts
    equal a DuckDB evaluation of the expected state."""
    out = []
    steps = {s["name"]: s for s in manifest["steps"]}
    for i, run in enumerate(res.get("runs", [])):
        step = steps[run["step"]]
        for b in run["bronze"]:
            want = step["rows"][b["table"]]
            ok = b["rows"] == want and (want > 0 or b["action"] == "skipped-empty")
            out.append((f"run {i} bronze {b['table']} rows", ok,
                        f"{b['rows']} ({b['action']}) vs {want} landed"))
    if not res.get("runs") or "check_dir" not in res:
        return out + [("pipeline ran and exported its state", False,
                       res.get("fatal", "no timed run"))]

    ran = {r["step"] for r in res["runs"]}
    applied = [s for s in manifest["steps"] if s["name"] != "initial" and s["name"] in ran]
    final = applied[-1]["name"] if applied else "initial"
    expected = os.path.join(landing, "expected")
    check = res["check_dir"]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for table, pk in manifest["tables"].items():
        con.execute(f"CREATE VIEW exp_{table} AS SELECT * FROM "
                    f"'{expected}/{final}/{table}.parquet'")
        con.execute(f"CREATE VIEW silver_{table} AS SELECT * FROM "
                    f"read_parquet('{check}/silver/{table}/*.parquet')")
        cols = sorted(con.sql(f"SELECT * FROM exp_{table}").columns)
        bad = con.sql(f"SELECT count(*) FROM (SELECT {pk} FROM silver_{table} "
                      f"WHERE is_current GROUP BY {pk} HAVING count(*) <> 1)").fetchone()[0]
        out.append((f"silver {table}: one current row per key", bad == 0, f"{bad} keys"))
        out.append(_same(con, f"silver {table}: current slice equals latest landed version",
                         f"SELECT * FROM silver_{table} WHERE is_current",
                         f"SELECT * FROM exp_{table}", cols))
        expired = con.sql(f"SELECT count(*) FROM silver_{table} "
                          f"WHERE NOT is_current").fetchone()[0]
        updates = sum(s["counts"][table]["updated"] for s in applied)
        out.append((f"silver {table}: expired rows equal updated keys", expired == updates,
                    f"{expired} expired vs {updates} updates"))

    want = []
    for prev, step in zip(["initial"] + [s["name"] for s in applied], applied):
        want += con.sql(f"""SELECT Name, Email FROM '{expected}/{step['name']}/Customers.parquet'
                            WHERE CustomerID NOT IN (SELECT CustomerID FROM
                            '{expected}/{prev}/Customers.parquet')""").fetchall()
    got = sorted(tuple(r) for r in res["sink_delivered"])
    out.append(("sink received exactly the inserted customers", got == sorted(want),
                f"{len(got)} delivered vs {len(want)} inserted"))

    for alias, table in (("c", "Customers"), ("s", "Sellers"), ("p", "Products"),
                         ("o", "Orders"), ("oi", "OrderItems")):
        con.execute(f"CREATE VIEW {alias} AS SELECT * FROM exp_{table}")
    con.execute(f"CREATE VIEW fact AS {GOLD_SQL['fact_order_details']}")
    con.execute(f"CREATE VIEW daily AS {GOLD_SQL['seller_performance_daily']}")
    con.execute(f"CREATE VIEW rates AS {GOLD_SQL['order_rates']}")
    for mart in MARTS:
        out.append(_same(con, f"gold {mart} equals DuckDB",
                         f"SELECT * FROM read_parquet('{check}/gold/{mart}/*.parquet')",
                         GOLD_SQL[mart]))
    return out


def _validate_canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def check_queries(res, star):
    """Every query's result equals its registered DuckDB oracle (sorted
    columns by name, sorted rows, exact values)."""
    out = []
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star}/{t}.parquet'")
    for name, sql in res.get("oracle", {}).items():
        path = os.path.join(res["check_dir"], name)
        if not os.path.isdir(path):
            out.append((f"query {name} equals oracle", False, "no result written"))
            continue
        try:
            got = con.execute(f"SELECT * FROM '{path}/*.parquet'").fetch_arrow_table()
            exp = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any engine error fails the check
            out.append((f"query {name} equals oracle", False, f"exec error: {e}"))
            continue
        gc, ec = sorted(got.column_names), sorted(exp.column_names)
        if gc != ec:
            out.append((f"query {name} equals oracle", False, f"columns {gc} vs {ec}"))
            continue
        rows = [sorted(tuple(_validate_canon(v) for v in r)
                       for r in zip(*[t.column(c).to_pylist() for c in gc]))
                for t in (got, exp)]
        out.append((f"query {name} equals oracle", rows[0] == rows[1],
                    f"{len(rows[0])} rows vs {len(rows[1])}"))
    if not res.get("oracle"):
        out.append(("query mix ran", False, res.get("fatal", "no oracle record")))
    return out


def check_attribution(res, workload):
    """Self-test of the traced run: the per-layer task, shuffle and
    bytes-written counters sum to the totals of the timed region (nothing
    lands in the unattributed bucket), and the layer spans cover the timed
    unit up to the harness remainder (5 % plus 0.1 s)."""
    out = []
    units = res.get("passes") if workload == "query_mix" else res.get("runs")
    traced = [u for u in (units or []) if u["traced"]]
    for u in traced:
        for name, r in u.get("plan_shapes", {}).items():
            out.append((f"timed action of {name} keeps every join, aggregate and window",
                        r["ok"], f"optimized {r['optimized']} executed {r['executed']}"))
    out.append(("traced run recorded a traced unit", bool(traced), len(traced)))
    for i, u in enumerate(traced):
        other = u["counters"]["layers"].get("other", {})
        leaked = {k: other.get(k, 0) for k in ("tasks", "shuffle_write", "bytes_written")}
        out.append((f"traced unit {i}: counters fully attributed to layers",
                    not any(leaked.values()), leaked))
        spans = u["spans"]
        if workload == "query_mix":
            wall = sum(u["times"].values())
            covered = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("query/"))
        else:
            wall = u["s"]
            covered = sum(s["end"] - s["start"] for s in spans
                          if s["name"].split("/")[0] in ("bronze", "silver", "gold"))
        out.append((f"traced unit {i}: layer spans cover the timed unit",
                    abs(wall - covered) <= 0.05 * wall + 0.1,
                    f"wall {wall:.3f} s, layers {covered:.3f} s"))
    return out
