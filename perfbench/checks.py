"""Output checks, run after the timed passes.

* Batch workloads: each query's result, written whole by the check pass,
  against its DuckDB oracle SQL, with the same strict comparison the
  repository's oracle harness (`dev/check.py`) applies: no DECIMAL
  columns, equal column names and exact DuckDB logical types, equal row
  count, and equal rows in order with columns sorted by name.
* anon_etl: DuckDB re-derives the order-line and events releases, which
  must match as exact multisets; no raw `c_name` may appear in any string
  column; every group of surviving quasi-identifier values holds at least
  k rows; the DP histogram has the true group set, the calibrated sigma,
  and every noisy count within 6 sigma of the true count.

Each check returns a list of failure messages; empty means it passed.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
K = 5
QUASI_IDS = ["nation_k", "segment_k", "acct_bin_k", "order_month_k"]
EPS = 0.5
DELTA = 1e-6


def connect(data_dir):
    """A DuckDB connection with a view per input table."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def compare_result(s_cols, s_types, s_rows, d_cols, d_types, d_rows):
    """The oracle comparison on already-fetched results. `*_types` map
    column name to DuckDB logical type. Returns failure messages."""
    dec = sorted(c for c, t in s_types.items() if "DECIMAL" in t.upper())
    if dec:
        return [f"DECIMAL output columns {dec}"]
    if sorted(s_cols) != sorted(d_cols):
        return [f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}"]
    tdiff = {c: (s_types[c], d_types[c]) for c in d_cols if s_types[c] != d_types[c]}
    if tdiff:
        return [f"column types differ (spark, duck): {tdiff}"]
    si = [s_cols.index(c) for c in sorted(s_cols)]
    di = [d_cols.index(c) for c in sorted(d_cols)]
    srt = [tuple(r[i] for i in si) for r in s_rows]
    drt = [tuple(r[i] for i in di) for r in d_rows]
    if len(srt) != len(drt):
        return [f"row count spark={len(srt)} duck={len(drt)}"]
    for i, (a, b) in enumerate(zip(srt, drt)):
        if a != b:
            return [f"row {i} differs: spark={a} duck={b}"]
    return []


def check_query(con, out_dir, sql):
    """Compare the parquet result under `out_dir` with oracle `sql`."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return ["no output written"]
    flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    spark_sql = f"SELECT * FROM read_parquet({flist})"
    try:
        d = con.execute(sql)
        d_cols = [c[0] for c in d.description]
        d_rows = d.fetchall()
        d_types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    except Exception as e:  # noqa: BLE001 - any oracle error fails the query
        return [f"oracle error: {e}"]
    s = con.execute(spark_sql)
    s_cols = [c[0] for c in s.description]
    s_rows = s.fetchall()
    s_types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {spark_sql}").fetchall()}
    return compare_result(s_cols, s_types, s_rows, d_cols, d_types, d_rows)


def multiset_diff(con, left_sql, right_sql):
    """(rows only in left, rows only in right), counted with multiplicity."""
    a = con.execute(f"SELECT count(*) FROM (({left_sql}) EXCEPT ALL ({right_sql}))").fetchone()[0]
    b = con.execute(f"SELECT count(*) FROM (({right_sql}) EXCEPT ALL ({left_sql}))").fetchone()[0]
    return a, b


def small_groups(con, rel_sql, qi, k):
    """Rows breaking k-anonymity in a cell-suppressed release: groups of
    surviving (non-null) QI values smaller than k, plus rows where only
    some of the QI columns were suppressed."""
    cols = ", ".join(qi)
    all_null = " AND ".join(f"{c} IS NULL" for c in qi)
    none_null = " AND ".join(f"{c} IS NOT NULL" for c in qi)
    small = con.execute(
        f"SELECT count(*) FROM (SELECT {cols}, count(*) AS n FROM ({rel_sql}) "
        f"WHERE {none_null} GROUP BY {cols} HAVING count(*) < {k})").fetchone()[0]
    partial = con.execute(
        f"SELECT count(*) FROM ({rel_sql}) WHERE NOT ({all_null}) AND NOT ({none_null})"
    ).fetchone()[0]
    return small, partial


def dp_violations(released, true_counts, eps, delta):
    """Failures of a DP histogram release. `released` maps group key to
    (epsilon, delta, sigma, noisy_n); `true_counts` maps group key to n."""
    sigma = math.sqrt(2.0 * math.log(1.25 / delta)) / eps
    out = []
    if set(released) != set(true_counts):
        out.append(f"group set differs: {len(set(released) ^ set(true_counts))} groups")
    for key, (e, d, s, noisy) in released.items():
        if abs(e - eps) > 1e-12 or abs(d - delta) > 1e-18:
            out.append(f"{key}: epsilon/delta {e}/{d}, expected {eps}/{delta}")
        if abs(s - sigma) > 1e-9 * sigma:
            out.append(f"{key}: sigma {s}, expected {sigma}")
        if key in true_counts and abs(noisy - true_counts[key]) > 6 * sigma:
            out.append(f"{key}: noisy {noisy} vs true {true_counts[key]} beyond 6 sigma")
    return out[:5]


def _release(out_dir, name):
    return f"SELECT * FROM read_parquet('{os.path.join(out_dir, name, '*.parquet')}')"


def order_lines_sql(salt):
    """DuckDB re-derivation of `AnonEtl.orderLines`."""
    qi = "nation, segment, acct_bin, order_month"
    keep = lambda c: f"CASE WHEN gs >= {K} THEN {c} END AS {c}_k"
    return f"""
      WITH g AS (
        SELECT sha256('{salt}' || c_name) AS customer_pseudonym,
               substring(c_name, 1, 9) || '***' AS customer_masked,
               CAST(floor(l_extendedprice / 10000) * 10000 AS BIGINT) AS price_bin,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
               l_quantity, l_discount,
               c_nationkey AS nation, c_mktsegment AS segment,
               CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acct_bin,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey),
      w AS (SELECT *, count(*) OVER (PARTITION BY {qi}) AS gs FROM g)
      SELECT customer_pseudonym, customer_masked, price_bin, ship_month,
             l_quantity, l_discount, {keep('nation')}, {keep('segment')},
             {keep('acct_bin')}, {keep('order_month')}
      FROM w"""


def events_sql(salt):
    """DuckDB re-derivation of `AnonEtl.events`."""
    return f"""
      SELECT event_id, sha256('{salt}' || CAST(user_id AS VARCHAR)) AS user_pseudonym,
             event_type,
             CAST(floor(epoch_us(ts) / 1000000 / 3600) * 3600 AS BIGINT) AS hour_s,
             CAST(floor(value / 10) * 10 AS BIGINT) AS value_bin
      FROM events"""


def check_anon(con, out_dir, salt):
    """Run every anon_etl check; returns {release name: failure messages}."""
    res = {"order_lines": [], "events": [], "dp_histogram": []}
    ol_cols = ("customer_pseudonym, customer_masked, price_bin, ship_month, l_quantity, "
               "l_discount, nation_k, segment_k, acct_bin_k, order_month_k")
    ol = f"SELECT {ol_cols} FROM ({_release(out_dir, 'order_lines')})"
    a, b = multiset_diff(con, ol, f"SELECT {ol_cols} FROM ({order_lines_sql(salt)})")
    if a or b:
        res["order_lines"].append(f"re-derivation differs: {a} rows only in release, {b} only in DuckDB")
    small, partial = small_groups(con, ol, QUASI_IDS, K)
    if small or partial:
        res["order_lines"].append(f"{small} QI groups below k={K}, {partial} partly suppressed rows")
    ev_cols = "event_id, user_pseudonym, event_type, hour_s, value_bin"
    a, b = multiset_diff(con, f"SELECT {ev_cols} FROM ({_release(out_dir, 'events')})",
                         f"SELECT {ev_cols} FROM ({events_sql(salt)})")
    if a or b:
        res["events"].append(f"re-derivation differs: {a} rows only in release, {b} only in DuckDB")
    for name in res:
        rel = _release(out_dir, name)
        for col, typ, *_ in con.execute(f"DESCRIBE {rel}").fetchall():
            if typ != "VARCHAR":
                continue
            n = con.execute(f"SELECT count(*) FROM ({rel}) r WHERE r.{col} IN "
                            "(SELECT c_name FROM customer)").fetchone()[0]
            if n:
                res[name].append(f"{n} raw c_name values in column {col}")
    released = {(t, d): (e, dl, s, n) for t, d, e, dl, s, n in con.execute(
        f"SELECT event_type, day_s, epsilon, delta, sigma, noisy_n "
        f"FROM ({_release(out_dir, 'dp_histogram')})").fetchall()}
    true_counts = {(t, d): n for t, d, n in con.execute(
        "SELECT event_type, CAST(floor(epoch_us(ts) / 1000000 / 86400) * 86400 AS BIGINT) AS d, "
        "count(*) FROM events GROUP BY ALL").fetchall()}
    res["dp_histogram"] += dp_violations(released, true_counts, EPS, DELTA)
    suppressed = con.execute(f"SELECT count(*) FROM ({ol}) WHERE nation_k IS NULL").fetchone()[0]
    return res, {"order_lines_suppressed_rows": suppressed}
