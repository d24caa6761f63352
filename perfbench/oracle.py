"""Output checks: every answer the program gave is recomputed from the
raw events with DuckDB, independently of the Spark code paths."""
import json

import duckdb

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS
CENTS = "CAST(round(value*100) AS BIGINT)"


def connect(events_parquet):
    """A DuckDB connection with the `events` table."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE events AS SELECT * FROM read_parquet('{events_parquet}')")
    return con


def _bounds(con, route, rng):
    if rng != "d":
        lo, hi = rng.split(",")
        return int(lo), int(hi)
    anchor = con.execute("SELECT epoch_ms(max(ts)) FROM events").fetchone()[0]
    return anchor - (3 * DAY_MS if route == "distinct_exact" else HOUR_MS), anchor


def _quantile_sql(tenant_filter, lo, hi, pcts, per, bucket, edge, rid, suffix):
    cols = ", ".join(f"(SELECT est FROM sel WHERE p = {p}) AS p{p}_cents{suffix}" for p in pcts)
    vals = ", ".join(f"({p})" for p in pcts)
    return f"""
      WITH f AS (SELECT {CENTS} AS v FROM events
                 WHERE {tenant_filter}
                   AND epoch_ms(date_trunc('minute', ts)) < {hi}
                   AND epoch_ms(date_trunc('minute', ts)) + 60000 > {lo}),
      h AS (SELECT {bucket} AS b, count(*) AS c FROM f GROUP BY 1),
      t AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS n FROM h),
      cum AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM h),
      sel AS (SELECT p.p, CAST(min({edge}) AS BIGINT) AS est
              FROM cum CROSS JOIN t CROSS JOIN (VALUES {vals}) AS p(p)
              WHERE cum.cum * {per} >= p.p * t.n GROUP BY 1)
      SELECT '{rid}' AS restaurant_id, {lo} AS from_ms, {hi} AS to_ms, t.n, {cols} FROM t"""


def serving_sql(con, key):
    """The DuckDB recompute of one API answer."""
    route, tenant, rng, k = key.split("|")
    k = int(k)
    lo, hi = _bounds(con, route, rng)
    tf = "TRUE" if tenant == "all" else f"event_type = '{tenant}'"
    if route.startswith("topk"):
        by_rev = route == "topk_revenue"
        order = ("total_cents DESC, order_count DESC, user_id ASC" if by_rev
                 else "order_count DESC, total_cents DESC, user_id ASC")
        ranked = f"""
          SELECT '{tenant}' AS restaurant_id, window_start_ms,
            window_start_ms + {HOUR_MS} AS window_end_ms, rnk AS rank,
            user_id, order_count, total_cents FROM (
            SELECT window_start_ms, user_id, order_count, total_cents,
              row_number() OVER (PARTITION BY window_start_ms ORDER BY {order}) AS rnk
            FROM (SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, user_id,
                    count(*) AS order_count, CAST(SUM({CENTS}) AS BIGINT) AS total_cents
                  FROM events WHERE {tf} GROUP BY 1, 2))
          WHERE rnk <= {k} AND window_start_ms < {hi} AND window_start_ms + {HOUR_MS} > {lo}"""
        if by_rev:
            return (f"SELECT * FROM ({ranked}) ORDER BY total_cents DESC, "
                    f"window_end_ms DESC, user_id ASC LIMIT {k}")
        return ranked
    if route in ("distinct", "distinct_exact"):
        unit, width = ("minute", 60000) if route == "distinct" else ("day", DAY_MS)
        return f"""
          SELECT '{tenant}' AS restaurant_id, {lo} AS from_ms, {hi} AS to_ms,
            count(DISTINCT user_id) AS distinct_users FROM events
          WHERE {tf} AND epoch_ms(date_trunc('{unit}', ts)) < {hi}
            AND epoch_ms(date_trunc('{unit}', ts)) + {width} > {lo}"""
    if route == "percentiles":
        return _quantile_sql(tf, lo, hi, (50, 90, 99), 100, "v // 100", "cum.b * 100",
                             tenant, "")
    if route == "quantile":
        return _quantile_sql(tf, lo, hi, (125, 375, 975), 1000, "v", "cum.b", tenant, "")
    if route == "quantile_approx":
        bucket = ("CASE WHEN v < 16 THEN v "
                  "ELSE ((length(bin(v))-5)*16 + (v >> (length(bin(v))-5))) END")
        edge = ("CASE WHEN cum.b < 16 THEN cum.b ELSE (cum.b - (cum.b//16 - 1)*16) "
                "* (CAST(1 AS BIGINT) << (cum.b//16 - 1)) END")
        return _quantile_sql(tf, lo, hi, (125, 975), 1000, bucket, edge, tenant, "_est")
    raise ValueError(route)


def _same(cols_a, rows_a, cols_b, rows_b):
    """Equal as sets of rows (column-name-sorted), exact values."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    order_a = [cols_a.index(c) for c in sorted(cols_a)]
    order_b = [cols_b.index(c) for c in sorted(cols_b)]
    key = lambda r: tuple((x is None, x) for x in r)
    a = sorted((tuple(r[i] for i in order_a) for r in rows_a), key=key)
    b = sorted((tuple(r[i] for i in order_b) for r in rows_b), key=key)
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    for x, y in zip(a, b):
        if x != y:
            return f"row {x} vs {y}"
    return None


def check_answers(con, answers_path):
    """Every recorded API answer equals its recompute. Returns
    (keys checked, failure messages)."""
    fails, n = [], 0
    with open(answers_path) as f:
        for line in f:
            ans = json.loads(line)
            n += 1
            cur = con.execute(serving_sql(con, ans["key"]))
            cols = [d[0] for d in cur.description]
            diff = _same(ans["cols"], ans["rows"], cols, cur.fetchall())
            if diff:
                fails.append(f"{ans['key']}: {diff}")
    return n, fails


def check_ingest(facts, expected_path, k=5):
    """The pipeline's sinks: the raw sinks hold exactly the deduplicated
    events, the raw sink's top users equal the generator's tally, and
    the top-K table equals a re-rank of the raw sink."""
    with open(expected_path) as f:
        exp = json.load(f)
    raw = f"read_parquet('{facts['raw_dir']}/*/*.parquet')"
    con = duckdb.connect()
    fails = []
    sinks = [("raw", facts["raw_dir"], exp["raw_rows"])] + [
        (f"burst {i} raw", path, want) for i, (path, want) in
        enumerate(zip(facts["burst_raw_dirs"].split(","), exp["burst_rows"]))]
    for name, path, want in sinks:
        got = con.execute(f"SELECT count(*) FROM read_parquet('{path}/*/*.parquet')").fetchone()[0]
        if got != want:
            fails.append(f"{name} sink holds {got} rows, expected {want}")
    top = con.execute(f"""
      SELECT user_id, count(*) AS order_count, CAST(sum(value_cents) AS BIGINT) AS total_cents
      FROM {raw} GROUP BY 1 ORDER BY order_count DESC, total_cents DESC, user_id LIMIT 10""")
    rows = [list(r) for r in top.fetchall()]
    tally = exp["top_users"]
    order = [tally["cols"].index(c) for c in ("user_id", "order_count", "total_cents")]
    if rows != [[r[i] for i in order] for r in tally["rows"]]:
        fails.append(f"raw sink top users {rows} != generator tally {tally['rows']}")
    ranked = con.execute(f"""
      SELECT window_start_ms, event_type, order_count, sum_value_cents, rnk AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY window_start_ms
            ORDER BY order_count DESC, sum_value_cents DESC, event_type ASC) AS rnk
        FROM (SELECT epoch_ms(date_trunc('minute', ts)) AS window_start_ms, event_type,
                count(*) AS order_count, CAST(sum(value_cents) AS BIGINT) AS sum_value_cents
              FROM {raw} GROUP BY 1, 2))
      WHERE rnk <= {k}""")
    exp_cols = [d[0] for d in ranked.description]
    exp_rows = ranked.fetchall()
    got = con.execute("SELECT window_start_ms, event_type, order_count, sum_value_cents, rank "
                      f"FROM read_parquet('{facts['topk_dir']}/*/*.parquet')")
    diff = _same([d[0] for d in got.description], got.fetchall(), exp_cols, exp_rows)
    if diff:
        fails.append(f"top-K table: {diff}")
    return fails
