"""Independent answers for the benchmark's output checks, computed once per
run with DuckDB over the generated files (the style of tools/compare.py).

They never call graft: the as-of and latest-per-key semantics are written
out here as plain SQL window queries, so any graft as-of path can be
checked against them. Answers are written as Arrow IPC streams that the
measuring program digests with the same code it digests graft's results
with; scalar answers and parameters go to oracle.json.
"""
import json
import os

import duckdb
import pyarrow as pa

import gen


def _write_arrow(table, path):
    with pa.ipc.new_stream(path, table.schema) as w:
        w.write_table(table)


def _pit(con, data, out):
    p = gen.PIT
    us = 1_000_000
    con.execute(f"""
        CREATE TEMP TABLE e AS
        SELECT row_number() OVER () AS rid, driver_id, customer_id,
               event_timestamp, epoch_us(event_timestamp) AS ets
        FROM '{data}/entity.parquet'""")
    # latest row per entity row: greatest event ts, then the view's own
    # tie-break (seq for driver_stats, created ts for customer_profile)
    picks = {
        "a": f"""
            SELECT e.rid, d.seq, d.conv_rate, d.acc_rate, d.trips
            FROM e JOIN '{data}/driver_stats.parquet' d
              ON d.driver_id = e.driver_id
             AND epoch_us(d.event_timestamp) <= e.ets
             AND epoch_us(d.event_timestamp) >= e.ets - {p['driver_ttl_s'] * us}
            QUALIFY row_number() OVER (PARTITION BY e.rid
                ORDER BY d.event_timestamp DESC, d.seq DESC) = 1""",
        "b": f"""
            SELECT e.rid, c.avg_orders, c.tier
            FROM e JOIN '{data}/customer_profile.parquet' c
              ON c.customer_id = e.customer_id
             AND epoch_us(c.event_timestamp) <= e.ets
             AND epoch_us(c.event_timestamp) >= e.ets - {p['customer_ttl_s'] * us}
            QUALIFY row_number() OVER (PARTITION BY e.rid
                ORDER BY c.event_timestamp DESC, c.created DESC) = 1""",
        "g": f"""
            SELECT e.rid, g.total_trips, g.surge
            FROM e JOIN '{data}/global_stats.parquet' g
              ON epoch_us(g.event_timestamp) <= e.ets
             AND epoch_us(g.event_timestamp) >= e.ets - {p['global_ttl_s'] * us}
            QUALIFY row_number() OVER (PARTITION BY e.rid
                ORDER BY g.event_timestamp DESC) = 1""",
    }
    for name, sql in picks.items():
        con.execute(f"CREATE TEMP TABLE {name} AS {sql}")
    result = con.sql("""
        SELECT e.driver_id, e.customer_id, e.event_timestamp,
               a.seq AS driver_stats__seq,
               a.conv_rate AS driver_stats__conv_rate,
               a.acc_rate AS driver_stats__acc_rate,
               a.trips AS driver_stats__trips,
               b.avg_orders AS customer_profile__avg_orders,
               b.tier AS customer_profile__tier,
               g.total_trips AS global_stats__total_trips,
               g.surge AS global_stats__surge
        FROM e LEFT JOIN a USING (rid) LEFT JOIN b USING (rid)
               LEFT JOIN g USING (rid)""").arrow()
    _write_arrow(result, os.path.join(out, "pit.arrow"))
    matched = {n: con.sql(f"SELECT count(*) FROM {n}").fetchone()[0] for n in picks}
    return dict(entity_rows=result.num_rows,
                driver_stats_ttl_s=p["driver_ttl_s"],
                customer_profile_ttl_s=p["customer_ttl_s"],
                global_stats_ttl_s=p["global_ttl_s"],
                matched_rows={"driver_stats": matched["a"],
                              "customer_profile": matched["b"],
                              "global_stats": matched["g"]})


def _mat(con, data, out):
    p = gen.MAT
    w = p["days"]
    ends = ", ".join(f"({i}, {gen.T0_US + (i + 1) * gen.DAY})" for i in range(1, w + 1))
    con.execute(f"""
        CREATE TEMP TABLE t AS
        SELECT *, epoch_us(event_timestamp) AS ts FROM '{data}/trips.parquet'""")
    con.execute(f"CREATE TEMP TABLE ends AS SELECT * FROM (VALUES {ends}) v(w, end_us)")
    # keys upserted by each window: window 1 spans [t0, end_1] (ttl lookback),
    # later windows [end_{w-1}, end_w], both ends inclusive
    keys = con.sql(f"""
        SELECT n.w, count(DISTINCT t.driver_id)
        FROM ends n LEFT JOIN ends p ON p.w = n.w - 1
        JOIN t ON t.ts <= n.end_us AND t.ts >= coalesce(p.end_us, {gen.T0_US})
        GROUP BY n.w ORDER BY n.w""").fetchall()
    # state after window w: latest row per key among rows with ts <= end_w
    reads = con.sql(f"""
        WITH r AS (SELECT "window" AS w, driver_id, row_number() OVER () AS rid
                   FROM '{data}/reads.parquet'),
             k AS (SELECT DISTINCT w, driver_id FROM r),
             latest AS (
               SELECT k.w, t.* FROM k JOIN ends USING (w)
               JOIN t ON t.driver_id = k.driver_id AND t.ts <= ends.end_us
               QUALIFY row_number() OVER (PARTITION BY k.w, k.driver_id
                   ORDER BY t.event_timestamp DESC, t.created DESC) = 1)
        SELECT r.w AS "window", r.driver_id, l.fare, l.distance, l.rating,
               l.event_timestamp, l.created
        FROM r LEFT JOIN latest l USING (w, driver_id)""").arrow()
    _write_arrow(reads, os.path.join(out, "reads.arrow"))
    return dict(**_ann(), windows=w, t0_us=gen.T0_US, ttl_s=p["ttl_s"],
                keys_per_window=[int(c) for _, c in keys],
                read_hits=reads.num_rows - reads.column("event_timestamp").null_count)


def check_state(data, snapshot, window):
    """Compare the online store's final snapshot (a parquet directory) with
    the latest row per key among the rows with ts <= end of `window`.
    Returns None when they hold the same rows, else a description."""
    end_us = gen.T0_US + (window + 1) * gen.DAY
    cols = ("driver_id, fare, distance, rating, epoch_us(event_timestamp) AS ts, "
            "epoch_us(created) AS cr")
    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE TEMP TABLE want AS
            SELECT {cols} FROM '{data}/trips.parquet'
            WHERE epoch_us(event_timestamp) <= {end_us}
            QUALIFY row_number() OVER (PARTITION BY driver_id
                ORDER BY event_timestamp DESC, created DESC) = 1""")
        con.execute(f"CREATE TEMP TABLE got AS SELECT {cols} FROM '{snapshot}/*.parquet'")
        extra, missing, n = con.sql("""
            SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
                   (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
                   (SELECT count(*) FROM want)""").fetchone()
    finally:
        con.close()
    if extra == 0 and missing == 0:
        return None
    return (f"final store after window {window}: {extra} rows not in the oracle, "
            f"{missing} of its {n} rows missing")


def _ann():
    p = gen.ANN
    return dict(vectors=p["vectors"], dim=p["dim"], k=p["k"],
                recall_batch=p["recall_batch"], min_recall=p["min_recall"])


ORACLES = {"pit_training_set": _pit, "materialize_serve": _mat}


def compute(workload, data, out):
    """Write the workload's oracle answers into `out`; return oracle.json."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        params = ORACLES[workload](con, data, out)
    finally:
        con.close()
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(params, f)
    return params
