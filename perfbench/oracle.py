#!/usr/bin/env python3
"""DuckDB answers for the serving endpoints, for every day.

Usage: python3 oracle.py <data_dir> <out.json>

Writes {"gmv": {day: amount}, "province": {day: {name: amount}},
"gmv_dws": ..., "province_dws": ...} with days as yyyyMMdd. The fact
endpoints sum orders of the day (DECIMAL(18,2), then DOUBLE); the DWS
endpoints roll up the 10 s province order windows (the q54 pipeline:
latest version per (order, sku), 10 s windows per province) of the day.
"""
import json
import sys

import duckdb

FACT = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS d,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
FROM orders GROUP BY 1"""

FACT_PROVINCE = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS d, n_name AS name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2"""

WINDOWS = """
WITH o AS (
  SELECT event_id, user_id AS order_id, value, CAST(ts AS TIMESTAMP) AS ts,
         CAST(json_extract_string(props, '$.k') AS INT) AS sku_num
  FROM events WHERE event_type = 'purchase'),
d AS (SELECT *, row_number() OVER (PARTITION BY order_id, sku_num
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM o),
w AS (SELECT time_bucket(INTERVAL '10 seconds', ts) AS ws,
             order_id % 25 AS province_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
      FROM d WHERE rn = 1 GROUP BY 1, 2)
SELECT strftime(ws, '%Y%m%d') AS d, n_name AS name, order_amount
FROM w JOIN nation ON province_id = n_nationkey"""


def main():
    data, out = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["orders", "customer", "nation", "events"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    res = {"gmv": {}, "province": {}, "gmv_dws": {}, "province_dws": {}}
    for d, v in con.execute(FACT).fetchall():
        res["gmv"][d] = v
    for d, name, v in con.execute(FACT_PROVINCE).fetchall():
        res["province"].setdefault(d, {})[name] = v
    con.execute(f"CREATE TABLE w AS {WINDOWS}")
    for d, v in con.execute("SELECT d, SUM(order_amount) FROM w GROUP BY 1").fetchall():
        res["gmv_dws"][d] = v
    for d, name, v in con.execute(
            "SELECT d, name, CAST(SUM(order_amount) AS DOUBLE) FROM w GROUP BY 1, 2").fetchall():
        res["province_dws"].setdefault(d, {})[name] = v
    with open(out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
