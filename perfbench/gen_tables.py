#!/usr/bin/env python3
"""Writes the TPC-H-style tables the headline operator rows read.

Usage: python3 perfbench/gen_tables.py <out_dir> <scale>

One Parquet file per table (region nation customer supplier part orders
lineitem events documents embeddings). Sizes follow the scale factor the
way the repo's test data does: lineitem has 6,000,000 x scale rows;
documents and embeddings stay at 500 rows. Every value is a hash of the
row id, so the same scale always gives the same bytes. Returns the row
count of each table.
"""
import os
import sys

import duckdb

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()


def generate(out_dir, scale):
    n_cust = round(150_000 * scale)
    n_supp = max(10, round(10_000 * scale))
    n_part = round(200_000 * scale)
    n_orders = round(1_500_000 * scale)
    n_line = round(6_000_000 * scale)
    n_events = round(1_000_000 * scale)
    n_users = max(15, n_events * 15 // 1000)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")  # row order, hence file bytes, fixed
    # u(i, k): uniform in [0, 1) from the row id and a stream number k < 1009.
    con.execute("CREATE MACRO u(i, k) AS hash(i * 1009 + k)::DOUBLE / 18446744073709551616.0")
    con.execute("CREATE MACRO pick(xs, i, k) AS xs[1 + floor(u(i, k) * len(xs))::INT]")
    words = "[" + ",".join(f"'{w}'" for w in WORDS) + "]"
    tables = {
        "region": """
            SELECT i::INT AS r_regionkey,
                   ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   floor(u(i, 1) * 25)::INT AS c_nationkey,
                   round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
                   pick(['MACHINERY','AUTOMOBILE','HOUSEHOLD','FURNITURE','BUILDING'], i, 3)
                     AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   floor(u(i, 11) * 25)::INT AS s_nationkey,
                   round(-999.99 + u(i, 12) * 10999.98, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   pick(['small','large','cold','hot','old','new','blue'], i, 21) || ' ' ||
                     pick(['widget','bolt','rod','ring','anvil','plate'], i, 22) AS p_name,
                   'Brand#' || (1 + floor(u(i, 23) * 25)::INT) AS p_brand,
                   pick(['ECONOMY','LARGE','STANDARD','MEDIUM','SMALL','PROMO'], i, 24) AS p_type,
                   (1 + floor(u(i, 25) * 50))::INT AS p_size,
                   round(900 + (i % 200) * 0.1, 1) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey, floor(u(i, 31) * {n_cust})::BIGINT AS o_custkey,
                   pick(['F','O','P'], i, 32) AS o_orderstatus,
                   round(1000 + u(i, 33) * 450000, 2) AS o_totalprice,
                   TIMESTAMP '1995-01-01' + to_days(floor(u(i, 34) * 2404)::INT) AS o_orderdate,
                   pick(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], i, 35)
                     AS o_orderpriority
            FROM range({n_orders}) t(i)""",
        "lineitem": f"""
            SELECT floor(u(i, 41) * {n_orders})::BIGINT AS l_orderkey,
                   floor(u(i, 42) * {n_part})::BIGINT AS l_partkey,
                   floor(u(i, 43) * {n_supp})::BIGINT AS l_suppkey,
                   (1 + floor(u(i, 44) * 7))::INT AS l_linenumber,
                   (1 + floor(u(i, 45) * 50))::DOUBLE AS l_quantity,
                   round((1 + floor(u(i, 45) * 50)) * (900 + u(i, 46) * 1200), 2) AS l_extendedprice,
                   floor(u(i, 47) * 11) / 100.0 AS l_discount,
                   floor(u(i, 48) * 9) / 100.0 AS l_tax,
                   pick(['A','N','R'], i, 49) AS l_returnflag,
                   pick(['O','F'], i, 50) AS l_linestatus,
                   TIMESTAMP '1995-01-02' + to_days(floor(u(i, 51) * 2498)::INT) AS l_shipdate
            FROM range({n_line}) t(i)""",
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                     floor((i + u(i, 61)) * 2592000000000.0 / {n_events})::BIGINT) AS ts,
                   floor(u(i, 62) * {n_users})::BIGINT AS user_id,
                   pick(['signup','click','error','purchase','view'], i, 63) AS event_type,
                   round(0.01 + u(i, 64) * 330, 2) AS value,
                   '{{"k": ' || floor(u(i, 65) * 100)::INT || '}}' AS props
            FROM range({n_events}) t(i)""",
        # Every twentieth document repeats an earlier one and appends "dup":
        # the near-duplicates the dedup rows look for.
        "documents": f"""
            WITH base AS (
              SELECT i, array_to_string(list_transform(range(8 + floor(u(i, 71) * 80)::INT),
                       j -> pick({words}, i * 1000 + j, 72)), ' ') AS body
              FROM range(500) t(i))
            SELECT b.i AS doc_id,
                   CASE WHEN b.i % 20 = 19 THEN o.body || ' dup' ELSE b.body END AS text,
                   pick(['en','en','en','es','zh','de','fr'], b.i, 73) AS lang,
                   'src' || floor(u(b.i, 74) * 20)::INT AS source
            FROM base b JOIN base o ON o.i = floor(u(b.i, 75) * b.i)::BIGINT
            ORDER BY doc_id""",
        # Unit vectors clustered around one centre per label.
        "embeddings": f"""
            WITH raw AS (
              SELECT i, floor(u(i, 81) * 10)::INT AS label,
                     list_transform(range(64), j ->
                       (u(floor(u(i, 81) * 10)::BIGINT * 64 + j, 82) - 0.5)
                       + 0.35 * (u(i * 64 + j, 83) - 0.5)) AS v
              FROM range(500) t(i))
            SELECT i AS vec_id,
                   list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
                     AS embedding,
                   label
            FROM raw ORDER BY vec_id""",
    }
    rows = {}
    for name, sql in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name == "documents":
            sql = f"SELECT *, length(text)::BIGINT AS n_chars FROM ({sql})"
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        rows[name] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    con.close()
    return rows


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))
