"""Seeded input tables for the query_mix workload.

Writes the ten tables that the declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
one parquet file each, with the column names and parquet types of the
fixtures described in FIXTURES.md. Every value is a hash of (seed, row,
column), so the same seed writes the same rows. Value domains follow the
fixtures' (for example 5 market segments, 30 days of events, 64-dimensional
unit embeddings in 10 labelled clusters). Row counts are those of the
fixtures at scale factor 0.002 for the scaled tables; documents and
embeddings have 500 rows, as in the fixtures at every scale.

Usage: python3 perfbench/tables.py <out dir> <seed>
"""
import os
import sys

SCALE = 0.002
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# one table per statement; {u(k)} is a uniform double in [0, 1) drawn from
# (seed, table, row i, salt k)
SQL = {
    "region": """
SELECT i::INTEGER AS r_regionkey,
       ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
FROM range(5) t(i)""",
    "nation": """
SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
       (i % 5)::INTEGER AS n_regionkey
FROM range(25) t(i)""",
    "customer": """
SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
       floor({u1} * 25)::INTEGER AS c_nationkey,
       round(-999.99 + {u2} * 10999.98, 2) AS c_acctbal,
       ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][1 + floor({u3} * 5)::INTEGER] AS c_mktsegment
FROM range({customer}) t(i)""",
    "supplier": """
SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
       floor({u1} * 25)::INTEGER AS s_nationkey,
       round(-999.99 + {u2} * 10999.98, 2) AS s_acctbal
FROM range({supplier}) t(i)""",
    "part": """
SELECT i::BIGINT AS p_partkey,
       ['cold', 'small', 'large', 'red', 'hot', 'old', 'blue', 'new'][1 + floor({u1} * 8)::INTEGER]
         || ' ' || ['widget', 'bolt', 'plate', 'ring', 'rod', 'gizmo', 'gear', 'anvil'][1 + floor({u2} * 8)::INTEGER] AS p_name,
       'Brand#' || (1 + floor({u3} * 25)::INTEGER) AS p_brand,
       ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'][1 + floor({u4} * 6)::INTEGER] AS p_type,
       (1 + floor({u5} * 50))::INTEGER AS p_size,
       round(900 + (i % 200) * 0.1, 2)::DOUBLE AS p_retailprice
FROM range({part}) t(i)""",
    "orders": """
SELECT i::BIGINT AS o_orderkey, floor({u1} * {customer})::BIGINT AS o_custkey,
       ['F', 'O', 'P'][1 + floor({u2} * 3)::INTEGER] AS o_orderstatus,
       round(1000 + {u3} * 499000, 2) AS o_totalprice,
       TIMESTAMP '1995-01-01' + to_days(floor({u4} * 2404)::INTEGER) AS o_orderdate,
       ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][1 + floor({u5} * 5)::INTEGER] AS o_orderpriority
FROM range({orders}) t(i)""",
    "lineitem": """
SELECT floor({u1} * {orders})::BIGINT AS l_orderkey,
       floor({u2} * {part})::BIGINT AS l_partkey,
       floor({u3} * {supplier})::BIGINT AS l_suppkey,
       (1 + floor({u4} * 7))::INTEGER AS l_linenumber,
       (1 + floor({u5} * 50))::DOUBLE AS l_quantity,
       round(900 + {u6} * 104100, 2) AS l_extendedprice,
       round({u7} * 0.1, 2) AS l_discount,
       round({u8} * 0.08, 2) AS l_tax,
       ['A', 'N', 'R'][1 + floor({u9} * 3)::INTEGER] AS l_returnflag,
       ['F', 'O'][1 + floor({u10} * 2)::INTEGER] AS l_linestatus,
       TIMESTAMP '1995-01-02' + to_days(floor({u11} * 2498)::INTEGER) AS l_shipdate
FROM range({lineitem}) t(i)""",
    # ts rises with event_id over 30 days, as in the fixture
    "events": """
SELECT i::BIGINT AS event_id,
       TIMESTAMP '2024-01-01' + to_microseconds(floor((i + {u1}) * 2592000000000 / {events})::BIGINT) AS ts,
       floor({u2} * {users})::BIGINT AS user_id,
       ['click', 'error', 'purchase', 'signup', 'view'][1 + floor({u3} * 5)::INTEGER] AS event_type,
       greatest(0.01, round(-50 * ln(1 - {u4}), 2)) AS value,
       '{{"k": ' || floor({u5} * 100)::INTEGER || '}}' AS props
FROM range({events}) t(i)""",
    # 31-word vocabulary; one document in 20 repeats an earlier one exactly
    # and one in 20 repeats it with its last word changed (near duplicates)
    "documents": """
WITH base AS (
  SELECT i, array_to_string(list_transform(range(8 + floor({u1} * 92)::INTEGER),
           j -> ['a', 'agg', 'batch', 'big', 'column', 'customer', 'data', 'dup', 'fast',
                 'filter', 'group', 'hash', 'join', 'key', 'line', 'merge', 'order', 'part',
                 'query', 'row', 'scan', 'slow', 'small', 'sort', 'spark', 'stream', 'table',
                 'the', 'value', 'vector', 'window'][1 + (hash({seed}, i, j) % 31)::INTEGER]), ' ') AS text,
         {u2} AS u_kind, floor({u3} * greatest(i, 1))::BIGINT AS src_doc
  FROM range(500) t(i)),
docs AS (
  SELECT b.i,
         CASE WHEN b.i > 0 AND b.u_kind < 0.05 THEN s.text
              WHEN b.i > 0 AND b.u_kind < 0.10 THEN regexp_replace(s.text, '[a-z]+$', 'dup')
              ELSE b.text END AS text
  FROM base b JOIN base s ON s.i = b.src_doc)
SELECT i::BIGINT AS doc_id, text,
       CASE WHEN {u4} < 0.44 THEN 'en'
            ELSE ['de', 'es', 'fr', 'zh'][1 + floor({u5} * 4)::INTEGER] END AS lang,
       'src' || (i % 20) AS source,
       length(text)::BIGINT AS n_chars
FROM docs ORDER BY i""",
    # 10 labelled clusters of 64-dimensional unit vectors
    "embeddings": """
WITH lab AS (SELECT i, floor({u1} * 10)::INTEGER AS label FROM range(500) t(i)),
raw AS (
  SELECT i, label,
         list_transform(range(64), d ->
           sqrt(-2 * ln(1 - (hash({seed}, label, d, 1) % 1000000007) / 1000000007.0))
             * cos(2 * pi() * (hash({seed}, label, d, 2) % 1000000007) / 1000000007.0)
           + 0.6 * sqrt(-2 * ln(1 - (hash({seed}, i, d, 3) % 1000000007) / 1000000007.0))
             * cos(2 * pi() * (hash({seed}, i, d, 4) % 1000000007) / 1000000007.0)) AS v
  FROM lab)
SELECT i::BIGINT AS vec_id,
       list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
       label
FROM raw ORDER BY i""",
}


def rows():
    n = {t: max(1, round(base * SCALE)) for t, base in (
        ("customer", 150000), ("supplier", 10000), ("part", 200000),
        ("orders", 1500000), ("lineitem", 6000000), ("events", 1000000),
        ("users", 15000))}
    return n


def statement(table, seed):
    u = {f"u{k}": f"((hash({seed}, '{table}', i, {k}) % 1000000007) / 1000000007.0)"
         for k in range(1, 12)}
    return SQL[table].format(seed=seed, **u, **rows())


def generate(out, seed):
    import duckdb
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in TABLES:
        path = os.path.join(out, f"{t}.parquet")
        con.execute(f"COPY ({statement(t, seed)}) TO '{path}' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
