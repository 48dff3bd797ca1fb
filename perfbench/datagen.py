"""Deterministic benchmark tables, written as parquet inside the checkout.

The schemas and value domains are those of the engine's testdata (TPC-H-ish
star schema plus `events`, `documents`, `embeddings`); every column is a
hash of the row index, so a given scale always regenerates byte-identical
files. Scale 1 is the sf0.1 size (`lineitem` ~600k rows), scale 0.01 the
sf0.001 size used by the smoke test.

The data is fixed; workload seeds only choose SQL text and parameters.
"""

from __future__ import annotations

import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_VOCAB = ("['batch','part','spark','line','column','order','small','sort',"
          "'fast','value','scan','a','hash','slow','group','agg','filter',"
          "'query','big','key','window','row','table','stream','merge',"
          "'data','join','plan','page','disk','cache']")


def _h(i: str, salt: int, m: int) -> str:
    """SQL for a deterministic uniform integer in [0, m) keyed by `i`."""
    return f"CAST(hash({i} * 2654435761 + {salt}) % {m} AS BIGINT)"


def _sql(scale: float) -> dict[str, str]:
    n_cust, n_supp = int(15_000 * scale), int(1_000 * scale)
    n_part, n_orders = int(20_000 * scale), int(150_000 * scale)
    n_events, n_docs = int(100_000 * scale), int(5_000 * scale)
    n_vecs = int(2_000 * scale)
    line = "(ok * 8 + ln)"
    return {
        "region": """
SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'),
                      (3, 'EUROPE'), (4, 'MIDDLE EAST')) t(r_regionkey, r_name)
""",
        "nation": """
SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
       CAST(i % 5 AS INTEGER) AS n_regionkey
FROM range(25) t(i)
""",
        "customer": f"""
SELECT i AS c_custkey,
       'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
       CAST({_h('i', 1, 25)} AS INTEGER) AS c_nationkey,
       ROUND(-999.99 + {_h('i', 2, 1100000)} / 100.0, 2) AS c_acctbal,
       ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
        'MACHINERY'][CAST({_h('i', 3, 5)} AS INTEGER) + 1] AS c_mktsegment
FROM range({n_cust}) t(i)
""",
        "supplier": f"""
SELECT i AS s_suppkey,
       'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
       CAST({_h('i', 4, 25)} AS INTEGER) AS s_nationkey,
       ROUND(-999.99 + {_h('i', 5, 1100000)} / 100.0, 2) AS s_acctbal
FROM range({n_supp}) t(i)
""",
        "part": f"""
SELECT i AS p_partkey,
       ['small', 'large', 'hot', 'cold', 'old', 'new', 'blue',
        'red'][CAST({_h('i', 6, 8)} AS INTEGER) + 1] || ' ' ||
       ['ring', 'bolt', 'plate', 'screw', 'gear',
        'pin'][CAST({_h('i', 7, 6)} AS INTEGER) + 1] AS p_name,
       'Brand#' || (1 + {_h('i', 8, 25)}) AS p_brand,
       ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
        'STANDARD'][CAST({_h('i', 9, 6)} AS INTEGER) + 1] AS p_type,
       CAST(1 + {_h('i', 10, 50)} AS INTEGER) AS p_size,
       ROUND(100.0 + {_h('i', 11, 190000)} / 100.0, 2) AS p_retailprice
FROM range({n_part}) t(i)
""",
        "orders": f"""
SELECT i AS o_orderkey,
       {_h('i', 12, n_cust)} AS o_custkey,
       ['O', 'F', 'P'][CASE WHEN {_h('i', 13, 100)} < 48 THEN 1
                            WHEN {_h('i', 13, 100)} < 97 THEN 2
                            ELSE 3 END] AS o_orderstatus,
       ROUND(1000.0 + {_h('i', 14, 45000000)} / 100.0, 2) AS o_totalprice,
       TIMESTAMP '1995-01-01'
           + INTERVAL (CAST({_h('i', 15, 2404)} AS INTEGER)) DAY
           AS o_orderdate,
       ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
        '5-LOW'][CAST({_h('i', 16, 5)} AS INTEGER) + 1] AS o_orderpriority
FROM range({n_orders}) t(i)
""",
        # ~4 lines per order (1..7)
        "lineitem": f"""
WITH o AS (SELECT i AS ok, {_h('i', 15, 2404)} AS odate_off,
                  1 + {_h('i', 17, 7)} AS nlines
           FROM range({n_orders}) t(i)),
l AS (SELECT ok, odate_off, ln
      FROM o, LATERAL (SELECT unnest(range(1, CAST(nlines AS INTEGER) + 1))
                       AS ln))
SELECT ok AS l_orderkey,
       {_h(line, 18, n_part)} AS l_partkey,
       {_h(line, 19, n_supp)} AS l_suppkey,
       CAST(ln AS INTEGER) AS l_linenumber,
       CAST(1 + {_h(line, 20, 50)} AS DOUBLE) AS l_quantity,
       ROUND(900.0 + {_h(line, 21, 9500000)} / 100.0, 2) AS l_extendedprice,
       ROUND({_h(line, 22, 11)} / 100.0, 2) AS l_discount,
       ROUND({_h(line, 23, 9)} / 100.0, 2) AS l_tax,
       ['A', 'N', 'R'][CAST({_h(line, 24, 3)} AS INTEGER) + 1] AS l_returnflag,
       ['O', 'F'][CAST({_h(line, 25, 2)} AS INTEGER) + 1] AS l_linestatus,
       TIMESTAMP '1995-01-01'
           + INTERVAL (CAST(odate_off AS INTEGER)) DAY
           + INTERVAL (CAST(1 + {_h(line, 26, 120)} AS INTEGER)) DAY
           AS l_shipdate
FROM l
ORDER BY l_orderkey, l_linenumber
""",
        "events": f"""
SELECT i AS event_id,
       TIMESTAMP '2024-01-01'
           + INTERVAL (CAST(i * ({30 * 86400000} / {n_events}) AS BIGINT)
                       + CAST({_h('i', 27, 2000)} AS INTEGER)) MILLISECOND
           AS ts,
       {_h('i', 28, max(1, 15 * n_events // 100))} AS user_id,
       ['view', 'click', 'purchase', 'signup',
        'error'][CASE WHEN {_h('i', 29, 100)} < 45 THEN 1
                      WHEN {_h('i', 29, 100)} < 75 THEN 2
                      WHEN {_h('i', 29, 100)} < 85 THEN 3
                      WHEN {_h('i', 29, 100)} < 93 THEN 4
                      ELSE 5 END] AS event_type,
       ROUND({_h('i', 30, 56021)} / 100.0, 2) AS value,
       '{{"k": ' || {_h('i', 31, 100)} || '}}' AS props
FROM range({n_events}) t(i)
""",
        # ~1.6/1000 exact duplicates (shared seed) so dedup has work to do
        "documents": f"""
WITH d AS (
  SELECT i, CASE WHEN {_h('i', 32, 625)} < 1 THEN 42 ELSE i END AS seed,
         40 + {_h('i', 33, 21)} AS nwords
  FROM range({n_docs}) t(i)),
txt AS (
  SELECT i, list_aggregate(
           list_transform(range(1, CAST(nwords AS INTEGER) + 1),
             w -> {_VOCAB}[CAST(hash(seed * 31 + w * 2654435761) % 31
                                AS INTEGER) + 1]),
           'string_agg', ' ') AS text
  FROM d)
SELECT i AS doc_id, text,
       ['en', 'en', 'zh', 'es', 'fr', 'de',
        'en'][CAST({_h('i', 34, 7)} AS INTEGER) + 1] AS lang,
       'src' || {_h('i', 35, 20)} AS source,
       length(text) AS n_chars
FROM txt ORDER BY doc_id
""",
        # 64-dim vectors in 10 label-centred clusters
        "embeddings": f"""
WITH v AS (SELECT i, CAST({_h('i', 36, 10)} AS INTEGER) AS label
           FROM range({n_vecs}) t(i))
SELECT i AS vec_id,
       list_transform(range(64), d -> CAST(
           sin(label * 37 + d * 13)
           + (CAST(hash(i * 64 + d) % 1000 AS DOUBLE) / 1000.0 - 0.5) * 0.6
           AS FLOAT)) AS embedding,
       label
FROM v ORDER BY vec_id
""",
    }


def ensure(root: str, scale: float) -> str:
    """Write the tables for `scale` under `root` once; returns their dir."""
    out = os.path.join(root, f"data_scale{scale:g}")
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return out
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    for name, sql in _sql(scale).items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
    with open(done, "w") as fh:
        fh.write("ok\n")
    return out
