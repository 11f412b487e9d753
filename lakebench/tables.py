"""Seeded generator of the registry workload's tables at sf0.1.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
types, row counts and value domains of the engine's sf0.1 test tables
(TPC-H-like star schema, a 30-day `events` stream, a 31-word-vocabulary
`documents` corpus and 64-dimension `embeddings`). Every value is a hash of
(row, column, seed), so one seed always gives the same tables.

Usage: python3 lakebench/tables.py <out_dir> <seed>
"""
import os
import sys

import duckdb

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _list(xs):
    return "[" + ", ".join("'%s'" % x for x in xs) + "]"


def tables(seed: int) -> dict:
    """SQL of each table; `h(i, k)` is a seeded 64-bit hash of row i, column k."""
    def pick(xs, k, i="i"):
        return "%s[1 + (h(%s, %d) %% %d)::INT]" % (_list(xs), i, k, len(xs))

    def money(k, lo_cents, span_cents):
        return "((%d + h(i, %d) %% %d) / 100.0)::DOUBLE" % (lo_cents, k, span_cents)

    return {
        "region": """SELECT i::INT AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INT AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            (h(i, 1) % 25)::INT AS c_nationkey, {money(2, -99999, 1099999)} AS c_acctbal,
            {pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 3)} AS c_mktsegment
            FROM range(15000) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            (h(i, 1) % 25)::INT AS s_nationkey, {money(2, -99999, 1099999)} AS s_acctbal
            FROM range(1000) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            {pick(['blue', 'old', 'red', 'large', 'hot', 'cold', 'small', 'new'], 1)} || ' ' ||
            {pick(['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'rod', 'anvil'], 2)} AS p_name,
            'Brand#' || (1 + h(i, 3) % 25) AS p_brand,
            {pick(['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'], 4)} AS p_type,
            (1 + h(i, 5) % 50)::INT AS p_size, {money(6, 90000, 10000)} AS p_retailprice
            FROM range(20000) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey, (h(i, 1) % 15000)::BIGINT AS o_custkey,
            {pick(['O', 'F', 'P'], 2)} AS o_orderstatus, {money(3, 100000, 49900000)} AS o_totalprice,
            (TIMESTAMP '1995-01-01' + INTERVAL (h(i, 4) % 2404) DAY) AS o_orderdate,
            {pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 5)} AS o_orderpriority
            FROM range(150000) t(i)""",
        "lineitem": f"""SELECT (h(i, 1) % 150000)::BIGINT AS l_orderkey,
            (h(i, 2) % 20000)::BIGINT AS l_partkey, (h(i, 3) % 1000)::BIGINT AS l_suppkey,
            (1 + h(i, 4) % 7)::INT AS l_linenumber, (1 + h(i, 5) % 50)::DOUBLE AS l_quantity,
            {money(6, 90000, 10410000)} AS l_extendedprice,
            ((h(i, 7) % 11) / 100.0)::DOUBLE AS l_discount, ((h(i, 8) % 9) / 100.0)::DOUBLE AS l_tax,
            {pick(['A', 'N', 'R'], 9)} AS l_returnflag, {pick(['O', 'F'], 10)} AS l_linestatus,
            (TIMESTAMP '1995-01-02' + INTERVAL (h(i, 11) % 2498) DAY) AS l_shipdate
            FROM range(600000) t(i)""",
        "events": f"""SELECT i::BIGINT AS event_id,
            (TIMESTAMP '2024-01-01' + to_microseconds((h(i, 1) % 2592000000000)::BIGINT)) AS ts,
            (h(i, 2) % 1500)::BIGINT AS user_id,
            {pick(['click', 'view', 'signup', 'purchase', 'error'], 3)} AS event_type,
            ((h(i, 4) % 56022) / 100.0)::DOUBLE AS value,
            '{{"k": ' || (h(i, 5) % 100) || '}}' AS props
            FROM range(100000) t(i)""",
        "documents": f"""SELECT i::BIGINT AS doc_id, text,
            CASE WHEN b < 8 THEN 'en' WHEN b < 11 THEN 'zh' WHEN b < 14 THEN 'es'
                 WHEN b < 17 THEN 'de' ELSE 'fr' END AS lang,
            'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
            FROM (SELECT i, h(i, 1) % 20 AS b,
                  array_to_string(list_transform(range(10 + (h(i, 3) % 91)::BIGINT),
                      j -> {_list(VOCAB)}[1 + (h(i * 1000 + j, 2) % 31)::INT]), ' ') AS text
                  FROM range(5000) t(i))""",
        "embeddings": """SELECT i::BIGINT AS vec_id,
            list_transform(range(64),
                j -> (((h(i * 64 + j, 1) % 2001)::INT - 1000) / 2500.0)::FLOAT) AS embedding,
            (h(i, 2) % 10)::INT AS label
            FROM range(2000) t(i)""",
    }


# No query of the registry subset reads lineitem, the largest table.
SKIPPED = {"lineitem"}


def generate(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE MACRO h(i, k) AS hash(i, k, {int(seed)})")
    for name, sql in tables(seed).items():
        if name in SKIPPED:
            continue
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT parquet)")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
