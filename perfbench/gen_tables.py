"""Seeded generator of the query workloads' input tables.

Writes the ten parquet tables the registry queries read (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`), with the same
column names, types and value domains as the library's test data, at a
chosen scale factor. Every value is a hash of (table, row, column, seed),
so one seed always gives the same bytes of data, whatever DuckDB's thread
count.

    python3 perfbench/gen_tables.py OUT_DIR SEED SF
"""
import os
import sys

import duckdb

VOCAB = ("a the data spark query table column row key value hash join sort "
         "merge filter group agg scan batch stream window vector line part "
         "order customer small big fast slow").split()


def sizes(sf):
    return {
        "lineitem": int(6_000_000 * sf), "orders": int(1_500_000 * sf),
        "customer": int(150_000 * sf), "part": int(200_000 * sf),
        "supplier": max(10, int(10_000 * sf)), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate(out, seed, sf):
    n = sizes(sf)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")

    def u(t, c):
        # uniform [0, 1) from (table t, row i, column c, seed)
        return f"((hash(i, {t}, {c}, {seed}) % 1000000007) / 1000000007.0)"

    def pick(t, c, k):
        return f"(hash(i, {t}, {c}, {seed}) % {k})::BIGINT"

    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    tables = {
        "region": f"""SELECT i::INTEGER r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER n_nationkey, 'NATION_' || i n_name,
            (i % 5)::INTEGER n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey, printf('Customer#%09d', i) c_name,
            {pick(1, 1, 25)}::INTEGER c_nationkey,
            round(-999.99 + {u(1, 2)} * 10999.98, 2) c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][{pick(1, 3, 5)} + 1]
              c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, printf('Supplier#%09d', i) s_name,
            {pick(2, 1, 25)}::INTEGER s_nationkey,
            round(-999.99 + {u(2, 2)} * 10999.98, 2) s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            ['large','small','hot','cold','shiny','dull'][{pick(3, 1, 6)} + 1] || ' ' ||
              ['ring','bolt','nut','gear','pipe','valve'][{pick(3, 2, 6)} + 1] p_name,
            'Brand#' || ({pick(3, 3, 25)} + 1) p_brand,
            ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'][{pick(3, 4, 6)} + 1] p_type,
            ({pick(3, 5, 50)} + 1)::INTEGER p_size,
            round(900.0 + (i % 1000)::DOUBLE * 0.1, 2) p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey, {pick(4, 1, max(1, n['customer']))} o_custkey,
            ['O','F','P'][{pick(4, 2, 3)} + 1] o_orderstatus,
            round(1000.0 + {u(4, 3)} * 499000.0, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days({pick(4, 4, 2404)}::INTEGER) o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][{pick(4, 5, 5)} + 1]
              o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT {pick(5, 1, max(1, n['orders']))} l_orderkey,
            {pick(5, 2, max(1, n['part']))} l_partkey,
            {pick(5, 3, n['supplier'])} l_suppkey,
            ({pick(5, 4, 7)} + 1)::INTEGER l_linenumber,
            ({pick(5, 5, 50)} + 1)::DOUBLE l_quantity,
            round(900.0 + {u(5, 6)} * 104100.0, 2) l_extendedprice,
            {pick(5, 7, 11)} / 100.0 l_discount,
            {pick(5, 8, 9)} / 100.0 l_tax,
            ['A','N','R'][{pick(5, 9, 3)} + 1] l_returnflag,
            ['O','F'][{pick(5, 10, 2)} + 1] l_linestatus,
            TIMESTAMP '1995-01-02' + to_days({pick(5, 11, 2498)}::INTEGER) l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(({u(6, 1)} * 2592000000000)::BIGINT) ts,
            {pick(6, 2, 1500)} user_id,
            ['signup','click','error','view','purchase'][{pick(6, 3, 5)} + 1] event_type,
            round(-ln(1.0 - {u(6, 4)}) * 60.0, 2) AS value,
            '{{"k": ' || {pick(6, 5, 100)} || '}}' props
            FROM range({n['events']}) t(i) ORDER BY ts""",
        "documents": f"""SELECT i doc_id, text,
            ['en','en','en','en','es','es','zh','zh','de','de','fr','fr'][{pick(7, 1, 12)} + 1] lang,
            'src' || (i % 20) source, length(text)::BIGINT n_chars
            FROM (SELECT i, array_to_string(list_transform(range(10 + {pick(7, 2, 80)}),
                j -> {vocab}[(hash(i, j, 7, {seed}) % {len(VOCAB)})::BIGINT + 1]), ' ') AS text
              FROM range({n['documents']}) t(i))""",
        "embeddings": f"""SELECT i vec_id,
            list_transform(range(64), j -> ((hash(i, j, 8, {seed}) % 1000000007)
              / 1000000007.0 * 0.6 - 0.3)::FLOAT) AS embedding,
            {pick(8, 1, 10)}::INTEGER AS label
            FROM range({n['embeddings']}) t(i)""",
    }
    for name, sql in tables.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
