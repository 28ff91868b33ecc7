"""Seeded synthetic warehouse for the benchmark, written with DuckDB.

The TPC-H-style star schema plus the `events`, `documents` and `embeddings`
tables the engine's queries read, with the column names, types and value
domains of the engine's parquet fixtures. Every value is a hash of (seed,
row, column), so a seed always gives the same tables. Each table is one
parquet file, `<dir>/<name>.parquet`, like the fixtures.

    python3 perfbench/datagen.py DIR SEED SF [TABLE ...]
"""
import sys

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]


def lst(xs):
    return "[" + ", ".join("'%s'" % x for x in xs) + "]"


def tables(seed, sf):
    n = {k: max(1, round(v * sf)) for k, v in dict(
        customer=150000, supplier=10000, part=200000, orders=1500000,
        lineitem=6000000, events=1000000, documents=50000, embeddings=20000).items()}

    def u(salt, m, i="i"):  # uniform integer in [0, m) for column `salt` of row i
        return f"CAST(hash({i}, {seed}, {salt}) % {m} AS BIGINT)"

    def pick(salt, xs):
        return f"list_element({lst(xs)}, CAST({u(salt, len(xs))} + 1 AS INTEGER))"

    def cents(salt, lo, hi):
        return f"CAST({u(salt, hi - lo + 1)} + ({lo}) AS DOUBLE) / 100"

    def day(salt, start, days):
        return f"CAST(DATE '{start}' + CAST({u(salt, days)} AS INTEGER) AS TIMESTAMP)"

    near = "(i % 20 = 19 AND i >= 20)"
    cid = f"CASE WHEN {near} THEN i - 1 - {u(1, 18)} ELSE i END"
    words = (f"array_to_string(list_transform(range(CAST({u(2, 91, 'cid')} + 10 AS INTEGER)), "
             f"j -> list_element({lst(VOCAB)}, CAST(hash(cid, {seed}, j + 1) % {len(VOCAB)} + 1 "
             f"AS INTEGER))), ' ')")
    return {
        "region": "SELECT CAST(i AS INTEGER) AS r_regionkey, list_element("
                  "['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'], CAST(i + 1 AS INTEGER)) "
                  "AS r_name FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
                  "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
            CAST({u(1, 25)} AS INTEGER) AS c_nationkey, {cents(2, -99985, 999980)} AS c_acctbal,
            {pick(3, ['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING', 'FURNITURE'])}
              AS c_mktsegment FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
            CAST({u(1, 25)} AS INTEGER) AS s_nationkey, {cents(2, -97602, 998803)} AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {pick(1, ['blue', 'cold', 'hot', 'red', 'small', 'new', 'old', 'large'])} || ' ' ||
            {pick(2, ['ring', 'plate', 'gear', 'rod', 'bolt', 'anvil', 'widget', 'gizmo'])} AS p_name,
            'Brand#' || ({u(3, 25)} + 1) AS p_brand,
            {pick(4, ['LARGE', 'MEDIUM', 'ECONOMY', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            CAST({u(5, 50)} + 1 AS INTEGER) AS p_size, 900 + CAST(i % 1000 AS DOUBLE) / 10
              AS p_retailprice FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, {u(1, n['customer'])} AS o_custkey,
            {pick(2, ['F', 'O', 'P'])} AS o_orderstatus, {cents(3, 100191, 49999318)} AS o_totalprice,
            {day(4, '1995-01-01', 2405)} AS o_orderdate,
            {pick(5, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
              AS o_orderpriority FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT {u(1, n['orders'])} AS l_orderkey, {u(2, n['part'])} AS l_partkey,
            {u(3, n['supplier'])} AS l_suppkey, CAST({u(4, 7)} + 1 AS INTEGER) AS l_linenumber,
            CAST({u(5, 50)} + 1 AS DOUBLE) AS l_quantity, {cents(6, 90068, 10499991)}
              AS l_extendedprice, CAST({u(7, 11)} AS DOUBLE) / 100 AS l_discount,
            CAST({u(8, 9)} AS DOUBLE) / 100 AS l_tax, {pick(9, ['N', 'R', 'A'])} AS l_returnflag,
            {pick(10, ['F', 'O'])} AS l_linestatus, {day(11, '1995-01-02', 2499)} AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds({u(1, 30 * 86400 * 1000000)}) AS ts,
            {u(2, 1500)} AS user_id,
            {pick(3, ['signup', 'purchase', 'view', 'click', 'error'])} AS event_type,
            {cents(4, 0, 56021)} AS value, '{{"k": ' || {u(5, 100)} || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # every 20th doc is a near-copy of an earlier one plus the token `dup`
        "documents": f"""SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT i AS doc_id,
              {words} || CASE WHEN {near} THEN ' dup' ELSE '' END AS text,
              {pick(3, ['en', 'en', 'en', 'zh', 'es', 'fr', 'de'])} AS lang,
              'src' || (i % 20) AS source
              FROM (SELECT i, {cid} AS cid FROM range({n['documents']}) t(i)))""",
        "embeddings": f"""SELECT i AS vec_id, list_transform(range(64), j -> CAST(
              (CAST(hash(i, {seed}, j + 100) % 1000000 AS DOUBLE) / 1000000 - 0.5) * 0.6 AS FLOAT))
              AS embedding, CAST({u(1, 5)} AS INTEGER) AS label FROM range({n['embeddings']}) t(i)""",
    }


def write(out_dir, seed, sf, names=None):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET preserve_insertion_order = true")
    for name, sql in tables(int(seed), float(sf)).items():
        if names and name not in names:
            continue
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' (FORMAT parquet, COMPRESSION snappy)")
    con.close()


if __name__ == "__main__":
    write(sys.argv[1], sys.argv[2], sys.argv[3], set(sys.argv[4:]) or None)
