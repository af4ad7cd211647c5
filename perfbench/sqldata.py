"""Seeded tables for the sql_mix workload.

The tables have the schema and size class of the repo's sf0.1 test
tables: a TPC-H-like star schema, an event stream, text documents and
float embeddings. Every value is a function of (seed, table, row id,
column) through DuckDB's hash(), so a seed reproduces the tables exactly.
Each table is written as <dir>/<name>.parquet/part-0.parquet, the layout
graft.io.Tables reads.
"""
import os

ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000,
        "events": 100000, "documents": 5000, "embeddings": 2000}

VOCAB = ["query", "row", "stream", "the", "batch", "sort", "value", "hash",
         "filter", "big", "data", "dup", "spark", "line", "small", "fast",
         "group", "customer", "part", "column", "order", "scan", "a", "slow",
         "agg", "key", "window", "table", "merge", "vector", "join"]


def _sql(seed):
    def h(salt, *extra):
        return f"hash({seed}, '{salt}', i{''.join(', ' + e for e in extra)})"

    def num(salt, m):
        return f"({h(salt)} % {m})"

    def unit(salt, *extra):
        return f"(({h(salt, *extra)} >> 11)::DOUBLE / 9007199254740992.0)"

    def pick(salt, xs):
        lst = ", ".join(f"'{x}'" for x in xs)
        return f"([{lst}])[{num(salt, len(xs))}::INT + 1]"

    def day(salt, start, days):
        return f"(DATE '{start}' + {num(salt, days)}::INT)::TIMESTAMP"

    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    base = "(CASE WHEN i % 25 = 1 THEN i - 1 ELSE i END)"
    return {
        "region": f"""SELECT i::INT AS r_regionkey,
            (['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] AS r_name""",
        "nation": """SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INT AS n_regionkey""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            {num('cn', 25)}::INT AS c_nationkey,
            round({unit('cb')} * 11000.0 - 1000.0, 2) AS c_acctbal,
            {pick('cs', ['MACHINERY', 'AUTOMOBILE', 'FURNITURE', 'BUILDING', 'HOUSEHOLD'])}
              AS c_mktsegment""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            {num('sn', 25)}::INT AS s_nationkey,
            round({unit('sb')} * 11000.0 - 1000.0, 2) AS s_acctbal""",
        "part": f"""SELECT i AS p_partkey,
            {pick('pa', ['large', 'hot', 'blue', 'old', 'cold'])} || ' ' ||
              {pick('pb', ['ring', 'bolt', 'plate', 'nut', 'gear'])} AS p_name,
            'Brand#' || {num('pr', 25)} AS p_brand,
            {pick('pt', ['LARGE', 'ECONOMY', 'SMALL', 'STANDARD', 'PROMO'])} AS p_type,
            ({num('ps', 50)} + 1)::INT AS p_size,
            round(900.0 + (i % 1000) / 10.0, 2) AS p_retailprice""",
        "orders": f"""SELECT i AS o_orderkey, {num('oc', ROWS['customer'])}::BIGINT AS o_custkey,
            {pick('os', ['O', 'F', 'P'])} AS o_orderstatus,
            round({unit('op')} * 500000.0 + 1000.0, 2) AS o_totalprice,
            {day('od', '1995-01-01', 2500)} AS o_orderdate,
            {pick('oq', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
              AS o_orderpriority""",
        # four lines per order: (l_orderkey, l_linenumber) is unique
        "lineitem": f"""SELECT i // 4 AS l_orderkey,
            {num('lp', ROWS['part'])}::BIGINT AS l_partkey,
            {num('ls', ROWS['supplier'])}::BIGINT AS l_suppkey,
            (i % 4 + 1)::INT AS l_linenumber,
            ({num('lq', 50)} + 1)::DOUBLE AS l_quantity,
            round(900.0 + {unit('le')} * 104000.0, 2) AS l_extendedprice,
            {num('ld', 11)}::DOUBLE / 100.0 AS l_discount,
            {num('lt', 9)}::DOUBLE / 100.0 AS l_tax,
            {pick('lr', ['A', 'N', 'R'])} AS l_returnflag,
            {pick('lo', ['O', 'F'])} AS l_linestatus,
            {day('lsd', '1995-01-02', 2500)} AS l_shipdate""",
        # one event every ~26 s on average over 30 days, in event_id order
        "events": f"""SELECT i AS event_id,
            make_timestamp(1704067200000000 + i * 25920000 + {num('et', 25920000)}::BIGINT) AS ts,
            {num('eu', 1500)}::BIGINT AS user_id,
            {pick('ek', ['signup', 'click', 'error', 'view', 'purchase'])} AS event_type,
            round({unit('ev')} * 560.0, 2) AS value,
            '{{"k": ' || {num('ep', 100)} || '}}' AS props""",
        # 10-100 words; every 25th document copies its predecessor with
        # one word changed, so near-duplicate detection has pairs to find
        "documents": f"""SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
            FROM (SELECT i AS doc_id,
              array_to_string(list_transform(
                range(1, (hash({seed}, 'dn', {base}) % 91)::INT + 11),
                j -> ([{vocab}])[(hash({seed},
                  CASE WHEN i % 25 = 1 AND j = 3 THEN 'dw2' ELSE 'dw' END,
                  {base}, j) % {len(VOCAB)})::INT + 1]), ' ') AS text,
              {pick('dl', ['en', 'en', 'en', 'de', 'fr', 'es', 'zh'])} AS lang,
              'src' || {num('ds', 20)} AS source
            FROM range({ROWS['documents']}) t(i))""",
        "embeddings": f"""SELECT i AS vec_id,
            list_transform(range(1, 65),
              j -> (({unit('ee', 'j')} - 0.5) * 0.8)::FLOAT) AS embedding,
            {num('el', 10)}::INT AS label""",
    }


def generate(seed, out_dir):
    """Writes every table under out_dir; returns {table: rows}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for name, body in _sql(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        query = body if name == "documents" else f"{body} FROM range({ROWS[name]}) t(i)"
        con.execute(f"COPY ({query}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")
    con.close()
    return dict(ROWS)
