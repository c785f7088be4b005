"""Deterministic source data for the benchmark.

The tables follow the engine's star schema (see `graft.pipeline.Catalog`):
region, nation, customer, supplier, part, orders, lineitem and events, plus
`documents` for the curation workload. Every value is a pure function of
the row number through DuckDB's `hash`, so the same `customers` count gives
byte-identical data on every run. The benchmark seed never reaches this
module: it only changes the masking salt and the subset predicates.

Usage: python3 perfbench/gen.py <out_dir> <customers> <documents>
"""
import os
import sys

import duckdb

VOCAB = ("data table row column query scan join merge sort hash key value "
         "batch stream window group filter order part line customer spark "
         "vector index page block cache buffer plan stage task shuffle spill "
         "record field schema archive restore dump mask salt subset closure "
         "graph edge node parent child cycle source target worker pool job "
         "slice range token text document corpus near duplicate exact span "
         "shingle band bucket signature minhash jaccard length filter sample "
         "rate budget quota report metric latency throughput memory disk "
         "network socket server client session snapshot commit rollback").split()

FILES_PER_TABLE = 4  # a multi-file lake, so scans split like a real layout

BOILERPLATE = "subscribe to our newsletter for weekly updates and offers"


def _h(*parts):
    """DuckDB expression: a non-negative hash of the given SQL parts."""
    return "((hash(" + ", ".join(parts) + ") % 1000000007)::BIGINT)"


def star_sql(customers):
    """{table: SELECT} of the star schema for `customers` customers."""
    n = customers
    sup = max(n // 15, 10)
    parts = n * 4 // 3
    orders = n * 10
    events = n * 20 // 3
    choice = lambda xs, h: "([" + ",".join(f"'{x}'" for x in xs) + f"])[1 + {h} % {len(xs)}]"
    q = {}
    q["region"] = """select i::INTEGER as r_regionkey,
        (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] as r_name
        from range(5) t(i)"""
    q["nation"] = f"""select i::INTEGER as n_nationkey, 'NATION' || lpad(i::VARCHAR, 2, '0') as n_name,
        (i % 5)::INTEGER as n_regionkey from range(25) t(i)"""
    q["customer"] = f"""select i::BIGINT as c_custkey,
        'Customer#' || lpad(i::VARCHAR, 9, '0') as c_name,
        ({_h('i', "'cn'")} % 25)::INTEGER as c_nationkey,
        round(({_h('i', "'cb'")} % 1100000) / 100.0 - 999.99, 2)::DOUBLE as c_acctbal,
        {choice(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'], _h('i', "'cs'"))} as c_mktsegment
        from range({n}) t(i)"""
    q["supplier"] = f"""select i::BIGINT as s_suppkey,
        'Supplier#' || lpad(i::VARCHAR, 9, '0') as s_name,
        ({_h('i', "'sn'")} % 25)::INTEGER as s_nationkey,
        round(({_h('i', "'sb'")} % 1100000) / 100.0 - 999.99, 2)::DOUBLE as s_acctbal
        from range({sup}) t(i)"""
    q["part"] = f"""select i::BIGINT as p_partkey,
        {choice(['small','large','red','blue','green','steel','brass'], _h('i', "'pa'"))} || ' ' ||
        {choice(['ring','widget','bolt','gear','panel','valve'], _h('i', "'pb'"))} as p_name,
        'Brand#' || (1 + {_h('i', "'pc'")} % 25)::VARCHAR as p_brand,
        {choice(['ECONOMY','STANDARD','SMALL','MEDIUM','LARGE','PROMO'], _h('i', "'pd'"))} as p_type,
        (1 + {_h('i', "'pe'")} % 50)::INTEGER as p_size,
        round(900 + (i % 20000) / 10.0, 2)::DOUBLE as p_retailprice
        from range({parts}) t(i)"""
    q["orders"] = f"""select i::BIGINT as o_orderkey,
        ({_h('i', "'oc'")} % {n})::BIGINT as o_custkey,
        {choice(['F','O','P'], _h('i', "'os'"))} as o_orderstatus,
        round(({_h('i', "'ot'")} % 50000000) / 100.0 + 1000, 2)::DOUBLE as o_totalprice,
        (TIMESTAMP '1992-01-01' + to_days(({_h('i', "'od'")} % 2557)::INTEGER)) as o_orderdate,
        {choice(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'], _h('i', "'op'"))} as o_orderpriority
        from range({orders}) t(i)"""
    q["lineitem"] = f"""select o::BIGINT as l_orderkey,
        ({_h('o', 'l', "'lp'")} % {parts})::BIGINT as l_partkey,
        ({_h('o', 'l', "'ls'")} % {sup})::BIGINT as l_suppkey,
        l::INTEGER as l_linenumber,
        (1 + {_h('o', 'l', "'lq'")} % 50)::DOUBLE as l_quantity,
        round(({_h('o', 'l', "'le'")} % 10000000) / 100.0 + 900, 2)::DOUBLE as l_extendedprice,
        (({_h('o', 'l', "'ld'")} % 11) / 100.0)::DOUBLE as l_discount,
        (({_h('o', 'l', "'lt'")} % 9) / 100.0)::DOUBLE as l_tax,
        {choice(['A','N','R'], _h('o', 'l', "'lr'"))} as l_returnflag,
        {choice(['F','O'], _h('o', 'l', "'lx'"))} as l_linestatus,
        (TIMESTAMP '1992-01-01' + to_days(({_h('o', 'l', "'lh'")} % 2600)::INTEGER)) as l_shipdate
        from range({orders}) t(o) cross join range(1, 8) u(l)
        where l < 2 + {_h('o', "'ln'")} % 7"""
    q["events"] = f"""select i::BIGINT as event_id,
        (TIMESTAMP '2024-01-01' + to_microseconds((i * 137000000 + {_h('i', "'et'")} % 1000000)::BIGINT)) as ts,
        ({_h('i', "'eu'")} % {n})::BIGINT as user_id,
        {choice(['click','signup','error','view','purchase'], _h('i', "'ee'"))} as event_type,
        round(({_h('i', "'ev'")} % 2000) / 100.0, 2)::DOUBLE as value,
        case when {_h('i', "'ep'")} % 4 = 0
             then '{{"k": ' || ({_h('i', "'ek'")} % 100)::VARCHAR || ', "email": "user' || i::VARCHAR || '@example.com"}}'
             else '{{"k": ' || ({_h('i', "'ek'")} % 100)::VARCHAR || '}}' end as props
        from range({events}) t(i)"""
    return q


def documents_sql(docs):
    """`docs` documents: a quarter are originals, and each original has
    three replicas — one verbatim (exact duplicate), one lightly edited
    (about 7 % of tokens changed) and one heavily edited (about 18 %). A
    third of the documents end with a shared boilerplate line, and one in
    eight carries an e-mail address for the PII scrub."""
    base = max(docs // 4, 1)
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    nv = len(VOCAB)
    edit = "[0, 7, 0, 18]"
    word = lambda tag: f"({vocab})[1 + (hash(d, r, x, '{tag}') % {nv})::BIGINT]"
    return f"""with toks as (
        select d, r, x,
            case when r % 2 = 1 and hash(d, r, x, 'm') % 100 < ({edit})[r + 1]
                 then {word('n')}
                 else ({vocab})[1 + (hash(d, x, 'w') % {nv})::BIGINT] end as w
        from range({base}) t(d) cross join range(4) u(r) cross join range(72) v(x)
        where x < 12 + hash(d, 'dl') % 60 and d + r * {base} < {docs})
        select (d + r * {base})::BIGINT as doc_id,
            string_agg(w, ' ' order by x)
            || case when hash(d, 'em') % 8 = 0 then ' contact writer' || d::VARCHAR || '@example.org' else '' end
            || case when hash(d, 'bp') % 3 = 0 then chr(10) || '{BOILERPLATE}' else '' end as text,
            (['en','de','fr','es'])[1 + (hash(d, 'lg') % 4)::BIGINT] as lang,
            'src' || (hash(d, 'sr') % 20)::VARCHAR as source,
            0::BIGINT as n_chars
        from toks group by d, r"""


def write(out_dir, customers, docs, tables=None, order_seed=None):
    """Write each of `tables` (default: all) as a multi-file parquet
    directory `<table>.parquet` and return {table: rows}.

    Rows are spread over the files by key and sorted by key, so the layout
    is fixed. With `order_seed`, both the spread and the order follow a
    hash of the key and that seed instead: the same rows in another
    layout."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    qs = star_sql(customers)
    qs["documents"] = documents_sql(docs)
    rows = {}
    for t in tables or list(qs):
        d = os.path.join(out_dir, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        con.execute(f"create or replace temp table src as {qs[t]}")
        if t == "documents":
            con.execute("update src set n_chars = length(text)")
        key = "l_orderkey * 8 + l_linenumber" if t == "lineitem" else \
            con.execute("select * from src limit 0").description[0][0]
        if order_seed is not None:
            key = f"hash({key}, {int(order_seed)})"
        n = con.execute("select count(*) from src").fetchone()[0]
        k = FILES_PER_TABLE if n >= 1000 else 1
        for i in range(k):
            con.execute(f"copy (select * from src where ({key}) % {k} = {i} order by {key}) "
                        f"to '{d}/part-{i:05d}.parquet' (format parquet)")
        rows[t] = n
    con.close()
    return rows


if __name__ == "__main__":
    print(write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
