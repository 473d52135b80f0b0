"""Seeded offline input generator for the benchmark.

Writes the testdata-shaped tables the workloads read (the TPC-H-ish star
schema plus `events`, `documents` and `embeddings`, with the same column
names, types and value shapes as the engine's test fixtures) with DuckDB,
without reading anything outside the benchmark's work directory and
without the network.

Every value is a pure function of (seed, table, row id, column): a keyed
hash, never an RNG stream, so the same seed gives byte-identical inputs and
a different seed redraws every value, every foreign-key choice and every
table's row order. Row counts are fixed by the scale alone, so the cost of
a workload does not wander with the seed. Keys stay dense (0..n-1) and every
foreign key points at an existing row.

Files are single parquet files with several row groups, so Spark splits a
scan across cores. Output is cached per (scale, seed): a second call returns
at once.

Usage: python3 perfbench/gen.py <outdir> <scale> <seed>
"""
import hashlib
import json
import os
import shutil
import sys

import duckdb

# rows per table at scale 1.0 (the sf0.1 fixture holds scale 0.1 of these)
BASE_ROWS = {
    "customer": 150_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
LINES_PER_ORDER = 4
USERS_PER_SCALE = 15_000
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings"]
DONE = "_GENERATED.json"


def row_group_rows(n):
    """Rows per row group: about 16 groups per table, at least 2048 rows."""
    return max(2048, -(-n // 16 // 2048) * 2048)


def sizes(scale):
    """Rows of each generated table."""
    per = {t: max(8, int(r * scale)) for t, r in BASE_ROWS.items()}
    per["users"] = max(8, int(USERS_PER_SCALE * scale))
    return per


def offset(seed, what):
    """A 60-bit constant per (seed, column): hashing `key + offset` gives each
    column its own stream (DuckDB's multi-argument hash XORs its parts, so
    its outputs for two salts are correlated)."""
    return int(hashlib.blake2b(f"{seed}:{what}".encode(), digest_size=8).hexdigest(), 16) >> 4


def table_sql(name, seed, per):
    """SELECT producing one table; `u(salt, key)` is a seeded uniform in [0,1)."""
    def h(salt, key):
        return f"hash(({key}) + {offset(seed, name + '.' + salt)})"

    def u(salt, key):
        return f"({h(salt, key)} / 18446744073709551616.0)"

    def pick(salt, key, n):
        return f"CAST({h(salt, key)} % {n} AS BIGINT)"

    def keys(n):
        return f"(SELECT range AS k FROM range({n}))"

    shuffle = f"ORDER BY {h('order', 'k')}"
    if name == "region":
        return ("SELECT CAST(i AS INTEGER) AS r_regionkey, r_name FROM (VALUES "
                "(0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'), (3, 'EUROPE'), "
                "(4, 'MIDDLE EAST')) v(i, r_name)")
    if name == "nation":
        return ("SELECT CAST(range AS INTEGER) AS n_nationkey, 'NATION_' || range AS n_name, "
                "CAST(range % 5 AS INTEGER) AS n_regionkey FROM range(25)")
    if name == "customer":
        return (f"SELECT k AS c_custkey, printf('Customer#%09d', k) AS c_name, "
                f"CAST({pick('nation', 'k', 25)} AS INTEGER) AS c_nationkey, "
                f"round({u('bal', 'k')} * 10999.99 - 999.99, 2) AS c_acctbal, "
                f"['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']"
                f"[1 + {pick('seg', 'k', 5)}] AS c_mktsegment "
                f"FROM {keys(per['customer'])} {shuffle}")
    if name == "orders":
        return (f"SELECT k AS o_orderkey, {pick('cust', 'k', per['customer'])} AS o_custkey, "
                f"['F', 'O', 'P'][1 + {pick('status', 'k', 3)}] AS o_orderstatus, "
                f"round({u('price', 'k')} * 500000 + 900, 2) AS o_totalprice, "
                f"TIMESTAMP '1992-01-01' + to_days(CAST({pick('date', 'k', 2400)} AS INTEGER)) AS o_orderdate, "
                f"['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']"
                f"[1 + {pick('prio', 'k', 5)}] AS o_orderpriority "
                f"FROM {keys(per['orders'])} {shuffle}")
    if name == "lineitem":
        n = per["orders"] * LINES_PER_ORDER
        o = f"(k // {LINES_PER_ORDER})"
        q = f"CAST(1 + {pick('qty', 'k', 50)} AS DOUBLE)"
        return (f"SELECT {o} AS l_orderkey, {pick('part', 'k', 20_000)} AS l_partkey, "
                f"{pick('supp', 'k', 1_000)} AS l_suppkey, "
                f"CAST(1 + {pick('line', 'k', 7)} AS INTEGER) AS l_linenumber, "
                f"{q} AS l_quantity, round({q} * (900 + {u('ext', 'k')} * 1200), 2) AS l_extendedprice, "
                f"round({u('disc', 'k')} * 0.10, 2) AS l_discount, "
                f"round({u('tax', 'k')} * 0.08, 2) AS l_tax, "
                f"['A', 'N', 'R'][1 + {pick('rf', 'k', 3)}] AS l_returnflag, "
                f"['O', 'F'][1 + {pick('ls', 'k', 2)}] AS l_linestatus, "
                f"TIMESTAMP '1995-01-02' + to_days(CAST({pick('ship', 'k', 2498)} AS INTEGER)) AS l_shipdate "
                f"FROM {keys(n)} {shuffle}")
    if name == "events":
        n = per["events"]
        month_us = 30 * 86_400_000_000
        # ids increase with time (one slot per event, a seeded offset
        # inside the slot), as in the fixture's event log
        ts = (f"TIMESTAMP '2024-01-01' + to_microseconds(CAST(k * {month_us // n} "
              f"+ {pick('jit', 'k', month_us // n)} AS BIGINT))")
        return (f"SELECT k AS event_id, {ts} AS ts, {pick('user', 'k', per['users'])} AS user_id, "
                f"['signup', 'click', 'error', 'view', 'purchase'][1 + {pick('type', 'k', 5)}] AS event_type, "
                f"round(-50 * ln(1 - {u('val', 'k')}), 2) AS value, "
                f"'{{\"k\": ' || {pick('props', 'k', 100)} || '}}' AS props "
                f"FROM {keys(n)} {shuffle}")
    if name == "documents":
        vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
        words = (f"array_to_string(list_transform(range(10 + {pick('len', 'base', 91)}), "
                 f"j -> {vocab}[1 + {pick('w', 'base * 128 + j', len(VOCAB))}]), ' ')")
        # one doc in 20 is a near-duplicate of an earlier doc (its text plus
        # a marker word) so the dedup operators find real clusters
        return (f"SELECT k AS doc_id, text, "
                f"CASE WHEN {u('lang', 'k')} < 0.41 THEN 'en' ELSE ['zh', 'de', 'fr', 'es'][1 + {pick('l2', 'k', 4)}] END AS lang, "
                f"'src' || {pick('src', 'k', 20)} AS source, CAST(length(text) AS BIGINT) AS n_chars "
                f"FROM (SELECT k, {words} || CASE WHEN base <> k THEN ' dup' ELSE '' END AS text "
                f"FROM (SELECT k, CASE WHEN k % 20 = 7 THEN k - 7 ELSE k END AS base "
                f"FROM {keys(per['documents'])})) {shuffle}")
    if name == "embeddings":
        # 64 Box-Muller normals, scaled to unit length
        g = (f"list_transform(range(64), j -> sqrt(-2 * ln(1 - {u('a', 'k * 64 + j')})) "
             f"* cos(2 * pi() * {u('b', 'k * 64 + j')}))")
        return (f"SELECT k AS vec_id, CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS FLOAT[]) AS embedding, "
                f"CAST({pick('label', 'k', 10)} AS INTEGER) AS label "
                f"FROM (SELECT k, {g} AS v FROM {keys(per['embeddings'])}) {shuffle}")
    raise ValueError(f"unknown table {name}")


def generate(out, scale, seed, quiet=False):
    """Write every table under `out` (cached: returns the stored summary when
    the directory is already complete)."""
    done = os.path.join(out, DONE)
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = sizes(scale)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    summary = {"scale": scale, "seed": seed, "tables": {}}
    for t in TABLES:
        path = os.path.join(tmp, f"{t}.parquet")
        sql = table_sql(t, seed, per)
        n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE {row_group_rows(n)})")
        summary["tables"][t] = {"rows": n, "bytes": os.path.getsize(path)}
    con.close()
    with open(os.path.join(tmp, DONE), "w") as f:
        json.dump(summary, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    if not quiet:
        for t, s in summary["tables"].items():
            print(f"gen {t}: {s['rows']} rows, {s['bytes']} bytes", file=sys.stderr)
    return summary


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
