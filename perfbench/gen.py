"""Seeded fixture generator for the declared_mix workload.

Writes the eight tables the mix's queries read (region, nation, customer,
supplier, part, orders, lineitem, documents) at sf0.1 row counts, with the
column types and value domains of the repo's declared fixtures (FIXTURES.md):
the same nation names, brands, flags, date ranges and 31-word document
vocabulary, so every query's predicates select comparable slices. Every value
is a hash of (seed, row, column), so one seed always yields byte-identical
inputs regardless of DuckDB's thread count. One row group per file, like the
original fixtures.
"""
import os

import duckdb

ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "documents": 5000}

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
PART_WORDS = ("large hot small cold bright dark round flat long short "
              "heavy light blue red green steel").split()
PART_NOUNS = "ring bolt nut gear pipe valve spring plate".split()


def _u(seed, col):
    """Uniform [0, 1) from (seed, row i, column tag)."""
    return f"((hash({seed}, i, '{col}') % 1000000007) / 1000000007.0)"


def _pick(seed, col, values):
    arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{arr}[1 + CAST(floor({_u(seed, col)} * {len(values)}) AS BIGINT)]"


def _int(seed, col, lo, hi):
    """Uniform integer in [lo, hi]."""
    return f"({lo} + CAST(floor({_u(seed, col)} * {hi - lo + 1}) AS BIGINT))"


def _cents(seed, col, lo, hi):
    """Two-decimal double in [lo, hi)."""
    return f"(({lo * 100} + CAST(floor({_u(seed, col)} * {(hi - lo) * 100}) AS BIGINT)) / 100.0)"


def _day(seed, col, start, days):
    return (f"(TIMESTAMP '{start}' + to_days("
            f"CAST(floor({_u(seed, col)} * {days}) AS INTEGER)))")


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET preserve_insertion_order = true")
    s = int(seed)

    def write(name, select, n=None):
        src = f"(SELECT unnest(range({n})) AS i)" if n else ""
        sql = select.format(src=src)
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' "
                    "(FORMAT PARQUET, ROW_GROUP_SIZE 1000000)")

    write("region", """SELECT CAST(i AS INTEGER) AS r_regionkey,
        ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
        FROM {src}""", 5)
    write("nation", """SELECT CAST(i AS INTEGER) AS n_nationkey,
        'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
        FROM {src}""", 25)
    write("customer", f"""SELECT i AS c_custkey,
        'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
        CAST({_int(s, 'cn', 0, 24)} AS INTEGER) AS c_nationkey,
        {_cents(s, 'cb', -1000, 10000)} AS c_acctbal,
        {_pick(s, 'cm', ['MACHINERY', 'AUTOMOBILE', 'FURNITURE', 'HOUSEHOLD', 'BUILDING'])}
          AS c_mktsegment
        FROM {{src}}""", ROWS["customer"])
    write("supplier", f"""SELECT i AS s_suppkey,
        'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
        CAST({_int(s, 'sn', 0, 24)} AS INTEGER) AS s_nationkey,
        {_cents(s, 'sb', -1000, 10000)} AS s_acctbal
        FROM {{src}}""", ROWS["supplier"])
    write("part", f"""SELECT i AS p_partkey,
        {_pick(s, 'pa', PART_WORDS)} || ' ' || {_pick(s, 'pb', PART_NOUNS)} AS p_name,
        'Brand#' || {_int(s, 'pbr', 1, 25)} AS p_brand,
        {_pick(s, 'pt', ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'])} AS p_type,
        CAST({_int(s, 'ps', 1, 50)} AS INTEGER) AS p_size,
        (9000 + i % 1000) / 10.0 AS p_retailprice
        FROM {{src}}""", ROWS["part"])
    write("orders", f"""SELECT i AS o_orderkey,
        {_int(s, 'oc', 0, ROWS['customer'] - 1)} AS o_custkey,
        {_pick(s, 'os', ['O', 'F', 'P'])} AS o_orderstatus,
        {_cents(s, 'op', 1000, 500000)} AS o_totalprice,
        {_day(s, 'od', '1995-01-01', 2404)} AS o_orderdate,
        {_pick(s, 'opr', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
          AS o_orderpriority
        FROM {{src}}""", ROWS["orders"])
    write("lineitem", f"""SELECT
        {_int(s, 'lo', 0, ROWS['orders'] - 1)} AS l_orderkey,
        {_int(s, 'lp', 0, ROWS['part'] - 1)} AS l_partkey,
        {_int(s, 'ls', 0, ROWS['supplier'] - 1)} AS l_suppkey,
        CAST({_int(s, 'ln', 1, 7)} AS INTEGER) AS l_linenumber,
        CAST({_int(s, 'lq', 1, 50)} AS DOUBLE) AS l_quantity,
        {_cents(s, 'le', 900, 105000)} AS l_extendedprice,
        {_int(s, 'ld', 0, 10)} / 100.0 AS l_discount,
        {_int(s, 'lt', 0, 8)} / 100.0 AS l_tax,
        {_pick(s, 'lr', ['A', 'N', 'R'])} AS l_returnflag,
        {_pick(s, 'lst', ['O', 'F'])} AS l_linestatus,
        {_day(s, 'lsd', '1995-01-02', 2498)} AS l_shipdate
        FROM {{src}}""", ROWS["lineitem"])
    # Documents: 10-100 words from the fixture vocabulary; one in 600 is an
    # exact copy of an earlier document and about one word in 400 is the
    # fixtures' 'dup' marker, so the dedup stages have work to do.
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    write("documents", f"""WITH base AS (
          SELECT i, CASE WHEN i > 0 AND i % 600 = 0
                         THEN {_int(s, 'dsrc', 0, 599)} + i - 600 ELSE i END AS t
          FROM {{src}}),
        words AS (
          SELECT i, t, 10 + CAST(floor(((hash({s}, t, 'nw') % 1000003) / 1000003.0) * 91) AS BIGINT) AS nw
          FROM base),
        txt AS (
          SELECT i, t, array_to_string(list_transform(range(nw),
                   j -> CASE WHEN hash({s}, t, j, 'dm') % 400 = 0 THEN 'dup'
                             ELSE {vocab}[1 + CAST(hash({s}, t, j, 'w') % {len(VOCAB)} AS BIGINT)]
                        END), ' ') AS text
          FROM words)
        SELECT i AS doc_id, text,
          {_pick(s, 'lg', ['en', 'en', 'en', 'es', 'zh', 'de', 'fr'])} AS lang,
          'src' || (i % 20) AS source,
          CAST(length(text) AS BIGINT) AS n_chars
        FROM txt ORDER BY i""", ROWS["documents"])
    con.close()


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]))
