"""Seeded input generator for the benchmark.

Writes the ten warehouse tables (one parquet file each, the layout
``sources.tables`` reads) at a scale factor, plus the medallion tier's
raw inputs: API-shaped daily price rows and a landing zone of event
files. Every value is a DuckDB ``hash()`` of (row, column, seed), so the
same seed always gives byte-identical inputs and another seed gives
another sample of the same shape.

Shapes follow the engine's TPC-H-like test tables: row counts scale
linearly with sf from the sf0.01 sizes, except documents and embeddings,
which stay at 500 rows up to sf0.01.
"""

from __future__ import annotations

import os

import duckdb

SEGMENTS = "['BUILDING','MACHINERY','AUTOMOBILE','HOUSEHOLD','FURNITURE']"
PRIORITIES = "['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"
TYPES = "['STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO']"
EVENT_TYPES = "['view','click','purchase','signup','error']"
LANGS = "['en','en','en','de','fr','es','zh']"
REGIONS = "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST']"
VOCAB = (
    "['batch','part','spark','line','column','order','small','sort','fast',"
    "'value','scan','a','hash','slow','group','agg','filter','query','big',"
    "'key','window','row','table','stream','merge','data','vector','join',"
    "'plan','customer','the']"
)
N_VOCAB = 31

PRICE_DAYS = 120  # days in the initial silver load
EVENT_FILES = 8  # landing-zone files the bronze stream picks up


def sizes(sf: float) -> dict[str, int]:
    m = sf / 0.01
    return {
        "customer": max(50, int(1_500 * m)),
        "supplier": max(10, int(100 * m)),
        "part": max(100, int(2_000 * m)),
        "orders": max(500, int(15_000 * m)),
        "lineitem": max(2_000, int(60_000 * m)),
        "events": max(1_000, int(10_000 * m)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "users": max(15, int(150 * m)),
        "symbols": max(20, int(50_000 * sf)),
    }


def _h(seed: int, col: int, expr: str = "i") -> str:
    """Unsigned 64-bit hash of (row expression, column tag, seed)."""
    return f"hash({expr}, {col}, {seed})"


def generate(out: str, sf: float, seed: int) -> None:
    """Write every table and raw input for (sf, seed) under ``out``.

    Tables land atomically: the directory is built under a temporary
    name and renamed, so a half-written input is never read."""
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    n = sizes(sf)
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def write(name: str, select: str) -> None:
        con.execute(
            f"COPY ({select}) TO '{tmp}/{name}.parquet' "
            "(FORMAT PARQUET, COMPRESSION SNAPPY)"
        )

    def rng(k: int) -> str:
        return f"(SELECT unnest(range({k})) AS i)"

    write(
        "region",
        f"SELECT CAST(i AS INTEGER) AS r_regionkey, {REGIONS}[i + 1] AS r_name FROM {rng(5)}",
    )
    write(
        "nation",
        "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
        f"CAST(i % 5 AS INTEGER) AS n_regionkey FROM {rng(25)}",
    )
    write(
        "customer",
        f"""
        SELECT i AS c_custkey,
               'Customer#' || i AS c_name,
               CAST({_h(seed, 11)} % 25 AS INTEGER) AS c_nationkey,
               ROUND(CAST({_h(seed, 12)} % 1100000 AS DOUBLE) / 100 - 1000, 2) AS c_acctbal,
               {SEGMENTS}[CAST({_h(seed, 13)} % 5 AS INT) + 1] AS c_mktsegment
        FROM {rng(n['customer'])}
        """,
    )
    write(
        "supplier",
        f"""
        SELECT i AS s_suppkey,
               'Supplier#' || i AS s_name,
               CAST({_h(seed, 21)} % 25 AS INTEGER) AS s_nationkey,
               ROUND(CAST({_h(seed, 22)} % 1100000 AS DOUBLE) / 100 - 1000, 2) AS s_acctbal
        FROM {rng(n['supplier'])}
        """,
    )
    write(
        "part",
        f"""
        SELECT i AS p_partkey,
               {VOCAB}[CAST({_h(seed, 31)} % {N_VOCAB} AS INT) + 1] || ' ' ||
               {VOCAB}[CAST({_h(seed, 32)} % {N_VOCAB} AS INT) + 1] AS p_name,
               'Brand#' || (CAST({_h(seed, 33)} % 5 AS INT) + 1)
                        || (CAST({_h(seed, 34)} % 5 AS INT) + 1) AS p_brand,
               {TYPES}[CAST({_h(seed, 35)} % 6 AS INT) + 1] AS p_type,
               CAST({_h(seed, 36)} % 50 AS INTEGER) + 1 AS p_size,
               900.0 + CAST({_h(seed, 37)} % 1000 AS DOUBLE) / 10 AS p_retailprice
        FROM {rng(n['part'])}
        """,
    )
    write(
        "orders",
        f"""
        SELECT i AS o_orderkey,
               CAST({_h(seed, 41)} % {n['customer']} AS BIGINT) AS o_custkey,
               CASE WHEN {_h(seed, 42)} % 100 < 3 THEN 'P'
                    WHEN {_h(seed, 46)} % 2 = 0 THEN 'O' ELSE 'F' END AS o_orderstatus,
               ROUND(1000 + CAST({_h(seed, 43)} % 49900000 AS DOUBLE) / 100, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01'
                 + CAST({_h(seed, 44)} % 2404 AS INT) * INTERVAL 1 DAY AS o_orderdate,
               {PRIORITIES}[CAST({_h(seed, 45)} % 5 AS INT) + 1] AS o_orderpriority
        FROM {rng(n['orders'])}
        """,
    )
    write(
        "lineitem",
        f"""
        SELECT CAST({_h(seed, 50)} % {n['orders']} AS BIGINT) AS l_orderkey,
               CAST({_h(seed, 51)} % {n['part']} AS BIGINT) AS l_partkey,
               CAST({_h(seed, 52)} % {n['supplier']} AS BIGINT) AS l_suppkey,
               CAST(i % 4 AS INTEGER) + 1 AS l_linenumber,
               CAST({_h(seed, 53)} % 50 AS DOUBLE) + 1 AS l_quantity,
               ROUND(900 + CAST({_h(seed, 54)} % 10410000 AS DOUBLE) / 100, 2) AS l_extendedprice,
               CAST({_h(seed, 55)} % 11 AS DOUBLE) / 100 AS l_discount,
               CAST({_h(seed, 56)} % 9 AS DOUBLE) / 100 AS l_tax,
               ['A','N','R'][CAST({_h(seed, 57)} % 3 AS INT) + 1] AS l_returnflag,
               ['O','F'][CAST({_h(seed, 58)} % 2 AS INT) + 1] AS l_linestatus,
               TIMESTAMP '1995-01-02'
                 + CAST({_h(seed, 59)} % 2494 AS INT) * INTERVAL 1 DAY AS l_shipdate
        FROM {rng(n['lineitem'])}
        """,
    )
    # ~monotone ts over 30 days with ~2 s jitter
    span_us = 30 * 86_400 * 1_000_000
    write(
        "events",
        f"""
        SELECT i AS event_id,
               make_timestamp(epoch_us(TIMESTAMP '2024-01-01')
                 + i * ({span_us} // {n['events']})
                 + CAST({_h(seed, 61)} % 2000000 AS BIGINT)) AS ts,
               CAST({_h(seed, 62)} % {n['users']} AS BIGINT) AS user_id,
               {EVENT_TYPES}[CAST({_h(seed, 63)} % 5 AS INT) + 1] AS event_type,
               ROUND(CAST({_h(seed, 64)} % 56021 AS DOUBLE) / 100, 2) AS value,
               '{{"k": ' || CAST({_h(seed, 65)} % 100 AS INT) || '}}' AS props
        FROM {rng(n['events'])}
        """,
    )
    words = (
        f"list_transform(range(1, 11 + CAST({_h(seed, 71)} % 51 AS INT)), "
        f"j -> {VOCAB}[CAST(hash(i, j, 70, {seed}) % {N_VOCAB} AS INT) + 1])"
    )
    # every 5th doc repeats an earlier one with its tail cut, so the
    # near-duplicate operators find real clusters
    write(
        "documents",
        f"""
        WITH base AS (
          SELECT i, array_to_string({words}, ' ') AS t FROM {rng(n['documents'])}
        ), doc AS (
          SELECT b.i AS doc_id,
                 CASE WHEN b.i % 5 = 4 THEN
                   (SELECT array_to_string(list_slice(string_split(o.t, ' '), 1,
                           len(string_split(o.t, ' ')) - 1), ' ')
                    FROM base o WHERE o.i = b.i - 1 - CAST({_h(seed, 74, 'b.i')} % 3 AS BIGINT))
                 ELSE b.t END AS text,
                 {LANGS}[CAST({_h(seed, 72, 'b.i')} % 7 AS INT) + 1] AS lang,
                 'src' || CAST({_h(seed, 73, 'b.i')} % 20 AS INT) AS source
          FROM base b
        )
        SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
        FROM doc ORDER BY doc_id
        """,
    )
    write(
        "embeddings",
        f"""
        SELECT i AS vec_id,
               list_transform(range(64),
                 d -> CAST(CAST(hash(i, d, 80, {seed}) % 2000 AS DOUBLE) / 1000 - 1 AS FLOAT))
                 AS embedding,
               CAST({_h(seed, 81)} % 10 AS INTEGER) AS label
        FROM {rng(n['embeddings'])}
        """,
    )
    _raw_prices(con, tmp, seed, n["symbols"])
    _landing_events(con, tmp)
    con.close()
    if os.path.exists(out):
        import shutil

        shutil.rmtree(out)
    os.replace(tmp, out)


def _raw_prices(con, out: str, seed: int, symbols: int) -> None:
    """API-shaped daily bars (string dates and numbers, as fetched) for
    the initial load, plus an incremental fetch that overlaps it: the last
    loaded day re-fetched later for every symbol, and one new day."""

    def bars(first_day: int, last_day: int, fetch_hour: int) -> str:
        def px(base: int, col: int) -> str:
            return (
                f"CAST(ROUND({base} + CAST(hash(s, d, {col}, {seed}) % 5000 AS DOUBLE) / 100, 2)"
                " AS VARCHAR)"
            )

        return f"""
            SELECT 'sym' || s AS symbol,
                   CAST(DATE '2024-01-01' + CAST(d AS INT) AS VARCHAR) AS date,
                   {px(100, 91)} AS open, {px(101, 92)} AS high,
                   {px(99, 93)} AS low, {px(100, 94)} AS close,
                   CAST(hash(s, d, 95, {seed}) % 1000000 AS VARCHAR) AS volume,
                   CAST(TIMESTAMP '2024-06-01' + INTERVAL {fetch_hour} HOUR AS VARCHAR)
                     AS fetched_at,
                   'req-' || s || '-' || d || '-' || {fetch_hour} AS request_id
            FROM (SELECT unnest(range({symbols})) AS s),
                 (SELECT unnest(range({first_day}, {last_day})) AS d)
        """

    for name, select in (
        ("raw_prices_initial", bars(0, PRICE_DAYS, 0)),
        ("raw_prices_incremental", bars(PRICE_DAYS - 1, PRICE_DAYS + 1, 5)),
    ):
        con.execute(f"COPY ({select}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")


def _landing_events(con, out: str) -> None:
    """Landing zone for the bronze stream: the events table cut into
    EVENT_FILES parquet files by event_id range (arrival order)."""
    land = os.path.join(out, "landing_events")
    os.makedirs(land, exist_ok=True)
    total = con.execute(f"SELECT count(*) FROM '{out}/events.parquet'").fetchone()[0]
    per = -(-total // EVENT_FILES)
    for k in range(EVENT_FILES):
        con.execute(
            f"COPY (SELECT * FROM '{out}/events.parquet' "
            f"WHERE event_id >= {k * per} AND event_id < {(k + 1) * per} ORDER BY event_id) "
            f"TO '{land}/events-{k:03d}.parquet' (FORMAT PARQUET)"
        )
