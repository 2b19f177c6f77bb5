"""Deterministic benchmark inputs, generated with DuckDB (never with the
program under test).

Two kinds of input:

- the *base tables* (TPC-H-shaped star schema plus the ``documents``,
  ``embeddings`` and ``events`` tables the catalog operators read).  They do
  not depend on the seed, so catalog results can be pinned once
  (``expected.json``) and every run checks against them.  They are built
  once per checkout and reused.
- the *viewer CSV*, drawn per seed from the base ``lineitem``: row order,
  euro-formatted numbers, ``<N/D>`` markers and a long numeric ID column
  that only stays exact when the reader forces it to string.

Every value derives from ``md5`` of a salted key (the repo's own 60-bit
"md5 bridge", ``int(md5(key)[:15], 16)``), so any engine can regenerate it.
Value domains mirror the repository's correctness fixtures.
"""

from __future__ import annotations

import os
import shutil

#: bump when the generated bytes change; a stale build is rebuilt
TABLES_VERSION = "2"

#: base sizes: TPC-H tables at the repo's sf0.1 size, corpus tables at the
#: sf0.01 correctness-gate size (the MinHash/streaming operators are
#: job-count bound at this size: fills, index writes and triggers dominate)
LINEITEM_ROWS = 600_000
DOCUMENTS = 500
EMBEDDINGS = 500
EVENTS = 10_000
EMBED_DIM = 64

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join data column order small customer query big filter "
    "stream group vector"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def h(key_sql: str, salt: str) -> str:
    """SQL for the 60-bit md5 bridge of ``salt:key`` (non-negative BIGINT)."""
    return f"(('0x' || md5('{salt}:' || CAST({key_sql} AS VARCHAR))[1:15])::BIGINT)"


def _pick(values: tuple[str, ...] | list[str], key_sql: str, salt: str) -> str:
    lits = ", ".join(f"'{v}'" for v in values)
    return f"([{lits}][1 + ({h(key_sql, salt)} % {len(values)})::INT])"


def _table_sql(name: str, n: dict[str, int]) -> str:
    """SELECT producing one base table, ordered by its key."""
    if name == "region":
        names = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        rows = ", ".join(f"({i}, '{r}')" for i, r in enumerate(names))
        return (
            "SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name "
            f"FROM (VALUES {rows}) t(r_regionkey, r_name) ORDER BY 1"
        )
    if name == "nation":
        return (
            "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
            "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i) ORDER BY 1"
        )
    if name == "supplier":
        return (
            "SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
            f"CAST({h('i', 'sn')} % 25 AS INTEGER) AS s_nationkey, "
            f"({h('i', 'sa')} % 1099900 - 99990) / 100.0 AS s_acctbal "
            f"FROM range({n['supplier']}) t(i) ORDER BY 1"
        )
    if name == "customer":
        seg = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        return (
            "SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
            f"CAST({h('i', 'cn')} % 25 AS INTEGER) AS c_nationkey, "
            f"({h('i', 'ca')} % 1099900 - 99990) / 100.0 AS c_acctbal, "
            f"{_pick(seg, 'i', 'cs')} AS c_mktsegment "
            f"FROM range({n['customer']}) t(i) ORDER BY 1"
        )
    if name == "part":
        adj = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
        noun = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "wire")
        types = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
        return (
            f"SELECT i AS p_partkey, {_pick(adj, 'i', 'pa')} || ' ' || {_pick(noun, 'i', 'pn')} "
            f"AS p_name, 'Brand#' || (1 + {h('i', 'pb')} % 25) AS p_brand, "
            f"{_pick(types, 'i', 'pt')} AS p_type, "
            f"CAST(1 + {h('i', 'ps')} % 50 AS INTEGER) AS p_size, "
            f"900 + ({h('i', 'pr')} % 1000) / 10.0 AS p_retailprice "
            f"FROM range({n['part']}) t(i) ORDER BY 1"
        )
    if name == "orders":
        prio = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        return (
            f"SELECT i AS o_orderkey, {h('i', 'oc')} % {n['customer']} AS o_custkey, "
            f"{_pick(('O', 'F', 'P'), 'i', 'os')} AS o_orderstatus, "
            f"(100191 + {h('i', 'ot')} % 49890000) / 100.0 AS o_totalprice, "
            f"TIMESTAMP '1995-01-01' + to_days(CAST({h('i', 'od')} % 2404 AS INTEGER)) "
            "AS o_orderdate, "
            f"{_pick(prio, 'i', 'op')} AS o_orderpriority "
            f"FROM range({n['orders']}) t(i) ORDER BY 1"
        )
    if name == "lineitem":
        return (
            f"SELECT {h('i', 'lo')} % {n['orders']} AS l_orderkey, "
            f"{h('i', 'lp')} % {n['part']} AS l_partkey, "
            f"{h('i', 'ls')} % {n['supplier']} AS l_suppkey, "
            f"CAST(1 + {h('i', 'll')} % 7 AS INTEGER) AS l_linenumber, "
            f"CAST(1 + {h('i', 'lq')} % 50 AS DOUBLE) AS l_quantity, "
            f"(90068 + {h('i', 'le')} % 10409924) / 100.0 AS l_extendedprice, "
            f"({h('i', 'ld')} % 11) / 100.0 AS l_discount, "
            f"({h('i', 'lt')} % 9) / 100.0 AS l_tax, "
            f"{_pick(('A', 'N', 'R'), 'i', 'lr')} AS l_returnflag, "
            f"{_pick(('F', 'O'), 'i', 'lf')} AS l_linestatus, "
            f"TIMESTAMP '1995-01-02' + to_days(CAST({h('i', 'lh')} % 2498 AS INTEGER)) "
            "AS l_shipdate "
            f"FROM range({n['lineitem']}) t(i) ORDER BY l_orderkey, l_linenumber, i"
        )
    if name == "documents":
        words = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
        text = (
            f"array_to_string(list_transform(range(8 + {h('i', 'dn')} % 80), "
            f"k -> {words}[1 + ({h('i || chr(47) || k', 'dw')} % {len(VOCAB)})::INT]), ' ')"
        )
        # near-duplicates (one word appended) so the MinHash operators have
        # pairs to find: every 25th document copies its predecessor, and two
        # of three "arrival" documents (doc_id % 10 == 0, the catalog's new
        # batch) copy a corpus document (doc_id - 5 is the appended batch)
        return (
            "WITH base AS ("
            f"  SELECT i AS doc_id, {text} AS text, {_pick(LANGS, 'i', 'dl')} AS lang, "
            f"  'src' || ({h('i', 'ds')} % 20) AS source FROM range({n['documents']}) t(i)"
            "), mixed AS ("
            "  SELECT b.doc_id, CASE "
            "    WHEN b.doc_id % 25 = 7 THEN p1.text || ' extra' "
            "    WHEN b.doc_id % 30 = 0 AND b.doc_id > 0 THEN p5.text || ' extra' "
            "    WHEN b.doc_id % 30 = 10 THEN p3.text || ' copy' "
            "    ELSE b.text END AS text, b.lang, b.source FROM base b "
            "  LEFT JOIN base p1 ON p1.doc_id = b.doc_id - 1 "
            "  LEFT JOIN base p3 ON p3.doc_id = b.doc_id - 3 "
            "  LEFT JOIN base p5 ON p5.doc_id = b.doc_id - 5"
            ") SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars "
            "FROM mixed ORDER BY doc_id"
        )
    if name == "embeddings":
        comp = f"CAST((({h('i || chr(47) || k', 'ev')} % 20001) - 10000) / 40000.0 AS FLOAT)"
        return (
            f"SELECT i AS vec_id, list_transform(range({EMBED_DIM}), k -> {comp}) AS embedding, "
            f"CAST({h('i', 'el')} % 10 AS INTEGER) AS label "
            f"FROM range({n['embeddings']}) t(i) ORDER BY 1"
        )
    if name == "events":
        etypes = ("click", "view", "purchase", "signup", "error")
        span_us = 30 * 86400 * 1_000_000
        return (
            "SELECT i AS event_id, TIMESTAMP '2024-01-01' + to_microseconds("
            f"CAST(i * {span_us // n['events']} + {h('i', 'vt')} % {span_us // n['events']} "
            "AS BIGINT)) AS ts, "
            f"{h('i', 'vu')} % {max(n['events'] // 67, 1)} AS user_id, "
            f"{_pick(etypes, 'i', 've')} AS event_type, "
            f"({h('i', 'vv')} % 56022) / 100.0 AS value, "
            f"'{{\"k\": ' || ({h('i', 'vp')} % 100) || '}}' AS props "
            f"FROM range({n['events']}) t(i) ORDER BY 1"
        )
    raise ValueError(f"unknown table {name!r}")


TABLES = (
    "region", "nation", "supplier", "customer", "part", "orders", "lineitem",
    "documents", "embeddings", "events",
)


def table_sizes(lineitem_rows: int, documents: int, embeddings: int, events: int) -> dict:
    return {
        "lineitem": lineitem_rows,
        "orders": lineitem_rows // 4,
        "customer": lineitem_rows // 40,
        "part": lineitem_rows // 30,
        "supplier": max(lineitem_rows // 600, 10),
        "documents": documents,
        "embeddings": embeddings,
        "events": events,
    }


def build_tables(out_dir: str, sizes: dict[str, int]) -> dict[str, int]:
    """Write every base table as ``<out_dir>/<name>.parquet`` unless an
    identical build is already there.  Returns ``{table: bytes}``."""
    import json

    import duckdb

    stamp = os.path.join(out_dir, "_BUILD.json")
    want = {"version": TABLES_VERSION, "sizes": sizes}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == want:
                return _sizes(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(out_dir, f"{t}.parquet")
            con.execute(f"COPY ({_table_sql(t, sizes)}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
    with open(stamp, "w") as f:
        json.dump(want, f)
    return _sizes(out_dir)


def _sizes(out_dir: str) -> dict[str, int]:
    return {t: os.path.getsize(os.path.join(out_dir, f"{t}.parquet")) for t in TABLES}


# --- viewer CSV -----------------------------------------------------------

#: CSV columns (header order).  Euro columns hold "1.234,56"-style strings;
#: ``long_id`` is 25 digits (overflows every integer type unless forced to
#: string) and unique, so it doubles as the stable row key.
VIEWER_COLUMNS = (
    "long_id", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    "l_shipmode", "l_comment",
)
EURO_COLUMNS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
SHIPMODES = ("AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB", "REG AIR")
NULL_MARKER = "<N/D>"


def _euro(cents_sql: str) -> str:
    return (
        f"replace(format('{{:,}}', ({cents_sql}) // 100), ',', '.') || ',' || "
        f"lpad(CAST(({cents_sql}) % 100 AS VARCHAR), 2, '0')"
    )


def viewer_base_sql(tables_dir: str, seed: int, rows: int) -> str:
    """SELECT for the seed's viewer rows *with* a ``pos`` column (file
    order) — used to write the CSV and, typed, as the DuckDB oracle base."""
    li = os.path.join(tables_dir, "lineitem.parquet")
    s = f"'{seed}/' || i"

    def marked(expr: str, salt: str) -> str:
        # ~2 % of cells carry the null marker
        return f"CASE WHEN {h(s, salt)} % 50 = 0 THEN '{NULL_MARKER}' ELSE {expr} END"

    comment = (
        f"{_pick(VOCAB, s, 'c1')} || ' ' || {_pick(VOCAB, s, 'c2')} || ' ' || "
        f"{_pick(VOCAB, s, 'c3')}"
    )
    return (
        "WITH src AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber, "
        f"l_partkey, l_suppkey, l_extendedprice) - 1 AS i FROM read_parquet('{li}')), "
        f"pick AS (SELECT * FROM src ORDER BY {h(s, 'rowpick')} LIMIT {rows}) "
        "SELECT row_number() OVER (ORDER BY " + h(s, "order") + ", i) AS pos, "
        f"CAST(1 + {h(s, 'id1')} % 9 AS VARCHAR) || lpad(CAST({h(s, 'id2')} % 1000000000000000 "
        "AS VARCHAR), 15, '0') || lpad(CAST(i AS VARCHAR), 9, '0') AS long_id, "
        "l_orderkey, l_linenumber, "
        f"{marked(_euro('CAST(round(l_quantity * 100) AS BIGINT)'), 'mq')} AS l_quantity, "
        f"{_euro('CAST(round(l_extendedprice * 100) AS BIGINT)')} AS l_extendedprice, "
        f"{_euro('CAST(round(l_discount * 100) AS BIGINT)')} AS l_discount, "
        f"{marked(_euro('CAST(round(l_tax * 100) AS BIGINT)'), 'mt')} AS l_tax, "
        "l_returnflag, l_linestatus, strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate, "
        f"{marked(_pick(SHIPMODES, s, 'sm'), 'ms')} AS l_shipmode, "
        f"{comment} AS l_comment FROM pick"
    )


def write_viewer_csv(con, tables_dir: str, seed: int, rows: int, path: str) -> None:
    """Materialize the seed's rows as table ``vsrc`` in ``con`` and write
    the ``;``-separated CSV in ``pos`` order."""
    con.execute(f"CREATE OR REPLACE TABLE vsrc AS {viewer_base_sql(tables_dir, seed, rows)}")
    cols = ", ".join(VIEWER_COLUMNS)
    tmp = path + ".tmp"
    con.execute(
        f"COPY (SELECT {cols} FROM vsrc ORDER BY pos) TO '{tmp}' "
        "(FORMAT CSV, DELIMITER ';', HEADER true)"
    )
    os.replace(tmp, path)
