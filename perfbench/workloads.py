"""The workloads.  Each is a closed loop of one client: the next
operation starts when the previous one returns.

An operation returns what the check needs; checking happens after the
timed window, against DuckDB (viewer) or pinned oracle results (catalog
workloads), so it never inflates a latency.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random

import datagen
from stats import result_hash

LLM_PIPELINE = (
    "d_dedup_apply", "d_minhash_index_query", "d_minhash_index_append",
    "d_minhash_lsh_pairs", "x_training_mix_e2e", "x_quality_classifier",
    "s_mmr_rerank",
    # the streaming containment screen against the persisted index: keeps
    # the streaming trigger/checkpoint/sink layer measured
    "e_streaming_containment",
)
#: a cheap entry of the cycle, run by every set-up as its warm-up
WARMUP_ENTRY = "d_minhash_lsh_pairs"
WORKLOADS = ("viewer", "llm_pipeline")


class Client:
    """State shared by one run's operations."""

    def __init__(self, spark, tables_dir: str, expected: dict) -> None:
        self.spark = spark
        self.tables_dir = tables_dir
        self.expected = expected
        self.tracer = None  # set for the traced window

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)


# --- catalog workloads --------------------------------------------------------


def catalog_plan(entries: tuple[str, ...]):
    """Endless op stream: each cycle runs every entry once, in list order.
    The order is fixed, not drawn from the seed: the first entries of a
    process pay the codegen/JIT warm-up the later ones reuse, so a drawn
    order would move that cost between entries from run to run."""
    for cycle in itertools.count():
        for n in entries:
            yield cycle, n


def catalog_op(client: Client, name: str) -> dict:
    """Run one catalog entry to full materialization; returns the check
    material (row count and value hash are computed outside the timing)."""
    from polars_view_spark.catalog import entries

    entry = entries()[name]
    with client.span("catalog.build", entry=name):
        df = entry.spark_fn(client.spark, client.tables_dir)
    with client.span("catalog.action", entry=name):
        rows = df.collect()
    return {"columns": df.columns, "rows": rows}


def check_catalog(client: Client, name: str, out: dict) -> str | None:
    """``None`` when the result matches the pinned oracle, else why not."""
    want = client.expected.get(name)
    if want is None:
        return f"no pinned result for {name}"
    n, digest = result_hash(out["columns"], out["rows"])
    if n != want["rows"]:
        return f"{name}: {n} rows, oracle has {want['rows']}"
    if digest != want["hash"]:
        return f"{name}: value hash {digest} != oracle {want['hash']}"
    return None


# --- viewer ----------------------------------------------------------------------

#: re-query templates: (name, program SQL, DuckDB oracle SQL, ORDER BY keys,
#: parameter draw).  Sums run over integer cents so both engines agree
#: exactly; every ORDER BY is total, so pages are deterministic.
VIEWER_QUERIES = (
    (
        "group",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
        "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS revenue_cents "
        "FROM AllData WHERE l_shipdate >= DATE '{p}' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
        "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS revenue_cents "
        "FROM vview WHERE l_shipdate >= DATE '{p}' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        ("l_returnflag", "l_linestatus"),
        lambda r: f"{r.randint(1995, 2001)}-{r.randint(1, 12):02d}-01",
    ),
    (
        "filter",
        "SELECT * FROM AllData WHERE l_quantity > {p} AND l_shipmode IS NOT NULL "
        "ORDER BY long_id",
        "SELECT * FROM vview WHERE l_quantity > {p} AND l_shipmode IS NOT NULL "
        "ORDER BY long_id",
        ("long_id",),
        lambda r: r.randint(5, 45),
    ),
    (
        "except",
        "SELECT * EXCEPT (l_tax, l_linestatus) FROM AllData WHERE l_discount >= {p} "
        "ORDER BY long_id",
        "SELECT * EXCLUDE (l_tax, l_linestatus) FROM vview WHERE l_discount >= {p} "
        "ORDER BY long_id",
        ("long_id",),
        lambda r: r.randint(0, 9) / 100,
    ),
    (
        "replace",
        "SELECT * REPLACE (CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
        "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS l_extendedprice) "
        "FROM AllData WHERE l_returnflag = '{p}' ORDER BY long_id",
        "SELECT * REPLACE (CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
        "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS l_extendedprice) "
        "FROM vview WHERE l_returnflag = '{p}' ORDER BY long_id",
        ("long_id",),
        lambda r: r.choice("ANR"),
    ),
    (
        "strftime",
        "SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month, COUNT(*) AS n_lines, "
        "SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty FROM AllData "
        "WHERE l_linenumber <= {p} GROUP BY ship_month ORDER BY ship_month",
        "SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, COUNT(*) AS n_lines, "
        "SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty FROM vview "
        "WHERE l_linenumber <= {p} GROUP BY ship_month ORDER BY ship_month",
        ("ship_month",),
        lambda r: r.randint(2, 7),
    ),
    (
        "ilike",
        "SELECT long_id, l_shipmode, l_quantity, l_extendedprice FROM AllData "
        "WHERE l_shipmode ILIKE '%{p}%' ORDER BY long_id",
        "SELECT long_id, l_shipmode, l_quantity, l_extendedprice FROM vview "
        "WHERE l_shipmode ILIKE '%{p}%' ORDER BY long_id",
        ("long_id",),
        lambda r: r.choice(("air", "ship", "truck", "rail", "mail", "fob")),
    ),
    (
        "cte",
        "WITH per_order AS (SELECT l_orderkey, COUNT(*) AS n_lines, "
        "SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty FROM AllData "
        "WHERE l_returnflag <> '{p}' GROUP BY l_orderkey) "
        "SELECT n_lines, COUNT(*) AS n_orders, SUM(qty) AS qty FROM per_order "
        "GROUP BY n_lines ORDER BY n_lines",
        "WITH per_order AS (SELECT l_orderkey, COUNT(*) AS n_lines, "
        "SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty FROM vview "
        "WHERE l_returnflag <> '{p}' GROUP BY l_orderkey) "
        "SELECT n_lines, COUNT(*) AS n_orders, SUM(qty) AS qty FROM per_order "
        "GROUP BY n_lines ORDER BY n_lines",
        ("n_lines",),
        lambda r: r.choice("ANR"),
    ),
    (
        "quoted",
        'SELECT "l_linestatus", "l_shipmode", COUNT(*) AS "n lines" FROM AllData '
        "WHERE l_tax <= {p} "
        'GROUP BY "l_linestatus", "l_shipmode" '
        'ORDER BY "l_linestatus", "l_shipmode" NULLS FIRST',
        'SELECT "l_linestatus", "l_shipmode", COUNT(*) AS "n lines" FROM vview '
        "WHERE l_tax <= {p} "
        'GROUP BY "l_linestatus", "l_shipmode" '
        'ORDER BY "l_linestatus", "l_shipmode" NULLS FIRST',
        ("l_linestatus", "l_shipmode"),
        lambda r: r.randint(2, 8) / 100,
    ),
    (
        # always the session's last re-query: sort steps and the save act on
        # its view, so every session saves a similar share of the file
        "rename",
        "SELECT * RENAME (l_quantity AS qty, l_shipmode AS mode) FROM AllData "
        "WHERE l_linenumber = {p} ORDER BY long_id",
        "SELECT long_id, l_orderkey, l_linenumber, l_quantity AS qty, l_extendedprice, "
        "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_shipmode AS mode "
        "FROM vview WHERE l_linenumber = {p} ORDER BY long_id",
        ("long_id",),
        lambda r: r.randint(1, 7),
    ),
)
FORCE_STRING = ("^long_id$", "^long_.*$")  # both match only long_id
SAVE_FORMATS = ("csv", "parquet", "ndjson", "json")
SORT_STEPS = 3
PAGE = 50


def viewer_load_config(path: str):
    from polars_view_spark import LoadConfig

    return LoadConfig(
        path=path,
        drop=True,
        drop_regex="^l_comment$",
        normalize=True,
        normalize_regex="^l_(quantity|extendedprice|discount|tax)$",
        force_string_patterns=FORCE_STRING[0],
    )


def viewer_plan(seed: int):
    """Endless op stream of viewer sessions.  Yields op dicts; one session
    is: open, every re-query template once (seeded order and parameters,
    ``rename`` last, one of the others forcing a re-read), SORT_STEPS
    header clicks on one column of the last view, one save."""
    rng = random.Random(f"viewer:{seed}")
    session = 0
    formats: list[str] = []
    while True:
        yield {"kind": "open", "session": session}
        body = [q for q in VIEWER_QUERIES if q[0] != "rename"]
        rng.shuffle(body)
        reread_at = rng.randrange(len(body))
        for i, q in enumerate(body + [VIEWER_QUERIES[-1]]):
            yield {
                "kind": "requery", "session": session, "template": q[0],
                "param": q[4](rng), "reread": i == reread_at,
            }
        yield {"kind": "sort", "session": session, "column_draw": rng.random(), "step": 1}
        for step in range(2, SORT_STEPS + 1):
            yield {"kind": "sort", "session": session, "step": step}
        if not formats:
            formats = list(SAVE_FORMATS)
            rng.shuffle(formats)
        yield {"kind": "save", "session": session, "format": formats.pop()}
        session += 1


class ViewerSession:
    """The client side of one viewer: holds the open container and the
    current view, and performs ops from ``viewer_plan``."""

    def __init__(self, client: Client, csv_path: str, out_dir: str) -> None:
        from polars_view_spark.config import ViewConfig

        self.c = client
        self.csv = csv_path
        self.out_dir = out_dir
        self.view_cfg = ViewConfig(float_decimals=4)
        self.cfg = viewer_load_config(csv_path)
        self.container = None
        self.force = 0
        self.last_query = None  # (template, param)
        self.sort_col = None
        self.sort_state = None

    def _page(self, df) -> dict:
        from polars_view_spark.meta.display import format_page

        page = format_page(df, self.view_cfg, 0, PAGE)
        return {"page": page, "dtypes": [f.dataType.simpleString() for f in df.schema.fields]}

    def run(self, op: dict) -> dict:
        from polars_view_spark import DataContainer, SortBy
        from polars_view_spark.config import SortState
        from polars_view_spark.sources.writers import save_as

        spark = self.c.spark
        kind = op["kind"]
        if kind == "open":
            spark.catalog.clearCache()  # the previous file is closed
            self.cfg = viewer_load_config(self.csv)
            self.container = DataContainer.load_data(spark, self.cfg)
            self.last_query = None
            return {**self._page(self.container.df), "view": None}
        if kind == "requery":
            tpl = next(q for q in VIEWER_QUERIES if q[0] == op["template"])
            cfg = self.cfg.with_(apply_sql=True, query=tpl[1].format(p=op["param"]))
            if op["reread"]:
                self.force = 1 - self.force
                cfg = cfg.with_(force_string_patterns=FORCE_STRING[self.force])
            self.container = self.container.requery(spark, cfg)
            self.cfg = self.container.cfg
            self.last_query = (op["template"], op["param"])
            self.sort_col = None
            return {**self._page(self.container.df), "view": self.last_query}
        if kind == "sort":
            if op["step"] == 1:
                cols = self.container.df_original.columns
                self.sort_col = cols[int(op["column_draw"] * len(cols))]
                self.sort_state = SortState.NOT_SORTED
            self.sort_state = self.sort_state.next_state()
            crit = SortBy.from_state(self.sort_col, self.sort_state)
            self.container = self.container.with_sort([crit] if crit else [])
            return {
                **self._page(self.container.df),
                "view": self.last_query,
                "sort": (self.sort_col, self.sort_state.name),
            }
        if kind == "save":
            path = os.path.join(self.out_dir, f"s{op['session']}.{op['format']}")
            fmt = save_as(self.container.df, path, csv_delimiter=";")
            return {
                "path": path, "format": fmt, "view": self.last_query,
                "sort": (self.sort_col, self.sort_state.name) if self.sort_col else None,
                "columns": self.container.df.columns,
            }
        raise ValueError(f"unknown viewer op {kind!r}")


class ViewerOracle:
    """DuckDB over the same generated rows, typed the way the program's
    pipeline types them (euro strings → double, null markers → NULL)."""

    def __init__(self, con) -> None:
        self.con = con
        con.execute(
            "CREATE OR REPLACE TABLE vfull AS SELECT pos, long_id, "
            "CAST(l_orderkey AS INTEGER) AS l_orderkey, "
            "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
            + ", ".join(
                f"TRY_CAST(replace(replace({c}, '.', ''), ',', '.') AS DOUBLE) AS {c}"
                for c in datagen.EURO_COLUMNS
            )
            + ", l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS l_shipdate, "
            f"CASE WHEN trim(l_shipmode) IN ('', '{datagen.NULL_MARKER}') THEN NULL "
            "ELSE l_shipmode END AS l_shipmode FROM vsrc"
        )
        con.execute("CREATE OR REPLACE VIEW vview AS SELECT * EXCLUDE (pos) FROM vfull")

    def view_sql(self, view, sort=None) -> str:
        """Oracle SQL for a view (``None`` = the opened file, in file order),
        optionally re-sorted stably by ``(column, SortState name)``."""
        if view is None:
            base, keys = "SELECT * EXCLUDE (pos) FROM vfull ORDER BY pos", None
        else:
            tpl = next(q for q in VIEWER_QUERIES if q[0] == view[0])
            base, keys = tpl[2].format(p=view[1]), tpl[3]
        if not sort or sort[1] == "NOT_SORTED":
            return base
        col, state = sort
        direction = "ASC" if state.startswith("ASC") else "DESC"
        nulls = "LAST" if state.endswith("LAST") else "FIRST"
        if view is None:
            tail = "pos"
            base = "SELECT * FROM vfull"
            outer = "* EXCLUDE (pos)"
        else:
            tail = ", ".join(f'"{k}" NULLS FIRST' for k in keys)
            outer = "*"
        return (
            f"SELECT {outer} FROM ({base}) v "
            f'ORDER BY "{col}" {direction} NULLS {nulls}, {tail}'
        )

    def page(self, sql: str, dtypes: list[str], view_cfg) -> list[list[str]]:
        from polars_view_spark.meta.display import format_value

        rel = self.con.sql(f"SELECT * FROM ({sql}) LIMIT {PAGE}")
        cols = rel.columns
        out = [list(cols)]
        for row in rel.fetchall():
            out.append([format_value(v, t, view_cfg, n) for v, t, n in zip(row, dtypes, cols)])
        return out


def check_viewer(oracle: ViewerOracle, session: ViewerSession, op: dict, out: dict) -> str | None:
    kind = op["kind"]
    if kind in ("open", "requery", "sort"):
        got = out["page"]
        header = got[0]
        sql = oracle.view_sql(out["view"], out.get("sort"))
        types = out["dtypes"]
        want = oracle.page(sql, types, session.view_cfg)
        if want[0] != header:
            return f"{kind}: columns {header} != oracle {want[0]}"
        if len(want) != len(got):
            return f"{kind}: page has {len(got) - 1} rows, oracle {len(want) - 1}"
        for i, (g, w) in enumerate(zip(got[1:], want[1:])):
            if g != w:
                return f"{kind} {out['view']} {out.get('sort')}: row {i} {g} != oracle {w}"
        return None
    if kind == "save":
        sql = oracle.view_sql(out["view"], out.get("sort"))
        want_n = oracle.con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        reader = {
            "csv": "read_csv('{p}', delim=';', header=true, all_varchar=true)",
            "parquet": "read_parquet('{p}')",
            "ndjson": "read_json('{p}', format='newline_delimited')",
            "json": "read_json('{p}', format='array')",
        }[out["format"]].format(p=out["path"])
        got = oracle.con.sql(f"SELECT * FROM {reader}")
        got_n = oracle.con.sql(f"SELECT count(*) FROM {reader}").fetchone()[0]
        if got_n != want_n:
            return f"save {out['format']}: {got_n} rows written, oracle {want_n}"
        if out["format"] in ("csv", "parquet") and list(got.columns) != list(out["columns"]):
            return f"save {out['format']}: columns {got.columns} != {out['columns']}"
        if out["format"] == "parquet":
            want_rows = oracle.con.sql(sql)
            if result_hash(want_rows.columns, want_rows.fetchall()) != result_hash(
                got.columns, got.fetchall()
            ):
                return "save parquet: written values differ from the oracle view"
        return None
    return f"unknown op kind {kind}"

