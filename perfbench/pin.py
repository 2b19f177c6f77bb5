"""Pin the catalog entries' expected results: run each entry's DuckDB
oracle once over the generated base tables and record row count and
order-insensitive value hash in ``expected.json``.

    python3 perfbench/pin.py            # both scales
    python3 perfbench/pin.py --scale smoke

The MinHash oracles are far too slow to run per benchmark run; the tables
are seed-independent, so pinning once is enough.  Re-pin after changing
``datagen.py`` (and bump ``TABLES_VERSION``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402
from stats import result_hash  # noqa: E402


def pin(scale: str) -> dict:
    import duckdb

    sys.path.insert(0, run.ROOT)
    from polars_view_spark.catalog import entries

    cfg = run.SCALES[scale]
    sizes = datagen.table_sizes(cfg["lineitem"], cfg["documents"], cfg["embeddings"], cfg["events"])
    tables = os.path.join(HERE, "_work", f"tables-{scale}")
    datagen.build_tables(tables, sizes)
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    cat = entries()
    out = {}
    for name in wl.LLM_PIPELINE:
        t0 = time.perf_counter()
        rel = con.sql(cat[name].oracle)
        n, digest = result_hash(rel.columns, rel.fetchall())
        out[name] = {"rows": n, "hash": digest}
        print(f"{scale} {name}: {n} rows, {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    con.close()
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--scale", choices=tuple(run.SCALES))
    args = p.parse_args()
    path = os.path.join(HERE, "expected.json")
    pinned = {}
    if os.path.exists(path):
        with open(path) as f:
            pinned = json.load(f)
    for scale in [args.scale] if args.scale else list(run.SCALES):
        pinned[scale] = pin(scale)
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
