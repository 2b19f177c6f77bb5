"""Interleaved old-vs-new entry A/B harness — the round-10 §9a methodology
as a repeatable tool (VERDICT r10 task 6).

Why it exists: sf0.1 wins can be 10× losses.  The r10 `minhash_lsh_pairs`
cache→checkpoint swap measured ~0.6 s faster at sf0.1 and ~10 s slower on
the 10× instance (the eager checkpoint of a corpus-derived frame is a
scale-proportional job barrier even when the frame itself is narrow), and
only an INTERLEAVED same-session A/B caught it — cross-run absolutes on a
co-tenant box drift by ±25 %.  Any change touching a cache / checkpoint /
join strategy must run through this gate before it ships.

What it does: exports a git ref ("old") into a throwaway directory, then
runs the SAME bench entry alternately from old and the working tree
("new") — ABBA order across rounds so slow-drift bias cancels — each run a
fresh ``bench.py`` subprocess with the DuckDB and scaling blocks disabled
(``SPARK_GRAFT_BENCH_ONLY`` keeps sidecar files unwritten, so the harness
never overwrites a round's headline numbers).  Prints per-arm min/median
and writes a JSON artifact (default ``plans/rNN/ab_<entry>_<tag>.json``).
The export and the ABBA loop are ``exported``/``interleaved`` from
scripts/perfbench_ab.py, the same A/B over the repository benchmark.

Usage:
    python3 scripts/ab10x.py --entry d_minhash_lsh_pairs --old HEAD~1 \
        [--sf-dir /tmp/sfbig] [--rounds 3] [--out plans/r11/ab_x.json]

``--sf-dir`` defaults to the 10× instance (built via scripts/scale_sweep.py
if absent); pass /root/testdata/sf0.1 for a local-scale A/B.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.perfbench_ab import exported, interleaved  # noqa: E402


def _run_entry(checkout: str, entry: str, sf_dir: str) -> dict[str, float]:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_BENCH_ONLY=entry,
        SPARK_GRAFT_BENCH_DUCKDB="0",
        SPARK_GRAFT_BENCH_SCALING="0",
        SPARK_GRAFT_SF_DIR=sf_dir,
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=checkout,
        env=env,
        capture_output=True,
        text=True,
        check=False,
    )
    line = next(
        (ln for ln in reversed(proc.stdout.splitlines()) if ln.startswith("{")),
        None,
    )
    if proc.returncode != 0 or line is None:
        raise RuntimeError(
            f"bench run failed in {checkout} (rc={proc.returncode}):\n"
            f"{proc.stdout[-1500:]}\n{proc.stderr[-1500:]}"
        )
    return json.loads(line)["queries"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entry", required=True, help="bench entry name (prefix ok)")
    ap.add_argument("--old", required=True, help="git ref for the old arm")
    ap.add_argument("--sf-dir", default="/tmp/sfbig")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", default=None, help="JSON artifact path")
    args = ap.parse_args()

    if args.sf_dir == "/tmp/sfbig" and not os.path.exists(
        "/tmp/sfbig/lineitem.parquet"
    ):
        from scripts.scale_sweep import build

        print("building 10x instance under /tmp/sfbig ...", flush=True)
        build()

    with exported(args.old) as (old_dir, _):
        def run(arm: str, rnd: int) -> dict[str, float]:
            t0 = time.time()
            q = _run_entry(old_dir if arm == "old" else REPO, args.entry, args.sf_dir)
            print(
                f"round {rnd} {arm}: "
                + ", ".join(f"{k}={v:.3f}s" for k, v in sorted(q.items()))
                + f"  (wall {time.time() - t0:.0f}s)",
                flush=True,
            )
            return q

        rounds = interleaved(args.rounds, run)
    results = {arm: [r[arm] for r in rounds] for arm in ("old", "new")}
    order_log = [arm for r in rounds
                 for arm in (r["first"], "old" if r["first"] == "new" else "new")]
    summary: dict[str, dict] = {}
    names = sorted({k for runs in results.values() for q in runs for k in q})
    for name in names:
        summary[name] = {}
        for arm in ("old", "new"):
            vals = sorted(q[name] for q in results[arm] if name in q)
            summary[name][arm] = {
                "runs": [round(v, 4) for v in vals],
                "min": round(vals[0], 4),
                "median": round(statistics.median(vals), 4),
            }
        o, n = summary[name]["old"]["median"], summary[name]["new"]["median"]
        summary[name]["new_over_old_median"] = round(n / o, 3) if o else None
    artifact = {
        "entry": args.entry,
        "old_ref": args.old,
        "sf_dir": args.sf_dir,
        "rounds": args.rounds,
        "order": order_log,
        "summary": summary,
    }
    out = args.out or os.path.join(
        REPO, "plans", "r11", f"ab_{args.entry}.json"
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({k: v["new_over_old_median"] for k, v in summary.items()}))
    print(f"artifact: {out}")


if __name__ == "__main__":
    main()
