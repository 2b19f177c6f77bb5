"""Interleaved A/B of the repository benchmark (``perfbench/run.py``): an
old git ref against the working tree.

    python3 scripts/perfbench_ab.py --old HEAD~1 --workload viewer --pairs 10 \\
        [--seeds 11,12,13] [--out plans/perfbench_ab/x.json]

The old ref is exported with ``git archive`` into a throwaway directory,
deleted afterwards (no worktree bookkeeping is left in the repository).
Each pair runs both sides on the same seed, each a fresh
``perfbench/run.py --trace 0`` process at BENCHMARK.json's ``run_seconds``,
alternating which side goes first so slow drift of a shared host weighs on
both sides equally.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles over its finished runs, the pairs the new side won out of
all pairs run (ties count for neither side), whether a gain may be
claimed, and by how much the new median is worse than the old one,
relative to the old, against the metric's bound.  A pair is won only when
both runs finished with no failed operation and the new value is better;
an errored or incorrect run, on either side, is no win.  A gain needs at
least nine tenths of the pairs won, the medians apart by more than the old
side's interquartile range, and no larger share of failed operations on
the new side.  The JSON artifact holds every run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 1200.0  # per benchmark process


@contextmanager
def exported(ref: str) -> Iterator[tuple[str, str]]:
    """The files of ``ref`` in a throwaway directory, deleted on exit;
    yields ``(directory, commit id)``."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout.strip()
    dest = tempfile.mkdtemp(prefix="ab_old_")
    try:
        archive = subprocess.Popen(["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        archive.stdout.close()
        if archive.wait() != 0:
            raise RuntimeError(f"git archive {sha} failed")
        yield dest, sha
    finally:
        shutil.rmtree(dest, ignore_errors=True)


def interleaved(n: int, run: Callable[[str, int], dict]) -> list[dict]:
    """``n`` pairs of ``run(side, i)``: old first in even pairs, new first
    in odd ones."""
    pairs = []
    for i in range(n):
        sides = ("old", "new") if i % 2 == 0 else ("new", "old")
        pair = {"first": sides[0]}
        for side in sides:
            pair[side] = run(side, i)
        pairs.append(pair)
    return pairs


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark process; its result line, or ``{"error": ...}``."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {TIMEOUT_S:.0f} s"}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}: {proc.stderr[-1500:]}"}
    res = json.loads(lines[-1])
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: v["value"] for k, v in res["metrics"].items()},
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def failed_share(pairs: list[dict], side: str) -> dict:
    runs = [p[side] for p in pairs]
    attempted = sum(r.get("attempted", 0) for r in runs)
    failed = sum(r.get("failed", 0) for r in runs)
    return {
        "runs": len(runs),
        "runs_errored": sum(1 for r in runs if "error" in r),
        "attempted": attempted,
        "failed": failed,
        "failed_share": failed / attempted if attempted else None,
    }


def summarize(pairs: list[dict], spec: list[dict]) -> dict:
    """Per-metric verdict over all ``pairs``; ``spec`` is BENCHMARK.json's
    ``end_to_end`` list."""
    clean = [
        "metrics" in p["old"] and "metrics" in p["new"]
        and p["old"]["failed"] == 0 and p["new"]["failed"] == 0
        for p in pairs
    ]
    old_fail = failed_share(pairs, "old")["failed_share"] or 0.0
    new_fail = failed_share(pairs, "new")["failed_share"] or 0.0
    out: dict = {}
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        old = [p["old"]["metrics"][name] for p in pairs if "metrics" in p["old"]]
        new = [p["new"]["metrics"][name] for p in pairs if "metrics" in p["new"]]
        wins = sum(
            1 for p, ok in zip(pairs, clean) if ok and (
                p["new"]["metrics"][name] < p["old"]["metrics"][name] if lower
                else p["new"]["metrics"][name] > p["old"]["metrics"][name])
        )
        ties = sum(
            1 for p, ok in zip(pairs, clean)
            if ok and p["new"]["metrics"][name] == p["old"]["metrics"][name]
        )
        s: dict = {"pairs": len(pairs), "wins": wins, "ties": ties,
                   "win_ratio": wins / len(pairs) if pairs else 0.0, "gain": False}
        out[name] = s
        if not old or not new:
            continue
        oq, nq = quartiles(old), quartiles(new)
        better = nq[1] < oq[1] if lower else nq[1] > oq[1]
        worse_by = ((nq[1] - oq[1]) if lower else (oq[1] - nq[1])) / oq[1] if oq[1] else 0.0
        s.update(
            old={"runs": len(old), "q1": oq[0], "median": oq[1], "q3": oq[2]},
            new={"runs": len(new), "q1": nq[0], "median": nq[1], "q3": nq[2]},
            gain=(better and wins >= 0.9 * len(pairs)
                  and abs(nq[1] - oq[1]) > oq[2] - oq[0] and new_fail <= old_fail),
            worse_by=worse_by,
            bound=m["bound"],
            beyond_bound=worse_by > m["bound"],
        )
    return out


def main(argv=None) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--old", required=True, help="git ref of the old side")
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default=None,
                    help="comma-separated, one per pair (cycled); default 1..pairs")
    ap.add_argument("--out", default=None, help="JSON artifact path")
    args = ap.parse_args(argv)

    seconds = bench["run_seconds"]
    seeds = ([int(s) for s in args.seeds.split(",")] if args.seeds
             else list(range(1, args.pairs + 1)))
    with exported(args.old) as (old_dir, old_sha):
        def run(side: str, i: int) -> dict:
            seed = seeds[i % len(seeds)]
            t0 = time.perf_counter()
            r = run_once(old_dir if side == "old" else REPO, args.workload, seed, seconds)
            r["seed"], r["wall_s"] = seed, time.perf_counter() - t0
            shown = r.get("error") or ", ".join(f"{k}={v:.3f}" for k, v in r["metrics"].items())
            print(f"pair {i} seed {seed} {side}: {shown} (failed "
                  f"{r.get('failed', '-')}/{r.get('attempted', '-')})", flush=True)
            return r

        pairs = interleaved(args.pairs, run)

    summary = summarize(pairs, bench["end_to_end"])
    for name, s in summary.items():
        if "old" not in s:
            print(f"{name}: a side has no finished run; won {s['wins']}/{s['pairs']}")
            continue
        o, n = s["old"], s["new"]
        print(
            f"{name}: old {o['median']:.4f} [{o['q1']:.4f}, {o['q3']:.4f}]  "
            f"new {n['median']:.4f} [{n['q1']:.4f}, {n['q3']:.4f}]  "
            f"won {s['wins']}/{s['pairs']}  gain={s['gain']}  "
            f"worse_by={s['worse_by']:+.3f} (bound {s['bound']})"
        )
    fails = {side: failed_share(pairs, side) for side in ("old", "new")}
    print("failed ops: " + ", ".join(
        f"{side} {f['failed']}/{f['attempted']} ({f['runs_errored']} runs errored)"
        for side, f in fails.items()))
    artifact = {
        "workload": args.workload,
        "old_ref": args.old,
        "old_commit": old_sha,
        "new": "working tree",
        "seconds": seconds,
        "pairs": pairs,
        "summary": summary,
        "failed": fails,
    }
    out = args.out or os.path.join(
        REPO, "plans", "perfbench_ab", f"{args.workload}-{old_sha[:8]}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"artifact: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
