"""scripts/perfbench_ab.py: the verdict arithmetic (pair wins, ties,
quartiles, the gain rule and the regression bound) and the ABBA loop that
scripts/ab10x.py shares."""

from scripts.perfbench_ab import failed_share, interleaved, summarize

SPEC = [
    {"name": "op_geomean_s", "better": "lower", "bound": 0.25},
    {"name": "ops_per_s", "better": "higher", "bound": 0.25},
]


def _pairs(old, new, key="op_geomean_s"):
    return [
        {"old": {"metrics": {key: o}, "attempted": 10, "failed": 0},
         "new": {"metrics": {key: n}, "attempted": 10, "failed": 0}}
        for o, n in zip(old, new)
    ]


def test_gain_needs_nine_tenths_and_a_gap_beyond_the_old_iqr():
    old = [1.0, 1.1, 0.9, 1.0, 1.05, 0.95, 1.0, 1.02, 0.98, 1.0]
    s = summarize(_pairs(old, [v * 0.6 for v in old]), SPEC[:1])["op_geomean_s"]
    assert s["wins"] == 10 and s["gain"] and not s["beyond_bound"]
    assert s["worse_by"] < 0

    # 8 of 10 pairs won: no claim, however large the gap
    new = [v * 0.6 for v in old[:8]] + [v * 1.1 for v in old[8:]]
    assert not summarize(_pairs(old, new), SPEC[:1])["op_geomean_s"]["gain"]

    # every pair won, but by less than the old side's spread
    s = summarize(_pairs(old, [v - 0.01 for v in old]), SPEC[:1])["op_geomean_s"]
    assert s["wins"] == 10 and not s["gain"]


def test_ties_count_for_neither_side():
    s = summarize(_pairs([1.0, 2.0], [1.0, 1.5]), SPEC[:1])["op_geomean_s"]
    assert (s["wins"], s["ties"], s["win_ratio"]) == (1, 1, 0.5)


def test_higher_is_better_and_the_bound():
    s = summarize(_pairs([2.0] * 4, [1.4] * 4, "ops_per_s"), SPEC[1:])["ops_per_s"]
    assert s["wins"] == 0 and abs(s["worse_by"] - 0.3) < 1e-12 and s["beyond_bound"]


def test_errored_or_incorrect_new_runs_are_losses():
    # 10 pairs, the new side far faster in every run that finished cleanly
    old = [1.0] * 10
    pairs = _pairs(old, [0.5] * 10)
    pairs[9]["new"] = {"error": "exit 1"}
    s = summarize(pairs, SPEC[:1])["op_geomean_s"]
    assert (s["pairs"], s["wins"], s["new"]["runs"]) == (10, 9, 9) and s["gain"]
    pairs[8]["new"] = {"error": "exit 1"}
    s = summarize(pairs, SPEC[:1])["op_geomean_s"]
    assert (s["pairs"], s["wins"]) == (10, 8) and not s["gain"]

    pairs = _pairs(old, [0.5] * 10)
    pairs[0]["new"]["failed"] = pairs[1]["new"]["failed"] = 1
    s = summarize(pairs, SPEC[:1])["op_geomean_s"]
    assert s["wins"] == 8 and not s["gain"]
    f = failed_share(pairs, "new")
    assert (f["runs_errored"], f["failed"], f["attempted"]) == (0, 2, 100)


def test_more_failed_ops_block_the_claim():
    pairs = _pairs([1.0] * 20, [0.5] * 20)
    pairs[0]["new"]["failed"] = 1  # one lost pair of twenty: 19/20 won
    s = summarize(pairs, SPEC[:1])["op_geomean_s"]
    assert s["wins"] == 19 and not s["gain"]
    pairs[1]["old"]["failed"] = 1  # as many failed ops on the old side
    s = summarize(pairs, SPEC[:1])["op_geomean_s"]
    assert s["wins"] == 18 and s["gain"]


def test_a_side_without_finished_runs_has_no_verdict():
    pairs = _pairs([1.0, 1.0], [0.5, 0.5])
    for p in pairs:
        p["new"] = {"error": "timed out"}
    s = summarize(pairs, SPEC[:1])["op_geomean_s"]
    assert (s["pairs"], s["wins"], s["gain"]) == (2, 0, False) and "new" not in s


def test_interleaved_alternates_the_first_side():
    calls = []
    pairs = interleaved(4, lambda side, i: calls.append((i, side)) or {"i": i})
    assert [c[1] for c in calls] == ["old", "new", "new", "old", "old", "new", "new", "old"]
    assert [p["first"] for p in pairs] == ["old", "new", "old", "new"]
    assert all(p["old"]["i"] == p["new"]["i"] == i for i, p in enumerate(pairs))

