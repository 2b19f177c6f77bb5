"""Sort cycle + container lifecycle tests (reference: src/sort.rs:39-61
5-state cycle, src/data_container.rs:247-309 sort, 122-129 fast path)."""

import pytest

from polars_view_spark.config import LoadConfig, SortBy, SortState
from polars_view_spark.container import DataContainer
from polars_view_spark.operators.sort import apply_sort


class TestSortCycle:
    def test_five_states(self):
        s = SortState.NOT_SORTED
        seq = []
        for _ in range(5):
            s = s.next_state()
            seq.append(s)
        assert seq == [
            SortState.DESC_NULLS_FIRST,
            SortState.ASC_NULLS_FIRST,
            SortState.DESC_NULLS_LAST,
            SortState.ASC_NULLS_LAST,
            SortState.NOT_SORTED,
        ]

    def test_from_state_roundtrip(self):
        for s in SortState:
            sb = SortBy.from_state("c", s)
            if s == SortState.NOT_SORTED:
                assert sb is None
            else:
                assert sb.state == s


class TestApplySort:
    @pytest.fixture()
    def df(self, spark):
        return spark.createDataFrame(
            [(1, None), (2, 5.0), (3, 1.0), (4, None), (5, 3.0)], "id int, v double"
        )

    def test_nulls_first_desc(self, df):
        out = apply_sort(df, [SortBy("v", ascending=False, nulls_last=False)])
        vals = [r["v"] for r in out.collect()]
        assert vals == [None, None, 5.0, 3.0, 1.0]

    def test_nulls_last_asc(self, df):
        out = apply_sort(df, [SortBy("v", ascending=True, nulls_last=True)])
        assert [r["v"] for r in out.collect()] == [1.0, 3.0, 5.0, None, None]

    def test_stability_tiebreaker(self, spark):
        # equal keys keep the frame's CURRENT order (reference
        # maintain_order=true); spark.range over 8 partitions has a
        # deterministic ascending layout
        df = spark.range(0, 100, 1, 8).selectExpr("CAST(id AS INT) AS id", "CAST(id % 2 AS INT) AS k")
        out = apply_sort(df, [SortBy("k")])
        ids = [r["id"] for r in out.collect()]
        evens = [i for i in ids if i % 2 == 0]
        odds = [i for i in ids if i % 2 == 1]
        assert evens == sorted(evens) and odds == sorted(odds)

    def test_multi_key_precedence(self, spark):
        df = spark.createDataFrame(
            [("b", 1), ("a", 2), ("a", 1), ("b", 2)], "g string, n int"
        )
        out = apply_sort(df, [SortBy("g"), SortBy("n", ascending=False)])
        assert [(r["g"], r["n"]) for r in out.collect()] == [
            ("a", 2),
            ("a", 1),
            ("b", 2),
            ("b", 1),
        ]

    def test_empty_criteria_noop(self, df):
        assert apply_sort(df, []) is df

    def test_tiebreak_name_collision(self, spark):
        # a user column named like the internal tiebreak is sorted on and
        # kept; the tiebreak gets a unique name and never leaks
        df = spark.createDataFrame(
            [(3, 1, "a"), (1, 2, "b"), (2, 1, "c")], "`__pvs_stable_order__` int, id int, k string"
        )
        out = apply_sort(df, [SortBy("__pvs_stable_order__")])
        assert out.columns == df.columns
        assert [tuple(r) for r in out.collect()] == [(1, 2, "b"), (2, 1, "c"), (3, 1, "a")]


class TestContainer:
    @pytest.fixture()
    def csv(self, tmp_path):
        p = tmp_path / "data.csv"
        p.write_text("id;name;v\n2;b;20\n1;a;10\n3;<N/D>;30\n")
        return str(p)

    def test_load_and_pipeline(self, spark, csv):
        c = DataContainer.load_data(
            spark,
            LoadConfig(path=csv, apply_sql=True, query="SELECT * FROM AllData WHERE id <= 2"),
        )
        assert c.shape() == (2, 3)
        # null markers applied: '<N/D>' -> NULL (filtered row not in view)
        assert c.loaded_format == "csv"

    def test_sort_and_reset(self, spark, csv):
        c = DataContainer.load_data(spark, LoadConfig(path=csv))
        sorted_c = c.with_sort([SortBy("id", ascending=False)])
        assert [r["id"] for r in sorted_c.df.collect()] == [3, 2, 1]
        reset = sorted_c.with_sort([])
        assert reset.sort == []
        assert {r["id"] for r in reset.df.collect()} == {1, 2, 3}

    def test_requery_fast_path(self, spark, csv):
        import os

        c = DataContainer.load_data(spark, LoadConfig(path=csv))
        os.remove(csv)  # file gone -> any re-read would now fail
        c2 = c.requery(
            spark, c.cfg.with_(apply_sql=True, query="SELECT COUNT(*) AS n FROM AllData")
        )
        assert c2.df.first()["n"] == 3  # served from cache, no re-read

    @pytest.mark.parametrize(
        "change, want",
        [
            # only the null markers: 'a' becomes NULL, '<N/D>' stays a value
            ({"null_values": ("a",)}, [(1, None, 10.5, "1"), (2, "b", 20.25, "2.000,5"),
                                       (3, "<N/D>", 30.0, "<N/D>")]),
            # only the normalize regex: w is normalized instead of v
            ({"normalize_regex": "^w$"}, [(1, "a", "10,5", 1.0), (2, "b", "20,25", 2000.5),
                                          (3, None, "30", None)]),
            # only the drop regex: name is dropped instead of nothing
            ({"drop_regex": "^name$"}, [(1, 10.5, "1"), (2, 20.25, "2.000,5"), (3, 30.0, None)]),
        ],
    )
    def test_requery_prefix_change_rebuilds(self, spark, tmp_path, change, want):
        import os

        p = tmp_path / "prefix.csv"
        p.write_text("id;name;v;w\n2;b;20,25;2.000,5\n1;a;10,5;1\n3;<N/D>;30;<N/D>\n")
        cfg = LoadConfig(path=str(p), normalize=True, normalize_regex="^v$",
                         drop=True, drop_regex="^nothing$")
        c = DataContainer.load_data(spark, cfg)
        os.remove(p)  # file gone: every requery below runs on the cached source
        c2 = c.requery(
            spark, c.cfg.with_(apply_sql=True, query="SELECT * FROM AllData ORDER BY id", **change)
        )
        assert [tuple(r) for r in c2.df.collect()] == want

    def test_schema_listing(self, spark, csv):
        c = DataContainer.load_data(spark, LoadConfig(path=csv))
        listing = c.schema_listing()
        assert [(i, n) for i, n, _ in listing] == [(0, "id"), (1, "name"), (2, "v")]


class TestPinnedOrder:
    """One view pins its row order once; every later sort click and the
    save reuse it."""

    @pytest.fixture()
    def grouped(self, spark, tmp_path):
        # GROUP BY without ORDER BY: the view's own row order is whatever
        # the aggregate emits, and many groups tie on n
        p = tmp_path / "g.csv"
        p.write_text("id;k\n" + "".join(f"{i};{i % 40}\n" for i in range(400)))
        cfg = LoadConfig(
            path=str(p), apply_sql=True,
            query="SELECT k, COUNT(*) AS n, MIN(id) AS first_id FROM AllData GROUP BY k",
        )
        return DataContainer.load_data(spark, cfg)

    def test_later_clicks_run_one_job(self, spark, grouped):
        from polars_view_spark.meta.display import format_page

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        c = grouped
        jobs = []
        try:
            for i, crit in enumerate(
                [SortBy("n"), SortBy("n", ascending=False), SortBy("first_id", nulls_last=True)]
            ):
                group = f"pinned-order-click-{i}"
                sc.setJobGroup(group, group)
                c = c.with_sort([crit])  # one header click: re-sort, then the page
                format_page(c.df)
                jobs.append(len(tracker.getJobIdsForGroup(group)))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert jobs[1:] == [1, 1]

    def test_page_collect_and_save_agree_on_ties(self, spark, grouped, tmp_path):
        import pyarrow.parquet as pq

        from polars_view_spark.meta.display import format_page
        from polars_view_spark.sources.writers import save_as

        c = grouped.with_sort([SortBy("n", ascending=False)])
        rows = [(r["k"], r["n"], r["first_id"]) for r in c.df.collect()]
        assert len(rows) == 40 and len({n for _, n, _ in rows}) == 1  # all tie
        page = format_page(c.df, offset=0, limit=50)[1:]
        assert [tuple(int(v) for v in r) for r in page] == rows
        out = str(tmp_path / "sorted.parquet")
        save_as(c.df, out)
        saved = pq.read_table(out).to_pylist()
        assert [(r["k"], r["n"], r["first_id"]) for r in saved] == rows
        # a click elsewhere and back: the same pinned tie order
        again = c.with_sort([SortBy("k")]).with_sort([SortBy("n", ascending=False)])
        assert [(r["k"], r["n"], r["first_id"]) for r in again.df.collect()] == rows
        assert again._order is c._order
