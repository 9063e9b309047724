"""Z-order layout tests (functions/layout.py): Morton key math, NULL
contract, and the actual row-group pruning win measured from parquet
footer statistics — the scale claim, not taken on faith."""

import pytest
from pyspark.sql import functions as F

from nekton_spark.functions.layout import (
    rowgroups_matching,
    z_value,
    zorder_write,
)


class TestMortonKey:
    def test_interleave_hand_computed(self, spark):
        # columns already 0..3, bits=2: buckets are identity (min=0,
        # max=3 -> floor(x*3/3) = x); zv = interleave(a at even bits,
        # b at odd bits)
        rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(
            [(0, 0), (1, 0), (0, 1), (3, 3), (2, 1)]
        )]
        df = spark.createDataFrame(rows, "id long, a double, b double")
        out = {r.id: r.zv for r in z_value(df, "a", "b", bits=2).collect()}
        def morton(a, b):
            return sum(((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
                       for i in range(2))
        expect = {0: morton(0, 0), 1: morton(1, 0), 2: morton(0, 1),
                  3: morton(3, 3), 4: morton(2, 1)}
        assert out == expect

    def test_null_key_gives_null_zv(self, spark):
        df = spark.createDataFrame(
            [(1, 1.0, 2.0), (2, None, 2.0), (3, 1.0, None)],
            "id long, a double, b double",
        )
        out = {r.id: r.zv for r in z_value(df, "a", "b").collect()}
        assert out[2] is None and out[3] is None and out[1] is not None

    def test_constant_column_buckets_to_zero(self, spark):
        df = spark.createDataFrame(
            [(1, 5.0, 1.0), (2, 5.0, 2.0)], "id long, a double, b double"
        )
        out = sorted(r.zv for r in z_value(df, "a", "b").collect())
        # a contributes nothing (bucket 0); zv = interleaved b only
        assert out[0] == 0  # b=1.0 -> bucket 0

    def test_map_only_plan(self, spark):
        from nekton_spark import plans

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        df = z_value(e, "user_id", "value").select("event_id", "zv")
        assert plans.count_exchanges(df) == 0
        assert "pythonudf" not in plans.simple_plan(df).lower()


class TestMortonProperties:
    def test_per_axis_monotonicity(self, spark):
        """For a fixed value of one axis, the Morton key is strictly
        increasing in the other axis — the property that keeps a
        Z-curve segment's bounding box tight per dimension (and
        therefore makes the row-group pruning claim true)."""
        rows = []
        rid = 0
        for a in range(8):
            for b in range(8):
                rows.append((rid, float(a), float(b)))
                rid += 1
        df = spark.createDataFrame(rows, "id long, a double, b double")
        out = z_value(df, "a", "b", bits=3).collect()
        zv = {}
        for r in out:
            i = r.id
            zv[(i // 8, i % 8)] = r.zv
        for fixed in range(8):
            row_keys = [zv[(a, fixed)] for a in range(8)]
            col_keys = [zv[(fixed, b)] for b in range(8)]
            assert row_keys == sorted(row_keys) and len(set(row_keys)) == 8
            assert col_keys == sorted(col_keys) and len(set(col_keys)) == 8
        # and the full 64-key set is a permutation of 0..63
        assert sorted(zv.values()) == list(range(64))


class TestPruning:
    def test_zorder_prunes_rowgroups_vs_natural(self, spark, tmp_path):
        """The point of the operator: for a 2-D box predicate, the
        z-ordered layout's row-group min/max boxes must skip MORE row
        groups than the natural (insertion-order) layout — measured
        from real parquet footers, the same stats a scan prunes on."""
        e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        nat, zord = str(tmp_path / "nat"), str(tmp_path / "zord")
        e.repartitionByRange(8, "event_id").sortWithinPartitions(
            "event_id"
        ).write.mode("overwrite").parquet(nat)
        zorder_write(e, zord, "user_id", "value", n_files=8)

        lo_u, hi_u = 100, 400          # user_id spans ~0..3300
        lo_v, hi_v = 10.0, 30.0        # value spans ~0..100
        n_match, n_total = rowgroups_matching(
            nat, "user_id", lo_u, hi_u, "value", lo_v, hi_v
        )
        z_match, z_total = rowgroups_matching(
            zord, "user_id", lo_u, hi_u, "value", lo_v, hi_v
        )
        assert n_total == z_total >= 8
        # natural order is random w.r.t. (user_id, value): every row
        # group's box covers the predicate; z-order must skip some
        assert n_match == n_total
        assert z_match < n_match
        # and the layout must not lose rows
        assert (
            spark.read.parquet(zord).count() == e.count()
        )


class TestStatlessRowGroups:
    def test_all_null_chunk_counts_as_matching(self, tmp_path):
        # r10 ADVICE fix: statistics present but has_min_max unset
        # (all-NULL column chunk) must be treated as must-read, not
        # crash on None < int
        import pyarrow as pa
        import pyarrow.parquet as pq

        from nekton_spark.functions.layout import rowgroups_matching

        t = pa.table(
            {
                "a": pa.array([None, None], type=pa.int64()),
                "b": pa.array([1, 2], type=pa.int64()),
            }
        )
        p = str(tmp_path / "nulls.parquet")
        pq.write_table(t, p)
        match, total = rowgroups_matching(p, "a", 100, 200, "b", 1, 2)
        assert (match, total) == (1, 1)


class TestHilbertKey:
    def test_table_matches_xy2d_exhaustively(self):
        """The derived 4-state machine IS xy2d: every point of the
        64×64 grid, walked bit-by-bit through the (digit, next)
        tables, equals the reference loop."""
        from nekton_spark.functions.layout import (
            HILBERT_DIGIT,
            HILBERT_NEXT,
            HILBERT_STATES,
            _xy2d_py,
        )

        assert HILBERT_STATES == 4
        bits, n = 6, 64
        for x in range(n):
            for y in range(n):
                st, d = 0, 0
                for i in range(bits - 1, -1, -1):
                    q = (((x >> i) & 1) << 1) | ((y >> i) & 1)
                    d = d * 4 + HILBERT_DIGIT[st * 4 + q]
                    st = HILBERT_NEXT[st * 4 + q]
                assert d == _xy2d_py(bits, x, y)

    def test_bijection_and_unit_step_adjacency(self):
        """The two properties that make the curve a Hilbert curve:
        d is a bijection onto 0..n²−1 and consecutive d are
        grid-adjacent (|Δx|+|Δy| = 1 — the locality Morton lacks at
        its seams)."""
        from nekton_spark.functions.layout import _xy2d_py

        bits, n = 5, 32
        pos = {}
        for x in range(n):
            for y in range(n):
                pos[_xy2d_py(bits, x, y)] = (x, y)
        assert len(pos) == n * n and min(pos) == 0 and max(pos) == n * n - 1
        for d in range(n * n - 1):
            (x0, y0), (x1, y1) = pos[d], pos[d + 1]
            assert abs(x1 - x0) + abs(y1 - y0) == 1

    def test_spark_fold_matches_python(self, spark):
        import random

        from nekton_spark.functions.layout import _xy2d_py, hilbert_value

        bits, n = 8, 256
        rng = random.Random(7)
        rows = [(i, rng.randrange(n), rng.randrange(n)) for i in range(200)]
        df = spark.createDataFrame(rows, "id long, x long, y long")
        out = {
            r.id: r.hv
            for r in hilbert_value(
                df, "x", "y", bits=bits, ranges=((0, n - 1), (0, n - 1))
            ).collect()
        }
        for i, x, y in rows:
            assert out[i] == _xy2d_py(bits, x, y)

    def test_composed_tables_equal_per_level_walk(self):
        """r15 opt pin: the block-composed Hilbert tables and the
        interleave spread tables must reproduce the 1-level state
        machine EXHAUSTIVELY — every (state, quadrant-pack) cell for
        every block size the fold can use."""
        from nekton_spark.functions.layout import (
            HILBERT_DIGIT,
            HILBERT_NEXT,
            _composed_hilbert_tables,
            _interleave_tables,
        )

        for s in (1, 2, 3, 4):
            dig, nxt = _composed_hilbert_tables(s)
            size = 1 << (2 * s)
            for st0 in range(4):
                for b in range(size):
                    d, st = 0, st0
                    for k in range(s - 1, -1, -1):
                        q = (b >> (2 * k)) & 3
                        d = (d << 2) | HILBERT_DIGIT[st * 4 + q]
                        st = HILBERT_NEXT[st * 4 + q]
                    assert dig[st0 * size + b] == d, (s, st0, b)
                    assert nxt[st0 * size + b] == st, (s, st0, b)
            ix, iy = _interleave_tables(s)
            for xv in range(1 << s):
                for yv in range(1 << s):
                    pack = ix[xv] + iy[yv]
                    for k in range(s):
                        q = (pack >> (2 * k)) & 3
                        want = (((xv >> k) & 1) << 1) | ((yv >> k) & 1)
                        assert q == want, (s, xv, yv, k)

    def test_null_key_gives_null_hv(self, spark):
        from nekton_spark.functions.layout import hilbert_value

        df = spark.createDataFrame(
            [(1, 1.0, 2.0), (2, None, 2.0), (3, 1.0, None)],
            "id long, a double, b double",
        )
        out = {r.id: r.hv for r in hilbert_value(df, "a", "b").collect()}
        assert out[2] is None and out[3] is None and out[1] is not None

    def test_map_only_plan(self, spark):
        from nekton_spark import plans
        from nekton_spark.functions.layout import hilbert_value

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        df = hilbert_value(e, "user_id", "value").select("event_id", "hv")
        assert plans.count_exchanges(df) == 0
        assert "pythonudf" not in plans.simple_plan(df).lower()

    def test_hilbert_prunes_rowgroups_vs_natural(self, spark, tmp_path):
        """Same measured-pruning claim as the zorder test, for the
        Hilbert layout — and the Hilbert box predicate must prune at
        least as many row groups as natural order misses entirely."""
        from nekton_spark.functions.layout import hilbert_write

        e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        nat, hil = str(tmp_path / "nat"), str(tmp_path / "hil")
        e.repartitionByRange(8, "event_id").sortWithinPartitions(
            "event_id"
        ).write.mode("overwrite").parquet(nat)
        hilbert_write(e, hil, "user_id", "value", n_files=8)

        lo_u, hi_u = 100, 400
        lo_v, hi_v = 10.0, 30.0
        n_match, n_total = rowgroups_matching(
            nat, "user_id", lo_u, hi_u, "value", lo_v, hi_v
        )
        h_match, h_total = rowgroups_matching(
            hil, "user_id", lo_u, hi_u, "value", lo_v, hi_v
        )
        assert n_total == h_total >= 8
        assert n_match == n_total
        assert h_match < n_match
        assert spark.read.parquet(hil).count() == e.count()

    def test_bits_31_refused_for_hilbert(self, spark):
        """bits=31 is legal for the Morton key (2·31 = 62 bits) but the
        Hilbert fold's packed (d, state) accumulator would need
        2·31+2 = 64 bits — sign-bit corruption, refused."""
        from nekton_spark.functions.layout import hilbert_value

        df = spark.createDataFrame([(1, 1.0, 2.0)], "id long, a double, b double")
        with pytest.raises(ValueError, match="hilbert bits"):
            hilbert_value(df, "a", "b", bits=31)
        # bits=30 is the documented ceiling and must work
        assert hilbert_value(df, "a", "b", bits=30).collect()[0].hv is not None


class TestZValueN:
    def test_three_column_hand_computed(self, spark):
        from nekton_spark.functions.layout import z_value_n

        # identity buckets: each col spans 0..3 at bits=2
        rows = []
        rid = 0
        for a in range(4):
            for b in range(4):
                for c in range(4):
                    rows.append((rid, float(a), float(b), float(c)))
                    rid += 1
        df = spark.createDataFrame(rows, "id long, a double, b double, c double")
        out = {r.id: r.zv for r in z_value_n(df, ["a", "b", "c"], bits=2).collect()}

        def morton3(a, b, c):
            z = 0
            for i in range(2):
                z |= ((a >> i) & 1) << (i * 3)
                z |= ((b >> i) & 1) << (i * 3 + 1)
                z |= ((c >> i) & 1) << (i * 3 + 2)
            return z

        for rid2, (a, b, c) in enumerate(
            (a, b, c) for a in range(4) for b in range(4) for c in range(4)
        ):
            assert out[rid2] == morton3(a, b, c)
        # bijection onto 0..63
        assert sorted(out.values()) == list(range(64))

    def test_two_column_matches_z_value(self, spark):
        """k=2 must be bit-identical to the classic z_value — same
        placement i*2+j == (2i, 2i+1)."""
        from nekton_spark.functions.layout import z_value, z_value_n

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        a = z_value(e, "user_id", "value").select("event_id", "zv")
        b = z_value_n(e, ["user_id", "value"]).select("event_id", "zv")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_null_and_refusals(self, spark):
        import pytest as _pytest

        from nekton_spark.functions.layout import z_value_n

        df = spark.createDataFrame(
            [(1, 1.0, 2.0, 3.0), (2, None, 2.0, 3.0)],
            "id long, a double, b double, c double",
        )
        out = {r.id: r.zv for r in z_value_n(df, ["a", "b", "c"]).collect()}
        assert out[2] is None and out[1] is not None
        with _pytest.raises(ValueError, match="sign bit"):
            z_value_n(df, ["a", "b", "c"], bits=21)  # 63 > 62
        with _pytest.raises(ValueError, match=">= 2 columns"):
            z_value_n(df, ["a"])
        # auto width: 3 cols -> 62//3 = 20 bits per column
        assert z_value_n(df, ["a", "b", "c"]).collect()

    def test_map_only_plan(self, spark):
        from nekton_spark import plans
        from nekton_spark.functions.layout import z_value_n

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        df = z_value_n(e, ["user_id", "value", "event_id"]).select("event_id", "zv")
        assert plans.count_exchanges(df) == 0


class TestFooterRanges:
    """r16: the stats pre-pass reads parquet footer min/max (zero
    jobs) when — and only when — exactness is provable."""

    def _write(self, spark, tmp_path, rows, schema):
        p = str(tmp_path / "t.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        return spark.read.parquet(p)

    def test_matches_aggregate_on_plain_scan(self, spark, tmp_path):
        from nekton_spark.functions.layout import _footer_ranges

        df = self._write(
            spark,
            tmp_path,
            [(1, 2.5), (7, -3.25), (4, 0.5), (None, None)],
            "a long, b double",
        )
        fr = _footer_ranges(df, ["a", "b"])
        row = df.agg(
            F.min(F.col("a").cast("double")),
            F.max(F.col("a").cast("double")),
            F.min(F.col("b").cast("double")),
            F.max(F.col("b").cast("double")),
        ).first()
        assert fr == [(row[0], row[1]), (row[2], row[3])]

    def test_filter_disqualifies(self, spark, tmp_path):
        """Footer stats describe the FILES; a filtered frame must fall
        back to the aggregate (its min/max differ from the files')."""
        from nekton_spark.functions.layout import _footer_ranges

        df = self._write(
            spark, tmp_path, [(i, float(i)) for i in range(10)],
            "a long, b double",
        )
        assert _footer_ranges(df.filter("a < 3"), ["a", "b"]) is None

    def test_computed_column_disqualifies(self, spark, tmp_path):
        from nekton_spark.functions.layout import _footer_ranges

        df = self._write(
            spark, tmp_path, [(i, float(i)) for i in range(10)],
            "a long, b double",
        )
        shadowed = df.withColumn("b", F.col("b") * 2)
        assert _footer_ranges(shadowed, ["a", "b"]) is None
        renamed = df.select(F.col("a").alias("c"), "b")
        assert _footer_ranges(renamed, ["c", "b"]) is None

    def test_passthrough_project_allowed(self, spark, tmp_path):
        """The engine's table_source adds a ts-conversion Project on
        events; untouched columns must still take the footer path."""
        from nekton_spark.functions.layout import _footer_ranges

        df = self._write(
            spark, tmp_path, [(i, float(i), i * 10) for i in range(10)],
            "a long, b double, ts long",
        )
        proj = df.withColumn("ts", F.timestamp_micros(F.col("ts")))
        assert _footer_ranges(proj, ["a", "b"]) == [(0.0, 9.0), (0.0, 9.0)]

    def test_all_null_column_disqualifies(self, spark, tmp_path):
        from nekton_spark.functions.layout import _footer_ranges

        df = self._write(
            spark, tmp_path, [(1, None), (2, None)], "a long, b double"
        )
        assert _footer_ranges(df, ["a", "b"]) is None

    def test_string_column_disqualifies(self, spark, tmp_path):
        from nekton_spark.functions.layout import _footer_ranges

        df = self._write(
            spark, tmp_path, [(1, "x"), (2, "y")], "a long, b string"
        )
        assert _footer_ranges(df, ["a", "b"]) is None

    def _write_arrow(self, spark, tmp_path, table):
        """Write with pyarrow: INT64 TIMESTAMP and INT32 DATE columns
        whose footer stats pyarrow returns as datetime/date objects."""
        import pyarrow.parquet as pq

        p = str(tmp_path / "t_arrow.parquet")
        pq.write_table(table, p)
        return spark.read.parquet(p)

    def test_timestamp_column_falls_back(self, spark, tmp_path):
        import datetime

        import pyarrow as pa

        from nekton_spark.functions.layout import _footer_ranges

        ts = [datetime.datetime(2020, 1, 1) + datetime.timedelta(hours=i)
              for i in range(10)]
        df = self._write_arrow(spark, tmp_path, pa.table({
            "id": pa.array(range(10), pa.int64()),
            "a": pa.array(range(10), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }))
        assert _footer_ranges(df, ["a", "ts"]) is None
        # the key still builds, through the min/max aggregate pre-pass
        fast = {r.id: r.zv for r in z_value(df, "a", "ts").collect()}
        slow = {
            r.id: r.zv
            for r in z_value(df.filter("id >= 0"), "a", "ts").collect()
        }
        assert fast == slow and len(fast) == 10

    def test_date_column_falls_back(self, spark, tmp_path):
        import datetime

        import pyarrow as pa

        from nekton_spark.functions.layout import _footer_ranges

        days = [datetime.date(2020, 1, 1) + datetime.timedelta(days=i)
                for i in range(10)]
        df = self._write_arrow(spark, tmp_path, pa.table({
            "a": pa.array(range(10), pa.int64()),
            "d": pa.array(days, pa.date32()),
        }))
        assert _footer_ranges(df, ["a", "d"]) is None
        assert _footer_ranges(df, ["a"]) == [(0.0, 9.0)]

    def test_hilbert_value_identical_on_footer_and_agg_paths(
        self, spark, tmp_path
    ):
        """End-to-end: hv over a plain scan (footer path) equals hv
        over the same rows reached through a no-op filter (aggregate
        path) — the pre-pass source must never change the keys."""
        from nekton_spark.functions.layout import hilbert_value

        rows = [(i, i * 3 % 17, float(i * 7 % 23) / 3) for i in range(200)]
        df = self._write(spark, tmp_path, rows, "id long, a long, b double")
        fast = {
            r.id: r.hv for r in hilbert_value(df, "a", "b").collect()
        }
        slow = {
            r.id: r.hv
            for r in hilbert_value(df.filter("id >= 0"), "a", "b").collect()
        }
        assert fast == slow
