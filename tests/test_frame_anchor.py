"""Linear margin chains: every op that gives a FlatFrame a new ``df``
anchors the result as a local relation (``FlatFrame._anchor``). Each
anchored result is checked cell for cell against the lazy path (anchor
disabled with ``engine.pos_auto_threshold = 0``)."""
import math
import struct
from contextlib import contextmanager
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from flatbread_spark.config import CONFIG
from flatbread_spark.frame import FlatFrame

DEFAULT_THRESHOLD = 100_000


@contextmanager
def threshold(n):
    CONFIG.update_runtime({"engine": {"pos_auto_threshold": n}})
    try:
        yield
    finally:
        CONFIG.update_runtime({"engine": {"pos_auto_threshold": DEFAULT_THRESHOLD}})


@contextmanager
def arrow_collects(spark, monkeypatch):
    """Row counts of every ``DataFrame.toArrow`` call made inside."""
    seen = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.toArrow

    def spy(self):
        table = real(self)
        seen.append(table.num_rows)
        return table

    monkeypatch.setattr(cls, "toArrow", spy)
    yield seen
    monkeypatch.setattr(cls, "toArrow", real)


def _bits(v):
    """Exact identity of a cell: doubles by their IEEE bits (NaN, -0.0),
    decimals by their string form (scale included)."""
    if isinstance(v, float):
        return ("f", struct.pack(">d", v))
    if isinstance(v, Decimal):
        return ("d", str(v))
    return v


def _cells(ff: FlatFrame):
    return [tuple(_bits(v) for v in r) for r in ff.to_df().collect()]


def _is_local(ff: FlatFrame) -> bool:
    plan = ff.df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "Scan parquet" not in plan


def _qty_pivot(lineitem):
    from flatbread_spark import pivot_table

    return pivot_table(
        lineitem, index="l_returnflag", columns="l_linestatus",
        values="l_quantity", aggfunc="sum",
    )


def test_chain_jobs_and_plan_stay_linear(spark, lineitem):
    """1..6 chained add_agg('max') on the sf0.001 qty pivot: build +
    collect jobs grow by a constant per op (the lazy chain's plans grew
    3x per op: 6 -> 1458 printed scans), and the final plan has no
    nested-loop join."""
    tracker = spark.sparkContext.statusTracker()
    jobs, plans = {}, {}
    for depth in (1, 6):
        group = f"anchor-chain-{depth}"
        spark.sparkContext.setJobGroup(group, "anchor chain linearity")
        try:
            ff = _qty_pivot(lineitem)
            for i in range(depth):
                ff = ff.add_agg("max", label=f"m{i}")
            rows = ff.to_df().collect()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        assert len(rows) == 3 + depth
        jobs[depth] = len(tracker.getJobIdsForGroup(group))
        plans[depth] = ff.to_df()._jdf.queryExecution().executedPlan().toString()
    assert jobs[6] <= 3 * jobs[1], jobs  # measured 16 -> 33: ~3.4 per op
    assert "BroadcastNestedLoopJoin" not in plans[6]
    assert plans[6].count("Scan") <= plans[1].count("Scan")
    assert _is_local(ff)


def test_anchored_chain_matches_lazy_path(spark, lineitem):
    def chain():
        return (
            _qty_pivot(lineitem)
            .add_totals(axis=2)
            .add_agg("median", label="median")
            .add_agg("size", label="size")
            .add_percentages(axis=1, ndigits=1, base=100)
        )

    anchored = chain()
    assert _is_local(anchored)
    with threshold(0):
        lazy = chain()
        assert not _is_local(lazy)
        assert anchored.df.schema == lazy.df.schema
        assert _cells(anchored) == _cells(lazy)


def test_frame_over_threshold_stays_lazy(spark, monkeypatch):
    """Above the bound the anchor drops its probe: the frame keeps its lazy
    plan, no Arrow collect returns more than bound + 1 rows, and the next
    op does not probe again."""
    df = spark.range(12).select(
        F.format_string("k%02d", "id").alias("k"), F.col("id").cast("double").alias("v")
    )
    bound = 5
    with threshold(bound), arrow_collects(spark, monkeypatch) as seen:
        ff = FlatFrame.from_df(df, index=["k"], pos_strategy="window")
        out = ff.add_totals(axis=0)
        assert out._over_bound and not _is_local(out)
        assert seen == [bound + 1]
        out = out.add_agg("max", label="max")
        assert seen == [bound + 1]
        got = _cells(out)
    with threshold(0):
        lazy = (
            FlatFrame.from_df(df, index=["k"], pos_strategy="window")
            .add_totals(axis=0)
            .add_agg("max", label="max")
        )
        assert got == _cells(lazy)
    assert len(got) == 14


def test_wide_frame_under_row_threshold_stays_lazy(spark, monkeypatch):
    """The anchor's row bound shrinks with the frame's width: rows x columns
    never exceeds the cell cap, so a wide frame stays lazy even though its
    row count is far under the threshold."""
    import flatbread_spark.frame as frame_mod

    df = spark.range(4).select(
        F.format_string("k%d", "id").alias("k"),
        *[(F.col("id") * i).cast("double").alias(f"v{i}") for i in range(4)],
    )
    ff = FlatFrame.from_df(df, index=["k"], pos_strategy="window")
    ncols = len(ff.df.columns)  # k, v0..v3, __pos__
    monkeypatch.setattr(frame_mod, "_ANCHOR_MAX_CELLS", 3 * ncols)
    with arrow_collects(spark, monkeypatch) as seen:
        out = ff.add_totals(axis=0)
    assert out._over_bound and not _is_local(out)
    assert seen == [4]  # bound 3 rows + 1
    with threshold(0):
        lazy = FlatFrame.from_df(df, index=["k"], pos_strategy="window").add_totals(axis=0)
        assert _cells(out) == _cells(lazy)


def test_margins_past_threshold_keep_every_row(spark, lineitem):
    """A pivot exactly at the bound is anchored; the totals row pushes the
    next frame past it, which must stay lazy and complete."""
    with threshold(3):
        ff = _qty_pivot(lineitem)
        sub = ff.add_agg("sum", axis=1, label="row")
        assert _is_local(sub)
        out = sub.add_totals(axis=0).add_agg("min", label="min")
        assert out._over_bound
        got = _cells(out)
    with threshold(0):
        lazy = (
            _qty_pivot(lineitem)
            .add_agg("sum", axis=1, label="row")
            .add_totals(axis=0)
            .add_agg("min", label="min")
        )
        assert got == _cells(lazy)
    assert len(got) == 5
    assert [r[0] for r in got[-2:]] == ["Totals", "min"]


def test_empty_frame_keeps_its_schema(spark, monkeypatch):
    df = spark.createDataFrame(
        [], "k string, d double, b bigint, m decimal(38,12)"
    )
    ff = FlatFrame.from_df(df, index=["k"])
    with arrow_collects(spark, monkeypatch) as seen:
        out = ff.add_agg("max", axis=1, label="mx")
    assert seen == [0]
    assert out.df.count() == 0
    with threshold(0):
        lazy = FlatFrame.from_df(df, index=["k"]).add_agg("max", axis=1, label="mx")
    assert out.df.schema == lazy.df.schema


def test_special_cells_round_trip_bit_identical(spark, monkeypatch):
    """NaN, -0.0, NULL and decimal(38,x) cells pass through an anchor with
    their exact bits, types and nullability."""
    big = Decimal("12345678901234567890123456.123456789012")
    rows = [
        ("a", float("nan"), 1, big, None),
        ("b", -0.0, None, -big, Decimal("0.000000000001")),
        ("c", None, 2**62, None, Decimal("-1.5")),
        ("d", 1.5, 0, Decimal("0E-12"), Decimal("99999999999999999999999999.999999999999")),
    ]
    df = spark.createDataFrame(
        rows, "k string, d double, b bigint, m decimal(38,12), n decimal(38,12)"
    )
    ff = FlatFrame.from_df(df, index=["k"])
    with arrow_collects(spark, monkeypatch) as seen:
        out = ff.add_agg("count", axis=1, label="cnt")
    assert seen == [4]
    with threshold(0):
        lazy = FlatFrame.from_df(df, index=["k"]).add_agg("count", axis=1, label="cnt")
        assert out.df.schema == lazy.df.schema
        assert _cells(out) == _cells(lazy)
    got = {r["k"]: r for r in out.to_df().collect()}
    assert math.isnan(got["a"]["d"])
    assert math.copysign(1.0, got["b"]["d"]) == -1.0
    assert got["c"]["d"] is None and got["b"]["b"] is None
    assert got["a"]["m"] == big and got["b"]["m"] == -big
    assert got["c"]["b"] == 2**62


@pytest.mark.parametrize("aggfunc", ["first", "last", "size", "count", "nunique"])
def test_margin_aggregate_sees_data_rows_only(spark, aggfunc):
    """A margin over an anchored frame aggregates its data rows only:
    first/last return the first/last DATA row's value even when it is NULL,
    and size counts data rows only."""
    pdf_rows = [("a", None), ("b", 2.0), ("c", 3.0), ("d", None)]
    df = spark.createDataFrame(pdf_rows, "k string, v double")
    ff = FlatFrame.from_df(df, index=["k"], pos_strategy="window").add_totals(axis=0)
    out = ff.add_agg(aggfunc, label="agg", ignore_keys="Totals")
    got = {r["k"]: r["v"] for r in out.to_df().collect()}["agg"]
    expected = {"first": None, "last": None, "size": 4, "count": 2, "nunique": 2}[aggfunc]
    assert got == expected


def test_subtotals_drop_null_group_keys(spark):
    """add_subtotals on an anchored frame keeps the inner-join behaviour:
    a NULL first-level key gets no subtotal row."""
    rows = [("x", "p", 1), ("x", "q", 2), (None, "p", 3), (None, "q", 4)]
    df = spark.createDataFrame(rows, "g string, h string, v bigint")
    ff = FlatFrame.from_df(df, index=["g", "h"], pos_strategy="window")
    out = ff.add_subtotals(level=0)
    got = [(r["g"], r["h"], r["v"]) for r in out.to_df().collect()]
    assert ("x", "Subtotals", 3) in got
    assert [r for r in got if r[1] == "Subtotals"] == [("x", "Subtotals", 3)]
    assert len(got) == 5
