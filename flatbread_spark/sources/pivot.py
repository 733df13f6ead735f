"""Pivot-table construction: long/fact table → FlatFrame.

The reference *assumes* its inputs are already pivoted (crosstab-shaped)
pandas frames; producing them at 100 TB is the engine's job. This module maps
``pd.pivot_table``-style construction onto ``df.groupBy(index).pivot(col,
values).agg(...)`` — a single shuffle with map-side partial aggregation, with
the pivoted column list either supplied (no extra job) or discovered by Spark.

Design notes for scale:
- Pass ``column_values`` whenever known: it skips Spark's internal distinct
  job AND bounds the output width (a pivot over an unbounded-cardinality
  column is a modelling error at any scale).
- Multiple pivot fields are combined into one key with a ``\\x1f`` separator
  (Spark pivots a single expression); labels are split back for the
  column-MultiIndex metadata.
- Row order: ``__pos__`` by index order — matching ``pd.pivot_table``'s sorted
  group keys.
"""
from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flatbread_spark.cache import pin
from flatbread_spark.aggfuncs import column_agg, nan_safe
from flatbread_spark.frame import ColInfo, FlatFrame, make_col_name

_SEP = "\x1f"


def pivot_table(
    df: DataFrame,
    index: str | Sequence[str],
    columns: str | Sequence[str] | None = None,
    values: str | Sequence[str] = None,
    aggfunc: str = "sum",
    column_values: Sequence[Any] | None = None,
    fill_value: Any = None,
    persist: bool = True,
) -> FlatFrame:
    """Spark analog of ``pd.pivot_table`` returning a FlatFrame.

    index/columns/values are column names of ``df``; ``aggfunc`` is a named
    aggregate (JVM built-in — see ``flatbread_spark.aggfuncs``).

    ``persist`` (default on) caches the pivot output. The pivot is read
    several times before the first margin op's result is anchored as a
    local relation (``FlatFrame._anchor``): the ``from_df`` size probe, the
    ``__pos__`` window, and the first op's plan branches (data, margin
    aggregate, placement ``max(__pos__)``). Without a persist each of those re-derives the pivot from
    the fact-table scan. Later ops in the chain read the anchored rows, not
    this cache, except on a frame above ``engine.pos_auto_threshold``, which
    stays lazy and keeps reading the cache from every branch. The pivot
    boundary is exactly where cardinality collapses from fact-scale to
    presentation-scale (#groups), so the cache is KB-sized while the savings
    are full scans+shuffles of the input.
    """
    index = [index] if isinstance(index, str) else list(index)
    columns = (
        [] if columns is None else [columns] if isinstance(columns, str) else list(columns)
    )
    if values is None:
        raise ValueError("values is required")
    values = [values] if isinstance(values, str) else list(values)
    fn = column_agg(aggfunc)

    if not columns:
        agged = df.groupBy(*index).agg(*[fn(nan_safe(df, v)).alias(v) for v in values])
        if persist:
            agged = pin(agged, tag="pivot")
        ff = FlatFrame.from_df(agged, index=index)
        ff.col_names = [None]
        return ff

    pivot_expr = (
        F.col(columns[0]).cast("string")
        if len(columns) == 1
        else F.concat_ws(_SEP, *[F.col(c).cast("string") for c in columns])
    )
    gb = df.withColumn("__piv__", pivot_expr).groupBy(*index)
    if column_values is not None:
        pv = [
            str(v) if not isinstance(v, (list, tuple)) else _SEP.join(map(str, v))
            for v in column_values
        ]
        piv = gb.pivot("__piv__", pv)
    else:
        piv = gb.pivot("__piv__")

    if len(values) == 1:
        agged = piv.agg(fn(nan_safe(df, values[0])))
    else:
        agged = piv.agg(*[fn(nan_safe(df, v)).alias(v) for v in values])

    # Spark names pivoted columns "<pivval>" or "<pivval>_<aggalias>"
    pivoted = [c for c in agged.columns if c not in index]
    infos: list[ColInfo] = []
    sel: list[Column] = [F.col(c) for c in index]
    used: list[str] = list(index)
    for c in pivoted:
        if len(values) == 1:
            col_key, val_name = c, values[0]
        else:
            # Spark names these "<pivval>_<valuealias>"; rpartition("_")
            # mis-splits when the value name itself contains "_" (e.g.
            # "unit_qty"), so resolve by suffix-matching the known values.
            # Longest-suffix wins; residual ambiguity: a pivot value ending
            # in "_<other-value-alias>" (e.g. values ['qty','unit_qty'] with
            # pivot key 'X_unit') still mis-splits — escape "_" in value
            # aliases to avoid it (ADVICE r2, documented limitation).
            matches = [v for v in values if c.endswith(f"_{v}")]
            if not matches:
                raise ValueError(
                    f"pivoted column {c!r} does not end with any declared "
                    f"value alias {values!r} — cannot split pivot-key from "
                    "value name (did the aggfunc alias change the naming?)"
                )
            val_name = max(matches, key=len)
            col_key = c[: -len(val_name) - 1]
        parts = tuple(col_key.split(_SEP))
        labels = parts + (val_name,) if len(values) > 1 else parts
        name = make_col_name(labels, used)
        used.append(name)
        expr = F.col(f"`{c}`")
        if fill_value is not None:
            expr = F.coalesce(expr, F.lit(fill_value))
        sel.append(expr.alias(name))
        infos.append(ColInfo(labels, name))

    # stable column order: pandas sorts pivoted labels
    order = sorted(range(len(infos)), key=lambda i: infos[i].labels)
    infos = [infos[i] for i in order]
    sel = sel[: len(index)] + [sel[len(index) + i] for i in order]

    out = agged.select(*sel)
    if persist:
        out = pin(out, tag="pivot")
    ff = FlatFrame.from_df(
        out,
        index=index,
        value_cols=[ci.name for ci in infos],
        col_labels=[ci.labels for ci in infos],
        col_names=(columns + ([None] if len(values) > 1 else [])) if columns else [None],
    )
    return ff


def crosstab(
    df: DataFrame,
    index: str | Sequence[str],
    columns: str | Sequence[str],
    column_values: Sequence[Any] | None = None,
) -> FlatFrame:
    """Count crosstab (``pd.crosstab`` analog): pivot with count agg."""
    return pivot_table(
        df.withColumn("__one__", F.lit(1)),
        index=index,
        columns=columns,
        values="__one__",
        aggfunc="count",
        column_values=column_values,
        fill_value=0,
    )
