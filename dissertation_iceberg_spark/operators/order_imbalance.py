"""Conditional order-imbalance kernel + calendar densification.

Reference parity (SURVEY §2.4 A1-A3, §2.3 J3, §2.5 W4):
- A1 conditional OI: order_imbalance.py:242-249 applied per bin at
  :294-298 — OI = (Σ size[direction = -1] − Σ size[direction = +1]) /
  (Σ size[direction = -1] + Σ size[direction = +1])
- A2 iceberg-split OI: order_imbalance.py:381-386
- A3 first/last price per bin: order_imbalance.py:304-309 — pandas
  first/last is file-order dependent; we pin determinism with
  min_by/max_by over the event sequence column
- J3 bin densification: order_imbalance.py:301,316,338-359 — left-join
  onto the complete bin grid, OI zero-filled for empty bins
- W4 future return: order_imbalance.py:91-93 — lead(log_ret)

Exactness rule: :func:`oi_sql` is the only place the OI formula is
written. It is one SQL string read by both engines (Spark through
:func:`oi_expr`, DuckDB oracles verbatim). Each side sums integer
cents (sizes are 2-dp; sub-cent sizes are quantized to the cent), so
the sums are exact in any aggregation order and the final
``CAST(sell - buy AS DOUBLE) / (sell + buy)`` is the same double in
both engines. Every OI output is then rounded on the integer grid,
``round(x * 1e6)::BIGINT / 1e6`` (``functions.exact.r6``), never with
``round(x, 6)``, which the engines can round apart near a midpoint.

Scale notes: the OI aggregation is a single map-side-combinable
groupBy — conditional sums, no UDF, fully inside whole-stage codegen.
The densification grid is generated from the aggregated frame's own
min/max via sequence()+explode — a few thousand rows per span, always
the broadcast side of the join. At 100 TB the groupBy key would be
(ticker, bin) and the grid a per-ticker sequence; no shape change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_iceberg_spark.functions.exact import cents_sql, r6
from dissertation_iceberg_spark.functions.time_bins import bin_end


def oi_sql(pred: str = "TRUE", direction: str = "direction", size: str = "size") -> str:
    """The A1 kernel as one SQL aggregate expression over the rows that
    satisfy ``pred`` (NULL if they carry no volume)."""
    cents = cents_sql(size)
    sell = f"sum(CASE WHEN {direction} = -1 AND ({pred}) THEN {cents} ELSE 0 END)"
    buy = f"sum(CASE WHEN {direction} = 1 AND ({pred}) THEN {cents} ELSE 0 END)"
    return (
        f"CASE WHEN ({sell} + {buy}) <> 0 "
        f"THEN CAST({sell} - {buy} AS DOUBLE) / ({sell} + {buy}) END"
    )


def oi_expr(pred: str = "TRUE", direction: str = "direction", size: str = "size") -> Column:
    """:func:`oi_sql` as a Spark aggregate Column."""
    return F.expr(oi_sql(pred, direction, size))


def binned_oi(
    df: DataFrame,
    delta_sec: int,
    ts_col: str = "ts",
    dir_col: str = "direction",
    size_col: str = "size",
    price_col: str = "value",
    seq_col: str = "event_id",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-bin OI + deterministic first/last price + event count."""
    keys = [*(group_cols or []), "bin"]
    return (
        df.withColumn("bin", bin_end(ts_col, delta_sec))
        .groupBy(*keys)
        .agg(
            oi_expr(direction=dir_col, size=size_col).alias("order_imbalance"),
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"min_by({price_col}, {seq_col})").alias("first_price"),
            F.expr(f"max_by({price_col}, {seq_col})").alias("last_price"),
        )
    )


def densify(
    binned: DataFrame,
    delta_sec: int,
    bin_col: str = "bin",
    zero_fill: tuple[str, ...] = ("order_imbalance", "n_events"),
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Left-join the binned frame onto its complete calendar grid.

    Missing bins get OI=0 (load-bearing reference semantics: an empty
    interval is 'balanced', not absent). Other columns stay NULL.
    With ``group_cols`` the grid spans each group's own [min, max] —
    at 100 TB that is one sequence per (ticker, day), never a global
    sort or a driver-side calendar.

    Broadcast mechanics (round-2 clarification): the grid CANNOT be the
    build side — a grid-preserving left join only admits BuildRight, so
    the hint goes on the binned aggregate, which has at most one row per
    non-empty bin and is therefore never larger than the grid.
    """
    gc = group_cols or []
    interval = F.expr(f"INTERVAL {int(delta_sec)} SECONDS")
    if gc:
        bounds = binned.groupBy(*gc).agg(
            F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi")
        )
        grid = bounds.select(
            *gc, F.explode(F.sequence("lo", "hi", interval)).alias(bin_col)
        )
        out = grid.join(binned, on=[*gc, bin_col], how="left")
    else:
        bounds = binned.agg(F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi"))
        grid = bounds.select(
            F.explode(F.sequence("lo", "hi", interval)).alias(bin_col)
        )
        out = grid.join(F.broadcast(binned), on=bin_col, how="left")
    for c in zero_fill:
        if c in binned.columns:
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out


def with_returns(
    densified: DataFrame,
    bin_col: str = "bin",
    first_col: str = "first_price",
    last_col: str = "last_price",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Within-bin log return + next-bin future return (W4 lead).

    The lead is partitioned by trading day (in addition to any group
    cols): the reference operates on per-day LOBSTER files, so no
    cross-day future return exists there either — and day-partitioning
    removes the last unpartitioned WindowExec from the flagship plan
    (at 100 TB an unpartitioned window funnels every bin through one
    task). A bin label is the bin END, so the label at exactly
    midnight belongs to the PREVIOUS day's data — day is derived from
    (bin - 1 microsecond)."""
    day = F.date_trunc(
        "day", F.col(bin_col) - F.expr("INTERVAL 1 MICROSECOND")
    )
    w = Window.partitionBy(*(group_cols or []), day).orderBy(bin_col)
    # zero/negative prices (possible in raw feeds) must not evaluate
    # ln(): Spark ANSI and DuckDB both raise — guard, emit NULL
    log_ret = F.when(
        (F.col(first_col) > 0) & (F.col(last_col) > 0),
        F.log(F.col(last_col)) - F.log(F.col(first_col)),
    )
    return densified.withColumn("log_ret", log_ret).withColumn(
        "fut_log_ret", F.lead("log_ret", 1).over(w)
    )


def oi_pipeline(df: DataFrame, delta_sec: int, **kw) -> DataFrame:
    """A1 + A3 -> J3 densify -> W4 returns; floats rounded to 6 dp for
    oracle stability (OI on the integer grid). This is the flagship
    end-to-end slice (SURVEY §7 step 3).
    """
    group_cols = kw.pop("group_cols", None)
    b = binned_oi(df, delta_sec, group_cols=group_cols, **kw)
    dz = densify(b, delta_sec, group_cols=group_cols)
    r = with_returns(dz, group_cols=group_cols)
    r = r.withColumn("order_imbalance", r6(F.col("order_imbalance")))
    for c in ("first_price", "last_price", "log_ret", "fut_log_ret"):
        r = r.withColumn(c, F.round(F.col(c), 6))
    return r.select(
        *(group_cols or []),
        "bin",
        "order_imbalance",
        "n_events",
        "first_price",
        "last_price",
        "log_ret",
        "fut_log_ret",
    ).orderBy(*(group_cols or []), "bin")
