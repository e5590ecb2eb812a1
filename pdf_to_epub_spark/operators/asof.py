"""Time-ordered operators Spark lacks natively: as-of join, sessionization.

Both are implemented Spark-first as single-shuffle window constructions —
no UDF, no per-group pandas:

* **as-of join** — the classic union-sort-window trick: tag and union both
  sides, sort within each key by (time, side), and carry the last right-side
  value forward with ``last(..., ignorenulls=True)``.  One shuffle on the
  key; skewed keys are ordinary window skew (salt or AQE).  Equivalent to
  DuckDB's native ``ASOF JOIN`` (which the oracle uses).
* **sessionization** — gap-threshold session ids via
  ``lag`` + conditional cumsum, the standard two-window formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_left: str,
    key_right: str,
    time_left: str,
    time_right: str,
    value_cols: list[str],
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``time_right <= time_left`` within the same key (``backward``; the
    standard as-of semantics).

    The right side should be pre-deduplicated per (key, time) for
    deterministic results when times tie.
    """
    lt = left.select(
        F.col(key_left).alias("_k"),
        F.col(time_left).alias("_t"),
        F.lit(1).alias("_side"),
        "*",
    )
    rt = right.select(
        F.col(key_right).alias("_k"),
        F.col(time_right).alias("_t"),
        F.lit(0).alias("_side"),
        *value_cols,
    )
    # Align schemas: left rows carry null value_cols, right rows carry null
    # left columns.
    left_cols = [c for c in left.columns]
    for c in value_cols:
        lt = lt.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    for c in left_cols:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    rt = rt.select(*lt.columns)

    unioned = lt.unionByName(rt)
    # right rows sort before left rows at equal time → `<=` semantics
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"_asof_{c}")
            for c in value_cols
        ],
    )
    out = carried.where(F.col("_side") == 1).select(
        *left_cols, *[F.col(f"_asof_{c}").alias(c) for c in value_cols]
    )
    return out


def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when the
    time since the previous event exceeds ``gap_seconds``."""
    order = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts)
    new_session = F.when(
        prev_ts.isNull() | (gap > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def hourly_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    group_cols: tuple = ("event_type",),
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Tumbling-window rollup: events bucketed to fixed windows by pure
    epoch arithmetic (``floor(epoch/bucket)*bucket`` — timezone-proof,
    unlike date_trunc under non-whole-hour offsets), aggregated per
    (bucket, *group_cols).  The batch analog of the streaming windowed
    aggregation in streaming/incremental.py; one map-side-combinable
    shuffle keyed (bucket, groups), so a hot hour still fans out across
    its group values.

    Output: ``bucket_epoch`` (window start, epoch seconds) + groups +
    ``n_events`` / ``sum_value`` / ``avg_value`` (4 dp)."""
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds)
        * bucket_seconds
    ).cast("long")
    return (
        events.groupBy(bucket.alias("bucket_epoch"), *group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
            F.round(F.avg(value_col), 4).alias("avg_value"),
        )
    )


def range_enrich(
    values: DataFrame,
    ranges: DataFrame,
    id_col: str = "id",
    value_col: str = "v",
    lo_col: str = "lo",
    hi_col: str = "hi",
    label_col: str = "label",
    cell: int = 1 << 16,
) -> DataFrame:
    """Range-join enrichment: tag each row of ``values`` with the label
    of the (first, by ``lo``) range ``[lo, hi]`` containing its value —
    the IP-geolocation / size-class / time-band lookup pattern.

    Spark-first shape: a naive ``v BETWEEN lo AND hi`` theta-join
    becomes BroadcastNestedLoopJoin (every row × every range).  Instead
    the ranges are exploded to the fixed-width grid cells they cover
    and BROADCAST, values equi-join on their own cell hash-style, and a
    cheap residual ``between`` filter keeps true hits — an equi hash
    join at any scale, as long as ``(hi-lo)/cell`` stays small (pick
    ``cell`` near the typical range width).  Overlapping ranges resolve
    deterministically to the smallest ``lo`` (then label).

    Returns all ``values`` columns + ``(range_label)`` (NULL when no
    range contains the value).  ``id_col`` must be unique per row — it
    keys the best-range resolution window.
    """
    cells = ranges.select(
        F.col(lo_col).alias("__lo"),
        F.col(hi_col).alias("__hi"),
        F.col(label_col).alias("__label"),
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / cell).cast("long"),
                F.floor(F.col(hi_col) / cell).cast("long"),
            )
        ).alias("__cell"),
    )
    v = F.col(value_col)
    joined = (
        values.withColumn("__cell", F.floor(v / cell).cast("long"))
        .join(F.broadcast(cells), "__cell", "left")
        .withColumn(
            "__hit",
            (v >= F.col("__lo")) & (v <= F.col("__hi")),
        )
    )
    from pyspark.sql.window import Window

    best = Window.partitionBy(id_col).orderBy(
        F.asc_nulls_last(F.when(F.col("__hit"), F.col("__lo"))),
        F.asc_nulls_last(F.when(F.col("__hit"), F.col("__label"))),
    )
    return (
        joined.withColumn("__rn", F.row_number().over(best))
        .filter(F.col("__rn") == 1)
        .select(
            *values.columns,
            F.when(F.col("__hit"), F.col("__label")).alias("range_label"),
        )
    )


def span_overlap(
    left: DataFrame,
    right: DataFrame,
    doc_col: str = "doc_id",
    id_cols: tuple[str, str] = ("a_id", "b_id"),
    start_cols: tuple[str, str] = ("a_start", "b_start"),
    end_cols: tuple[str, str] = ("a_end", "b_end"),
    cell: int = 64,
) -> DataFrame:
    """Interval-overlap join between two half-open span tables over the
    same document key — the annotation-alignment primitive (duplicate-
    mask spans × sentence spans, PII spans × token spans, layout blocks
    × OCR lines).

    Spark-first shape: a raw ``a_start < b_end AND b_start < a_end``
    theta-join over a shared doc key still degenerates when single
    documents carry many spans (the per-doc cross product).  Instead
    both sides explode to the fixed-width grid cells each span covers
    and the join is EQUI on ``(doc, cell)`` with the overlap test as a
    residual filter.  Duplicate hits (a pair sharing several cells) are
    eliminated WITHOUT a distinct: a pair is kept only in the overlap's
    OWNER cell — ``floor(max(starts)/cell)``, the first cell of the
    intersection, which both spans necessarily cover — so there is no
    post-join dedup shuffle at all.  Pick ``cell`` near the typical
    span length; work scales with span_len/cell per row.

    Spans are half-open ``[start, end)``; empty spans never match.
    Returns ``(doc, a_id, b_id, ov_start, ov_end, ov_len)``.
    """
    a_id, b_id = id_cols
    a_s, b_s = start_cols
    a_e, b_e = end_cols

    def _cells(df: DataFrame, sid: str, s: str, e: str) -> DataFrame:
        return df.where(F.col(e) > F.col(s)).select(
            F.col(doc_col).alias("__doc"),
            F.col(sid),
            F.col(s),
            F.col(e),
            F.explode(
                F.sequence(
                    F.floor(F.col(s) / cell).cast("long"),
                    F.floor((F.col(e) - 1) / cell).cast("long"),
                )
            ).alias("__cell"),
        )

    la = _cells(left, a_id, a_s, a_e)
    rb = _cells(right, b_id, b_s, b_e)
    ov_s = F.greatest(F.col(a_s), F.col(b_s))
    ov_e = F.least(F.col(a_e), F.col(b_e))
    return (
        la.join(rb, ["__doc", "__cell"])
        .where(
            (F.col(a_s) < F.col(b_e))
            & (F.col(b_s) < F.col(a_e))
            # owner-cell: emit the pair exactly once, no distinct
            & (F.col("__cell") == F.floor(ov_s / cell).cast("long"))
        )
        .select(
            F.col("__doc").alias(doc_col),
            a_id,
            b_id,
            ov_s.cast("long").alias("ov_start"),
            ov_e.cast("long").alias("ov_end"),
            (ov_e - ov_s).cast("long").alias("ov_len"),
        )
    )
