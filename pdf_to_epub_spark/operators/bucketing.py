"""Bucketed-table layout: co-located joins/aggregations without a shuffle.

The `north_rule` input layout is an Iceberg table bucketed by url-hash
(``bucket(N, url)``).  Iceberg jars are not in this image (stubbed behind
import-try below), so the same physical property is expressed with Spark's
native bucketed tables: ``bucketBy(N, key).sortBy(key).saveAsTable`` writes
hash-bucketed files whose layout Catalyst recognizes — a subsequent join or
aggregation on the bucket key compiles WITHOUT an Exchange on that side
(verified in tests by asserting the physical plan is exchange-free).

At 100 TB this is the difference between re-shuffling the corpus on every
join against its derived tables (blocks, metrics, dedup verdicts) and
reading co-located buckets.

Round-2 acquisition attempt (2026-08-16): no ``iceberg-spark-runtime`` jar
anywhere in the image (``find / -name '*iceberg*'``), no ivy cache, and no
network (Maven Central DNS resolution fails), so the real
``bucket(N, url)`` Iceberg layout + snapshot-id resume cannot be wired
in this sandbox.  The deployment mapping (this module → Iceberg DDL,
resume.py's parquet-snapshot anti-join → snapshot-id resume / MERGE INTO)
is written out in DEPLOYMENT.md §Iceberg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog can be instantiated (needs the runtime
    jar, absent in this image — kept behind a cheap probe)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Persist as a hash-bucketed, bucket-sorted managed table."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two equally-bucketed tables on their bucket key — Catalyst
    plans a SortMergeJoin with no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on=on)


def write_pages_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    n_buckets: int = 1024,
    ts_col: str = "warc_ts",
    url_col: str = "url",
) -> None:
    """DEPLOYMENT.md §Iceberg write path, behind :func:`iceberg_available`:
    with a runtime jar this issues the DataSourceV2 ``writeTo`` with the
    recipe's ``days(warc_ts), bucket(N, url)`` partition spec; without one
    it falls back to the parquet ``bucketBy`` emulation, which carries the
    same url-hash co-location property (shuffle-free joins, asserted in
    tests/test_bucketing.py).  The Iceberg branch is exercised by a
    mocked-catalog contract test so the recipe is executable the day a
    runtime jar exists."""
    if iceberg_available(spark):
        from pyspark.sql.functions import partitioning as P

        (
            df.writeTo(table)
            .using("iceberg")
            .partitionedBy(P.days(ts_col), P.bucket(n_buckets, url_col))
            .createOrReplace()
        )
    else:
        write_bucketed(df, table, url_col, n_buckets)


def append_run(spark: SparkSession, df: DataFrame, table: str) -> None:
    """Append a run's output as one atomic commit: an Iceberg snapshot
    (``writeTo(...).append()``) when the runtime is present, a parquet
    managed-table append otherwise.  Pair with
    :func:`committed_hashes` + ``operators.resume.pending_documents`` for
    the resume-from-last-committed-snapshot loop."""
    if iceberg_available(spark):
        df.writeTo(table).append()
    else:
        df.write.mode("append").format("parquet").saveAsTable(table)


def committed_hashes(
    spark: SparkSession, table: str, hash_col: str = "doc_hash"
) -> DataFrame:
    """The committed-work index the resume probe runs against: the content
    hashes present in the table's CURRENT snapshot (an aborted run's
    uncommitted files are invisible to an Iceberg read, and absent from the
    parquet emulation because saveAsTable appends are task-committed).  Not
    deduplicated: the resume probe is a semi-join and needs no unique
    keys.  Returns an empty frame when the table doesn't exist yet —
    first run resumes from nothing."""
    if not spark.catalog.tableExists(table):
        return spark.createDataFrame([], f"{hash_col} string")
    return spark.table(table).select(hash_col)


def plan_has_exchange(df: DataFrame) -> bool:
    """Inspect the physical plan for a SHUFFLE exchange (hash/range
    repartitioning).  BroadcastExchange is not a shuffle and is ignored."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return (
        "Exchange hashpartitioning" in plan
        or "Exchange rangepartitioning" in plan
        or "ShuffleExchange" in plan
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int = 512 << 20,
    path_col: str = "path",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Small-file compaction planner (the Iceberg ``rewrite_data_files``
    grouping step): assign data files to merge bins of roughly
    ``target_bytes`` each — deterministic "next-fit over the
    size-descending order" via one cumulative-sum window, so the plan
    is a pure function of the file listing and replays in SQL.

    The window is global-ordered but runs over the FILE-METADATA table
    (one row per file — bounded by file count, never by data volume),
    the same contract as corpus_growth's day-grain frames.  Bin id is
    ``floor((cum - bytes) / target)``: a file lands in the bin its
    predecessor fill reached, so every bin except the last holds at
    least ``target_bytes`` once closed and ordering big-files-first
    keeps bins balanced.

    Returns ``(path, bytes, bin)``.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc(bytes_col), F.asc(path_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(F.col(bytes_col)).over(w)
    return files.select(
        F.col(path_col).alias("path"),
        F.col(bytes_col).cast("long").alias("bytes"),
        F.floor((cum - F.col(bytes_col)) / target_bytes)
        .cast("int")
        .alias("bin"),
    )


def _interleave_bits(xi, yi, bits: int):
    """Morton/Z-value: interleave the low ``bits`` bits of two integer
    columns (x in even positions, y in odd) — plain shift/mask algebra
    so the exact same expression replays in the SQL oracle."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xi, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(yi, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    pred_lo: int,
    pred_hi: int,
    file_rows: int = 100,
    bits: int = 8,
    id_col: str = "id",
) -> DataFrame:
    """Z-order (Morton-curve) layout audit: would rewriting this table
    z-ordered on ``(x, y)`` let min/max file skipping prune a ``y``
    range predicate that the natural (arrival-order) layout cannot?
    This is the question behind Iceberg/Delta ``OPTIMIZE ZORDER BY`` —
    answered here as a pure audit over the same rows laid out both
    ways, so the decision is data-driven before paying the rewrite.

    Both coordinates are normalized to ``[0, 2^bits)`` by exact integer
    arithmetic (``(v - min) * 2^bits div (range + 1)`` — no floats, so
    the oracle replays bit-for-bit), interleaved into a Morton value,
    and rows are assigned to files of ``file_rows`` each in (z, id)
    order vs (id) order.  A file is SCANNED when its ``[min_y, max_y]``
    stripe overlaps ``[pred_lo, pred_hi]`` — exactly the parquet
    row-group / data-file skipping rule.

    No single-task global sort: file ids come from the two-level rank —
    a cumulative-count window over the COARSE-BUCKET count table (z
    truncated to its top bits / id div 1024; bounded by bucket count,
    not row count) plus a row_number window partitioned by bucket.
    This is also how the real rewrite would run: repartitionByRange on
    z, sortWithinPartitions, write.

    Returns one row per layout: ``(layout, n_rows, n_files,
    files_scanned, rows_scanned, rows_matched, prune_ratio)``.
    """
    from pyspark.sql.window import Window

    slim = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    stats = slim.agg(
        F.min("x").alias("_minx"), F.max("x").alias("_maxx"),
        F.min("y").alias("_miny"), F.max("y").alias("_maxy"),
    )
    scale = 1 << bits
    d = slim.crossJoin(F.broadcast(stats)).select(
        "id",
        "y",
        F.expr(f"((x - _minx) * {scale}) div (_maxx - _minx + 1)").alias("_xi"),
        F.expr(f"((y - _miny) * {scale}) div (_maxy - _miny + 1)").alias("_yi"),
    )
    d = d.select(
        "id", "y", _interleave_bits(F.col("_xi"), F.col("_yi"), bits).alias("_z")
    )
    # four plan consumers (counts + ranked join, for each of two
    # layouts) — pin the Morton compute or it re-runs per consumer
    d = d.localCheckpoint(eager=False)

    def _files(dd: DataFrame, layout: str, bucket, order_cols) -> DataFrame:
        dd = dd.select("id", "y", *order_cols[:-1], bucket.alias("_b"))
        counts = dd.groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))
        offs = counts.select(
            "_b",
            (
                F.sum("_c").over(
                    Window.orderBy("_b").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("_c")
            ).alias("_off"),
        )
        win = Window.partitionBy("_b").orderBy(*order_cols)
        ranked = dd.join(offs, "_b").select(
            F.lit(layout).alias("layout"),
            "y",
            (F.col("_off") + F.row_number().over(win) - 1).alias("_rank"),
        )
        return ranked.select(
            "layout", "y", F.expr(f"_rank div {file_rows}").alias("file_id")
        )

    nat = _files(d, "natural", F.expr("id div 1024"), [F.col("id")])
    zo = _files(
        d,
        "zorder",
        F.shiftright(F.col("_z"), max(2 * bits - 10, 0)),
        [F.col("_z"), F.col("id")],
    )
    both = nat.unionByName(zo)
    match = F.col("y").between(F.lit(pred_lo), F.lit(pred_hi))
    perfile = both.groupBy("layout", "file_id").agg(
        F.min("y").alias("_mn"),
        F.max("y").alias("_mx"),
        F.count(F.lit(1)).alias("_n"),
        F.sum(match.cast("long")).alias("_match"),
    )
    scanned = (F.col("_mx") >= pred_lo) & (F.col("_mn") <= pred_hi)
    out = perfile.groupBy("layout").agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(scanned.cast("long")).cast("long").alias("files_scanned"),
        F.sum(F.when(scanned, F.col("_n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("_match").cast("long").alias("rows_matched"),
    )
    ratio = F.round(
        F.lit(1.0) - F.col("files_scanned").cast("double")
        / F.col("n_files").cast("double"),
        6,
    ) + F.lit(0.0)
    return out.select(
        "layout", "n_rows", "n_files", "files_scanned", "rows_scanned",
        "rows_matched", ratio.alias("prune_ratio"),
    )


def snapshot_expiry(
    manifest: DataFrame,
    keep_last: int = 2,
    snap_col: str = "snapshot_id",
    path_col: str = "path",
) -> DataFrame:
    """Snapshot-expiry plan (the Iceberg ``expire_snapshots`` file-reap
    question): given the (snapshot_id, data-file path) manifest table,
    which files become unreachable once only the newest ``keep_last``
    snapshots are retained?  A file is LIVE while any kept snapshot
    still references it; files referenced only by expired snapshots are
    safe to delete.

    The cutoff is the ``keep_last``-th largest distinct snapshot id —
    a distinct + TakeOrderedAndProject over the (tiny) snapshot-id set,
    broadcast back as one scalar; the manifest itself folds in ONE
    groupBy on path (exact integers only).  This is pure metadata math:
    cost scales with manifest rows, never with data volume.

    Returns ``(path, last_snapshot, n_refs, referenced_by_kept,
    action)`` with action ∈ keep/delete.
    """
    snaps = (
        manifest.select(F.col(snap_col).alias("s"))
        .distinct()
        .orderBy(F.desc("s"))
        .limit(keep_last)
    )
    cutoff = snaps.agg(F.min("s").alias("_cut"))
    per = manifest.select(
        F.col(path_col).alias("path"), F.col(snap_col).alias("s")
    ).crossJoin(F.broadcast(cutoff)).groupBy("path").agg(
        F.max("s").cast("long").alias("last_snapshot"),
        F.count(F.lit(1)).cast("long").alias("n_refs"),
        F.max((F.col("s") >= F.col("_cut")).cast("int")).alias("_kept"),
    )
    kept = F.col("_kept") == 1
    return per.select(
        "path", "last_snapshot", "n_refs",
        kept.alias("referenced_by_kept"),
        F.when(kept, F.lit("keep")).otherwise(F.lit("delete")).alias("action"),
    )

def global_positions(
    df: DataFrame,
    order_cols: list[str],
    pos_col: str = "_g",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append 1-based GLOBAL row positions under the total order
    ``order_cols`` — without the single-partition global-window trap.

    ``repartitionByRange(order_cols)`` tiles the global order across P
    partitions; ``row_number`` windows per partition id (full
    parallelism); a broadcast join against the P-row cumulative-count
    table lifts local positions to global ones.  The result depends only
    on the total order, never on where the (sampled, nondeterministic)
    range boundaries fall — callers must include a tiebreaker column so
    ``order_cols`` IS a total order.

    NULL keys sort LAST (``asc_nulls_last`` on BOTH the range
    partitioning and the per-partition window — they must agree or
    global positions break): Spark's default is NULLS FIRST while the
    DuckDB oracles' ``ORDER BY`` default is NULLS LAST, a divergence
    that flipped candidate-pair sets the moment a NULL key appeared
    (caught in review; pinned by test).

    Consumers: ``dedup.sorted_neighborhood_pairs`` (position equi-joins),
    ``sampling.quantile_normalize`` (rank → pooled-quantile lookup)."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    order = [F.col(c).asc_nulls_last() for c in order_cols]
    ranged = df.repartitionByRange(p, *order).withColumn(
        "_gp_pid", F.spark_partition_id()
    )
    local = ranged.withColumn(
        "_gp_pos",
        F.row_number().over(Window.partitionBy("_gp_pid").orderBy(*order)),
    ).localCheckpoint(eager=False)  # feeds the counts agg AND the lift
    counts = local.groupBy("_gp_pid").agg(F.count(F.lit(1)).alias("_gp_n"))
    off = counts.withColumn(
        "_gp_off",
        F.coalesce(
            F.sum("_gp_n").over(
                Window.orderBy("_gp_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("_gp_pid", "_gp_off")
    return (
        local.join(F.broadcast(off), "_gp_pid")
        .withColumn(pos_col, F.col("_gp_off") + F.col("_gp_pos"))
        .drop("_gp_pid", "_gp_pos", "_gp_off")
    )


def global_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str | list[str],
    sum_col: str | list[str] = "_cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append EXCLUSIVE global prefix sums of ``weight_col`` under the
    total order ``order_cols`` — :func:`global_positions` generalized
    to weighted rows (weight ≡ 1 gives ``position − 1``).

    Same scale shape: ``repartitionByRange`` tiles the order, a
    per-partition running sum (full parallelism), then a broadcast join
    against the P-row per-partition totals lifts local sums to global.
    Same ``asc_nulls_last`` contract on BOTH the range partitioning and
    the window (NULLs sort last, matching the DuckDB oracles), and the
    same lazy checkpoint (the windowed frame feeds both the totals agg
    and the lift join).  ``order_cols`` must be a total order over the
    rows — the intended caller ranks DISTINCT value tables
    (``textstats.rank_correlations``), where the value itself is one.

    ``weight_col``/``sum_col`` accept parallel LISTS to produce several
    prefix sums in ONE range pass (the score_drift_ks shape: cumulative
    counts of both samples over the pooled value order) — same shuffle
    count as the single-weight form.
    """
    from pyspark.sql.window import Window

    weights = [weight_col] if isinstance(weight_col, str) else list(weight_col)
    sums = [sum_col] if isinstance(sum_col, str) else list(sum_col)
    if len(weights) != len(sums):
        raise ValueError("weight_col and sum_col lists must align")

    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    order = [F.col(c).asc_nulls_last() for c in order_cols]
    ranged = df.repartitionByRange(p, *order).withColumn(
        "_gs_pid", F.spark_partition_id()
    )
    wloc = (
        Window.partitionBy("_gs_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumns(
        {
            f"_gs_cum{i}": F.coalesce(F.sum(w).over(wloc), F.lit(0))
            for i, w in enumerate(weights)
        }
    ).localCheckpoint(eager=False)  # feeds the totals agg AND the lift
    totals = local.groupBy("_gs_pid").agg(
        *[F.sum(w).alias(f"_gs_n{i}") for i, w in enumerate(weights)]
    )
    woff = Window.orderBy("_gs_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = totals.withColumns(
        {
            f"_gs_off{i}": F.coalesce(F.sum(f"_gs_n{i}").over(woff), F.lit(0))
            for i in range(len(weights))
        }
    ).select("_gs_pid", *[f"_gs_off{i}" for i in range(len(weights))])
    out = local.join(F.broadcast(off), "_gs_pid").withColumns(
        {
            s: F.col(f"_gs_off{i}") + F.col(f"_gs_cum{i}")
            for i, s in enumerate(sums)
        }
    )
    return out.drop(
        "_gs_pid",
        *[f"_gs_cum{i}" for i in range(len(weights))],
        *[f"_gs_off{i}" for i in range(len(weights))],
    )
