"""Per-partition lineage + counters — the metrics table every stage writes.

Distributed re-expression of the reference's per-pass JSON logs
(`/root/reference/text-processing/Step1_ocr_cleanup_v11.py:210-219`,
`Step2_formatting_v14.py:551-553`): the per-document counters of each
input partition are summed into one ``map<string,long>`` per partition —
the FIXTURES.md §6 schema.  All JVM-side, one aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def partition_metrics(extracted: DataFrame, run_id: str, stage: str) -> DataFrame:
    """extracted (with ``counters: map<string,long>``) → one row per input
    partition: (run_id, stage, partition_id, url_count, counters,
    committed_at).

    One ``groupBy(partition_id)`` with a single shuffle: ``url_count`` is
    the size of the partition's url set (a ``countDistinct`` would plan a
    second exchange on (partition_id, url)), ``counters`` a
    ``map_zip_with`` fold of the partition's collected maps (per-key
    sums).  A document with an empty or null map contributes
    ``{"_none": 0}``, so every partition has a non-empty map.  The
    upstream plan runs once per action; no checkpoint or join.  The
    aggregate holds one map and one url per document of a partition in
    memory, so a partition must fit those in one task."""
    counters = F.col("counters")
    per_doc = F.when(F.coalesce(F.size(counters), F.lit(0)) > 0, counters).otherwise(
        F.create_map(F.lit("_none"), F.lit(0).cast("long"))
    )
    summed = F.aggregate(
        F.collect_list(per_doc),
        F.create_map().cast("map<string,bigint>"),
        lambda acc, m: F.map_zip_with(
            acc, m, lambda _k, a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        ),
    )
    return (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.size(F.collect_set("url")).cast("long").alias("url_count"),
            summed.alias("counters"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id",
            "url_count",
            "counters",
            F.current_timestamp().alias("committed_at"),
        )
    )


def corpus_counters(extracted: DataFrame) -> DataFrame:
    """Whole-corpus rollup of the pass counters (one row per counter key) —
    the distributed analog of a single reference JSON log."""
    return (
        extracted.select(F.explode("counters").alias("counter", "value"))
        .groupBy("counter")
        .agg(F.sum("value").alias("total"))
        .orderBy("counter")
    )


def status_summary(extracted: DataFrame) -> DataFrame:
    """ok / error / quarantined tallies — the error-isolation ledger."""
    return extracted.groupBy("status").agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").alias("chars"),
        F.sum("n_blocks").alias("blocks"),
    )


def corpus_rollup(
    docs: DataFrame,
    dims: tuple[str, ...] = ("lang", "source"),
    chars_col: str = "n_chars",
) -> DataFrame:
    """Multi-level corpus profile in ONE pass: per-(lang, source) doc
    counts and char volumes plus per-lang subtotals and the grand total,
    via ``ROLLUP`` — Spark expands the grouping sets inside a single
    hash aggregate with map-side partials, so the three levels cost one
    shuffle, not three queries.  ``gid`` is the grouping bitmask
    (0 = leaf, 1 = per-lang subtotal, 3 = grand total) distinguishing a
    subtotal row from a genuine NULL dimension value.
    """
    return docs.rollup(*[F.col(c) for c in dims]).agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(chars_col).cast("long").alias("total_chars"),
        F.round(F.avg(chars_col), 6).alias("avg_chars"),
    )


def gate_attrition(
    df: DataFrame, gates: list[tuple[str, Column]]
) -> DataFrame:
    """Per-gate attrition funnel — the report a tier-extraction run ships
    with its output: for each filter gate, in declared order, how many
    documents reached it, how many survived it, and the cumulative
    survival rate (so "which gate costs us the most mass" is one glance,
    and gate-order experiments are comparable run to run).

    ``gates`` is an ordered list of ``(name, boolean Column)``; a
    document "reaches" gate i iff it passed gates 0..i-1 (the standard
    short-circuit pipeline semantics).  Computed as ONE aggregate over
    the corpus — each cumulative conjunction is a sum(boolean) in the
    same pass, so the funnel costs a single scan + a 1-row reduce
    regardless of gate count; the tiny result pivots to rows driver-side
    via an explode over a literal-index array (no collect of corpus
    data)."""
    n_total = F.count("*")
    prefix: Column | None = None
    aggs = [n_total.alias("_n0")]
    for i, (_, cond) in enumerate(gates):
        c = F.coalesce(cond, F.lit(False))
        prefix = c if prefix is None else (prefix & c)
        aggs.append(
            F.sum(prefix.cast("long")).alias(f"_n{i + 1}")
        )
    one = df.agg(*aggs)
    names = F.array(*[F.lit(n) for n, _ in gates])
    rows = one.select(
        F.posexplode(names).alias("gate_idx", "gate"),
        *[F.col(f"_n{i}") for i in range(len(gates) + 1)],
    )
    n_in = F.coalesce(
        *[
            F.when(F.col("gate_idx") == i, F.col(f"_n{i}"))
            for i in range(len(gates))
        ]
    )
    n_pass = F.coalesce(
        *[
            F.when(F.col("gate_idx") == i, F.col(f"_n{i + 1}"))
            for i in range(len(gates))
        ]
    )
    return rows.select(
        (F.col("gate_idx") + 1).cast("int").alias("gate_idx"),
        "gate",
        n_in.alias("n_in"),
        n_pass.alias("n_pass"),
        (n_in - n_pass).alias("n_killed"),
        F.round(
            n_pass / F.greatest(F.col("_n0"), F.lit(1)).cast("double"), 6
        ).alias("cum_survival"),
    )
