"""Similarity search over an embedding column (``array<float>``).

Two paths, both JVM-side (``zip_with``/``aggregate`` higher-order functions,
no Python in the row path):

* **brute-force cosine top-k** — correctness baseline.  Queries are small →
  broadcast; the corpus side streams, so the plan is a single
  BroadcastNestedLoopJoin-free broadcast hash pass with no corpus shuffle
  except the final per-query top-k.
* **random-hyperplane LSH buckets** — the scale path: each vector gets a
  b-bit signature from sign(v·r_i); candidates are joined inside buckets
  (optionally multi-probe across several independent tables), then ranked
  exactly.  Recall/latency trades off with (bits, tables).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Shape: broadcast(queries) ⋈ corpus (no shuffle of the big side) →
    per-query window top-k (one shuffle on query_id).  Ties broken by id
    for determinism.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.select(F.col(id_col), F.col(vec_col)).join(F.broadcast(q)).select(
        query_id_col,
        id_col,
        cosine(F.col(vec_col), F.col("_qvec")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(v · r_i); packed to a long."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec_col, lit_plane) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit * F.lit(1 << i).cast("long")
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    n_tables: int = 1,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: exact ranking restricted to the query's LSH
    bucket(s), unioned across ``n_tables`` independent hyperplane tables
    (the standard recall lever: per-table miss probabilities multiply).

    At corpus scale each bucket join touches ~corpus/2^bits of the data per
    query instead of all of it; bucket assignment itself is a narrow
    map-only stage that can be precomputed and stored with the table.
    Candidates are deduped BEFORE the cosine, so the exact-ranking cost is
    |union of buckets|, not tables × bucket.
    """
    tables = [
        F.struct(
            F.lit(t).alias("t"),
            lsh_bucket(F.col(vec_col), _hyperplanes(dim, bits, seed + t)).alias("b"),
        )
        for t in range(n_tables)
    ]

    def bucketed(df: DataFrame, keep: str) -> DataFrame:
        return df.select(
            keep, vec_col, F.explode(F.array(*tables)).alias("_tb")
        ).select(keep, vec_col, F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b"))

    c = bucketed(corpus.select(id_col, vec_col), id_col)
    q = bucketed(
        queries.select(query_id_col, vec_col), query_id_col
    ).withColumnRenamed(vec_col, "_qvec")
    # Candidate ids are deduped SLIM — (query_id, id) only — so no embedding
    # array ever rides a shuffle; vectors re-enter via broadcast hash probes
    # against the streaming corpus scan.
    candidates = (
        c.select(id_col, "_t", "_b")
        .join(F.broadcast(q.select(query_id_col, "_t", "_b")), on=["_t", "_b"])
        .select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = (
        corpus.select(id_col, vec_col)
        .join(F.broadcast(candidates), on=id_col)
        .join(
            F.broadcast(queries.select(query_id_col, F.col(vec_col).alias("_qvec"))),
            on=query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            cosine(F.col(vec_col), F.col("_qvec")).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def _kmeans_centroids(
    sample: list[list[float]], k: int, iters: int = 8, seed: int = 5
) -> list[list[float]]:
    """Tiny driver-side Lloyd's k-means over a sampled subset (the coarse
    quantizer is small by construction: k·dim floats, trained once, then
    broadcast as literals — the corpus never leaves the executors).

    Seeding is kmeans++-style deterministic farthest-point: after a seeded
    random first pick, each next seed is the sample point with the maximum
    min-distance² to the chosen set (ties → lowest index).  Versus seeded
    uniform picks this spreads the coarse cells, which on a near-uniform
    corpus is the difference between ~0.74 and ≥0.85 recall@10 at equal
    nprobe.  Pure deterministic Python, so the external SQL oracle replays
    the exact centroids by calling this same function on the same sample."""
    rng = random.Random(seed)
    dim = len(sample[0])
    first = rng.randrange(len(sample))
    seed_idx = [first]
    min_d2 = [
        sum((a - b) * (a - b) for a, b in zip(v, sample[first])) for v in sample
    ]
    for _ in range(k - 1):
        nxt = max(range(len(sample)), key=lambda i: (min_d2[i], -i))
        seed_idx.append(nxt)
        for i, v in enumerate(sample):
            d = sum((a - b) * (a - b) for a, b in zip(v, sample[nxt]))
            if d < min_d2[i]:
                min_d2[i] = d
    centroids = [list(sample[i]) for i in seed_idx]
    for _ in range(iters):
        sums = [[0.0] * dim for _ in range(k)]
        counts = [0] * k
        for v in sample:
            best, best_d = 0, float("inf")
            for c_i, c in enumerate(centroids):
                d = sum((a - b) * (a - b) for a, b in zip(v, c))
                if d < best_d:
                    best, best_d = c_i, d
            counts[best] += 1
            s = sums[best]
            for j, a in enumerate(v):
                s[j] += a
        for c_i in range(k):
            if counts[c_i]:
                centroids[c_i] = [s / counts[c_i] for s in sums[c_i]]
    return centroids


def _nearest_centroids(vec_col: Column, centroids: list[list[float]], n: int) -> Column:
    """Array of the ``n`` nearest centroid ids (squared L2), JVM-side."""
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec_col,
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.slice(
        F.transform(F.array_sort(dists), lambda s: s["cid"]), 1, n
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    sample_size: int = 512,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned
    to their nearest coarse centroid (one narrow map stage — at scale this
    assignment is precomputed and stored with the table); each query probes
    its ``nprobe`` nearest cells and ranks exactly within them.

    Recall/latency trades with (n_centroids, nprobe); probing all cells
    degrades gracefully to brute force.
    """
    # orderBy before limit: a bare limit is not deterministic across
    # retries/partitionings (SURVEY §7.3.4 determinism rule) — this compiles
    # to TakeOrderedAndProject, so the bound stays driver-safe.  Ordering by
    # a HASH of the id (not the id itself) spreads the training sample over
    # the whole corpus instead of biasing the coarse quantizer to the
    # lowest ids; md5-of-decimal-string rather than xxhash64 so the external
    # SQL oracle can replay the exact sample in plain Python
    # (hashlib.md5(str(id)) — see __spark_entry__._ivf_topk_oracle).
    sample = [
        [float(x) for x in r[vec_col]]
        for r in corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .collect()
    ]
    centroids = _kmeans_centroids(sample, n_centroids, seed=seed)

    c_assigned = corpus.select(id_col, vec_col).withColumn(
        "_cell", _nearest_centroids(F.col(vec_col), centroids, 1)[0]
    )
    q_assigned = queries.select(
        query_id_col, F.col(vec_col).alias("_qvec")
    ).withColumn("_cell", F.explode(_nearest_centroids(F.col("_qvec"), centroids, nprobe)))

    scored = c_assigned.join(F.broadcast(q_assigned), on="_cell").select(
        query_id_col,
        id_col,
        cosine(F.col(vec_col), F.col("_qvec")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def kmeans_step(
    corpus: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 512,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One distributed Lloyd's iteration over the FULL corpus: assign every
    vector to its nearest coarse centroid (the IVF quantizer trained by
    :func:`_kmeans_centroids` on the deterministic hash-spread sample), then
    compute the per-cluster update — exactly the map/reduce shape an
    embedding-clustering job runs at scale, where the sample-trained seed
    centroids are refined by full passes.

    Returns one row per NON-EMPTY cluster:
    ``(cluster_id, n_points, mean_dist, shift)`` — member count, mean L2
    distance of members to the old centroid (per-cluster inertia), and the
    L2 distance the centroid moves after averaging its members (the Lloyd
    update; convergence is ``max(shift) → 0``).

    Scale shape: centroids ride into the executors as literals (k·dim
    floats — no join, no shuffle for assignment); the only exchange is the
    k-row groupBy, whose partials are map-side combined (count + dim
    component sums per cluster per task).  Floats are rounded to 6 dp so
    the result is engine-reproducible."""
    sample = [
        [float(x) for x in r[vec_col]]
        for r in corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .collect()
    ]
    centroids = _kmeans_centroids(sample, n_centroids, seed=seed)
    dim = len(centroids[0])

    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_sort(dists)[0]
    assigned = corpus.select(
        best["cid"].alias("cluster_id"),
        F.sqrt(best["d"]).alias("_dist"),
        F.col(vec_col).alias("_v"),
    )

    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    agg = assigned.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_points"),
        F.avg("_dist").alias("_mean_dist"),
        F.array(*[F.avg(F.col("_v")[j]) for j in range(dim)]).alias("_new"),
    )
    shift = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("_new"),
                cent_lit[F.col("cluster_id")],
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return agg.select(
        "cluster_id",
        "n_points",
        F.round("_mean_dist", 6).alias("mean_dist"),
        F.round(shift, 6).alias("shift"),
    )


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> float:
    """recall@k of an approximate top-k result against the brute-force
    oracle: |approx ∩ exact| / (n_queries · k).  Makes the LSH/IVF paths
    auditable — report alongside their latency."""
    e = exact.where(F.col("rank") <= k).select(query_id_col, id_col)
    a = approx.where(F.col("rank") <= k).select(query_id_col, id_col)
    hits = e.join(a, [query_id_col, id_col], "left_semi").count()
    n_q = e.select(query_id_col).distinct().count()
    return hits / (n_q * k) if n_q else 0.0


def embedding_near_duplicates(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets: candidate pairs are
    generated INSIDE each bucket (groupBy + sorted collect_list +
    combination explode — the bucket-assignment pass runs exactly once,
    unlike a self-join whose two branches each recompute it), then verified
    exactly against ``threshold``.  Vectors re-enter through broadcast
    probes; the slim localCheckpoint barrier before the filter prevents
    Catalyst from substituting the cosine into the pushed-down predicate
    and evaluating it twice (see operators/dedup.py for the same pattern).
    Buckets over ``max_bucket`` fall back to linear star pairs
    (dedup._bucket_pairs) — bounded memory on a degenerate bucket instead
    of a single-task OOM.
    """
    from pdf_to_epub_spark.operators.dedup import _bucket_pairs

    planes = _hyperplanes(dim, bits, seed)
    slim = corpus.select(id_col, lsh_bucket(F.col(vec_col), planes).alias("_bucket"))
    buckets = (
        slim.groupBy("_bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    pairs = _bucket_pairs(buckets, max_bucket)
    # Broadcast policy mirrors dedup._verify_pairs_exact_jaccard: only the
    # slim id-pair table is hinted; the vector-attached side is left to AQE
    # (candidate-count × vector is data-dependent — a near-dup-heavy corpus
    # would OOM a forced broadcast where the shuffle join degrades
    # gracefully).
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    scored = vb.join(va.join(F.broadcast(pairs), "id_a"), "id_b").select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
    )
    return scored.localCheckpoint(eager=False).where(F.col("cosine") >= threshold)


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.7,
    n_centroids: int = 16,
    sample_size: int = 512,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 65536,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a small deterministic
    coarse quantizer, then compare pairs only WITHIN each cluster and drop
    every vector that has a lower-id cluster-mate with cosine ≥ ``tau``.

    Returns one row per input vector: ``(id, cluster_id, kept)`` — the
    survivors are ``kept = true``; emitting the verdict for every row (not
    just survivors) keeps the output row count equal to the corpus size,
    which is what a pipeline audits (and what the oracle hashes).

    Keep rule: deterministic keep-lowest-id per above-threshold edge — a
    vector is dropped iff ANY smaller-id vector in its cluster is ≥ tau
    similar (greedy over edges, independent of the fate of that smaller
    id).  The paper keeps the member farthest from the centroid; id-greedy
    is equally principled for dedup purposes and, unlike the
    centroid-distance rule, replayable exactly by an external SQL oracle
    with no float-tie hazards.

    Scale shape (100 TB audit): the quantizer is trained once on a
    hash-spread ``sample_size`` collect (bounded driver memory) and
    broadcast as literals; assignment is one narrow codegen map.  Pair
    generation is the bucketed collect_list + combination-explode form
    shared with :func:`embedding_near_duplicates` — the assignment pass
    runs once (a self-join would recompute it per branch), only slim
    ``(id_a, id_b)`` rows shuffle, and vectors re-enter through a
    broadcast of the pair list.  Cost is Σ cluster_size² — at real scale
    ``n_centroids`` grows ~√N (SemDeDup uses 50k clusters for LAION) so
    cluster populations stay bounded; degenerate clusters past
    ``max_cluster`` fall back to linear star pairs with the same audit
    semantics as LSH buckets (dedup._bucket_pairs docstring).

    The threshold compares the ROUNDED (6 dp) cosine so the keep/drop
    boundary is engine-stable between Spark's fold and the oracle's
    list_dot_product.
    """
    from pdf_to_epub_spark.operators.dedup import _bucket_pairs

    sample = [
        [float(x) for x in r[vec_col]]
        for r in corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .collect()
    ]
    centroids = _kmeans_centroids(sample, n_centroids, seed=seed)

    assigned = corpus.select(id_col, vec_col).withColumn(
        "_cell", _nearest_centroids(F.col(vec_col), centroids, 1)[0]
    )
    slim = assigned.select(id_col, "_cell").localCheckpoint(eager=False)
    buckets = (
        slim.groupBy("_cell")
        .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    pairs = _bucket_pairs(buckets, max_cluster)
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    scored = vb.join(va.join(F.broadcast(pairs), "id_a"), "id_b").select(
        "id_b", F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("_cos")
    )
    dropped = (
        scored.localCheckpoint(eager=False)
        .where(F.col("_cos") >= F.lit(float(tau)))
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return slim.join(dropped, id_col, "left").select(
        id_col,
        F.col("_cell").alias("cluster_id"),
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
    )


def project_embeddings(
    corpus: DataFrame,
    dim: int,
    out_dim: int = 8,
    seed: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map every ``dim``-d embedding
    onto ``out_dim`` deterministic Gaussian directions (the same seeded
    generator as the LSH hyperplanes, :func:`_hyperplanes`) — the
    dimensionality-reduction pass a 100 TB pipeline runs BEFORE dedup /
    ANN so the downstream cosine work touches 8-64 floats instead of
    768+.  JL guarantees pairwise distances are preserved to (1±ε) with
    out_dim = O(log N / ε²) — the distance-based operators downstream
    (semantic_dedup, embedding_near_duplicates) work unchanged on the
    projected column.

    Emits long-form ``(id, component, value)`` rows (value = dot(v,
    r_j), 6 dp).  Plan: the planes ride inline as literals — one narrow
    codegen map over the corpus, no shuffle, no UDF; the oracle replays
    the same seeded planes via list_dot_product."""
    planes = _hyperplanes(dim, out_dim, seed)
    dots = F.array(
        *[
            _dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in p]))
            for p in planes
        ]
    )
    return corpus.select(
        id_col, F.posexplode(dots).alias("component", "_v")
    ).select(id_col, "component", F.round("_v", 6).alias("value"))


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019,
    arXiv:1811.01136 §4.3, the LASER/CCMatrix alignment rule): a source
    sentence x pairs with target y when ``cos(x,y)`` stands out against
    both sides' neighborhoods — ``margin = cos(x,y) / ((meanTopK(x) +
    meanTopK(y)) / 2)`` — which kills the hub sentences plain cosine
    thresholds mis-pair.  Emits the top-1 target per source with
    ``margin ≥ threshold``.

    Engine-stable arithmetic: cosines are quantized to integer
    micro-units (``c6 = round(cos·1e6)``) BEFORE the neighborhood sums,
    so both mean terms are exact integer sums and the margin is ONE
    double division of exact integers — order-independent, hence
    hash-identical in the SQL oracle.  With fewer than k candidates the
    true row counts replace k (margin = c6·2·cx·cy / (sx·cy + sy·cx)).

    This is the verification form: the cross scores come from one
    broadcast pass over the smaller (target) side.  At 100 TB the scored
    candidate set comes from :func:`lsh_topk` in both directions instead
    of the dense product — the margin/threshold algebra downstream is
    unchanged.  The scored table is checkpoint-pinned: three consumers
    (two neighborhood aggs + the final join) would otherwise recompute
    the cosine pass."""
    a = src.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("_va"))
    b = tgt.select(F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("_vb"))
    scored = (
        a.join(F.broadcast(b))
        .select(
            "src_id",
            "tgt_id",
            F.round(cosine(F.col("_va"), F.col("_vb")) * 1_000_000, 0)
            .cast("long")
            .alias("_c6"),
        )
        .localCheckpoint(eager=False)
    )
    wx = Window.partitionBy("src_id").orderBy(F.desc("_c6"), F.asc("tgt_id"))
    wy = Window.partitionBy("tgt_id").orderBy(F.desc("_c6"), F.asc("src_id"))
    nx = (
        scored.withColumn("_r", F.row_number().over(wx))
        .where(F.col("_r") <= k)
        .groupBy("src_id")
        .agg(F.sum("_c6").alias("_sx"), F.count("*").alias("_cx"))
    )
    ny = (
        scored.withColumn("_r", F.row_number().over(wy))
        .where(F.col("_r") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("_c6").alias("_sy"), F.count("*").alias("_cy"))
    )
    margin = F.round(
        F.col("_c6")
        * 2.0
        * F.col("_cx")
        * F.col("_cy")
        / (F.col("_sx") * F.col("_cy") + F.col("_sy") * F.col("_cx")),
        6,
    )
    ranked = (
        scored.join(F.broadcast(nx), "src_id")
        .join(F.broadcast(ny), "tgt_id")
        .withColumn("margin", margin)
        .where(F.col("margin") >= F.lit(float(threshold)))
    )
    w1 = Window.partitionBy("src_id").orderBy(F.desc("margin"), F.asc("tgt_id"))
    return (
        ranked.withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") == 1)
        .select(
            "src_id",
            "tgt_id",
            (F.col("_c6") / 1_000_000).alias("cosine"),
            "margin",
        )
    )


def embedding_outliers(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str = "label",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-cluster embedding outlier detection: distance of every vector
    to its group's mean vector, z-scored within the group — the sanity
    pass a pipeline runs over labeled/clustered embeddings to surface
    mis-embedded or mis-clustered documents before they poison ANN
    indexes or dedup thresholds.

    Plan: one posexplode to component rows (rows × dim, slim doubles),
    a combiner-friendly (group, dim) mean, a broadcast join back, and a
    per-vector sum — no UDFs, no collect.  Distance moments are computed
    relationally from the same sums in both engines (no builtin stddev:
    Welford vs naive implementations differ in low bits); the outlier
    verdict compares the ROUNDED z so the boundary is engine-stable.
    Zero-variance groups yield z = NULL / is_outlier = false.  A NULL or
    empty vector — precisely the mis-embedded document this pass exists
    to flag — still gets its verdict row (posexplode_outer keeps it as a
    null component row; the null-unsafe centroid join leaves its m NULL
    so dist comes out NULL) with ``is_outlier = true``."""
    comp = embeddings.select(
        id_col,
        group_col,
        F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias(
            "j", "val"
        ),
    )
    cent = comp.where(F.col("j").isNotNull()).groupBy(group_col, "j").agg(
        F.avg("val").alias("m")
    )
    d = (
        comp.join(F.broadcast(cent), [group_col, "j"], "left")
        .groupBy(id_col, group_col)
        .agg(
            F.sqrt(
                F.sum((F.col("val") - F.col("m")) * (F.col("val") - F.col("m")))
            ).alias("dist")
        )
    )
    stats = d.groupBy(group_col).agg(
        F.avg("dist").alias("_mu"),
        F.avg(F.col("dist") * F.col("dist")).alias("_m2"),
    )
    sigma = F.sqrt(F.col("_m2") - F.col("_mu") * F.col("_mu"))
    z = F.when(sigma > 0, (F.col("dist") - F.col("_mu")) / sigma)
    zr = F.round(z, 4)
    return (
        d.join(F.broadcast(stats), group_col, "left")
        .select(
            id_col,
            group_col,
            F.round(F.col("dist"), 6).alias("dist"),
            zr.alias("z"),
            F.when(F.col("dist").isNull(), F.lit(True))
            .otherwise(
                F.coalesce(zr > F.lit(float(z_threshold)), F.lit(False))
            )
            .alias("is_outlier"),
        )
    )


def embedding_moments_nano(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """One-pass distributed first+second moments of an embedding column
    in integer NANO units — the covariance/PCA primitive.

    Per Arrow batch, numpy computes per-PRODUCT half-away-from-zero
    nano roundings (``round(v_i * v_j * 1e9)``) and per-element
    ``round(v_i * 1e9)``, accumulated as int64 — so the global sums are
    integer and therefore partition-order independent AND replayable by
    any engine that rounds half away from zero (Spark round / DuckDB
    round / Python round all do).  Output rows:

      (i, j,  spn)  for 1 <= i, j <= dim   — sum of product nanos
      (i, 0,  svn)  for 1 <= i <= dim      — sum of element nanos
      (0, 0,  n)                           — row count

    One shuffle of ~dim^2 + dim + 1 slim rows per batch; at any corpus
    size the aggregate output stays dim^2-bounded (64-dim -> 4 161
    rows), which is what makes PCA over 10^12 vectors a single pass."""
    import pandas as pd  # noqa: F401 (arrow path)

    def emit(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            col = batch.column(0)
            vecs = col.to_pylist()
            rows_i: list[int] = []
            rows_j: list[int] = []
            rows_v: list[int] = []
            mats = [v for v in vecs if v is not None]
            if mats:
                X = np.asarray(mats, dtype=np.float64)
                dim = X.shape[1]
                sp = np.zeros((dim, dim), dtype=np.int64)
                sv = np.zeros(dim, dtype=np.int64)
                # chunked so the per-row outer-product tensor stays small
                for k in range(0, X.shape[0], 256):
                    C = X[k : k + 256]
                    P = C[:, :, None] * C[:, None, :] * 1e9
                    sp += (
                        np.where(P >= 0, np.floor(P + 0.5), np.ceil(P - 0.5))
                        .astype(np.int64)
                        .sum(axis=0)
                    )
                    V = C * 1e9
                    sv += (
                        np.where(V >= 0, np.floor(V + 0.5), np.ceil(V - 0.5))
                        .astype(np.int64)
                        .sum(axis=0)
                    )
                ii, jj = np.meshgrid(
                    np.arange(1, dim + 1), np.arange(1, dim + 1), indexing="ij"
                )
                rows_i = ii.ravel().tolist() + list(range(1, dim + 1)) + [0]
                rows_j = jj.ravel().tolist() + [0] * dim + [0]
                rows_v = (
                    sp.ravel().tolist() + sv.tolist() + [len(mats)]
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(rows_i, type=pa.int32()),
                    pa.array(rows_j, type=pa.int32()),
                    pa.array(rows_v, type=pa.int64()),
                ],
                names=["i", "j", "val"],
            )

    return (
        df.select(F.col(vec_col))
        .mapInArrow(emit, "i int, j int, val long")
        .groupBy("i", "j")
        # decimal(38,0), not long: per-batch partials are ~1e9 x batch
        # rows, so an int64 global sum would wrap silently past ~9e9
        # vectors — decimal keeps the 10^12-vector claim honest (DuckDB
        # mirrors with its HUGEINT sum)
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("val"))
    )


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Mean-centered covariance entries ``(i, j, cov)`` (1-based dims,
    round 6) from the one-pass nano moments — deterministic because
    every floating-point input to the final formula is an exact integer
    sum, and the formula shape is mirrored by the SQL oracle."""
    m = embedding_moments_nano(df, vec_col).cache()
    n = m.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("val").alias("n")
    )
    sv = m.where((F.col("i") > 0) & (F.col("j") == 0)).select(
        F.col("i").alias("d"), F.col("val").alias("svn")
    )
    sp = m.where((F.col("i") > 0) & (F.col("j") > 0))
    return (
        sp.crossJoin(F.broadcast(n))
        .join(F.broadcast(sv).withColumnRenamed("d", "i").withColumnRenamed("svn", "svi"), "i")
        .join(F.broadcast(sv).withColumnRenamed("d", "j").withColumnRenamed("svn", "svj"), "j")
        .select(
            "i",
            "j",
            # + 0 normalizes IEEE negative zero: DuckDB's round keeps
            # the sign ('-0'), Spark's BigDecimal rounding drops it —
            # -0.0 + 0 == +0.0 in both engines
            (
                F.round(
                    (F.col("val") / 1e9) / F.col("n")
                    - (F.col("svi") / 1e9 / F.col("n"))
                    * (F.col("svj") / 1e9 / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 50,
) -> "tuple[float, list[float]]":
    """Top principal component by power iteration: the DISTRIBUTED work
    is the single :func:`embedding_moments_nano` pass (dim^2-bounded
    collect); the 64x64 eigen-iteration is driver-side numpy — at any
    corpus scale the driver cost is constant.

    Deterministic: fixed all-ones start, fixed iteration count, sign
    normalized so the first nonzero loading is positive.  Returns
    ``(eigenvalue, loadings)``; validated against numpy.linalg.eigh in
    tests (no SQL oracle — eigendecomposition isn't SQL-expressible)."""
    import numpy as np

    rows = embedding_moments_nano(df, vec_col).collect()
    # val is decimal(38,0) (overflow-proof sum) — take it as int
    n = int(next(r["val"] for r in rows if r["i"] == 0 and r["j"] == 0))
    dim = max(r["i"] for r in rows)
    sv = np.zeros(dim)
    sp = np.zeros((dim, dim))
    for r in rows:
        if r["i"] > 0 and r["j"] == 0:
            sv[r["i"] - 1] = int(r["val"])
        elif r["i"] > 0:
            sp[r["i"] - 1, r["j"] - 1] = int(r["val"])
    mu = sv / 1e9 / n
    cov = sp / 1e9 / n - np.outer(mu, mu)
    v = np.ones(dim) / np.sqrt(dim)
    for _ in range(iters):
        w = cov @ v
        nrm = np.linalg.norm(w)
        if nrm == 0.0:
            break
        v = w / nrm
    lam = float(v @ cov @ v)
    nz = np.nonzero(np.abs(v) > 1e-12)[0]
    if len(nz) and v[nz[0]] < 0:
        v = -v
    return lam, [float(x) for x in v]


def embedding_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization audit for an embedding column: per
    vector, the max-abs scale, the int8 codes' reconstruction error —
    "can this corpus ship 4× smaller vectors without hurting ANN?"
    answered before rewriting 100 TB of float32.  (The codes themselves
    are a projection away; this operator reports the decision signals.)

    q_i = clamp(round(v_i / s · 127), ±127) with s = max|v_i|; the audit
    numbers ride EXACT integer accumulators — per-dimension errors are
    half-away-rounded to nano units before the fold, so sums are
    order-independent and the SQL oracle replays them bit-for-bit (the
    same contract as embedding_moments_nano).  All element-wise HOFs, no
    shuffle, no Python.

    Returns ``(vec_id, n_dims, scale_nano, max_q, mae_nano, rel_err)``
    — ``max_q`` is the max |code| (the saturation audit must see ±127
    whichever sign carries the largest magnitude), rel_err = Σ|err| /
    Σ|v| (6 dp); zero/empty vectors report NULL scale/rel_err.
    """
    v = F.col(vec_col)
    s = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    d = df.select(
        F.col(id_col), v.alias("_v"), s.alias("_s"),
        F.size(v).alias("n_dims"),
    )
    ok = F.col("_s").isNotNull() & (F.col("_s") > 0)
    q = F.transform(
        F.col("_v"),
        lambda x: F.least(
            F.lit(127.0),
            F.greatest(
                F.lit(-127.0),
                F.round(x.cast("double") / F.col("_s") * F.lit(127.0), 0),
            ),
        ).cast("int"),
    )
    d = d.select(
        F.col(id_col), "_v", "_s", "n_dims",
        F.when(ok, q).alias("_q"),
    )
    err = F.zip_with(
        F.col("_v"),
        F.col("_q"),
        lambda x, qq: F.round(
            (
                x.cast("double")
                - qq.cast("double") * F.col("_s") / F.lit(127.0)
            )
            * F.lit(1e9),
            0,
        ).cast("long"),
    )
    zero = F.lit(0).cast("long")
    mae = F.aggregate(err, zero, lambda acc, x: acc + F.abs(x))
    sum_abs_v = F.aggregate(
        F.col("_v"),
        zero,
        lambda acc, x: acc
        + F.round(F.abs(x.cast("double")) * F.lit(1e9), 0).cast("long"),
    )
    out = d.select(
        F.col(id_col), "n_dims",
        F.when(ok, F.round(F.col("_s") * F.lit(1e9), 0).cast("long"))
        .alias("scale_nano"),
        # max |code|, not the signed max — the saturation audit must see
        # ±127 regardless of which sign carries the largest magnitude
        F.when(
            ok, F.array_max(F.transform(F.col("_q"), lambda q: F.abs(q)))
        ).alias("max_q"),
        F.when(ok, mae).alias("mae_nano"),
        F.when(ok, sum_abs_v).alias("_sav"),
    )
    rel = F.when(
        F.col("_sav") > 0,
        F.round(
            F.col("mae_nano").cast("double") / F.col("_sav").cast("double"), 6
        )
        + F.lit(0.0),
    )
    return out.select(
        id_col, "n_dims", "scale_nano", "max_q", "mae_nano",
        rel.alias("rel_err"),
    )


def pq_quantize(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
) -> DataFrame:
    """Product-quantization code assignment (Jégou et al. 2011): each
    vector splits into ``m`` contiguous subvectors and every subvector
    maps to its nearest codebook centroid — the memory side of
    billion-scale ANN (an m-byte code replaces a 256-byte vector).

    ``centroids`` is the trained codebook: ``(subspace int, code int,
    cvec array<double>)`` with ``dims/m`` entries per cvec.  The
    codebook is BROADCAST (it is tiny by construction: m·k rows) and
    assignment is one narrow join — no shuffle of the embedding table
    at all.  Distances are exact integer nano-units (each squared
    per-dimension delta is rounded to 1e-9 before the fold), so the
    argmin — ``min(struct(dist, code))``, a map-side-combinable agg —
    is total-ordered and bit-stable across engines; a double fold
    would tie-break on partition order.

    Returns one row per (vector, subspace): ``(vec_id, subspace, code,
    dist_nano)``.
    """
    sub = (
        embeddings.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("subspace"),
        )
        .select(
            id_col,
            "subspace",
            F.expr(
                f"slice(_v, subspace * (size(_v) div {m}) + 1,"
                f" size(_v) div {m})"
            ).alias("_sv"),
        )
    )
    dist = F.aggregate(
        F.zip_with(
            "_sv",
            "cvec",
            lambda a, b: F.round(
                (a.cast("double") - b) * (a.cast("double") - b) * F.lit(1e9),
                0,
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = sub.join(F.broadcast(centroids), "subspace").select(
        id_col, "subspace", dist.alias("_d"), F.col("code").alias("_c")
    )
    best = scored.groupBy(id_col, "subspace").agg(
        F.min(F.struct("_d", "_c")).alias("_b")
    )
    return best.select(
        id_col,
        F.col("subspace").cast("int").alias("subspace"),
        F.col("_b._c").cast("int").alias("code"),
        F.col("_b._d").alias("dist_nano"),
    )


def jl_project(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dims: int = 16,
) -> DataFrame:
    """Johnson–Lindenstrauss sign-random projection to ``out_dims``
    dimensions: ``proj_i = (1/√k) Σ_j v_j · s_ij`` with ``s_ij ∈ {±1}``
    derived from the md5 parity of ``"jl:i:j"`` — a seedless,
    engine-replayable sign matrix (Achlioptas 2003 shows ±1 entries
    preserve pairwise distances like Gaussian ones).  The cheap
    dimensionality cut before brute-force candidate scoring: 4× fewer
    multiply-adds per comparison at a distortion bounded by the JL
    lemma.

    Per-dimension products are micro-unit rounded BEFORE the sequential
    fold, so the sum is an exact integer and the projection matches
    the SQL oracle bit-for-bit (a double fold would depend on the
    engine's list-sum order).  The sign matrix is recomputed per row
    as md5 arithmetic here for oracle transparency; a production run
    would hoist the (out_dims × in_dims) literal matrix — it is a few
    KB — into the plan once.

    Returns ``(id, dim, proj)`` rows (6 dp), ``out_dims`` per vector.
    """
    from .dedup import md5_hash60

    scale = float(out_dims) ** 0.5

    def sign(i: int):
        def _s(j: Column) -> Column:
            h = md5_hash60(
                F.concat(F.lit(f"jl:{i}:"), j.cast("string"))
            )
            return F.when(F.pmod(h, F.lit(2)) == 0, F.lit(1.0)).otherwise(
                F.lit(-1.0)
            )

        return _s

    def proj_micro(i: int) -> Column:
        def half_away(v: Column) -> Column:
            # explicit floor/ceil half-away: F.round's BigDecimal
            # shortest-repr semantics disagrees with DuckDB's binary
            # half-away by 1 micro on products that land near .5
            return F.when(v >= 0, F.floor(v + F.lit(0.5))).otherwise(
                F.ceil(v - F.lit(0.5))
            )

        prods = F.zip_with(
            F.col(vec_col),
            F.sequence(F.lit(1), F.size(F.col(vec_col))),
            lambda a, j: half_away(
                F.lit(1e6) * a.cast("double") * sign(i)(j)
            ).cast("long"),
        )
        return F.aggregate(
            prods, F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    d = embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[proj_micro(i) for i in range(out_dims)])
        ).alias("dim", "_m"),
    )
    # proj to 6 dp WITHOUT F.round: micro_sum/scale is exact binary
    # for power-of-two scales, so half the values sit exactly on the
    # .5 micro boundary where BigDecimal-vs-binary rounding diverges;
    # explicit half-away floor/ceil keeps both engines identical
    m4 = F.col("_m").cast("double") / F.lit(scale)
    proj6 = F.when(F.col("_m") >= 0, F.floor(m4 + F.lit(0.5))).otherwise(
        F.ceil(m4 - F.lit(0.5))
    )
    return d.select(
        id_col,
        F.col("dim").cast("int").alias("dim"),
        (proj6.cast("double") / F.lit(1e6)).alias("proj"),
    )


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Dimension-truncation retrieval audit (the Matryoshka / MRL
    question): for each prefix length in ``dims``, run exact cosine
    top-k on the TRUNCATED vectors and report recall@k against the
    full-dimension top-k ground truth — the table that decides how
    short a stored embedding prefix can get before retrieval quality
    pays (storage at 10¹² vectors is linear in kept dims, so this
    audit prices the cheapest acceptable index tier).

    Output: ``(dim, n_queries, hits, recall)`` with recall =
    hits / (n_queries·k) rounded to 6 dp, one row per audited dim.

    Shape: ground truth and every truncated run share the
    `brute_force_topk` plan — broadcast(queries) ⋈ corpus scan with a
    per-query top-k window, ties broken by id (the engine-portable
    ordering the ann oracles pin).  The corpus scans len(dims)+1
    times; each scan is embarrassingly parallel with no data exchange
    beyond the slim (query, id, rank) results, so at scale the audit
    costs dims× one ANN-baseline pass — run it on the sampled query
    set, never all queries.  Truncated cosine re-normalizes by the
    PREFIX norms (slice before `cosine`), matching how an MRL index
    would actually score."""
    full = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    n_q = queries.select(
        F.count_distinct(query_id_col).alias("_nq")
    )
    per_dim = []
    for d in dims:
        trunc_c = corpus.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        trunc_q = queries.select(
            F.col(query_id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        got = brute_force_topk(
            trunc_c, trunc_q, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        ).select(query_id_col, id_col)
        per_dim.append(
            got.join(full, [query_id_col, id_col], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .select(F.lit(d).cast("int").alias("dim"), "hits")
        )
    hits = per_dim[0]
    for p in per_dim[1:]:
        hits = hits.unionByName(p)
    return hits.crossJoin(F.broadcast(n_q)).select(
        "dim",
        F.col("_nq").cast("long").alias("n_queries"),
        "hits",
        (
            F.round(
                F.col("hits").cast("double")
                / (F.col("_nq").cast("double") * F.lit(float(k))),
                6,
            )
            + F.lit(0.0)
        ).alias("recall"),
    )

def colbert_maxsim(
    queries: DataFrame,
    docs: DataFrame,
    q_id: str = "qid",
    q_tok: str = "vec_id",
    d_id: str = "did",
    vec_col: str = "embedding",
) -> DataFrame:
    """Late-interaction MaxSim scoring (Khattab & Zaharia 2020, ColBERT
    eq. 1): a query is a BAG of token vectors, a document likewise, and
    ``score(Q, D) = Σ_{q∈Q} max_{d∈D} cos(q, d)`` — each query token
    finds its best-matching document token, no pooled single vector.
    Returns ``(q_id, d_id, n_qtokens, maxsim_micro)`` for every
    query-document pair.  Query-token identity comes from the caller's
    ``q_tok`` column (a generated id would not replay in the oracle).

    Engine-stable arithmetic (the ``bitext_margin_mine`` contract):
    per-vector-pair cosines quantize to integer micro-units BEFORE the
    max/sum, so both reductions are integer ops — order-independent,
    hash-identical in the SQL oracle.

    Scale shape: the query side (token vectors of the query workload) is
    the broadcast side; document vectors stream through ONE narrow pass
    computing all pair cosines, then two slim integer aggregations
    (max per (q-token, doc), sum per (query, doc)) — map-side combined,
    nothing wide shuffles.  At 100 TB the dense pass becomes the
    re-scoring stage behind an ANN candidate filter (``lsh_topk`` /
    ``ivf_topk``); the maxsim algebra downstream is unchanged."""
    qv = queries.select(
        F.col(q_id).alias("_qid"),
        F.col(q_tok).alias("_qtok"),
        F.col(vec_col).alias("_vq"),
    )
    dv = docs.select(F.col(d_id).alias("_did"), F.col(vec_col).alias("_vd"))
    scored = dv.join(F.broadcast(qv)).select(
        "_qid",
        "_qtok",
        "_did",
        F.round(cosine(F.col("_vq"), F.col("_vd")) * 1_000_000, 0)
        .cast("long")
        .alias("_c6"),
    )
    best = scored.groupBy("_qid", "_qtok", "_did").agg(
        F.max("_c6").alias("_m")
    )
    return (
        best.groupBy("_qid", "_did")
        .agg(
            F.count(F.lit(1)).alias("n_qtokens"),
            F.sum("_m").cast("long").alias("maxsim_micro"),
        )
        .select(
            F.col("_qid").alias(q_id),
            F.col("_did").alias(d_id),
            "n_qtokens",
            "maxsim_micro",
        )
    )
