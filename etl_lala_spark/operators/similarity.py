"""Similarity search over embedding columns (north star: ANN at 100 TB).

- ``dot`` / ``norm``    exact inner products of array<float> columns, computed
                        JVM-side in double precision (zip_with + aggregate —
                        whole-stage-codegen'd, no Python).
- ``brute_force_topk``  exact top-k: broadcast the (small) query set against
                        the corpus — one pass, no shuffle of the corpus.
- ``lsh_topk``          scale path: random-hyperplane LSH bucketing; queries
                        only compare against same-bucket corpus vectors. The
                        hyperplanes are derived deterministically (no RNG) so
                        results are reproducible and resumable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (sequential fold → deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _guarded_sim(num: Column, denom: Column, round_digits: int | None) -> Column:
    """Cosine with a zero-denominator guard: a zero-norm vector (padding
    row, failed encode) yields NULL — never 0/0 = NaN, which Spark orders
    ABOVE every real double, so one bad row would otherwise become the
    rank-1 "nearest neighbor" of every query and pass any `>= threshold`
    near-dup cut. NULL instead sorts last under desc and fails `>=`
    comparisons; top-k call sites additionally filter NULL sims out so
    degenerate rows never consume a rank. On corpora with no zero vectors
    the guard is value-transparent (bit-identical doubles)."""
    s = num / denom
    if round_digits is not None:
        s = F.round(s, round_digits)
    return F.when(denom > 0, s)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine top-k: every query against every corpus vector.

    The query side is broadcast, so the corpus is scanned exactly once with
    no shuffle; ranking is per-query (small partitions). Ordering ties break
    on neighbor id after rounding, making the cut deterministic across
    engines. Returns (query_id, neighbor_id, cos_sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_n"),
    )
    from etl_lala_spark.io import spread

    # Row norms are projected once per side and reused per pair (the pair
    # stage then costs one dot, not three folds); reused norms are the
    # bit-identical doubles of the per-pair form, so rounded sims — and
    # oracle parity — are unchanged.
    c = spread(corpus, by=id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_n"),
    )
    sim = _guarded_sim(
        dot(F.col("q_vec"), F.col("c_vec")), F.col("q_n") * F.col("c_n"),
        round_digits,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim").isNotNull())
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hard_negative_mine(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 4,
) -> DataFrame:
    """Triplet mining for contrastive training (the FaceNet/SimCLR data
    stage): for each anchor, the k most-similar corpus rows with a
    DIFFERENT label (hard negatives — the pairs a margin loss learns most
    from) and the k LEAST-similar rows with the SAME label (hard
    positives). Exact, deterministic (rounded sim + id tiebreak), and
    oracle-replayable.

    Plan shape matches ``brute_force_topk``: the anchor cohort broadcasts
    (id, label, vector, norm — O(cohort × dim) bytes), the corpus is
    scanned ONCE with per-row norms projected once, and ranking partitions
    by (anchor, kind) so no partition exceeds the corpus rows of one
    anchor. At 100 TB the corpus never shuffles; mining cost is one
    codegen dot per (anchor, row) pair. Returns
    (anchor_id, kind, neighbor_id, cos_sim, rank).
    """
    from etl_lala_spark.io import spread

    # NULL-label rows are EXCLUDED from mining on both sides: a row of
    # unknown class can be confidently claimed as neither a positive nor a
    # negative — the bare when/otherwise form would silently mine two
    # unknown-label rows (possibly the same class) as negatives for each
    # other. The oracle SQL carries the same `label IS NOT NULL` predicate.
    q = anchors.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_n"),
    )
    c = spread(corpus, by=id_col).filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("n_label"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_n"),
    )
    sim = _guarded_sim(
        dot(F.col("q_vec"), F.col("c_vec")), F.col("q_n") * F.col("c_n"),
        round_digits,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.when(F.col("n_label") == F.col("anchor_label"), F.lit("hard_pos"))
            .otherwise(F.lit("hard_neg"))
            .alias("kind"),
            "neighbor_id",
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    # hard negatives rank by sim DESC (most confusable), hard positives by
    # sim ASC (least obvious same-class pair); one CASE keying keeps it a
    # single window pass.
    order_key = F.when(
        F.col("kind") == "hard_neg", -F.col("cos_sim")
    ).otherwise(F.col("cos_sim"))
    w = W.partitionBy("anchor_id", "kind").orderBy(order_key, "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: compare only within the query's LSH bucket(s).

    Multi-table random-hyperplane LSH: ``n_tables`` independent plane sets;
    a corpus vector is a candidate if it shares a bucket with the query in
    ANY table (OR-amplification lifts recall; each table splits the corpus
    into 2^planes buckets so per-query work stays ~n_tables·corpus/2^planes).
    At 100 TB, bucket the corpus once (write-partitioned by (table, bucket))
    and route queries by bucket — an equality-key join, no pairwise blowup.
    Returns (query_id, neighbor_id, cos_sim, rank).
    """
    from etl_lala_spark.io import spread

    def bucketed(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        # All n_tables×n_planes projections in ONE transform over the plane
        # matrix. The matrix itself is generated JVM-side (sin-scrambled
        # values keyed by (plane, dim-index): no RNG, reproducible across
        # runs and engines) in a one-row broadcast DataFrame: shipping 2048
        # Python float literals through py4j cost ~4 s of plan-build time per
        # query — more than executing the query. Projections are materialized
        # as a column so the sign-bit extraction below reads an attribute
        # reference (element access on a *computed* array re-evaluates it per
        # element — the shingling lesson).
        spark = df.sparkSession
        mat_df = spark.range(1).select(
            F.expr(
                f"transform(sequence(0, {n_tables * n_planes - 1}), pl -> "
                f"transform(sequence(0, {dim - 1}), d -> "
                f"sin(pl * 7919 + d * 104729 + 0.5)))"
            ).alias("planes_mat")
        )
        # The row norm is projected HERE, before the per-table explode —
        # post-explode each vector exists n_tables times and the dim-element
        # fold would run n_tables× per row (the file's norm-once discipline).
        # Same expression tree as ``norm``, so the reused double is
        # bit-identical to the inline form.
        projected = df.crossJoin(F.broadcast(mat_df)).select(
            F.col(idc),
            F.col(vecc),
            norm(F.col(vecc)).alias("_n"),
            F.expr(
                f"transform(planes_mat, p -> aggregate("
                f"zip_with({vecc}, p, (x, w) -> cast(x as double) * w), "
                f"0D, (acc, v) -> acc + v))"
            ).alias("projs"),
        )
        # Sign-bit bucket per table, built as one parsed expression (the
        # equivalent per-plane Python column loop costs ~1 s of py4j round
        # trips per call site).
        buckets = F.expr(
            f"transform(sequence(0, {n_tables - 1}), t -> named_struct("
            f"'tbl', t, "
            f"'bucket', aggregate(sequence(0, {n_planes - 1}), 0L, "
            f"(acc, p) -> acc + if(element_at(projs, t * {n_planes} + p + 1) >= 0, "
            f"shiftleft(1L, p), 0L))))"
        )
        return projected.select(
            F.col(idc), F.col(vecc), "_n", F.explode(buckets).alias("tb")
        ).select(idc, vecc, "_n", "tb.tbl", "tb.bucket")

    c = bucketed(spread(corpus, by=id_col), id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("_n").alias("c_n"),
        "tbl",
        "bucket",
    )
    q = bucketed(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("_n").alias("q_n"),
        "tbl",
        "bucket",
    )
    cand = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec", "q_n", "c_n")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # Per-row norms reused per pair — bit-identical to the inline form.
    sim = _guarded_sim(
        dot(F.col("q_vec"), F.col("c_vec")), F.col("q_n") * F.col("c_n"),
        round_digits,
    )
    scored = cand.select("query_id", "neighbor_id", sim.alias("cos_sim")).filter(
        F.col("cos_sim").isNotNull()
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_codebook(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
) -> DataFrame:
    """One-row broadcast-able IVF codebook ``(cells: array<struct<cell,
    cvec>>)`` from deterministic stride-sampled, pre-normalized corpus
    vectors — shared by ``ivf_topk`` and ``ivfpq_index``, whose index must
    be quantized with the SAME codebook the queries route by."""
    centroids = (
        corpus.filter((F.col(id_col) % centroid_stride) == 0)
        .orderBy(id_col)
        .limit(n_cells)
        .select(
            # n_cells rows only — the single-partition window is fine here.
            (F.row_number().over(W.orderBy(id_col)) - 1).alias("cell"),
            F.col(vec_col).alias("cvec"),
        )
        # Pre-normalize centroids once at codebook build: cell argmax then
        # needs only a dot product per cell (the row-vector norm is constant
        # across cells and drops out of the argmax).
        .select(
            "cell",
            F.expr(
                "transform(cvec, a -> cast(a as double) / "
                "sqrt(aggregate(transform(cvec, b -> cast(b as double) * b), "
                "0D, (acc, v) -> acc + v)))"
            ).alias("cvec"),
        )
    )
    return centroids.agg(F.collect_list(F.struct("cell", "cvec")).alias("cells"))


def ivf_assign(
    df: DataFrame,
    codebook: DataFrame,
    out_cells: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``out_cells`` nearest codebook cells —
    argmax over the broadcast one-row codebook, a narrow map with no
    shuffle of ``df``. Returns (id_col, vec_col, cell), one row per probed
    cell."""
    sims = F.expr(
        f"transform(cells, x -> named_struct("
        f"'s', aggregate(zip_with({vec_col}, x.cvec, "
        f"(a, b) -> cast(a as double) * b), 0D, (acc, v) -> acc + v), "
        f"'cell', x.cell))"
    )
    with_sims = df.crossJoin(F.broadcast(codebook)).select(
        F.col(id_col), F.col(vec_col), sims.alias("cell_sims")
    )
    picked = F.expr(
        f"transform(slice(reverse(array_sort(cell_sims)), 1, {out_cells}), "
        f"x -> x.cell)"
    )
    return with_sims.select(
        F.col(id_col), F.col(vec_col), F.explode(picked).alias("cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
    round_digits: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus into
    ``n_cells`` cells, compare queries only against their ``nprobe`` nearest
    cells.

    Centroids are ``n_cells`` deterministic sample vectors (every
    ``centroid_stride``-th corpus vector — no RNG, reproducible). The
    codebook is collapsed to ONE row (collect_list) and broadcast; cell
    assignment is then a per-row argmax over the codebook array — a narrow
    map, no shuffle of the corpus. Candidates come from an equality join on
    cell id. At 100 TB: write the corpus partitioned by cell once, route
    queries by cell-key — scan cost drops ×(nprobe/n_cells), and the
    codebook (n_cells × dim floats) broadcasts trivially.
    Returns (query_id, neighbor_id, cos_sim, rank).

    No dedup of candidates: every corpus vector lives in exactly ONE cell
    (out_cells=1), so a (query, neighbor) pair can only arise once even
    though the query probes several cells — skipping dropDuplicates
    removes a full shuffle of the candidate set.
    """
    from etl_lala_spark.io import spread

    codebook = ivf_codebook(
        corpus,
        n_cells=n_cells,
        id_col=id_col,
        vec_col=vec_col,
        centroid_stride=centroid_stride,
    )
    c = ivf_assign(
        spread(corpus, by=id_col), codebook, 1, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_n"),
        "cell",
    )
    q = ivf_assign(
        queries, codebook, nprobe, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_n"),
        "cell",
    )
    # Per-row norms reused per pair — bit-identical to the inline form.
    sim = _guarded_sim(
        dot(F.col("q_vec"), F.col("c_vec")), F.col("q_n") * F.col("c_n"),
        round_digits,
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim").isNotNull())
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_fit(
    corpus: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd) over an embedding column — the clustering
    step of SemDeDup-style semantic dedup and of IVF codebook training.

    No RNG: corpus vectors are L2-normalized once; each Lloyd iteration is
    (a) a narrow argmax assignment against a one-row broadcast codebook
    (the corpus never shuffles) and (b) a centroid update computed as
    ``dim`` columnar ``avg`` aggregates in ONE hash agg — only k × dim
    partial sums move, never the vectors. Initial centroids are
    deterministic stride samples (reproducible/resumable, like
    ``ivf_topk``). Empty cells drop out (standard Lloyd degeneracy; k is
    an upper bound). With unit vectors the normalized-mean update is
    exactly the spherical-k-means maximization step, so the objective
    (mean cosine to the assigned centroid) is non-decreasing per
    iteration — asserted in tests.

    EAGER per iteration, by design: the k × dim codebook is collected to
    the driver after each update and re-broadcast as a literal. Model
    state is driver-sized (that is the point of coarse quantization), and
    truncating the lineage this way makes every iteration exactly ONE
    corpus scan — a lazily chained loop re-derives each codebook from the
    one before it, so iteration i re-runs iterations 0..i-1 (≈2× iters
    corpus scans) and hands Catalyst an iters-deep nest of 64-avg
    aggregates to analyze. Measured at sf0.1: 7–9 s lazy → ~2 s eager.

    ``train_sample_mod``: when set, Lloyd iterations run over the
    deterministic 1/mod hash-subsample (``xxhash64(id) % mod == 0``) and
    only the FINAL assignment scans the full corpus — the standard
    sample-trained-codebook regime (k-means statistics converge on a
    sample far smaller than the corpus), and the honest 100 TB shape:
    codebook cost stops scaling with corpus size while the assignment
    stays one full narrow scan. Invariants (one cell per vector, cells in
    [0, k), objective monotone on the TRAINING set) are unchanged.

    Returns the final assignment ``(id_col, cell, sim)`` where ``sim`` is
    the cosine between the vector and its assigned centroid.
    """
    from etl_lala_spark.io import spread

    # Unit-normalize in TWO projections so the norm is an attribute the
    # divide lambda references: folding the norm inside the per-element
    # transform re-evaluates the dim-element aggregate once PER ELEMENT
    # (Catalyst does not hoist loop-invariant subexpressions out of HOF
    # lambdas) — O(dim²) per row on every Lloyd scan. Same arithmetic
    # order (sequential square-sum, sqrt, divide), so `v` is bit-identical
    # to the fused form and assignments/centroids are unchanged.
    vecs = (
        spread(corpus, by=id_col)
        .select(
            F.col(id_col).alias("vid"),
            F.expr(f"transform({vec_col}, a -> cast(a as double))").alias("dv"),
        )
        .select(
            "vid",
            "dv",
            F.expr(
                "sqrt(aggregate(transform(dv, b -> b * b), "
                "0D, (acc, v) -> acc + v))"
            ).alias("nn"),
        )
        .select("vid", F.expr("transform(dv, a -> a / nn)").alias("v"))
    )
    train = (
        vecs
        if train_sample_mod is None
        else vecs.filter(F.pmod(F.xxhash64(F.col("vid")), train_sample_mod) == 0)
    )

    spark = corpus.sparkSession
    cent_schema = "cell INT, cvec ARRAY<DOUBLE>"

    def collect_cells(cent_df: DataFrame) -> dict[int, list[float]]:
        return {int(r[0]): list(r[1]) for r in cent_df.collect()}

    def materialize(cell_map: dict[int, list[float]]) -> DataFrame:
        """Rebuild the k×dim codebook as a literal DataFrame — truncates
        lineage so the next iteration starts from flat state."""
        return spark.createDataFrame(sorted(cell_map.items()), schema=cent_schema)

    # Seeds come from the FULL corpus stride sample — stacking the training
    # subsample filter here would shrink the seed pool mod× and silently
    # start with fewer than k centroids on small corpora; sampling is meant
    # to bound the Lloyd iteration scans, not starve initialization.
    cells = collect_cells(
        vecs.filter((F.col("vid") % centroid_stride) == 0)
        .orderBy("vid")
        .limit(k)
        .select(
            # k rows only — the single-partition window is fine here.
            (F.row_number().over(W.orderBy("vid")) - 1).alias("cell"),
            F.col("v").alias("cvec"),
        )
    )
    centroids = materialize(cells)

    def assigned_to(centroids: DataFrame, frame: DataFrame = vecs) -> DataFrame:
        codebook = centroids.agg(
            F.collect_list(F.struct("cell", "cvec")).alias("cells")
        )
        # argmax over the codebook via array_max on (sim, cell) structs —
        # struct comparison orders on sim first, so ties break on the
        # higher cell id, deterministically.
        sims = F.expr(
            "transform(cells, x -> named_struct("
            "'s', aggregate(zip_with(v, x.cvec, (a, b) -> a * b), "
            "0D, (acc, v2) -> acc + v2), "
            "'cell', x.cell))"
        )
        return (
            frame.crossJoin(F.broadcast(codebook))
            .select("vid", "v", sims.alias("cell_sims"))
            .select(
                "vid",
                "v",
                F.expr("array_max(cell_sims).cell").alias("cell"),
                F.expr("array_max(cell_sims).s").alias("sim"),
            )
        )

    for _ in range(iters):
        asg = assigned_to(centroids, train)
        # Centroid update as dim columnar avg()s in ONE hash agg: each task
        # keeps k × dim running sums with no row inflation. The alternative
        # (posexplode → (cell, idx) avg) has the same post-combine shuffle
        # volume and a much smaller driver-side plan (~0.7 s of py4j Column
        # construction saved per iteration at dim=64), but materializes dim
        # rows per vector before the partial agg — a per-row CPU cost that
        # scales with the corpus. Constant driver cost beats scaling
        # executor cost at 100 TB, so the columnar form stays.
        # Single-parse expr strings, not dim py4j Column chains: building
        # avg(v[i]) through the Column API costs 3 driver round trips per
        # dimension per iteration (~0.4 s/iter at dim=64, measured); the
        # parsed expressions are the identical GetArrayItem+avg trees, so
        # centroids are bit-unchanged.
        means = asg.groupBy("cell").agg(
            *[F.expr(f"avg(v[{i}]) AS m{i}") for i in range(dim)]
        )
        means = means.select(
            "cell",
            F.expr(
                "array(" + ",".join(f"m{i}" for i in range(dim)) + ") AS mvec"
            ),
        )
        # Normalize in a second projection so `mvec` is an attribute —
        # element access on a *computed* array re-evaluates it per element.
        # dict-update keeps every cell alive: a cell that captured no
        # training vectors this round (possible when seeds come from the
        # full corpus but Lloyd runs on the hash subsample) retains its
        # previous centroid instead of silently shrinking the codebook
        # below k for all remaining iterations.
        cells.update(
            collect_cells(
                means.select(
                    "cell",
                    F.expr(
                        "transform(mvec, a -> a / "
                        "sqrt(aggregate(transform(mvec, b -> b * b), "
                        "0D, (acc, v) -> acc + v)))"
                    ).alias("cvec"),
                )
            )
        )
        centroids = materialize(cells)

    return assigned_to(centroids).select(F.col("vid").alias(id_col), "cell", "sim")


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    round_digits: int = 4,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold within a block.

    Blocked pairwise join — exact, oracle-able; for unblocked 100 TB corpora
    use lsh_topk buckets as the block instead. Returns (vec_a, vec_b, cos_sim).

    The row norm is projected ONCE per row before the self-join and reused
    on both sides — cosine per pair is then a single dot product instead of
    three 64-element folds (3× less pair work; with b-sized blocks the pair
    stage dominates at Σb² pairs). The reused norm is the bit-identical
    double the per-pair form would compute, so rounded sims — and oracle
    hash parity — are unchanged.
    """
    from etl_lala_spark.io import spread

    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("n2"),
    ]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    t = spread(df, by=id_col).select(*cols)
    x, y = t.alias("x"), t.alias("y")
    cond = F.col("x.id") < F.col("y.id")
    if block_col:
        cond = cond & (F.col("x.blk") == F.col("y.blk"))
    # _guarded_sim: a zero-norm row yields NULL sim, and NULL >= threshold
    # is NULL → the filter drops the pair (NaN >= threshold would be TRUE
    # under Spark's NaN-is-largest ordering, reporting a zero vector as a
    # near-duplicate of every row in its block).
    sim = _guarded_sim(
        dot(F.col("x.vec"), F.col("y.vec")), F.col("x.n2") * F.col("y.n2"),
        round_digits,
    )
    return (
        x.join(y, cond)
        .select(
            F.col("x.id").alias("vec_a"),
            F.col("y.id").alias("vec_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def power_iteration_pc(
    corpus: DataFrame,
    dim: int,
    iters: int = 8,
    vec_col: str = "embedding",
) -> dict:
    """Dominant principal component of the embedding corpus via power
    iteration — the "all-but-the-top" preprocessing step (removing the
    common dominant direction) that embedding pipelines run before
    SemDeDup-style clustering or cosine retrieval.

    Scale shape: model state is O(dim) floats on the driver (like
    kmeans_fit's codebook); each iteration is ONE corpus scan computing the
    per-row centered projection s = (x−μ)·v (a codegen'd fold against
    literal μ/v arrays) and `dim` columnar sums Σ s·(x_j−μ_j) in one hash
    agg — only dim partial sums shuffle, vectors never move. Eigen-state
    (w = n·C·v) is collected per round (dim floats) and re-broadcast as
    literals, so lineage stays flat and iteration i never re-runs 0..i−1.

    Returns dict(mu, v, eigval, n, rel_residual): μ the mean vector, v the
    unit dominant direction, eigval = vᵀCv (biased covariance), and
    rel_residual = ‖C·v − eigval·v‖ / eigval — convergence quality (small
    also when the spectrum is near-flat, where any direction is close to
    an eigendirection).
    """
    x = F.col(vec_col)
    # Single-parse expr strings (same trees, ~3 driver round trips per
    # dimension saved — the kmeans_fit discipline).
    stats = corpus.agg(
        F.count("*").alias("n"),
        *[
            F.expr(f"avg(cast(`{vec_col}`[{i}] as double)) AS m{i}")
            for i in range(dim)
        ],
    ).first()
    n = stats["n"]
    if n == 0:
        # avg() over zero rows is NULL → float(None) would raise an opaque
        # TypeError after the scan; fail fast with the real cause instead.
        raise ValueError(
            "power_iteration_pc: empty corpus (an upstream filter matched "
            "no rows?) — the mean/covariance are undefined"
        )
    mu = [float(stats[f"m{i}"]) for i in range(dim)]

    v = [1.0 / dim**0.5] * dim
    eigval = 0.0
    rel_residual = float("inf")
    mu_lit = F.array(*[F.lit(m) for m in mu])
    # Project the centered vector ONCE as an array attribute (c[i] on the
    # materialized attribute is a plain GetArrayItem; element access on
    # the *computed* zip_with would re-run it per element). mu is fixed
    # before the loop, so the projection is iteration-invariant; only
    # v_lit changes per round. (Persisting it across iterations was tried
    # and reverted: at 2–4 rounds the cache materialization costs more
    # than re-running the narrow scan it saves.)
    centered = F.zip_with(x, mu_lit, lambda a, b: a.cast("double") - b)
    cent = corpus.select(centered.alias("c"))
    for _ in range(iters):
        v_lit = F.array(*[F.lit(c) for c in v])
        s = dot(F.col("c"), v_lit)
        # sum s·c[i] via single-parse exprs — the driver stops paying ~9
        # py4j round trips per dimension per iteration building scalar
        # projection columns.
        row = (
            cent.select(s.alias("s"), "c")
            .agg(*[F.expr(f"sum(s * c[{i}]) AS w{i}") for i in range(dim)])
            .first()
        )
        w = [float(row[f"w{i}"]) for i in range(dim)]  # w = n·C·v
        # Driver-side O(dim) arithmetic: Rayleigh quotient, residual, renorm.
        eigval = sum(wi * vi for wi, vi in zip(w, v)) / n
        resid = sum((wi / n - eigval * vi) ** 2 for wi, vi in zip(w, v)) ** 0.5
        rel_residual = resid / eigval if eigval > 0 else float("inf")
        wn = sum(wi * wi for wi in w) ** 0.5
        if wn == 0:  # degenerate (zero-variance corpus): keep current v
            break
        v = [wi / wn for wi in w]
    return {"mu": mu, "v": v, "eigval": eigval, "n": n, "rel_residual": rel_residual}


def top_pc_projection(
    corpus: DataFrame,
    mu: list[float],
    v: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector decomposition along the dominant component: projection
    p = (x−μ)·v and residual energy ‖x−μ‖² − p² (Pythagoras with unit v —
    deliberately NOT materializing the residual vector, whose per-element
    lambda would re-fold the projection per element). One narrow projection,
    no shuffle. Returns (id_col, proj, resid_sq)."""
    x = F.col(vec_col)
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    v_lit = F.array(*[F.lit(float(c)) for c in v])
    centered = F.zip_with(x, mu_lit, lambda a, b: a.cast("double") - b)
    # Two projections so `proj` and the centered self-dot are attributes:
    # HOF folds are codegen-fallback expressions with no common-subexpression
    # elimination, so the one-select form evaluates dot(centered, v) three
    # times and dot(centered, centered) once — four dim-folds per row where
    # two suffice. resid_sq = cc − proj² is the identical double.
    step = corpus.select(
        F.col(id_col),
        dot(centered, v_lit).alias("proj"),
        dot(centered, centered).alias("cc"),
    )
    return step.select(
        id_col,
        "proj",
        (F.col("cc") - F.col("proj") * F.col("proj")).alias("resid_sq"),
    )


def kcenter_select(
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez'
    2-approximation) over an embedding column — the diversity-sampling
    stage of training-data curation: pick the k most mutually-distant
    documents so a budgeted subset covers the embedding space instead of
    oversampling its dense core.

    Fully deterministic (seed = the minimum id; ties on the farthest
    point break to the smaller id), which is what makes an EXACT oracle
    possible for an iterative geometric algorithm — the DuckDB twin runs
    the same greedy loop as a recursive CTE.

    Plan shape per round: ONE pass over the cached vector projection
    computing min-Euclidean-distance to the ≤k already-selected centers
    (a single codegen'd ``array_min`` fold over a nested literal array —
    the corpus never shuffles), then a ``TakeOrderedAndProject`` argmax
    collecting exactly one row. Driver state is k × dim floats, the same
    metadata-size discipline as ``kmeans_fit``'s codebook. Total cost k
    passes; at 100 TB the knob is the same as k-means': recomputing ≤k
    distances per pass beats materializing an incremental min-distance
    column, because the latter writes a corpus-sized intermediate per
    round. Two local measurements matter: the centers are embedded as ONE
    SQL-text literal rather than nested ``F.lit`` Column trees (the
    ~k × dim py4j round trips were the dominant cost — 2.7× total), and
    the projected vectors are cached for the duration of the loop so
    rounds re-read columnar memory, not parquet. ``sqrt(array_min(sq))``
    equals ``min(sqrt(sq))`` exactly (sqrt is monotone and correctly
    rounded), so the oracle's per-center sqrt ordering is preserved.

    Returns a k-row DataFrame (pick_order, id, dist_to_selected) where
    dist_to_selected is the point's distance to the previously-selected
    set at pick time — the non-increasing coverage-radius sequence.
    """
    spark = corpus.sparkSession
    vecs = corpus.select(
        F.col(id_col).alias("vid"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    ).cache()

    seed_rows = vecs.orderBy("vid").limit(1).collect()
    if not seed_rows:
        vecs.unpersist()
        raise ValueError(
            "kcenter_select: empty corpus — no seed point to start the "
            "greedy selection from"
        )
    first = seed_rows[0]
    picks: list[tuple[int, int, float]] = [(1, first.vid, 0.0)]
    centers: list[list[float]] = [list(first.v)]
    for step in range(2, k + 1):
        carr = (
            "array("
            + ",".join(
                "array(" + ",".join(f"{x!r}D" for x in c) + ")" for c in centers
            )
            + ")"
        )
        mind = F.expr(
            f"sqrt(array_min(transform({carr}, c -> "
            "aggregate(zip_with(v, c, (p, q) -> (p - q) * (p - q)), "
            "0D, (a, x) -> a + x))))"
        )
        far = (
            vecs.select("vid", "v", mind.alias("d"))
            .orderBy(F.desc("d"), F.asc("vid"))
            .limit(1)
            .collect()[0]
        )
        picks.append((step, far.vid, float(far.d)))
        centers.append(list(far.v))
    vecs.unpersist()

    # The output id column keeps the CALLER's id type (string doc ids
    # included, as in _pq_query_luts) — a hardcoded BIGINT would crash
    # after all k corpus scans for string ids and silently widen narrower
    # int types, breaking exact-schema parity with the oracle.
    out = spark.createDataFrame(
        picks,
        schema=T.StructType(
            [
                T.StructField("pick_order", T.IntegerType(), False),
                T.StructField(id_col, corpus.schema[id_col].dataType),
                T.StructField("d", T.DoubleType()),
            ]
        ),
    )
    return out.select(
        "pick_order", id_col, F.round("d", 6).alias("dist_to_selected")
    ).orderBy("pick_order")


def kcenter_radius(
    corpus: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Coverage radius of a center set: max over the corpus of the min
    Euclidean distance to any center — ONE scan, codegen'd array fold over a
    single SQL-text literal of the centers, no shuffle (global max is a
    driver-sized partial agg)."""
    carr = (
        "array("
        + ",".join("array(" + ",".join(f"{x!r}D" for x in c) + ")" for c in centers)
        + ")"
    )
    mind = F.expr(
        f"sqrt(array_min(transform({carr}, c -> "
        f"aggregate(zip_with(transform({vec_col}, x -> cast(x as double)), c, "
        "(p, q) -> (p - q) * (p - q)), 0D, (a, x) -> a + x))))"
    )
    r = corpus.select(F.max(mind).alias("r")).collect()[0].r
    if r is None:  # max() over zero rows — float(None) would be opaque
        raise ValueError("kcenter_radius: empty corpus — radius is undefined")
    return float(r)


def kcenter_select_sampled(
    corpus: DataFrame,
    k: int = 10,
    sample_n: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sampler: str = "xxhash64",
) -> DataFrame:
    """Presampled greedy k-center — the 100 TB path (SCALE.md): exact
    ``kcenter_select`` is one corpus scan PER pick (k scans), fine for
    coreset-sized k but not for k in the thousands over 100 TB. This variant
    takes a deterministic uniform presample of ``sample_n`` points (the
    smallest ``xxhash64(id)`` values — a ``TakeOrderedAndProject``, one scan,
    no shuffle, no RNG state) and runs the exact greedy loop on the sample
    only, so the k passes touch ``sample_n`` rows instead of the corpus.

    Guarantee: Gonzalez on the full data is a 2-approximation of the optimal
    radius; presampling adds at most the sample's covering slack — with
    ``sample_n ≫ k`` uniform draws, every dense region of the corpus is
    represented and the selected radius stays within a small factor of the
    exact pick's (the planted-cluster test asserts equality of coverage to
    within ε; ``audit_kcenter_sampled`` pins the radius bound against the
    DuckDB oracle). Same deterministic tie-breaking, same output schema as
    ``kcenter_select``; ``dist_to_selected`` is measured within the sample.

    ``sampler``: ``"xxhash64"`` (default, cheapest JVM hash) or ``"md5"``
    (hex-string order — identical in DuckDB, so the sampled pick itself is
    oracle-reproducible).
    """
    key = (
        F.md5(F.col(id_col).cast("string"))
        if sampler == "md5"
        else F.xxhash64(F.col(id_col))
    )
    sampled = corpus.select(id_col, vec_col).orderBy(
        key, F.col(id_col)
    ).limit(sample_n)
    return kcenter_select(sampled, k=k, id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN (asymmetric distance)
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int | None = None,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011 — public literature; the
    reference has no vector operators at all, SURVEY §2.12).

    The vector is split into ``m`` contiguous subvectors of ``dim // m``
    dims; each subspace gets its own ``ksub``-centroid k-means codebook, so
    a vector compresses to ``m`` small codes (4 bits each at ksub=16 —
    64 float32 dims → 8 codes, a 64× compression) while asymmetric distance
    against a full-precision query stays a table lookup.

    One corpus scan per Lloyd iteration for ALL subspaces at once: the scan
    posexplodes each row into ``m`` (subspace, subvector) pairs — narrow
    rows of ``dim // m`` doubles, partially aggregated map-side — and one
    hash agg per iteration yields every subspace's centroid update. Model
    state (m × ksub × dsub ≈ 1k floats) is collected to the driver per
    iteration, truncating lineage exactly like ``kmeans_fit``. Initial
    centroids are a deterministic hash-ordered sample; no RNG anywhere, so
    codebooks are reproducible and resumable.
    """
    if dim % m != 0:
        raise ValueError(
            f"pq_train: dim={dim} is not divisible by m={m}; the contiguous "
            "subvector split would silently drop the trailing "
            f"{dim % m} dimensions (pad the vectors or pick m | dim)"
        )
    dsub = dim // m
    spark = corpus.sparkSession
    # Sample-trained codebooks (Jégou et al. train on ~100k vectors
    # regardless of corpus size): a deterministic 1/mod hash-subsample
    # bounds every Lloyd iteration's scan; encode still covers the full
    # corpus in its own single pass.
    full = corpus
    if train_sample_mod is not None:
        corpus = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), train_sample_mod) == 0
        )
    dvec = F.transform(F.col(vec_col), lambda a: a.cast("double"))
    subs = F.array(*[F.slice(dvec, j * dsub + 1, dsub) for j in range(m)])
    long = corpus.select(F.col(id_col).alias("vid"), subs.alias("subs")).select(
        "vid", F.posexplode("subs").alias("sub", "s")
    )

    # Deterministic init: the ksub smallest-xxhash64(id) rows seed every
    # subspace's codebook from the same rows — a TakeOrderedAndProject
    # (one scan, no shuffle, no RNG), well-spread regardless of id layout
    # and guaranteed ksub rows whenever the corpus has that many (a stride
    # filter can undershoot on small corpora). Tiny driver-side collect.
    # Seeds come from the FULL corpus, not the train subsample — stacking
    # the 1/mod filter here would shrink the seed pool mod× and silently
    # start every subspace with fewer than ksub centroids (the same
    # starvation kmeans_fit guards against); sampling bounds the Lloyd
    # scans, not initialization.
    seed_rows = (
        full.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(ksub)
        .select(dvec.alias("dv"))
        .collect()
    )
    books = [
        [[float(r["dv"][j * dsub + i]) for i in range(dsub)] for r in seed_rows]
        for j in range(m)
    ]

    def cb_df(bks):
        """One-row broadcast codebook frame — avoids py4j literal trees."""
        return spark.createDataFrame(
            [(bks,)], schema="cb array<array<array<double>>>"
        )

    sq = (
        "aggregate(zip_with(s, c, (a, b) -> (a - b) * (a - b)), 0D, "
        "(acc, v) -> acc + v)"
    )
    for _ in range(iters):
        asg = (
            long.crossJoin(F.broadcast(cb_df(books)))
            .select(
                "sub",
                "s",
                F.expr(f"transform(element_at(cb, sub + 1), c -> {sq})").alias("ds"),
            )
            .select(
                "sub",
                "s",
                (F.array_position(F.col("ds"), F.array_min("ds")) - 1)
                .cast("int")
                .alias("code"),
            )
        )
        rows = (
            asg.groupBy("sub", "code")
            .agg(*[F.expr(f"avg(s[{i}]) AS m{i}") for i in range(dsub)])
            .collect()
        )
        new_books = [[list(c) for c in bk] for bk in books]  # keep empty cells
        for r in rows:
            new_books[r["sub"]][r["code"]] = [float(r[f"m{i}"]) for i in range(dsub)]
        books = new_books
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
    with_recon_n: bool = True,
) -> DataFrame:
    """Encode vectors to PQ codes: ``(id, *keep_cols, codes array<int>,
    recon_n)`` where ``recon_n`` is the reconstructed vector's L2 norm (a
    per-row constant under the codebook, materialized once so query-time
    cosine is pure lookup arithmetic). One narrow scan, zero shuffle; the
    codebook rides a one-row broadcast. ``keep_cols`` carries extra columns
    (e.g. an IVF cell id) through the encode in the SAME pass. At 100 TB
    the encoded table is what gets persisted — 64× smaller than the float
    corpus, scanned instead of it by every query.

    ``with_recon_n=False`` skips the norm fold entirely — for callers that
    compute their own norm (``ivfpq_residual_index`` needs ``|c +
    recon(r)|``, not ``|recon(r)|``); computing-then-dropping it would pay
    an m-lookup + m·dsub fold per corpus row for a discarded value."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    keep = list(keep_cols or [])
    spark = df.sparkSession
    cb = spark.createDataFrame([(codebooks,)], schema="cb array<array<array<double>>>")
    dvec = F.transform(F.col(vec_col), lambda a: a.cast("double"))
    subs = F.array(*[F.slice(dvec, j * dsub + 1, dsub) for j in range(m)])
    sq = (
        "aggregate(zip_with(sv, c, (a, b) -> (a - b) * (a - b)), 0D, "
        "(acc, v) -> acc + v)"
    )
    with_ds = (
        df.crossJoin(F.broadcast(cb))
        .select(F.col(id_col), *keep, subs.alias("subs"), "cb")
        .select(
            id_col,
            *keep,
            "cb",
            F.expr(
                f"zip_with(subs, cb, (sv, cands) -> transform(cands, c -> {sq}))"
            ).alias("ds_all"),
        )
    )
    codes = F.expr(
        "transform(ds_all, ds -> cast(array_position(ds, array_min(ds)) - 1 as int))"
    )
    enc = with_ds.select(id_col, *keep, codes.alias("codes"), "cb")
    if not with_recon_n:
        return enc.select(id_col, *keep, "codes")
    recon2 = F.expr(
        "aggregate(zip_with(cb, codes, (bk, code) -> "
        "aggregate(element_at(bk, code + 1), 0D, (acc, v) -> acc + v * v)), "
        "0D, (acc, v) -> acc + v)"
    )
    return enc.select(id_col, *keep, "codes", F.sqrt(recon2).alias("recon_n"))


def _pq_query_luts(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ADC lookup tables ``(query_id, lut m×ksub, q_n)`` computed
    driver-side (the query set is small by contract): lut[j][c] =
    dot(q_sub_j, codebook[j][c]). Shared by exhaustive ADC and IVFADC."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    spark = queries.sparkSession
    qrows = queries.select(
        F.col(id_col).alias("qid"),
        F.transform(F.col(vec_col), lambda a: a.cast("double")).alias("qv"),
    ).collect()
    qdata = []
    for r in qrows:
        qv = r["qv"]
        lut = [
            [
                sum(qv[j * dsub + i] * c[i] for i in range(dsub))
                for c in codebooks[j]
            ]
            for j in range(m)
        ]
        qn = math.sqrt(sum(x * x for x in qv))
        qdata.append((r["qid"], lut, qn))
    # query_id keeps the caller's id type (string doc ids included) so the
    # self-pair filter compares like with like, as in brute_force_topk.
    qid_type = queries.schema[id_col].dataType
    return spark.createDataFrame(
        qdata,
        schema=T.StructType(
            [
                T.StructField("query_id", qid_type),
                T.StructField("lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
                T.StructField("q_n", T.DoubleType()),
            ]
        ),
    )


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query precomputes an
    m × ksub lookup table of ``dot(q_sub, centroid)`` driver-side (the query
    set is small by contract, same as ``brute_force_topk``); scoring a
    corpus row is then ``m`` table lookups summed — no float vectors are
    read at query time, only the 8-code column. Approximate cosine =
    Σ lut[j][code_j] / (|q| · recon_n). Broadcast of queries+LUTs means the
    encoded corpus never shuffles. Ties break on neighbor id after
    rounding; self-pairs are excluded, mirroring ``brute_force_topk``."""
    qdf = _pq_query_luts(queries, codebooks, id_col, vec_col)
    num = F.expr(
        "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, c + 1)), 0D, "
        "(acc, v) -> acc + v)"
    )
    scored = (
        encoded.crossJoin(F.broadcast(qdf))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _guarded_sim(
                num, F.col("q_n") * F.col("recon_n"), round_digits
            ).alias("adc_sim"),
        )
        .filter(F.col("adc_sim").isNotNull())
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc_sim").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivfpq_index(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVFADC index (Jégou et al., TPAMI 2011, §IV): coarse-assign
    every corpus vector to its nearest IVF cell AND PQ-encode it in the SAME
    single pass — returns ``(index_df, ivf_codebook_df)`` where index_df is
    ``(id, cell, codes, recon_n)``.

    Scale: zero shuffle — cell argmax and code selection are both per-row
    maps over broadcast codebooks, so the one corpus scan pipelines straight
    into the (cell-partitioned, 64×-compressed) index write. At 100 TB the
    index is persisted ``partitionBy("cell")``; queries then touch only
    their probed cells' files (partition pruning), never the float corpus.

    This variant quantizes raw vectors (codebooks shared with exhaustive
    ADC, so one trained model serves both paths); classic residual encoding
    (quantize v − centroid[cell]) is the refinement step documented in
    SCALE.md — it needs per-cell codebooks but tightens recall at equal m.
    """
    from etl_lala_spark.io import spread

    cb = ivf_codebook(
        corpus,
        n_cells=n_cells,
        id_col=id_col,
        vec_col=vec_col,
        centroid_stride=centroid_stride,
    )
    assigned = ivf_assign(
        spread(corpus, by=id_col), cb, 1, id_col=id_col, vec_col=vec_col
    )
    index = pq_encode(
        assigned, codebooks, id_col=id_col, vec_col=vec_col, keep_cols=["cell"]
    )
    return index, cb


def ivfpq_topk(
    index: DataFrame,
    ivf_cb: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """IVFADC query: route each query to its ``nprobe`` nearest IVF cells,
    then score ONLY those cells' PQ codes by asymmetric distance (per-query
    m×ksub lookup tables, broadcast). The honest 100 TB ANN path: query cost
    is ≈ (nprobe / n_cells) × N table lookups over the compressed code
    column — the float corpus is never read at query time, and with the
    index partitioned by cell the probe join becomes partition-pruned file
    access. Exhaustive ADC (``pq_adc_topk``) remains the verify stage.
    Returns (query_id, neighbor_id, adc_sim, rank)."""
    probes = ivf_assign(
        queries, ivf_cb, nprobe, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("query_id"), "cell")
    luts = _pq_query_luts(queries, codebooks, id_col, vec_col)
    # (query × probed-cell) routing table: nprobe rows per query, tiny —
    # joined driver-free via broadcast; the index side never shuffles.
    routed = F.broadcast(probes.join(luts, "query_id"))
    num = F.expr(
        "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, c + 1)), 0D, "
        "(acc, v) -> acc + v)"
    )
    scored = (
        index.join(routed, "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _guarded_sim(
                num, F.col("q_n") * F.col("recon_n"), round_digits
            ).alias("adc_sim"),
        )
        .filter(F.col("adc_sim").isNotNull())
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc_sim").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivfpq_residual_index(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
    train_sample_mod: int | None = None,
) -> tuple[DataFrame, DataFrame, list[list[list[float]]]]:
    """Residual-encoded IVFADC index (Jégou et al., TPAMI 2011, §IV-A —
    "encoding the residual vector instead of the vector itself"): each
    corpus vector is coarse-assigned to a cell, then the PQ codebooks are
    trained on — and the codes quantize — the RESIDUAL ``v − c(cell)``.
    Residuals concentrate near the origin (their norm is the within-cell
    spread, not the full vector norm), so the same m×ksub code budget
    spends its resolution on a tighter distribution — lower quantization
    error, higher recall at identical compression than raw-vector PQ.

    Returns ``(index_df, ivf_codebook_df, pq_codebooks)`` with index rows
    ``(id, cell, codes, recon_n)`` where ``recon_n = |c(cell) + recon(r)|``
    — the reconstructed-vector norm needed by cosine ADC.

    Scale: the assigned+residual frame is materialized once (``.cache()``
    here; persisted as the index-build staging table at 100 TB) and feeds
    codebook training (``iters`` sample-bounded scans when
    ``train_sample_mod`` is set) and the single encode pass. Query cost is
    unchanged vs raw IVFADC — same broadcast LUT lookups — plus one
    per-(query, cell) ``dot(q, c)`` term computed on the nprobe-row routing
    table.
    """
    cb = ivf_codebook(
        corpus,
        n_cells=n_cells,
        id_col=id_col,
        vec_col=vec_col,
        centroid_stride=centroid_stride,
    )
    from etl_lala_spark.io import spread

    assigned = ivf_assign(
        spread(corpus, by=id_col), cb, 1, id_col=id_col, vec_col=vec_col
    )
    # Residual r = v − c(cell); centroid lookup by cell id from the one-row
    # broadcast codebook (collect_list order is arbitrary → map lookup).
    cmap = (
        "map_from_arrays(transform(cells, x -> x.cell), "
        "transform(cells, x -> x.cvec))"
    )
    resid = (
        assigned.crossJoin(F.broadcast(cb))
        .select(
            F.col(id_col),
            "cell",
            F.expr(
                f"zip_with({vec_col}, element_at({cmap}, cell), "
                f"(a, b) -> cast(a as double) - b)"
            ).alias("rvec"),
            F.expr(f"element_at({cmap}, cell)").alias("cvec"),
        )
        .cache()
    )
    books = pq_train(
        resid,
        dim=dim,
        m=m,
        ksub=ksub,
        iters=iters,
        id_col=id_col,
        vec_col="rvec",
        train_sample_mod=train_sample_mod,
    )
    # Encode residual codes; recon_n must be |c + recon(r)|, so it is
    # computed below from the row's own centroid — with_recon_n=False skips
    # pq_encode's |recon(r)| fold, whose value would be discarded.
    enc = pq_encode(
        resid, books, id_col=id_col, vec_col="rvec",
        keep_cols=["cell", "cvec"], with_recon_n=False,
    )
    spark = corpus.sparkSession
    cbdf = spark.createDataFrame([(books,)], schema="cb array<array<array<double>>>")
    recon_full = (
        "zip_with(cvec, flatten(zip_with(cb, codes, "
        "(bk, code) -> element_at(bk, code + 1))), (c, r) -> c + r)"
    )
    index = (
        enc.crossJoin(F.broadcast(cbdf))
        .select(
            F.col(id_col),
            "cell",
            "codes",
            F.sqrt(
                F.expr(
                    f"aggregate({recon_full}, 0D, (acc, v) -> acc + v * v)"
                )
            ).alias("recon_n"),
        )
    )
    # Materialize the index off the cached residuals, then RELEASE the
    # staging cache — it is strictly larger than the corpus (rvec + cvec
    # per row) and must not stay pinned for the session lifetime. The
    # returned index is itself cached (it is what queries scan repeatedly;
    # callers may unpersist when done).
    index = index.cache()
    index.count()
    resid.unpersist()
    return index, cb, books


def ivfpq_residual_topk(
    index: DataFrame,
    ivf_cb: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Query the residual IVFADC index: approximate
    ``dot(q, v) ≈ dot(q, c(cell)) + Σ_j lut[j][code_j]`` where the LUT is
    ``dot(q_sub, residual-codebook centroid)`` — the cell term rides the
    (query × probed cell) routing table (nprobe rows per query, broadcast),
    the residual term is the same m-lookup sum as raw ADC. Cosine divides
    by ``|q| · |c + recon(r)|`` (stored per row at encode). The corpus-side
    cost is identical to raw IVFADC: probed cells' code column only."""
    cmap = (
        "map_from_arrays(transform(cells, x -> x.cell), "
        "transform(cells, x -> x.cvec))"
    )
    probes = (
        ivf_assign(queries, ivf_cb, nprobe, id_col=id_col, vec_col=vec_col)
        .crossJoin(F.broadcast(ivf_cb))
        .select(
            F.col(id_col).alias("query_id"),
            "cell",
            F.expr(
                f"aggregate(zip_with({vec_col}, element_at({cmap}, cell), "
                f"(a, b) -> cast(a as double) * b), 0D, (acc, v) -> acc + v)"
            ).alias("q_dot_cent"),
        )
    )
    luts = _pq_query_luts(queries, codebooks, id_col, vec_col)
    routed = F.broadcast(probes.join(luts, "query_id"))
    resid_dot = F.expr(
        "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, c + 1)), 0D, "
        "(acc, v) -> acc + v)"
    )
    scored = (
        index.join(routed, "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _guarded_sim(
                F.col("q_dot_cent") + resid_dot,
                F.col("q_n") * F.col("recon_n"),
                round_digits,
            ).alias("adc_sim"),
        )
        .filter(F.col("adc_sim").isNotNull())
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc_sim").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
