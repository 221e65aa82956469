"""In-engine model training for pipeline quality classifiers.

The inference side already runs as fused codegen expressions
(plans/llm_text.py:text_model_inference — the pure-SQL ML-inference
pattern); this module closes the loop with TRAINING on the cluster, the
fastText-style quality-classifier step of a curation pipeline (label a
corpus with a cheap teacher rule, fit a linear student, deploy the student
as a scan-fused expression).

Same iterative architecture as operators/similarity.py:power_iteration_pc /
kmeans_fit: model state is O(#features) floats on the driver, re-broadcast
each round; per round the corpus is touched by exactly one scan-equivalent
over cached features. Two loop bodies, chosen by head count:
``logistic_train`` (one head) re-broadcasts weights as SQL literals and
reduces one #features+2-column hash aggregate per round, while
``langid_train`` (|langs| heads) uses the MLlib optimizer shape — cached
numpy feature blocks + ``treeAggregate`` whose closure carries the weight
matrix — because recompiling a |langs|·(B+2)-column codegen agg every round
dominates wall time long before data size does. Vectors/rows never shuffle,
lineage stays flat, and the whole loop is deterministic — no RNG, no
row-order dependence beyond floating summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def logistic_train(
    features: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    iters: int = 10,
    lr: float = 1.0,
) -> dict:
    """Batch gradient-descent logistic regression.

    ``features`` must carry numeric ``feature_cols`` and a 0/1 ``label_col``.
    Returns dict(weights=[w_0..w_k] with intercept FIRST, losses=[per-iter
    mean log-loss], n=row count). Loss is computed on the weights *before*
    each update, plus one final evaluation — len(losses) == iters + 1, and
    with a sane ``lr`` the sequence is non-increasing (asserted by the
    audit query, not assumed here).
    """
    k = len(feature_cols)
    n = None
    w = [0.0] * (k + 1)
    losses: list[float] = []
    y = F.col(label_col).cast("double")
    for _ in range(iters + 1):
        logit = F.lit(w[0])
        for j, c in enumerate(feature_cols):
            logit = logit + F.lit(w[j + 1]) * F.col(c).cast("double")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
        # log-loss via log1p of exp(∓logit): algebraically -[y ln p +
        # (1-y) ln(1-p)] but never evaluates ln(0) when p saturates.
        loss_term = F.when(
            y >= F.lit(0.5), F.log1p(F.exp(-logit))
        ).otherwise(F.log1p(F.exp(logit)))
        err = p - y
        row = (
            features.select(
                loss_term.alias("l"),
                err.alias("g0"),
                *[
                    (err * F.col(c).cast("double")).alias(f"g{j + 1}")
                    for j, c in enumerate(feature_cols)
                ],
            )
            .agg(
                F.count("*").alias("n"),
                F.sum("l").alias("loss"),
                *[F.sum(f"g{j}").alias(f"g{j}") for j in range(k + 1)],
            )
            .first()
        )
        n = int(row["n"])
        losses.append(float(row["loss"]) / n)
        grad = [float(row[f"g{j}"]) / n for j in range(k + 1)]
        w = [wj - lr * gj for wj, gj in zip(w, grad)]
    # The loop ran iters+1 times to get the final-model loss; the last
    # weight update is rolled back so weights correspond to losses[-1].
    w = [wj + lr * gj for wj, gj in zip(w, grad)]
    return {"weights": w, "losses": losses, "n": n}


def logistic_predict(
    features: DataFrame, feature_cols: list[str], weights: list[float]
) -> DataFrame:
    """Score with trained weights as ONE fused codegen projection — the
    deployment form (no UDF, no model server; at 100 TB inference is a
    scan). Appends ``p`` and ``pred``."""
    logit = F.lit(weights[0])
    for j, c in enumerate(feature_cols):
        logit = logit + F.lit(weights[j + 1]) * F.col(c).cast("double")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return features.withColumn("p", p).withColumn("pred", (p >= 0.5).cast("int"))


# --- Trained language-ID (fastText family) -----------------------------------


def hashed_char_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_buckets: int = 32,
) -> DataFrame:
    """Per-document hashed character n-gram frequencies — the fastText
    feature map (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    Classification": character n-grams hashed into a fixed bucket table).
    Lowercased char n-grams hash into ``n_buckets`` buckets (md5-derived,
    so a DuckDB oracle reproduces the bucketing bit-exactly — same trick
    as ``operators/text.py:importance_weights``); per-doc counts normalize
    to frequencies so the features are length-invariant. Returns one row
    per doc: (id_col, f0..f{n_buckets-1}).

    Scale: one explode + one (doc, bucket) hash agg + a pivot whose column
    set is the FIXED bucket table (never data-dependent) — map-side
    combinable, no per-row Python; the model downstream is O(n_buckets)
    floats."""
    # Guarded on length >= n: sequence(1, 0) is DESCENDING [1, 0] in Spark
    # (step defaults to -1 when stop < start), which would fabricate two
    # phantom grams for every text shorter than n — an empty doc must have
    # an empty gram array, not a garbage feature vector.
    grams = F.expr(
        f"CASE WHEN char_length({text_col}) >= {n} THEN"
        f" transform(sequence(1, char_length({text_col}) - {n - 1}),"
        f" i -> substring(lower({text_col}), i, {n}))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    # explode_OUTER keeps zero-gram docs (shorter than n, empty, null) as
    # one marker row — the contract is one feature row per input doc, and
    # an inner explode would silently exclude such docs from training
    # denominators downstream
    tok = df.select(F.col(id_col), F.explode_outer(grams).alias("g"))
    bucket = F.when(
        F.col("g").isNotNull(),
        (
            F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % n_buckets
        ).cast("int"),
    )
    counts = (
        tok.select(id_col, bucket.alias("b"))
        .groupBy(id_col)
        .pivot("b", list(range(n_buckets)))
        .count()
        .fillna(0)
    )
    total = sum(F.col(str(b)) for b in range(n_buckets))
    # a zero-gram doc gets the all-zero vector, not a 0/0 NULL cascade
    return counts.select(
        id_col,
        *[
            F.when(total > 0, F.col(str(b)) / total)
            .otherwise(F.lit(0.0))
            .alias(f"f{b}")
            for b in range(n_buckets)
        ],
    )


def langid_train(
    docs: DataFrame,
    langs: list[str],
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = 32,
    iters: int = 12,
    lr: float = 4.0,
    feats: DataFrame | None = None,
) -> dict:
    """fastText-shaped language-ID training: hashed char-trigram features,
    one-vs-rest :func:`logistic_train` per language (linear student over
    the hashed bag — fastText's architecture minus the embedding layer,
    which a linear model subsumes for a fixed bucket table). Returns
    {"langs": [...], "weights": {lang: [w0..wB]}, "losses": {lang: [...]},
    "n_buckets": B} — O(|langs|·B) floats of driver state, like the
    kmeans codebook.

    Upgrade path from the marker-word heuristic
    (``operators/text.py:predicted_lang``): same deployment shape (a
    fused codegen projection, no UDF), but the decision surface is
    LEARNED from labeled data instead of three hand-picked words per
    language.

    All |langs| heads train TOGETHER, in the MLlib optimizer shape
    (LogisticRegression's costFun: cached feature blocks +
    ``treeAggregate`` per iteration): the feature frame is materialized
    ONCE into per-partition numpy blocks — (Y one-hot (n,|langs|),
    X (n,B+1) with bias column) — and each round is one ``treeAggregate``
    job whose closure carries only the (B+1)×|langs| weight matrix and
    whose partials are BLAS matrix products (logits = X·W, gradient =
    Xᵀ·(σ−Y), losses via logaddexp). Per-round cost is job scheduling +
    vectorized math over cached blocks: no Catalyst analysis and no
    whole-stage codegen compile in the loop (the literal-weight SQL agg
    this replaces recompiled a |langs|·(B+2)-column plan every round,
    and that compile dominated wall time — 400 docs spent ~13 s at
    iters=12). At 100 TB the round cost is still one scan-equivalent of
    the cached blocks, reduced tree-wise exactly like MLlib. When the
    feature frame lands in ONE partition (AQE coalesces any small
    corpus to one), the whole loop instead runs inside a single task —
    one job total, bit-identical math (r13): per-round jobs only exist
    to combine across partitions, and there is nothing to combine."""
    import numpy as np

    # ``feats``: a precomputed (ideally localCheckpointed)
    # hashed_char_ngram_features(docs, text_col, id_col, n_buckets) frame.
    # Training and serving both need the identical feature map; a caller
    # that does train-then-predict on the SAME corpus passes one
    # materialized frame so the explode + pivot feature build runs once,
    # not once per phase. The values are deterministic, so reuse is
    # bit-identical to recomputation.
    if feats is None:
        feats = hashed_char_ngram_features(
            docs, text_col=text_col, id_col=id_col, n_buckets=n_buckets
        )
    feats = feats.join(docs.select(id_col, label_col), id_col)
    k = n_buckets
    nl = len(langs)
    lang_idx = {lang: i for i, lang in enumerate(langs)}

    def to_block(it):
        rows = list(it)
        if not rows:
            return
        X = np.ones((len(rows), k + 1))
        Y = np.zeros((len(rows), nl))
        for r_i, r in enumerate(rows):
            for j in range(k):
                X[r_i, j + 1] = r[j + 1]
            li = lang_idx.get(r[0])
            if li is not None:  # a foreign label is negative for all heads
                Y[r_i, li] = 1.0
        yield Y, X

    rows = feats.select(label_col, *[f"f{j}" for j in range(k)]).rdd

    def seq(acc, blk, W):
        Y, X = blk
        Z = X @ W
        # same saturation-safe log-loss as logistic_train:
        # logaddexp(0, ∓z) == log1p(exp(∓z)) without overflow
        L = np.where(Y >= 0.5, np.logaddexp(0.0, -Z),
                     np.logaddexp(0.0, Z))
        E = 1.0 / (1.0 + np.exp(-Z)) - Y
        return (acc[0] + X.shape[0], acc[1] + L.sum(axis=0),
                acc[2] + X.T @ E)

    def update(w, losses, n, loss_sum, G):
        """One GD step from the aggregated (n, loss_sum, G) — shared by
        the per-round treeAggregate path and the single-partition
        all-rounds-in-one-task path so the scalar float math can never
        diverge between them."""
        grads = {}
        for li, lang in enumerate(langs):
            losses[lang].append(float(loss_sum[li]) / n)
            grads[lang] = [float(G[j, li]) / n for j in range(k + 1)]
            w[lang] = [
                wj - lr * gj for wj, gj in zip(w[lang], grads[lang])
            ]
        return grads

    w = {lang: [0.0] * (k + 1) for lang in langs}
    losses: dict[str, list[float]] = {lang: [] for lang in langs}
    if rows.getNumPartitions() == 1:
        # Single-partition feature frame (AQE coalesces any small corpus
        # to one) — per-round treeAggregate has nothing to tree-combine,
        # so iters+1 jobs + a cache materialization collapse into ONE job
        # that runs the whole loop over the local block list (r13). The
        # float math is bit-identical: same blocks in the same order,
        # `seq` folded sequentially exactly as the one-partition
        # treeAggregate would, then `comb(zero, acc)` — additions with
        # the zero accumulator — elided as exact no-ops.
        def train_local(it):
            blks = list(to_block(it))
            lw = {lang: [0.0] * (k + 1) for lang in langs}
            llosses: dict[str, list[float]] = {lang: [] for lang in langs}
            grads = {}
            for _ in range(iters + 1):
                W = np.array([lw[lang] for lang in langs]).T  # (k+1, nl)
                acc = (0, np.zeros(nl), np.zeros((k + 1, nl)))
                for blk in blks:
                    acc = seq(acc, blk, W)
                grads = update(lw, llosses, acc[0], acc[1], acc[2])
            for lang in langs:
                lw[lang] = [
                    wj + lr * gj for wj, gj in zip(lw[lang], grads[lang])
                ]
            yield lw, llosses

        w, losses = rows.mapPartitions(train_local).collect()[0]
        return {
            "langs": list(langs),
            "weights": w,
            "losses": losses,
            "n_buckets": n_buckets,
        }

    blocks = rows.mapPartitions(to_block).cache()
    # MLlib's default tree depth is 2 — right when thousands of partitions
    # would funnel into the driver, pure overhead (an extra stage per
    # round) when the block count is small. Partition count is known
    # before the loop, so the choice costs nothing.
    depth = 2 if blocks.getNumPartitions() > 64 else 1
    try:
        for _ in range(iters + 1):
            W = np.array([w[lang] for lang in langs]).T  # (k+1, nl)

            def seq_w(acc, blk, W=W):
                return seq(acc, blk, W)

            def comb(a, b):
                return (a[0] + b[0], a[1] + b[1], a[2] + b[2])

            zero = (0, np.zeros(nl), np.zeros((k + 1, nl)))
            n, loss_sum, G = blocks.treeAggregate(
                zero, seq_w, comb, depth=depth
            )
            grads = update(w, losses, n, loss_sum, G)
        # Same convention as logistic_train: the loop ran iters+1 times to
        # measure the final model's loss; roll back the last update so the
        # returned weights are the model losses[-1] describes.
        for lang in langs:
            w[lang] = [wj + lr * gj for wj, gj in zip(w[lang], grads[lang])]
    finally:
        blocks.unpersist()
    return {
        "langs": list(langs),
        "weights": w,
        "losses": losses,
        "n_buckets": n_buckets,
    }


def langid_predict(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    feats: DataFrame | None = None,
) -> DataFrame:
    """Serving-time language-ID: the one-vs-rest scores as ONE fused
    codegen projection (logits compare monotonically with sigmoids, so
    argmax needs no exp), ties broken by the model's language order.
    Appends ``pred_lang``. At 100 TB inference is a scan — the same
    deployment property as :func:`logistic_predict`."""
    b = model["n_buckets"]
    # Same reuse contract as langid_train's ``feats``: pass the one
    # materialized feature frame when serving the corpus that was just
    # trained on — the feature map is deterministic, so this is
    # bit-identical to rebuilding it.
    if feats is None:
        feats = hashed_char_ngram_features(
            docs, text_col=text_col, id_col=id_col, n_buckets=b
        )
    scored = docs.join(feats, id_col, "left")
    score_cols = []
    for lang in model["langs"]:
        w = model["weights"][lang]
        logit = F.lit(w[0])
        for j in range(b):
            logit = logit + F.lit(w[j + 1]) * F.coalesce(
                F.col(f"f{j}"), F.lit(0.0)
            )
        score_cols.append(logit.alias(f"_s_{lang}"))
    scored = scored.select(*docs.columns, *score_cols)
    best = None
    for lang in model["langs"]:
        s = F.col(f"_s_{lang}")
        if best is None:
            best = F.struct(s.alias("s"), F.lit(lang).alias("l"))
        else:
            # strict > keeps the EARLIER language on ties (deterministic)
            best = F.when(s > best["s"], F.struct(s.alias("s"), F.lit(lang).alias("l"))).otherwise(best)
    return scored.withColumn("pred_lang", best["l"]).drop(
        *[f"_s_{lang}" for lang in model["langs"]]
    )
