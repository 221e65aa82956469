"""Deduplication operators (north star: exact + fuzzy dedup at 100 TB).

Strategies, cheapest first:
- exact:        group on md5(text) — one shuffle on a 128-bit key.
- ngram-jaccard: exact set-similarity via the shingle-inverted-index join
                 (explode distinct shingles → self-join on shingle →
                 pair-count / union-size). Blocked on low-cardinality keys to
                 bound the join fan-out; fully expressible in SQL → oracle-able.
- MinHash+LSH:  signature = min over shingle hashes per seed; band-bucket
                 join produces candidates, exact Jaccard verifies. Scales to
                 100 TB because candidates are found by equality on
                 (band, band-signature) — a plain shuffle join on a compact
                 key — never by pairwise comparison.
- SimHash:      64-bit weighted-bit fingerprint; near-dup = small Hamming
                 distance; candidate generation by 16-bit chunk equality
                 (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 chunks equal).

Everything is JVM-side (xxhash64, higher-order array functions, bitwise
aggregates) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.operators.text import tokens


def _kgram_matches(text: Column, k: int) -> Column:
    """ALL overlapping word k-grams in order, as ONE JVM regex pass: a
    zero-width lookahead captures the k-token window at every token start
    without consuming it; matches are whitespace-normalized so gram
    equality is separator-insensitive. Shared by ``word_shingles`` /
    ``word_spans`` (their span==shingle equality contract depends on this
    staying one definition)."""
    pat = r"(?=(\S+(?:\s+\S+){" + str(k - 1) + r"}))\S+"
    # regexp_extract_all(..., 1) takes the lookahead's capture group.
    return F.transform(
        F.regexp_extract_all(text, F.lit(pat), F.lit(1)),
        lambda b: F.regexp_replace(b, r"\s+", " "),
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams; docs shorter than k words contribute the whole
    (whitespace-normalized) text as a single shingle — so every doc with at
    least one token has ≥1 shingle.

    One JVM regex pass (see ``_kgram_matches``; this replaced two slower
    generations — transform + element_at, chained zip_with — measured 2.5×
    faster with byte-identical output). The short-doc count uses TRIMMED
    tokens: split's leading/trailing empties previously inflated n, so a
    whitespace-padded (k−1)-token doc took the regex path, matched
    nothing, and vanished from every fuzzy-dedup consumer; the fallback is
    normalized for the same reason (raw '  a b' must shingle equal to
    'a b').
    """
    n = F.size(F.filter(tokens(F.trim(text)), lambda t: t != ""))
    fallback = F.regexp_replace(F.trim(text), r"\s+", " ")
    return F.array_distinct(
        F.when(n >= k, _kgram_matches(text, k)).otherwise(F.array(fallback))
    )


def word_spans(text: Column, k: int) -> Column:
    """ALL overlapping word k-grams in order (positions + multiplicity kept —
    unlike ``word_shingles`` there is no array_distinct): the unit of
    cross-document exact-substring dedup. Same one-pass lookahead regex and
    whitespace normalization (``_kgram_matches``), so a span equals the
    matching shingle."""
    return _kgram_matches(text, k)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Cross-document exact-substring dedup signal (the train-data dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models Better",
    at word-k-gram granularity): for every document, how many of its k-token
    spans also occur in at least one OTHER document — the per-doc removal
    mask a substring-dedup pass would act on.

    Plan: spans explode to (doc, span-hash) rows; one shuffle on the hash
    aggregates per-(doc, span) occurrence counts; the cross-doc document
    frequency derives from THAT aggregate (map-side combined, same
    partitioning → AQE reuses the exchange), and the df≥2 span set joins
    straight back — the span strings never shuffle, only 8-byte hashes
    (same discipline as ``shingle_table``). Returns
    (doc_id, n_spans, n_dup_spans, dup_frac) for affected docs.
    """
    from etl_lala_spark.io import spread

    base = spread(df.select(id_col, text_col), by=id_col).select(
        F.col(id_col).alias("doc_id"),
        word_spans(F.col(text_col), k).alias("spans"),
    )
    spans = (
        base.filter(F.size("spans") >= 1)
        .select(
            "doc_id",
            F.size("spans").alias("n_spans"),
            F.explode("spans").alias("span_str"),
        )
        .select("doc_id", "n_spans", F.xxhash64("span_str").alias("span"))
    )
    per_doc_span = spans.groupBy("span", "doc_id").agg(
        F.count("*").alias("occ"), F.first("n_spans").alias("n_spans")
    )
    dup_spans = (
        per_doc_span.groupBy("span")
        .agg(F.count("*").alias("df"))  # rows are unique per (span, doc)
        .filter(F.col("df") >= 2)
        .select("span")
    )
    return (
        per_doc_span.join(dup_spans, "span")
        .groupBy("doc_id")
        .agg(
            F.first("n_spans").alias("n_spans"),
            F.sum("occ").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4).alias("dup_frac"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the smallest id per identical (case-sensitive)
    text. Returns (hash, keeper_id, n_copies)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exploded (id, block…, shingle) inverted-index rows, one per distinct
    shingle per doc, with the per-doc shingle count attached.

    The shingle is carried as its 64-bit xxhash, not the string: the
    inverted-index self-join shuffles one long per row instead of a k-word
    string — at 100 TB that is the difference between shuffling the corpus
    text and shuffling 8 bytes/shingle. Collision risk at 64 bits is
    negligible (~n²/2⁶⁵ per block)."""
    from etl_lala_spark.io import spread

    pruned = spread(df.select(text_col, id_col, *block_cols), by=id_col)
    base = pruned.select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in block_cols],
        word_shingles(F.col(text_col), k).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))
    return base.select(
        "doc", *block_cols, "n_shingles", F.explode("shingles").alias("shingle_str")
    ).select(
        "doc",
        *block_cols,
        "n_shingles",
        F.xxhash64("shingle_str").alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs with word-k-gram Jaccard ≥ threshold, via the inverted-index
    join (the exact MapReduce set-similarity algorithm). ``block_cols``
    restrict candidate pairs to equal blocks, bounding fan-out at scale.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded to 4.
    """
    sh = shingle_table(df, text_col, id_col, k, block_cols)
    a = sh.select(
        F.col("doc").alias("doc_a"),
        F.col("n_shingles").alias("na"),
        "shingle",
        *[F.col(c).alias(f"a_{c}") for c in block_cols],
    )
    b = sh.select(
        F.col("doc").alias("doc_b"),
        F.col("n_shingles").alias("nb"),
        "shingle",
        *[F.col(c).alias(f"b_{c}") for c in block_cols],
    )
    cond = (a.doc_a < b.doc_b) & (a.shingle == b.shingle)
    for c in block_cols:
        # eqNullSafe: two docs both missing a block value still pair —
        # plain == evaluates NULL and silently drops NULL-block duplicates
        cond = cond & (F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}")))
    inter = (
        a.join(b, cond)
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        4,
    )
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _seeded_sig_expr(n_hashes: int) -> str:
    """The ONE definition of the seeded-MinHash signature expression.
    Shared by the in-session path and the persisted index (writer AND
    incremental reader): signatures are only comparable when this formula
    is identical on both sides, so it must never fork."""
    return (
        f"transform(sequence(0, {n_hashes - 1}), i -> "
        f"array_min(transform(hashes, h -> xxhash64(h, i))))"
    )


def _band_bucket_expr(bands: int, rows: int, sig_col: str = "sig") -> str:
    """The ONE definition of the LSH band-bucket expression (same sharing
    contract as :func:`_seeded_sig_expr`): one (band, bucket) struct per
    band, bucket = hash of the signature slice for that band."""
    return (
        f"explode(transform(sequence(0, {bands - 1}), b -> named_struct("
        f"'band', b, "
        f"'bucket', xxhash64(slice({sig_col}, b * {rows} + 1, {rows})))))"
    )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 32
) -> DataFrame:
    """Per-doc MinHash signature: for seed i, min over a seeded re-hash of
    each shingle's 64-bit hash.

    Computed per-row from a hashed-shingle ARRAY (array_min over a
    transform) — no explode, no groupBy: the signature needs no shuffle at
    all, and the array is n_hashes longs per doc regardless of doc size
    (constant state, reference T1 constant-memory requirement transplanted
    to dedup).

    Higher-order-function lambdas run interpreted (outside whole-stage
    codegen), so the per-element work must be minimal: each shingle STRING
    is hashed exactly once (``hashes`` column), and the n_hashes seeded
    variants remix the 8-byte long — not the string — via xxhash64(h, i).

    ``sh`` must carry (doc, n_shingles, hashes); docs with shingle arrays
    still present can derive it with ``transform(shingles, s -> xxhash64(s))``.
    """
    return sh.select(
        "doc",
        "n_shingles",
        F.expr(_seeded_sig_expr(n_hashes)).alias("sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    bands=8 × rows=4 over 32 hashes → candidate probability ≈
    1-(1-j^4)^8: ~0.99 at j=0.8, ~0.24 at j=0.3 — candidates are then
    verified exactly, so precision is exact and only recall is approximate.
    Returns (doc_a, doc_b, est_jaccard, jaccard). The base and signature
    frames are local checkpoints taken at call time: each is computed once,
    eagerly, and the RETURNED plan reads them, so it stays valid for the
    session and there is no cache for the caller to release.
    """
    if bands <= 0 or bands > n_hashes or n_hashes % bands:
        # bands > n_hashes would make every band slice EMPTY - one global
        # bucket and an O(n^2) self-join; a non-divisor silently drops the
        # trailing hashes from banding while est_jaccard still divides by
        # n_hashes, skewing the probability math the docstring states
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} "
            "(0 < bands <= n_hashes)"
        )
    rows = n_hashes // bands
    from etl_lala_spark.io import spread

    # Checkpointed (doc, n_shingles, hashes) base: the checkpoint is a
    # projection-collapse barrier, so shingling + string-hashing run exactly
    # once and every derivation below (signatures, bands, inverted index)
    # works on 8-byte longs — the text never re-enters the pipeline. A
    # checkpoint, not a cache: AQE materialises a cached frame once per
    # reference in the plan, concurrently, where the eager checkpoint runs
    # one job.
    base = (
        spread(df.select(text_col, id_col), by=id_col)
        .select(
            F.col(id_col).alias("doc"),
            word_shingles(F.col(text_col), k).alias("shingles"),
        )
        .select(
            "doc",
            F.size("shingles").alias("n_shingles"),
            F.expr("transform(shingles, s -> xxhash64(s))").alias("hashes"),
        )
        .localCheckpoint()
    )
    # Signatures checkpointed too: the self-join below references them on
    # both sides, and HOF lambdas are interpreted — without the barrier the
    # n_hashes × n_shingles remix would run once per reference (measured 3×
    # the whole query's cost).
    sig = minhash_signatures(base, n_hashes).localCheckpoint()
    # Hash-keyed inverted index for exact verification — same rationale as
    # shingle_table: shuffle 8 bytes per shingle, not the text.
    sh = base.select("doc", "n_shingles", F.explode("hashes").alias("shingle"))

    # band id + band signature hash → bucket key; equality join on it. The
    # bucket is a hash of the signature SLICE for that band — derived from
    # the checkpointed signature, so band generation costs bands × O(rows)
    # per doc.
    band_rows = sig.select(
        "doc",
        F.expr(_band_bucket_expr(bands, rows)).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")

    cand = (
        band_rows.alias("x")
        .join(
            band_rows.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )

    # Estimated jaccard from signature agreement + exact verification via the
    # inverted index restricted to candidate docs.
    sig_a = sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        / F.lit(float(n_hashes)),
        4,
    )
    # Prune candidates on the cheap signature estimate before the exact
    # inverted-index verification — band collisions between genuinely
    # dissimilar docs die here instead of costing a shingle join each.
    cand_sig = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold * 0.5)
    )

    a = sh.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"), "shingle")
    b = sh.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"), "shingle")
    inter = (
        a.join(cand_sig.select("doc_a", "doc_b"), "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    exact = inter.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            4,
        ).alias("jaccard"),
    )
    return (
        cand_sig.join(exact, ["doc_a", "doc_b"], "left")
        .na.fill({"jaccard": 0.0})
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _fold_bits(vote_col) -> Column:
    """64 bit-votes → one long fingerprint (bit i set iff vote_i > 0)."""
    out = None
    for i in range(64):
        bit = F.when(vote_col(i) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        out = bit if out is None else out.bitwiseOR(bit)
    return out


def simhash64(text: Column) -> Column:
    """64-bit SimHash from token hashes, as a single per-row expression: bit i
    of the fingerprint is the sign of sum(±1 over tokens, + if token-hash bit
    i set).

    Zero-shuffle but SLOW on wide corpora: the 64 `aggregate` folds are
    higher-order-function lambdas, which Spark evaluates interpreted (outside
    whole-stage codegen) — 64 passes over the token array per row. Prefer
    ``simhash_fingerprints`` (explode + one codegen'd aggregation) anywhere
    the corpus is non-trivial; this form remains for per-row contexts
    (e.g. streaming expressions) where a groupBy is unavailable.
    """
    toks = F.array_distinct(tokens(text))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_vote(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    def vote(i: int):
        return F.aggregate(hashes, F.lit(0), bit_vote(i))

    return _fold_bits(vote)


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, fp) SimHash-64 fingerprints via explode + one hash aggregation.

    Same fingerprint values as ``simhash64`` but the 64 bit-votes are 64
    conditional-sum aggregate columns over exploded token hashes — a single
    whole-stage-codegen pass per token instead of 64 interpreted array folds
    per doc (measured ~10× faster at sf0.1). The explode is partitioned by
    doc id (``spread``), so the partial aggregation collapses map-side and
    the exchange moves one 64-long vote row per doc — constant per-doc state
    at 100 TB. ``explode_outer`` keeps empty/short docs (fp = 0, matching the
    per-row form's empty-array fold).
    """
    from etl_lala_spark.io import spread

    toks = F.array_distinct(tokens(F.col(text_col)))
    th = spread(df.select(id_col, text_col), by=id_col).select(
        F.col(id_col).alias("doc"),
        F.explode_outer(F.transform(toks, lambda t: F.xxhash64(t))).alias("h"),
    )
    votes = th.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    return votes.select("doc", _fold_bits(lambda i: F.col(f"v{i}")).alias("fp"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash chunk-blocking: split the 64-bit fingerprint
    into 4 × 16-bit chunks; hamming ≤ 3 guarantees ≥1 equal chunk
    (pigeonhole), so candidates come from an equality join on (chunk_idx,
    chunk_value) and are verified with bit_count.

    Returns (doc_a, doc_b, hamming).
    """
    if max_hamming > 3:
        # 4 x 16-bit chunks guarantee a shared chunk only for hamming <= 3
        # (pigeonhole) - a larger radius would silently lose candidates
        # that differ in all four chunks
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-chunk pigeonhole "
            "bound (3); use more/smaller chunks for a larger radius"
        )
    # Cached: the chunk self-join references the fingerprint table on both
    # sides; without the cache the explode+agg would run twice.
    fp = simhash_fingerprints(df, text_col, id_col).cache()
    chunks = fp.select(
        "doc",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright("fp", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc", "fp", "cc.chunk_idx", "cc.chunk")
    x, y = chunks.alias("x"), chunks.alias("y")
    return (
        x.join(
            y,
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            hamming64(F.col("x.fp"), F.col("y.fp")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Cluster canonicalization (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def canonical_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Connected components over near-duplicate pairs: every doc in a
    transitive duplicate cluster maps to the cluster's minimum id — the
    keep-one-per-cluster step that follows pair generation in a curation
    pipeline (pairs alone under-delete: a~b, b~c must drop two docs, not
    one per pair).

    Iterative min-label propagation WITH pointer jumping, so label
    distances halve per round and convergence takes O(log diameter) rounds
    instead of O(diameter) — the difference between ~60 and ~2^60-diameter
    coverage at a fixed round budget, and the part that matters for
    chain-shaped near-dup clusters at 100 TB. The edge set holds both
    directions of every pair plus a self-loop per doc, checkpointed once.
    A round is two checkpoints:

    - propagate: ``edges ⋈ labels`` on ``dst`` and ONE ``groupBy(src)``
      yields the new label (the min over the neighbours' labels, the
      self-loop contributing the doc's own) and ``prev``, the own label
      (the self-loop row's label); round one reads the edges alone, since
      every label starts as the doc itself;
    - pointer jump: a self-join relabels each doc through its label's
      label.

    Convergence (no label changed) is an ``Observation`` carried by the
    pointer-jump checkpoint, not a separate action. The loop is driver-side
    control flow; the data never leaves the cluster. Returns
    (doc, canonical).
    """
    both_ways = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    edges = (
        both_ways.unionByName(both_ways.select("src", F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    own = F.col("src") == F.col("dst")
    labels = edges.filter(own).select(
        F.col("src").alias("doc"), F.col("dst").alias("canonical")
    )
    for round_no in range(max_iterations):
        nbr = (
            edges.join(labels, edges.dst == labels.doc)
            if round_no
            else edges.withColumn("canonical", F.col("dst"))
        )
        # localCheckpoint (eager), NOT cache: the pointer-jump self-join
        # references this frame twice, so a cache-based loop DOUBLES the
        # logical plan every round — exponential plan growth that OOMs the
        # driver during plan canonicalization around round ~15. Checkpoint
        # truncates the PLAN, not just the execution, keeping every round's
        # plan constant-size.
        propagated = (
            nbr.groupBy("src")
            .agg(
                F.min(F.when(own, F.col("canonical"))).alias("prev"),
                F.min("canonical").alias("canonical"),
            )
            .withColumnRenamed("src", "doc")
            .localCheckpoint()
        )
        # Pointer jump: relabel through the canonical's own (propagated)
        # label. Every canonical value is itself a doc in the label table
        # (labels start as identity and only ever take existing labels), so
        # the left join hits unless the canonical is already a root.
        canon_map = propagated.select(
            F.col("doc").alias("c_doc"), F.col("canonical").alias("c_canon")
        )
        changed = Observation()
        stepped = (
            propagated.join(
                canon_map, propagated.canonical == canon_map.c_doc, "left"
            )
            .select(
                "doc",
                "prev",
                F.coalesce("c_canon", "canonical").alias("canonical"),
            )
            .observe(
                changed,
                F.count_if(F.col("canonical") != F.col("prev")).alias("n"),
            )
            .localCheckpoint()
        )
        labels = stepped.select("doc", "canonical")
        if not changed.get["n"]:
            break
    return labels


def repeated_block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 8,
    min_repeat: int = 3,
) -> DataFrame:
    """Cross-corpus repeated-block removal — the CCNet/C4 boilerplate pass:
    documents are cut into non-overlapping ``block_words``-token blocks, any
    block occurring ≥ ``min_repeat`` times ANYWHERE in the corpus (nav bars,
    license banners, template fragments) is dropped from every document, and
    the survivors are reassembled in original order.

    Scale shape (the part that matters at 100 TB): the block-frequency
    aggregate is one explode + hash agg with map-side combine — boilerplate
    collapses hard in the partial agg precisely because it repeats. The
    banned set is heavy-hitters-only (count ≥ min_repeat), which is tiny by
    construction, so it BROADCASTS back to the exploded corpus — the corpus
    never joins the full distinct-block table and never shuffles on block
    content. Reassembly is one groupBy on the doc id. Returns
    ``(id_col, n_blocks, n_removed, clean_text)`` with short docs
    (< block_words tokens) excluded — they have no complete block.
    """
    k = block_words
    # ONE JVM regex pass per document: left-to-right non-overlapping matches
    # of k whitespace-separated tokens are exactly the non-overlapping
    # blocks (count = floor(n/k); a < k-token tail never matches). This
    # measured ~10× faster than building the blocks with chained zip_with
    # higher-order lambdas, which execute interpreted outside codegen.
    # Each match is then whitespace-normalized so block equality is
    # separator-insensitive (matches the token-join formulation).
    pat = r"\S+(?:\s+\S+){" + str(k - 1) + r"}"
    blocks_arr = F.expr(
        f"transform(regexp_extract_all(`{text_col}`, r'{pat}', 0), "
        "b -> regexp_replace(b, r'\\s+', ' '))"
    )
    exploded = (
        df.select(F.col(id_col).alias("doc"), blocks_arr.alias("blocks"))
        .filter(F.size("blocks") >= 1)
        .select("doc", F.posexplode("blocks").alias("pos", "block"))
    )
    banned = (
        exploded.groupBy("block")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_repeat)
        .select("block", F.lit(True).alias("is_banned"))
    )
    flagged = exploded.join(F.broadcast(banned), "block", "left").select(
        "doc",
        "pos",
        "block",
        F.coalesce("is_banned", F.lit(False)).alias("is_banned"),
    )
    kept_in_order = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("is_banned"), F.struct(F.col("pos"), F.col("block"))
                )
            )
        ),
        lambda s: s.block,
    )
    return flagged.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("is_banned").cast("int")).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", kept_in_order).alias("clean_text"),
    ).withColumnRenamed("doc", id_col)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Eval-set decontamination: flag corpus documents sharing any k-gram
    with a benchmark/holdout set — the overlap pass every training-data
    pipeline runs before release.

    Scale shape: the benchmark's DISTINCT hashed shingles are tiny relative
    to the corpus (eval sets are small by construction) and broadcast, so
    the corpus is scanned once and NEVER self-joins or shuffles on shingle;
    per-doc hit counts come from one hash aggregate on doc_id. Returns every
    corpus doc with ``(doc_id, n_hits, contaminated)``.
    """
    c_sh = shingle_table(corpus, text_col, id_col, k, ())
    b_sh = shingle_table(benchmark, text_col, id_col, k, ()).select("shingle").distinct()
    hits = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("doc")
        .agg(F.count("*").alias("n_hits"))  # rows unique per (doc, shingle)
    )
    return (
        corpus.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def substring_dedup_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    cross_doc_only: bool = True,
) -> DataFrame:
    """Maximal cross-document duplicated substring RUNS — the exact-substring
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", the ExactSubstr pass) at word granularity. Where
    ``duplicate_spans`` counts a doc's duplicated k-gram spans and
    ``repeated_block_dedup`` bans fixed non-overlapping blocks (so an
    unaligned repeat slips through), this recovers every MAXIMAL run of ≥
    ``min_tokens`` consecutive tokens that also appears in another document
    — at any offset, any alignment — the unit a substring-removal pass cuts.
    Precisely: every k-token window inside a reported run is shared with
    SOME other document; a composite run (doc X shares its head with Y1
    and its tail with Y2) is one island whose FULL text need not appear in
    any single partner — exactly the region ExactSubstr removal cuts, but
    consumers treating each run as one literal cross-doc match should use
    ``duplicate_spans`` instead.

    Equivalent to the suffix-array formulation for repeats ≥ min_tokens,
    but expressed shuffle-native instead of index-native: a k-token span is
    duplicated iff it lies inside such a repeat, so (1) explode every
    overlapping k-gram with its token position, (2) keep spans whose
    document frequency ≥ 2 (``cross_doc_only=False`` widens to total
    occurrences ≥ 2, catching within-doc self-repeats), (3) merge each
    document's consecutive duplicated positions into maximal islands with
    the pos − row_number() constant-group trick. Returns one row per run:
    ``(doc_id, start_pos, n_spans, run_tokens)`` where ``start_pos`` is the
    0-based token index and ``run_tokens = n_spans + min_tokens − 1``.

    Scale shape (the 100 TB argument): span strings never shuffle — only
    (doc_id, pos, xxhash64) triples; the frequency aggregate map-side
    combines (repeats collapse hard by definition); the dup-span set joins
    back by 8-byte-key shuffle join (it is corpus-sized in the worst case,
    so no broadcast); the island merge is a per-document window — one
    document's duplicated positions sort within one task, bounded by doc
    length, never by corpus size. No driver-side state at all.
    """
    from pyspark.sql import Window

    from etl_lala_spark.io import spread

    k = min_tokens
    base = spread(df.select(id_col, text_col), by=id_col).select(
        F.col(id_col).alias("doc_id"),
        word_spans(F.col(text_col), k).alias("spans"),
    )
    spans = (
        base.filter(F.size("spans") >= 1)
        .select("doc_id", F.posexplode("spans").alias("pos", "span_str"))
        .select("doc_id", "pos", F.xxhash64("span_str").alias("span"))
    )
    freq = spans.groupBy("span").agg(
        F.count("*").alias("n_occ"), F.countDistinct("doc_id").alias("n_docs")
    )
    dup = freq.filter(
        (F.col("n_docs") >= 2) if cross_doc_only else (F.col("n_occ") >= 2)
    ).select("span")
    flagged = spans.join(dup, "span").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = flagged.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.count("*").alias("n_spans"),
        )
        .select(
            "doc_id",
            "start_pos",
            "n_spans",
            (F.col("n_spans") + F.lit(k - 1)).cast("long").alias("run_tokens"),
        )
    )


def substring_dedup_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    cross_doc_only: bool = True,
) -> DataFrame:
    """Apply the ExactSubstr removal: cut every maximal duplicated run found
    by ``substring_dedup_runs`` out of every document and reassemble the
    survivors in order (Lee et al. remove all duplicated occurrences; the
    deduplicated corpus keeps only text that is globally unique at the
    ≥ min_tokens grain). Returns ``(id_col, n_tokens, n_removed,
    clean_text)`` for every input document — untouched docs pass through
    with ``n_removed = 0``.

    Scale: the runs table (small — only duplicated regions) aggregates to
    one interval array per affected doc and joins back to the corpus on the
    doc id; the cut is a codegen higher-order filter over the token array
    (per-token interval test against the doc's own intervals — bounded by
    runs-per-doc, not corpus size).
    """
    runs = substring_dedup_runs(df, text_col, id_col, min_tokens, cross_doc_only)
    intervals = runs.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("start_pos").alias("lo"),
                (F.col("start_pos") + F.col("run_tokens") - 1).alias("hi"),
            )
        ).alias("cuts")
    )
    # filter-out-empty matches word_spans' tokenization: split(trim(''))
    # yields [''], which would count a phantom token for empty/whitespace
    # docs and over-state n_tokens in corpus mass accounting
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(
            F.filter(
                F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
            ),
            F.expr("CAST(array() AS array<string>)"),
        ).alias("toks"),  # NULL text -> 0 tokens, not size(NULL) = -1
    )
    joined = toks.join(intervals, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(
            "cuts", F.expr("CAST(array() AS array<struct<lo:bigint,hi:bigint>>)")
        ).alias("cuts"),
    )
    kept = F.expr(
        "filter(transform(toks, (t, i) -> struct(t as t, CAST(i AS BIGINT) as i)),"
        " x -> !exists(cuts, c -> x.i >= c.lo AND x.i <= c.hi))"
    )
    return joined.select(
        F.col("doc_id").alias(id_col),
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).alias("n_removed"),
        F.array_join(F.transform(kept, lambda x: x["t"]), " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Incremental MinHash: persisted signature store + batch-vs-store dedup
# ---------------------------------------------------------------------------

_INDEX_META = "_minhash_meta.json"


def minhash_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Persist a corpus's MinHash state so later batches dedup against it
    WITHOUT rescanning the corpus — the shape a daily increment on a 100 TB
    collection actually runs (re-shingling the full corpus per batch is the
    O(corpus) cost this store amortizes away).

    Layout under ``path``:
    - ``sigs/``  — one row per doc: (doc, n_shingles, hashes, sig),
      hash-partitioned on ``sig_part = pmod(xxhash64(doc), n_sig_parts)``
      so doc deletion rewrites only the hit buckets, never the store. The
      shingle-hash array (8 bytes per shingle — the text itself never
      persists) is what makes EXACT Jaccard verification possible against
      the store alone.
    - ``bands/`` — one row per (doc, band, bucket), PARTITIONED by band
      and sorted within files by bucket. The partitioning bounds the
      DELETE path (each band rewrites as its own pruned partition); the
      read-side pruning lever is the bucket sort — a probe batch carries
      rows for every band, so parquet row-group min/max stats on bucket,
      not directory pruning, are what keep the candidate join's store
      scan thin.
    - ``_minhash_meta.json`` — (k, n_hashes, bands, n_sig_parts):
      signatures are only comparable under identical parameters, so the
      incremental reader validates before joining (a silent k mismatch
      would report ~zero similarity for true dups).

    Lifecycle siblings (same maintenance surface as the streaming IVF
    index): :func:`minhash_index_append` (daily increments),
    :func:`minhash_index_compact` (small-file consolidation),
    :func:`minhash_index_delete` (GDPR doc removal).
    """
    import json
    import os

    if bands <= 0 or bands > n_hashes or n_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} "
            "(0 < bands <= n_hashes)"
        )
    rows = n_hashes // bands
    sig = _sig_frame(df, text_col, id_col, k, n_hashes, _N_SIG_PARTS)
    sig.write.mode("overwrite").partitionBy("sig_part").parquet(
        os.path.join(path, "sigs")
    )
    # Re-read the committed sigs (cheap columnar scan, no re-shingle) to
    # derive the band table, so the two tables are consistent by
    # construction even if the input plan is nondeterministic upstream.
    committed = sig.sparkSession.read.parquet(os.path.join(path, "sigs"))
    _write_bands(committed, path, bands, rows, mode="overwrite")
    with open(os.path.join(path, _INDEX_META), "w") as fh:
        json.dump(
            {
                "k": k,
                "n_hashes": n_hashes,
                "bands": bands,
                "n_sig_parts": _N_SIG_PARTS,
            },
            fh,
        )


_N_SIG_PARTS = 16


def _sig_part(doc, n_sig_parts: int) -> Column:
    """Deletion-bucket partition key for the sigs table: stable hash of the
    doc id, so a delete set touches only its buckets."""
    return F.pmod(F.xxhash64(doc), F.lit(n_sig_parts)).cast("int")


def _sig_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    n_hashes: int,
    n_sig_parts: int,
) -> DataFrame:
    """The ONE definition of the store's signature frame (same sharing
    contract as ``_seeded_sig_expr``): shingle hashing, n_shingles, seeded
    signature, and the deletion-bucket key must be byte-identical between
    the initial write and every append, or appended signatures silently
    stop being comparable with stored ones. Duplicate ids within the input
    are collapsed first — two sig rows for one doc would double the
    exploded shingle intersection downstream and divide by zero in the
    exact-Jaccard verify.

    ``minhash_signatures`` drops the hash array; the store must KEEP it —
    exact verification against the index alone depends on it."""
    return (
        df.dropDuplicates([id_col])
        .select(
            F.col(id_col).alias("doc"),
            word_shingles(F.col(text_col), k).alias("shingles"),
        )
        .select(
            "doc",
            F.size("shingles").alias("n_shingles"),
            F.expr("transform(shingles, s -> xxhash64(s))").alias("hashes"),
        )
        .select(
            "doc",
            "n_shingles",
            "hashes",
            F.expr(_seeded_sig_expr(n_hashes)).alias("sig"),
            _sig_part(F.col("doc"), n_sig_parts).alias("sig_part"),
        )
    )


def _write_bands(
    sig_df: DataFrame, path: str, bands: int, rows: int, mode: str
) -> None:
    """Derive and write the band table from a (committed) sigs frame:
    partitioned by band, one shuffle task per band, rows sorted by bucket
    within files so row-group min/max stats stay tight."""
    import os

    (
        sig_df.select(
            "doc",
            F.expr(_band_bucket_expr(bands, rows)).alias("bb"),
        )
        .select("doc", "bb.band", "bb.bucket")
        .repartition(bands, "band")
        .sortWithinPartitions("band", "bucket")
        .write.mode(mode)
        .partitionBy("band")
        .parquet(os.path.join(path, "bands"))
    )


def minhash_index_append(
    new_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Append a batch of docs to a persisted MinHash index — the commit
    half of the daily increment (dedup the batch with
    :func:`minhash_incremental_pairs`, then append the survivors so
    TOMORROW's batch dedups against them too). Shingles only the batch;
    parameters come from the store's meta file, so appended signatures are
    comparable with stored ones by construction. Replay-safe like
    ``stream_ivf_index``: the batch left-joins on doc id against the
    store's (doc, sig) columns (a thin, column-pruned scan), so an
    at-least-once redelivery of UNCHANGED content appends nothing — and a
    redelivered doc id whose TEXT changed (stored signature differs from
    the batch's) raises ``ValueError`` instead of silently keeping the
    stale signature: content updates must go through
    :func:`minhash_index_delete` + append. Returns the number of docs
    appended.

    Scale: O(batch) shingling + one id anti-join against a column-pruned
    scan of sigs; appends land as new files in existing partitions —
    consolidation is :func:`minhash_index_compact`'s job."""
    import json
    import os

    with open(os.path.join(path, _INDEX_META)) as fh:
        meta = json.load(fh)
    k, n_hashes, bands = meta["k"], meta["n_hashes"], meta["bands"]
    rows = n_hashes // bands
    spark = new_df.sparkSession
    joined = (
        # Every store parameter — k, n_hashes, AND the deletion-bucket
        # modulus — comes from the store's meta, never from module
        # constants: an append under a retuned _N_SIG_PARTS would
        # otherwise mix two partition moduli into one layout, silently
        # unbounding the delete path's blast radius.
        _sig_frame(
            new_df,
            text_col,
            id_col,
            k,
            n_hashes,
            meta.get("n_sig_parts", _N_SIG_PARTS),
        )
        .join(
            spark.read.parquet(os.path.join(path, "sigs")).select(
                "doc", F.col("sig").alias("_stored_sig")
            ),
            "doc",
            "left",
        )
        # Pin the exact appended rows AND cut lineage from the sigs path:
        # the plan joins against sigs/, and Spark invalidates any cache
        # whose plan reads a path being written (recacheByPath) — a plain
        # persist() would silently recompute against the UPDATED store
        # after the first write and derive an empty band table.
        .localCheckpoint(eager=False)
    )
    # Fail loudly on a redelivered id whose content changed: the stored
    # signature is deterministic in the text, so sig != _stored_sig ⇒ the
    # text differs (a silent no-op here would keep the stale signature
    # forever with no error or update path — the replay guard must only
    # swallow byte-identical redeliveries). One aggregate answers both the
    # changed-content guard and the fresh-doc count — the two questions
    # partition the same checkpointed frame, so a second count job would
    # re-walk it for nothing (a replay append is then exactly one job).
    guard = joined.agg(
        F.sum(
            (
                F.col("_stored_sig").isNotNull()
                & (F.col("sig") != F.col("_stored_sig"))
            ).cast("long")
        ).alias("changed"),
        F.sum(F.col("_stored_sig").isNull().cast("long")).alias("fresh"),
    ).first()
    changed = int(guard["changed"] or 0)
    if changed:
        joined.unpersist()
        raise ValueError(
            f"minhash_index_append: {changed} redelivered doc id(s) arrived "
            "with CHANGED content; updates require minhash_index_delete + "
            "append, not a re-append under the same id"
        )
    sig = joined.where(F.col("_stored_sig").isNull()).drop("_stored_sig")
    n = int(guard["fresh"] or 0)
    if n:
        # Bands first, sigs second: the replay guard keys on sigs, so a
        # crash between the two writes is self-healing — the re-run
        # re-appends both (duplicate band rows are collapsed by the
        # reader's candidate distinct() and physically removed by the next
        # minhash_index_compact), whereas sigs-first would make the replay
        # skip docs whose bands never landed.
        _write_bands(sig, path, bands, rows, mode="append")
        sig.write.mode("append").partitionBy("sig_part").parquet(
            os.path.join(path, "sigs")
        )
    joined.unpersist()
    return n


def minhash_index_compact(
    spark: SparkSession, path: str, files_per_partition: int = 1
) -> dict:
    """Small-file consolidation for a MinHash index: daily appends leave
    one file per (batch, partition); this rewrites each sig bucket and each
    band directory down to ``files_per_partition`` files — re-sorting band
    rows by bucket so the row-group pruning the reader relies on survives
    compaction, and dropping exact-duplicate band rows (a crash between
    :func:`minhash_index_append`'s bands and sigs writes makes the replay
    re-append the batch's band rows; the reader's candidate distinct()
    hides them, and this rewrite — which touches every band partition
    anyway — is the repair path that stops the store accreting them).
    Search-preserving by construction (same DISTINCT rows, same
    partitions). Returns {"sigs": ..., "bands": ...} compaction stats."""
    import os

    from etl_lala_spark.sinks.writer import compact_partitions

    return {
        "sigs": compact_partitions(
            spark,
            os.path.join(path, "sigs"),
            part_col="sig_part",
            files_per_partition=files_per_partition,
        ),
        "bands": compact_partitions(
            spark,
            os.path.join(path, "bands"),
            part_col="band",
            files_per_partition=files_per_partition,
            sort_cols=("bucket",),
            drop_exact_duplicates=True,
        ),
    }


def minhash_index_delete(spark: SparkSession, path: str, docs: DataFrame) -> dict:
    """Targeted doc removal (GDPR / right-to-be-forgotten) from a MinHash
    index: drops the doc's signature row (with its stored shingle hashes —
    the content-derived data) and its band rows. ``docs`` is a one-column
    frame of doc ids named ``doc``. Blast radius: the sig rewrite touches
    only the hash buckets containing hits; the band rewrite touches each
    band directory once (every doc has one row per band — that's the
    structural floor for an LSH store), each pruned to its own partition.
    Returns {"sigs": ..., "bands": ...} delete_rows stats."""
    import os

    from etl_lala_spark.sinks.writer import delete_rows

    return {
        "sigs": delete_rows(
            spark, os.path.join(path, "sigs"), docs, "doc", part_col="sig_part"
        ),
        "bands": delete_rows(
            spark,
            os.path.join(path, "bands"),
            docs,
            "doc",
            part_col="band",
            # Rewritten band files must stay bucket-sorted, or the delete
            # silently widens the row-group stats the candidate join's
            # pruning relies on until the next compaction.
            sort_cols=("bucket",),
        ),
    }


def minhash_incremental_pairs(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between an INCOMING batch and a persisted corpus
    index (``minhash_index_write``): returns (new_doc, old_doc,
    est_jaccard, jaccard) for every batch doc whose exact Jaccard against
    a stored doc clears ``threshold``.

    Cost shape at 100 TB: the batch is shingled once; candidates come from
    the (band, bucket) equality join against the stored band table — the
    batch side is the small side (Spark broadcasts it under AQE), so the
    store is STREAMED, never re-shingled, and only candidate docs' stored
    shingle-hash arrays are exploded for the exact verification. Hash
    parameters (k, n_hashes, bands) are READ from the store's meta file
    rather than accepted from the caller — signatures are only comparable
    under identical parameters, and a caller-supplied k that disagreed
    with the store would silently report ~zero similarity for true dups.

    The internal batch base/signature caches back the RETURNED plan, so
    they stay pinned until the caller finishes consuming it — a loop
    calling this once per batch should ``spark.catalog.clearCache()``
    between batches."""
    import json
    import os

    with open(os.path.join(index_path, _INDEX_META)) as fh:
        meta = json.load(fh)
    k, n_hashes, bands = meta["k"], meta["n_hashes"], meta["bands"]
    rows = n_hashes // bands
    spark = new_df.sparkSession
    from etl_lala_spark.io import spread

    base = (
        # Collapse duplicate batch ids first: two rows for one new_doc
        # would double the exploded shingle intersection and divide by
        # zero in the exact-Jaccard verify (same guard as _sig_frame).
        spread(new_df.select(text_col, id_col).dropDuplicates([id_col]), by=id_col)
        .select(
            F.col(id_col).alias("new_doc"),
            word_shingles(F.col(text_col), k).alias("shingles"),
        )
        .select(
            "new_doc",
            F.size("shingles").alias("n_new"),
            F.expr("transform(shingles, s -> xxhash64(s))").alias("hashes"),
        )
        .cache()
    )
    sig_new = (
        minhash_signatures(
            base.select(
                F.col("new_doc").alias("doc"),
                F.col("n_new").alias("n_shingles"),
                "hashes",
            ),
            n_hashes,
        )
        .select(F.col("doc").alias("new_doc"), F.col("sig").alias("sig_new"))
        .cache()
    )
    bands_new = sig_new.select(
        "new_doc",
        F.expr(_band_bucket_expr(bands, rows, sig_col="sig_new")).alias("bb"),
    ).select("new_doc", "bb.band", "bb.bucket")

    # The band partition column reads back as STRING under the engine's
    # partitionColumnTypeInference=false convention (session.py: partition
    # values stay strings for the competência model) — normalize to int
    # explicitly so the candidate join is a typed equality, not an
    # implicit string/int coercion whose semantics depend on session conf.
    store_bands = spark.read.parquet(os.path.join(index_path, "bands")).select(
        "doc", F.col("band").cast("int").alias("band"), "bucket"
    )
    store_sigs = spark.read.parquet(os.path.join(index_path, "sigs"))

    cand = (
        bands_new.join(store_bands, ["band", "bucket"])
        .select("new_doc", F.col("doc").alias("old_doc"))
        .distinct()
    )
    est = F.round(
        F.size(
            F.filter(F.zip_with("sig_new", "sig", lambda x, y: x == y), lambda m: m)
        )
        / F.lit(float(n_hashes)),
        4,
    )
    cand_sig = (
        cand.join(sig_new, "new_doc")
        .join(
            store_sigs.select(F.col("doc").alias("old_doc"), "sig"), "old_doc"
        )
        .select("new_doc", "old_doc", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold * 0.5)
    )

    new_sh = base.select("new_doc", "n_new", F.explode("hashes").alias("shingle"))
    old_sh = (
        store_sigs.join(
            cand_sig.select("old_doc").distinct(), store_sigs.doc == F.col("old_doc")
        )
        .select(
            "old_doc",
            F.col("n_shingles").alias("n_old"),
            F.explode("hashes").alias("shingle"),
        )
    )
    inter = (
        new_sh.join(cand_sig.select("new_doc", "old_doc"), "new_doc")
        .join(old_sh, ["old_doc", "shingle"])
        .groupBy("new_doc", "old_doc", "n_new", "n_old")
        .agg(F.count("*").alias("inter"))
    )
    exact = inter.select(
        "new_doc",
        "old_doc",
        F.round(
            F.col("inter").cast("double")
            / (F.col("n_new") + F.col("n_old") - F.col("inter")).cast("double"),
            4,
        ).alias("jaccard"),
    )
    return (
        cand_sig.join(exact, ["new_doc", "old_doc"], "left")
        .na.fill({"jaccard": 0.0})
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc", "old_doc", "est_jaccard", "jaccard")
    )


# ---------------------------------------------------------------------------
# Line-level cross-document dedup (RefinedWeb / FineWeb / C4 family)
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document LINE dedup — the web-pipeline stage between exact
    whole-doc dedup and fixed-block boilerplate removal (C4 removed
    duplicated spans; RefinedWeb/FineWeb drop any line shared across
    documents — cookie banners, nav crumbs, share buttons survive
    main-content extraction and this is the stage that kills them).
    A line (newline-delimited, whitespace-trimmed) occurring in at least
    ``min_docs`` DISTINCT documents is removed from EVERY document;
    remaining lines are re-joined in original order. Empty lines are
    dropped (they would otherwise count as a cross-doc duplicate and
    delete all paragraph breaks). Returns one row per input doc:
    (id, n_lines, n_removed, clean_text) — a doc whose every line is
    boilerplate survives with clean_text = ''.

    Scale shape: one explode + hash agg keyed on the line (map-side
    combined, vocabulary-bounded by distinct lines), one ban-flag join
    back (left join; anti-join semantics via the flag), one per-doc
    re-group that computes counts AND reassembly together. Everything is
    SQL-expressible (the oracle replays it exactly); at 100 TB key the
    agg and join on ``xxhash64(line)`` (8-byte shuffle rows instead of
    full strings) and verify survivors against the string only on the
    collision-checked join back — same trick as the shingle tables.
    """
    # One row per doc id (redelivery guard, same as _sig_frame): duplicate
    # id rows would interleave doubled lines into clean_text while the
    # distinct-doc ban frequency stayed 1 — silent text corruption.
    df = df.dropDuplicates([id_col])
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "raw"),
    ).select(id_col, "line_no", F.trim(F.col("raw")).alias("line"))
    nonempty = lines.filter(F.col("line") != "")
    banned = (
        nonempty.groupBy("line")
        .agg(F.countDistinct(id_col).alias("docs"))
        .filter(F.col("docs") >= min_docs)
        .select("line", F.lit(True).alias("_banned"))
    )
    # ONE per-doc aggregation over the ban-FLAGGED lines (left join keeps
    # every exploded row; the anti-join semantics live in the _banned-NULL
    # predicates) instead of the previous two groupBys + anchor join:
    # split() yields >= 1 element for EVERY input text — empty and
    # whitespace-only docs included — so grouping the raw `lines` frame
    # already lands one output row per input doc, the same row-survival
    # contract the explicit id anchor used to enforce (a doc whose every
    # line is empty aggregates to n_lines = 0, clean_text = ''). The ban
    # set never contains '' (it is built from `nonempty`), so empty lines
    # can't be double-counted as removed.
    is_line = F.col("line") != ""
    is_kept = is_line & F.col("_banned").isNull()
    n_lines = F.count_if(is_line).cast("bigint")
    n_kept = F.count_if(is_kept).cast("bigint")
    # collect_list skips NULLs, so when(is_kept, ...) collects exactly the
    # surviving lines; array_sort on (line_no, line) structs restores the
    # original order (line_no is unique per doc).
    ordered = F.array_sort(
        F.collect_list(F.when(is_kept, F.struct("line_no", "line")))
    )
    return (
        lines.join(banned, "line", "left")
        .groupBy(id_col)
        .agg(
            n_lines.alias("n_lines"),
            (n_lines - n_kept).cast("bigint").alias("n_removed"),
            F.array_join(
                F.transform(ordered, lambda s: s["line"]), "\n"
            ).alias("clean_text"),
        )
    )

