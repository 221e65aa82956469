"""Relational operator extensions Spark lacks as single built-ins
(SURVEY.md §2.12): backward as-of join, key-skew
profile, SCD2 and changelog merges, expectation gates, snapshot diff and
PSI drift.

The as-of join has one strategy, ``asof_join_window``: union both sides,
one window pass with last(ignorenulls) — a single shuffle on the
partition key, fully JVM-side. The per-key ``pd.merge_asof`` forms
(single-sided and cogrouped ``applyInPandas``) measured 33-35× slower at
sf0.1 with as many jobs or more, so they are gone (SCALE.md,
Python-boundary policy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join_window(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str],
) -> DataFrame:
    """For each left row, attach the most recent right row with
    right.on <= left.on within the same ``by`` key (backward as-of,
    exact matches allowed).

    Implementation: tag + union, then ONE last(ignorenulls) over a
    (by, on, tag) ordering where right rows sort before left rows at equal
    timestamps. One shuffle, no join blowup, no Python.

    The right payload rides as a single STRUCT (non-null for every right
    row even when its fields are NULL), so last(ignorenulls) always picks
    the most recent right ROW as a unit — per-column last() would skip a
    genuine NULL payload value and stitch together fields from different
    right rows (a row that never existed): if the latest right row's
    field is NULL, the output field is NULL. Right rows with a NULL
    ``on`` are dropped (no defined position on the as-of axis), a left
    row with a NULL ``on`` gets NULL payloads, and a left row whose key
    has no right row at or before it gets NULL payloads.
    """
    lt = left.withColumn("_is_left", F.lit(1))
    rt = (
        right.filter(F.col(on).isNotNull())
        .select(
            by,
            on,
            F.struct(*[F.col(c) for c in right_cols]).alias("_r"),
        )
        .withColumn("_is_left", F.lit(0))
    )

    unioned = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        W.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_is_left").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = F.last(F.col("_r"), ignorenulls=True).over(w)
    out = unioned.select(
        "*",
        *[matched[c].alias(f"asof_{c}") for c in right_cols],
    )
    # NULL-on left rows sort before every right row (nulls first under
    # asc), so their window prefix holds no right struct and the payloads
    # are NULL — no special-casing needed.
    return out.filter(F.col("_is_left") == 1).drop("_is_left", "_r")


def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key frequencies for the heaviest
    keys plus their share of all rows and the ratio to a perfectly uniform
    key ("hot keys N× the mean" is the number that decides whether a salted
    join or AQE skew splitting is needed BEFORE the big shuffle runs).

    One hash agg on the key + a 1-row broadcast of (total, distinct):
    diagnostic cost is a map-side-combined count, never a sort of the
    fact table.
    """
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n")
    )
    totals = per_key.agg(
        F.sum("n").alias("total_rows"), F.count("*").alias("n_keys")
    )
    return (
        per_key.join(F.broadcast(totals))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("total_rows"), 6).alias("row_share"),
            F.round(
                F.col("n") * F.col("n_keys") / F.col("total_rows"), 4
            ).alias("x_uniform"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(top_n)
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    effective_col: str = "effective_batch",
) -> DataFrame:
    """Slowly-changing-dimension (type 2) maintenance as one DataFrame plan —
    MERGE-INTO semantics without a table format that supports it.

    ``current`` is the dimension history: ``key``, ``tracked`` attributes,
    ``valid_from``, ``valid_to`` (null = open), ``is_current``. ``updates``
    carries ``key``, new ``tracked`` values, and ``effective_col`` (the batch
    stamp for the new version). Rows whose tracked attributes changed are
    closed out (``valid_to`` = effective stamp) and a new open version is
    appended; unchanged and historical rows pass through untouched; brand-new
    keys insert an open version.

    Scale: a single equi-join on ``key`` against the *current* slice only
    (history rows never join), so the wide work is one shuffle — or zero when
    the updates side broadcasts. Each joined row conditionally explodes into
    its 1 (pass-through) or 2 (close + reopen) output rows in the SAME pass,
    so the join is computed once with no caching — safe to call per
    micro-batch (``sinks/writer.py:stream_scd2``). The reference's loader
    only ever appends (SURVEY.md §1.3); this supplies the dimension-
    versioning path a warehouse needs on top.

    ``updates`` may carry multiple rows per key: they are collapsed to the
    latest (max ``effective_col``, tracked-value tiebreak) before the
    join, so the one-version-per-key output invariant holds for every
    caller, not only those that pre-collapse.
    """
    null_long = F.lit(None).cast("long")
    # eqNullSafe split: a row whose is_current is NULL (bad backfill) goes
    # to hist and passes through — plain filter(col)/filter(~col) both
    # reject NULL under three-valued logic, silently LOSING the row from
    # the returned dimension.
    is_cur = F.col("is_current").eqNullSafe(F.lit(True))
    cur = current.filter(is_cur)
    hist = current.filter(~is_cur)

    changed_pred = F.lit(False)
    for c in tracked:
        changed_pred = changed_pred | ~F.col(c).eqNullSafe(F.col(f"u_{c}"))

    # Collapse to ONE update per key (latest effective stamp wins; ties
    # break on the tracked values for determinism): the left join below
    # fans out per duplicate update, which would emit duplicate close +
    # reopen rows — two open versions per key — with no error. Callers
    # that pre-collapse (sinks/writer.py:stream_scd2) pay one no-op hash
    # agg on the small side.
    upd = (
        updates.select(
            F.col(key),
            F.col(effective_col).alias("u_effective"),
            *[F.col(c).alias(f"u_{c}") for c in tracked],
        )
        .groupBy(key)
        .agg(
            F.max_by(
                F.struct("u_effective", *[f"u_{c}" for c in tracked]),
                F.struct("u_effective", *[f"u_{c}" for c in tracked]),
            ).alias("w")
        )
        .select(key, "w.*")
    )
    joined = cur.join(upd, on=key, how="left")

    def out_struct(*cols: F.Column) -> F.Column:
        return F.struct(*[c.alias(n) for c, n in zip(cols, cur.columns, strict=True)])

    passthrough = out_struct(*[F.col(c) for c in cur.columns])
    closed = out_struct(
        *[
            F.col("u_effective") if c == "valid_to"
            else F.lit(False) if c == "is_current"
            else F.col(c)
            for c in cur.columns
        ]
    )
    reopened = out_struct(
        *[
            F.col("u_effective") if c == "valid_from"
            else null_long if c == "valid_to"
            else F.lit(True) if c == "is_current"
            else F.col(f"u_{c}") if c in tracked
            else F.col(c)
            for c in cur.columns
        ]
    )
    merged = (
        joined.select(
            F.explode(
                F.when(
                    F.col("u_effective").isNotNull() & changed_pred,
                    F.array(closed, reopened),
                ).otherwise(F.array(passthrough))
            ).alias("r")
        )
        .select("r.*")
    )
    inserted = (
        upd.join(cur, on=key, how="left_anti")
        .select(
            F.col(key),
            *[F.col(f"u_{c}").alias(c) for c in tracked],
            F.col("u_effective").alias("valid_from"),
            null_long.alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .select(cur.columns)
    )
    return hist.unionByName(merged).unionByName(inserted)


def check_expectations(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One-pass data-quality gate: every rule is a boolean Column (True =
    row passes); returns one row per rule with ``(rule, n_rows,
    n_violations, violation_rate)``. NULL rule results count as violations
    (three-valued logic never hides a bad row).

    Generalizes the reference's inline validation predicates (P6 —
    url/competência/sucesso checks, datasus.service.ts:78-80,252-254,341-343)
    into a declarative rule set evaluated in ONE aggregate over ONE scan —
    at 100 TB the table is read once no matter how many rules run; adding a
    rule adds a codegen'd sum, not a pass."""
    if not rules:
        # stack(0) is a parse error; an empty gate is vacuously empty.
        return df.sparkSession.createDataFrame(
            [],
            "rule string, n_rows bigint, n_violations bigint, "
            "violation_rate double",
        )
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.when(c, 0).otherwise(1)).alias(f"v_{i}")
        for i, c in enumerate(rules.values())
    ]
    wide = df.agg(*aggs)
    # Column-API stack, NOT an f-string selectExpr: rule names are
    # user-supplied labels, and interpolating them into SQL text let a
    # quote (\"isn't null\") kill the gate with a ParseException — or
    # inject arbitrary SQL.
    stack_args: list[Column] = []
    for i, name in enumerate(rules):
        stack_args += [F.lit(name), F.col(f"v_{i}")]
    return (
        wide.select(
            F.stack(F.lit(len(rules)), *stack_args).alias("rule", "n_violations"),
            "n_rows",
        )
        .select(
            "rule",
            "n_rows",
            "n_violations",
            F.round(F.col("n_violations") / F.col("n_rows"), 6).alias("violation_rate"),
        )
        .orderBy("rule")
    )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    key: str,
    compare: list[str],
) -> DataFrame:
    """Snapshot reconciliation: classify every key as added / removed /
    changed / unchanged between two table versions — the validation step
    after a migration, backfill, or reprocessing run (does the new load
    agree with the old one, and where exactly not?).

    Each side collapses to (key, row_hash) where the hash covers the
    compared columns, so the full-outer join moves two thin columns per
    row, never the payload — at 100 TB the diff costs one co-partitioned
    join on the key (exchange-free if both snapshots are bucketed on it).
    Returns (key, diff_status) for non-unchanged rows plus the hashes for
    drill-down.
    """
    def hashed(df: DataFrame, side: str) -> DataFrame:
        # Self-delimiting per-column tokens: '0' for NULL, '1' + md5(value)
        # otherwise. Each token's first char determines its length, so the
        # concatenation is prefix-decodable — no separator exists for a
        # value to smuggle in (a plain concat_ws fingerprint classified
        # ('x\\x1fy', 'z') and ('x', 'y\\x1fz') as identical rows), and
        # NULL stays distinct from every string value.
        cols = [
            F.when(F.col(c).isNull(), F.lit("0")).otherwise(
                F.concat(F.lit("1"), F.md5(F.col(c).cast("string")))
            )
            for c in compare
        ]
        return df.select(
            F.col(key),
            F.md5(F.concat(*cols)).alias(f"{side}_hash"),
        )

    l, r = hashed(left, "l"), hashed(right, "r")
    joined = l.join(r, key, "full_outer")
    status = (
        F.when(F.col("l_hash").isNull(), F.lit("added"))
        .when(F.col("r_hash").isNull(), F.lit("removed"))
        .when(F.col("l_hash") != F.col("r_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(key, status.alias("diff_status"), "l_hash", "r_hash").where(
        F.col("diff_status") != "unchanged"
    )


def merge_changelog(
    base: DataFrame,
    changelog: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """CDC merge-apply: roll a changelog of upserts/deletes into a snapshot
    (the MERGE INTO / apply-changes primitive behind every incremental load;
    reference behavior: the monthly reprocessing loop DELETEs a competence
    and re-INSERTs it — src/datasus/datasus.service.ts:15-39 — which is the
    degenerate whole-partition form of this per-key merge).

    Semantics: per key, the changelog row with the highest ``seq_col`` wins
    ('latest wins'); ties on ``seq_col`` — common inside a single source
    transaction — break deterministically by the lexicographically greatest
    ``(op, payload)`` (so the same feed always yields the same snapshot; a
    'U' beats a 'D' at equal seq since 'U' > 'D'). A winning op of ``'D'``
    removes the key, any other op — including NULL — replaces the base row
    with the changelog payload; base rows without changelog entries pass
    through. Payload columns are taken positionally from the base schema
    (minus seq/op).

    Scale: the latest-wins reduction is ONE shuffle of the changelog on the
    key (a max_by struct agg — partial map-side, never a row_number sort),
    and the apply is one co-partitioned left-anti join of base against the
    (thin) winning-key set plus a union — base never shuffles more than the
    join requires, and is exchange-free when bucketed on the key. Changelogs
    are typically ≪ base, so AQE usually broadcasts the anti side.
    """
    payload = [c for c in base.columns if c != key]
    # max_by over a (seq, payload-struct): one hash agg replaces the
    # window-sort form (same shuffle, no per-partition sort buffer). The
    # ordering key is a struct so equal seqs compare on (op, payload) —
    # Spark's max_by alone gives no tie guarantee. Only ORDERABLE payload
    # columns join the tie key (map-typed columns can't be compared and
    # would fail analysis); with such columns present, ties still break
    # deterministically on (seq, op) and the orderable payload subset.
    def _orderable(dt) -> bool:
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    tie_cols = [
        c for c in payload if _orderable(changelog.schema[c].dataType)
    ]
    ord_key = F.struct(
        F.col(seq_col).alias("__seq"),
        F.col(op_col).alias("__tie_op"),
        *[F.col(c).alias(f"__tie_{c}") for c in tie_cols],
    )
    winner = changelog.groupBy(key).agg(
        F.max_by(F.struct(F.col(op_col).alias("__op"), *payload), ord_key).alias("w")
    )
    # eqNullSafe: a NULL op must not silently delete (plain != is NULL on
    # NULL input, which would drop the row from survivors after the
    # anti-join already removed its base row).
    survivors = winner.filter(~F.col("w.__op").eqNullSafe("D")).select(
        key, *[F.col(f"w.{c}").alias(c) for c in payload]
    )
    untouched = base.join(winner.select(key), key, "left_anti")
    return untouched.unionByName(survivors)


def drift_psi(
    df: DataFrame,
    value_col: str,
    split_pred: Column,
    n_buckets: int = 10,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Population-stability-index drift between two slices of one table —
    the standard distribution monitor a continuously-loaded warehouse (the
    reference reprocesses each month's slice: src/datasus/datasus.service.ts:15-39)
    or a training-data pipeline runs between snapshots/months.

    ``split_pred`` marks the BASE population (e.g. ``l_shipdate < D``);
    everything else is CURRENT. The value range is fixed from the base
    slice's min/max, split into ``n_buckets`` equal-width buckets (explicit
    floor arithmetic, reproducible on any engine — no quantile estimation),
    out-of-range current values clamp to the edge buckets. PSI per bucket =
    (p − q)·ln((p+ε)/(q+ε)); Σ over buckets ≥ 0.25 conventionally flags a
    shift.

    Scale: exactly TWO scans at any size — one min/max aggregate over the
    base slice (both its outputs ride a 1-row broadcast), then ONE shared
    scan histograms BOTH populations via conditional aggregation (no
    per-slice re-scan), shuffling only n_buckets partial rows. Returns
    (bucket, base_n, cur_n, base_frac, cur_frac, psi_term) ordered by
    bucket.
    """
    v = F.col(value_col).cast("double")
    # NULL values are excluded up front: a nullability regression must show
    # up in a completeness check (`check_expectations`), not masquerade as
    # low-bucket distribution mass. A constant base column (width 0) puts
    # everything in bucket 1 instead of dividing by zero (ANSI mode).
    df = df.filter(v.isNotNull())
    stats = (
        df.filter(split_pred)
        .agg(F.min(v).alias("lo"), F.max(v).alias("hi"))
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(n_buckets))
    # Clamp the bucket ratio in DOUBLE space BEFORE floor/+1: a wide-range
    # current value against a tiny base width can push (v-lo)/width past
    # 2^63, where floor-to-long saturates and the +1 raises
    # ARITHMETIC_OVERFLOW under ANSI mode, failing the whole job. After the
    # clamp the post-floor long arithmetic is bounded by n_buckets+1.
    ratio = F.least(
        F.lit(float(n_buckets)),
        F.greatest(F.lit(0.0), (v - F.col("lo")) / width),
    )
    raw_bucket = F.when(width > 0, F.floor(ratio) + 1).otherwise(
        F.lit(1).cast("long")
    )
    bucket = F.least(
        F.lit(n_buckets).cast("long"), F.greatest(F.lit(1).cast("long"), raw_bucket)
    )
    # coalesce(pred, false): a row where the predicate is NULL (e.g. a
    # NULL split-date) is CURRENT per the documented contract — the bare
    # cast gives NULL, which sum() skips on BOTH sides, silently counting
    # the row in neither population.
    is_base = F.coalesce(split_pred, F.lit(False)).cast("long")
    hist = (
        df.crossJoin(F.broadcast(stats))
        .select(bucket.alias("bucket"), is_base.alias("is_base"))
        .groupBy("bucket")
        .agg(
            F.sum("is_base").alias("base_n"),
            F.sum(F.lit(1) - F.col("is_base")).alias("cur_n"),
        )
    )
    totals = hist.agg(
        F.sum("base_n").alias("base_t"), F.sum("cur_n").alias("cur_t")
    )
    # try_divide: an empty base or current population yields 0 fractions
    # (and a large one-sided PSI term) instead of an ANSI divide-by-zero.
    p = F.coalesce(F.try_divide(F.col("base_n"), F.col("base_t")), F.lit(0.0))
    q = F.coalesce(F.try_divide(F.col("cur_n"), F.col("cur_t")), F.lit(0.0))
    term = (p - q) * F.log((p + F.lit(eps)) / (q + F.lit(eps)))
    return (
        hist.join(F.broadcast(totals))
        .select(
            "bucket",
            "base_n",
            "cur_n",
            F.round(p, round_digits).alias("base_frac"),
            F.round(q, round_digits).alias("cur_frac"),
            F.round(term, round_digits).alias("psi_term"),
        )
        .orderBy("bucket")
    )


def drift_psi_categorical(
    df: DataFrame,
    value_col: str,
    split_pred: Column,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Categorical PSI drift — same contract as ``drift_psi`` but bucketed
    by the column's own values (status codes, languages, sources) instead
    of numeric ranges. ONE scan: both populations histogram via conditional
    aggregation on the category key; the shuffle carries one row per
    distinct category. Categories absent from one side still contribute
    (the ε-smoothed log handles zero fractions). Returns
    (category, base_n, cur_n, base_frac, cur_frac, psi_term) ordered by
    category."""
    # Same NULL-predicate contract as drift_psi: NULL means CURRENT.
    is_base = F.coalesce(split_pred, F.lit(False)).cast("long")
    hist = (
        df.select(F.col(value_col).alias("category"), is_base.alias("is_base"))
        .groupBy("category")
        .agg(
            F.sum("is_base").alias("base_n"),
            F.sum(F.lit(1) - F.col("is_base")).alias("cur_n"),
        )
    )
    totals = hist.agg(
        F.sum("base_n").alias("base_t"), F.sum("cur_n").alias("cur_t")
    )
    # try_divide: an empty base or current population yields 0 fractions
    # (and a large one-sided PSI term) instead of an ANSI divide-by-zero.
    p = F.coalesce(F.try_divide(F.col("base_n"), F.col("base_t")), F.lit(0.0))
    q = F.coalesce(F.try_divide(F.col("cur_n"), F.col("cur_t")), F.lit(0.0))
    term = (p - q) * F.log((p + F.lit(eps)) / (q + F.lit(eps)))
    return (
        hist.join(F.broadcast(totals))
        .select(
            "category",
            "base_n",
            "cur_n",
            F.round(p, round_digits).alias("base_frac"),
            F.round(q, round_digits).alias("cur_frac"),
            F.round(term, round_digits).alias("psi_term"),
        )
        .orderBy("category")
    )
