"""Web crawl politeness / URL-filtering operators (robots.txt, RFC 9309).

The crawl-side counterpart of ``sources/warc.py``: a fetch pipeline must
filter its URL frontier through each host's robots.txt BEFORE fetching
(CCNet/FineWeb inherit this from Common Crawl's own crawler). Both halves
are pure DataFrame ops — parsing is one posexplode + window pass per
robots file, matching is a broadcast join + codegen regex — so the URL
frontier (the 100 TB side) is never shuffled and never touched by Python.

Semantics implemented (RFC 9309, the Robots Exclusion Protocol):
- groups: one or more ``User-agent`` lines followed by ``Allow`` /
  ``Disallow`` rules; a ``User-agent`` line whose predecessor is NOT a
  user-agent line starts a new group; comments (#) stripped; field names
  case-insensitive; agent tokens case-insensitive; paths case-SENSITIVE.
- agent selection: all groups naming the crawler's token exactly; if none
  on that host, the ``*`` groups; a host with no robots rows ⇒ allowed.
- rule matching: ``*`` matches any span, ``$`` anchors the end; the
  longest-pattern match wins; Allow wins a length tie; no match ⇒ allowed.
  An empty Disallow value (``Disallow:``) matches nothing per the RFC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def parse_robots(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """Parse robots.txt bodies into a rules table: one row per
    (host, group_id, agents, directive, path, path_len). Entirely codegen:
    posexplode lines → strip comments → split field:value → group ids via
    a running sum over one per-host window (a User-agent line not preceded
    by another User-agent line opens a group) → agents collected per group
    and attached to each rule row. The output is small (rules, not URLs) —
    it broadcasts into :func:`robots_allowed`."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
    ).select(
        "host",
        "pos",
        F.trim(F.regexp_replace("raw", r"#.*$", "")).alias("line"),
    )
    parsed = (
        lines.filter(F.col("line") != "")
        .select(
            "host",
            "pos",
            F.lower(F.trim(F.regexp_extract("line", r"^([^:]+):", 1))).alias(
                "field"
            ),
            F.trim(F.regexp_extract("line", r"^[^:]+:(.*)$", 1)).alias("value"),
        )
        .filter(F.col("field").isin("user-agent", "allow", "disallow"))
    )
    w = W.partitionBy("host").orderBy("pos")
    grouped = parsed.withColumn(
        "group_id",
        F.sum(
            (
                (F.col("field") == "user-agent")
                & (F.coalesce(F.lag("field").over(w), F.lit("")) != "user-agent")
            ).cast("int")
        ).over(w),
    )
    agents = grouped.filter(F.col("field") == "user-agent").groupBy(
        "host", "group_id"
    ).agg(F.collect_set(F.lower("value")).alias("agents"))
    rules = grouped.filter(
        F.col("field").isin("allow", "disallow") & (F.col("value") != "")
    )
    # LEFT join from the GROUPS: a group with no surviving rules (the very
    # common 'User-agent: X / Disallow:' allow-everything idiom) must keep
    # one sentinel row (NULL directive/path) — group EXISTENCE is what
    # shadows the * group during agent selection; deriving groups from rule
    # rows would invert that robots.txt to deny-all for X.
    return agents.join(rules, ["host", "group_id"], "left").select(
        "host",
        "group_id",
        "agents",
        F.col("field").alias("directive"),
        F.col("value").alias("path"),
        F.length("value").alias("path_len"),
    )


def _rule_regex(path: Column | str = "path") -> Column:
    """Translate a robots path pattern to an anchored Java regex, in
    codegen: escape regex metacharacters, then ``*`` → ``.*`` and a
    trailing ``$`` back to the end anchor."""
    p = F.col(path) if isinstance(path, str) else path
    esc = F.regexp_replace(p, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    wild = F.regexp_replace(esc, r"\*", ".*")
    # un-escape a TRAILING $ back to the end anchor (replacement-side $ is
    # a group reference in Java, hence the \\$ escape for a literal one)
    return F.concat(F.lit("^"), F.regexp_replace(wild, r"\\\$$", "\\$"))


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Filter a URL frontier through parsed robots rules for ``agent``.
    Appends ``allowed`` (boolean) and ``matched_rule`` (the winning
    pattern, NULL when no rule matched) — row-preserving: duplicate
    frontier rows stay duplicates. Group selection per RFC 9309: the
    host's exact-agent groups if any exist (a rule-LESS exact group counts
    — it shadows ``*`` and allows everything), else its ``*`` groups;
    longest matching pattern wins, Allow wins ties, no match ⇒ allowed.

    Scale: the rules collapse to ONE array row per host and broadcast;
    the frontier side is a single scan through the broadcast equi-join —
    no shuffle, no regrouping — with per-rule matching and the
    longest/Allow precedence computed by array higher-order functions in
    codegen, no Python."""
    a = F.lit(agent.lower())
    exact_hosts = (
        rules.filter(F.array_contains("agents", a))
        .select("host")
        .distinct()
        .withColumnRenamed("host", "_ehost")
    )
    # one row per host: the chosen group's rules as an array of structs
    # whose FIELD ORDER (len, is_allow, pattern, directive) makes
    # array_max the precedence rule — longest first, Allow on ties
    per_host = (
        rules.join(exact_hosts, rules["host"] == F.col("_ehost"), "left")
        .filter(
            F.when(
                F.col("_ehost").isNotNull(), F.array_contains("agents", a)
            ).otherwise(F.array_contains("agents", "*"))
        )
        .filter(F.col("path").isNotNull())  # drop rule-less sentinel rows
        .groupBy(F.col("host").alias("_rhost"))
        .agg(
            F.collect_list(
                F.struct(
                    F.col("path_len").alias("l"),
                    (F.col("directive") == "allow").cast("int").alias(
                        "is_allow"
                    ),
                    F.col("path").alias("pattern"),
                    F.col("directive").alias("directive"),
                    _rule_regex("path").alias("re"),
                )
            ).alias("_rules")
        )
    )
    joined = urls.join(
        F.broadcast(per_host), F.col(host_col) == F.col("_rhost"), "left"
    )
    matched = F.filter(
        F.coalesce(
            "_rules",
            F.array().cast(
                "array<struct<l:int,is_allow:int,pattern:string,"
                "directive:string,re:string>>"
            ),
        ),
        lambda r: F.rlike(F.col(path_col), r["re"]),
    )
    best = F.array_max(matched)
    return joined.select(
        *urls.columns,
        F.coalesce(best["directive"] == "allow", F.lit(True)).alias(
            "allowed"
        ),
        best["pattern"].alias("matched_rule"),
    )


# --- Bloom-filter membership (seen-URL frontier dedup) ------------------------
#
# A crawl frontier at 100 TB cannot afford an exact anti-join against every
# URL ever fetched on every batch; the standard move (every large crawler,
# and Spark's own BloomFilterAggregate under AQE join pruning) is a Bloom
# filter over the seen set: bits build in one agg, probe is a codegen
# bitmask test, false POSITIVES only (a false positive skips a re-fetch —
# cheap; a false negative would re-fetch — impossible by construction).
# Bit positions derive from md5 (like importance_weights' buckets) so a
# DuckDB oracle replays build AND probe bit-exactly.


# Bump when the position-hash layout changes: persisted bitmap caches
# (stream_url_frontier's meta JSON) built under another format must be
# rebuilt, never probed — a stale-format probe could emit a false negative,
# the one error class the filter's contract forbids.
_BLOOM_FMT = 2


def _bloom_positions(key, n_bits: int, k: int):
    """k bit positions for a key: independent 48-bit BIGINTs from disjoint
    md5 hex windows (12 hex chars each, k ≤ 2 per salted md5), each mod
    n_bits. 48-bit positions keep the sketch addressable far past the
    2^31 cliff a 32-bit cast would hit at frontier scale (10^9–10^10
    bits), stay exactly representable through conv()'s 64-bit parse, and
    survive ANSI mode (no narrowing cast anywhere); the salt keeps window
    reuse independent."""
    pos = []
    for i in range(k):
        salt, win = divmod(i, 2)
        h = F.md5(
            F.concat(F.lit(f"s{salt}:"), F.col(key) if isinstance(key, str) else key)
        )
        pos.append(
            F.conv(F.substring(h, 1 + 12 * win, 12), 16, 10).cast("bigint")
            % n_bits
        )
    return pos


def bloom_build(
    df: DataFrame, key_col: str = "url", n_bits: int = 4096, k: int = 3
):
    """Build a Bloom filter over a key column: ONE distributed aggregation
    (explode k positions per key → per-word bit_or, map-side combined)
    returning the bitmap as an ``n_bits/64``-word numpy int64 array —
    O(n_bits) driver state at exactly 8 bytes/word (a Python list of
    boxed ints would be ~4× that and cost an O(n_words) conversion on
    every probe at frontier sizes), re-entering :func:`bloom_probe` as
    plan literals (small) or its set words (large), the same state
    discipline as the kmeans codebook. False-positive rate for
    n keys ≈ (1 − e^(−k·n/m))^k; size m to the seen-set budget."""
    import numpy as np

    n_words = (n_bits + 63) // 64
    pos = F.explode(F.array(*_bloom_positions(key_col, n_bits, k))).alias("p")
    words = (
        df.select(pos)
        .select(
            # word index stays BIGINT: a 10^10-bit frontier sketch has
            # ~1.5e8 words, fine, but the POSITION space is 48-bit and a
            # 32-bit cast here is exactly the overflow _bloom_positions
            # exists to avoid
            F.floor(F.col("p") / F.lit(64)).cast("bigint").alias("w"),
            # shiftleft's bit count must be an expression here (the Python
            # helper only takes literals), hence expr()
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(n_words, dtype=np.int64)
    for r in words:
        bitmap[r["w"]] = r["bits"]
    return bitmap


def bloom_build_words(
    df: DataFrame,
    key_col: str = "url",
    n_bits: int = 4096,
    k: int = 3,
    n_parts: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Build the Bloom sketch as a DISTRIBUTED set-words DataFrame
    ``(w BIGINT, bits BIGINT)`` — the frontier-scale form. Same single
    map-side-combined bit_or aggregation as :func:`bloom_build`, but the
    words never collect: state is O(set bits), not O(n_bits), and the
    sketch never exists as one dense object anywhere. At 10^10 bits with
    10^9 keys the dense bitmap is 1.25 GB of driver state that every
    Python worker would have to copy; the words form is ~n·k rows of
    (8+8) bytes living where Spark state belongs, probed JVM-side
    (:func:`bloom_probe` joins on the word index). localCheckpointed so
    re-probes don't recompute the aggregation (on a cluster,
    ``checkpoint()`` or a parquet write drops in). ``n_parts`` adds the
    durable store's ``wpart`` partition key BEFORE the checkpoint so
    store writers don't re-materialize just to tag it.

    ``materialize=False`` returns the lazy aggregation plan instead:
    right when the caller consumes the words EXACTLY ONCE (a store
    write/append) — a checkpoint there is a full extra materialization
    of the aggregation before the write re-reads it."""
    pos = F.explode(F.array(*_bloom_positions(key_col, n_bits, k))).alias("p")
    words = (
        df.select(pos)
        .select(
            F.floor(F.col("p") / F.lit(64)).cast("bigint").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    if n_parts is not None:
        words = words.withColumn(
            "wpart", F.pmod(F.col("w"), F.lit(n_parts)).cast("int")
        )
    if not materialize:
        # r13 fix: this branch was documented (and bit-identity tested)
        # in r12 but the flag was silently ignored — every "lazy" caller
        # (sketch write, no-stats merge delta) still paid a checkpoint
        # job before its single consumption. The job census caught it:
        # one extra localCheckpoint per sketch write / merge append.
        return words
    return words.localCheckpoint()


# A set-words sketch at or under this row count gets an explicit broadcast
# hint on the probe joins (8M words ≈ 128 MB in-JVM; note Catalyst builds
# a SEPARATE BroadcastExchange per probe join — the k aliased projections
# don't canonicalize to one exchange — so the executor cost is k builds,
# still well inside budgets at this cap); beyond it the hint is omitted
# and Spark plans a regular join, which is the correct shape once the
# sketch itself is shuffle-scale.
_BLOOM_WORDS_BCAST_MAX_ROWS = 8_000_000


def _bloom_probe_words(
    df: DataFrame,
    words: DataFrame,
    key_col: str,
    n_bits: int,
    k: int,
    out_col: str,
    n_words_hint: int | None = None,
) -> DataFrame:
    """Join-transport probe: k left joins on the word index + a JVM bit
    test — zero Python, zero driver state. A missing word means the bit
    was never set (definitely-new); a NULL key yields a NULL verdict,
    bit-identical to the literal transport. ``words`` must carry ONE row
    per w (bloom_build_words guarantees it; aggregate first if merging
    sketches) and should be materialized — the broadcast-or-not decision
    counts it unless the caller passes ``n_words_hint``."""
    n_words_rows = words.count() if n_words_hint is None else n_words_hint
    out = df
    tests = []
    for i, p in enumerate(_bloom_positions(key_col, n_bits, k)):
        out = out.withColumn(f"_bp{i}", p)
        wj = words.select(
            F.col("w").alias(f"_w{i}"), F.col("bits").alias(f"_bits{i}")
        )
        if n_words_rows <= _BLOOM_WORDS_BCAST_MAX_ROWS:
            wj = F.broadcast(wj)
        out = out.join(
            wj,
            F.floor(F.col(f"_bp{i}") / F.lit(64)) == F.col(f"_w{i}"),
            "left",
        )
        tests.append(
            f"(coalesce((shiftright(_bits{i},"
            f" CAST(_bp{i} % 64 AS INT)) & 1), 0) = 1)"
        )
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return out.withColumn(
        out_col,
        F.when(key.isNull(), F.lit(None).cast("boolean")).otherwise(
            F.expr(" AND ".join(tests))
        ),
    ).drop(
        *[c for i in range(k) for c in (f"_bp{i}", f"_w{i}", f"_bits{i}")]
    )


# --- Durable words sketch (the frontier's persisted seen-set) -----------------
#
# A monthly recrawl needs the seen-set sketch to SURVIVE between runs and
# grow incrementally; at 10^9-10^10 bits a dense bitmap can't be JSON'd or
# driver-held, so the durable form is the set-words table itself: parquet
# partitioned by pmod(w, n_parts). Crash-safety comes from never mutating
# committed files: a merge APPENDS its delta rows (Spark's commit protocol
# makes a torn append invisible — uncommitted files stay under _temporary,
# which readers skip), readers bit_or-aggregate per word, and compaction
# writes a fresh words-v{N} directory then atomically FLIPS the meta
# pointer (json tmp + os.replace) — at every instant the pointer names a
# complete directory, so no crash window can lose a set bit, the one
# failure (false negatives) the filter's contract forbids.

_BLOOM_SKETCH_META = "_bloom_sketch.json"


def _bloom_sketch_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, _BLOOM_SKETCH_META)) as fh:
        meta = json.load(fh)
    if meta.get("fmt") != _BLOOM_FMT:
        # a sketch is lossy — it cannot be re-keyed under a new position
        # layout; probing it with mismatched positions could emit a false
        # negative, the one forbidden error class. Refuse loudly.
        raise ValueError(
            f"bloom sketch at {path} was written under position format "
            f"{meta.get('fmt')}, this code is format {_BLOOM_FMT}: rebuild "
            "the sketch from its source keys"
        )
    return meta


def _bloom_sketch_meta_write(path: str, meta: dict) -> None:
    import json
    import os

    target = os.path.join(path, _BLOOM_SKETCH_META)
    tmp = target + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, target)  # the atomic pointer flip


def _parquet_dir_stats(path: str) -> tuple[list[str], int]:
    """(sorted relative parquet file names, exact footer row count) of an
    on-disk parquet directory — one driver walk serving both the
    metadata-count use and the clean-store file-set comparison. Hidden
    dirs/files are skipped like Spark's reader skips them."""
    import os as _os

    import pyarrow.parquet as _pq

    files: list[str] = []
    total = 0
    for root, dirs, fns in _os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in fns:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                full = _os.path.join(root, fn)
                files.append(_os.path.relpath(full, path))
                total += _pq.ParquetFile(full).metadata.num_rows
    files.sort()
    return files, total


def _bloom_sketch_words(
    spark: SparkSession, path: str, meta: dict, materialize: bool = True
):
    """(aggregated one-row-per-w words frame, store row count). The store
    may hold several rows per w (append-only merges); readers fold them
    with the same bit_or the build uses. ``materialize=False`` skips the
    checkpoint for callers that consume the fold exactly once (compact's
    rewrite) — checkpointing there materializes the whole fold a second
    time before the single consumer re-reads it.

    CLEAN-STORE fast path (r12 verdict task 1): ``bloom_sketch_write`` /
    ``compact`` stamp the committed file listing into the meta as
    ``clean_files``; when the store's CURRENT listing still equals that
    stamp, the store provably holds one row per word (committed parquet
    files are immutable, merges only APPEND files — any append breaks the
    equality), so the bit_or fold — and the per-probe job its
    localCheckpoint scheduled — is skipped outright and readers consume
    the raw store. Cleanliness is derived from what is already durable,
    never tracked as separate mutable state: a stale/missing stamp can
    only cost a redundant fold, never skip a needed one."""
    import os

    words_path = os.path.join(path, meta["words_dir"])
    raw = spark.read.parquet(words_path)
    # driver-side footer walk — same number as a metadata-only Spark
    # count, without scheduling a job for it (this runs on every probe
    # and stats-merge, i.e. per micro-batch on a streaming frontier)
    files, n_rows = _parquet_dir_stats(words_path)
    if meta.get("clean_files") == files:
        return raw.select("w", "bits"), n_rows
    # checkpointed by default: the consumer joins against it k times
    # (probe) or feeds a stats join + a rewrite (merge) — fold once
    words = raw.groupBy("w").agg(F.bit_or("bits").alias("bits"))
    if materialize:
        words = words.localCheckpoint()
    return words, n_rows


def _bloom_fresh_words_dir(path: str) -> tuple[str, list[str]]:
    """(next unused ``words-v{N}`` name, existing words-v* dir names).
    Writers must NEVER reuse a directory that exists on disk — the meta
    pointer may name it, and overwriting a live directory in place breaks
    the 'pointer always names a complete directory' invariant."""
    import glob
    import os
    import re

    existing = [
        os.path.basename(d)
        for d in glob.glob(os.path.join(path, "words-v*"))
        if re.fullmatch(r"words-v\d+", os.path.basename(d))
    ]
    nxt = 1 + max((int(d[len("words-v"):]) for d in existing), default=-1)
    return f"words-v{nxt}", existing


def bloom_sketch_write(
    df: DataFrame,
    path: str,
    key_col: str = "url",
    n_bits: int = 4096,
    k: int = 3,
    n_parts: int = 16,
) -> dict:
    """Create (or atomically REPLACE) the durable words sketch from a key
    batch: one aggregation, one partitioned write into a FRESH versioned
    directory, then the meta pointer flips — a rebuild over a live sketch
    never touches the directory the current pointer names, so a crash
    mid-write leaves the old sketch fully readable. Old ``words-v*``
    directories (the flipped-away target plus any orphans from earlier
    crashes) are removed after the flip. The meta pins (n_bits, k, fmt,
    n_parts) — the parameters under which positions are comparable; every
    later merge/probe validates them before touching the table. Returns
    ``{"words": n}``."""
    import os
    import shutil

    # materialize=False: the ONLY consumer is the parquet write below
    # (the returned count reads the committed footers) — the build's
    # checkpoint would compute the whole aggregation once into block
    # storage just for the write to re-read it
    words = bloom_build_words(
        df, key_col, n_bits, k, n_parts=n_parts, materialize=False
    )
    words_dir, old_dirs = _bloom_fresh_words_dir(path)
    words.write.mode("overwrite").partitionBy("wpart").parquet(
        os.path.join(path, words_dir)
    )
    # count the COMMITTED files' footers instead of re-running the whole
    # words aggregation (words was never cached — a .count() here would
    # recompute the build from df); the same walk yields the file listing
    # stamped below as clean_files (one row per w by construction — the
    # clean-store fast path in _bloom_sketch_words)
    files, n_words = _parquet_dir_stats(os.path.join(path, words_dir))
    _bloom_sketch_meta_write(
        path,
        {
            "n_bits": n_bits,
            "k": k,
            "fmt": _BLOOM_FMT,
            "n_parts": n_parts,
            "words_dir": words_dir,
            "clean_files": files,
        },
    )
    for d in old_dirs:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return {"words": n_words}


def bloom_sketch_merge(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    key_col: str = "url",
    compute_stats: bool = True,
) -> dict:
    """OR a key batch into the durable sketch by APPENDING its delta
    words — committed files are never touched, so there is no crash
    window that can drop a set bit (a torn append is invisible behind
    Spark's commit protocol, and re-running it is free because bit_or is
    idempotent). Returns ``{"new_words", "changed_words"}`` where
    changed_words counts words the delta contributes at least one NEW
    bit to (new words included) — 0 on an exact replay, the idempotency
    pin, which also skips the append entirely. Computing those stats
    costs a fold of the whole words table; callers that only need the
    OR-in (a streaming frontier appending rows it already knows are
    novel) pass ``compute_stats=False`` for a true O(delta) merge that
    never reads the store — it returns ``{"appended_words": n}`` and
    relies on bit_or folding to absorb any replayed duplicates.
    Appended duplicates fold at read time either way; run
    :func:`bloom_sketch_compact` periodically to keep the store at one
    row per word."""
    import os

    meta = _bloom_sketch_meta(path)
    # CHECKPOINTED delta (r13, measured): a lazy delta consumed by the
    # partitioned APPEND + a second action (count / stats join) ran ~2x
    # slower than checkpoint-first on BOTH merge paths (interleaved
    # in-session A/B, 3k-row batches vs a 2^20-bit/16-part store:
    # no-stats 1.51 s lazy+persist vs 0.67 s ckpt; stats 1.53 vs 0.82) —
    # unlike sketch write/compact, whose single overwrite-write consumer
    # IS faster fed lazily (0.63 vs 0.69 / 0.82 vs 0.82). The r12 code
    # intended lazy here but shipped an ignored flag, so its measured
    # numbers were always the checkpoint's; this pins the faster shape
    # deliberately and drops the now-redundant persist().
    delta = bloom_build_words(
        df,
        key_col,
        meta["n_bits"],
        meta["k"],
        n_parts=meta["n_parts"],
    )
    if not compute_stats:
        delta.write.mode("append").partitionBy("wpart").parquet(
            os.path.join(path, meta["words_dir"])
        )
        return {"appended_words": delta.count()}
    existing, _ = _bloom_sketch_words(spark, path, meta)
    j = delta.alias("d").join(
        existing.select(
            F.col("w").alias("ew"), F.col("bits").alias("ebits")
        ),
        F.col("d.w") == F.col("ew"),
        "left",
    )
    stats = j.agg(
        F.count_if(F.col("ew").isNull()).alias("new_words"),
        F.count_if(
            F.col("ew").isNull()
            | (F.col("ebits").bitwiseOR(F.col("d.bits")) != F.col("ebits"))
        ).alias("changed_words"),
    ).collect()[0]
    if stats["changed_words"] == 0:
        return {"new_words": 0, "changed_words": 0}
    delta.write.mode("append").partitionBy("wpart").parquet(
        os.path.join(path, meta["words_dir"])
    )
    return {
        "new_words": stats["new_words"],
        "changed_words": stats["changed_words"],
    }


def bloom_sketch_compact(spark: SparkSession, path: str) -> dict:
    """Fold appended merge deltas back to one row per word: write the
    aggregated words to a fresh ``words-v{N+1}`` directory, flip the meta
    pointer atomically, then drop the old directory. A crash before the
    flip leaves the pointer on the old (complete) directory; after it, on
    the new one — no intermediate is ever visible. Returns
    ``{"words", "rows_folded"}``."""
    import os
    import shutil

    meta = _bloom_sketch_meta(path)
    # materialize=False: the fold's only consumer is the rewrite below
    # (word/row stats come from parquet footers, not jobs)
    words, n_rows = _bloom_sketch_words(spark, path, meta, materialize=False)
    new_dir, old_dirs = _bloom_fresh_words_dir(path)
    compacted = words.withColumn(
        "wpart", F.pmod(F.col("w"), F.lit(meta["n_parts"])).cast("int")
    )
    compacted.write.mode("overwrite").partitionBy("wpart").parquet(
        os.path.join(path, new_dir)
    )
    files, n_words = _parquet_dir_stats(os.path.join(path, new_dir))
    # a freshly compacted store is clean by construction — stamp its
    # listing so probes skip the fold until the next merge appends
    _bloom_sketch_meta_write(
        path, {**meta, "words_dir": new_dir, "clean_files": files}
    )
    for d in old_dirs:  # the flipped-away dir + any crash orphans
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return {"words": n_words, "rows_folded": n_rows - n_words}


def bloom_sketch_probe(
    df: DataFrame,
    spark: SparkSession,
    path: str,
    key_col: str = "url",
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Probe keys against the durable sketch: reads the words table,
    folds any appended duplicates, and runs the join transport under the
    META's (n_bits, k) — the caller cannot pass mismatched parameters,
    the store pins them."""
    meta = _bloom_sketch_meta(path)
    words, n_rows = _bloom_sketch_words(spark, path, meta)
    return _bloom_probe_words(
        df,
        words,
        key_col,
        meta["n_bits"],
        meta["k"],
        out_col,
        # distinct words <= store rows: an overestimate can only skip the
        # broadcast hint, never force an oversized one
        n_words_hint=n_rows,
    )


# Above this size the bitmap stops riding the plan as an array literal and
# is probed as set words by the join transport instead: a plan with
# millions of Literal children is a construction/analysis scale-killer
# long before the data is (measured: each py4j-built literal costs ~2-3 ms
# of plan construction, so even 2048 words burn ~5 s before a row moves).
_BLOOM_LITERAL_MAX_BITS = 1 << 15


def bloom_probe(
    df: DataFrame,
    bitmap,  # numpy int64 array from bloom_build, or any int sequence
    key_col: str = "url",
    n_bits: int = 4096,
    k: int = 3,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """Probe a built Bloom filter: appends ``out_col`` (true = possibly
    seen, false = DEFINITELY new). The probe is a scan plus, above the
    literal ceiling, k joins against the set words — with one of two
    bitmap transports:

    - array, ``n_bits <= _BLOOM_LITERAL_MAX_BITS`` (32 Ki bits / 512
      words): the bitmap enters the plan as an array literal and each
      key tests k bits with element_at + shiftright, pure codegen;
    - a ``DataFrame`` sketch (from :func:`bloom_build_words` — the
      frontier-scale form), or a dense array above the literal ceiling,
      which is first converted to its set words (one Arrow-batched
      ``createDataFrame`` of the nonzero slice, local-checkpointed): k
      JVM-side left joins on the word index + a codegen bit test, zero
      Python in the probe, zero driver state after the conversion.

    A dense array is never shipped as a Python broadcast: a pickled
    bitmap is deserialized into EVERY Python worker process (at 32
    workers/host a 1 GiB bitmap costs 32 GiB of RAM — measured 324 s vs
    12 s for the joins at 2^33 bits), and keeping broadcasts alive for
    lazy plans needs process-global state whose eviction fails those
    plans at action time. The conversion runs two jobs of its own per
    call (its checkpoint and the words broadcast; SCALE.md, round-11
    Bloom section), so a caller that re-probes one large sketch should
    pass a words DataFrame from :func:`bloom_build_words` instead.

    In every transport the k bit POSITIONS are computed JVM-side by the
    same md5 codegen (:func:`_bloom_positions`), so both are
    bit-identical, including NULL key → NULL verdict.

    The contract (zero false negatives) is what makes the filter safe as
    a frontier pre-filter: 'new' rows are exactly right, 'seen' rows go
    to the exact path only if a re-check matters."""
    if isinstance(bitmap, DataFrame):
        return _bloom_probe_words(df, bitmap, key_col, n_bits, k, out_col)
    if n_bits <= _BLOOM_LITERAL_MAX_BITS:
        pos = _bloom_positions(key_col, n_bits, k)
        out = df.withColumn(
            # int(w): py4j literals must be Python ints, not numpy scalars
            "_bm", F.array(*[F.lit(int(w)).cast("bigint") for w in bitmap])
        )
        tests = []
        for i, p in enumerate(pos):
            out = out.withColumn(f"_bp{i}", p)
            tests.append(
                f"(shiftright(element_at(_bm, CAST(_bp{i} / 64 AS INT) + 1),"
                f" CAST(_bp{i} % 64 AS INT)) & 1) = 1"
            )
        return out.withColumn(out_col, F.expr(" AND ".join(tests))).drop(
            "_bm", *[f"_bp{i}" for i in range(k)]
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    bm = np.asarray(bitmap, dtype=np.int64)
    nz = np.flatnonzero(bm)
    spark = df.sparkSession or SparkSession.getActiveSession()
    words = spark.createDataFrame(
        pd.DataFrame({"w": nz.astype(np.int64), "bits": bm[nz]}),
        # explicit schema: an ALL-ZERO bitmap yields an empty frame, which
        # schema inference rejects (verdicts must be all-false, not a crash)
        schema="w bigint, bits bigint",
    ).localCheckpoint()
    return _bloom_probe_words(
        df, words, key_col, n_bits, k, out_col, n_words_hint=nz.size
    )


# _parquet_dir_rows: above this many files the single-threaded driver
# footer walk stops beating one distributed metadata-count job — Spark
# spreads the footer reads across executors and the per-job launch cost
# (~0.1 s locally) amortizes over thousands of footer opens. The gate
# stores stay 1-2 orders of magnitude below this, so the driver walk (no
# job per micro-batch) remains the frontier/delete hot path.
_DIR_ROWS_MAX_FILES = 4096


def _parquet_dir_rows(path: str) -> int:
    """Exact row count of an on-disk parquet directory, read from the file
    footers on the DRIVER. ``spark.read.parquet(path).count()`` resolves to
    the same footer-metadata walk, but schedules a job for it — per-batch
    launch overhead the frontier loop pays on EVERY trigger. Hidden dirs
    (``_temporary``, ``.``-prefixed) are skipped like Spark's reader skips
    them, so a torn concurrent write is invisible here too.

    The walk is O(#files) on ONE driver thread, so past
    ``_DIR_ROWS_MAX_FILES`` files (a delete over a large partitioned
    table — r12 verdict) it falls back to the distributed metadata count,
    which reads the same footers executor-side: one job, identical
    number. Below the threshold the driver walk wins by exactly that
    job's launch cost."""
    import os as _os

    import pyarrow.parquet as _pq

    paths: list[str] = []
    for root, dirs, files in _os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                paths.append(_os.path.join(root, fn))
    if len(paths) > _DIR_ROWS_MAX_FILES:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            # metadata-only count: parquet scans with no required columns
            # resolve from footer row counts, never data pages
            return spark.read.parquet(path).count()
    return sum(_pq.ParquetFile(p).metadata.num_rows for p in paths)


def stream_url_frontier(
    stream_urls: DataFrame,
    store_path: str,
    url_col: str = "url",
    n_bits: int = 4096,
    k: int = 3,
    checkpoint: str | None = None,
    sketch_store: str | None = None,
):
    """Streaming URL-frontier maintenance — the crawl-scheduler composition
    of this module's pieces: each micro-batch of discovered URLs is
    CANONICALIZED (:func:`~etl_lala_spark.functions.scalars.canonicalize_url`),
    probed against a Bloom cache of the seen set, and only genuinely novel
    canonical URLs are appended to the frontier store (one parquet row per
    URL with the batch id that first saw it). Invalid URLs (NULL canonical)
    are dropped — a malformed link can't enter the frontier.

    Exactly-once discipline (reference T5/T6 family, same guards as
    ``sinks/writer.py:maintain_summary``):
    - novelty is decided by an anti-join against the STORE (the exact
      truth); the Bloom bitmap only PRUNES that join — rows the filter
      calls definitely-new skip the store scan entirely, rows it calls
      maybe-seen take the exact path, so a false positive costs one probe,
      never a lost URL, and an at-least-once batch replay appends nothing.
    - the bitmap is a CACHE with a self-healing validity check: its meta
      records the store row count it was built from; on each batch, if the
      count disagrees with the store (a crash landed between store append
      and bitmap update), the batch falls back to the exact path for ALL
      rows and the bitmap is rebuilt — store-first write ordering plus
      rebuild-on-mismatch means a stale bitmap can delay pruning but never
      drop or duplicate a URL.

    Scale: per batch one codegen canonicalization + one bitmap probe
    (no-join scan) + an anti-join only for the maybe-seen slice; the store
    append is novel-rows-sized. The default JSON-cached bitmap is O(n_bits)
    driver state — right for small/medium frontiers; pass ``sketch_store``
    to back the cache with the DURABLE words sketch instead
    (:func:`bloom_sketch_write`/``merge``/``probe``): the seen-set sketch
    then never exists as one dense object anywhere, refreshes by
    append-only O(novel) merge, and carries the same store-count validity
    check (a crash between store append and sketch merge invalidates the
    count and forces exact-path + rebuild — never a dropped or duplicated
    URL). That is the 10^9–10^10-bit frontier shape.
    Returns the started StreamingQuery."""
    import json as _json
    import os as _os

    from etl_lala_spark.functions.scalars import canonicalize_url

    bloom_meta = store_path.rstrip("/") + "._bloom.json"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        canon = (
            batch_df.select(canonicalize_url(F.col(url_col)).alias("url"))
            .filter(F.col("url").isNotNull())
            .dropDuplicates(["url"])
        )
        store_exists = _os.path.isdir(store_path)
        # driver-side footer walk — same number as a Spark metadata count,
        # minus one job launch per micro-batch (r11 verdict: the per-batch
        # count was a slowly degrading driver cost on long frontiers)
        store_rows = _parquet_dir_rows(store_path) if store_exists else 0
        bitmap = None
        cache_valid = False
        if store_exists and sketch_store is not None:
            try:
                smeta = _bloom_sketch_meta(sketch_store)
                # same self-heal contract as the JSON cache: a count
                # mismatch (crash between store append and sketch merge)
                # or a foreign position format forces exact-path + rebuild
                cache_valid = smeta.get("store_rows") == store_rows
            except (OSError, ValueError):
                cache_valid = False
        elif store_exists and _os.path.exists(bloom_meta):
            with open(bloom_meta) as fh:
                meta = _json.load(fh)
            # a bitmap persisted under another position-hash format must
            # rebuild, never probe: the false negative a stale-format probe
            # could emit would APPEND a seen URL again
            if (
                meta["store_rows"] == store_rows
                and meta.get("fmt") == _BLOOM_FMT
            ):
                bitmap = meta["bitmap"]  # cache valid: store-count matches
                cache_valid = True
        if cache_valid:
            probed = (
                bloom_sketch_probe(canon, spark, sketch_store, key_col="url")
                if sketch_store is not None
                else bloom_probe(canon, bitmap, key_col="url", n_bits=n_bits, k=k)
            )
            # ONE conditional anti-join replaces the old filter-split +
            # union (r13): a row survives unless the store holds its url
            # AND the filter said maybe-seen — definitely-new rows pass
            # without a store comparison, maybe-seen rows take the exact
            # path, the same pruning contract as the split. The probe
            # subtree now appears ONCE in the plan, so the per-batch
            # localCheckpoint that pinned it against double evaluation
            # (and cost a scheduled job per trigger) is gone; the
            # read-store-then-write-store pin is novel's own checkpoint
            # below.
            store = spark.read.parquet(store_path).select(
                F.col("url").alias("_seen_url")
            )
            novel = probed.join(
                store,
                (F.col("url") == F.col("_seen_url")) & F.col("maybe_seen"),
                "left_anti",
            ).drop("maybe_seen")
        elif store_exists:
            # no (valid) bitmap: exact path for every row, then rebuild
            novel = canon.localCheckpoint().join(
                spark.read.parquet(store_path).select("url"),
                "url",
                "left_anti",
            )
        else:
            novel = canon
        novel = novel.localCheckpoint()  # one computation: count + write
        n_novel = novel.count()
        if n_novel:
            novel.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(store_path)
        elif not _os.path.isdir(store_path):
            return  # first batch had no valid URLs: nothing to describe
        if cache_valid and n_novel == 0:
            return  # cache valid, store unchanged: nothing to refresh
        # store-first ordering: refresh the cache only AFTER the append
        # lands (a lost meta write then only costs a validity-check
        # rebuild; an over-eager cache can't exist). With a valid cache
        # the refresh is INCREMENTAL — OR the novel keys' bits in, no
        # store scan; only an invalidated cache pays the full rebuild.
        if sketch_store is not None:
            if cache_valid:
                # rows reaching here are PROVEN novel (exact anti-join),
                # so the stats fold is pure cost: a no-stats merge is a
                # true O(novel) append that never reads the store
                bloom_sketch_merge(
                    spark,
                    sketch_store,
                    novel,
                    key_col="url",
                    compute_stats=False,
                )
            else:
                # rebuild under the sketch's own PINNED parameters when a
                # fmt-valid meta survives (only its count stamp is stale);
                # re-keying a 2^33-bit sketch at this function's default
                # n_bits would silently saturate it. Args apply only to a
                # brand-new or foreign-format store.
                try:
                    pinned = _bloom_sketch_meta(sketch_store)
                except (OSError, ValueError):
                    pinned = {"n_bits": n_bits, "k": k, "n_parts": 16}
                bloom_sketch_write(
                    spark.read.parquet(store_path).select("url"),
                    sketch_store,
                    key_col="url",
                    n_bits=pinned["n_bits"],
                    k=pinned["k"],
                    n_parts=pinned["n_parts"],
                )
            # count stamp LAST: a crash anywhere above leaves a count
            # mismatch, which the next batch heals by exact-path + rebuild
            smeta = _bloom_sketch_meta(sketch_store)
            _bloom_sketch_meta_write(
                sketch_store, {**smeta, "store_rows": store_rows + n_novel}
            )
            return
        if bitmap is not None:
            import numpy as _np

            delta = bloom_build(novel, key_col="url", n_bits=n_bits, k=k)
            new_bitmap = _np.asarray(bitmap, dtype=_np.int64) | delta
        else:
            new_bitmap = bloom_build(
                spark.read.parquet(store_path).select("url"),
                key_col="url",
                n_bits=n_bits,
                k=k,
            )
        tmp = bloom_meta + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(
                {
                    "store_rows": store_rows + n_novel,
                    "fmt": _BLOOM_FMT,
                    "bitmap": new_bitmap.tolist(),
                },
                fh,
            )
        _os.replace(tmp, bloom_meta)

    w = stream_urls.writeStream.foreachBatch(process).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


# --- Outlink extraction + URL resolution (crawl discovery) --------------------


_HREF_RE = r"""(?i)<a\s[^>]*href\s*=\s*["']([^"']*)["']"""


def extract_links(
    df: DataFrame, html_col: str = "html", base_col: str = "url"
) -> DataFrame:
    """One row per outgoing link of every page — the URL-DISCOVERY stage
    that closes the crawl loop (discover here → canonicalize → robots
    filter → Bloom frontier → fetch → WARC → extract). Keeps every input
    column and appends ``link``, the href resolved to an ABSOLUTE URL
    against the page's base URL per RFC 3986's reference resolution:

    - absolute ``http(s)://…`` kept as-is; every other scheme
      (``mailto:``, ``javascript:``, ``data:`` …) is dropped — a crawler
      can't fetch them;
    - protocol-relative ``//host/path`` takes the base's scheme;
    - root-relative ``/path`` joins the base's origin;
    - query-only ``?q`` replaces the base's query;
    - relative paths join the base's directory, with dot-segment removal
      (``.`` / ``..``) applied as a bounded rewrite (8 passes — deeper
      ``../`` chains than 8 are pathological in real markup and resolve
      conservatively toward the root);
    - fragment-only / empty hrefs are dropped; ``&amp;`` entities in
      hrefs are decoded (HTML attribute values are entity-encoded).

    Everything is codegen (regexp_extract_all + explode + when-chain);
    pair with ``canonicalize_url`` downstream for dedup keys. At 100 TB
    this is one scan with a one-to-many explode — no shuffle, no Python.
    """
    href = F.explode(
        F.regexp_extract_all(F.col(html_col), F.lit(_HREF_RE), F.lit(1))
    ).alias("_href")
    out = df.select(*df.columns, href).withColumn(
        "_href", F.replace(F.col("_href"), F.lit("&amp;"), F.lit("&"))
    )
    resolved = _resolve_href(F.col("_href"), F.col(base_col))
    return (
        out.withColumn("link", resolved)
        .filter(F.col("link").isNotNull())
        .drop("_href")
    )


def _resolve_href(h: Column, base: Column) -> Column:
    """RFC 3986 reference resolution of one href against a base URL (the
    when-chain shared by :func:`extract_links` and
    :func:`extract_anchors`); NULL for unfetchable or empty references."""
    scheme = F.regexp_extract(base, r"^(https?):", 1)
    origin = F.regexp_extract(base, r"^(https?://[^/?#]+)", 1)
    # base directory: strip query/fragment, then everything after the last
    # '/' of the path; a bare origin gets '/'
    base_nofrag = F.regexp_replace(base, r"[?#].*$", "")
    base_dir = F.when(
        F.regexp_extract(base_nofrag, r"^https?://[^/]+(/.*)$", 1) == "",
        F.concat(origin, F.lit("/")),
    ).otherwise(F.regexp_replace(base_nofrag, r"[^/]*$", ""))
    resolved = (
        F.when(h.rlike(r"^https?://"), h)
        .when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), F.lit(None))  # other scheme
        .when(h.rlike(r"^//"), F.concat(scheme, F.lit(":"), h))
        .when(h.rlike(r"^/"), F.concat(origin, h))
        .when(h.rlike(r"^\?"), F.concat(F.regexp_replace(base_nofrag, r"\?.*$", ""), h))
        .when((h == "") | h.rlike(r"^#"), F.lit(None))
        .otherwise(F.concat(base_dir, h))
    )
    # bounded dot-segment removal on the PATH (never touches the authority:
    # the pattern requires a '/' before the segment and the origin has no
    # slash after its host until the path starts)
    for _ in range(8):
        resolved = F.regexp_replace(
            F.regexp_replace(resolved, r"(?<=//[^/]{1,256}/)\.\./", ""),
            r"/(\./)+", "/",
        )
        resolved = F.regexp_replace(resolved, r"/[^/.][^/]*/\.\./", "/")
        resolved = F.regexp_replace(resolved, r"/\.(/|$)", "/")
    return resolved

# --- CDX / Common Crawl index selection ---------------------------------------
#
# Common Crawl publishes a CDX(J) index alongside its WARCs: one line per
# capture, "<SURT key> <14-digit timestamp> <JSON>", where the JSON names the
# capture's url/mime/status and the (filename, offset, length) byte range of
# its WARC record. The standard access pattern (cdx_toolkit, cc-index) is:
# parse the index, SELECT the captures you want (dedup to the newest good
# capture per URL key), and fetch only those byte ranges — never the whole
# crawl. These three stages are the missing front-of-the-front-door above
# sources/warc.py's record extraction.

#: Capture metadata carried by a CDXJ line's JSON payload. Numeric fields
#: arrive as JSON strings in the real index; cast after parse.
_CDXJ_JSON_SCHEMA = (
    "url string, mime string, status string, digest string,"
    " length string, offset string, filename string, redirect string"
)


def parse_cdxj(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse CDXJ index lines into typed capture rows — PERMISSIVE, in the
    repo's R5 structured-error-stream idiom: a line that is not
    ``<surt> <14-digit ts> <json object>`` (or whose JSON fails to parse /
    lacks a url) keeps one row with data columns NULL and ``_error`` set,
    so a corrupt index shard surfaces as data instead of killing the job.

    Output: (surt, ts, url, mime, status, digest, length, offset,
    filename, redirect, _error) — ``redirect`` is the Location target a
    3xx capture carries in the real index (NULL otherwise), the input to
    :func:`cdx_redirect_resolve`. Pure codegen — regexp_extract for the three fields,
    ``from_json`` for the payload; parsing a multi-TB index is one scan,
    no shuffle, no Python."""
    reserved = {
        "surt", "ts", "url", "mime", "digest", "filename", "status",
        "length", "offset", "redirect", "_error", "_surt", "_ts", "_j",
    }
    # line_col gets NO exemption: the input line column is carried through
    # to the output, so naming it after a reserved output (line_col="url")
    # would silently produce duplicate columns instead of raising
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"parse_cdxj: input columns {sorted(clash)} collide with the "
            "output/working columns; rename them first"
        )
    line = F.col(line_col)
    surt = F.regexp_extract(line, r"^(\S+) \d{14} \{", 1)
    ts = F.regexp_extract(line, r"^\S+ (\d{14}) \{", 1)
    js = F.regexp_extract(line, r"^\S+ \d{14} (\{.*\})\s*$", 1)
    parsed = df.select(
        *df.columns,
        F.when(surt != "", surt).alias("_surt"),
        F.when(ts != "", ts.cast("bigint")).alias("_ts"),
        F.when(js != "", F.from_json(js, _CDXJ_JSON_SCHEMA)).alias("_j"),
    )
    j = F.col("_j")
    err = (
        F.when(F.col("_surt").isNull() | F.col("_ts").isNull(), "malformed_line")
        .when(j.isNull() | j["url"].isNull(), "bad_json")
    )
    return parsed.select(
        *df.columns,
        F.when(err.isNull(), F.col("_surt")).alias("surt"),
        F.when(err.isNull(), F.col("_ts")).alias("ts"),
        *[
            F.when(err.isNull(), j[f]).alias(f)
            for f in ("url", "mime", "digest", "filename", "redirect")
        ],
        F.when(err.isNull(), j["status"].cast("int")).alias("status"),
        F.when(err.isNull(), j["length"].cast("bigint")).alias("length"),
        F.when(err.isNull(), j["offset"].cast("bigint")).alias("offset"),
        err.alias("_error"),
    )


def cdx_index_lines(records: DataFrame, file_col: str = "file") -> DataFrame:
    """Generate CDXJ index lines FROM crawl records — the WRITER half of
    the index-first pipeline (:func:`parse_cdxj` is the reader; with this
    the loop closes: crawl → index → select → ranged fetch, never
    re-scanning a WARC). One line per HTTP response record of
    :func:`~etl_lala_spark.sources.warc.extract_warc_records` output:
    ``<surt> <ts14> <json>`` where

    - ``surt`` is :func:`~etl_lala_spark.functions.scalars.surt_key` of
      the target URI (the same canonicalization
      :func:`cdx_redirect_resolve`'s convention bridge normalizes
      through, so produced and consumed keys always join);
    - ``ts`` is the 14-digit digit-fold of ``WARC-Date``;
    - the json carries url, parameter-stripped lowercase mime, status,
      a ``sha1:<hex>`` digest of the DECODED payload (hex, not Common
      Crawl's base32 — the convention is declared here and both halves
      of this repo's loop share it), the record's own gzip member extent
      as offset/length (exactly the bytes
      :func:`~etl_lala_spark.sources.fetch.fetch_ranges` moves), the
      basename filename, and — for 3xx captures — the Location target
      (:func:`cdx_redirect_resolve`'s input; omitted otherwise).

    Pure codegen over the record frame: a 100 TB crawl emits its index in
    the same scan that extracted it, no shuffle; writing it surt-sorted
    (the CDX file convention) is the caller's one orderBy."""
    from etl_lala_spark.functions.scalars import surt_key

    resp = records.filter(
        (F.col("warc_type") == "response") & F.col("http_status").isNotNull()
    )
    ts14 = F.regexp_replace(F.col("warc_date"), r"[^0-9]", "").substr(1, 14)
    mime = F.lower(
        F.trim(F.regexp_extract(F.col("http_content_type"), r"^[^;]*", 0))
    )
    redirect = F.when(
        (F.col("http_status") >= 300) & (F.col("http_status") < 400),
        F.nullif(
            F.regexp_extract(
                F.col("http_headers"), r"(?im)^location:\s*(.+?)\s*$", 1
            ),
            F.lit(""),
        ),
    )
    j = F.to_json(
        F.struct(
            F.col("target_uri").alias("url"),
            mime.alias("mime"),
            F.col("http_status").cast("string").alias("status"),
            F.concat(F.lit("sha1:"), F.sha1(F.col("payload"))).alias("digest"),
            F.col("member_bytes").cast("string").alias("length"),
            F.col("member_offset").cast("string").alias("offset"),
            F.element_at(F.split(F.col(file_col), "/"), -1).alias("filename"),
            redirect.alias("redirect"),
        )
    )
    key = surt_key(F.col("target_uri"))
    return resp.select(
        key.alias("surt"),
        ts14.cast("bigint").alias("ts"),
        F.concat(key, F.lit(" "), ts14, F.lit(" "), j).alias("line"),
    )


def select_captures(
    parsed: DataFrame,
    statuses: tuple[int, ...] = (200,),
    mimes: tuple[str, ...] = ("text/html",),
) -> DataFrame:
    """Capture selection: keep well-formed captures matching ``statuses``
    and ``mimes``, then dedup each SURT key to its NEWEST capture
    (timestamp desc, offset desc tiebreak — fully deterministic even if an
    index lists one capture twice). One filter + one map-side-combinable
    ``max_by``-shaped hash agg on the key; appends ``n_captures`` (how
    many good captures the key had — the recrawl-frequency signal). The
    index is the only thing shuffled, and only once, at key grain."""
    good = parsed.filter(
        F.col("_error").isNull()
        & F.col("status").isin(*statuses)
        & F.col("mime").isin(*mimes)
    )
    pick = F.max(
        F.struct("ts", "offset", "url", "mime", "status", "digest", "length", "filename")
    ).alias("_pick")
    return (
        good.groupBy("surt")
        .agg(pick, F.count(F.lit(1)).alias("n_captures"))
        .select(
            "surt",
            F.col("_pick.ts").alias("ts"),
            F.col("_pick.url").alias("url"),
            F.col("_pick.mime").alias("mime"),
            F.col("_pick.status").alias("status"),
            F.col("_pick.digest").alias("digest"),
            F.col("_pick.length").alias("length"),
            F.col("_pick.offset").alias("offset"),
            F.col("_pick.filename").alias("filename"),
            "n_captures",
        )
    )


def cdx_fetch_plan(selected: DataFrame) -> DataFrame:
    """Roll selected captures up to per-WARC-file fetch work units:
    (filename, n_records, total_bytes, min_offset, max_offset). This is
    the unit list a range-fetching stage schedules (sources/fetch.py one
    level down) — records of one file fetch together, so a 100 TB crawl
    pull is (files touched) × one ranged read, not (captures) × one HTTP
    round trip. One hash agg, broadcast-sized output."""
    return (
        selected.groupBy("filename")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("length").alias("total_bytes"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
        )
    )


# --- Domain-blocklist filtering (C4 / UT1 / FineWeb cleaning stage) ------------


def domain_blocklist_filter(
    urls: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """Flag documents whose URL's registrable domain is on a blocklist —
    the C4/FineWeb adult-and-spam domain filter (UT1 blacklist family).
    Appends ``host``, ``reg_domain``
    (:func:`~etl_lala_spark.functions.scalars.registered_domain`) and
    ``blocked_domain`` (boolean; an unparseable URL is NOT blocked — it
    should fail the URL-validity filter, not impersonate a listed
    domain). The blocklist joins BROADCAST at registrable-domain grain
    (UT1 is ~4M rows — megabytes), so the corpus is never shuffled:
    filtering 100 TB is one scan through one broadcast hash join."""
    from etl_lala_spark.functions.scalars import registered_domain

    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    bl = F.broadcast(
        blocklist.select(
            F.lower(F.col(domain_col)).alias("_bl_domain"),
            F.lit(True).alias("_bl_hit"),
        ).dropDuplicates(["_bl_domain"])
    )
    flagged = (
        urls.withColumn("host", host)
        .withColumn("reg_domain", registered_domain(F.col("host")))
        .join(bl, F.col("reg_domain") == F.col("_bl_domain"), "left")
    )
    return flagged.withColumn(
        "blocked_domain", F.coalesce(F.col("_bl_hit"), F.lit(False))
    ).drop("_bl_domain", "_bl_hit")


# --- Sitemap parsing (crawl seed discovery) ------------------------------------


def _xml_entity_decode(col: Column) -> Column:
    """Decode the five predefined XML entities. ``&amp;`` decodes LAST so
    ``&amp;lt;`` correctly yields the literal text ``&lt;``."""
    out = col
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def _sitemap_field(frag: Column, tag: str) -> Column:
    """Text content of ``<tag>`` inside an entry fragment: CDATA content
    is taken verbatim (the XML rule — CDATA is never entity-decoded),
    plain content is entity-decoded; missing/empty → NULL."""
    raw = F.trim(
        F.regexp_extract(
            frag,
            f"(?s)<(?:\\w+:)?{tag}(?:\\s[^>]*)?>(.*?)</(?:\\w+:)?{tag}\\s*>",
            1,
        )
    )
    cdata = F.regexp_extract(raw, r"(?s)^<!\[CDATA\[(.*)\]\]>$", 1)
    val = F.when(cdata != "", cdata).otherwise(_xml_entity_decode(raw))
    return F.when(val != "", val)


def parse_sitemap(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Parse sitemap XML (sitemaps.org protocol) into one row per entry —
    the crawl's SEED-DISCOVERY stage (robots.txt points at sitemaps;
    sitemaps enumerate the URLs worth fetching). Appends ``kind``
    (``urlset`` for page lists, ``sitemapindex`` for index files whose
    locs are more sitemaps — the caller loops those back through fetch),
    ``entry_index``, ``loc``, ``lastmod`` (string, NULL when absent) and
    ``priority`` (double, NULL when absent or non-numeric).

    Deliberately REGEXP-based, not ``F.xpath_*``: Hive's xpath UDF throws
    (aborting the whole job) on the first malformed fragment, and
    web-scale sitemap corpora always contain bare ampersands, truncated
    files, and stray markup — one bad row must not kill a 100 TB pass.
    The tolerant parse handles namespace prefixes on roots, entries, AND
    fields (``<sm:url><sm:loc>…`` matches by local tag throughout),
    entity-encoded and CDATA locs (CDATA verbatim per the XML rule,
    plain text entity-decoded), and yields NULL fields instead of errors
    elsewhere. Pure codegen: one scan + one-to-many explode, no
    shuffle, no Python."""
    kind = F.when(
        F.col(xml_col).rlike(r"(?s)<\s*(\w+:)?sitemapindex[\s>]"),
        F.lit("sitemapindex"),
    ).otherwise(F.lit("urlset"))
    frags = F.regexp_extract_all(
        F.col(xml_col),
        F.lit(
            r"(?s)<(?:\w+:)?(?:url|sitemap)(?:\s[^>]*)?>"
            r".*?</(?:\w+:)?(?:url|sitemap)\s*>"
        ),
        F.lit(0),
    )
    out = df.select(
        *df.columns,
        kind.alias("kind"),
        F.posexplode(frags).alias("entry_index", "_frag"),
    )
    prio = _sitemap_field(F.col("_frag"), "priority")
    return out.select(
        *df.columns,
        "kind",
        "entry_index",
        _sitemap_field(F.col("_frag"), "loc").alias("loc"),
        _sitemap_field(F.col("_frag"), "lastmod").alias("lastmod"),
        F.when(prio.rlike(r"^[0-9]*\.?[0-9]+$"), prio.cast("double")).alias(
            "priority"
        ),
    )


def cdx_snapshot_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Recrawl delta between two capture-selection snapshots
    (:func:`select_captures` outputs): per SURT key, ``change`` is
    ``added`` / ``vanished`` / ``changed`` (content digest differs) /
    ``unchanged``. The incremental-crawl planning stage: feeding only the
    added+changed slice into :func:`cdx_fetch_plan` turns a monthly
    100 TB refetch into a delta-sized one. One key-grain full-outer join
    — both sides are already deduped to one row per key, so the join is
    shuffle-bounded by the KEY space, never by captures."""
    o = old.select(
        "surt",
        F.col("ts").alias("old_ts"),
        F.col("digest").alias("old_digest"),
    )
    n = new.select(
        "surt",
        F.col("ts").alias("new_ts"),
        F.col("digest").alias("new_digest"),
    )
    change = (
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "vanished")
        .when(F.col("old_digest") != F.col("new_digest"), "changed")
        .otherwise("unchanged")
    )
    return o.join(n, "surt", "full_outer").select(
        "surt", change.alias("change"),
        "old_ts", "new_ts", "old_digest", "new_digest",
    )


def politeness_waves(
    frontier: DataFrame,
    per_host_per_wave: int = 1,
    url_col: str = "url",
) -> DataFrame:
    """Assign each frontier URL a politeness WAVE — the crawl-scheduling
    step between frontier dedup and fetch: a polite crawler hits one host
    at most ``per_host_per_wave`` times per scheduling round, so wave k
    holds at most that many URLs of any single host and the fetcher
    simply iterates waves. Appends ``host``, ``host_rank`` (deterministic
    per-host order: canonical URL asc) and ``wave`` (0-based). Hosts are
    independent, so the ONLY shuffle is the per-host window partition —
    the natural key distribution of a crawl (many hosts, bounded pages
    each); a mega-host skews its partition, which is exactly the host a
    polite schedule serializes anyway (its depth, not the cluster, is the
    bottleneck — wave count = pages/host ÷ rate by design)."""
    from pyspark.sql import Window as W

    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    w = W.partitionBy("host").orderBy(url_col)
    return (
        frontier.withColumn("host", host)
        .withColumn("host_rank", F.row_number().over(w) - F.lit(1))
        .withColumn(
            "wave",
            F.floor(F.col("host_rank") / F.lit(int(per_host_per_wave))).cast(
                "bigint"
            ),
        )
    )


def stream_cdx_latest(stream: DataFrame, store_path: str, checkpoint: str):
    """Streaming latest-capture index maintenance — the streaming twin of
    :func:`select_captures`: each micro-batch of raw CDXJ lines parses,
    selects its own newest-good capture per SURT, and APPENDS the batch
    winners (stamped with the micro-batch id) to a persisted store;
    :func:`cdx_latest_resolve` reads the store back to one row per key.
    Append-plus-resolve (not rewrite-per-batch) keeps per-batch work
    O(batch): the store is never rewritten, exactly the
    ``minhash_index_append`` discipline — and because winners carry
    ``batch_id``, an at-least-once redelivery is dropped at read time
    instead of corrupting version counts."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    def upsert(batch_df, epoch_id: int) -> None:
        sel = select_captures(parse_cdxj(batch_df))
        (
            sel.withColumn("batch_id", F.lit(epoch_id).cast("long"))
            .write.mode("append")
            .parquet(store_path)
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdx_latest_resolve(spark, store_path: str) -> DataFrame:
    """Resolve a :func:`stream_cdx_latest` store to the newest capture per
    SURT: replay-safe dropDuplicates on (surt, batch_id), then one
    map-side-combinable max-struct agg. ``n_versions`` counts distinct
    batch appearances of the key (the recrawl-churn signal)."""
    df = spark.read.parquet(store_path).dropDuplicates(["surt", "batch_id"])
    pick = F.max(
        F.struct(
            "ts", "offset", "url", "mime", "status", "digest", "length",
            "filename",
        )
    ).alias("_pick")
    return (
        df.groupBy("surt")
        .agg(pick, F.count(F.lit(1)).cast("bigint").alias("n_versions"))
        .select(
            "surt",
            F.col("_pick.ts").alias("ts"),
            F.col("_pick.url").alias("url"),
            F.col("_pick.digest").alias("digest"),
            "n_versions",
        )
    )


# Whole <a …>…</a> elements (non-greedy inner), for anchor-TEXT extraction.
_ANCHOR_RE = r"""(?is)<a\s[^>]*href\s*=\s*["'][^"']*["'][^>]*>.*?</a\s*>"""


def extract_anchors(
    df: DataFrame, html_col: str = "html", base_col: str = "url"
) -> DataFrame:
    """Anchor-TEXT extraction: one row per link with both the resolved
    target (``link`` — same RFC 3986 resolution as :func:`extract_links`)
    and the human-readable ``anchor_text`` (inner markup stripped,
    entities decoded, whitespace collapsed; empty/image-only anchors →
    NULL text, the row is kept). Anchor text is classic weak supervision —
    (anchor_text, link) pairs are query-document training data
    (DPR-family retrieval corpora are built from exactly this signal) and
    the anchor-text aggregate per target is a relevance prior. Same
    codegen one-to-many shape as ``extract_links``: one scan, no shuffle,
    no Python."""
    from etl_lala_spark.functions.scalars import canonicalize_url  # noqa: F401

    el = F.explode(
        F.regexp_extract_all(F.col(html_col), F.lit(_ANCHOR_RE), F.lit(0))
    ).alias("_a")
    out = df.select(*df.columns, el)
    href = F.replace(
        F.regexp_extract("_a", _HREF_RE, 1), F.lit("&amp;"), F.lit("&")
    )
    inner = F.regexp_extract("_a", r"(?is)>(.*)</a\s*>$", 1)
    text = F.trim(
        F.regexp_replace(
            _xml_entity_decode(F.regexp_replace(inner, r"(?s)<[^>]*>", " ")),
            r"\s+",
            " ",
        )
    )
    return (
        out.withColumn("link", _resolve_href(href, F.col(base_col)))
        .withColumn("anchor_text", F.when(text != "", text))
        .filter(F.col("link").isNotNull())
        .drop("_a")
    )


def extract_page_meta(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Per-page HTML metadata — the fields every web pipeline keeps next
    to the text: ``title`` (entities decoded, whitespace collapsed),
    ``meta_description``, ``canonical_url`` (``<link rel=canonical>`` —
    the site's OWN dedup hint, used alongside URL canonicalization),
    ``robots_noindex`` (``<meta name=robots>`` lists ``noindex`` — pages
    a compliant corpus drops), and ``html_lang`` (the ``<html lang>``
    attribute — the author's language claim, a prior for trained
    lang-ID). Attribute order and quote style vary in the wild, so each
    field extracts the whole tag first (either attribute order), then
    the wanted attribute from it; everything missing → NULL. Tolerant
    regexp codegen, same failure-mode rationale as
    :func:`parse_sitemap`: one bad page degrades one row, never the job."""

    def tag(name_attr: str, name_val: str, tagname: str = "meta") -> Column:
        return F.regexp_extract(
            F.col(html_col),
            f"(?is)<{tagname}\\s[^>]*{name_attr}\\s*=\\s*[\"']{name_val}[\"'][^>]*>",
            0,
        )

    def attr(tag_col: Column, attr_name: str) -> Column:
        v = F.trim(
            F.regexp_extract(
                tag_col, f"(?is){attr_name}\\s*=\\s*[\"']([^\"']*)[\"']", 1
            )
        )
        return F.when(v != "", _xml_entity_decode(v))

    title = F.trim(
        F.regexp_replace(
            _xml_entity_decode(
                F.regexp_extract(
                    F.col(html_col), r"(?is)<title[^>]*>(.*?)</title\s*>", 1
                )
            ),
            r"\s+",
            " ",
        )
    )
    robots_content = attr(tag("name", "robots"), "content")
    lang = F.trim(
        F.regexp_extract(
            F.col(html_col), r"(?is)<html\s[^>]*\blang\s*=\s*[\"']([^\"']*)[\"']", 1
        )
    )
    return (
        df.withColumn("title", F.when(title != "", title))
        .withColumn("meta_description", attr(tag("name", "description"), "content"))
        .withColumn("canonical_url", attr(tag("rel", "canonical", "link"), "href"))
        .withColumn(
            "robots_noindex",
            F.coalesce(
                F.lower(robots_content).rlike(r"(^|[,\s])noindex([,\s]|$)"),
                F.lit(False),
            ),
        )
        .withColumn("html_lang", F.when(lang != "", F.lower(lang)))
    )


def robots_sitemaps(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """``Sitemap:`` directives from robots.txt — the discovery hop BEFORE
    :func:`parse_sitemap` (robots.txt names the sitemaps; sitemaps name
    the URLs): one row per (host, sitemap_url). Per the protocol the
    directive is group-INDEPENDENT (it binds to the file, not to any
    User-agent group), its field name is case-insensitive, and its value
    is an absolute URL taken verbatim (comments stripped, whitespace
    trimmed). Duplicate directives collapse. Same one-scan posexplode
    shape as :func:`parse_robots`."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.explode(F.split(F.col(text_col), "\n")).alias("raw"),
    ).select(
        "host",
        F.trim(F.regexp_replace("raw", r"#.*$", "")).alias("line"),
    )
    url = F.trim(F.regexp_extract("line", r"(?i)^sitemap\s*:\s*(.+)$", 1))
    return (
        lines.select("host", url.alias("sitemap_url"))
        .filter(F.col("sitemap_url") != "")
        .dropDuplicates(["host", "sitemap_url"])
    )


def detect_charset(
    df: DataFrame,
    content_type_col: str = "content_type",
    html_col: str = "html",
    default: str = "utf-8",
) -> DataFrame:
    """Charset resolution for fetched pages, in the WHATWG/browser
    precedence order: the ``Content-Type`` header's ``charset`` parameter
    wins, then ``<meta charset=…>``, then the legacy
    ``<meta http-equiv="Content-Type" content="…; charset=…">``, else the
    ``default``. Appends ``charset`` (lowercased, quotes stripped) and
    ``charset_source`` (``header`` / ``meta`` / ``http_equiv`` /
    ``default``) — the column :func:`~etl_lala_spark.operators.text
    .fix_mojibake` consumers key their repair decision on (a page DECLARED
    cp1252 but decoded as utf-8 is exactly the mojibake signature).
    Tolerant regexp codegen, per-row degrade, one scan."""
    hdr = F.lower(F.trim(F.regexp_extract(
        F.col(content_type_col), r"(?i);\s*charset\s*=\s*\"?([^\";\s]+)\"?", 1
    )))
    # the bare form's charset is a direct ATTRIBUTE; the legacy form's sits
    # inside content="…" — so the extraction itself must skip meta tags that
    # carry a content= attribute (e.g. a description whose text merely
    # contains "charset="), not just reject the first charset-bearing tag it
    # happens to find: otherwise an early decoy shadows a later real
    # <meta charset=…> forever
    meta_tag = F.regexp_extract(
        F.col(html_col),
        r"(?is)<meta\s(?:(?!content\s*=)[^>])*\bcharset\s*=(?:(?!content\s*=)[^>])*>",
        0,
    )
    meta = F.lower(F.trim(F.regexp_extract(
        meta_tag, r"(?i)\bcharset\s*=\s*[\"']?([^\"'>\s/]+)", 1
    )))
    # the legacy form nests charset= inside the content attribute; require
    # the http-equiv tag so a stray charset= in body text can't win
    equiv_tag = F.regexp_extract(
        F.col(html_col),
        r"(?is)<meta\s[^>]*http-equiv\s*=\s*[\"']content-type[\"'][^>]*>", 0
    )
    equiv = F.lower(F.trim(F.regexp_extract(
        equiv_tag, r"(?i)charset\s*=\s*\"?([^\";\s]+)\"?", 1
    )))
    charset = (
        F.when(hdr != "", hdr)
        .when(meta != "", meta)
        .when(equiv != "", equiv)
        .otherwise(F.lit(default))
    )
    source = (
        F.when(hdr != "", "header")
        .when(meta != "", "meta")
        .when(equiv != "", "http_equiv")
        .otherwise(F.lit("default"))
    )
    return df.withColumn("charset", charset).withColumn(
        "charset_source", source
    )


def robots_crawl_delays(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """``Crawl-delay`` seconds per host (de facto directive — not in RFC
    9309; engines disagree on group binding, so this takes the MAX value
    declared anywhere in the host's file: the most conservative reading a
    polite crawler can adopt). Non-numeric values are ignored; hosts with
    no valid directive are absent (callers coalesce a default). One
    posexplode scan + a hosts-sized max agg."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.explode(F.split(F.col(text_col), "\n")).alias("raw"),
    ).select(
        "host",
        F.trim(F.regexp_replace("raw", r"#.*$", "")).alias("line"),
    )
    val = F.regexp_extract("line", r"(?i)^crawl-delay\s*:\s*([0-9]+(?:\.[0-9]+)?)\s*$", 1)
    return (
        lines.select("host", val.alias("v"))
        .filter(F.col("v") != "")
        .groupBy("host")
        .agg(F.max(F.col("v").cast("double")).alias("crawl_delay_s"))
    )


def politeness_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    per_host_per_wave: int = 1,
    default_delay_s: float = 1.0,
    url_col: str = "url",
) -> DataFrame:
    """Time-aware politeness schedule: :func:`politeness_waves` assignment
    joined with per-host :func:`robots_crawl_delays`, emitting
    ``not_before_s`` — the earliest offset, from schedule start, at which
    the fetcher may issue the request without violating the host's
    declared rate. A host that DECLARED ``Crawl-delay`` is serialized at
    exactly that interval (``host_rank × delay`` — wave-based offsets
    would authorize ``per_host_per_wave`` same-host requests at the same
    instant, violating the declaration); a host with no declaration takes
    ``wave × default_delay_s``, so the undeclared default still permits
    ``per_host_per_wave`` parallelism. Delays are hosts-sized and
    broadcast; the frontier still shuffles only on the per-host window."""
    waved = politeness_waves(
        frontier, per_host_per_wave=per_host_per_wave, url_col=url_col
    )
    d = F.broadcast(
        delays.select(
            F.col("host").alias("_dhost"), F.col("crawl_delay_s").alias("_delay")
        )
    )
    return (
        waved.join(d, F.col("host") == F.col("_dhost"), "left")
        .withColumn(
            "not_before_s",
            F.round(
                F.when(
                    F.col("_delay").isNotNull(),
                    F.col("host_rank") * F.col("_delay"),
                ).otherwise(F.col("wave") * F.lit(float(default_delay_s))),
                6,
            ),
        )
        .drop("_dhost", "_delay")
    )


def cdx_redirect_resolve(parsed: DataFrame, max_hops: int = 8) -> DataFrame:
    """Resolve CDX redirect chains to their final targets — the capture-
    selection companion every real Common Crawl consumer needs: ~20% of a
    crawl's captures are 3xx rows whose content lives at the END of a
    Location chain, and an index-first pipeline must map each redirecting
    key to the capture it should actually fetch WITHOUT issuing a single
    HTTP request. Input: :func:`parse_cdxj` rows (the ``redirect`` field
    carries the 3xx Location target). Output: one row per redirecting
    SURT key — (surt, final_surt, hops, resolution) with resolution:

    - ``ok``: the chain reaches a key holding a good (2xx) capture within
      ``max_hops``; ``final_surt`` is that key, ``hops`` the chain length;
    - ``dangling``: the chain leaves the index (target key has no good
      capture and no onward redirect) — ``final_surt`` is the dangling
      key, ``hops`` counts to it;
    - ``too_deep``: the chain exceeds ``max_hops`` — including every
      redirect LOOP (a cycle can never terminate, so its hop count grows
      past any budget); ``final_surt``/``hops`` are NULL because no
      stable endpoint exists.

    A key holding BOTH a good capture and a redirect capture counts as
    terminal (the content is already there; following further would be
    wrong). Per key, the NEWEST redirect capture defines the out-edge —
    the same newest-wins discipline as :func:`select_captures`.

    Scale shape: POINTER DOUBLING, the :func:`~etl_lala_spark.operators
    .dedup.canonical_components` discipline — each round substitutes
    every label's target with that target's own label (one self-join +
    localCheckpoint), so resolved distance doubles per round and
    ``max_hops`` needs only ``ceil(log2(max_hops)) + 1`` rounds, not
    ``max_hops`` sequential joins. The 100 TB index contributes ONE
    key-grain aggregation pass, materialized once (localCheckpoint) and
    reused by every downstream action — terminal lookup, edge set,
    SURT-convention remap, final classification — so no action re-runs
    the index scan; everything after is key-grain on the 3xx slice."""
    import math as _math

    from etl_lala_spark.functions.scalars import surt_key

    good = parsed.filter(F.col("_error").isNull()) if "_error" in parsed.columns else parsed
    status = F.col("status")
    is_good = (status >= 200) & (status < 300)
    is_redir = (status >= 300) & (status < 400) & F.col("redirect").isNotNull()
    # ONE pass over the index: per key, whether a good capture exists, the
    # newest redirect capture (its Location defines the out-edge; a key
    # holding a good capture is terminal and never followed), and the
    # surt_key-normalized forms of its captured urls (for the convention
    # bridge below). Materialized once; every later action reads this.
    per_key = (
        good.filter(F.col("surt").isNotNull())
        .groupBy("surt")
        .agg(
            F.max(is_good.cast("int")).alias("_good"),
            F.max(F.when(is_redir, F.struct("ts", "redirect"))).alias("_p"),
            F.collect_set(surt_key(F.col("url"))).alias("_nkeys"),
        )
        .localCheckpoint()
    )
    terminals = per_key.filter(F.col("_good") == 1).select("surt")
    edges = per_key.filter(
        (F.col("_good") == 0) & F.col("_p").isNotNull()
    ).select("surt", surt_key(F.col("_p.redirect")).alias("target"))
    # SURT-convention bridge: ``target`` above is THIS repo's surt_key()
    # of the Location URL, but the graph's node identities are the
    # INDEX-PROVIDED surt column, whose convention may differ (e.g.
    # webarchive-commons keeps www/query forms surt_key() folds). Targets
    # that miss the raw key space verbatim are remapped through the
    # index's own url column — surt_key(url) is convention-free common
    # ground — so a chain is followed whenever the index HAS the capture,
    # whatever its surt dialect. Probed once; a self-consistent index
    # (every target already a raw key) skips the remap joins entirely.
    targets = edges.select("target").distinct()
    missing = targets.join(
        per_key.select(F.col("surt").alias("_x")),
        targets["target"] == F.col("_x"),
        "left_anti",
    )
    if missing.limit(1).count():
        nodes = per_key.select("surt", F.explode("_nkeys").alias("_nkey"))
        remap = (
            missing.join(nodes, missing["target"] == nodes["_nkey"])
            .groupBy("target")
            .agg(F.min("surt").alias("_resolved"))
        )
        edges = (
            edges.join(remap, "target", "left")
            .select("surt", F.coalesce("_resolved", "target").alias("target"))
        )
    labels = edges.select(
        "surt", F.col("target").alias("cur"), F.lit(1).cast("bigint").alias("hops")
    ).localCheckpoint()
    rounds = max(1, _math.ceil(_math.log2(max(2, max_hops))) + 1)
    for _ in range(rounds):
        hop = labels.select(
            F.col("surt").alias("_s"),
            F.col("cur").alias("_c"),
            F.col("hops").alias("_h"),
        )
        # freeze rows at hops >= max_hops: any further movement lands past
        # the budget (they are already classifiable as too_deep/dangling),
        # and freezing lets cycle rows stop churning so the early exit
        # below can fire instead of running the worst-case round count
        can_move = F.col("_c").isNotNull() & (F.col("hops") < max_hops)
        stepped = (
            labels.join(hop, labels["cur"] == hop["_s"], "left")
            .select(
                "surt",
                F.when(can_move, F.col("_c")).otherwise(F.col("cur")).alias("cur"),
                F.when(can_move, F.col("hops") + F.col("_h"))
                .otherwise(F.col("hops"))
                .alias("hops"),
                can_move.alias("_moved"),
            )
            .localCheckpoint()
        )
        labels = stepped.drop("_moved")
        # early exit (the canonical_components discipline): a round that
        # moved nothing means every chain already ends at a terminal,
        # dangling, or frozen key, so every remaining round is an identity
        # self-join — a real index whose chains resolve in 1 hop pays 1
        # round, not ceil(log2(max_hops))+1. The probe is a filter over
        # the row set this round just materialized, not a new join.
        if stepped.filter("_moved").limit(1).count() == 0:
            break
    term = terminals.select(F.col("surt").alias("_term"))
    out = labels.join(term, labels["cur"] == F.col("_term"), "left")
    # a cur that still has an out-edge after 2^rounds>max_hops doubling
    # rounds is on (or feeding) a cycle — classify with the hop budget
    pending = edges.select(F.col("surt").alias("_pend"))
    out = out.join(pending, out["cur"] == F.col("_pend"), "left")
    resolution = (
        F.when(F.col("_term").isNotNull() & (F.col("hops") <= max_hops), "ok")
        .when(F.col("_pend").isNotNull() | (F.col("hops") > max_hops), "too_deep")
        .otherwise("dangling")
    )
    keep = resolution.isin("ok", "dangling")
    return out.select(
        "surt",
        F.when(keep, F.col("cur")).alias("final_surt"),
        F.when(keep, F.col("hops")).alias("hops"),
        resolution.alias("resolution"),
    )


def robots_meta_directives(
    df: DataFrame,
    html_col: str = "html",
    headers_col: str | None = "http_headers",
) -> DataFrame:
    """Page-level robots directives — the companion of robots.txt filtering
    (:func:`robots_allowed` governs FETCHING; these govern what a pipeline
    may KEEP and which outlinks may feed the frontier): the
    ``<meta name="robots" content="…">`` tag and the ``X-Robots-Tag``
    response header, per the Robots Exclusion Protocol's page-level
    extension (Google/Bing documented semantics). Appends:

    - ``noindex``: the page must not enter the corpus/index;
    - ``nofollow``: its outlinks must not feed the frontier
      (:func:`extract_links` consumers drop these edges).

    Directive lists are comma-separated and case-insensitive; ``none``
    means ``noindex, nofollow``; ``all`` (or no declaration) means
    neither. Only ``name="robots"`` meta tags count (a
    ``name="description"`` whose text merely contains 'noindex' must not
    — same decoy discipline as :func:`detect_charset`), attribute order
    is free, content values may be double-quoted, single-quoted, or
    HTML5-unquoted (``<meta name=robots content=noindex,nofollow>``),
    and REP semantics UNION directives across every declaration — ALL
    ``name="robots"`` meta tags and ALL ``X-Robots-Tag`` header lines
    count, either source declaring a directive sets it. Pure codegen —
    regexp extracts and a boolean fold per row, no shuffle, no Python;
    filtering 100 TB of fetched pages is one scan."""
    # every meta tag with name="robots" (any attribute order, any quoting)
    meta_tags = F.regexp_extract_all(
        F.col(html_col),
        F.lit(r'''(?is)<meta\s(?=[^>]*\bname\s*=\s*["']?robots["'\s>])[^>]*>'''),
        0,
    )
    content_pat = r'''(?i)\bcontent\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))'''

    def _content_of(tag):
        # quoted forms win; the unquoted form strips a trailing '/' so a
        # self-closing <meta ... content=nofollow/> reads as 'nofollow'
        g1 = F.regexp_extract(tag, content_pat, 1)
        g2 = F.regexp_extract(tag, content_pat, 2)
        g3 = F.regexp_replace(
            F.regexp_extract(tag, content_pat, 3), "/+$", ""
        )
        return F.when(g1 != "", g1).when(g2 != "", g2).otherwise(g3)

    # union across declarations: fold every tag's content value (and every
    # header line) into one comma-joined directive list per source
    meta_content = F.lower(
        F.array_join(F.transform(meta_tags, _content_of), ",")
    )
    hdr = (
        F.lower(F.array_join(
            F.regexp_extract_all(
                F.col(headers_col),
                F.lit(r"(?im)^x-robots-tag:\s*(.+?)\s*$"),
                1,
            ),
            ",",
        ))
        if headers_col is not None
        else F.lit("")
    )
    def has(directive: str):
        pat = rf"(^|[,\s]){directive}($|[,\s])"
        return meta_content.rlike(pat) | hdr.rlike(pat)

    none_d = has("none")
    # NULL html/headers = no declaration = neither directive (a crawl row
    # with a missing body must not poison downstream boolean filters)
    return df.withColumn(
        "noindex", F.coalesce(none_d | has("noindex"), F.lit(False))
    ).withColumn(
        "nofollow", F.coalesce(none_d | has("nofollow"), F.lit(False))
    )
