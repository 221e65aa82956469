"""Text-analysis operators over a document corpus (north star: text analysis).

All JVM-side (split/regexp/higher-order array functions) — no Python UDFs in
the hot path, so whole-stage codegen applies and the same plan runs on 100 TB
of documents with nothing but scan+project (embarrassingly parallel, no
shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenizer shared by every text operator (and mirrored in the
# DuckDB oracles as regexp_split_to_array(text, '\s+')).
TOKEN_RE = r"\s+"

# BPE-ish lexer: letter runs, digit runs, single non-alnum marks.
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# Marker words per language for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "es": ("el", "los", "una"),
    "fr": ("le", "les", "et"),
}


def tokens(col: Column) -> Column:
    return F.split(col, TOKEN_RE)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """Count BPE-ish lexer tokens (letters/digits/punct marks) — a cheap,
    deterministic proxy for subword token counting at corpus scale."""
    return F.regexp_count(F.lower(col), F.lit(BPE_RE))


def marker_hits(col: Column, markers: tuple[str, ...]) -> Column:
    """Number of tokens that are in the marker set (array_filter, JVM-side).

    Tokens are case-normalized first — the marker sets are lowercase, so a
    case-sensitive match would miss every sentence-initial 'The'/'Der'/'El',
    systematically undercounting stop ratios and starving language-ID of
    its strongest signals on natural-cased corpora. The DuckDB oracles
    lower() identically."""
    lit_markers = F.array(*[F.lit(m) for m in markers])
    return F.size(
        F.filter(tokens(F.lower(col)), lambda t: F.array_contains(lit_markers, t))
    )


def stopword_count(col: Column) -> Column:
    return marker_hits(col, STOPWORDS)


def punct_count(col: Column) -> Column:
    return F.length(F.regexp_replace(col, r"[^.!?,;]", ""))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation, low
    punctuation density, healthy stopword ratio. An empty document scores
    0.0 (lowest quality — it should be dropped by any cleaning filter),
    not a DIVIDE_BY_ZERO abort: under Spark 4's default ANSI mode the
    unguarded n_punct / n_chars division crashes the whole job on the
    first zero-length text."""
    n_tok = token_count(text).cast("double")
    n_chars = F.length(text).cast("double")
    len_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_ratio = punct_count(text).cast("double") / n_chars
    # n_tok >= 1 for any non-empty string (split('') is ['']), so guarding
    # n_chars alone makes both divisions safe.
    stop_ratio = stopword_count(text).cast("double") / n_tok
    return F.when(
        n_chars > 0,
        F.round(
            F.lit(0.4) * len_term
            + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
            + F.lit(0.3) * stop_ratio,
            4,
        ),
    ).otherwise(F.when(text.isNotNull(), F.lit(0.0)))


def predicted_lang(text: Column) -> Column:
    """Argmax over marker-word hit counts with a fixed tie order (en > de >
    es > fr) — a deterministic n-gram-style language-ID heuristic. NULL
    text yields NULL (unclassifiable), not 'fr': with null marker counts
    every when() branch fails and the bare chain would fall through to the
    otherwise() default, silently inflating the last language's share."""
    s = {lang: marker_hits(text, m) for lang, m in LANG_MARKERS.items()}
    return (
        F.when(text.isNull(), F.lit(None).cast("string"))
        .when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), F.lit("en")
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), F.lit("de"))
        .when(s["es"] >= s["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the case-normalized text. At 100 TB this
    is the exact-dedup key — hash once, group on the 128-bit digest."""
    return F.md5(F.lower(text))


def word_bigrams(text: Column) -> Column:
    """Adjacent word bigrams as an array column.

    zip_with over two shifted slices, NOT transform+element_at: element
    access inside a higher-order lambda re-evaluates the split per element
    (see word_shingles in operators/dedup.py) — slices touch the token
    array a constant number of times per row.

    Empty tokens (split() emits one for leading/trailing whitespace) are
    filtered first: a text like ' a' would otherwise yield the phantom
    bigram ' a', which pollutes repetition signals and — worse — can win a
    bpe_train merge election on indented corpora, electing a merge of the
    empty token whose anchored rewrite corrupts whitespace."""
    toks = F.filter(tokens(text), lambda t: t != F.lit(""))
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )


def gram_run_stats(grams: Column) -> Column:
    """struct(best = longest equal run, dist = distinct count) of a gram
    array, via ONE fold over its sorted form — both Gopher repetition
    signals (duplicate n-gram fraction = 1 - dist/size, top n-gram
    coverage = best/size) from a single O(d log d) pass (the sort), where
    computing them separately paid the sort AND an `array_distinct` hash
    pass over the same array (r13; measured ~0.6 s of the sf0.1 coverage
    row). Within-row only — no shuffle, runs in codegen at scan speed.
    Contract: gram ELEMENTS must be non-null (word n-grams are — concat_ws
    never yields NULL); the NULL `prev` seed makes the first element open
    a run without a sentinel value colliding with a real gram."""
    return F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("dist"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a.prev, a.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a.best, F.when(x == a.prev, a.run + 1).otherwise(F.lit(1))
            ).alias("best"),
            (
                a.dist + F.when(x == a.prev, F.lit(0)).otherwise(F.lit(1))
            ).alias("dist"),
        ),
        lambda a: F.struct(a.best.alias("best"), a.dist.alias("dist")),
    )


def _merge_rewrite(a: str, b: str, sep: str) -> tuple[str, str]:
    """The (pattern, replacement) pair for one BPE merge — shared by train
    and apply so the anchored non-overlapping rewrite (and its
    replacement-string escaping) can never diverge between them, which
    would silently break the conservation law the audit pins."""
    import re as _re

    pat = f"(?<=^|\\s){_re.escape(a)} {_re.escape(b)}(?=\\s|$)"
    repl = _re.sub(r"[\\$]", r"\\\g<0>", a + sep + b)
    return pat, repl


def bpe_train(
    df,
    text_col: str = "text",
    n_merges: int = 8,
    sep: str = "\x01",
    weight_col: str | None = None,
) -> list[dict]:
    """Train a word-level BPE merge table ON the corpus — tokenizer
    construction as a distributed job (the step that precedes token
    counting in a real training-data pipeline).

    Each round: (a) count adjacent token pairs over the CURRENT corpus (one
    explode + hash agg — vocabulary-bounded, map-side combined), (b) pick
    the most frequent pair on the driver (count desc, pair asc tiebreak —
    fully deterministic), (c) apply the merge corpus-wide as ONE
    whitespace-anchored regexp_replace (left-to-right non-overlapping —
    exactly BPE's greedy application; "a a a" under merge (a,a) yields
    "a·a a", one application). Model state on the driver is the merge
    table — O(n_merges) strings, like kmeans' codebook.

    The applied-count per round is measured with regexp_count BEFORE the
    rewrite, giving the exact conservation law the audit checks: every
    application replaces two tokens with one, so
    final_token_total == initial_token_total − Σ applied.

    The working corpus is PERSISTED every round with the applied-count
    fused into the rewrite projection: round r evaluates exactly ONE
    regexp pass over cached rows (election agg + count-and-rewrite scan)
    instead of re-deriving an r-deep rewrite chain from the source scan —
    the rewrite cost is O(n_merges · corpus), not O(n_merges² · corpus).
    The cache is released round-over-round and on exit (each round's live
    footprint is one corpus copy), so at production scale memory-and-disk
    persistence per merge IS the checkpoint discipline.

    ``weight_col``: when the input is a pre-aggregated frequency table
    (one row per DISTINCT text with its occurrence count — the form
    Sennrich et al. 2016 train on), pair counts and applied counts are
    weighted by it. Every returned number is identical to training on the
    exploded rows (both are linear sums over occurrences); only the work
    per round shrinks from O(corpus) to O(vocabulary).
    Returns [{rank, pair, pair_count, applied}, ...].
    """
    if weight_col is None:
        # Seed-time repartition: the source is often a handful of files
        # (ONE at small SF), and every narrow rewrite round inherits that
        # layout — the one up-front corpus shuffle is what lets all
        # n_merges regexp passes run cluster-wide instead of on
        # len(files) cores.
        par = df.sparkSession.sparkContext.defaultParallelism
        cur = (
            df.select(
                F.col(text_col).alias("t"), F.lit(1).cast("long").alias("w")
            )
            .repartition(par)
            .persist()
        )
    else:
        # Pre-aggregated input already paid its shuffle in the groupBy
        # that built it — its hash layout spreads the types cluster-wide.
        cur = df.select(
            F.col(text_col).alias("t"),
            F.col(weight_col).cast("long").alias("w"),
        ).persist()
    merges: list[dict] = []
    try:
        for r in range(n_merges):
            top = (
                cur.select(
                    F.explode(word_bigrams(F.col("t"))).alias("g"), "w"
                )
                .groupBy("g")
                .agg(F.sum("w").alias("c"))
                .orderBy(F.col("c").desc(), "g")
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] < 2:
                break
            g, c = top[0]["g"], int(top[0]["c"])
            a, b = g.split(" ", 1)
            pat, repl = _merge_rewrite(a, b, sep)
            # One scan computes the pre-rewrite applied count AND the
            # rewritten corpus; persisting it makes this round's regexp the
            # last one ever evaluated over these rows.
            nxt = cur.select(
                (F.regexp_count("t", F.lit(pat)) * F.col("w")).alias(
                    "_applied"
                ),
                F.regexp_replace("t", pat, repl).alias("t"),
                "w",
            ).persist()
            applied = int(nxt.agg(F.sum("_applied")).first()[0])
            cur.unpersist()  # after nxt materialized — never re-derive the chain
            cur = nxt
            merges.append(
                {"rank": r, "pair": g, "pair_count": c, "applied": applied}
            )
    finally:
        cur.unpersist()
    return merges


def bpe_apply(df, merges: list[dict], text_col: str = "text", sep: str = "\x01"):
    """Apply a trained merge table in rank order (same anchored
    non-overlapping rewrite as training, via the shared ``_merge_rewrite``).
    Narrow map, no shuffle."""
    out = df.withColumn("bpe_text", F.col(text_col))
    for m in merges:
        a, b = m["pair"].split(" ", 1)
        pat, repl = _merge_rewrite(a, b, sep)
        out = out.withColumn("bpe_text", F.regexp_replace("bpe_text", pat, repl))
    return out


# --- Byte-level BPE (GPT-2 / tiktoken family) --------------------------------


def _byte_token_expr(word: Column) -> Column:
    """A word as space-separated lowercase hex byte tokens ('hi' →
    '68 69') — the byte-alphabet seeding of byte-level BPE. Hex pairs (not
    raw bytes) keep every token printable and regex-safe for the shared
    anchored merge rewrite; UTF-8 encoding makes the alphabet closed (256
    symbols), so ANY text decomposes with zero out-of-vocabulary symbols —
    the zero-UNK-by-construction property the GPT-2 tokenizer family is
    built on."""
    return F.trim(
        F.regexp_replace(F.lower(F.hex(F.encode(word, "UTF-8"))), "(..)", "$1 ")
    )


def byte_pretokens(df, text_col: str = "text"):
    """One row per whitespace pre-token, as a byte-token string ``t``.
    Pre-tokenizing BEFORE the merge loop is what confines merges inside
    words (GPT-2 does the same with its pre-tokenizer regex): bigram
    counting over per-word rows can never see a cross-word pair, so the
    trained table cannot contain one. Scale: one explode; the merge
    training's bigram agg stays vocabulary-bounded and map-side combined."""
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda w: w != F.lit("")
    )
    return df.select(F.explode(words).alias("w")).select(
        _byte_token_expr(F.col("w")).alias("t")
    )


def byte_bpe_train(
    df,
    text_col: str = "text",
    n_merges: int = 12,
    sep: str = "\x01",
) -> list[dict]:
    """Train a BYTE-level BPE merge table (GPT-2/tiktoken family; Sennrich
    et al. 2016 merges, Radford et al. 2019 byte alphabet): seed every
    word as its UTF-8 hex byte tokens, then run the exact word-BPE merge
    machinery (:func:`bpe_train` — same election, same anchored rewrite,
    same conservation law) over the pre-token rows. ``pair`` entries are
    hex byte tokens ('74 68' = b'th'). Zero UNK by construction: the seed
    alphabet is all 256 byte values, so application can always fall back
    to single bytes for unseen input.

    Training runs on the distinct-pretoken FREQUENCY table (one row per
    word type, weighted by occurrence count — the dictionary Sennrich et
    al. 2016 train on): elections and applied counts are linear in
    occurrences, so every returned number is bit-identical to training on
    the exploded rows, but each merge round rewrites O(vocabulary) type
    strings instead of O(corpus) word occurrences — at 100 TB the type
    table is MBs while the corpus is the 100 TB."""
    pre = (
        byte_pretokens(df, text_col)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return bpe_train(pre, "t", n_merges, sep, weight_col="w")


def byte_bpe_apply(
    df,
    merges: list[dict],
    text_col: str = "text",
    sep: str = "\x01",
):
    """Serving-time byte-BPE apply with byte fallback: each doc's words
    become hex byte tokens joined across words by NEWLINE (merge patterns
    match a literal space between tokens, so a trained pair can never
    fire across a word boundary — the train-side invariant, preserved at
    apply time without a second explode), the merge table replays in rank
    order, and each output piece is emitted as its contiguous hex string.
    Bytes never covered by a merge simply remain singleton pieces — the
    fallback path needs no vocabulary lookup, so unseen scripts/emoji
    tokenize with zero UNKs. Adds: ``pieces`` (array of hex strings, doc
    order), ``n_pieces``, ``n_bytes`` (Σ piece bytes). Narrow map, no
    shuffle; reconstruction is exact — unhex(concat(pieces)) equals the
    doc's whitespace-stripped UTF-8 bytes, the law the audit pins."""
    work = "_byte_bpe_work"
    reserved = {"pieces", "n_pieces", "n_bytes", work}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"byte_bpe_apply: input columns {sorted(clash)} collide with "
            "the output/working columns; rename them first"
        )
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda w: w != F.lit("")
    )
    out = df.withColumn(
        work,
        F.array_join(F.transform(words, _byte_token_expr), "\n"),
    )
    for m in merges:
        a, b = m["pair"].split(" ", 1)
        pat, repl = _merge_rewrite(a, b, sep)
        out = out.withColumn(work, F.regexp_replace(work, pat, repl))
    pieces = F.transform(
        F.filter(F.split(work, r"\s+"), lambda p: p != F.lit("")),
        lambda p: F.replace(p, F.lit(sep), F.lit("")),
    )
    # Preserve every input column (the bpe_apply convention): callers keep
    # their ids, urls, labels — only the working bpe_text column is dropped.
    return out.select(
        *df.columns,
        pieces.alias("pieces"),
        F.size(pieces).cast("bigint").alias("n_pieces"),
        F.aggregate(
            pieces,
            F.lit(0).cast("bigint"),
            lambda acc, p: acc + (F.length(p) / 2).cast("bigint"),
        ).alias("n_bytes"),
    )


def importance_weights(
    docs,
    target_pred,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023 — public
    literature): score every document by how much more likely its hashed
    token features are under a target domain than under the raw corpus,
    so sampling by the weight shifts the corpus mixture toward the target.

    Features are unigrams hashed into ``n_buckets`` buckets (md5-derived so
    DuckDB reproduces the bucketing bit-exactly); the target and corpus
    unigram distributions are estimated with add-one smoothing in ONE
    shared hash agg (the target is a predicate over the same corpus, so
    both counts come from a single scan); a doc's weight is the mean
    log-likelihood ratio of its tokens. Returns (id_col, n_tokens, weight)
    with ONE row for EVERY input document — a null/empty text scores
    (n_tokens=0, weight=NULL) via explode_outer instead of silently
    vanishing from the output (an inner resampling join would drop such
    docs with no signal; a left join would get an unmarked NULL).

    Scale: the bucket table is ``n_buckets`` rows — a broadcast — and the
    per-doc mean is map-side combinable (tokens of a doc are co-located by
    construction, so partial agg collapses to one row per doc before any
    shuffle). Two corpus scans total (distribution + scoring), zero
    corpus-sized shuffles. Per-token log-ratios are rounded to 9 digits
    before averaging so libm last-ulp differences cannot leak into the
    rounded weight.
    """
    # explode_outer over the pre-filtered token array: a doc whose text is
    # null/empty/whitespace-only keeps one row with t = NULL, so it stays
    # scoreable downstream (n_tokens = 0) instead of dropping out.
    tok = docs.select(
        F.col(id_col),
        target_pred.alias("is_target"),
        F.explode_outer(
            F.filter(tokens(F.lower(F.col(text_col))), lambda t: t != F.lit(""))
        ).alias("t"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    ).alias("b")

    stats = (
        tok.filter(F.col("t").isNotNull())
        .select(bucket, "is_target")
        .groupBy("b")
        .agg(
            F.count("*").alias("c_n"),
            F.count(F.when(F.col("is_target"), True)).alias("t_n"),
        )
    )
    # Add-one smoothing over the bucket vocabulary. Totals come from an
    # unpartitioned window over the (n_buckets-row) stats — NOT a crossJoin
    # of stats.agg(...), which would duplicate the stats subtree in the plan
    # and re-tokenize the corpus a second time; the single-partition window
    # is over n_buckets rows, so it costs nothing and keeps the whole
    # pipeline at exactly two corpus scans (plan-audited).
    from pyspark.sql import Window as W

    everything = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    lr = stats.select(
        "b",
        F.round(
            F.log(
                ((F.col("t_n") + 1) / (F.sum("t_n").over(everything) + n_buckets))
                / ((F.col("c_n") + 1) / (F.sum("c_n").over(everything) + n_buckets))
            ),
            9,
        ).alias("logratio"),
    )
    # LEFT join so the t=NULL marker rows (bucket NULL matches nothing)
    # survive to the per-doc agg; count("b") counts real tokens only.
    return (
        tok.select(id_col, bucket)
        .join(F.broadcast(lr), "b", "left")
        .groupBy(id_col)
        .agg(
            F.count("b").alias("n_tokens"),
            F.round(F.avg("logratio"), 6).alias("weight"),
        )
    )


def _viterbi_segment(word: str, logp: dict[str, float], max_len: int):
    """Best unigram segmentation of ``word`` under piece log-probs: maximize
    sum of piece log-probs, ties broken toward FEWER pieces, then by the
    deterministic left-to-right scan order. Returns (pieces, score) or
    (None, None) when the word is unsegmentable under ``logp``."""
    n = len(word)
    NEG = float("-inf")
    best = [(NEG, 0)] * (n + 1)  # (score, -n_pieces)
    back = [0] * (n + 1)
    best[0] = (0.0, 0)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            if best[j][0] == NEG:
                continue
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            cand = (best[j][0] + lp, best[j][1] - 1)
            if cand > best[i]:
                best[i] = cand
                back[i] = j
    if best[n][0] == NEG:
        return None, None
    pieces = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return pieces, best[n][0]


def unigram_lm_train(
    df,
    text_col: str = "text",
    vocab_size: int = 150,
    max_piece_len: int = 4,
    iters: int = 4,
):
    """Train a unigram-LM tokenizer ON the corpus (the SentencePiece/Kudo
    2018 family — the other standard subword tokenizer next to BPE), as a
    distributed job with O(vocab) driver state.

    Stages:
    1. Word counts: one explode + hash agg (vocabulary-bounded, map-side
       combined) — EM then runs over DISTINCT words weighted by count, so
       corpus size only affects this first scan.
    2. Seed vocab: every substring of length 1..max_piece_len of the
       distinct words, weighted by word count (two nested `sequence`
       explodes — bounded by Σ|w|·max_piece_len over DISTINCT words), cut
       to the top (vocab_size − #chars) by (count desc, piece asc) via
       TakeOrderedAndProject, with ALL single characters always seeded so
       every word starts segmentable.
    3. Viterbi-EM, ``iters`` rounds over a FIXED piece set: the E-step
       segments each distinct word by dynamic programming inside
       `mapInPandas` (piece log-probs travel in the task closure — O(vocab)
       bytes) and pre-aggregates piece counts per Arrow batch; Spark
       reduces them in one vocabulary-bounded hash agg. The M-step is exact
       MLE (count/total) on the driver. Zero-count pieces keep prob 0 —
       unselectable but retained, which makes hard-EM's objective (corpus
       log-likelihood of the BEST segmentation) provably non-decreasing:
       the E-step can only improve it given the probs, the MLE M-step can
       only improve it given the segmentation. That monotone law plus
       exact reconstruction (pieces concatenate back to every word) are
       what `audit_unigram_em` pins to the oracle gate.

    At 100 TB: the corpus is touched by exactly ONE scan (word counts);
    every EM round scans only the distinct-word table. Driver state is the
    piece table — like the k-means codebook, never the data. Returns
    {"vocab": [{piece, prob, count}...], "ll_per_iter": [...],
    "chars": [...], "recon_violations": int, "pieces_char_total": int}.
    """
    import math

    import pandas as pd

    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    words.cache()

    char_counts = {
        r["piece"]: int(r["pc"])
        for r in words.select(
            F.explode(F.split("w", "")).alias("piece"), "c"
        )
        .filter(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.sum("c").alias("pc"))
        .collect()
    }
    chars = sorted(char_counts)
    if len(chars) > vocab_size:
        words.unpersist()
        raise ValueError(
            f"vocab_size={vocab_size} is below the corpus alphabet "
            f"({len(chars)} chars); full coverage needs at least one slot "
            "per character"
        )

    # Multi-char seed substrings only from positions with >= 2 chars left:
    # sequence(2, 1) yields a DESCENDING [2, 1] in Spark, which would leak
    # each word's final character into the multi-char pool at double weight.
    subs = (
        words.filter(F.length("w") >= 2)
        .select(
            "w",
            "c",
            F.explode(
                F.sequence(F.lit(1), F.length("w") - 1)
            ).alias("i"),
        )
        .select(
            "w",
            "c",
            "i",
            F.explode(
                F.sequence(
                    F.lit(2),
                    F.least(
                        F.lit(max_piece_len), F.length("w") - F.col("i") + 1
                    ),
                )
            ).alias("L"),
        )
        .select(F.col("w").substr(F.col("i"), F.col("L")).alias("piece"), "c")
        .groupBy("piece")
        .agg(F.sum("c").alias("pc"))
        .orderBy(F.col("pc").desc(), "piece")
        .limit(max(0, vocab_size - len(chars)))
        .collect()
    )
    counts = {r["piece"]: int(r["pc"]) for r in subs}
    counts.update(char_counts)  # chars always present

    if not counts:  # empty corpus: empty model, no EM rounds
        words.unpersist()
        return {
            "vocab": [],
            "vocab_budget": vocab_size,
            "max_piece_len": max_piece_len,
            "ll_per_iter": [],
            "chars": [],
            "recon_violations": 0,
            "pieces_char_total": 0,
        }
    total = float(sum(counts.values()))
    probs = {p: c / total for p, c in counts.items()}

    out_schema = "piece string, c double, ll double, viol long, plen long"
    ll_per_iter: list[float] = []
    final_counts: dict[str, int] = {}
    recon_viol = 0
    pieces_char_total = 0
    for _round in range(iters):
        logp = {p: math.log(pr) for p, pr in probs.items() if pr > 0.0}
        mpl = max_piece_len

        def seg_batches(batches):
            for pdf in batches:
                agg: dict[str, float] = {}
                ll = 0.0
                viol = 0
                plen = 0
                for w, c in zip(pdf["w"], pdf["c"]):
                    pieces, score = _viterbi_segment(w, logp, mpl)
                    if pieces is None or "".join(pieces) != w:
                        viol += int(c)
                        continue
                    ll += float(c) * score
                    plen += int(c) * sum(len(p) for p in pieces)
                    for p in pieces:
                        agg[p] = agg.get(p, 0.0) + float(c)
                rows = [(p, cnt, 0.0, 0, 0) for p, cnt in agg.items()]
                rows.append((None, 0.0, ll, viol, plen))
                yield pd.DataFrame(
                    rows, columns=["piece", "c", "ll", "viol", "plen"]
                )

        stats = (
            words.mapInPandas(seg_batches, out_schema)
            .groupBy("piece")
            .agg(
                F.sum("c").alias("c"),
                F.sum("ll").alias("ll"),
                F.sum("viol").alias("viol"),
                F.sum("plen").alias("plen"),
            )
            .collect()
        )
        new_counts: dict[str, int] = {}
        ll = 0.0
        recon_viol = 0
        pieces_char_total = 0
        for r in stats:
            if r["piece"] is None:
                ll += float(r["ll"])
                recon_viol += int(r["viol"])
                pieces_char_total += int(r["plen"])
            else:
                new_counts[r["piece"]] = int(r["c"])
        ll_per_iter.append(ll)
        final_counts = new_counts
        tot = float(sum(new_counts.values()))
        probs = {p: new_counts.get(p, 0) / tot for p in probs}

    vocab = [
        {"piece": p, "prob": probs[p], "count": final_counts.get(p, 0)}
        for p in sorted(probs, key=lambda p: (-probs[p], p))
        if probs[p] > 0.0
    ]
    words.unpersist()
    return {
        "vocab": vocab,
        "vocab_budget": vocab_size,
        "ll_per_iter": ll_per_iter,
        "chars": chars,
        "recon_violations": recon_viol,
        "pieces_char_total": pieces_char_total,
    }


# ---------------------------------------------------------------------------
# HTML boilerplate extraction (jusText / trafilatura family)
# ---------------------------------------------------------------------------
#
# Raw web text -> main-content extraction: segment the page into blocks at
# block-level tag boundaries, score each block by link density and stopword
# density, classify good (content) vs bad (chrome), then rescue short blocks
# (headings, single-line paragraphs) whose neighborhood is content — the
# block-classification shape of Pomikalek's jusText (2011) and the
# trafilatura default pipeline, simplified to two deterministic passes so a
# closed-form oracle can replay every decision. All codegen expressions
# (regexp/split/higher-order arrays + two window passes): no Python in the
# hot path, so the same plan runs a 100 TB crawl as scan+project plus one
# per-doc window (partitioned by doc — no global shuffle barrier).

# Elements whose CONTENT is never text: dropped wholesale before block
# segmentation (backreference \2 closes the same tag that opened). An
# OPENER whose closing tag never arrives consumes to end-of-input — the
# HTML5 parser's actual behavior for raw-text elements, and the safe
# failure mode (dropping too much beats classifying raw JS as content).
# Comments are stripped AFTER the element drop (commented-out markup is
# ubiquitous in crawl data and must never produce blocks; element-first
# order matters — HTML5's script-data state treats '<!--' inside a
# terminated <script> as script text, so comment-first would leak past
# the </script> and delete real content), with the same
# unterminated-to-EOF fallback.
_COMMENT_RE = r"(?s)(<!--.*?-->|<!--.*$)"
_DROP_ELEMENT_RE = (
    r"(?is)(<(script|style|noscript|svg|iframe)\b[^>]*>.*?</\2>"
    r"|<(script|style|noscript|svg|iframe)\b[^>]*>.*$)"
)

# Block-level boundary tags: a block is a maximal run of markup between any
# of these (open or close, either case). Inline tags (<a>, <b>, <span>, ...)
# stay inside their block.
_BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|blockquote|section"
    r"|article|header|footer|nav|aside|main|figure|figcaption|br|hr)\b[^>]*>"
)

_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"

# Classification thresholds — integer-arithmetic forms so oracles replay
# them exactly (no float comparison at the decision boundary):
#   bad   if 3 * anchor_chars > n_chars        (link density > 1/3)
#   short if n_chars < 25                       (too little evidence)
#   good  if 5 * stop_words >= n_words          (stopword density >= 0.2)
#   bad   otherwise
LINK_DENSITY_NUM = 3
SHORT_BLOCK_CHARS = 25
STOPWORD_DENSITY_DEN = 5


def _decode_entities(col: Column) -> Column:
    """Minimal HTML entity decode (the named entities that appear in
    running text); applied AFTER tag stripping so '&lt;script&gt;' decodes
    to literal text, never to markup."""
    out = col
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # last: '&amp;lt;' must yield '&lt;' the TEXT
    ):
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


def _block_text(raw: Column) -> Column:
    """Visible text of one block: strip remaining (inline) tags to spaces,
    decode entities, collapse whitespace."""
    return F.trim(
        F.regexp_replace(
            _decode_entities(F.regexp_replace(raw, r"(?s)<[^>]*>", " ")),
            r"\s+",
            " ",
        )
    )


def html_blocks(
    df, html_col: str = "html", id_col: str = "doc_id"
):
    """Segment HTML into classified blocks: one row per non-empty block —
    (id, block_rank, text, n_chars, anchor_chars, n_words, stop_words,
    cls in {'good','bad'}).

    Pass 1 scores each block in isolation (link density beats everything:
    a fully-linked block is chrome no matter how short); pass 2 rescues
    'short' blocks — headings, one-line paragraphs — iff the NEAREST
    non-short block in page order (looking both directions, at any
    distance: last/first ignorenulls over an unbounded per-doc window) is
    good. This is deliberately looser than jusText's strict adjacency: a
    heading separated from its article body by a run of short chrome
    blocks is still rescued, which is the behavior the oracle pins."""
    from pyspark.sql import Window as W

    raw = F.col("_raw")
    blocks = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.split(
                    # Raw-text ELEMENTS drop first, comments second: HTML5's
                    # script-data state treats '<!--' inside a terminated
                    # <script> as script text (</script> still closes), so
                    # comment-stripping first would leak past the closer and
                    # delete real content after it. A <script> opener inside
                    # a comment still over-drops to EOF — the documented
                    # safe direction (never classify raw JS as content).
                    F.regexp_replace(
                        F.regexp_replace(F.col(html_col), _DROP_ELEMENT_RE, " "),
                        _COMMENT_RE,
                        " ",
                    ),
                    _BLOCK_TAG_RE,
                )
            ).alias("_pos", "_raw"),
        )
        .select(
            id_col,
            "_pos",
            _block_text(raw).alias("text"),
            F.aggregate(
                F.transform(
                    F.regexp_extract_all(raw, F.lit(_ANCHOR_RE), 1),
                    lambda a: F.length(_block_text(a)),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("anchor_chars"),
        )
        .filter(F.length("text") > 0)
        .select(
            id_col,
            "_pos",
            "text",
            F.length("text").alias("n_chars"),
            "anchor_chars",
            F.size(F.split(F.col("text"), TOKEN_RE)).alias("n_words"),
            stopword_count(F.col("text")).alias("stop_words"),
        )
    )
    first_pass = (
        F.when(
            F.col("anchor_chars") * LINK_DENSITY_NUM > F.col("n_chars"), "bad"
        )
        .when(F.col("n_chars") < SHORT_BLOCK_CHARS, "short")
        .when(
            F.col("stop_words") * STOPWORD_DENSITY_DEN >= F.col("n_words"),
            "good",
        )
        .otherwise("bad")
    )
    scored = blocks.withColumn("_cls1", first_pass)
    w = W.partitionBy(id_col).orderBy("_pos")
    nonshort = F.when(F.col("_cls1") != "short", F.col("_cls1"))
    prev_cls = F.last(nonshort, ignorenulls=True).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    next_cls = F.first(nonshort, ignorenulls=True).over(
        w.rowsBetween(1, W.unboundedFollowing)
    )
    rescued = F.when(
        F.col("_cls1") == "short",
        F.when((prev_cls == "good") | (next_cls == "good"), "good").otherwise(
            "bad"
        ),
    ).otherwise(F.col("_cls1"))
    return (
        scored.withColumn("cls", rescued)
        .withColumn(
            "block_rank",
            F.row_number().over(W.partitionBy(id_col).orderBy("_pos")) - 1,
        )
        .select(
            id_col,
            "block_rank",
            "text",
            "n_chars",
            "anchor_chars",
            "n_words",
            "stop_words",
            "cls",
        )
    )


def extract_main_content(
    df, html_col: str = "html", id_col: str = "doc_id"
):
    """Per-document main-content extraction: the good blocks of
    :func:`html_blocks`, re-joined in page order — (id, content text,
    n_blocks, n_good, n_bad, content_chars, chrome_chars). A page whose
    every block is chrome yields content = '' with zero good blocks (the
    row survives — dropping it would silently shrink a crawl join)."""
    good = F.col("cls") == "good"
    ordered_good = F.array_sort(
        F.collect_list(F.when(good, F.struct("block_rank", "text")))
    )
    agg = (
        html_blocks(df, html_col=html_col, id_col=id_col)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(ordered_good, lambda s: s["text"]), " "
            ).alias("content"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(good.cast("bigint")).alias("n_good"),
            F.sum((~good).cast("bigint")).alias("n_bad"),
            F.sum(F.when(good, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("content_chars"),
            F.sum(F.when(~good, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("chrome_chars"),
        )
    )
    # Left join from the INPUT ids: a doc whose page yields zero non-empty
    # blocks (null html, empty string, script-only chrome) has no rows in
    # html_blocks at all — grouping alone would drop it from the output,
    # silently shrinking any crawl join downstream.
    return (
        df.select(id_col)
        .dropDuplicates([id_col])
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("content", F.lit("")).alias("content"),
            F.coalesce("n_blocks", F.lit(0).cast("bigint")).alias("n_blocks"),
            F.coalesce("n_good", F.lit(0).cast("bigint")).alias("n_good"),
            F.coalesce("n_bad", F.lit(0).cast("bigint")).alias("n_bad"),
            F.coalesce("content_chars", F.lit(0).cast("bigint")).alias(
                "content_chars"
            ),
            F.coalesce("chrome_chars", F.lit(0).cast("bigint")).alias(
                "chrome_chars"
            ),
        )
    )


# ---------------------------------------------------------------------------
# WordPiece tokenizer training (Schuster & Nakajima 2012 / BERT family)
# ---------------------------------------------------------------------------


def wordpiece_train(
    df,
    text_col: str = "text",
    n_merges: int = 8,
    sep: str = "\x01",
) -> list[dict]:
    """Train a word-level WordPiece merge table — the third standard
    subword family next to BPE (``bpe_train``) and unigram-LM
    (``unigram_lm_train``). Identical distributed machinery to BPE (pair
    counting, anchored non-overlapping rewrite via the shared
    ``_merge_rewrite``, so the exact token-conservation law carries over);
    the ONE difference is the merge election: WordPiece maximizes the
    likelihood ratio score(a,b) = count(ab) / (count(a) * count(b)) — the
    gain in a unigram LM's corpus likelihood from fusing the pair — where
    BPE takes raw count(ab). A pair of RARE tokens that almost always
    co-occur beats a frequent-but-independent pair.

    Per round: one pair-count agg + one unigram-count agg (both
    vocabulary-bounded, map-side combined), the argmax on the driver
    (score desc — an IEEE-double ratio both engines compute bit-identically
    — then pair asc, fully deterministic), one regexp_replace corpus
    rewrite. Stop rule matches BPE: best pair must occur >= 2 times.
    Unlike BPE's, the winning score is NOT monotone across rounds (a merge
    shrinks its constituents' unigram counts, which can RAISE other pairs'
    ratios), so the audit pins round 1's election to a closed-form oracle
    instead of an ordering law. Returns
    [{rank, pair, pair_count, count_a, count_b, score, applied}, ...];
    apply with ``bpe_apply`` (same merge-table format).
    """
    cur = df.select(F.col(text_col).alias("t"))
    merges: list[dict] = []
    for r in range(n_merges):
        uni = (
            cur.select(
                F.explode(
                    F.filter(tokens(F.col("t")), lambda t: t != F.lit(""))
                ).alias("u")
            )
            .groupBy("u")
            .agg(F.count("*").alias("cu"))
        )
        pairs = (
            cur.select(F.explode(word_bigrams(F.col("t"))).alias("g"))
            .groupBy("g")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
        )
        top = (
            pairs.join(
                uni.select(F.col("u").alias("_a"), F.col("cu").alias("ca")),
                F.element_at(F.split("g", " "), 1) == F.col("_a"),
            )
            .join(
                uni.select(F.col("u").alias("_b"), F.col("cu").alias("cb")),
                F.element_at(F.split("g", " "), 2) == F.col("_b"),
            )
            .select(
                "g",
                "c",
                "ca",
                "cb",
                (F.col("c").cast("double") / (F.col("ca") * F.col("cb"))).alias(
                    "score"
                ),
            )
            .orderBy(F.col("score").desc(), "g")
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        a, b = row["g"].split(" ", 1)
        pat, repl = _merge_rewrite(a, b, sep)
        applied = int(
            cur.agg(F.sum(F.regexp_count("t", F.lit(pat)))).first()[0]
        )
        cur = cur.withColumn("t", F.regexp_replace("t", pat, repl))
        merges.append(
            {
                "rank": r,
                "pair": row["g"],
                "pair_count": int(row["c"]),
                "count_a": int(row["ca"]),
                "count_b": int(row["cb"]),
                "score": float(row["score"]),
                "applied": applied,
            }
        )
    return merges


def wordpiece_greedy_apply(
    df,
    vocab: set[str] | list[str],
    text_col: str = "text",
    unk: str = "[UNK]",
):
    """Greedy longest-match-first subword segmentation — BERT WordPiece's
    INFERENCE algorithm (Devlin et al. 2019): per whitespace word,
    repeatedly take the LONGEST vocabulary piece that prefixes the
    remaining suffix; continuation pieces are emitted with the
    conventional ``##`` marker (presentational only — matching is against
    the plain piece, so any piece vocabulary works, including one trained
    by ``unigram_lm_train`` or ``wordpiece_train``). A word with an
    unmatchable position becomes ONE ``unk`` token (the whole word, BERT's
    behavior) — impossible when the vocab contains every character of the
    corpus.

    Narrow ``mapInPandas``: the vocab rides in the task closure (O(vocab)
    bytes), no shuffle, no corpus rescan; greedy is O(|word| ×
    max_piece_len) per word with no DP table, which is why it is the
    standard serving-time tokenizer.
    Returns the input columns plus ``pieces`` (\\x01-joined, ##-marked)
    and ``n_pieces``."""
    import re

    vocab_set = set(vocab)
    max_len = max((len(p) for p in vocab_set), default=1)
    schema = (
        ", ".join(f"{c} {t}" for c, t in df.dtypes)
        + ", pieces string, n_pieces long"
    )
    # Same ASCII word boundaries as training/Viterbi apply (Java \s parity).
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def seg_word(w: str) -> list[str]:
        out, i, n = [], 0, len(w)
        while i < n:
            j = min(n, i + max_len)
            while j > i and w[i:j] not in vocab_set:
                j -= 1
            if j == i:  # no piece matches this position: whole word -> UNK
                return [unk]
            out.append(w[i:j] if i == 0 else "##" + w[i:j])
            i = j
        return out

    def tok(batches):
        for pdf in batches:
            pieces_col, n_col = [], []
            for t in pdf[text_col]:
                out = []
                for w in ws.split(t or ""):
                    if w:
                        out.extend(seg_word(w))
                pieces_col.append("\x01".join(out))
                n_col.append(len(out))
            pdf = pdf.copy()
            pdf["pieces"] = pieces_col
            pdf["n_pieces"] = n_col
            yield pdf

    return df.mapInPandas(tok, schema)


# --- Encoding repair (ftfy-family mojibake fixing) ----------------------------

# The 27 characters Windows-1252 assigns in the 0x80-0x9F block. Text that
# was UTF-8 but got decoded as cp1252 shows these (the classic mangled
# smart quote); to reinterpret the original bytes JVM-side (Spark's
# encode() supports ISO-8859-1 but not cp1252) they first translate back
# to the Latin-1 control characters occupying the same byte values.
_CP1252_CHARS = bytes(
    b for b in range(0x80, 0xA0) if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
).decode("cp1252")
_CP1252_BYTES = "".join(
    chr(b) for b in range(0x80, 0xA0) if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
)

# A mojibake SIGNATURE: a UTF-8 lead byte rendered as its Latin-1 char
# (U+00C2-U+00F4), followed by a continuation byte's char (U+0080-U+00BF)
# - real language essentially never puts those letters directly before C1
# controls or the continuation-range punctuation.
_MOJIBAKE_RE = "[\u00c2-\u00f4][\u0080-\u00bf]"

# Any character outside Latin-1's byte range: such a string cannot be a
# Latin-1 misdecode (and Spark 4's ANSI encode() would THROW on it, not
# substitute '?'), so it must never reach the re-encode.
_NON_LATIN1_RE = "[^\u0000-\u00ff]"


def fix_mojibake(col: Column, passes: int = 1) -> Column:
    """Repair UTF-8-decoded-as-Latin-1/cp1252 mojibake (the ftfy
    fix_encoding family - 'cafÃ©' -> 'café'): translate cp1252-visible
    bytes back to their Latin-1 positions, re-encode as Latin-1
    (recovering the ORIGINAL byte stream - every Latin-1 char maps to
    exactly one byte, so the string's bytes come back exactly), and
    re-decode as UTF-8. The repair applies ONLY when (a) the mojibake
    signature is present, (b) every character is in Latin-1's byte range
    (a string with real non-Latin-1 text cannot be a Latin-1 misdecode -
    and ANSI encode() would abort the job on it, so the branch is guarded
    BEFORE the encode is evaluated), and (c) the recovered bytes are
    valid UTF-8 (``is_valid_utf8`` - the bytes really were UTF-8).
    Anything else passes through UNCHANGED: the operator can only ever
    remove mojibake, never introduce damage; clean text is a fixed point.

    ``passes`` > 1 repairs N-times-mangled text (each pass unwinds one
    decode error), like ftfy's fixing loop. Pure codegen - repairing
    100 TB is a scan, no UDF."""
    out = col
    for _ in range(passes):
        pre = F.translate(out, _CP1252_CHARS, _CP1252_BYTES)
        cond = pre.rlike(_MOJIBAKE_RE) & ~pre.rlike(_NON_LATIN1_RE)
        latin = F.encode(pre, "ISO-8859-1")
        # nested when(): the encode/decode expressions are evaluated only
        # on rows whose guard holds (If takes one branch per row)
        fixed = F.when(
            cond, F.when(F.is_valid_utf8(latin), F.decode(latin, "UTF-8"))
        )
        out = F.coalesce(fixed, out)
    return out


def badword_stats(
    df,
    badwords: list[str],
    text_col: str = "text",
) -> "DataFrame":
    """Lexicon-hit statistics for the C4 'bad words' document filter
    (Raffel et al. 2020 drop any page containing a listed word; FineWeb
    keeps a fractional threshold instead). Appends ``n_tokens``
    (whitespace tokens), ``n_badwords`` (MULTISET count — every
    occurrence, not distinct hits, so a threshold on the fraction means
    what it says), and ``badword_frac``. Matching is lowercase
    whole-token, so 'class' never trips a list containing 'ass'.

    The lexicon enters the plan as a literal array (C4's list is a few
    hundred words); the per-token membership test is a codegen
    array_contains — one scan, no shuffle, no Python. A multi-million-term
    lexicon should go through the explode + broadcast-join path instead
    (the :func:`~etl_lala_spark.operators.web.domain_blocklist_filter`
    shape)."""
    terms = sorted({w.lower() for w in badwords})
    if not terms:
        raise ValueError("badword_stats: the lexicon is empty")
    lex = F.lit(terms)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    n_tokens = F.size(toks).cast("bigint")
    n_bad = F.size(
        F.filter(toks, lambda t: F.array_contains(lex, t))
    ).cast("bigint")
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("n_badwords", n_bad)
        .withColumn(
            "badword_frac",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("n_badwords") / F.col("n_tokens"), 6),
            ).otherwise(F.lit(None).cast("double")),
        )
    )


#: Abbreviations whose trailing period does NOT end a sentence (rule-based
#: splitter lexicon; longest-first so alternation can't stop at a prefix).
SENT_ABBREVS = (
    "mrs", "mr", "ms", "dr", "prof", "sr", "jr", "st", "no", "vs",
    "etc", "e.g", "i.e", "cf", "fig", "al", "approx",
)


def split_sentences(df, text_col: str = "text"):
    """Rule-based sentence segmentation (the pre-chunking step of RAG /
    sentence-dedup pipelines): a sentence ends at a run of ``.!?``
    followed by whitespace, EXCEPT when the period belongs to a known
    abbreviation (:data:`SENT_ABBREVS` — 'Dr. Smith' and 'see fig. 3'
    stay whole; an abbreviation at true sentence end is the documented
    rule-based tradeoff). Three codegen rewrites: (1) protect
    abbreviation periods to ``\\x02`` (case-insensitive whole-token),
    (2) mark sentence ends with ``\\x01`` — the terminator run stays with
    its sentence, ellipses split once, (3) split, restore periods, trim,
    drop empties. Keeps every input column, appends ``sentence_id``
    (posexplode order BEFORE the empty filter, so ids are stable) and
    ``sentence``. One scan + one-to-many explode — 100 TB segments in
    codegen with no shuffle and no Python."""
    abbr = "|".join(a.replace(".", r"\.") for a in SENT_ABBREVS)
    # Crawl text can already contain the \x01/\x02 control bytes used as
    # working markers — strip them first so garbage bytes can't fabricate
    # sentence boundaries or phantom periods.
    clean = F.translate(F.col(text_col), "\x01\x02", "")
    protected = F.regexp_replace(clean, f"(?i)\\b({abbr})\\.", "$1\x02")
    marked = F.regexp_replace(protected, r"([.!?]+)\s+", "$1\x01")
    out = df.select(
        *df.columns,
        F.posexplode(F.split(marked, "\x01")).alias("sentence_id", "_s"),
    )
    return (
        out.withColumn("sentence", F.trim(F.translate("_s", "\x02", ".")))
        .filter(F.col("sentence") != "")
        .drop("_s")
    )


#: The stopword-presence lexicon of Gopher rule A1.1-7 (Rae et al. 2021):
#: a document must contain at least 2 of these to look like running prose.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
):
    """The Gopher document-quality rule battery (Rae et al. 2021, A1.1 —
    the rule set C4's successors, Dolma, and FineWeb's 'Gopher filters'
    reuse): per document, word count bounds, mean word length bounds,
    symbol-to-word ratio (# and ellipsis), bullet-started and
    ellipsis-ended line fractions, alphabetic-word fraction, and
    required-stopword presence. Appends the raw metrics (fractions
    rounded to 6), one boolean per rule, and ``keep`` (all rules pass).
    Degenerate inputs fail closed: a wordless doc fails the word-count
    rule, a lineless doc's line rules pass vacuously (no lines to
    offend), and no division ever touches a zero denominator.

    Entirely within-row codegen (splits + folds + regexp counts) — the
    battery adds zero shuffles and filters 100 TB at scan speed."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words).cast("bigint")
    word_chars = F.length(F.regexp_replace(F.col(text_col), r"\s+", "")).cast(
        "bigint"
    )
    mean_wl = F.when(n_words > 0, F.round(word_chars / n_words, 6))
    symbols = (
        F.regexp_count(F.col(text_col), F.lit("#"))
        + F.regexp_count(F.col(text_col), F.lit(r"\.\.\.|…"))
    ).cast("bigint")
    sym_ratio = F.when(n_words > 0, F.round(symbols / n_words, 6))
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), F.trim),
        lambda ln: ln != F.lit(""),
    )
    n_lines = F.size(lines).cast("bigint")
    bullet_frac = F.when(
        n_lines > 0,
        F.round(
            F.size(F.filter(lines, lambda ln: ln.rlike(r"^[-*•‣▪]"))) / n_lines, 6
        ),
    )
    ellipsis_frac = F.when(
        n_lines > 0,
        F.round(
            F.size(F.filter(lines, lambda ln: ln.rlike(r"(\.\.\.|…)$"))) / n_lines,
            6,
        ),
    )
    alpha_frac = F.when(
        n_words > 0,
        F.round(
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words, 6
        ),
    )
    stop_lit = F.lit(list(GOPHER_STOPWORDS))
    lwords = F.array_distinct(F.transform(words, F.lower))
    stop_hits = F.size(
        F.filter(stop_lit, lambda s: F.array_contains(lwords, s))
    ).cast("bigint")
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("symbol_word_ratio", sym_ratio)
        .withColumn("bullet_line_frac", bullet_frac)
        .withColumn("ellipsis_line_frac", ellipsis_frac)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn("stop_hits", stop_hits)
    )
    rules = {
        "r_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "r_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "r_symbol_ratio": F.col("symbol_word_ratio") <= max_symbol_word_ratio,
        "r_bullet_lines": F.coalesce(
            F.col("bullet_line_frac") <= max_bullet_line_frac, F.lit(True)
        ),
        "r_ellipsis_lines": F.coalesce(
            F.col("ellipsis_line_frac") <= max_ellipsis_line_frac, F.lit(True)
        ),
        "r_alpha_words": F.col("alpha_word_frac") >= min_alpha_word_frac,
        "r_stopwords": F.col("stop_hits") >= min_stop_hits,
    }
    keep = F.lit(True)
    for name, cond in rules.items():
        cond = F.coalesce(cond, F.lit(False)) if name not in (
            "r_bullet_lines", "r_ellipsis_lines"
        ) else cond
        out = out.withColumn(name, cond)
        keep = keep & F.col(name)
    return out.withColumn("keep", keep)


#: messages array of an SFT/chat-format record ({"role","content"} turns).
CHAT_SCHEMA = "array<struct<role string, content string>>"


def chat_turn_stats(df, json_col: str = "messages_json"):
    """Instruction-data (SFT) transcript hygiene — the chat-format
    counterpart of the pretraining quality battery: parse a JSON
    ``messages`` array and append the checks every fine-tuning pipeline
    runs before training. Columns: ``parse_ok`` (malformed JSON rows are
    kept, flagged, with stats NULL), ``n_turns`` (system excluded),
    ``has_system``, ``roles_ok`` (after an optional leading system turn,
    roles must strictly alternate user/assistant starting at user),
    ``ends_assistant`` (a trailing user turn has no training target),
    ``has_empty_content``, ``user_chars`` / ``assistant_chars`` (codegen
    folds), and ``keep`` (all checks pass). One scan, within-row
    higher-order functions only — no shuffle, no Python."""
    msgs = F.from_json(F.col(json_col), CHAT_SCHEMA)
    parse_ok = msgs.isNotNull() & (F.size(msgs) > 0)
    has_system = parse_ok & (F.element_at(msgs, 1)["role"] == "system")
    body = F.when(
        has_system, F.slice(msgs, 2, F.greatest(F.size(msgs) - 1, F.lit(0)))
    ).otherwise(msgs)
    n_turns = F.size(body)
    # strict alternation: turn i (1-based) must be user when i is odd,
    # assistant when even; an empty body fails (nothing to train on)
    idx = F.sequence(F.lit(1), n_turns)
    roles_ok = F.when(
        parse_ok & (n_turns > 0),
        F.forall(
            F.zip_with(
                body,
                idx,
                lambda m, i: m["role"]
                == F.when(i % 2 == 1, "user").otherwise("assistant"),
            ),
            lambda ok: ok,
        ),
    ).otherwise(F.lit(False))
    ends_assistant = F.coalesce(
        F.element_at(body, -1)["role"] == "assistant", F.lit(False)
    )
    empty = F.exists(
        msgs, lambda m: m["content"].isNull() | (F.trim(m["content"]) == "")
    )
    def chars(role: str):
        return F.aggregate(
            F.filter(body, lambda m: m["role"] == role),
            F.lit(0).cast("bigint"),
            lambda acc, m: acc + F.coalesce(F.length(m["content"]), F.lit(0)),
        )
    out = (
        df.withColumn("parse_ok", F.coalesce(parse_ok, F.lit(False)))
        .withColumn("has_system", F.when(parse_ok, has_system))
        .withColumn("n_turns", F.when(parse_ok, n_turns.cast("bigint")))
        .withColumn("roles_ok", roles_ok)
        .withColumn("ends_assistant", F.when(parse_ok, ends_assistant))
        .withColumn("has_empty_content", F.when(parse_ok, empty))
        .withColumn("user_chars", F.when(parse_ok, chars("user")))
        .withColumn("assistant_chars", F.when(parse_ok, chars("assistant")))
    )
    keep = (
        F.col("parse_ok")
        & F.col("roles_ok")
        & F.coalesce(F.col("ends_assistant"), F.lit(False))
        & ~F.coalesce(F.col("has_empty_content"), F.lit(True))
    )
    return out.withColumn("keep", keep)


#: 1:1 unicode-punctuation folds (smart quotes, dashes, spaces) applied as
#: one translate; multi-char folds (ellipsis) follow as replaces.
_PUNCT_FOLD_1TO1 = {
    "‘": "'", "’": "'", "‚": "'", "′": "'",
    "“": '"', "”": '"', "„": '"', "″": '"',
    "–": "-", "—": "-", "―": "-", "−": "-",
    " ": " ", " ": " ", " ": " ", " ": " ",
    " ": " ", "　": " ",
}
_PUNCT_FOLD_MULTI = (("…", "..."),)


def normalize_punct(col: Column) -> Column:
    """Fold typographic unicode punctuation to its ASCII form — the
    pre-tokenization normalization every tokenizer pipeline applies so
    ``“word”`` and ``"word"`` share subwords and dedup keys: smart
    quotes/primes → ``'``/``"``, en/em/horizontal-bar dashes and minus →
    ``-``, no-break and typographic spaces → space, ellipsis → ``...``.
    One ``translate`` (all 1:1 folds in a single pass) plus one replace
    per multi-char fold — pure codegen, zero-cost at any corpus size.
    Deliberately NOT full NFKC: these folds are unambiguous punctuation
    identities; letter-level compatibility folding (ligatures, full-width
    forms) changes linguistic content and belongs to an explicit opt-in."""
    src = "".join(_PUNCT_FOLD_1TO1)
    dst = "".join(_PUNCT_FOLD_1TO1.values())
    out = F.translate(col, src, dst)
    for a, b in _PUNCT_FOLD_MULTI:
        out = F.replace(out, F.lit(a), F.lit(b))
    return out
