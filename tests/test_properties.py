"""Property-based tests (hypothesis) for the pure-Python codec layer — the
part of the engine whose correctness the DuckDB oracle cannot see.

The DBF writer/parser pair (sources/dbc.py) round-trips arbitrary latin1
string tables; the reference's converter semantics (stringified values,
latin1, stripped padding — DIAGNOSTICO_TAMANHO_JSON.md:246-252,
OTIMIZACAO_API_PYTHON.md:202) define the normalization applied on read.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_lala_spark.sources import dbc

# DBF constraint surface: field names ≤ 10 ASCII chars, values ≤ field_len
# latin1 chars; values are space-padded on write and stripped on read, so the
# round-trip invariant is on stripped values.
name_st = st.text(
    alphabet=st.characters(whitelist_categories=("Lu",), max_codepoint=90),
    min_size=1,
    max_size=10,
)
value_st = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=255),
    max_size=20,
)


@st.composite
def tables(draw):
    cols = draw(st.lists(name_st, min_size=1, max_size=8, unique=True))
    rows = draw(
        st.lists(
            st.lists(value_st, min_size=len(cols), max_size=len(cols)),
            max_size=20,
        )
    )
    return cols, rows


@settings(max_examples=200, deadline=None)
@given(tables())
def test_dbf_roundtrip(table):
    cols, rows = table
    data = dbc.write_dbf(cols, rows, field_len=20)
    got_cols, got_values = dbc.parse_dbf_columns(data)
    assert got_cols == cols
    assert got_values == [[r[i].strip() for r in rows] for i in range(len(cols))]


@settings(max_examples=100, deadline=None)
@given(tables(), st.integers(min_value=0, max_value=25))
def test_dbf_limit_pushdown(table, limit):
    """S9 record-limit pushdown: exactly min(limit, n) rows, same prefix."""
    cols, rows = table
    data = dbc.write_dbf(cols, rows, field_len=20)
    _, got = dbc.parse_dbf_columns(data, limit=limit)
    _, full = dbc.parse_dbf_columns(data)
    assert got == [values[:limit] for values in full]


@settings(max_examples=100, deadline=None)
@given(tables())
def test_dbf_header_matches_full_parse(table):
    cols, rows = table
    data = dbc.write_dbf(cols, rows, field_len=20)
    assert dbc.parse_dbf_header(data) == cols


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2000), st.sampled_from([4, 5, 6]))
def test_implode_literal_roundtrip(blob, dict_bits):
    """Implode decoder inverts the literal-mode encoder on arbitrary bytes."""
    from etl_lala_spark.sources import implode

    assert implode.decompress(implode.compress_literal(blob, dict_bits)) == blob


@settings(max_examples=200, deadline=None)
@given(tables())
def test_dbc_roundtrip(table):
    """.dbc container round trip: DBF → implode container → identical DBF."""
    cols, rows = table
    dbf_bytes = dbc.write_dbf(cols, rows, field_len=20)
    assert dbc.dbc_to_dbf(dbc.dbf_to_dbc(dbf_bytes)) == dbf_bytes


def test_hll_rollup_estimate_close_to_exact(spark, sf_dir):
    """Unioning per-day HLL sketches must estimate per-type distinct users
    within 5% of the exact count (HLL lgK=12 gives ~1.6% stddev). Since
    r11 the query carries the exact count and the bound flag itself (its
    DuckDB oracle pins them); this pytest independently recomputes the
    exact side and asserts the flag AND the published exact agree."""
    from pyspark.sql import functions as F

    from etl_lala_spark.io import load_events
    from etl_lala_spark.plans import query_fns

    rows = {
        r["event_type"]: r
        for r in query_fns()["events_distinct_rollup_hll"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["exact"]
        for r in load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(rows) == set(exact)
    for t, r in rows.items():
        assert r["exact_users"] == exact[t], (t, r["exact_users"], exact[t])
        assert r["approx_ok"], t


@settings(max_examples=12, deadline=None)
@given(
    base=st.dictionaries(
        st.integers(0, 12), st.text("ab", min_size=1, max_size=2), max_size=8
    ),
    log=st.lists(
        st.tuples(
            st.integers(0, 12),                      # key
            st.integers(0, 3),                       # seq (ties likely)
            st.sampled_from(["U", "I", "D", None]),  # op incl. NULL
            st.text("xy", min_size=1, max_size=2),   # payload
        ),
        max_size=12,
    ),
)
def test_merge_changelog_matches_reference_fold(spark, base, log):
    """Property: merge_changelog == a pure-Python latest-wins fold with the
    documented tie-break (lexicographically greatest (op, payload) at equal
    seq; NULL op sorts lowest and never deletes)."""
    from etl_lala_spark.operators.relational import merge_changelog

    base_df = spark.createDataFrame(
        list(base.items()) or [(None, None)], "k int, v string"
    ).filter("k IS NOT NULL")
    log_df = spark.createDataFrame(
        log or [(None, None, None, None)], "k int, seq int, op string, v string"
    ).filter("k IS NOT NULL")

    # reference fold: winner per key by (seq, op, payload); None op sorts lowest
    winners = {}
    for k, seq, op, v in log:
        cand = (seq, (op is not None, op or ""), v)
        if k not in winners or cand > winners[k][0]:
            winners[k] = (cand, op, v)
    expect = {}
    for k, v in base.items():
        if k not in winners:
            expect[k] = v
    for k, (_, op, v) in winners.items():
        if op != "D":
            expect[k] = v

    got = {
        r["k"]: r["v"]
        for r in merge_changelog(base_df, log_df, key="k").collect()
    }
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    base=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=30,
    ),
    cur=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        max_size=30,
    ),
)
def test_drift_psi_matches_reference_fold(spark, base, cur):
    """Property: drift_psi == a pure-Python equal-width-bucket PSI fold —
    identical lo/hi/width arithmetic, edge clamping, ε-smoothed terms, and
    empty-side try_divide semantics (zero fractions, not errors)."""
    import math

    from pyspark.sql import functions as F

    from etl_lala_spark.operators.relational import drift_psi

    rows = [(float(v), 1) for v in base] + [(float(v), 0) for v in cur]
    df = spark.createDataFrame(rows, "v double, is_base int")
    got = {
        r["bucket"]: r
        for r in drift_psi(df, "v", F.col("is_base") == 1, n_buckets=10).collect()
    }

    lo, hi = min(base), max(base)
    width = (hi - lo) / 10.0

    def bucket(v: float) -> int:
        if width <= 0:
            return 1
        # Same double-space clamp as the engine: the raw ratio can exceed
        # 2^63 (or overflow to inf) when width is tiny, so clamp before
        # floor — math.floor(inf) would itself raise here.
        ratio = min(10.0, max(0.0, (v - lo) / width))
        return min(10, max(1, math.floor(ratio) + 1))

    hist: dict[int, list[int]] = {}
    for v in base:
        hist.setdefault(bucket(v), [0, 0])[0] += 1
    for v in cur:
        hist.setdefault(bucket(v), [0, 0])[1] += 1
    bt, ct = len(base), len(cur)

    assert set(got) == set(hist)
    for b, (bn, cn) in hist.items():
        p = bn / bt if bt else 0.0
        q = cn / ct if ct else 0.0
        term = (p - q) * math.log((p + 1e-6) / (q + 1e-6))
        r = got[b]
        assert (r["base_n"], r["cur_n"]) == (bn, cn), (b, r)
        assert abs(r["base_frac"] - p) <= 1e-6
        assert abs(r["cur_frac"] - q) <= 1e-6
        assert abs(r["psi_term"] - term) <= 1e-6


@settings(max_examples=120, deadline=None)
@given(
    junk=st.binary(min_size=0, max_size=300),
    flip_pos=st.integers(0, 10_000),
    flip_val=st.integers(0, 255),
)
def test_jpeg_decoder_degrades_on_arbitrary_bytes(junk, flip_pos, flip_val):
    """Scan-side degrade contract: decode_jpeg over arbitrary bytes — raw
    junk, junk behind a real SOI, and single-byte corruptions of a VALID
    stream — must either decode or raise exactly ValueError /
    NotImplementedError (the two types mjpeg_frame_decode's degrade path
    catches). Any struct.error / IndexError / KeyError escaping here would
    kill a Spark task on one bad frame."""
    from etl_lala_spark.operators.jpeg import decode_jpeg, encode_jpeg

    candidates = [junk, b"\xff\xd8" + junk]
    valid = bytearray(
        encode_jpeg(16, 8, bytes(range(128)), channels=1, quality=60)
    )
    valid[flip_pos % len(valid)] = flip_val
    candidates.append(bytes(valid))
    for blob in candidates:
        try:
            w, h, ch, px = decode_jpeg(blob)
            assert len(px) == w * h * ch
        except (ValueError, NotImplementedError):
            pass


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=8, max_value=40),
    st.sampled_from([1, 3]),
    st.booleans(),
    st.integers(min_value=25, max_value=95),
    st.integers(min_value=0, max_value=5),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_progressive_jpeg_equals_baseline_decode_property(
    w, h, ch, sub, quality, restart, seed
):
    """PROPERTY: for any image/quality/subsampling/restart-interval, the
    progressive (SOF2) stream decodes to EXACTLY the pixels of the
    baseline stream — the two encoders share quantized coefficients, so
    any divergence is a successive-approximation, EOB-run, refinement, or
    restart-resync bug in one of the entropy paths."""
    import numpy as np

    from etl_lala_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8).tobytes()
    sub = sub and ch == 3
    base = encode_jpeg(w, h, img, channels=ch, quality=quality, subsample=sub)
    prog = encode_jpeg_progressive(
        w, h, img, channels=ch, quality=quality, subsample=sub,
        restart_interval=restart,
    )
    assert decode_jpeg(prog) == decode_jpeg(base)


@settings(max_examples=60, deadline=None)
@given(
    st.binary(min_size=0, max_size=300),
    st.integers(min_value=0, max_value=400),
    st.integers(min_value=0, max_value=255),
)
def test_progressive_jpeg_decoder_never_crashes_on_corruption(junk, flip_pos, flip_val):
    """PROPERTY: corrupted progressive streams either decode to a
    consistent buffer or raise ValueError/NotImplementedError — the two
    exception types the multimodal degrade path catches — never an
    uncontrolled crash that would kill a Spark task."""
    from etl_lala_spark.operators.jpeg import decode_jpeg, encode_jpeg_progressive

    valid = bytearray(
        encode_jpeg_progressive(16, 16, bytes(range(256)), channels=1, quality=60)
    )
    valid[flip_pos % len(valid)] = flip_val
    for blob in (junk, b"\xff\xd8" + junk, bytes(valid)):
        try:
            w, h, ch, px = decode_jpeg(blob)
            assert len(px) == w * h * ch
        except (ValueError, NotImplementedError):
            pass


# --- unigram tokenizer DP (pure Python, oracle can't see inside) ----------

import math

word_st = st.text(
    alphabet=st.sampled_from("abcd"), min_size=1, max_size=8
)


@st.composite
def vocab_and_word(draw):
    word = draw(word_st)
    chars = sorted(set("abcd"))
    extras = draw(
        st.lists(
            st.text(alphabet=st.sampled_from("abcd"), min_size=2, max_size=4),
            max_size=6,
            unique=True,
        )
    )
    logp = {}
    for i, p in enumerate(chars + extras):
        logp[p] = math.log(draw(st.floats(min_value=0.01, max_value=0.5)))
    return word, logp


@settings(max_examples=200, deadline=None)
@given(vocab_and_word())
def test_viterbi_segment_reconstructs_and_is_optimal(case):
    """The DP must return a segmentation that (a) concatenates back to the
    word, (b) scores exactly the sum of its piece log-probs, and (c) is
    OPTIMAL — no brute-force segmentation scores strictly higher."""
    from etl_lala_spark.operators.text import _viterbi_segment

    word, logp = case
    pieces, score = _viterbi_segment(word, logp, max_len=4)
    assert pieces is not None, "single chars are in the vocab"
    assert "".join(pieces) == word
    assert abs(score - sum(logp[p] for p in pieces)) < 1e-9

    def all_segs(w):
        if not w:
            yield []
            return
        for L in range(1, min(4, len(w)) + 1):
            head = w[:L]
            if head in logp:
                for rest in all_segs(w[L:]):
                    yield [head] + rest

    best = max(
        (sum(logp[p] for p in seg) for seg in all_segs(word)),
        default=None,
    )
    assert best is not None
    assert score >= best - 1e-9


# --- HTML block extraction / line dedup robustness --------------------------
#
# The web-facing operators run on crawl garbage by definition; hypothesis
# drives them with adversarial tag soup and asserts the structural
# invariants that no input may break (the oracle gates pin exact values on
# well-formed pages; these pin "never crashes, never emits nonsense" on
# malformed ones).

_frag = st.sampled_from(
    [
        "<p>", "</p>", "<div>", "</div>", "<a href='x'>", "</a>", "<br>",
        "<script>", "</script>", "<!--", "-->", "<h1>", "</h1>", "&amp;",
        "&lt;", "the old mill", "quick fox", "x", "<", ">", " ", "\n",
        "subscribe now",
    ]
)
_soup = st.lists(_frag, min_size=0, max_size=30).map("".join)


@settings(max_examples=25, deadline=None)
@given(st.lists(_soup, min_size=1, max_size=4))
def test_html_blocks_tag_soup_invariants(spark, soups):
    """Arbitrary tag soup: html_blocks never throws, every emitted block is
    non-empty single-spaced text, classes are only good/bad, and per-doc
    block ranks are dense from 0; extract_main_content returns exactly one
    row per input doc with consistent counts."""
    from etl_lala_spark.operators import text as tx

    df = spark.createDataFrame(
        list(enumerate(soups)), "doc_id long, html string"
    )
    rows = tx.html_blocks(df).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        assert r["cls"] in ("good", "bad")
        assert r["n_chars"] == len(r["text"]) > 0
        assert "  " not in r["text"] and r["text"] == r["text"].strip()
        per_doc.setdefault(r["doc_id"], []).append(r["block_rank"])
    for ranks in per_doc.values():
        assert sorted(ranks) == list(range(len(ranks)))
    out = {r["doc_id"]: r for r in tx.extract_main_content(df).collect()}
    assert sorted(out) == list(range(len(soups)))  # one row per input doc
    for d, r in out.items():
        assert r["n_good"] + r["n_bad"] == r["n_blocks"]
        assert r["n_blocks"] == len(per_doc.get(d, []))


_line = st.sampled_from(
    ["shared banner", "alpha beta", "gamma", "", "  ", "delta five six"]
)
_linedoc = st.lists(_line, min_size=0, max_size=6).map("\n".join)


@settings(max_examples=25, deadline=None)
@given(st.lists(_linedoc, min_size=1, max_size=5))
def test_line_dedup_invariants(spark, docs):
    """Arbitrary line corpora: one output row per input doc (even all-empty
    docs), n_removed <= n_lines, surviving lines are a subset of the doc's
    own lines in order, and every line occurring in >= 2 distinct docs is
    gone from ALL outputs."""
    from collections import Counter

    from etl_lala_spark.operators import dedup as dd

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dd.line_dedup(df).collect()}
    assert sorted(out) == list(range(len(docs)))
    freq = Counter()
    for t in docs:
        freq.update({ln.strip() for ln in t.split("\n") if ln.strip()})
    banned = {ln for ln, c in freq.items() if c >= 2}
    for d, t in enumerate(docs):
        orig = [ln.strip() for ln in t.split("\n") if ln.strip()]
        r = out[d]
        assert r["n_lines"] == len(orig)
        assert 0 <= r["n_removed"] <= r["n_lines"]
        kept = r["clean_text"].split("\n") if r["clean_text"] else []
        assert kept == [ln for ln in orig if ln not in banned]


_wp_word = st.text(alphabet="abc#", min_size=1, max_size=8)
_wp_piece = st.text(alphabet="abc#", min_size=1, max_size=3)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(_wp_word, min_size=1, max_size=6),
    st.sets(_wp_piece, min_size=1, max_size=12),
)
def test_wordpiece_greedy_reconstruction_property(spark, words, vocab):
    """For ANY vocab and any words (including '#'-bearing content, the
    marker-collision case): every segmented word reconstructs exactly by
    stripping the leading ## of continuations, or is exactly [UNK]; greedy
    never mixes the two within a word."""
    from etl_lala_spark.operators import text as tx

    # One word per row: each row's piece list IS that word's segmentation
    # (no marker-based group splitting, which a head piece whose CONTENT
    # starts with '##' would defeat).
    df = spark.createDataFrame(
        list(enumerate(words)), "doc_id long, text string"
    )
    for r in tx.wordpiece_greedy_apply(df, vocab).collect():
        w = words[r["doc_id"]]
        g = r["pieces"].split("\x01")
        assert r["n_pieces"] == len(g)
        if g == ["[UNK]"]:
            continue
        assert "[UNK]" not in g  # never mixed within a word
        recon = g[0] + "".join(p[2:] for p in g[1:])
        assert recon == w


_bloom_key = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_bloom_key, min_size=1, max_size=60, unique=True),
    st.lists(_bloom_key, min_size=1, max_size=40, unique=True),
    st.sampled_from([1 << 12, 1 << 17]),  # plan literal / words conversion
    st.integers(min_value=1, max_value=4),
)
def test_bloom_no_false_negative_property(spark, seen, novel, n_bits, k):
    """For ANY key set (unicode included), any k, and both dense-array
    transports (plan literal, and set-words conversion above the ceiling):
    every seen key probes true (the contract that makes the filter safe
    as a frontier pre-filter), and the set-words join transport returns
    the identical verdict map — false positives and all."""
    from etl_lala_spark.operators import web

    seen_df = spark.createDataFrame([(u,) for u in seen], "url string")
    probe_keys = sorted(set(seen) | set(novel))
    probe = spark.createDataFrame([(u,) for u in probe_keys], "url string")
    dense = web.bloom_build(seen_df, n_bits=n_bits, k=k)
    got = {
        r["url"]: r["maybe_seen"]
        for r in web.bloom_probe(probe, dense, n_bits=n_bits, k=k).collect()
    }
    assert all(got[u] for u in seen)  # zero false negatives, any input
    words = web.bloom_build_words(seen_df, n_bits=n_bits, k=k)
    via_words = {
        r["url"]: r["maybe_seen"]
        for r in web.bloom_probe(probe, words, n_bits=n_bits, k=k).collect()
    }
    assert via_words == got
