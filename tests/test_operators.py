"""Operator-level invariants beyond the oracle: planted-duplicate recall for
the approximate dedup paths, ANN recall vs the brute-force baseline,
multimodal plumbing, spread behavior (SURVEY.md §5 strategy)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_lala_spark.io import load_table, spread
from etl_lala_spark.operators import dedup as dd
from etl_lala_spark.operators import multimodal as mm
from etl_lala_spark.operators import similarity as sim
from etl_lala_spark.plans.llm_dedup import _dup_corpus, _neardup_corpus


def test_minhash_lsh_finds_planted_neardups(spark, sf_dir):
    corpus = _neardup_corpus(spark, sf_dir)
    planted = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in corpus.filter(F.col("doc_id") < 100000)
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id")
        .collect()
    }
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    found = planted & pairs
    # banding (8 bands x 4 rows) at j~0.95 has >99.9% pair recall
    assert len(found) >= 0.9 * len(planted), (len(found), len(planted))
    # exact verification bounds precision: no pair below threshold survives
    out = dd.minhash_lsh_pairs(corpus, threshold=0.5)
    assert out.filter(F.col("jaccard") < 0.5).count() == 0


def test_simhash_finds_exact_dups(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir)
    planted = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in corpus.filter(F.col("doc_id") < 100000)
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .collect()
    }
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in dd.simhash_pairs(corpus, max_hamming=3).collect()
    }
    # identical text -> identical fingerprint -> hamming 0: all planted found
    assert planted <= pairs


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.lsh_topk(emb, queries, dim=64, k=5, n_planes=8, n_tables=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # uniform-random fixture vectors have no cluster structure (top-5
    # neighbors sit at cos≈0.4), the worst case for LSH — multi-table
    # OR-amplification must still beat random bucketing by a wide margin
    assert recall >= 0.15, recall
    # and every returned neighbor must share the query's bucket by construction
    assert all(q != n for q, n in approx)


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    approx_rows = sim.ivf_topk(emb, queries, k=5, n_cells=16, nprobe=4).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    # probing 4/16 cells scans ~25% of the corpus; on uniform-random vectors
    # expected recall ≈ scan fraction — require comfortably above random-5.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.15, recall
    assert all(r["query_id"] != r["neighbor_id"] for r in approx_rows)
    # every query yields exactly k ranked rows with contiguous ranks
    by_q = {}
    for r in approx_rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 6)) for v in by_q.values())


def test_pq_adc_recall_and_code_integrity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = sim.pq_train(emb, dim=64, m=8, ksub=16, iters=2)
    # deterministic training: same corpus -> bit-identical codebooks
    assert books == sim.pq_train(emb, dim=64, m=8, ksub=16, iters=2)
    assert len(books) == 8 and all(len(bk) == 16 for bk in books)
    assert all(len(c) == 8 for bk in books for c in bk)

    enc = sim.pq_encode(emb, books).cache()
    assert enc.count() == emb.count()  # every vector gets a code row
    assert enc.filter(F.expr("exists(codes, c -> c < 0 or c >= 16)")).count() == 0
    assert enc.filter(F.expr("size(codes) <> 8")).count() == 0

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    approx_rows = sim.pq_adc_topk(enc, queries, books, k=5).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    # ADC keeps full subspace resolution (unlike IVF's coarse cells) so on
    # the uniform-random fixture it must beat the coarse-index floor too.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.15, recall
    assert all(r["query_id"] != r["neighbor_id"] for r in approx_rows)
    by_q = {}
    for r in approx_rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 6)) for v in by_q.values())
    enc.unpersist()


def test_ivfpq_recall_and_index_integrity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = sim.pq_train(emb, dim=64, m=8, ksub=16, iters=2)
    index, ivf_cb = sim.ivfpq_index(emb, books, n_cells=16)
    index = index.cache()
    # one index row per corpus vector, valid cell + code ranges
    assert index.count() == emb.count()
    assert index.filter((F.col("cell") < 0) | (F.col("cell") >= 16)).count() == 0
    assert index.filter(F.expr("exists(codes, c -> c < 0 or c >= 16)")).count() == 0

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    rows = sim.ivfpq_topk(index, ivf_cb, queries, books, k=5, nprobe=4).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    # IVFADC compounds the coarse-cell miss rate with ADC distortion, so the
    # floor sits below both the IVF and exhaustive-ADC floors.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.08, recall
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    # IVFADC results must be a subset of exhaustive ADC's candidate scores:
    # every returned neighbor shares a probed cell with its query by
    # construction, so rank lists are k-bounded and contiguous.
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(v and sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    index.unpersist()


def test_ivfpq_residual_recall_and_integrity(spark, sf_dir):
    """Residual encoding (PQ over v − centroid) keeps the IVFADC integrity
    contract and clears the recall floor; at sf0.01 it measures 2× the raw
    encoding (0.24 vs 0.12) at identical compression."""
    emb = load_table(spark, sf_dir, "embeddings")
    index, ivf_cb, books = sim.ivfpq_residual_index(
        emb, dim=64, n_cells=16, m=8, ksub=16, iters=2
    )
    index = index.cache()
    assert index.count() == emb.count()
    assert index.filter((F.col("cell") < 0) | (F.col("cell") >= 16)).count() == 0
    assert index.filter(F.expr("exists(codes, c -> c < 0 or c >= 16)")).count() == 0

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }
    rows = sim.ivfpq_residual_topk(
        index, ivf_cb, queries, books, k=5, nprobe=4
    ).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.08, recall
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    index.unpersist()


def test_cosine_self_similarity_is_one(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    e = F.col("embedding")
    rows = emb.select(
        F.round(sim.dot(e, e) / (sim.norm(e) * sim.norm(e)), 6).alias("s")
    ).collect()
    assert all(abs(r["s"] - 1.0) < 1e-6 for r in rows)


def test_multimodal_decode_stub_and_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = mm.attach_binary(docs)
    decoded = mm.decode_media(media).collect()
    assert len(decoded) == 50
    for r in decoded:
        assert r["width"] == r["n_bytes"] % 640
        assert len(r["digest"]) == 32
    # JPEG now pixel-decodes for real (operators/jpeg.py); TRUNCATED JPEG
    # bytes raise ValueError from the real decoder, and only formats with
    # no in-repo codec keep the NotImplementedError seam.
    with pytest.raises(ValueError):
        mm.decode_image(b"\xff\xd8\xff\xe0 truncated jpeg, no SOF/SOS")
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"BM no bitmap codec in this environment")


def test_png_codec_roundtrip_all_filters():
    """encode_png cycles filter types 0-4 per row; decode_png must invert
    every unfilter path bit-exactly, check chunk CRCs, and reject damage."""
    import zlib

    w, h = 17, 9  # 9 rows -> filters 0,1,2,3,4,0,1,2,3 all exercised
    pixels = bytes((3 * x + 7 * y + 11 * c) % 256 for y in range(h) for x in range(w) for c in range(3))
    png = mm.encode_png(w, h, pixels, channels=3)
    dw, dh, dc, recon = mm.decode_png(png)
    assert (dw, dh, dc) == (w, h, 3)
    assert recon == pixels
    assert mm.decode_image(png) == (w, h, 3)

    gray = bytes((5 * i) % 256 for i in range(w * h))
    dw, dh, dc, recon = mm.decode_png(mm.encode_png(w, h, gray, channels=1))
    assert (dw, dh, dc) == (w, h, 1) and recon == gray

    rgba = bytes((i * 13) % 256 for i in range(w * h * 4))
    dw, dh, dc, recon = mm.decode_png(mm.encode_png(w, h, rgba, channels=4))
    assert (dw, dh, dc) == (w, h, 4) and recon == rgba

    corrupt = bytearray(png)
    corrupt[40] ^= 0xFF  # flip a byte inside a chunk body
    with pytest.raises((ValueError, zlib.error)):
        mm.decode_png(bytes(corrupt))
    with pytest.raises(ValueError):
        mm.decode_png(b"not a png at all")


def test_spread_is_noop_when_parallel_enough(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.repartition(64)
    assert spread(wide) is wide  # already >= default parallelism: no shuffle
    assert spread(li).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_spread_over_shuffled_or_checkpointed_input_runs_no_job(spark, job_group):
    """Building a spread plan starts no Spark job: an adaptive (shuffled)
    input is repartitioned without probing its partition count, which AQE
    could only answer by running the shuffle; a checkpoint's count is read
    without a job. The rows are unchanged."""
    base = spark.range(200).withColumn("k", F.col("id") % 7)
    target = spark.sparkContext.defaultParallelism
    for name, df in (
        ("groupBy", base.groupBy("k").agg(F.sum("id").alias("s"))),
        ("checkpoint", base.localCheckpoint()),
    ):
        with job_group(f"spread_{name}") as jobs:
            out = spread(df, multiplier=2, by="k")
        assert jobs == [], name
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
        assert out.rdd.getNumPartitions() == 2 * target, name


def test_map_rows_contract(spark):
    """``map_rows`` calls ``fn`` once per row with the row's cells as
    positional arguments and keeps every tuple it returns — none, one or
    several — while an empty partition yields nothing; output names and
    types come from the DDL schema, not from the input."""
    from etl_lala_spark.io import map_rows

    # 3 rows over 4 range splits: the first partition is empty
    df = spark.range(0, 3, 1, 4).selectExpr(
        "id AS n", "substr('abc', id + 1, 1) AS s"
    )
    assert [len(p) for p in df.rdd.glom().collect()] == [0, 1, 1, 1]

    def fn(n, s):
        assert isinstance(n, int) and isinstance(s, str)
        return [(n, s * (i + 1), i / 2) for i in range(n)]

    out = map_rows(df, fn, "k int, rep string, half double")
    assert out.schema.simpleString() == "struct<k:int,rep:string,half:double>"
    assert sorted(map(tuple, out.collect())) == [
        (1, "b", 0.0), (2, "c", 0.0), (2, "cc", 0.5)
    ]
    assert map_rows(df.filter("n < 0"), fn, "k int, rep string, half double").collect() == []


def test_udtf_matches_posexplode(spark, sf_dir):
    from etl_lala_spark.plans import query_fns

    got = {
        (r["doc_id"], r["pos"], r["token"])
        for r in query_fns()["udtf_token_positions"](spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    ref = {
        (r["doc_id"], r["pos"], r["token"])
        for r in docs.select(
            "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "token")
        ).collect()
    }
    assert got == ref


def test_asof_join_window_null_contract(spark):
    """Hand-computed backward as-of over a NULL-laden fixture: the latest
    right row wins as a unit (its NULL field stays NULL, never stitched
    from an older row), a right row with a NULL ``on`` is ignored, a left
    row with a NULL ``on`` or with no right row at or before it gets NULL
    payloads, and an equal timestamp matches."""
    from etl_lala_spark.operators import relational as rel

    left = spark.createDataFrame(
        [
            (1, "u1", 5),     # before every right row of u1
            (2, "u1", 10),    # equal timestamp
            (3, "u1", 15),
            (4, "u1", 25),    # latest right row has a NULL field
            (5, "u1", None),  # NULL on
            (6, "u2", 30),    # key without right rows
        ],
        "id int, k string, t bigint",
    )
    right = spark.createDataFrame(
        [
            ("u1", 10, "r10", 1),
            ("u1", 20, None, 2),
            ("u1", None, "rnull", 99),  # no position on the as-of axis
            ("u3", 1, "other", 3),
        ],
        "k string, t bigint, a string, b int",
    )
    out = rel.asof_join_window(left, right, on="t", by="k", right_cols=["a", "b"])
    assert out.columns == ["id", "k", "t", "asof_a", "asof_b"]
    got = {r["id"]: (r["asof_a"], r["asof_b"]) for r in out.collect()}
    assert got == {
        1: (None, None),
        2: ("r10", 1),
        3: ("r10", 1),
        4: (None, 2),
        5: (None, None),
        6: (None, None),
    }


def test_approx_aggs_bounded_error(spark, sf_dir):
    from etl_lala_spark.plans import query_fns

    rows = query_fns()["approx_aggs"](spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for r in rows:
        rel_err = abs(r["approx_parts"] - exact[r["l_returnflag"]]) / exact[r["l_returnflag"]]
        assert rel_err < 0.1, (r["l_returnflag"], rel_err)


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting must not change join semantics — same multiset of rows."""
    from etl_lala_spark.operators import relational as rel

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey")
    salted = rel.salted_join(li, o, "l_orderkey", n_salts=8)
    assert salted.count() == plain.count()
    assert (
        salted.groupBy("l_orderkey").count()
        .exceptAll(plain.groupBy("l_orderkey").count())
        .count() == 0
    )
    # left join with unmatched keys keeps them
    li_extra = li.withColumn("l_orderkey", F.col("l_orderkey") + 10_000_000)
    left = rel.salted_join(li_extra, o, "l_orderkey", n_salts=4, how="left")
    assert left.count() == li_extra.count()
    assert left.filter(F.col("o_totalprice").isNotNull()).count() == 0


def test_canonical_components_transitive_closure(spark, sf_dir):
    """a~b and b~c must collapse the whole chain to min(a,b,c), across
    multiple disjoint clusters, regardless of pair orientation."""
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (20, 21), (30, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc"], r["canonical"])
        for r in dd.canonical_components(pairs).collect()
    }
    assert got == {
        (1, 1), (5, 1), (9, 1), (12, 1),
        (20, 20), (21, 20),
        (22, 22), (30, 22),
    }


def test_canonical_components_on_planted_dups(spark, sf_dir):
    """End-to-end: minhash pairs on the planted corpus -> every planted
    (d, d+100000) pair shares a canonical id, and the canonical is the
    cluster minimum."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = dd.minhash_lsh_pairs(corpus, threshold=0.5).select("doc_a", "doc_b")
    comp = {r["doc"]: r["canonical"] for r in dd.canonical_components(pairs).collect()}
    planted = [
        r["doc_id"]
        for r in corpus.filter((F.col("doc_id") < 100000) & (F.col("doc_id") % 20 == 0))
        .select("doc_id").collect()
    ]
    hits = sum(
        1 for d in planted
        if d in comp and d + 100000 in comp and comp[d] == comp[d + 100000]
    )
    assert hits >= 0.9 * len(planted)
    assert all(c <= d for d, c in comp.items())


def test_stratified_sample_fractions_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0}
    s1 = docs.sampleBy("lang", fractions, seed=42)
    s2 = docs.sampleBy("lang", fractions, seed=42)
    # same seed -> identical sample (reproducible pipeline runs)
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # full-fraction strata pass through untouched
    for lang in ("de", "es", "fr"):
        assert got[lang] == totals[lang]
    # Bernoulli(0.5) on the en stratum: within generous binomial bounds
    assert 0.35 * totals["en"] <= got["en"] <= 0.65 * totals["en"]


def test_sniff_media_real_headers(spark, sf_dir):
    """Codec-free header decode on real PNG/GIF/WAV/JPEG byte layouts."""
    import struct

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + struct.pack(">II", 640, 480) + b"\x08\x02" + b"\x00" * 20
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 20
    wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16))
    # minimal JPEG: SOI + APP0 (len 4, empty) + SOF0 (len 11: prec, h, w, ncomp)
    jpeg = (b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x03"
            + b"\x00" * 4)
    junk = b"not a media file at all"
    rows = [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(wav)),
            (4, bytearray(jpeg)), (5, bytearray(junk))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["doc_id"]: (r["kind"], r["dim1"], r["dim2"], r["dim3"])
           for r in mm.sniff_media_df(df).collect()}
    assert got[1] == ("png", 640, 480, 3)
    assert got[2] == ("gif", 320, 200, 3)
    assert got[3] == ("wav", 44100, 2, 16)
    assert got[4] == ("jpeg", 1920, 1080, 3)
    assert got[5] == ("unknown", 0, 0, 0)


def test_sniff_media_nonleading_fmt_and_jpeg_fill_bytes():
    """Spec-legal layouts the fixed-offset sniff used to misparse: a WAV
    whose fmt chunk follows a LIST metadata chunk (odd-size, word-aligned),
    and a JPEG with 0xFF fill-byte padding between header segments."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 2, 22050, 88200, 4, 16)
    meta = b"INFOx"  # odd length: pad byte required
    chunks = (b"LIST" + struct.pack("<I", len(meta)) + meta + b"\x00"
              + b"fmt " + struct.pack("<I", 16) + fmt)
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    assert mm.sniff_media(wav) == ("wav", 22050, 2, 16)

    # RIFF/WAVE with no fmt chunk at all is garbage, not audio
    nofmt = b"RIFF" + struct.pack("<I", 30) + b"WAVE" + b"JUNK" + struct.pack("<I", 18) + b"\x00" * 18
    assert mm.sniff_media(nofmt) == ("unknown", 0, 0, 0)

    # a TRUNCATED fmt chunk (header claims 16 bytes, body cut off) must
    # degrade to unknown, never raise struct.error into the scan task
    trunc = (b"RIFF" + struct.pack("<I", 28) + b"WAVE"
             + b"JUNK" + struct.pack("<I", 8) + b"\x00" * 8
             + b"fmt " + struct.pack("<I", 16))
    assert mm.sniff_media(trunc) == ("unknown", 0, 0, 0)

    jpeg = (b"\xff\xd8" + b"\xff\xff\xff\xff"  # fill bytes before APP0
            + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
            + b"\xff\xff"  # and between segments
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 600, 800) + b"\x03" + b"\x00" * 4)
    assert mm.sniff_media(jpeg) == ("jpeg", 800, 600, 3)


def test_scd2_apply_closes_reopens_and_is_idempotent(spark):
    from etl_lala_spark.operators import relational as rel

    base = spark.createDataFrame(
        [(1, "A", 0, None, True), (2, "B", 0, None, True),
         (2, "Z", -1, 0, False)],  # key 2 already has history
        "k long, seg string, valid_from long, valid_to long, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "A2", 1), (2, "B", 1), (3, "C", 1)],  # change, no-op, insert
        "k long, seg string, effective_batch long",
    )
    out = rel.scd2_apply(base, updates, "k", ["seg"])
    rows = {(r.k, r.valid_from): r for r in out.collect()}
    assert len(rows) == 5
    assert rows[(1, 0)].valid_to == 1 and rows[(1, 0)].is_current is False
    assert rows[(1, 1)].seg == "A2" and rows[(1, 1)].is_current is True
    assert rows[(2, 0)].is_current is True          # no-op passes through
    assert rows[(2, -1)].valid_to == 0              # history untouched
    assert rows[(3, 1)].seg == "C" and rows[(3, 1)].is_current is True

    # Re-applying the same batch is a no-op: MERGE semantics are idempotent.
    again = rel.scd2_apply(out, updates, "k", ["seg"])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_kmeans_objective_nondecreasing_and_covers_corpus(spark, sf_dir):
    """Lloyd invariants: every vector gets exactly one cell, cells stay
    within [0, k), and the spherical objective (mean cosine to the
    assigned centroid) never decreases with more iterations."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    def objective(iters: int) -> float:
        asg = sim.kmeans_fit(emb, dim=64, k=8, iters=iters)
        assert asg.count() == n
        assert asg.select("vec_id").distinct().count() == n
        cells = [r.cell for r in asg.select("cell").distinct().collect()]
        assert all(0 <= c < 8 for c in cells)
        return asg.agg(F.avg("sim")).first()[0]

    o0, o1, o3 = objective(0), objective(1), objective(3)
    eps = 1e-9
    assert o1 >= o0 - eps
    assert o3 >= o1 - eps


def test_semdedup_catches_planted_exact_dups(spark, sf_dir):
    """Identical vectors always share an argmax cell, so k-means blocking
    never loses an exact duplicate: every planted copy must be flagged."""
    from etl_lala_spark.plans import query_fns

    base = load_table(spark, sf_dir, "embeddings")
    n_planted = base.filter(F.col("vec_id") % 50 == 0).count()
    out = query_fns()["dedup_semdedup"](spark, sf_dir)
    total_flagged = out.agg(F.sum("n_flagged")).first()[0] or 0
    # Every planted dup is a (orig, orig+100000) pair at cosine 1.0 inside
    # one cell; organic near-dups can only add to the count.
    assert total_flagged >= n_planted


def test_pagerank_conserves_mass_and_is_deterministic(spark, sf_dir):
    """With reverse edges (no dangling nodes) the un-normalized PageRank
    mass invariant holds: Σ rank = #nodes; two runs agree within float
    tolerance."""
    from etl_lala_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    trade = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .selectExpr("concat('c', o_custkey) AS src", "concat('s', l_suppkey) AS dst")
        .distinct()
    )
    edges = trade.unionByName(trade.selectExpr("dst AS src", "src AS dst"))
    r1 = pagerank(edges, iters=3)
    n = r1.count()
    total = r1.agg(F.sum("rank")).first()[0]
    assert abs(total - n) < 1e-6 * n
    assert r1.filter(F.col("rank") <= 0).count() == 0
    # Reproducible up to float-sum association: partial-agg merge order is
    # not guaranteed by Spark, so ranks agree to relative tolerance, not
    # bit-for-bit.
    r2 = pagerank(edges, iters=3)
    a = dict(map(tuple, r1.collect()))
    b = dict(map(tuple, r2.collect()))
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) <= 1e-9 * max(1.0, abs(a[k])) for k in a)


def test_ewma_constant_memory_under_key_skew(spark, tmp_path):
    """The batch EWMA must survive a power-law key: one user holding 2000×
    the average history. The mapInPandas fold carries scalars across Arrow
    batches (no per-key array), so this both completes and matches a plain
    Python recurrence on the skewed key."""
    import datetime

    from etl_lala_spark.plans.events import events_ewma_smoothing

    base = datetime.datetime(2024, 1, 1)
    rows = []
    heavy_n = 20_000
    for i in range(heavy_n):  # user 1: huge ordered history
        rows.append((i, base + datetime.timedelta(seconds=i), 1, "view", float(i % 97), "{}"))
    for u in range(2, 12):  # ten light users, 10 events each
        for i in range(10):
            rows.append(
                (100_000 + u * 100 + i, base + datetime.timedelta(seconds=i), u, "view", float(u + i), "{}")
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path / "skew")
    (tmp_path / "skew").mkdir()
    df.coalesce(2).write.parquet(str(tmp_path / "skew" / "events.parquet"))

    out = {r["user_id"]: r for r in events_ewma_smoothing(spark, sf).collect()}
    assert out[1]["n_events"] == heavy_n
    s = None
    tot = 0.0
    for i in range(heavy_n):
        x = float(i % 97)
        s = x if s is None else s * 0.7 + x * 0.3
        tot += x
    assert out[1]["ewma_value"] == round(s, 6)
    assert out[1]["mean_value"] == round(tot / heavy_n, 6)
    assert out[5]["n_events"] == 10


def test_repeated_block_dedup_removes_planted_boilerplate(spark):
    from etl_lala_spark.operators.dedup import repeated_block_dedup

    banner = "all rights reserved by the example site inc"  # 8 tokens
    uniq = [
        " ".join(f"w{d}x{i}" for i in range(8)) for d in range(6)
    ]  # 8 unique tokens per doc
    rows = [
        # banner + unique block: banner must go, unique block must stay
        (d, f"{banner} {uniq[d]}")
        for d in range(4)
    ] + [
        (10, uniq[4]),          # no banner: untouched
        (11, "short text"),     # < 8 tokens: excluded entirely
        (12, f"{uniq[5]} {banner}"),  # banner at the END: order preserved
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in repeated_block_dedup(df, block_words=8, min_repeat=3).collect()
    }
    assert 11 not in out  # no complete block
    for d in range(4):
        assert out[d]["n_blocks"] == 2 and out[d]["n_removed"] == 1
        assert out[d]["clean_text"] == uniq[d]
    assert out[10]["n_removed"] == 0 and out[10]["clean_text"] == uniq[4]
    assert out[12]["n_removed"] == 1 and out[12]["clean_text"] == uniq[5]


def test_dup_and_top_gram_fractions_known_values(spark):
    from pyspark.sql import functions as F

    from etl_lala_spark.operators.text import (
        dup_gram_fraction,
        top_gram_fraction,
        word_bigrams,
    )

    # "a b a b a" → bigrams [a b, b a, a b, b a]: 4 total, 2 distinct →
    # dup 0.5; top gram "a b" covers 2/4 → 0.5.
    # "x y z" → bigrams [x y, y z]: dup 0, top 0.5.
    df = spark.createDataFrame([(1, "a b a b a"), (2, "x y z")], "id long, t string")
    g = word_bigrams(F.col("t"))
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            dup_gram_fraction(g).alias("dup"),
            top_gram_fraction(g).alias("top"),
        ).collect()
    }
    assert out[1]["dup"] == 0.5 and out[1]["top"] == 0.5
    assert out[2]["dup"] == 0.0 and out[2]["top"] == 0.5


def test_canonical_components_long_chain_converges_by_pointer_jumping(spark):
    """A chain whose diameter far exceeds max_iterations still collapses:
    pointer jumping halves label distances per round (O(log diameter))."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "doc_a long, doc_b long"
    )
    rows = dd.canonical_components(chain, max_iterations=10).collect()
    assert len(rows) == 121
    assert all(r["canonical"] == 0 for r in rows)


def _union_find_labels(pairs):
    """Reference components: every doc -> the minimum id of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


@pytest.mark.parametrize(
    "pairs",
    [
        [(7, 7)],  # a self-pair alone: one singleton component
        [(3, 3), (3, 8), (8, 3), (8, 3), (5, 5)],  # self + reversed dups
        # two disjoint chains, one written backwards
        [(i, i + 1) for i in range(10, 16)]
        + [(i + 1, i) for i in range(40, 47)],
    ],
    ids=["self_pair", "reversed_duplicates", "disjoint_chains"],
)
def test_canonical_components_matches_union_find(spark, pairs):
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["doc"]: r["canonical"] for r in dd.canonical_components(df).collect()
    }
    assert got == _union_find_labels(pairs)


def test_canonical_components_job_budget(spark, job_group):
    """8 planted 4-member cliques (48 pairs, the corpus gates' near-dup
    shape): a round is a propagate checkpoint plus a pointer-jump
    checkpoint that also observes convergence, so the whole operator stays
    within 17 Spark jobs."""
    pairs = [
        (c * 4 + i, c * 4 + j)
        for c in range(8)
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    with job_group("canonical_components_job_budget") as jobs:
        comp = dd.canonical_components(df)
    assert {r["doc"]: r["canonical"] for r in comp.collect()} == (
        _union_find_labels(pairs)
    )
    assert 0 < len(jobs) <= 17, sorted(jobs)


def test_power_iteration_recovers_planted_direction(spark):
    import math

    from etl_lala_spark.operators.similarity import power_iteration_pc

    # 2-D data stretched along (1,1)/√2: dominant PC must align with it.
    rows = []
    for i in range(200):
        t = (i - 100) / 10.0          # big variance along (1,1)
        o = ((i % 7) - 3) / 30.0      # small variance along (1,-1)
        rows.append((i, [t + o, t - o]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pc = power_iteration_pc(df, dim=2, iters=10)
    d = 1 / math.sqrt(2)
    align = abs(pc["v"][0] * d + pc["v"][1] * d)
    assert align > 0.999
    assert abs(sum(c * c for c in pc["v"]) - 1.0) < 1e-9
    assert pc["rel_residual"] < 0.01
    # eigval ≈ variance along (1,1): t ranges ±10 → var ≈ E[2t²]... just
    # require it dominates the minor-axis variance.
    assert pc["eigval"] > 1.0


def test_logistic_train_monotone_and_separates(spark):
    from etl_lala_spark.operators.ml import logistic_predict, logistic_train

    # Perfectly separable 1-D data: y = (f > 0.5).
    rows = [(i, i / 100.0, 1 if i > 50 else 0) for i in range(101) if i != 50]
    df = spark.createDataFrame(rows, "id long, f double, y int")
    fit = logistic_train(df, ["f"], iters=25, lr=4.0)
    ls = fit["losses"]
    assert len(ls) == 26
    assert all(b <= a + 1e-9 for a, b in zip(ls, ls[1:]))
    assert ls[-1] < ls[0]
    out = logistic_predict(df, ["f"], fit["weights"])
    from pyspark.sql import functions as F

    acc = out.agg(F.avg((F.col("pred") == F.col("y")).cast("double"))).first()[0]
    assert acc >= 0.9


def test_kcenter_radius_monotone_and_covers(spark, sf_dir):
    """Greedy k-center: the pick-time distance sequence is the coverage
    radius — non-increasing, distinct picks, seeded at the min id; and
    after k picks every corpus point is within the would-be (k+1)-th
    radius of the selected set (2-approximation certificate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    picks = sim.kcenter_select(emb, k=6).collect()
    assert [p.pick_order for p in picks] == list(range(1, 7))
    ids = [p.vec_id for p in picks]
    assert len(set(ids)) == 6
    assert ids[0] == emb.agg(F.min("vec_id")).collect()[0][0]
    radii = [p.dist_to_selected for p in picks[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    # coverage: max over corpus of min-distance to the 6 selected centers
    centers = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(ids)).collect()
    }
    dist_cols = [
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.transform("embedding", lambda x: x.cast("double")),
                    F.array(*[F.lit(x) for x in centers[i]]),
                    lambda p, c: (p - c) * (p - c),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        for i in ids
    ]
    cover = emb.select(F.least(*dist_cols).alias("d")).agg(F.max("d")).collect()[0][0]
    # the farthest remaining point defines the next pick; monotonicity
    # bounds it by the last accepted radius
    assert cover <= radii[-1] + 1e-9, (cover, radii[-1])


def test_triangle_stats_known_graphs(spark):
    from etl_lala_spark.operators.graph import triangle_stats

    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "a INT, b INT"
    )
    row = triangle_stats(k4).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (4, 6, 12, 4)
    assert row.clustering_coeff == 1.0

    path = spark.createDataFrame([(1, 2), (2, 3)], "a INT, b INT")
    row = triangle_stats(path).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (3, 2, 1, 0)
    assert row.clustering_coeff == 0.0

    # hub star + one closing edge: orientation must not double-count
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3)], "a INT, b INT"
    )
    row = triangle_stats(star).collect()[0]
    assert row.n_triangles == 1


def test_jl_projection_preserves_geometry(spark, sf_dir):
    """JL distortion panel: ratios bounded and centered near 1 — the
    projection carries geometry. (The exact values are oracle-checked by
    audit_jl_distortion; this asserts the statistical contract.)"""
    from etl_lala_spark.plans import all_queries

    row = all_queries()["audit_jl_distortion"].fn(spark, sf_dir).collect()[0]
    assert row.n_pairs >= 100
    assert 0.3 < row.min_ratio <= row.avg_ratio <= row.max_ratio < 2.5
    assert 0.8 < row.avg_ratio < 1.2


def test_wav_codec_roundtrip_chunk_walk(spark):
    """WAV codec: 16-bit PCM round trip survives interleaved stereo, an
    odd-length metadata chunk (word-alignment padding), and rejects
    non-PCM input."""
    samples = [((7 * 3 + 13 * i) % 4097) - 2048 for i in range(41)]
    for ch, junk in [(1, False), (2, False), (1, True), (2, True)]:
        n = len(samples) - (len(samples) % ch)
        wav = mm.encode_wav(22050, samples[:n], channels=ch, junk_chunk=junk)
        rate, nch, bits, dec = mm.decode_wav(wav)
        assert (rate, nch, bits) == (22050, ch, 16)
        assert dec == samples[:n]
    with pytest.raises(ValueError):
        mm.decode_wav(b"RIFF\x00\x00\x00\x00AVI ")
    with pytest.raises(ValueError):
        # fmt chunk claiming 8-bit PCM must be refused, not mis-unpacked
        import struct

        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        body = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 0)
        mm.decode_wav(b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body)


def test_gif_codec_roundtrip_and_known_vector(spark):
    """GIF LZW codec: decodes the published 1×1 transparent-GIF vector
    (external known answer — the decoder reads real files, not just its
    own encoder), and round-trips through dictionary growth, width
    transitions, a >4096-entry reset, and the KwKwK self-reference run."""
    import base64

    tiny = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    w, h, pal, idx = mm.decode_gif(tiny)
    assert (w, h, idx) == (1, 1, [0])
    assert pal[0] == (0, 0, 0) and pal[1] == (255, 255, 255)

    pal8 = [(i, 255 - i, (i * 7) % 256) for i in range(8)]
    cases = [
        [0],
        [3, 1, 3],                       # flush-time width catch-up
        [0] * 9000,                      # KwKwK chain + dictionary reset
        [(i * i) % 8 for i in range(5000)],
    ]
    for idx0 in cases:
        g = mm.encode_gif(50, 180, pal8, idx0)
        w, h, pal1, idx1 = mm.decode_gif(g)
        assert idx1 == idx0
        assert pal1[:8] == pal8


def test_kcenter_sampled_matches_exact_on_planted_clusters(spark):
    """Sampled k-center (the 100 TB path, SCALE.md): on 5 planted clusters
    100× farther apart than their internal spread, the presampled greedy
    pick covers the corpus with a radius within ε of the exact greedy's —
    both must have picked one point per cluster."""
    dim, n_clusters, per = 8, 5, 100
    rows = []
    for c in range(n_clusters):
        center = [100.0 * c if d == c % dim else 0.0 for d in range(dim)]
        for j in range(per):
            noise = [((j * 37 + d * 11) % 7 - 3) / 10.0 for d in range(dim)]
            rows.append((c * per + j, [center[d] + noise[d] for d in range(dim)]))
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def centers_of(picks_df):
        ids = [r.vec_id for r in picks_df.collect()]
        return [
            [float(x) for x in r.embedding]
            for r in corpus.filter(F.col("vec_id").isin(ids)).collect()
        ]

    exact_r = sim.kcenter_radius(
        corpus, centers_of(sim.kcenter_select(corpus, k=n_clusters))
    )
    sampled_r = sim.kcenter_radius(
        corpus,
        centers_of(sim.kcenter_select_sampled(corpus, k=n_clusters, sample_n=60)),
    )
    # one pick per planted cluster ⇒ radius is intra-cluster (≤ ~1), never
    # inter-cluster (≥ ~70); sampled within ε of exact.
    assert exact_r < 2.0, exact_r
    assert sampled_r < 2.0, sampled_r
    assert sampled_r <= exact_r + 1.0, (sampled_r, exact_r)


def test_duplicate_spans_planted_passage(spark):
    """Exact-substring dedup (Lee et al. shape): two docs share a verbatim
    7-token passage; spans inside it (3 per doc at k=5) are flagged in BOTH
    docs, a unique doc is untouched, and a doc repeating its own phrase
    twice is NOT flagged (within-doc repetition is text_dup_ngram_coverage's
    job, not cross-doc dedup)."""
    passage = "the quick brown fox jumps over fences"
    docs = [
        (1, f"alpha beta {passage} gamma delta"),
        (2, f"{passage} unrelated tail words here"),
        (3, "completely unique words never repeated anywhere else at all"),
        (4, "self repeat phrase one two self repeat phrase one two"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r.doc_id: r for r in dd.duplicate_spans(df, k=5).collect()}

    assert set(out) == {1, 2}          # only the passage-sharing pair
    # 7-token passage -> 3 interior 5-gram spans; doc 1 has 11 tokens -> 7 spans
    assert out[1].n_spans == 7 and out[1].n_dup_spans == 3
    assert out[2].n_spans == 7 and out[2].n_dup_spans == 3
    assert abs(out[1].dup_frac - round(3 / 7, 4)) < 1e-9


def test_merge_changelog_latest_wins(spark):
    from etl_lala_spark.operators.relational import merge_changelog

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    log = spark.createDataFrame(
        [
            (2, 1, "U", "b2"),   # update
            (3, 1, "U", "c2"),   # update then delete: delete wins
            (3, 2, "D", "c2"),
            (4, 1, "I", "d"),    # insert of a new key
            (5, 1, "I", "e"),    # insert then update: update wins
            (5, 2, "U", "e2"),
        ],
        "k int, seq int, op string, v string",
    )
    got = {
        (r["k"], r["v"])
        for r in merge_changelog(base, log, key="k").collect()
    }
    assert got == {(1, "a"), (2, "b2"), (4, "d"), (5, "e2")}


def test_merge_changelog_null_op_and_seq_ties(spark):
    """A NULL op must replace (not silently delete), and equal seqs must
    break deterministically by lexicographically greatest (op, payload):
    at equal seq 'U' > 'D' so the upsert survives."""
    from etl_lala_spark.operators.relational import merge_changelog

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    log = spark.createDataFrame(
        [
            (1, 1, None, "a2"),  # NULL op: treated as upsert, not delete
            (2, 7, "D", "x"),    # tie on seq: 'U' > 'D' lexicographically
            (2, 7, "U", "b2"),
            (3, 5, "U", "c1"),   # tie on (seq, op): larger payload wins
            (3, 5, "U", "c2"),
        ],
        "k int, seq int, op string, v string",
    )
    expect = {(1, "a2"), (2, "b2"), (3, "c2")}
    for _ in range(3):  # deterministic across repeated evaluations
        got = {
            (r["k"], r["v"])
            for r in merge_changelog(base, log, key="k").collect()
        }
        assert got == expect


def test_pq_train_rejects_indivisible_dim():
    import pytest as _pytest

    # raises before touching the corpus, so no DataFrame is needed
    with _pytest.raises(ValueError, match="not divisible"):
        sim.pq_train(None, dim=65, m=8)


def test_pq_adc_topk_preserves_string_ids(spark):
    """pq_adc_topk must carry a non-bigint id type through the LUT frame so
    the self-pair filter compares like with like."""
    import random

    rng = random.Random(7)
    rows = [
        (f"doc-{i}", [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    books = sim.pq_train(df, dim=8, m=2, ksub=4, iters=1)
    enc = sim.pq_encode(df, books)
    queries = df.limit(3)
    out = sim.pq_adc_topk(enc, queries, books, k=3).collect()
    assert out and all(isinstance(r["query_id"], str) for r in out)
    assert all(r["query_id"] != r["neighbor_id"] for r in out)


def test_drift_psi_detects_planted_shift(spark):
    """PSI drift monitor: identical populations score ~0; a planted mean
    shift scores large; bucket fractions each sum to 1; exactly two scans
    (stats + shared conditional histogram) in the executed plan."""
    from etl_lala_spark.operators.relational import drift_psi

    rows = [(i, float(i % 100), "base") for i in range(2000)]
    rows += [(10000 + i, float(i % 100), "cur_same") for i in range(2000)]
    rows += [(20000 + i, 60.0 + float(i % 40), "cur_shift") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, x double, pop string")

    same = drift_psi(
        df.filter(F.col("pop") != "cur_shift"), "x", F.col("pop") == "base"
    ).collect()
    psi_same = sum(r["psi_term"] for r in same)
    assert abs(psi_same) < 1e-6, psi_same  # identical distributions
    assert abs(sum(r["base_frac"] for r in same) - 1.0) < 1e-3
    assert abs(sum(r["cur_frac"] for r in same) - 1.0) < 1e-3

    shifted = drift_psi(
        df.filter(F.col("pop") != "cur_same"), "x", F.col("pop") == "base"
    ).collect()
    psi_shift = sum(r["psi_term"] for r in shifted)
    assert psi_shift > 0.25, psi_shift  # conventional "significant shift" bar
    assert [r["bucket"] for r in shifted] == sorted(r["bucket"] for r in shifted)
    # current population lives only in the upper buckets
    low = [r for r in shifted if r["bucket"] <= 5]
    assert all(r["cur_n"] == 0 for r in low)


def test_drift_psi_categorical_detects_missing_category(spark):
    """Categorical PSI: identical category mixes score ~0; a category that
    disappears from the current population dominates the PSI sum."""
    from etl_lala_spark.operators.relational import drift_psi_categorical

    rows = [(i, ["en", "fr", "de"][i % 3], "base") for i in range(900)]
    rows += [(1000 + i, ["en", "fr", "de"][i % 3], "same") for i in range(900)]
    rows += [(2000 + i, ["en", "fr"][i % 2], "shift") for i in range(900)]
    df = spark.createDataFrame(rows, "id long, lang string, pop string")

    same = drift_psi_categorical(
        df.filter(F.col("pop") != "shift"), "lang", F.col("pop") == "base"
    ).collect()
    assert abs(sum(r["psi_term"] for r in same)) < 1e-6

    shift = drift_psi_categorical(
        df.filter(F.col("pop") != "same"), "lang", F.col("pop") == "base"
    ).collect()
    by_cat = {r["category"]: r for r in shift}
    assert by_cat["de"]["cur_n"] == 0  # vanished category present in output
    assert sum(r["psi_term"] for r in shift) > 0.25


def test_avi_container_roundtrip_and_frame_sampling(spark):
    """AVI/RIFF container: encode MJPEG-framed fixture videos, read back
    dimensions/frame-count/fps from headers, extract strided frame bytes
    losslessly, and run the distributed frame sampler end to end."""
    frames = [
        b"\xff\xd8" + bytes([i]) * (20 + i) + b"\xff\xd9" for i in range(10)
    ]
    avi = mm.encode_avi_mjpeg(64, 48, 25, frames)
    assert mm.decode_avi(avi) == (64, 48, 10, 25)
    assert mm.sniff_media(avi) == ("avi", 64, 48, 10)

    got = mm.avi_extract_frames(avi, stride=3)
    assert [i for i, _ in got] == [0, 3, 6, 9]
    assert all(fb == frames[i] for i, fb in got)  # byte-lossless extraction

    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(mm.encode_avi_mjpeg(32, 32, 10, frames[:4])))],
        "doc_id long, data binary",
    )
    out = mm.video_frame_sample(df, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [r["frame_idx"] for r in sorted(by_doc[1], key=lambda r: r["frame_idx"])] == [0, 2, 4, 6, 8]
    assert [r["frame_idx"] for r in sorted(by_doc[2], key=lambda r: r["frame_idx"])] == [0, 2]
    assert all(r["width"] == 64 and r["height"] == 48 and r["fps"] == 25 for r in by_doc[1])
    assert bytes(sorted(by_doc[1], key=lambda r: r["frame_idx"])[1]["frame_bytes"]) == frames[2]


def test_drift_psi_constant_base_and_nulls(spark):
    """Review regressions: a constant base column must not divide by zero
    (everything lands in bucket 1), and NULL values are excluded rather
    than masquerading as low-bucket mass."""
    from etl_lala_spark.operators.relational import drift_psi

    rows = [(i, 5.0, "base") for i in range(100)]
    rows += [(200 + i, 5.0 if i % 2 else None, "cur") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, x double, pop string")
    out = drift_psi(df, "x", F.col("pop") == "base").collect()
    assert [r["bucket"] for r in out] == [1]
    assert out[0]["base_n"] == 100
    assert out[0]["cur_n"] == 50  # the 50 NULLs are excluded, not bucketed
    assert abs(out[0]["psi_term"]) < 1e-6  # identical non-null distributions


def test_merge_changelog_map_payload_column(spark):
    """Review regression: a map-typed payload column must not break the
    tie-break ordering (maps are not orderable; they ride along as payload
    but stay out of the ordering key)."""
    from etl_lala_spark.operators.relational import merge_changelog

    base = spark.createDataFrame(
        [(1, {"a": "1"}), (2, {"b": "2"})], "k int, props map<string,string>"
    )
    log = spark.createDataFrame(
        [(2, 1, "U", {"b": "9"}), (3, 1, "I", {"c": "3"})],
        "k int, seq int, op string, props map<string,string>",
    )
    got = {r["k"]: dict(r["props"]) for r in merge_changelog(base, log, key="k").collect()}
    assert got == {1: {"a": "1"}, 2: {"b": "9"}, 3: {"c": "3"}}


def test_sniff_media_truncated_avi_is_unknown():
    """Review regression: corrupt/truncated AVI bytes classify as unknown
    instead of raising struct.error and killing the scan task."""
    import struct

    good = mm.encode_avi_mjpeg(8, 8, 10, [b"\xff\xd8x\xff\xd9"])
    assert mm.sniff_media(good)[0] == "avi"
    # truncated mid-header: the walk yields no dimensions -> unknown, not a
    # zero-pixel "avi"
    assert mm.sniff_media(good[:30]) == ("unknown", 0, 0, 0)
    # lying avih size with a short buffer
    bad = b"RIFF" + struct.pack("<I", 1000) + b"AVI " + b"avih" + struct.pack("<I", 56) + b"\x00" * 4
    assert mm.sniff_media(bad) == ("unknown", 0, 0, 0)
    # decode_avi on the same bytes degrades to partial metadata, no crash
    mm.decode_avi(bad)
    assert mm.avi_extract_frames(good[: len(good) // 2], stride=1) is not None


def test_avi_list_nesting_bomb_does_not_recurse():
    """Review regression: a crafted AVI nesting a LIST every 12 bytes must
    degrade to partial metadata, not blow the interpreter's recursion limit
    (RecursionError is outside sniff_media's caught set, so a recursive
    walk would kill the scan task despite the degrade-don't-raise
    contract). Depth 5000 is 5x the default recursion limit."""
    import struct
    import sys

    def nested(depth: int, kind: bytes) -> bytes:
        body = b""
        for _ in range(depth):
            payload = kind + body
            body = b"LIST" + struct.pack("<I", len(payload)) + payload
        riff_body = b"AVI " + body
        return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body

    depth = 5 * sys.getrecursionlimit()
    bomb = nested(depth, b"rec ")  # rec : extract_frames descends these
    assert mm.decode_avi(bomb) == (0, 0, 0, 0)
    assert mm.avi_extract_frames(bomb, stride=1) == []
    assert mm.sniff_media(bomb)[0] == "unknown"  # no dims -> degrade

    # A legitimate shallow container still parses identically after the
    # iterative rewrite (frame order is in-file order).
    good = mm.encode_avi_mjpeg(16, 8, 12, [b"f0", b"f1x", b"f2"])
    assert mm.decode_avi(good) == (16, 8, 3, 12)
    assert [i for i, _ in mm.avi_extract_frames(good, stride=1)] == [0, 1, 2]
    assert mm.avi_extract_frames(good, stride=2) == [(0, b"f0"), (2, b"f2")]


def test_jpeg_codec_solid_gray_exact_roundtrip():
    """Quantization is exactly invertible for a solid block: DC = 8·(v−128),
    and at quality 50 the luma DC quantizer is 16, so EVEN gray values
    roundtrip bit-exactly — the invariant the mjpeg pixel-decode oracle
    certifies under the driver."""
    from etl_lala_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for v in (64, 100, 128, 190, 254):
        j = encode_jpeg(16, 16, bytes([v]) * 256, channels=1, quality=50)
        w, h, ch, px = decode_jpeg(j)
        assert (w, h, ch) == (16, 16, 1)
        assert set(px) == {v}


def test_jpeg_codec_rgb_psnr_and_subsampling():
    """Lossy-but-faithful: a noisy RGB gradient survives encode/decode above
    a PSNR floor at 4:4:4 and 4:2:0, and odd (non-multiple-of-8) dimensions
    crop back exactly."""
    import numpy as np

    from etl_lala_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    wid, hei = 40, 24
    img = np.zeros((hei, wid, 3))
    img[..., 0] = np.linspace(0, 255, wid)[None, :]
    img[..., 1] = np.linspace(0, 255, hei)[:, None]
    img[..., 2] = 128
    img = np.clip(img + rng.normal(0, 4, img.shape), 0, 255).astype(np.uint8)
    for sub, floor in ((False, 32.0), (True, 30.0)):
        j = encode_jpeg(wid, hei, img.tobytes(), channels=3, quality=75, subsample=sub)
        w, h, ch, out = decode_jpeg(j)
        assert (w, h, ch) == (wid, hei, 3)
        dec = np.frombuffer(out, np.uint8).reshape(hei, wid, 3).astype(float)
        mse = ((dec - img.astype(float)) ** 2).mean()
        psnr = 10 * np.log10(255**2 / mse)
        assert psnr >= floor, (sub, psnr)
    # odd dimensions: edge padding must crop back to the exact shape
    j = encode_jpeg(13, 9, bytes(range(117)) * 3, channels=3, quality=80)
    w, h, ch, out = decode_jpeg(j)
    assert (w, h, ch, len(out)) == (13, 9, 3, 13 * 9 * 3)


def test_jpeg_decoder_rejects_non_baseline_explicitly():
    """Arithmetic coding (SOF9) raises NotImplementedError — a documented
    boundary, not a wrong answer (progressive SOF2 decodes for real since
    round 6); garbage raises ValueError, as does a stream whose scan
    header is inconsistent with its SOF2 frame type."""
    import pytest as _pytest

    from etl_lala_spark.operators.jpeg import decode_jpeg, encode_jpeg

    j = bytearray(encode_jpeg(8, 8, bytes(64), channels=1, quality=75))
    sof = j.find(b"\xff\xc0")
    j[sof + 1] = 0xC9  # flip baseline SOF0 -> arithmetic SOF9
    with _pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg(bytes(j))
    j[sof + 1] = 0xC2  # SOF2 with a baseline (Ss=0,Se=63) scan header
    with _pytest.raises(ValueError, match="progressive DC scan"):
        decode_jpeg(bytes(j))
    with _pytest.raises(ValueError):
        decode_jpeg(b"\x00not a jpeg")
    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI, no scan


def test_jpeg_decode_image_and_frame_decode_wiring(spark):
    """decode_image routes JPEG to the real decoder, and
    mjpeg_frame_decode degrades undecodable frames to NULL-stats rows
    instead of failing the task."""
    from etl_lala_spark.operators.jpeg import encode_jpeg

    jpg = encode_jpeg(24, 16, bytes([78]) * (24 * 16), channels=1, quality=50)
    assert mm.decode_image(jpg) == (24, 16, 1)

    avi = mm.encode_avi_mjpeg(24, 16, 10, [jpg, b"not-a-jpeg-frame"])
    df = spark.createDataFrame([(5, bytearray(avi))], "doc_id long, data binary")
    out = mm.mjpeg_frame_decode(mm.video_frame_sample(df, stride=1))
    rows = {r["frame_idx"]: r for r in out.collect()}
    assert rows[0]["px_min"] == rows[0]["px_max"] == 78
    assert rows[0]["px_width"] == 24 and rows[0]["px_height"] == 16
    assert rows[1]["px_width"] is None and rows[1]["px_mean"] is None


def test_image_resize_nearest_and_bilinear(spark):
    """nearest uses the integer-exact floor index map (src=(dst*in)//out);
    bilinear at half-pixel centers reproduces a linear gradient EXACTLY on
    2x downscale (the defining property of bilinear interpolation).
    Undecodable rows degrade to NULLs."""
    import numpy as np

    # nearest: synthetic pattern, every sampled pixel known in closed form
    w, h = 32, 20
    px = bytes((3 * x + 7 * y + 11 * c) % 256 for y in range(h) for x in range(w) for c in range(3))
    png = mm.encode_png(w, h, px, channels=3)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"not an image"))],
        "doc_id long, media binary",
    )
    out = {r["doc_id"]: r for r in mm.image_resize(df, 16, 10, "nearest").collect()}
    a = np.frombuffer(out[1]["pixels"], np.uint8).reshape(10, 16, 3)
    for y in (0, 3, 9):
        for x in (0, 7, 15):
            for c in range(3):
                assert a[y, x, c] == (3 * (2 * x) + 7 * (2 * y) + 11 * c) % 256
    assert out[2]["pixels"] is None and out[2]["width"] is None

    # bilinear: linear gradient in, exact half-sample gradient out
    g = bytes(min(255, 2 * x + 4 * y) for y in range(16) for x in range(16))
    df2 = spark.createDataFrame(
        [(3, bytearray(mm.encode_png(16, 16, g, channels=1)))],
        "doc_id long, media binary",
    )
    row = mm.image_resize(df2, 8, 8, "bilinear").collect()[0]
    b = np.frombuffer(row["pixels"], np.uint8).reshape(8, 8)
    exp = np.round(
        np.array([[2 * (2 * x + 0.5) + 4 * (2 * y + 0.5) for x in range(8)] for y in range(8)])
    )
    assert np.abs(b - exp).max() == 0

    # JPEG input routes through the same decode dispatch
    from etl_lala_spark.operators.jpeg import encode_jpeg

    jdf = spark.createDataFrame(
        [(4, bytearray(encode_jpeg(16, 16, bytes([90]) * 256, channels=1, quality=50)))],
        "doc_id long, media binary",
    )
    jrow = mm.image_resize(jdf, 4, 4, "nearest").collect()[0]
    assert set(np.frombuffer(jrow["pixels"], np.uint8)) == {90}


def test_audio_window_energy_framing_and_degrade(spark):
    """Window framing: full windows + kept short tail, integer-exact stats,
    NULL-stats degrade row for undecodable audio."""
    samples = [((7 * i) % 201) - 100 for i in range(40)]
    wav = mm.encode_wav(8000, samples, junk_chunk=True)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not audio"))],
        "doc_id long, media binary",
    )
    rows = {
        (r["doc_id"], r["window_idx"]): r
        for r in mm.audio_window_energy(df, 16).collect()
    }
    for wi in range(3):
        seg = samples[wi * 16 : (wi + 1) * 16]
        r = rows[(1, wi)]
        assert r["n_samples"] == len(seg)
        assert r["abs_sum"] == sum(abs(s) for s in seg)
        assert r["energy"] == sum(s * s for s in seg)
        assert r["peak"] == max(abs(s) for s in seg)
    assert rows[(1, 2)]["n_samples"] == 8  # short tail kept
    assert rows[(2, None)]["abs_sum"] is None  # degrade row


def test_multimodal_degrade_survives_null_cells(spark):
    """NULL binary cells degrade to NULL-stats rows and NULL key cells are
    skipped — never a TypeError from bytes(None)/int(None) killing the
    task (round-5 advice; the degrade-don't-raise contract covers missing
    cells, the normal case for optional media columns at 100 TB)."""
    # mjpeg_frame_decode: NULL frame_bytes -> NULL-stats row, passthrough kept
    fdf = spark.createDataFrame(
        [(3, 0, None)], "doc_id long, frame_idx int, frame_bytes binary"
    )
    row = mm.mjpeg_frame_decode(fdf).collect()[0]
    assert (row["doc_id"], row["frame_idx"]) == (3, 0)
    assert row["px_width"] is None and row["px_mean"] is None

    # image_resize / audio_window_energy: NULL media -> NULL row; NULL id
    # -> skipped (no meaningful key to attach the degrade row to)
    ddf = spark.createDataFrame(
        [(7, None), (None, bytearray(b"junk"))], "doc_id long, media binary"
    )
    rows = mm.image_resize(ddf, 4, 4).collect()
    assert [(r["doc_id"], r["pixels"]) for r in rows] == [(7, None)]
    rows = mm.audio_window_energy(ddf, 8).collect()
    assert [(r["doc_id"], r["energy"]) for r in rows] == [(7, None)]

    # video_frame_sample: a NULL cell, a non-AVI cell and an AVI cut inside
    # its header each degrade to one NULL-frame row; a NULL id is skipped
    avi = mm.encode_avi_mjpeg(8, 8, 10, [b"\xff\xd8frame\xff\xd9"] * 3)
    vdf = spark.createDataFrame(
        [(1, None), (2, bytearray(b"RIFF not a video")), (3, bytearray(avi[:40])),
         (None, bytearray(avi)), (4, bytearray(avi))],
        "doc_id long, data binary",
    )
    rows = sorted(mm.video_frame_sample(vdf, stride=1).collect(),
                  key=lambda r: (r["doc_id"], r["frame_idx"] or 0))
    assert [tuple(r) for r in rows[:3]] == [
        (d, None, None, None, None, None) for d in (1, 2, 3)
    ]
    assert [(r["doc_id"], r["frame_idx"], r["width"]) for r in rows[3:]] == [
        (4, 0, 8), (4, 1, 8), (4, 2, 8)
    ]


def test_jpeg_bitreader_skips_fill_bytes_before_marker():
    """T.81 §B.1.1.2 allows any number of 0xFF fill bytes before a marker
    code; the entropy bit reader must skip them and latch the REAL marker
    rather than a bogus 0xFF (round-5 advice)."""
    from etl_lala_spark.operators.jpeg import _BitReader

    # entropy byte, two fill FFs, then RST0
    br = _BitReader(b"\xa5\xff\xff\xff\xd0", 0)
    assert br.bits(8) == 0xA5
    assert br.marker == 0xD0
    br.restart()  # consumes FF D0 cleanly now that the marker is real
    assert br.marker is None and br.pos == 5

    # fill byte immediately before EOI at end of scan
    br2 = _BitReader(b"\xff\xff\xd9", 0)
    br2._fill()
    assert br2.marker == 0xD9

    # restart() at a byte-aligned boundary where the eager fill never ran:
    # 'FF FF D0' with a fill byte before the RST must still consume the
    # marker instead of leaving it to be latched as a terminator (round-6
    # advice — the general case was fixed in _fill but restart() was
    # missed).
    br3 = _BitReader(b"\xff\xff\xd0\xa5", 0)
    assert br3.marker is None and br3.pos == 0
    br3.restart()
    assert br3.pos == 3
    assert br3.bits(8) == 0xA5


def test_audio_window_spectral_exact_bins(spark):
    """The three ±1/0-basis DFT bins must equal numpy's float FFT at
    k=0, N/4, N/2 (exactly — the basis is integer), the tail window keeps
    the truncated basis, invalid N raises, and NULL cells degrade."""
    import numpy as np

    sr, samples = 8000, [((11 * i) % 301) - 150 for i in range(40)]
    wav = mm.encode_wav(sr, samples)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, None)], "doc_id long, media binary"
    )
    rows = {
        (r["doc_id"], r["window_idx"]): r
        for r in mm.audio_window_spectral(df, 16).collect()
    }
    a = np.asarray(samples)
    for wi in range(3):
        seg = a[wi * 16 : (wi + 1) * 16]
        r = rows[(1, wi)]
        assert r["n_samples"] == len(seg)
        # full windows: compare against numpy's FFT at the exact bins
        if len(seg) == 16:
            X = np.fft.fft(seg)
            assert r["dc_re"] == int(round(X[0].real))
            assert r["quarter_re"] == int(round(X[4].real))
            assert r["quarter_im"] == int(round(X[4].imag))
            assert r["nyquist_re"] == int(round(X[8].real))
        assert r["dc_power"] == r["dc_re"] ** 2
        assert r["quarter_power"] == r["quarter_re"] ** 2 + r["quarter_im"] ** 2
        assert r["nyquist_power"] == r["nyquist_re"] ** 2
    # tail window (8 samples): truncated basis, still integer-consistent
    tail = rows[(1, 2)]
    seg = a[32:40]
    assert tail["dc_re"] == seg.sum()
    assert tail["nyquist_re"] == ((1 - 2 * (np.arange(8) % 2)) * seg).sum()
    # degrade row for the NULL media cell
    assert rows[(2, None)]["dc_power"] is None

    with pytest.raises(ValueError, match="multiple of 4"):
        mm.audio_window_spectral(df, 10)


def test_jpeg_progressive_decodes_identical_to_baseline():
    """Progressive (SOF2) decode: the progressive encoder emits the SAME
    quantized coefficients as the baseline encoder across a full scan
    script (interleaved DC first + refinement, per-component AC band with
    cross-block EOB runs, AC refinement via the G.1.2.3 correction-bit
    protocol), so decoding both streams must agree BIT-EXACTLY — any
    successive-approximation, EOB-run, or refinement-bit bug breaks a
    byte. Covers gray/RGB, 4:2:0, odd dims, flat content (max EOB runs),
    and dense-AC content."""
    import numpy as np

    from etl_lala_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(42)
    cases = [
        ("solid", np.full((48, 64, 1), 200, np.uint8), False, 75),
        ("rand-gray", rng.integers(0, 256, (17, 23, 1), np.uint8), False, 40),
        ("rand-rgb", rng.integers(0, 256, (24, 16, 3), np.uint8), False, 75),
        ("rand-420", rng.integers(0, 256, (21, 13, 3), np.uint8), True, 60),
    ]
    g = np.tile((np.arange(40, dtype=np.uint8) * 6)[None, :, None], (32, 1, 3))
    cases.append(("gradient", g, True, 85))
    for name, img, sub, q in cases:
        h, w, ch = img.shape
        base = encode_jpeg(w, h, img.tobytes(), channels=ch, quality=q, subsample=sub)
        prog = encode_jpeg_progressive(
            w, h, img.tobytes(), channels=ch, quality=q, subsample=sub
        )
        assert prog[:2] == b"\xff\xd8" and b"\xff\xc2" in prog  # SOF2 stream
        assert decode_jpeg(prog) == decode_jpeg(base), name
    # solid gray roundtrips exactly through the progressive path (80 is on
    # a DC quantization lattice point at q=50, like the baseline test's
    # values)
    j = encode_jpeg_progressive(16, 16, bytes([80]) * 256, channels=1, quality=50)
    assert decode_jpeg(j) == (16, 16, 1, bytes([80]) * 256)


def test_jpeg_progressive_restart_markers_resync():
    """DRI/RSTn inside progressive scans (routine in foreign streams): the
    encoder byte-aligns, flushes EOB runs, and cycles RST0-7 at every
    interval; the decoder must resync (predictor + EOB-run reset,
    marker consumption) and still reproduce the baseline decode
    bit-exactly — including the degenerate restart-after-every-unit
    interval."""
    import numpy as np

    from etl_lala_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(11)
    for w, h, ch, sub, q, ri in [
        (48, 32, 1, False, 75, 3),
        (40, 24, 3, True, 70, 2),
        (24, 24, 1, False, 85, 1),   # restart after EVERY unit
        (33, 17, 3, True, 50, 4),
    ]:
        img = rng.integers(0, 256, (h, w, ch), np.uint8)
        base = encode_jpeg(w, h, img.tobytes(), channels=ch, quality=q, subsample=sub)
        prog = encode_jpeg_progressive(
            w, h, img.tobytes(), channels=ch, quality=q, subsample=sub,
            restart_interval=ri,
        )
        assert b"\xff\xdd" in prog  # DRI emitted
        assert any(bytes([0xFF, 0xD0 + i]) in prog for i in range(8))
        assert decode_jpeg(prog) == decode_jpeg(base), (w, h, ch, sub, q, ri)


def test_mjpeg_pipeline_decodes_progressive_frames(spark):
    """The AVI → frame-sample → pixel-decode pipeline handles PROGRESSIVE
    MJPEG frames transparently (decode_jpeg dispatches on the stream's own
    SOF marker): a container mixing baseline and progressive encodings of
    the same image must yield IDENTICAL per-frame pixel stats for both."""
    from etl_lala_spark.operators.jpeg import encode_jpeg, encode_jpeg_progressive

    import numpy as np

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (16, 24), np.uint8)
    base = encode_jpeg(24, 16, img.tobytes(), channels=1, quality=70)
    prog = encode_jpeg_progressive(24, 16, img.tobytes(), channels=1, quality=70)
    avi = mm.encode_avi_mjpeg(24, 16, 10, [base, prog])
    df = spark.createDataFrame([(1, bytearray(avi))], "doc_id long, data binary")
    rows = {
        r["frame_idx"]: r
        for r in mm.mjpeg_frame_decode(mm.video_frame_sample(df, stride=1)).collect()
    }
    assert rows[0]["px_width"] == rows[1]["px_width"] == 24
    for col in ("px_min", "px_max", "px_mean"):
        assert rows[0][col] == rows[1][col], col


def test_image_resize_accepts_gif_input(spark):
    """decode_pixels routes GIF through the in-repo LZW decoder (palette
    indices -> RGB), so image_resize accepts all three image codecs."""
    import numpy as np

    # 8x4 GIF, palette p[i]=(i, 2i, 3i), pixel index = (x + y) % 4
    idx = [(x + y) % 4 for y in range(4) for x in range(8)]
    gif = mm.encode_gif(8, 4, [(i, 2 * i, 3 * i) for i in range(4)], idx)
    df = spark.createDataFrame([(1, bytearray(gif))], "doc_id long, media binary")
    row = mm.image_resize(df, 4, 2, "nearest").collect()[0]
    assert (row["width"], row["height"], row["n_channels"]) == (4, 2, 3)
    a = np.frombuffer(row["pixels"], np.uint8).reshape(2, 4, 3)
    for y in range(2):
        for x in range(4):
            i = (2 * x + 2 * y) % 4  # nearest: src = (dst*in)//out = 2*dst
            assert tuple(a[y, x]) == (i, 2 * i, 3 * i)


def test_jpeg_baseline_restart_markers_resync():
    """Baseline DRI/RSTn (the layout real MJPEG cameras emit): restart
    streams must decode to exactly the plain stream's pixels, and the
    default (restart_interval=0) output stays byte-identical to prior
    rounds (no DRI segment)."""
    import numpy as np

    from etl_lala_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(13)
    for w, h, ch, sub, q, ri in [
        (48, 32, 1, False, 75, 3),
        (40, 24, 3, True, 70, 2),
        (24, 24, 1, False, 85, 1),
    ]:
        img = rng.integers(0, 256, (h, w, ch), np.uint8)
        plain = encode_jpeg(w, h, img.tobytes(), channels=ch, quality=q, subsample=sub)
        rst = encode_jpeg(
            w, h, img.tobytes(), channels=ch, quality=q, subsample=sub,
            restart_interval=ri,
        )
        assert b"\xff\xdd" in rst and b"\xff\xdd" not in plain
        assert decode_jpeg(rst) == decode_jpeg(plain)


def test_jpeg_baseline_multiscan_noninterleaved_decodes():
    """Some baseline encoders emit one scan PER COMPONENT (legal per T.81
    A.2.2: non-interleaved scans walk the component's ACTUAL block grid,
    not the MCU-padded one). Assemble such a stream from the same
    quantized coefficients the interleaved encoder uses; the decoder must
    produce identical visible pixels through its single-component baseline
    scan path."""
    import struct as _struct

    import numpy as np

    from etl_lala_spark.operators import jpeg as J

    def encode_multiscan(w, h, px, quality, subsample):
        comps, samp, qts, _, _ = J._forward_quantized(w, h, px, 3, quality, subsample)
        dc_codes = [J._canonical_codes(*J._DC_LUMA), J._canonical_codes(*J._DC_CHROMA)]
        ac_codes = [J._canonical_codes(*J._AC_LUMA), J._canonical_codes(*J._AC_CHROMA)]
        out = bytearray(b"\xff\xd8")
        for tq, q in enumerate(qts):
            out += b"\xff\xdb" + _struct.pack(">H", 67) + bytes([tq]) + bytes(int(x) for x in q)
        out += b"\xff\xc0" + _struct.pack(">HBHHB", 17, 8, h, w, 3)
        for ci in range(3):
            hs, vs = samp[ci]
            out += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
        for tc_th, tbl in [(0x00, J._DC_LUMA), (0x10, J._AC_LUMA),
                           (0x01, J._DC_CHROMA), (0x11, J._AC_CHROMA)]:
            counts, values = tbl
            out += b"\xff\xc4" + _struct.pack(">H", 19 + len(values)) + bytes([tc_th])
            out += bytes(counts) + bytes(values)
        for ci, c in enumerate(comps):
            tq = 0 if ci == 0 else 1
            bw_ = J._BitWriter()
            pred = 0
            for by in range(c["bha"]):
                for bx in range(c["bwa"]):
                    zz = c["zz"][by * c["bw"] + bx]
                    diff = int(zz[0]) - pred
                    pred = int(zz[0])
                    t, off = J._magnitude(diff)
                    code, ln = dc_codes[tq][t]
                    bw_.write(code, ln)
                    if t:
                        bw_.write(off, t)
                    run = 0
                    for k in range(1, 64):
                        val = int(zz[k])
                        if val == 0:
                            run += 1
                            continue
                        while run > 15:
                            code, ln = ac_codes[tq][0xF0]
                            bw_.write(code, ln)
                            run -= 16
                        t, off = J._magnitude(val)
                        code, ln = ac_codes[tq][(run << 4) | t]
                        bw_.write(code, ln)
                        bw_.write(off, t)
                        run = 0
                    if run:
                        code, ln = ac_codes[tq][0x00]
                        bw_.write(code, ln)
            bw_.flush()
            td_ta = 0x00 if ci == 0 else 0x11
            out += b"\xff\xda" + _struct.pack(">HB", 8, 1) + bytes([ci + 1, td_ta])
            out += bytes([0, 63, 0])
            out += bw_.out
        out += b"\xff\xd9"
        return bytes(out)

    rng = np.random.default_rng(31)
    for w, h, sub, q in [(24, 16, False, 75), (24, 16, True, 70), (20, 12, True, 60)]:
        img = rng.integers(0, 256, (h, w, 3), np.uint8).tobytes()
        inter = J.encode_jpeg(w, h, img, channels=3, quality=q, subsample=sub)
        multi = encode_multiscan(w, h, img, q, sub)
        assert J.decode_jpeg(multi) == J.decode_jpeg(inter), (w, h, sub, q)


def test_jpeg_rejects_cmyk_component_counts():
    """4-component (CMYK/YCCK) and 2-component frames raise
    NotImplementedError instead of silently decoding with dropped planes."""
    import pytest as _pytest

    from etl_lala_spark.operators.jpeg import decode_jpeg, encode_jpeg

    j = bytearray(encode_jpeg(16, 16, bytes([50]) * (16 * 16 * 3), channels=3, quality=75))
    sof = j.find(b"\xff\xc0")
    # SOF0 payload: len(2) precision(1) h(2) w(2) ncomp(1) — patch ncomp to
    # 4 (the stream is inconsistent, but the guard must fire FIRST)
    j[sof + 9] = 4
    with _pytest.raises((NotImplementedError, ValueError)):
        decode_jpeg(bytes(j))
    try:
        decode_jpeg(bytes(j))
    except NotImplementedError as ex:
        assert "component" in str(ex)
    except ValueError:
        raise AssertionError("guard must fire before malformed-stream parse")


def test_substring_dedup_runs_recovers_unaligned_plants(spark):
    """ExactSubstr maximal-run detection (Lee et al. family): a shared
    substring planted at DIFFERENT offsets in different docs — the case
    fixed-block dedup misses — must come back as exactly one maximal run
    per occurrence with the right start and length; unique text, sub-k
    repeats, and within-doc-only repeats (under cross_doc_only) must not."""
    from etl_lala_spark.operators.dedup import (
        substring_dedup_clean,
        substring_dedup_runs,
    )

    plant = " ".join(f"p{t}" for t in range(10))  # 10 shared tokens
    uniq = lambda d, n, tag="u": " ".join(f"{tag}{d}x{i}" for i in range(n))
    selfrep = " ".join(f"s{t}" for t in range(8))
    rows = [
        (0, f"{uniq(0, 3)} {plant} {uniq(0, 5, 'v')}"),   # plant at pos 3
        (1, f"{uniq(1, 7)} {plant}"),                      # plant at pos 7 (end)
        (2, f"{plant} {uniq(2, 4)}"),                      # plant at pos 0
        (3, uniq(3, 20)),                                  # clean doc: no runs
        (4, f"{selfrep} {uniq(4, 4)} {selfrep}"),          # within-doc repeat only
        (5, "a b c"),                                      # shorter than k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    runs = {
        r["doc_id"]: r
        for r in substring_dedup_runs(df, min_tokens=8).collect()
    }
    assert set(runs) == {0, 1, 2}  # 3 excluded (unique), 4 (within-doc), 5 (short)
    for d, start in [(0, 3), (1, 7), (2, 0)]:
        assert runs[d]["start_pos"] == start
        assert runs[d]["run_tokens"] == 10  # maximal: the whole plant
        assert runs[d]["n_spans"] == 3      # 10 - 8 + 1

    # within-doc repeats surface when cross_doc_only is relaxed
    wd = substring_dedup_runs(df, min_tokens=8, cross_doc_only=False)
    got4 = [r for r in wd.collect() if r["doc_id"] == 4]
    assert sorted(r["start_pos"] for r in got4) == [0, 12]
    assert all(r["run_tokens"] == 8 for r in got4)

    # the removal pass cuts exactly the planted tokens and keeps the rest
    clean = {
        r["doc_id"]: r for r in substring_dedup_clean(df, min_tokens=8).collect()
    }
    assert clean[0]["n_removed"] == 10
    assert clean[0]["clean_text"] == f"{uniq(0, 3)} {uniq(0, 5, 'v')}"
    assert clean[1]["clean_text"] == uniq(1, 7)
    assert clean[2]["clean_text"] == uniq(2, 4)
    assert clean[3]["n_removed"] == 0 and clean[3]["clean_text"] == uniq(3, 20)
    assert clean[5]["n_removed"] == 0  # short doc passes through untouched


def test_substring_dedup_run_maximality_and_boundaries(spark):
    """Maximality is CONTENT-exact, not coverage-greedy: where the full
    16-token concatenation "a b" is shared (docs 0 and 2) every interior
    span is duplicated and the island merges into ONE 16-token run; where
    only the 8-token halves are shared (doc 1) the boundary spans are
    unique, so the halves stay SEPARATE runs — gluing them would claim a
    16-token substring that appears nowhere else."""
    from etl_lala_spark.operators.dedup import substring_dedup_runs

    a = " ".join(f"a{t}" for t in range(8))
    b = " ".join(f"b{t}" for t in range(8))
    filler = " ".join(f"u1x{i}" for i in range(8))
    rows = [
        (0, f"{a} {b}"),            # whole 16 tokens shared with doc 2
        (2, f"{a} {b}"),
        (1, f"{a} {filler} {b}"),   # halves shared, concatenation is not
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    runs = substring_dedup_runs(df, min_tokens=8).collect()
    by_doc: dict[int, list] = {}
    for r in runs:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d in (0, 2):
        assert len(by_doc[d]) == 1
        assert by_doc[d][0]["run_tokens"] == 16
        assert by_doc[d][0]["start_pos"] == 0
        assert by_doc[d][0]["n_spans"] == 9  # 16 - 8 + 1
    assert sorted(r["run_tokens"] for r in by_doc[1]) == [8, 8]
    assert sorted(r["start_pos"] for r in by_doc[1]) == [0, 16]


def test_unigram_lm_train_plants_piece_and_reconstructs(spark):
    """On a corpus dominated by one repeated 4-char pattern, unigram EM
    must (a) keep a multi-char piece covering the pattern in its top
    vocab, (b) reconstruct every word exactly, (c) never decrease the
    hard-EM likelihood, and (d) respect the vocab budget."""
    from etl_lala_spark.operators.text import unigram_lm_train

    rows = [(i, ("wxyz" * (i % 3 + 1)) + " qq kj") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = unigram_lm_train(df, vocab_size=40, max_piece_len=4, iters=4)

    assert model["recon_violations"] == 0
    ll = model["ll_per_iter"]
    assert all(b >= a - 1e-9 * max(1.0, abs(a)) for a, b in zip(ll, ll[1:]))
    assert len(model["vocab"]) <= 40
    top5 = [v["piece"] for v in model["vocab"][:5]]
    assert any(len(p) >= 2 and set(p) <= set("wxyz") for p in top5), top5
    # conservation: piece chars == corpus word chars
    total_chars = sum(
        len(w) for _i, t in rows for w in t.split() if w
    )
    assert model["pieces_char_total"] == total_chars


def test_hard_negative_mine_labels_and_ranks(spark):
    """Hard negatives must be other-label rows ranked by sim desc; hard
    positives same-label ranked asc; ids never pair with themselves."""
    from etl_lala_spark.operators.similarity import hard_negative_mine

    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 2

    rows = [
        (0, vec(0.00), 0),
        (1, vec(0.05), 0),   # near-duplicate, same label -> easy positive
        (2, vec(1.40), 0),   # far, same label -> hard positive
        (3, vec(0.10), 1),   # very close, other label -> hardest negative
        (4, vec(2.00), 1),   # far, other label -> easy negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = df.filter("vec_id = 0")
    out = hard_negative_mine(df, anchors, k=2).collect()
    by_kind = {}
    for r in out:
        by_kind.setdefault(r["kind"], []).append(r)
    negs = sorted(by_kind["hard_neg"], key=lambda r: r["rank"])
    poss = sorted(by_kind["hard_pos"], key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in negs] == [3, 4]
    assert [r["neighbor_id"] for r in poss] == [2, 1]
    assert all(r["neighbor_id"] != 0 for r in out)


def test_unigram_apply_conserves_chars_and_matches_training(spark):
    """Applying the trained model must reproduce the training E-step's
    exact char-conservation law on the same corpus: the concatenated
    pieces of every doc equal the doc's words, and the corpus-wide piece
    char total equals the trainer's."""
    from etl_lala_spark.operators.text import unigram_apply, unigram_lm_train

    rows = [(i, ("wxyz" * (i % 3 + 1)) + " qq kj") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = unigram_lm_train(df, vocab_size=40, max_piece_len=4, iters=3)
    out = unigram_apply(df, model).collect()
    total = 0
    for r in out:
        joined = r["pieces"].replace("\x01", "")
        assert joined == r["text"].replace(" ", "")
        assert r["n_pieces"] == len(r["pieces"].split("\x01"))
        total += len(joined)
    assert total == model["pieces_char_total"]


def test_image_augment_crop_flip_semantics(spark):
    """Crop must clamp to the frame; vflip/hflip must move a marked corner
    pixel to the expected output corner; undecodable rows degrade to
    NULLs."""
    import numpy as np
    from etl_lala_spark.operators import multimodal as mm

    w, h = 6, 4
    px = np.zeros((h, w, 3), np.uint8)
    px[0, 0] = (9, 9, 9)        # top-left marker
    png = mm.encode_png(w, h, px.tobytes(), channels=3)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"not an image"))],
        "doc_id long, media binary",
    )
    out = {r["doc_id"]: r for r in mm.image_augment(df, hflip=True).collect()}
    a = np.frombuffer(out[1]["pixels"], np.uint8).reshape(4, 6, 3)
    assert tuple(a[0, 5]) == (9, 9, 9)  # marker moved to top-right
    assert out[2]["pixels"] is None and out[2]["width"] is None

    out2 = {r["doc_id"]: r for r in mm.image_augment(df, vflip=True).collect()}
    b = np.frombuffer(out2[1]["pixels"], np.uint8).reshape(4, 6, 3)
    assert tuple(b[3, 0]) == (9, 9, 9)  # marker moved to bottom-left

    # crop clamps: box partially outside keeps the in-frame part
    out3 = {
        r["doc_id"]: r
        for r in mm.image_augment(df, crop=(4, 2, 10, 10)).collect()
    }
    assert (out3[1]["width"], out3[1]["height"]) == (2, 2)


def test_unigram_lm_train_edge_guards(spark):
    """Budget below the alphabet must refuse loudly; an empty corpus must
    return an empty model instead of dividing by zero."""
    import pytest
    from etl_lala_spark.operators.text import unigram_lm_train

    df = spark.createDataFrame([(0, "abcdef")], "doc_id long, text string")
    with pytest.raises(ValueError, match="alphabet"):
        unigram_lm_train(df, vocab_size=3, max_piece_len=3, iters=1)

    empty = spark.createDataFrame([(0, "")], "doc_id long, text string")
    model = unigram_lm_train(empty, vocab_size=10, max_piece_len=3, iters=2)
    assert model["vocab"] == [] and model["ll_per_iter"] == []


def test_image_augment_negative_origin_intersects(spark):
    """A negative crop origin must shrink the box to the frame
    intersection, not slide it inward."""
    import numpy as np
    from etl_lala_spark.operators import multimodal as mm

    px = np.arange(20 * 4 * 3, dtype=np.uint8).reshape(4, 20, 3)
    png = mm.encode_png(20, 4, px.tobytes(), channels=3)
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, media binary")
    out = mm.image_augment(df, crop=(-5, 0, 10, 4)).collect()[0]
    assert (out["width"], out["height"]) == (5, 4)
    a = np.frombuffer(out["pixels"], np.uint8).reshape(4, 5, 3)
    assert np.array_equal(a, px[:, :5, :])


def test_hard_negative_mine_ivf_recall_vs_exact(spark):
    """The cell-routed miner must emit only other-label rows and recover
    most of the exact miner's hard negatives (negatives are near the
    anchor, which cell routing preserves)."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.operators.similarity import (
        hard_negative_mine,
        hard_negative_mine_ivf,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    anchors = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["anchor_id"], r["neighbor_id"])
        for r in hard_negative_mine(emb, anchors, k=3).collect()
        if r["kind"] == "hard_neg"
    }
    approx_rows = hard_negative_mine_ivf(
        emb, anchors, k=3, n_cells=8, nprobe=4
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    anchor_labels = {
        r["vec_id"]: r["label"] for r in anchors.collect()
    }
    for r in approx_rows:
        assert r["kind"] == "hard_neg"
        assert labels[r["neighbor_id"]] != anchor_labels[r["anchor_id"]]
    approx = {(r["anchor_id"], r["neighbor_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF hard-neg recall {recall:.2f} below floor"


def test_word_shingles_whitespace_edges(spark):
    """Whitespace-padded docs must shingle identically to their trimmed
    forms, and a padded (k-1)-token doc must take the short-doc fallback
    rather than vanishing."""
    from etl_lala_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [(1, "a b"), (2, " a b"), (3, "a  b "), (4, "x y z")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert out[1] == out[2] == out[3] == ["a b"]
    assert out[4] == ["x y z"]


def test_dedup_parameter_guards(spark):
    """bands must divide n_hashes; SimHash radius is pigeonhole-bounded."""
    import pytest
    from etl_lala_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(df, n_hashes=32, bands=40)
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(df, n_hashes=32, bands=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, max_hamming=4)


def test_ngram_jaccard_null_blocks_pair(spark):
    """Duplicate docs whose block column is NULL on both sides must still
    pair (null-safe block equality)."""
    from etl_lala_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", None),
            (2, "the quick brown fox jumps", None),
        ],
        "doc_id long, text string, lang string",
    )
    pairs = ngram_jaccard_pairs(df, block_cols=("lang",)).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]


def test_substring_clean_null_text_zero_tokens(spark):
    """NULL-text docs report 0 tokens, not size(NULL) = -1."""
    from etl_lala_spark.operators.dedup import substring_dedup_clean

    df = spark.createDataFrame(
        [(1, None), (2, "w1 w2 w3")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in substring_dedup_clean(df, min_tokens=2).collect()}
    assert out[1]["n_tokens"] == 0 and out[1]["n_removed"] == 0
    assert out[2]["n_tokens"] == 3


def test_minhash_incremental_index_roundtrip(spark, tmp_path):
    """Persisted-index dedup: an incoming batch recovers its planted exact
    and near dups against the store with exact Jaccard, unrelated docs
    produce no pairs, and the store is self-describing (meta-driven
    parameters, shingle hashes persisted for exact verification)."""
    import json
    import os

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river"),
            (2, "pack my box with five dozen liquor jugs before the dawn breaks"),
            (3, "how vexingly quick daft zebras jump across the frozen lake"),
        ],
        "doc_id long, text string",
    )
    index = str(tmp_path / "idx")
    dd.minhash_index_write(corpus, index)
    meta = json.load(open(os.path.join(index, "_minhash_meta.json")))
    assert meta == {"k": 3, "n_hashes": 32, "bands": 8, "n_sig_parts": 16}
    sigs = spark.read.parquet(os.path.join(index, "sigs"))
    assert {"doc", "n_shingles", "hashes", "sig", "sig_part"} <= set(sigs.columns)

    batch = spark.createDataFrame(
        [
            # exact copy of doc 1
            (101, "the quick brown fox jumps over the lazy dog near the river"),
            # near copy of doc 2 (one appended token)
            (102, "pack my box with five dozen liquor jugs before the dawn breaks ok"),
            # unrelated
            (103, "completely different sentence about spark shuffle partitions"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["new_doc"], r["old_doc"]): r
        for r in dd.minhash_incremental_pairs(batch, index, threshold=0.5).collect()
    }
    assert (101, 1) in got and got[(101, 1)]["jaccard"] == 1.0
    assert (102, 2) in got and 0.5 <= got[(102, 2)]["jaccard"] < 1.0
    assert all(new != 103 for new, _ in got)

    # a second batch against the same store: the corpus is never re-shingled,
    # so the store read path must be stable across sessions of use
    again = dd.minhash_incremental_pairs(batch, index, threshold=0.5).count()
    assert again == len(got)


def _mk_index_corpus(spark, n=12):
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(6)) + f" tail{i}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_index_append_compact_preserves_pairs(spark, tmp_path):
    """Lifecycle: appended docs are searchable, a replayed append commits
    nothing (at-least-once safe), and compaction shrinks the file count
    without changing any pair the store returns."""
    corpus = _mk_index_corpus(spark)
    index = str(tmp_path / "idx")
    dd.minhash_index_write(corpus, index)
    day2 = corpus.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100
    )
    # A within-batch redelivery (same doc twice in one batch) must commit
    # ONE sig row — a duplicate would double the stored shingle explode
    # and divide by zero in a later exact-Jaccard verify of that doc.
    day2_with_dup = day2.unionByName(day2.limit(1))
    assert dd.minhash_index_append(day2_with_dup, index) == 4
    assert dd.minhash_index_append(day2, index) == 0  # replay: anti-join holds

    probe = corpus.withColumn("doc_id", F.col("doc_id") + 1000)
    before = sorted(
        map(
            tuple,
            dd.minhash_incremental_pairs(probe, index, threshold=0.5).collect(),
        )
    )
    # every appended doc's twin probe finds BOTH the original and the
    # appended copy at exact Jaccard 1.0
    hits = {(a, b) for a, b, _, j in before if j == 1.0}
    for i in (0, 3, 6, 9):
        assert (i + 1000, i) in hits and (i + 1000, i + 100) in hits

    res = dd.minhash_index_compact(spark, index)
    assert res["sigs"]["files_after"] < res["sigs"]["files_before"]
    assert res["bands"]["files_after"] < res["bands"]["files_before"]
    after = sorted(
        map(
            tuple,
            dd.minhash_incremental_pairs(probe, index, threshold=0.5).collect(),
        )
    )
    assert after == before


def test_minhash_index_append_changed_content_raises(spark, tmp_path):
    """A redelivered doc id whose TEXT changed must fail loudly (the replay
    guard only swallows byte-identical redeliveries) and commit nothing —
    the store's stored signature stays the original."""
    import pytest as _pytest

    corpus = _mk_index_corpus(spark)
    index = str(tmp_path / "idx")
    dd.minhash_index_write(corpus, index)
    mutated = corpus.limit(2).withColumn(
        "text", F.concat(F.col("text"), F.lit(" mutated content entirely new"))
    )
    with _pytest.raises(ValueError, match="CHANGED content"):
        dd.minhash_index_append(mutated, index)
    # nothing committed: sig row count unchanged, stored sig is the original
    sigs = spark.read.parquet(str(tmp_path / "idx" / "sigs"))
    assert sigs.count() == corpus.count()
    assert sigs.select("doc").distinct().count() == corpus.count()


def test_minhash_index_compact_heals_duplicate_band_rows(spark, tmp_path):
    """Crash-window repair: duplicate band rows (bands written, sigs write
    crashed, append replayed) are hidden by the reader's distinct() but
    physically removed by compaction — rows shrink back to one per
    (doc, band) and search results are unchanged."""
    import os

    corpus = _mk_index_corpus(spark)
    index = str(tmp_path / "idx")
    dd.minhash_index_write(corpus, index)
    bands_path = os.path.join(index, "bands")
    bands = spark.read.parquet(bands_path)
    n_bands = bands.count()
    # simulate the crash window: the band rows of two docs land twice
    dupes = bands.where(F.col("doc").isin(0, 1)).localCheckpoint()
    n_dupes = dupes.count()
    dupes.write.mode("append").partitionBy("band").parquet(bands_path)
    assert spark.read.parquet(bands_path).count() == n_bands + n_dupes

    probe = corpus.withColumn("doc_id", F.col("doc_id") + 1000)
    before = sorted(
        map(
            tuple,
            dd.minhash_incremental_pairs(probe, index, threshold=0.5).collect(),
        )
    )
    res = dd.minhash_index_compact(spark, index)
    assert res["bands"]["rows"] == n_bands  # dead weight dropped, not kept
    assert spark.read.parquet(bands_path).count() == n_bands
    after = sorted(
        map(
            tuple,
            dd.minhash_incremental_pairs(probe, index, threshold=0.5).collect(),
        )
    )
    assert after == before


def test_minhash_index_delete_removes_doc_bounded(spark, tmp_path):
    """GDPR deletion: the doc's signature, stored shingle hashes, and band
    rows are all gone (an exact-copy probe no longer matches it), other
    docs stay searchable, and the sig rewrite touches only the victim's
    hash buckets."""
    import os

    corpus = _mk_index_corpus(spark)
    index = str(tmp_path / "idx")
    dd.minhash_index_write(corpus, index)
    victims = spark.createDataFrame([(5,)], "doc bigint")
    res = dd.minhash_index_delete(spark, index, victims)
    assert res["sigs"]["rows_deleted"] == 1
    assert len(res["sigs"]["partitions_rewritten"]) == 1  # one hash bucket
    # every band directory holds one row per doc -> all bands rewritten,
    # each as its own pruned partition
    assert res["bands"]["rows_deleted"] == 8

    sigs = spark.read.parquet(os.path.join(index, "sigs"))
    assert sigs.filter(F.col("doc") == 5).count() == 0
    bands = spark.read.parquet(os.path.join(index, "bands"))
    assert bands.filter(F.col("doc") == 5).count() == 0

    probe = corpus.withColumn("doc_id", F.col("doc_id") + 1000)
    pairs = {
        (r["new_doc"], r["old_doc"])
        for r in dd.minhash_incremental_pairs(probe, index, threshold=0.5).collect()
    }
    assert (1005, 5) not in pairs  # no trace of the deleted doc
    assert (1004, 4) in pairs  # neighbors unaffected

    # the rewrite preserved the within-file bucket sort (zone-map contract)
    import glob as globmod

    for f in globmod.glob(os.path.join(index, "bands", "band=*", "*.parquet")):
        buckets = [r.bucket for r in spark.read.parquet(f).collect()]
        assert buckets == sorted(buckets)


# --- HTML boilerplate extraction ------------------------------------------


def test_html_blocks_planted_chrome_classification(spark):
    """Every planted decision lands where designed: pure-link nav/footer ->
    bad regardless of length; a heading next to content is rescued; a short
    block surrounded only by chrome is NOT; script bodies containing fake
    markup never become blocks; entities decode after tag stripping."""
    from etl_lala_spark.operators import text as tx

    body = (
        "the wind and the rain keep the old mill turning while we watch "
        "from the hill"
    )
    html = (
        '<script>var a = "<p>fake block</p>";</script>'
        '<div><a href="/">home</a> <a href="/a">about</a></div>'
        "<h1>Lost</h1>"  # short, neighbors are all bad -> stays bad
        '<div><a href="/t">terms</a> <a href="/p">privacy</a></div>'
        "<h2>Found</h2>"  # short, next block is good -> rescued
        f"<p>{body}</p>"
        "<p>a &amp;lt; b is five chars of it</p>"  # decodes to 'a &lt; b ...'
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    rows = {r["block_rank"]: r for r in tx.html_blocks(df).collect()}
    texts = [rows[i]["text"] for i in sorted(rows)]
    assert "fake block" not in " ".join(texts)  # script dropped wholesale
    assert [r["cls"] for _, r in sorted(rows.items())] == [
        "bad", "bad", "bad", "good", "good", "good",
    ]
    assert rows[1]["text"] == "Lost" and rows[1]["cls"] == "bad"
    assert rows[3]["text"] == "Found" and rows[3]["cls"] == "good"
    assert rows[5]["text"] == "a &lt; b is five chars of it"


def test_extract_main_content_all_chrome_page_survives(spark):
    """Every input doc yields exactly one output row: 100%-chrome pages,
    NULL html, and script-only pages all land as empty-content rows (never
    dropped docs), and content joins good blocks in page order."""
    from etl_lala_spark.operators import text as tx

    body = (
        "the wind and the rain keep the old mill turning while we watch "
        "from the hill"
    )
    chrome = '<div><a href="/">x y z</a></div><div><a href="/b">p q r</a></div>'
    good = f"<h1>Top</h1><p>{body} one</p><p>{body} two</p>"
    df = spark.createDataFrame(
        [
            (1, chrome),
            (2, chrome + good),
            (3, None),  # null html: zero blocks, row must survive
            (4, "<script>var a = 1;</script>"),  # script-only: zero blocks
        ],
        "doc_id long, html string",
    )
    got = {r["doc_id"]: r for r in tx.extract_main_content(df).collect()}
    assert sorted(got) == [1, 2, 3, 4]  # no doc dropped
    assert got[1]["content"] == "" and got[1]["n_good"] == 0
    assert got[1]["n_blocks"] == 2 and got[1]["chrome_chars"] > 0
    assert got[2]["content"] == f"Top {body} one {body} two"
    assert got[2]["n_good"] == 3 and got[2]["n_bad"] == 2
    for d in (3, 4):
        assert got[d]["content"] == "" and got[d]["n_blocks"] == 0


def test_html_blocks_comments_and_unterminated_script(spark):
    """Commented-out markup never becomes blocks (jusText/trafilatura both
    strip comments), and an unterminated raw-text element consumes to EOF
    — the HTML5 behavior, and the safe direction: raw JS must never be
    classified as content."""
    from etl_lala_spark.operators import text as tx

    body = (
        "the wind and the rain keep the old mill turning while we watch "
        "from the hill"
    )
    df = spark.createDataFrame(
        [
            (1, f"<!-- <p>old draft text</p> --><p>{body}</p>"),
            (2, f"<p>{body}</p><script>var x = 'raw js text here';"),
            (3, f"<p>{body}</p><!-- unterminated comment {body}"),
            # HTML5 script-data state: '<!--' INSIDE a terminated script is
            # script text, </script> still closes — the article after it
            # must survive (element drop runs before comment strip).
            (4, f"<script>if(a<!--b) f();</script><p>{body}</p>"),
        ],
        "doc_id long, html string",
    )
    rows = tx.html_blocks(df).collect()
    texts = " ".join(r["text"] for r in rows)
    assert "old draft text" not in texts
    assert "raw js" not in texts
    assert "unterminated" not in texts
    assert "f();" not in texts
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) == 1 and v[0]["text"] == body for v in per_doc.values())


def test_wordpiece_election_differs_from_bpe(spark):
    """The likelihood-ratio election: a rare-but-exclusive pair (q z: count
    2, constituents count 2 each, score 0.5) beats the frequent-but-
    independent pair (x y: count 3, constituents count 10 each, score 0.03)
    that raw-count BPE elects — the defining WordPiece/BPE difference.
    Conservation holds under the shared rewrite."""
    from etl_lala_spark.operators import text as tx

    rows = [
        ("x y m x y m x y",),                 # x y: 3 adjacent occurrences
        ("x p1 x p2 x p3 x p4 x p5 x p6 x",),  # pad x count to 10 (unique bigrams)
        ("y r1 y r2 y r3 y r4 y r5 y r6 y",),  # pad y count to 10
        ("q z m m q z",),                      # q z: 2 occurrences, exclusive
    ]
    df = spark.createDataFrame(rows, "text string")
    wp = tx.wordpiece_train(df, n_merges=1)
    bpe = tx.bpe_train(df, n_merges=1)
    assert bpe[0]["pair"] == "x y"
    assert wp[0]["pair"] == "q z"
    assert wp[0]["pair_count"] == 2
    assert wp[0]["count_a"] == 2 and wp[0]["count_b"] == 2
    assert wp[0]["score"] == 0.5 and wp[0]["applied"] == 2

    # conservation: applying the table removes exactly Σ applied tokens
    full = tx.wordpiece_train(df, n_merges=4)
    out = tx.bpe_apply(df, full).agg(
        F.sum(F.size(F.split("text", r"\s+"))).alias("t0"),
        F.sum(F.size(F.split("bpe_text", r"\s+"))).alias("t1"),
    ).first()
    assert out["t1"] == out["t0"] - sum(m["applied"] for m in full)


def test_line_dedup_crossdoc_semantics(spark):
    """Cross-doc frequency is the ban criterion: a line repeated WITHIN one
    doc survives (df=1); a line in two docs is removed from both; a doc
    whose every line is boilerplate survives with empty clean_text; order
    is preserved; empty lines never count as duplicates."""
    df = spark.createDataFrame(
        [
            (1, "alpha unique one\nshared banner line\nalpha unique two"),
            (2, "beta unique one\nshared banner line\n\nbeta unique two"),
            (3, "gamma twice\ngamma twice\ngamma other"),  # within-doc repeat
            (4, "shared banner line"),  # all-boilerplate doc
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dd.line_dedup(df).collect()}
    assert got[1]["clean_text"] == "alpha unique one\nalpha unique two"
    assert got[1]["n_lines"] == 3 and got[1]["n_removed"] == 1
    assert got[2]["clean_text"] == "beta unique one\nbeta unique two"
    assert got[2]["n_lines"] == 3  # the empty line was dropped, not counted
    assert got[3]["clean_text"] == "gamma twice\ngamma twice\ngamma other"
    assert got[3]["n_removed"] == 0  # within-doc repeat is NOT cross-doc
    assert got[4]["clean_text"] == "" and got[4]["n_removed"] == 1


def test_wordpiece_greedy_apply_longest_match_and_unk(spark):
    """The defining greedy behavior (BERT's 'unaffable' example shape):
    longest prefix wins at every position, continuations carry ##, a word
    with an unmatchable position becomes ONE [UNK], and greedy can differ
    from Viterbi-optimal segmentations."""
    from etl_lala_spark.operators import text as tx

    vocab = {"un", "aff", "able", "a", "b", "ab", "abc", "cd", "c"}
    df = spark.createDataFrame(
        [(1, "unaffable abcd xyz ab")], "doc_id long, text string"
    )
    row = tx.wordpiece_greedy_apply(df, vocab).first()
    pieces = row["pieces"].split("\x01")
    # greedy takes 'abc' then needs 'd' -> whole word UNK (d not in vocab);
    # Viterbi would have found ab+cd — exactly the greedy/optimal gap.
    assert pieces == ["un", "##aff", "##able", "[UNK]", "[UNK]", "ab"]
    assert row["n_pieces"] == 6


def test_minhash_index_append_honors_store_modulus(spark, tmp_path, monkeypatch):
    """The deletion-bucket modulus comes from the store's META, never the
    module constant: an index written under n_sig_parts=4 must receive
    appends bucketed mod 4 even after the constant changes — mixed moduli
    would silently unbound the delete path's blast radius."""
    import json
    import os

    corpus = _mk_index_corpus(spark)
    index = str(tmp_path / "idx")
    monkeypatch.setattr(dd, "_N_SIG_PARTS", 4)
    dd.minhash_index_write(corpus, index)
    assert json.load(open(os.path.join(index, "_minhash_meta.json")))[
        "n_sig_parts"
    ] == 4
    monkeypatch.setattr(dd, "_N_SIG_PARTS", 16)  # constant retuned later...
    day2 = corpus.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 100
    )
    assert dd.minhash_index_append(day2, index) == 3
    sigs = spark.read.parquet(os.path.join(index, "sigs"))
    # ...but every appended row still lands under the STORE's modulus,
    # in the exact bucket a mod-4 delete would rewrite
    got = {r["doc"]: int(r["sig_part"]) for r in sigs.collect()}
    assert all(0 <= p < 4 for p in got.values())
    for doc in (100, 101, 102):
        expected = spark.sql(
            f"SELECT pmod(xxhash64(CAST({doc} AS BIGINT)), 4) AS p"
        ).first()["p"]
        assert got[doc] == expected


def test_canonicalize_url_adversarial(spark):
    """URL canonicalization for URL-level dedup: case, www, default ports,
    userinfo, fragments, tracking params, query-key order, duplicate and
    trailing slashes — and the traps (non-default port kept, 'pref' is not
    'ref', path case preserved, invalid URL -> NULL not a shared key)."""
    from etl_lala_spark.functions.scalars import canonicalize_url

    cases = [
        # the same page eight ways -> one key
        ("http://example.com/a", "http://example.com/a"),
        ("HTTP://EXAMPLE.COM/a", "http://example.com/a"),
        ("http://www.example.com/a", "http://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("http://user:pw@example.com/a", "http://example.com/a"),
        ("http://example.com/a#section-2", "http://example.com/a"),
        ("http://example.com/a?utm_source=news&utm_medium=email",
         "http://example.com/a"),
        ("http://example.com/a?UTM_SOURCE=news&FBCLID=x",
         "http://example.com/a"),
        ("http://example.com//a/", "http://example.com/a"),
        # real params survive, sorted; tracking ids stripped from the middle
        ("http://example.com/a?z=1&fbclid=abc&b=2&gclid=x&a=3",
         "http://example.com/a?a=3&b=2&z=1"),
        # traps
        ("https://example.com:443/a", "https://example.com/a"),
        ("https://example.com:80/a", "https://example.com:80/a"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("http://example.com/a?pref=1&ref=tw", "http://example.com/a?pref=1"),
        ("http://example.com/A", "http://example.com/A"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/?", "http://example.com/"),
        ("not a url", None),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["c"]
        for r in df.select(
            canonicalize_url(F.col("url")).alias("c")
        ).collect()
    ]
    assert got == [want for _, want in cases]


def test_byte_bpe_fallback_and_word_confinement(spark):
    """Byte-level BPE: a table trained on ASCII English applies to unseen
    scripts (CJK, emoji, accents) with exact byte reconstruction and no
    UNK concept at all — unseen bytes stay singleton pieces; merges never
    span a word boundary."""
    import re

    from etl_lala_spark.operators import text as tx

    train = spark.createDataFrame(
        [(i, "the cat and the hat and the rat") for i in range(5)],
        "doc_id long, text string",
    )
    merges = tx.byte_bpe_train(train, n_merges=6)
    assert merges and all(" " in m["pair"] for m in merges)
    # cross-word confinement: 'e t' ('the cat' boundary, freq 15) must NOT
    # be elected even though it is the most frequent adjacent byte pair in
    # the raw stream — pre-tokenization hides it from the counter
    assert all(
        not m["pair"].replace("\x01", " ").startswith("65 20") for m in merges
    )
    serve = spark.createDataFrame(
        [
            (1, "the hat"),
            (2, "猫 the 🐈"),
            (3, "caféثم"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.byte_bpe_apply(serve, merges).collect()}
    for d, r in out.items():
        raw = re.sub(r"\s+", "", r["text"]).encode("utf-8")
        assert bytes.fromhex("".join(r["pieces"])) == raw
        assert r["n_bytes"] == len(raw)
        assert all(len(p) % 2 == 0 for p in r["pieces"])
    # trained merges fired on the seen word, fallback singles on the unseen
    assert any(len(p) > 2 for p in out[1]["pieces"])
    cjk = out[2]["pieces"]
    assert all(len(p) == 2 for p in cjk[:3])  # 猫 = 3 singleton bytes


def test_langid_trained_agrees_with_heuristic(spark, sf_dir):
    """The trained lang-ID (hashed char trigrams + one-vs-rest logistic)
    and the marker-word heuristic must agree on the planted corpus — the
    upgrade changes the decision surface, not the answers on separable
    input; and the trained model classifies held-out docs (unseen unique
    tokens) it never saw in training."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.operators import ml
    from etl_lala_spark.operators.text import predicted_lang
    from etl_lala_spark.plans.llm_text import _LANGID_LANGS, _langid_corpus

    corpus = _langid_corpus(load_table(spark, sf_dir, "documents"))
    # language = doc_id % 4, so split on a modulus coprime to 4: halves
    # that both contain all four languages
    train = corpus.filter(F.col("doc_id") < 200)
    held_out = corpus.filter(F.col("doc_id") >= 200)
    model = ml.langid_train(
        train, _LANGID_LANGS, label_col="lang_true", n_buckets=16, iters=6
    )
    pred = ml.langid_predict(held_out, model).withColumn(
        "heur", predicted_lang(F.col("text"))
    )
    agg = pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("pred_lang") == F.col("lang_true")).cast("int")).alias(
            "right"
        ),
        F.sum((F.col("pred_lang") == F.col("heur")).cast("int")).alias(
            "agree"
        ),
    ).first()
    assert agg["n"] == 200
    assert agg["right"] == agg["n"]  # held-out accuracy 1.0
    assert agg["agree"] == agg["n"]  # full agreement with the heuristic
    # training loss decreased for every head
    for lang in _LANGID_LANGS:
        ls = model["losses"][lang]
        assert ls[-1] < ls[0]
        assert all(b <= a + 1e-9 for a, b in zip(ls, ls[1:]))


def test_langid_train_single_partition_path_matches_treeagg(spark, sf_dir):
    """langid_train's r13 single-partition fast path (the whole GD loop in
    ONE task) must produce the same model as the per-round treeAggregate
    path. The paths share `seq`/`update`, so at one partition the math is
    bit-identical by construction; forcing a multi-partition feature frame
    exercises the treeAggregate branch, whose weights may differ only by
    float summation order — and every prediction must agree."""
    import numpy as np

    from etl_lala_spark.io import load_table
    from etl_lala_spark.operators import ml
    from etl_lala_spark.plans.llm_text import _LANGID_LANGS, _langid_corpus

    corpus = _langid_corpus(load_table(spark, sf_dir, "documents"))
    feats1 = ml.hashed_char_ngram_features(
        corpus, n_buckets=16
    ).localCheckpoint()
    assert feats1.rdd.getNumPartitions() == 1  # fast path actually armed
    m1 = ml.langid_train(
        corpus, _LANGID_LANGS, label_col="lang_true", n_buckets=16,
        iters=6, feats=feats1,
    )
    featsN = feats1.repartition(3).localCheckpoint()
    mN = ml.langid_train(
        corpus, _LANGID_LANGS, label_col="lang_true", n_buckets=16,
        iters=6, feats=featsN,
    )
    for lang in _LANGID_LANGS:
        assert np.allclose(
            m1["weights"][lang], mN["weights"][lang], rtol=0, atol=1e-9
        )
    p1 = {
        r["doc_id"]: r["pred_lang"]
        for r in ml.langid_predict(corpus, m1, feats=feats1).collect()
    }
    pN = {
        r["doc_id"]: r["pred_lang"]
        for r in ml.langid_predict(corpus, mN, feats=feats1).collect()
    }
    assert p1 == pN


def test_decontaminate_plants_and_containment(spark):
    """Eval-set decontamination at the GPT-3 13-gram grain: a doc sharing
    ONE 13-gram with the benchmark is flagged; n-grams are containment,
    not similarity — a doc made of benchmark words in a different order
    stays clean; short docs fall back to whole-text equality."""
    from etl_lala_spark.operators import dedup as dd_ops

    w = [f"w{i}" for i in range(40)]
    bench_snippet = " ".join(w[:13])
    corpus = spark.createDataFrame(
        [
            (1, " ".join(w)),                         # contains the snippet
            (2, "padding " + bench_snippet),          # contains it mid-doc
            (3, " ".join(reversed(w))),               # same words, no 13-gram
            (4, " ".join(w[20:40])),                  # disjoint window
            (5, "tiny doc"),                          # short-doc fallback
            (6, "exact eval answer"),                 # equals a short bench
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(101, bench_snippet), (102, "exact eval answer")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dd_ops.decontaminate(corpus, bench, k=13).collect()
    }
    assert {d: out[d]["contaminated"] for d in out} == {
        1: True, 2: True, 3: False, 4: False, 5: False, 6: True,
    }
    assert out[1]["n_hits"] == 1  # exactly the planted gram


def test_robots_rules_semantics(spark):
    """RFC 9309 corner cases: group selection (named group shadows the
    deny-all * group), longest-match precedence, Allow tie-break,
    * / $ wildcards, path case-sensitivity, empty Disallow matches
    nothing, hosts without robots allow everything."""
    from etl_lala_spark.operators import web

    robots = spark.createDataFrame(
        [
            (
                "a",
                "# policy\nUser-agent: GraftBot\nDisallow: /private/\n"
                "Allow: /private/open\nDisallow: /even*page$\n"
                "Disallow:\n\nUser-agent: *\nDisallow: /",
            ),
            ("b", "User-agent: *\nDisallow: /tmp/\nAllow: /tmp/ok"),
            # the allow-everything idiom: a rule-LESS named group must
            # shadow the deny-all * group (group existence, not rule rows)
            ("d", "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /"),
        ],
        "host string, robots_txt string",
    )
    rules = web.parse_robots(robots)
    # empty Disallow dropped at parse time (matches nothing per the RFC);
    # the rule-less group survives as a sentinel row (agent selection)
    assert rules.filter("path = ''").count() == 0
    assert rules.filter("host = 'd' and path is null").count() == 1
    urls = spark.createDataFrame(
        [
            ("a", "/public/x"),
            ("a", "/private/doc"),
            ("a", "/private/open/doc"),
            ("a", "/even9page"),
            ("a", "/even9page2"),
            ("a", "/PRIVATE/x"),
            ("b", "/tmp/x"),
            ("b", "/tmp/okay"),
            ("c", "/anything"),
            ("d", "/anything"),
            ("d", "/anything"),  # duplicate frontier row: must survive
        ],
        "host string, path string",
    )
    out = web.robots_allowed(urls, rules, agent="graftbot").collect()
    assert len(out) == len(urls.collect())  # row-preserving
    got = {
        (r["host"], r["path"]): (r["allowed"], r["matched_rule"])
        for r in out
    }
    assert got == {
        ("a", "/public/x"): (True, None),
        ("a", "/private/doc"): (False, "/private/"),
        ("a", "/private/open/doc"): (True, "/private/open"),
        ("a", "/even9page"): (False, "/even*page$"),
        ("a", "/even9page2"): (True, None),
        ("a", "/PRIVATE/x"): (True, None),
        ("b", "/tmp/x"): (False, "/tmp/"),
        ("b", "/tmp/okay"): (True, "/tmp/ok"),
        ("c", "/anything"): (True, None),
        ("d", "/anything"): (True, None),  # rule-less group shadows *
    }


def test_bloom_filter_no_false_negatives(spark):
    """Bloom frontier filter: every seen key probes true (false negatives
    are impossible by construction), and the false-positive rate on novel
    keys stays near the (1 - e^(-kn/m))^k theory value."""
    import math

    from etl_lala_spark.operators import web

    n, m, k = 500, 8192, 3
    seen = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(n)], "url string"
    )
    bitmap = web.bloom_build(seen, n_bits=m, k=k)
    assert len(bitmap) == m // 64
    probe = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(2 * n)], "url string"
    )
    rows = web.bloom_probe(probe, bitmap, n_bits=m, k=k).collect()
    flags = {int(r["url"].rsplit("/", 1)[1]): r["maybe_seen"] for r in rows}
    assert all(flags[i] for i in range(n))  # zero false negatives
    fp = sum(1 for i in range(n, 2 * n) if flags[i])
    theory = (1 - math.exp(-k * n / m)) ** k
    assert fp / n < 5 * theory + 0.01  # generous bound; ~0.4% expected


def test_bloom_positions_survive_frontier_scale_and_null_keys(spark):
    """The 48-bit position space must stay exact past the 2^31 cliff a
    32-bit cast would hit (a real frontier sketch is 10^9-10^10 bits, and
    Spark 4's ANSI mode turns an overflow into a job-killing exception),
    and a NULL key must yield a NULL verdict on both dense-array
    transports instead of failing the probe."""
    from pyspark.sql import functions as F

    from etl_lala_spark.operators import web

    n_bits = 1 << 40  # far beyond int32; bitmap itself never materialized
    df = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(50)], "url string"
    )
    stats = df.select(
        F.array(*web._bloom_positions("url", n_bits, 3)).alias("p")
    ).select(
        F.aggregate("p", F.lit(0).cast("bigint"),
                    lambda a, x: F.greatest(a, x)).alias("mx"),
        F.aggregate("p", F.lit(n_bits).cast("bigint"),
                    lambda a, x: F.least(a, x)).alias("mn"),
    ).agg(F.max("mx").alias("mx"), F.min("mn").alias("mn")).collect()[0]
    assert 0 <= stats["mn"] and stats["mx"] < n_bits
    assert stats["mx"] > (1 << 31)  # the position space actually exceeds int32

    # NULL-key verdicts: NULL on the words-conversion path above the
    # literal ceiling, NULL on the literal path — bit-identical contracts
    m = web._BLOOM_LITERAL_MAX_BITS * 2
    seen = spark.createDataFrame([("http://x/1",)], "url string")
    bitmap = web.bloom_build(seen, n_bits=m)
    probe = spark.createDataFrame(
        [("http://x/1",), (None,)], "url string"
    )
    big = {r["url"]: r["maybe_seen"]
           for r in web.bloom_probe(probe, bitmap, n_bits=m).collect()}
    assert big["http://x/1"] is True and big[None] is None
    small = web.bloom_build(seen, n_bits=4096)
    lit = {r["url"]: r["maybe_seen"]
           for r in web.bloom_probe(probe, small, n_bits=4096).collect()}
    assert lit["http://x/1"] is True and lit[None] is None


def test_bloom_words_transport_bit_identical(spark):
    """A dense array above _BLOOM_LITERAL_MAX_BITS is converted to its set
    words and probed by the k-join transport: it must agree row-for-row
    with the frontier-scale sketch from bloom_build_words at the same
    n_bits — same positions, same verdicts, same NULL semantics."""
    from etl_lala_spark.operators import web

    n, k = 300, 3
    m = web._BLOOM_LITERAL_MAX_BITS * 2
    seen = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(n)], "url string"
    )
    probe = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(2 * n)] + [(None,)], "url string"
    )
    dense = web.bloom_build(seen, n_bits=m, k=k)
    words = web.bloom_build_words(seen, n_bits=m, k=k)
    via_dense = {r["url"]: r["maybe_seen"]
                 for r in web.bloom_probe(probe, dense, n_bits=m, k=k).collect()}
    via_words = {r["url"]: r["maybe_seen"]
                 for r in web.bloom_probe(probe, words, n_bits=m, k=k).collect()}
    assert via_dense == via_words
    assert via_words[None] is None
    assert all(via_words[f"http://x/{i}"] for i in range(n))


def test_parquet_dir_rows_both_branches(spark, tmp_path):
    """The driver footer walk and the distributed metadata-count fallback
    (taken above _DIR_ROWS_MAX_FILES files) must return the SAME exact
    count — the fallback exists so a huge partitioned table never pins one
    driver thread, not to change any number."""
    from etl_lala_spark.operators import web

    path = str(tmp_path / "t")
    df = spark.range(137).selectExpr("id", "cast(id % 3 as int) as p")
    df.write.partitionBy("p").parquet(path)
    # hidden/temporary content must be invisible to BOTH branches
    (tmp_path / "t" / "_temporary").mkdir()
    (tmp_path / "t" / "_temporary" / "junk.parquet").write_bytes(b"x")

    assert web._parquet_dir_rows(path) == 137
    old = web._DIR_ROWS_MAX_FILES
    web._DIR_ROWS_MAX_FILES = 0  # force the distributed branch
    try:
        assert web._parquet_dir_rows(path) == 137
    finally:
        web._DIR_ROWS_MAX_FILES = old


def test_bloom_sketch_refuses_foreign_position_format(spark, tmp_path):
    """A durable sketch is LOSSY — it cannot be re-keyed under a new
    position layout, and probing it with mismatched positions could emit
    a false negative (the one forbidden error class). A store written
    under another fmt must refuse merge AND probe loudly, never degrade."""
    import json
    import os

    import pytest

    from etl_lala_spark.operators import web

    keys = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(20)], "url string"
    )
    store = str(tmp_path / "sketch")
    stats = web.bloom_sketch_write(keys, store, n_bits=1 << 16, k=3)
    assert stats["words"] > 0
    meta_path = os.path.join(store, web._BLOOM_SKETCH_META)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["fmt"] = web._BLOOM_FMT - 1
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="position format"):
        web.bloom_sketch_merge(spark, store, keys)
    with pytest.raises(ValueError, match="position format"):
        web.bloom_sketch_probe(keys, spark, store)


def test_bloom_build_words_lazy_matches_materialized(spark, tmp_path):
    """The r12 single-materialization paths (`bloom_build_words(
    materialize=False)` feeding `bloom_sketch_write`, and the lazy fold in
    `bloom_sketch_compact`) must produce the SAME words table as the
    checkpointed default — the flag changes when the aggregation runs,
    never what it computes. A store written through the lazy path must
    also probe bit-identically to an in-memory materialized sketch."""
    import os

    from pyspark.sql import functions as F

    from etl_lala_spark.operators import web

    keys = spark.createDataFrame(
        [(f"http://lazy/{i}",) for i in range(500)], "url string"
    )
    lazy = web.bloom_build_words(
        keys, n_bits=1 << 14, k=3, n_parts=4, materialize=False
    )
    eager = web.bloom_build_words(keys, n_bits=1 << 14, k=3, n_parts=4)
    assert sorted(map(tuple, lazy.collect())) == sorted(
        map(tuple, eager.collect())
    )

    store = str(tmp_path / "sketch")
    web.bloom_sketch_write(keys, store, n_bits=1 << 14, k=3, n_parts=4)
    web.bloom_sketch_merge(spark, store, keys, compute_stats=False)
    folded_before = web.bloom_sketch_compact(spark, store)
    meta = web._bloom_sketch_meta(store)
    on_disk = spark.read.parquet(os.path.join(store, meta["words_dir"]))
    assert folded_before["words"] == on_disk.count()
    assert sorted(
        map(tuple, on_disk.select("w", "bits").collect())
    ) == sorted(map(tuple, eager.select("w", "bits").collect()))

    probe = spark.createDataFrame(
        [(f"http://lazy/{i}",) for i in range(1000)], "url string"
    )
    # freshly compacted store: the clean-files stamp matches the listing,
    # so this probe takes the r13 fold-skip fast path — its verdicts must
    # be bit-identical to the in-memory materialized sketch
    meta = web._bloom_sketch_meta(store)
    files, _ = web._parquet_dir_stats(os.path.join(store, meta["words_dir"]))
    assert meta["clean_files"] == files  # fast path is actually armed
    via_store = web.bloom_sketch_probe(probe, spark, store)
    via_mem = web._bloom_probe_words(
        probe, eager, "url", 1 << 14, 3, "maybe_seen"
    )
    assert sorted(map(tuple, via_store.select("url", "maybe_seen").collect())) == sorted(
        map(tuple, via_mem.select("url", "maybe_seen").collect())
    )

    # a merge APPEND breaks the listing equality (cleanliness is derived,
    # never tracked): the next probe must fold — and still agree bit-
    # for-bit with the clean-path verdicts, since the appended delta
    # re-asserts already-set bits only
    web.bloom_sketch_merge(spark, store, keys, compute_stats=False)
    meta2 = web._bloom_sketch_meta(store)
    files2, _ = web._parquet_dir_stats(
        os.path.join(store, meta2["words_dir"])
    )
    assert meta2["clean_files"] != files2  # fold path re-armed
    via_dirty = web.bloom_sketch_probe(probe, spark, store)
    assert sorted(
        map(tuple, via_dirty.select("url", "maybe_seen").collect())
    ) == sorted(map(tuple, via_mem.select("url", "maybe_seen").collect()))


def test_extract_links_resolution_cases(spark):
    """RFC 3986 reference resolution: absolute kept, non-http schemes and
    fragment-only dropped, protocol/root/query-relative joins, directory
    join with dot-segment removal, &amp; entity decode, multiple links per
    page, row columns preserved."""
    from etl_lala_spark.operators.web import extract_links

    html = (
        '<a href="http://abs.example.com/x">a</a>'
        "<A HREF='//cdn.example.com/lib'>b</A>"
        '<a class="z" href="/rooted">c</a>'
        '<a href="relative/page">d</a>'
        '<a href="../up">e</a>'
        '<a href="./same">f</a>'
        '<a href="?q=1">g</a>'
        '<a href="#frag">h</a>'
        '<a href="">i</a>'
        '<a href="mailto:x@y.com">j</a>'
        '<a href="javascript:void(0)">k</a>'
        '<a href="/q?a=1&amp;b=2">l</a>'
    )
    df = spark.createDataFrame(
        [(7, "https://site.example.com/dir/sub/page.html?old=1#top", html)],
        "doc_id long, url string, html string",
    )
    out = extract_links(df)
    assert set(out.columns) == {"doc_id", "url", "html", "link"}
    links = sorted(r["link"] for r in out.collect())
    assert links == sorted(
        [
            "http://abs.example.com/x",
            "https://cdn.example.com/lib",
            "https://site.example.com/rooted",
            "https://site.example.com/dir/sub/relative/page",
            "https://site.example.com/dir/up",
            "https://site.example.com/dir/sub/same",
            "https://site.example.com/dir/sub/page.html?q=1",
            "https://site.example.com/q?a=1&b=2",
        ]
    )
    assert all(r["doc_id"] == 7 for r in out.collect())


def test_fix_mojibake_repair_and_fixed_point(spark):
    """Encoding repair: latin-1 and cp1252 misdecodes restore exactly,
    double mangling unwinds under passes=2, and the guard makes clean text
    — including real non-latin-1 text and a legitimate 'Ã' before a space
    — a fixed point."""
    from etl_lala_spark.operators.text import fix_mojibake

    clean = [
        "café au lait",
        "naïve — déjà vu",
        "猫 \U0001f408 über",
        "Ã is a real letter",
        "plain ascii",
    ]
    rows = []
    for i, c in enumerate(clean):
        m1 = c.encode("utf-8").decode("latin-1")
        try:
            mcp = c.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            mcp = m1
        rows.append((i, c, m1, m1.encode("utf-8").decode("latin-1"), mcp))
    df = spark.createDataFrame(
        rows, "i long, clean string, m1 string, m2 string, mcp string"
    )
    out = df.select(
        "i",
        "clean",
        fix_mojibake(F.col("m1")).alias("f1"),
        fix_mojibake(F.col("m2"), passes=2).alias("f2"),
        fix_mojibake(F.col("mcp")).alias("fcp"),
        fix_mojibake(F.col("clean")).alias("fx"),
    )
    for r in out.collect():
        assert r["f1"] == r["clean"], r
        assert r["f2"] == r["clean"], r
        assert r["fcp"] == r["clean"], r
        assert r["fx"] == r["clean"], r  # fixed point, never damages


def test_parse_cdxj_permissive_and_select_newest(spark):
    """CDXJ parsing: good lines type fully; a structurally-broken line and
    a bad-JSON payload each keep one _error row with data columns NULL.
    Selection keeps the newest 200+text/html capture per SURT key with a
    deterministic (ts, offset) tiebreak and counts good captures."""
    from etl_lala_spark.operators.web import (
        cdx_fetch_plan,
        parse_cdxj,
        select_captures,
    )

    def j(url, mime, status, off, ln, fn="crawl/a.warc.gz"):
        return (
            f'{{"url": "{url}", "mime": "{mime}", "status": "{status}",'
            f' "digest": "sha1:X", "length": "{ln}", "offset": "{off}",'
            f' "filename": "{fn}"}}'
        )

    lines = [
        # key1: three captures — newest good one wins, 503 ignored
        "com,ex)/a 20240101000000 " + j("http://ex.com/a", "text/html", 200, 10, 5),
        "com,ex)/a 20240102000000 " + j("http://ex.com/a", "text/html", 503, 20, 5),
        "com,ex)/a 20240103000000 " + j("http://ex.com/a", "text/html", 200, 30, 7),
        # key1 DUPLICATE of the newest ts with a lower offset: tiebreak
        "com,ex)/a 20240103000000 " + j("http://ex.com/a", "text/html", 200, 25, 7),
        # key2: only capture is a PDF — excluded entirely
        "com,ex)/b 20240101000000 " + j("http://ex.com/b", "application/pdf", 200, 1, 1),
        # malformed shapes
        "not a cdx line",
        "com,ex)/c 20240101000000 {definitely not json",
    ]
    df = spark.createDataFrame([(x,) for x in lines], "line string")
    parsed = parse_cdxj(df)
    errs = {r["line"]: r["_error"] for r in parsed.filter("_error is not null").collect()}
    assert errs == {
        "not a cdx line": "malformed_line",
        "com,ex)/c 20240101000000 {definitely not json": "bad_json",
    }
    bad = parsed.filter("_error is not null").collect()
    assert all(r["surt"] is None and r["ts"] is None and r["url"] is None for r in bad)
    good = parsed.filter("_error is null")
    assert good.count() == 5
    sel = select_captures(good).collect()
    assert len(sel) == 1
    r = sel[0]
    assert (r["surt"], r["ts"], r["offset"], r["n_captures"]) == (
        "com,ex)/a", 20240103000000, 30, 3,
    )
    plan = cdx_fetch_plan(select_captures(good)).collect()
    assert len(plan) == 1 and plan[0]["n_records"] == 1
    assert plan[0]["total_bytes"] == 7


def test_registered_domain_and_blocklist_filter(spark):
    """eTLD+1 extraction branches (subdomain, two-label public suffix,
    single label, suffix-as-host, port, case) and blocklist semantics
    (lowercased, deduped, unparseable URL not blocked)."""
    from etl_lala_spark.functions.scalars import registered_domain
    from etl_lala_spark.operators.web import domain_blocklist_filter

    cases = [
        ("http://ads.tracker.com/x", "tracker.com", True),
        ("https://Shop.Example.CO.UK:8443/p", "example.co.uk", True),
        ("http://deep.a.b.clean.org/", "clean.org", False),
        ("http://localhost/x", "localhost", False),
        ("http://co.uk/x", "co.uk", False),
        ("not a url at all", None, False),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _, _) in enumerate(cases)],
                               "i long, url string")
    bl = spark.createDataFrame(
        [("tracker.com",), ("EXAMPLE.co.uk",), ("Tracker.Com",)],
        "domain string",
    )
    out = {r["i"]: r for r in domain_blocklist_filter(df, bl).collect()}
    for i, (_, reg, blocked) in enumerate(cases):
        assert out[i]["reg_domain"] == reg, (i, out[i])
        assert out[i]["blocked_domain"] is blocked, (i, out[i])
    # the cased duplicate must not fan out rows
    assert len(out) == len(cases)


def test_badword_stats_whole_token_multiset(spark):
    """Badword counting is whole-token (no substring trips) and multiset
    (every occurrence); empty text gets a NULL fraction, not a crash."""
    from etl_lala_spark.operators.text import badword_stats

    df = spark.createDataFrame(
        [
            (0, "the class assembled BADx bad bad"),
            (1, "clean text only"),
            (2, ""),
        ],
        "i long, text string",
    )
    out = {r["i"]: r for r in badword_stats(df, ["bad", "ASS"]).collect()}
    assert (out[0]["n_tokens"], out[0]["n_badwords"]) == (6, 2)
    assert out[0]["badword_frac"] == round(2 / 6, 6)
    assert (out[1]["n_badwords"], out[1]["badword_frac"]) == (0, 0.0)
    assert (out[2]["n_tokens"], out[2]["badword_frac"]) == (0, None)


def test_shard_assignments_distributed_prefix_sum(spark):
    """shard_assignments' bucketed prefix sum must equal the naive global
    running sum; greedy packing overflows each shard by at most one doc;
    changing the seed is a different (but deterministic) permutation."""
    import hashlib

    from etl_lala_spark.sinks.writer import shard_assignments, shard_manifest

    rows = [(i, "x" * (17 + (i * 13) % 101)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    budget = 1000
    out = shard_assignments(df, shard_bytes=budget, seed="s1").collect()

    def key(seed, i):
        return hashlib.md5(f"{seed}:{i}".encode()).hexdigest()

    naive = sorted(rows, key=lambda r: (key("s1", r[0]), r[0]))
    cum, expect = 0, {}
    for i, text in naive:
        b = len(text)
        expect[i] = (cum // budget, cum + b)  # (shard by start offset, cum)
        cum += b
    got = {r["doc_id"]: r for r in out}
    assert len(got) == 400
    for i, (shard, cumb) in expect.items():
        assert got[i]["shard"] == shard, i
        assert got[i]["cum_bytes"] == cumb, i
    # at-most-one-doc overflow per shard
    for m in shard_manifest(shard_assignments(df, budget, seed="s1")).collect():
        assert m["shard_bytes_actual"] < budget + 118
    # seed change permutes but stays a permutation of the same docs
    out2 = {r["doc_id"]: r["shuffle_key"]
            for r in shard_assignments(df, budget, seed="s2").collect()}
    assert set(out2) == set(got)
    assert any(out2[i] != got[i]["shuffle_key"] for i in got)


def test_split_sentences_rules(spark):
    """Sentence splitting: abbreviation guard (cased, multi-dot 'e.g.'),
    ellipsis splits once keeping its run, unterminated tail kept, empty
    and whitespace-only texts produce no rows, ids stable."""
    from etl_lala_spark.operators.text import split_sentences

    df = spark.createDataFrame(
        [
            (0, "MR. Jones met Dr. Who. E.g. this stays. Done."),
            (1, "One... Two!! Three?  Four"),
            (2, ""),
            (3, "   "),
            (4, "No. 5 is fine. Next one."),
        ],
        "i long, text string",
    )
    out = split_sentences(df)
    got = {}
    for r in out.collect():
        got.setdefault(r["i"], []).append((r["sentence_id"], r["sentence"]))
    for k in got:
        got[k].sort()
    assert [s for _, s in got[0]] == [
        "MR. Jones met Dr. Who.", "E.g. this stays.", "Done.",
    ]
    assert [s for _, s in got[1]] == ["One...", "Two!!", "Three?", "Four"]
    assert 2 not in got and 3 not in got
    assert [s for _, s in got[4]] == ["No. 5 is fine.", "Next one."]
    assert set(out.columns) == {"i", "text", "sentence_id", "sentence"}


def test_parse_sitemap_tolerant(spark):
    """Sitemap parsing survives the crawl-garbage cases that abort Hive
    xpath: truncated XML, bare ampersands, stray markup. Entities decode
    outside CDATA only; &amp;lt; yields literal '&lt;'; non-numeric
    priority maps to NULL; an index file is detected by root."""
    from etl_lala_spark.operators.web import parse_sitemap

    rows = [
        (0, "<urlset><url><loc>http://a.com/x?p=1&amp;q=2</loc>"
            "<priority>not-a-number</priority></url></urlset>"),
        (1, "<urlset><url><loc>http://b.com/&amp;lt;odd&amp;gt;</loc></url>"
            "<url><loc><![CDATA[http://b.com/cd?a=1&b=2]]></loc></url></urlset>"),
        (2, "<urlset><url><loc>http://trunc.com/ok</loc></url><url><loc>http://cut"),
        (3, "<sitemapindex><sitemap><loc>http://c.com/s.xml</loc></sitemap>"
            "</sitemapindex>"),
        (4, "bare & garbage, no entries at all"),
        (5, "<urlset><url><lastmod>2024-01-01</lastmod></url></urlset>"),
    ]
    df = spark.createDataFrame(rows, "i long, xml string")
    out = {}
    for r in parse_sitemap(df).collect():
        out.setdefault(r["i"], []).append(r)
    assert out[0][0]["loc"] == "http://a.com/x?p=1&q=2"
    assert out[0][0]["priority"] is None
    locs1 = sorted(r["loc"] for r in out[1])
    assert locs1 == ["http://b.com/&lt;odd&gt;", "http://b.com/cd?a=1&b=2"]
    assert [r["loc"] for r in out[2]] == ["http://trunc.com/ok"]  # truncated tail dropped
    assert out[3][0]["kind"] == "sitemapindex"
    assert out[3][0]["loc"] == "http://c.com/s.xml"
    assert 4 not in out  # garbage yields zero rows, not a crash
    assert out[5][0]["loc"] is None and out[5][0]["lastmod"] == "2024-01-01"


def test_gopher_quality_rules_battery(spark):
    """Gopher A1.1 rule battery: a healthy prose doc keeps; word-count,
    symbol-ratio, bullet-line, ellipsis-line, alpha-word, and stopword
    rules each fail on a targeted doc; empty text fails closed without a
    division crash; lineless docs pass line rules vacuously."""
    from etl_lala_spark.operators.text import gopher_quality_rules

    prose = ("the quick brown fox and the lazy dog agreed that they have "
             "to be patient with every word of this plain sentence ") * 3
    docs = [
        (0, prose),
        (1, "tiny doc with the and of that to be have"),           # too few words
        (2, prose + " " + "### ## #" * 40),                        # symbol ratio
        (3, prose + "\n" + "\n".join("- b%d" % i for i in range(60))),  # bullets
        (4, prose + "\n" + "\n".join("x%d..." % i for i in range(60))), # ellipses
        (5, ("12 34 56 78 90 " * 12) + "the of and to be that have with"),  # alpha
        (6, ("lorem ipsum dolor sit amet " * 12)),                 # no stopwords
        (7, ""),
    ]
    df = spark.createDataFrame(docs, "i long, text string")
    out = {r["i"]: r for r in gopher_quality_rules(df, min_words=40).collect()}
    assert out[0]["keep"] is True
    assert out[1]["r_word_count"] is False and out[1]["keep"] is False
    assert out[2]["r_symbol_ratio"] is False
    assert out[3]["r_bullet_lines"] is False
    assert out[4]["r_ellipsis_lines"] is False
    assert out[5]["r_alpha_words"] is False
    assert out[6]["r_stopwords"] is False
    assert out[7]["n_words"] == 0 and out[7]["keep"] is False
    assert out[7]["mean_word_len"] is None
    # lineless prose: line fractions defined (one line), rules pass
    assert out[0]["bullet_line_frac"] == 0.0


def test_surt_key_matches_cdx_key_space(spark):
    """surt_key: host reversal, canonicalization collapse (case, www,
    default port, tracking params, query sort), NULL on invalid — and the
    round trip: the SURT of a capture's own url equals the index key it
    was listed under (the corpus-vs-index join invariant)."""
    from etl_lala_spark.functions.scalars import surt_key

    cases = [
        ("http://Shop.Example.COM:80/a/b", "com,example,shop)/a/b"),
        ("https://www.archive.org/x?b=2&utm_source=s&a=1",
         "org,archive)/x?a=1&b=2"),
        ("http://example.com", "com,example)/"),
        ("garbage", None),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["s"] for r in df.select("i", surt_key("url").alias("s")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i])


def test_round9_review_hardening(spark):
    """Review fixes: parse_cdxj rejects colliding input columns;
    badword_stats rejects an empty lexicon; shard_assignments with a
    non-256 bucket count loses no rows and keeps the global order;
    split_sentences ignores pre-existing control bytes; sitemap field
    extraction does not match tag-name prefixes ('<localized>' is not
    '<loc>')."""
    import pytest as _pytest

    from etl_lala_spark.operators.text import badword_stats, split_sentences
    from etl_lala_spark.operators.web import parse_cdxj, parse_sitemap
    from etl_lala_spark.sinks.writer import shard_assignments

    with _pytest.raises(ValueError, match="collide"):
        parse_cdxj(spark.createDataFrame([("x", "u")], "line string, url string"))
    # line_col itself gets no exemption: naming the input line column after
    # a reserved output ('url') must raise, not emit duplicate columns
    with _pytest.raises(ValueError, match="collide"):
        parse_cdxj(spark.createDataFrame([("x",)], "url string"), line_col="url")
    with _pytest.raises(ValueError, match="empty"):
        badword_stats(spark.createDataFrame([("t",)], "text string"), [])

    docs = spark.createDataFrame(
        [(i, "y" * (11 + i % 37)) for i in range(200)], "doc_id long, text string"
    )
    a256 = shard_assignments(docs, 500, seed="z", n_range_buckets=256).collect()
    a16 = shard_assignments(docs, 500, seed="z", n_range_buckets=16).collect()
    assert len(a16) == 200
    assert {(r["doc_id"], r["cum_bytes"], r["shard"]) for r in a16} == {
        (r["doc_id"], r["cum_bytes"], r["shard"]) for r in a256
    }

    s = split_sentences(
        spark.createDataFrame([(0, "A\x01 b\x02c ends. Next one.")],
                              "i long, text string")
    ).collect()
    assert [r["sentence"] for r in sorted(s, key=lambda r: r["sentence_id"])] == [
        "A bc ends.", "Next one.",
    ]

    sm = parse_sitemap(
        spark.createDataFrame(
            [(0, "<urlset><url><localized>nope</localized>"
                 "<loc>http://x.com/ok</loc></url></urlset>")],
            "i long, xml string",
        )
    ).collect()
    assert len(sm) == 1 and sm[0]["loc"] == "http://x.com/ok"

    # namespace-PREFIXED entries and fields match by local tag (advice r9):
    # <sm:url><sm:loc> yields a row just like the unprefixed form, and the
    # prefixed '<sm:localized>' decoy still does not match '<loc>'
    smns = parse_sitemap(
        spark.createDataFrame(
            [(0, '<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">'
                 "<sm:url><sm:localized>nope</sm:localized>"
                 "<sm:loc>http://ns.com/a</sm:loc>"
                 "<sm:lastmod>2024-01-02</sm:lastmod></sm:url>"
                 "<sm:url><sm:loc>http://ns.com/b</sm:loc></sm:url></sm:urlset>")],
            "i long, xml string",
        )
    ).collect()
    assert sorted(r["loc"] for r in smns) == ["http://ns.com/a", "http://ns.com/b"]
    assert {r["loc"]: r["lastmod"] for r in smns}["http://ns.com/a"] == "2024-01-02"
    assert all(r["kind"] == "urlset" for r in smns)


def test_cdx_snapshot_delta_labels(spark):
    """Snapshot delta: added / vanished / changed / unchanged, with NULLs
    only on the absent side."""
    from etl_lala_spark.operators.web import cdx_snapshot_delta

    old = spark.createDataFrame(
        [("k1", 1, "d1"), ("k2", 2, "d2"), ("k3", 3, "d3")],
        "surt string, ts long, digest string",
    )
    new = spark.createDataFrame(
        [("k2", 12, "d2"), ("k3", 13, "dX"), ("k4", 14, "d4")],
        "surt string, ts long, digest string",
    )
    got = {r["surt"]: r for r in cdx_snapshot_delta(old, new).collect()}
    assert got["k1"]["change"] == "vanished" and got["k1"]["new_ts"] is None
    assert got["k2"]["change"] == "unchanged"
    assert got["k3"]["change"] == "changed" and got["k3"]["new_digest"] == "dX"
    assert got["k4"]["change"] == "added" and got["k4"]["old_digest"] is None
    assert len(got) == 4


def test_politeness_waves_caps_per_host(spark):
    """No wave contains more than per_host_per_wave URLs of one host;
    ranking is per-host and deterministic; unparseable URLs group under a
    NULL host rather than vanishing."""
    from etl_lala_spark.operators.web import politeness_waves

    urls = [(i, f"http://h{i % 3}.com/p{i:03d}") for i in range(30)]
    urls.append((30, "garbage-url"))
    df = spark.createDataFrame(urls, "i long, url string")
    out = politeness_waves(df, per_host_per_wave=2).collect()
    assert len(out) == 31
    from collections import Counter
    per = Counter((r["host"], r["wave"]) for r in out)
    assert max(per.values()) <= 2
    # host h0.com has ids 0,3,...,27 → 10 urls → waves 0..4
    h0 = sorted(r["wave"] for r in out if r["host"] == "h0.com")
    assert h0 == [0, 0, 1, 1, 2, 2, 3, 3, 4, 4]
    assert any(r["host"] is None for r in out)


def test_extract_anchors_text_and_resolution(spark):
    """Anchor text: markup stripped to spaced text, entities decoded,
    whitespace collapsed, image-only anchors keep the row with NULL text,
    hrefs resolve like extract_links (same when-chain)."""
    from etl_lala_spark.operators.web import extract_anchors

    html = (
        '<a href="/x"> Go <b>deep</b>er\n now </a>'
        '<a href="rel/y">Q&amp;A</a>'
        '<a href="http://a.com/z"><img src="i.png"></a>'
        '<a href="mailto:n@a.com">skip me</a>'
    )
    df = spark.createDataFrame(
        [(1, "https://s.com/dir/p.html", html)],
        "i long, url string, html string",
    )
    rows = {r["link"]: r["anchor_text"] for r in extract_anchors(df).collect()}
    assert rows == {
        "https://s.com/x": "Go deep er now",
        "https://s.com/dir/rel/y": "Q&A",
        "http://a.com/z": None,
    }


def test_extract_page_meta_fields(spark):
    """Page metadata: flipped attribute order, cased tag/attr names,
    multi-token robots values (substring 'noindexing' must not trip),
    entity+whitespace title normalization, lang lowercased, absent fields
    NULL."""
    from etl_lala_spark.operators.web import extract_page_meta

    pages = [
        (0, '<html lang="EN-us"><head><title> A &amp; B\n C </title>'
            '<META content="desc here" NAME="description">'
            '<link href="http://c.com/main" rel="canonical">'
            '<meta name="robots" content="NOFOLLOW, NOINDEX"></head></html>'),
        (1, '<html><head><meta name="robots" content="noindexing-tool">'
            "</head></html>"),
        (2, "<html><body>nothing here</body></html>"),
    ]
    df = spark.createDataFrame(pages, "i long, html string")
    out = {r["i"]: r for r in extract_page_meta(df).collect()}
    assert out[0]["title"] == "A & B C"
    assert out[0]["meta_description"] == "desc here"
    assert out[0]["canonical_url"] == "http://c.com/main"
    assert out[0]["robots_noindex"] is True
    assert out[0]["html_lang"] == "en-us"
    assert out[1]["robots_noindex"] is False  # substring must not trip
    assert out[2]["title"] is None and out[2]["canonical_url"] is None


def test_chat_turn_stats_checks(spark):
    """SFT transcript checks: alternation, trailing-user rejection,
    system handling, empty content, malformed JSON kept as flagged row,
    empty array fails parse_ok."""
    from etl_lala_spark.operators.text import chat_turn_stats

    recs = [
        (0, '[{"role":"user","content":"q"},{"role":"assistant","content":"a"}]'),
        (1, '[{"role":"system","content":"s"},{"role":"user","content":"q"}]'),
        (2, '[{"role":"assistant","content":"a"}]'),
        (3, "not json"),
        (4, "[]"),
    ]
    df = spark.createDataFrame(recs, "i long, messages_json string")
    out = {r["i"]: r for r in chat_turn_stats(df).collect()}
    assert out[0]["keep"] is True and out[0]["n_turns"] == 2
    # system + trailing user: roles_ok (alternation fine so far) but no target
    assert out[1]["has_system"] is True and out[1]["n_turns"] == 1
    assert out[1]["ends_assistant"] is False and out[1]["keep"] is False
    # assistant-first violates alternation
    assert out[2]["roles_ok"] is False and out[2]["keep"] is False
    assert out[3]["parse_ok"] is False and out[3]["n_turns"] is None
    assert out[4]["parse_ok"] is False and out[4]["keep"] is False
    assert len(out) == 5


def test_robots_sitemaps_directives(spark):
    """Sitemap directives: group-independent, case-insensitive field
    name, comments stripped, duplicates collapsed, hosts without a
    directive absent."""
    from etl_lala_spark.operators.web import robots_sitemaps

    robots = spark.createDataFrame(
        [
            ("a.com", "User-agent: x\nDisallow: /\nSitemap: http://a.com/s.xml\n"
                      "sitemap: http://a.com/s.xml\nSITEMAP:http://a.com/t.xml"),
            ("b.com", "# Sitemap: http://b.com/hidden.xml\nUser-agent: *\n"
                      "Disallow:"),
        ],
        "host string, robots_txt string",
    )
    got = sorted((r["host"], r["sitemap_url"])
                 for r in robots_sitemaps(robots).collect())
    assert got == [
        ("a.com", "http://a.com/s.xml"),
        ("a.com", "http://a.com/t.xml"),
    ]


def test_detect_charset_precedence(spark):
    """WHATWG order: header param beats meta; bare meta beats http-equiv;
    a charset= inside content= is never read as a bare meta; body decoys
    never win; no declaration -> default."""
    from etl_lala_spark.operators.web import detect_charset

    rows = [
        (0, 'text/html; charset=UTF-16', '<meta charset="latin-1">'),
        (1, "text/html", "<meta charset=KOI8-R>"),
        (2, "text/html",
         '<meta http-equiv="content-type" content="text/html; charset=big5">'),
        (3, "text/html", "body says charset=evil"),
        (4, None, None),
        # an EARLY meta whose content= merely contains "charset=" must not
        # shadow a later real <meta charset=...> (advice r9)
        (5, "text/html",
         '<meta name="description" content="docs about charset=utf-16">'
         '<meta charset="shift_jis">'),
    ]
    df = spark.createDataFrame(rows, "i long, content_type string, html string")
    out = {r["i"]: (r["charset"], r["charset_source"])
           for r in detect_charset(df).collect()}
    assert out[0] == ("utf-16", "header")
    assert out[1] == ("koi8-r", "meta")
    assert out[2] == ("big5", "http_equiv")
    assert out[3] == ("utf-8", "default")
    assert out[4] == ("utf-8", "default")
    assert out[5] == ("shift_jis", "meta")


def test_normalize_punct_folds(spark):
    """Quotes/dashes/spaces fold 1:1, ellipsis folds to three dots, ASCII
    is a fixed point."""
    from pyspark.sql import functions as F

    from etl_lala_spark.operators.text import normalize_punct

    df = spark.createDataFrame(
        [(0, "‘a’ “b” – — … x y"), (1, "plain 'ascii' - ... ok")],
        "i long, t string",
    )
    out = {r["i"]: r["n"] for r in df.select("i", normalize_punct(F.col("t")).alias("n")).collect()}
    assert out[0] == "'a' \"b\" - - ... x y"
    assert out[1] == "plain 'ascii' - ... ok"


def test_robots_crawl_delays_and_schedule(spark):
    """Crawl-delay parsing: non-numeric and commented directives ignored,
    duplicates take the conservative max, cased field accepted; the
    schedule multiplies wave by the host's delay with a default for
    undeclared hosts."""
    from etl_lala_spark.operators.web import (
        politeness_schedule,
        robots_crawl_delays,
    )

    robots = spark.createDataFrame(
        [
            ("a.com", "Crawl-delay: 2\nCrawl-delay: 5\n# Crawl-delay: 99"),
            ("b.com", "CRAWL-DELAY: 1.5"),
            ("c.com", "Crawl-delay: soon"),
        ],
        "host string, robots_txt string",
    )
    delays = {r["host"]: r["crawl_delay_s"]
              for r in robots_crawl_delays(robots).collect()}
    assert delays == {"a.com": 5.0, "b.com": 1.5}
    frontier = spark.createDataFrame(
        [(f"http://a.com/p{i}",) for i in range(4)]
        + [(f"http://x.com/p{i}",) for i in range(2)],
        "url string",
    )
    sched = {(r["host"], r["host_rank"]): r["not_before_s"]
             for r in politeness_schedule(
                 frontier, robots_crawl_delays(robots),
                 per_host_per_wave=2, default_delay_s=0.5).collect()}
    # declared delay -> strict host_rank serialization: two same-wave
    # fetches may NOT share an offset (that would violate Crawl-delay)
    assert [sched[("a.com", i)] for i in range(4)] == [0.0, 5.0, 10.0, 15.0]
    # undeclared host keeps wave-based parallelism at the default delay
    assert sched[("x.com", 0)] == 0.0 and sched[("x.com", 1)] == 0.0


def test_cdx_redirect_resolve_semantics(spark):
    """Redirect resolution: chains resolve with exact hop counts; a key
    with both a 200 and a 302 capture is terminal (not followed); the
    NEWEST redirect capture defines the out-edge; self-loops and cycles
    classify too_deep with NULL endpoint; a target with no capture is
    dangling; hops beyond max_hops are too_deep."""
    from etl_lala_spark.operators.web import cdx_redirect_resolve, parse_cdxj

    def line(surt, ts, status, url, redirect=None):
        r = f', "redirect": "{redirect}"' if redirect else ""
        return (
            f'{surt} {ts} {{"url": "{url}", "mime": "text/html",'
            f' "status": "{status}", "digest": "sha1:X", "length": "1",'
            f' "offset": "0", "filename": "w.warc.gz"{r}}}'
        )

    lines = [
        # a -> b -> final (hops: a=2, b=1)
        line("com,ex)/a", 20240101000000, 302, "http://ex.com/a", "http://ex.com/b"),
        line("com,ex)/b", 20240101000000, 302, "http://ex.com/b", "http://ex.com/final"),
        line("com,ex)/final", 20240101000000, 200, "http://ex.com/final"),
        # newest-wins: stale edge to /dead, newer edge to /final
        line("com,ex)/n", 20240101000000, 301, "http://ex.com/n", "http://ex.com/dead"),
        line("com,ex)/n", 20240102000000, 301, "http://ex.com/n", "http://ex.com/final"),
        # terminal-and-redirect key: has a 200 -> NOT followed, no output row
        line("com,ex)/t", 20240101000000, 200, "http://ex.com/t"),
        line("com,ex)/t", 20240102000000, 302, "http://ex.com/t", "http://ex.com/b"),
        # chain INTO the terminal key: resolves at /t in one hop
        line("com,ex)/into", 20240101000000, 302, "http://ex.com/into", "http://ex.com/t"),
        # self-loop
        line("com,ex)/s", 20240101000000, 302, "http://ex.com/s", "http://ex.com/s"),
        # 2-cycle
        line("com,ex)/c1", 20240101000000, 302, "http://ex.com/c1", "http://ex.com/c2"),
        line("com,ex)/c2", 20240101000000, 302, "http://ex.com/c2", "http://ex.com/c1"),
        # dangling
        line("com,ex)/d", 20240101000000, 302, "http://ex.com/d", "http://ex.com/nowhere"),
    ]
    parsed = parse_cdxj(spark.createDataFrame([(x,) for x in lines], "line string"))
    got = {r["surt"]: (r["final_surt"], r["hops"], r["resolution"])
           for r in cdx_redirect_resolve(parsed, max_hops=8).collect()}
    assert got["com,ex)/a"] == ("com,ex)/final", 2, "ok")
    assert got["com,ex)/b"] == ("com,ex)/final", 1, "ok")
    assert got["com,ex)/n"] == ("com,ex)/final", 1, "ok")
    assert "com,ex)/t" not in got  # terminal key is never followed
    assert got["com,ex)/into"] == ("com,ex)/t", 1, "ok")
    assert got["com,ex)/s"] == (None, None, "too_deep")
    assert got["com,ex)/c1"] == (None, None, "too_deep")
    assert got["com,ex)/c2"] == (None, None, "too_deep")
    assert got["com,ex)/d"] == ("com,ex)/nowhere", 1, "dangling")
    assert len(got) == 8

    # a 10-hop chain under max_hops=4 exhausts the budget
    deep = [line(f"com,ex)/h{i}", 20240101000000, 302, f"http://ex.com/h{i}",
                 f"http://ex.com/h{i+1}") for i in range(10)]
    deep.append(line("com,ex)/h10", 20240101000000, 200, "http://ex.com/h10"))
    p2 = parse_cdxj(spark.createDataFrame([(x,) for x in deep], "line string"))
    got2 = {r["surt"]: (r["hops"], r["resolution"])
            for r in cdx_redirect_resolve(p2, max_hops=4).collect()}
    assert got2["com,ex)/h9"] == (1, "ok")
    assert got2["com,ex)/h6"] == (4, "ok")
    assert got2["com,ex)/h0"] == (None, "too_deep")


def test_robots_meta_directives_matching(spark):
    """Page-level robots directives: word-boundary matching ('noindexing'
    is not 'noindex'), header+meta sources OR together, 'all' and absent
    declarations mean neither, header-only works without an html match."""
    from etl_lala_spark.operators.web import robots_meta_directives

    rows = [
        (0, '<meta name="robots" content="noindexing nofollowed">', ""),
        (1, '<meta name="robots" content="all">', ""),
        (2, '<meta name="robots" content="noindex">',
         "X-Robots-Tag: nofollow"),
        (3, "", "x-robots-tag: NOINDEX, nofollow"),
        (4, None, None),
        # HTML5-unquoted content values, incl. a self-closing tag whose
        # trailing '/' must not glue onto the directive
        (5, "<meta name=robots content=noindex,nofollow>", ""),
        (6, "<meta name=robots content=noindex/>", ""),
        # REP unions directives across EVERY declaration: second meta tag,
        # second X-Robots-Tag header line
        (7, '<meta name="robots" content="noindex">'
            '<meta name="robots" content="nofollow">', ""),
        (8, "", "X-Robots-Tag: noarchive\r\nX-Robots-Tag: nofollow"),
        # the decoy discipline survives multi-tag extraction
        (9, '<meta name="description" content="noindex">'
            '<meta name=keywords content=nofollow>', ""),
    ]
    df = spark.createDataFrame(rows, "i long, html string, http_headers string")
    got = {r["i"]: (r["noindex"], r["nofollow"])
           for r in robots_meta_directives(df).collect()}
    assert got[0] == (False, False)
    assert got[1] == (False, False)
    assert got[2] == (True, True)
    assert got[3] == (True, True)
    assert got[4] == (False, False)
    assert got[5] == (True, True)
    assert got[6] == (True, False)
    assert got[7] == (True, True)
    assert got[8] == (False, True)
    assert got[9] == (False, False)


def test_cdx_index_lines_fields(spark):
    """Index generation: 14-digit ts fold, parameter-stripped lowercase
    mime, sha1-hex payload digest, basename filename, member extents,
    Location only on 3xx, non-response records excluded — and the
    generated line parses back through parse_cdxj losslessly."""
    from pyspark.sql import functions as F

    from etl_lala_spark.operators.web import cdx_index_lines, parse_cdxj

    rows = [
        ("file:/crawl/seg/a.warc.gz", "response", "http://ex.com/p", 
         "2024-03-05T06:07:08Z", 200, "Text/HTML; charset=utf-8",
         "Content-Type: text/html", bytearray(b"hello"), 17, 123),
        ("file:/crawl/seg/a.warc.gz", "response", "http://ex.com/r",
         "2024-03-05T06:07:09Z", 301, "text/html",
         "Content-Type: text/html\r\nLocation: http://ex.com/p2",
         bytearray(b""), 140, 9),
        ("file:/crawl/seg/a.warc.gz", "warcinfo", None,
         "2024-03-05T06:07:08Z", None, None, None,
         bytearray(b"software: x"), 0, 5),
    ]
    df = spark.createDataFrame(
        rows,
        "file string, warc_type string, target_uri string, warc_date string,"
        " http_status int, http_content_type string, http_headers string,"
        " payload binary, member_offset long, member_bytes long",
    )
    out = {r["surt"]: r for r in cdx_index_lines(df).collect()}
    assert len(out) == 2  # warcinfo never indexed
    a = out["com,ex)/p"]
    assert a["ts"] == 20240305060708
    import hashlib

    parsed = {
        r["surt"]: r
        for r in parse_cdxj(
            cdx_index_lines(df).select("line")
        ).collect()
    }
    pa = parsed["com,ex)/p"]
    assert pa["_error"] is None
    assert pa["mime"] == "text/html"
    assert pa["status"] == 200
    assert pa["offset"] == 17 and pa["length"] == 123
    assert pa["filename"] == "a.warc.gz"
    assert pa["digest"] == "sha1:" + hashlib.sha1(b"hello").hexdigest()
    assert pa["redirect"] is None
    pr = parsed["com,ex)/r"]
    assert pr["redirect"] == "http://ex.com/p2"
    assert pr["status"] == 301
