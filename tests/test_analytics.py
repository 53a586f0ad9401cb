"""Training-pipeline operator tests: dedup, similarity, text, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spider_spark.analytics import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 1
        (4, "completely different content about spark dataframes and shuffle tuning"),
        (5, "el rápido zorro marrón salta sobre el perro perezoso cada mañana"),
        (6, "数据处理引擎在大规模集群上运行"),
        (7, ""),
        (8, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = dedup.exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0]["dup_count"] == 2
    assert out[0]["doc_ids"] == [1, 2]


def test_exact_duplicates_prefix_fingerprint(docs):
    # a 20-char prefix key also groups doc 3 (same first words as 1/2,
    # different tail) with them; the whole-text key above does not
    out = dedup.exact_duplicates(docs, prefix_chars=20).collect()
    grouped = {tuple(r["doc_ids"]): r["dup_count"] for r in out}
    assert grouped == {(1, 2, 3): 3}


def test_minhash_near_duplicates(docs):
    pairs = {
        (r["doc_id"], r["doc_id2"]): r["est_jaccard"]
        for r in dedup.minhash_near_duplicates(
            docs, jaccard_threshold=0.5, num_hashes=64, bands=16
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # exact dup
    assert (1, 3) in pairs                              # near dup
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_simhash_near_duplicates(spark):
    # simhash needs longer docs: a 1-word edit in a long doc flips few
    # bits, in a short doc it flips many (which is correct behavior)
    base = (
        "data processing engines schedule distributed tasks across many "
        "executor nodes while the optimizer prunes partitions pushes filters "
        "and broadcasts small tables to avoid expensive shuffles in large "
        "analytical queries over columnar storage formats with vectorized "
        "readers and adaptive execution features enabled "
    ) * 2
    rows = [
        (1, base),
        (2, base),
        (3, base.replace("optimizer", "planner")),
        (4, "completely unrelated tiny document about gardening and soil"),
    ]
    long_docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_id"], r["doc_id2"]): r["hamming"] for r in
           dedup.simhash_near_duplicates(long_docs, max_hamming=6).collect()}
    assert out[(1, 2)] == 0
    assert (1, 3) in out and 0 < out[(1, 3)] <= 6
    assert (1, 4) not in out


def test_ngram_jaccard_verification(docs, spark):
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_id long, doc_id2 long"
    )
    out = {(r["doc_id"], r["doc_id2"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs, cand).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.3 < out[(1, 3)] < 1.0
    assert out[(1, 4)] < 0.1


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    base = rng.standard_normal((20, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # 20-21: near-identical pair
    rows.append((20, [float(x) for x in base[0] + 0.001 * rng.standard_normal(8)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(vectors):
    out = similarity.brute_force_topk(vectors, vectors.filter("vec_id = 0"), k=3)
    rows = out.collect()
    assert len(rows) == 3
    assert rows[0]["rank"] == 1
    top = {r["rank"]: r["neighbor_id"] for r in rows}
    assert top[1] == 20  # the planted near-duplicate
    assert all(r["cosine"] <= 1.0 for r in rows)


def test_lsh_topk_finds_planted_neighbor(vectors):
    out = similarity.lsh_topk(
        vectors, vectors.filter("vec_id = 0"), dim=8, k=3, n_bits=8
    ).collect()
    assert any(r["neighbor_id"] == 20 and r["rank"] == 1 for r in out)


def test_embedding_near_duplicates(vectors):
    pairs = {(r["doc_id"], r["doc_id2"]) for r in
             similarity.embedding_near_duplicates(
                 vectors, dim=8, cosine_threshold=0.99, n_bits=8).collect()}
    assert (0, 20) in pairs


def test_ivf_topk(vectors):
    cent = similarity.ivf_build(vectors, dim=8, n_cells=4, sample=32)
    out = similarity.ivf_topk(
        vectors, vectors.filter("vec_id = 0"), cent, k=3, n_probe=2
    ).collect()
    assert len(out) >= 1
    assert out[0]["rank"] == 1


def test_quality_and_token_counts(docs):
    out = (
        text.quality_score(docs)
        .withColumn("ws_tokens", text.whitespace_token_count(F.col("text")))
        .withColumn("bpe_tokens", text.bpe_token_count(F.col("text")))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[7, "ws_tokens"] == 0
    assert out.loc[8, "ws_tokens"] == 2
    assert out.loc[1, "ws_tokens"] == 14
    assert out.loc[1, "bpe_tokens"] >= 14
    assert 0 <= out.loc[1, "quality"] <= 1
    assert out.loc[1, "quality"] > out.loc[7, "quality"]
    assert out.loc[1, "stopword_ratio"] > 0


def test_lang_id(docs, spark):
    out = {r["doc_id"]: r["lang"] for r in docs.withColumn(
        "lang", text.lang_id_udf(F.col("text"))).collect()}
    assert out[1] == "en"
    assert out[5] == "es"
    assert out[6] == "zh"
    assert out[7] == "und"


def test_fingerprint_stability(docs, spark):
    a = {r["doc_id"]: r["fp"] for r in docs.withColumn(
        "fp", text.fingerprint_col(F.col("text")).alias("fp")).collect()}
    b = {r["doc_id"]: r["fp"] for r in docs.withColumn(
        "fp", text.fingerprint_col(F.col("text")).alias("fp")).collect()}
    assert a == b
    assert a[1] == a[2]            # identical text → identical fp
    assert a[1] != a[3]
    # whitespace-normalization invariance
    assert text.doc_fingerprint("hello   world") == text.doc_fingerprint("hello world")
    # non-ASCII whitespace (NBSP, line-sep, info-separators) is NOT
    # collapsed — Spark's \s is ASCII-only, and the twin must agree
    # (ADVICE r3); check against the JVM expression directly
    tricky = ["a\xa0b", "a b", "a\x1c\x1d\x1fb", "  pad\xa0  ",
              "mixed \xa0 ws\t\xa0\n"]
    tricky_df = spark.createDataFrame([(t,) for t in tricky], "text string")
    jvm_fps = [r["fp"] for r in tricky_df.select(
        text.fingerprint_col(F.col("text")).alias("fp")).collect()]
    assert jvm_fps == [text.doc_fingerprint(t) for t in tricky]
    assert text.doc_fingerprint("a\xa0b") != text.doc_fingerprint("a b")
    # the driver-side scalar twin matches Spark's JVM expression exactly
    texts = [r["text"] for r in docs.select("text").collect()]
    spark_fps = [r["fp"] for r in docs.withColumn(
        "fp", text.fingerprint_col(F.col("text")).alias("fp")).collect()]
    assert spark_fps == [text.doc_fingerprint(t) for t in texts]
    # no Python stage in the plan: the fingerprint is pure codegen
    plan = docs.select(text.fingerprint_col(F.col("text")).alias("fp")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_winnow_fingerprints(docs):
    k, w = 4, 5
    out = text.winnow_fingerprints(docs, k=k, w=w, text_col="text",
                                   id_col="doc_id").collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    # Spark output == pure-Python twin, doc by doc (empty doc 7 absent)
    expect = {i: text.winnow_fingerprints_py(t, k=k, w=w)
              for i, t in texts.items() if t.strip()}
    assert got == expect
    # winnowing guarantee: docs 1/3 share a 12-word run >= w+k-1=8
    # words -> must share a fingerprint; doc 4 shares no 4-gram with 1
    assert got[1] & got[3]
    assert not (got[1] & got[4])
    # exact duplicate docs produce identical fingerprint sets
    assert got[1] == got[2]
    # short doc (< k words) still fingerprints (whole-text gram)
    assert len(got[8]) == 1
    # zero-shuffle narrow plan, no Python stage
    plan = text.winnow_fingerprints(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_multimodal_codecs_roundtrip():
    """Real pure-numpy codecs: encode -> decode is exact."""
    import numpy as np

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    h, w, c, out = multimodal.decode_bmp(multimodal.encode_bmp(px))
    assert (h, w, c) == (5, 7, 3)
    assert np.array_equal(out, px)

    samples = rng.integers(-2**15, 2**15, size=123).astype(np.int16)
    rate, ch, out_s = multimodal.decode_wav(multimodal.encode_wav(samples, 16000))
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(out_s, samples)

    frames = [rng.integers(0, 256, size=(3, 4, 3), dtype=np.uint8)
              for _ in range(5)]
    parts = multimodal.demux_video(multimodal.encode_video(frames))
    assert len(parts) == 5
    assert np.array_equal(multimodal.decode_bmp(parts[2])[3], frames[2])


def test_multimodal_rejects_garbage():
    import struct as _struct

    import pytest as _pytest

    for fn in (multimodal.decode_bmp, multimodal.decode_wav,
               multimodal.demux_video):
        with _pytest.raises(ValueError):
            fn(b"not a media payload")

    # truncated payloads that PASS the magic check must still raise
    # ValueError (the drop-bad-payloads contract), never struct.error
    truncated = [
        (multimodal.demux_video, b"VID0"),
        (multimodal.demux_video, b"VID0" + _struct.pack("<I", 3)),
        (multimodal.demux_video,
         b"VID0" + _struct.pack("<I", 1) + _struct.pack("<I", 999) + b"xx"),
        (multimodal.decode_wav,
         b"RIFF" + _struct.pack("<I", 20) + b"WAVE"
         + b"fmt " + _struct.pack("<I", 16) + b"\x01\x00"),  # short fmt body
        (multimodal.decode_bmp, b"BM" + b"\x00" * 52),  # 54B, bad fields
    ]
    for fn, payload in truncated:
        with _pytest.raises(ValueError):
            fn(payload)


def test_multimodal_plumbing(spark):
    media = multimodal.make_media_table(spark, n=30)
    n_feat = 6 + multimodal.N_HIST_BINS
    img = multimodal.extract_image_features(media)
    rows = img.collect()
    assert len(rows) == 10  # every 3rd row is an image
    assert all(len(r["features"]) == n_feat for r in rows)
    assert all(r["width"] > 0 and r["height"] > 0 for r in rows)

    aud = multimodal.extract_audio_features(media).collect()
    assert len(aud) == 10
    assert all(len(r["features"]) == 10 and r["sample_rate"] == 8000
               for r in aud)

    frames = multimodal.sample_video_frames(media, every_n=10)
    frows = frames.collect()
    assert len(frows) > 0
    assert all(r["frame_idx"] % 10 == 0 for r in frows)
    assert all(len(r["frame_features"]) == n_feat for r in frows)
    # determinism
    assert [r["features"] for r in img.collect()] == [r["features"] for r in rows]
    # undecodable payloads are dropped, not fatal
    bad = spark.createDataFrame(
        [("http://m/bad", "image", b"junk", {})], multimodal.MEDIA_SCHEMA)
    assert multimodal.extract_image_features(bad).count() == 0


def test_lsh_bucket_cap_degenerate_corpus(spark):
    """1000 near-identical docs would make every LSH bucket quadratic;
    the cap bounds candidates and reports what it dropped."""
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text repeated forever " * 5)
         for i in range(1000)],
        "doc_id long, text string",
    )
    stats = {}
    pairs = dedup.minhash_near_duplicates(
        docs, num_hashes=32, bands=8, jaccard_threshold=0.5,
        bucket_cap=16, stats_out=stats,
    )
    n = pairs.count()
    assert n <= 16 * 15 // 2  # candidates bounded by the cap, not n^2
    assert stats["buckets_over_cap"] > 0
    assert stats["rows_dropped"] > 0

    stats2 = {}
    sh = dedup.simhash_near_duplicates(
        docs, max_hamming=3, bucket_cap=16, stats_out=stats2)
    assert sh.count() <= 16 * 15 // 2
    assert stats2["rows_dropped"] > 0

    # determinism: lowest doc_ids are the kept ones
    kept = {r.doc_id for r in pairs.collect()} | {r.doc_id2 for r in pairs.collect()}
    assert kept and max(kept) < 16


def test_media_summary_matches_composed(spark):
    """The fused one-pass media_feature_summary must be row-identical
    (at the query's round-6 precision) to composing the three per-kind
    extract operators + union + per-frame groupBy."""
    from pyspark.sql import functions as F

    from spider_spark.analytics import multimodal

    media = multimodal.make_media_table(spark, n=45)
    fused = {
        (r["media_ref"], r["kind"]): (r["dim"], round(r["feat_sum"], 6))
        for r in multimodal.media_feature_summary(media, every_n=5).collect()
    }
    img = multimodal.extract_image_features(media).select(
        "media_ref", F.lit("image").alias("kind"),
        F.col("width").cast("long").alias("dim"),
        F.round(F.aggregate("features", F.lit(0.0),
                            lambda a, x: a + x), 6).alias("feat_sum"))
    aud = multimodal.extract_audio_features(media).select(
        "media_ref", F.lit("audio").alias("kind"),
        F.col("n_samples").cast("long").alias("dim"),
        F.round(F.aggregate("features", F.lit(0.0),
                            lambda a, x: a + x), 6).alias("feat_sum"))
    vid = (
        multimodal.sample_video_frames(media, every_n=5)
        .groupBy("media_ref")
        .agg(F.count("*").cast("long").alias("dim"),
             F.round(F.sum(F.aggregate("frame_features", F.lit(0.0),
                                       lambda a, x: a + x)), 6)
             .alias("feat_sum"))
        .select("media_ref", F.lit("video").alias("kind"), "dim",
                "feat_sum"))
    composed = {
        (r["media_ref"], r["kind"]): (r["dim"], round(r["feat_sum"], 6))
        for r in img.unionByName(aud).unionByName(vid).collect()
    }
    assert fused == composed


def test_dataset_balance_skewed_sources(spark):
    """Balanced downsampling on a 40:5 source skew: the keep decision
    must equal the exact integer-hash predicate (recomputed here with
    hashlib), the small source keeps everything, and rates are
    min_n/n."""
    import hashlib
    from spider_spark import queries as Q
    rows = [(i, f"document body number {i}", "big") for i in range(40)]
    rows += [(100 + i, f"rare text {i}", "small") for i in range(5)]
    df = spark.createDataFrame(
        [(d, t, s, len(t)) for d, t, s in rows],
        "doc_id long, text string, source string, n_chars long")
    df.createOrReplaceTempView("_bal_docs")

    # run the same expression pipeline over the hand-built frame
    import pyspark.sql.functions as SF
    counts = df.groupBy("source").agg(SF.count("*").alias("_n"))
    minn = counts.agg(SF.min("_n").alias("_minn"))
    h = SF.conv(SF.substring(SF.md5("text"), 1, 8), 16, 10).cast("long")
    flagged = (df.join(SF.broadcast(counts), "source")
               .crossJoin(SF.broadcast(minn))
               .select("source", "doc_id",
                       (h * SF.col("_n") < SF.col("_minn")
                        * SF.lit(4294967296)).alias("keep")))
    got = {(r["source"], r["doc_id"]): r["keep"] for r in flagged.collect()}

    for doc_id, text, source in rows:
        n = 40 if source == "big" else 5
        expect = int(hashlib.md5(text.encode()).hexdigest()[:8], 16) * n < 5 * 2**32
        assert got[(source, doc_id)] == expect, (source, doc_id)
    assert all(got[("small", 100 + i)] for i in range(5))  # rate 1.0
    kept_big = sum(got[("big", i)] for i in range(40))
    assert 0 < kept_big < 40  # actually downsampled, not all-or-nothing


def test_lang_temperature_properties(spark, sf_dir):
    """α=0.3 temperature sampling: weights form a distribution, rare
    languages are boosted above their share and the dominant one is
    damped below it, quotas conserve corpus size, and the rounded
    report is bit-stable under a different partition layout (the
    sorted-fold normalizer is the partition-order defence)."""
    from spider_spark import queries as Q

    rows = Q.q_lang_temperature(spark, sf_dir).collect()
    by_lang = {r["lang"]: r for r in rows}
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    total = sum(r["n_docs"] for r in rows)
    assert abs(sum(r["expected_docs"] for r in rows) - total) <= len(rows)
    top = max(rows, key=lambda r: r["n_docs"])
    low = min(rows, key=lambda r: r["n_docs"])
    assert top["boost"] < 1.0 < low["boost"]
    assert top["weight"] < top["share"] and low["weight"] > low["share"]

    # partition-layout invariance of the full rounded report: the
    # SAME production pipeline over a repartitioned copy
    shuffled = spark.read.parquet(
        f"{sf_dir}/documents.parquet").repartition(17, "doc_id")
    re_rows = Q._lang_temperature_report(shuffled).collect()
    assert len(re_rows) == len(rows)
    for r in re_rows:
        b = by_lang[r["lang"]]
        for col in ("n_docs", "share", "weight", "boost",
                    "expected_docs"):
            assert r[col] == b[col], (r["lang"], col)


def test_token_budget_water_filling(spark, sf_dir):
    """Water-filling invariants: allocations sum exactly to the
    integer budget B, kept languages receive their full size, capped
    languages all sit at one common level T, T is below every capped
    size and at-or-above every kept size (the defining property of the
    water level), and at the 80% budget both branches are exercised."""
    import duckdb
    from spider_spark import queries as Q

    rows = Q.q_token_budget(spark, sf_dir).collect()
    con = duckdb.connect()
    total = con.execute(
        f"SELECT SUM(n_chars) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    con.close()
    B = total * Q._BUDGET_NUM // Q._BUDGET_DEN

    assert abs(sum(r["alloc"] for r in rows) - B) < 1e-3
    kept = [r for r in rows if not r["capped"]]
    capped = [r for r in rows if r["capped"]]
    assert kept and capped  # 80% budget exercises both branches
    for r in kept:
        assert r["alloc"] == float(r["n_chars"])
    levels = {r["alloc"] for r in capped}
    assert len(levels) == 1  # one common water level
    t = levels.pop()
    assert all(t < r["n_chars"] for r in capped)
    assert all(t >= r["n_chars"] for r in kept)


def test_incremental_duplicates_golden(spark):
    # whitespace-collapse + lowercase normalization collides doc 1
    # ("a  b") with existing doc 2 ("A b"); doc 3 is novel
    docs = spark.createDataFrame(
        [(1, "a  b"), (3, "c")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(2, "A b"), (4, "d")], "doc_id long, text string")
    out = dedup.incremental_duplicates(docs, corpus).collect()
    assert [(r["doc_id"],) for r in out] == [(1,)]
    import hashlib
    assert out[0]["content_hash"] == hashlib.md5(b"a b").hexdigest()


def test_incremental_duplicates_prefix_fingerprint(spark):
    # prefix_chars=3 keys on the first 3 normalized chars: "abcdef" vs
    # "ABC xyz" share the "abc" prefix and collide; whole-text mode
    # (default) does not flag them.
    docs = spark.createDataFrame(
        [(1, "abcdef"), (3, "zzz")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(2, "ABCxyz")], "doc_id long, text string")
    strict = dedup.incremental_duplicates(docs, corpus).collect()
    assert strict == []
    out = dedup.incremental_duplicates(docs, corpus, prefix_chars=3).collect()
    assert [r["doc_id"] for r in out] == [1]
    import hashlib
    assert out[0]["content_hash"] == hashlib.md5(b"abc").hexdigest()


def test_substring_duplicate_pairs_golden(spark):
    # docs 1 and 2 share the verbatim 4-word run "lorem ipsum dolor
    # sit" (one distinct shared 4-gram); doc 3 shares nothing long
    # enough; docs 1 and 4 share two distinct overlapping runs
    docs = spark.createDataFrame(
        [(1, "lorem ipsum dolor sit amet x"),
         (2, "prefix lorem ipsum dolor sit"),
         (3, "lorem ipsum dolor"),
         (4, "lorem ipsum dolor sit amet")],
        "doc_id long, text string")
    out = dedup.substring_duplicate_pairs(docs, n=4)
    got = {(r["doc_id"], r["doc_id2"]): r["n_shared_grams"]
           for r in out.collect()}
    assert got == {(1, 2): 1, (1, 4): 2, (2, 4): 1}


def test_substring_pairs_cap_drops_boilerplate_bucket(spark):
    # "a b c" appears in 3 docs; cap=2 drops that bucket WHOLESALE
    # (no pair survives from it), reports exact stats, and leaves the
    # under-cap "x y z" pair intact
    docs = spark.createDataFrame(
        [(1, "a b c p"), (2, "a b c q"), (3, "a b c r"),
         (4, "x y z w"), (5, "x y z v")],
        "doc_id long, text string")
    stats = {}
    out = dedup.substring_duplicate_pairs(
        docs, n=3, bucket_cap=2, stats_out=stats)
    got = {(r["doc_id"], r["doc_id2"]) for r in out.collect()}
    assert got == {(4, 5)}
    assert stats == {"buckets_over_cap": 1, "rows_dropped": 3}


def test_collocations_golden(spark):
    # hand-computed PMI ratios: pairs (x,y) c12=3 and (z,z) c12=4,
    # unigrams x=3 y=3 z=5 q=1, total bigrams T=10 (the single-token
    # doc 3 contributes no bigram and must not crash the builder)
    #   ratio(x,y) = 3*10/(3*3) = 3.333...,  ratio(z,z) = 4*10/25 = 1.6
    docs = spark.createDataFrame(
        [(1, "x y x y q"), (2, "x y z z z z z"), (3, "solo")],
        "doc_id long, text string")
    rows = text.collocations(docs, min_count=2, topk=10).collect()
    got = [(r["w1"], r["w2"], r["pair_count"], round(r["pmi_ratio"], 6))
           for r in rows]
    assert got == [("x", "y", 3, round(30 / 9, 6)), ("z", "z", 4, 1.6)]


def test_collocations_topk_tiebreak(spark):
    # two pairs with identical ratios: the (w1, w2) tiebreak decides
    # the top-1 cut deterministically
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d c d")], "doc_id long, text string")
    rows = text.collocations(docs, min_count=2, topk=1).collect()
    assert [(r["w1"], r["w2"]) for r in rows] == [("a", "b")]


def test_line_dedup_golden(spark):
    # "footer x" appears in docs 1 and 2 (case/whitespace-insensitively)
    # so it is boilerplate and dropped from both; "only here" lines are
    # unique and kept in original order; doc 3 is ALL boilerplate and
    # must still emit a row with an empty cleaned string; the repeated
    # line inside doc 4 alone (1 distinct doc) is NOT boilerplate.
    docs = spark.createDataFrame(
        [(1, "keep one\nfooter x\nkeep two"),
         (2, "other text\n  Footer X  \nmore text"),
         (3, "footer x"),
         (4, "same line\nsame line")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.line_dedup(docs).collect()}
    assert out[1]["cleaned"] == "keep one\nkeep two"
    assert (out[1]["n_lines"], out[1]["n_dropped"]) == (3, 1)
    assert out[2]["cleaned"] == "other text\nmore text"
    assert out[3]["cleaned"] == "" and out[3]["n_dropped"] == 1
    assert out[4]["cleaned"] == "same line\nsame line"
    assert out[4]["n_dropped"] == 0


def test_line_dedup_min_docs_threshold(spark):
    # min_docs=3: a line in only 2 docs survives everywhere
    docs = spark.createDataFrame(
        [(1, "shared\na"), (2, "shared\nb"), (3, "solo")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.line_dedup(docs, min_docs=3).collect()}
    assert out[1]["cleaned"] == "shared\na"
    assert sum(r["n_dropped"] for r in out.values()) == 0


def test_ngram_contamination_golden(spark):
    # doc 1 contains the held-out doc's "a b c" trigram once (distinct
    # grams per doc: repeats inside a doc count once); doc 2 contains
    # two distinct held-out trigrams; doc 3 shares nothing; doc 4 is
    # shorter than n and must emit no grams (never a partial gram)
    train = spark.createDataFrame(
        [(1, "x a b c y a b c"), (2, "a b c d"), (3, "q r s t"), (4, "a b")],
        "doc_id long, text string")
    heldout = spark.createDataFrame(
        [(100, "a b c d e")], "doc_id long, text string")
    out = dedup.ngram_contamination(train, heldout, n=3)
    got = {r["doc_id"]: r["n_contaminated"] for r in out.collect()}
    assert got == {1: 1, 2: 2}
    # eval side must broadcast: the corpus never shuffles on the gram
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ngram_contamination_matches_bruteforce(spark):
    # one seeded random corpus over a tiny vocab (forcing collisions),
    # checked against a pure-Python gram-set reference — one Spark
    # round-trip, many docs
    import random
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(6)]
    def doc(k):
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
    train_rows = [(i, doc(i)) for i in range(40)]
    held_rows = [(100 + i, doc(i)) for i in range(4)]
    n = 3
    def grams(text):
        w = text.lower().split()
        return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}
    held_grams = set().union(*(grams(t) for _, t in held_rows)) if held_rows else set()
    expect = {}
    for i, t in train_rows:
        hits = len(grams(t) & held_grams)
        if hits:
            expect[i] = hits
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    held = spark.createDataFrame(held_rows, "doc_id long, text string")
    out = dedup.ngram_contamination(train, held, n=n)
    got = {r["doc_id"]: r["n_contaminated"] for r in out.collect()}
    assert got == expect and expect  # non-vacuous by construction


def test_repetition_features_goldens(spark):
    # "a b a b a b": trigrams [a b a, b a b, a b a, b a b] -> dup 2/4;
    # bigrams [a b]x3 + [b a]x2 -> top share 3/5.  Unique text -> dup
    # 0, share 1/3.  Two-word docs are excluded (no trigram).
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "one two three four"), (3, "x y")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.repetition_features(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_words"] == 6
    assert out[1]["dup_trigram_frac"] == pytest.approx(0.5)
    assert out[1]["top_bigram_share"] == pytest.approx(3 / 5)
    assert out[2]["dup_trigram_frac"] == 0.0
    assert out[2]["top_bigram_share"] == pytest.approx(1 / 3)


def test_connected_components_hand_graph(spark):
    # two components (4-chain forces label propagation across hops,
    # triangle), duplicate + reversed edges, plus isolated nodes 50/60
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 1),      # chain 1-2-3-4 (+reverse dup)
         (10, 11), (11, 12), (10, 12),        # triangle
         (3, 4)],                             # exact duplicate edge
        "doc_id long, doc_id2 long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 12, 50, 60)], "doc_id long"
    )
    out = {r["doc_id"]: r["component"]
           for r in dedup.connected_components(pairs, nodes=nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   50: 50, 60: 60}


def test_connected_components_long_chain_and_no_nodes(spark):
    # 16-node chain: min label must travel 15 hops; pointer jumping
    # gets there in O(log n) rounds well inside max_iter
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 115)], "doc_id long, doc_id2 long"
    )
    out = dedup.connected_components(pairs)  # nodes derived from edges
    rows = out.collect()
    assert len(rows) == 16
    assert {r["component"] for r in rows} == {100}


def test_connected_components_induced_subgraph(spark):
    # explicit nodes = induced-subgraph semantics: endpoints outside
    # nodes yield no output rows, and connectivity THROUGH an excluded
    # node does not merge components (1-2-99-3-4 with 99 filtered out
    # splits into {1,2} and {3,4})
    pairs = spark.createDataFrame(
        [(1, 2), (2, 99), (99, 3), (3, 4), (99, 100)],
        "doc_id long, doc_id2 long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4)], "doc_id long"
    )
    out = {r["doc_id"]: r["component"]
           for r in dedup.connected_components(pairs, nodes=nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 3, 4: 3}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_id long, doc_id2 long")
    nodes = spark.createDataFrame([(7,), (9,)], "doc_id long")
    out = {r["doc_id"]: r["component"]
           for r in dedup.connected_components(pairs, nodes=nodes).collect()}
    assert out == {7: 7, 9: 9}


def test_dataset_split_deterministic_and_partition_invariant(spark, sf_dir):
    from spider_spark import queries as Q
    a = {r.split: (r.n_docs, r.total_chars)
         for r in Q.q_dataset_split(spark, sf_dir).collect()}
    assert set(a) == {"train", "val", "test"}
    total = sum(v[0] for v in a.values())
    # content-hash split: ~80/10/10 by construction of the hex cutoffs
    assert 0.7 < a["train"][0] / total < 0.9
    # invariant under partition layout (the property randomSplit lacks)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(17)
    tmp = f"{spark.conf.get('spark.local.dir', '/tmp')}/split_repart"
    d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    b = {r.split: (r.n_docs, r.total_chars)
         for r in Q.q_dataset_split(spark, tmp).collect()}
    assert a == b


def test_vocab_coverage_monotone(spark, sf_dir):
    from spider_spark import queries as Q
    rows = sorted(Q.q_vocab_coverage(spark, sf_dir).collect(),
                  key=lambda r: r.rank)
    assert rows[0].rank == 1
    covs = [r.coverage for r in rows]
    assert all(c1 <= c2 for c1, c2 in zip(covs, covs[1:]))
    assert 0.0 < covs[0] <= covs[-1] <= 1.0
    occs = [r.occurrences for r in rows]
    assert all(o1 >= o2 for o1, o2 in zip(occs, occs[1:]))


def test_dataset_engineering_plan_shapes(spark, sf_dir):
    """100-TB plan pins: vocab's global top-K must be TakeOrdered (per-
    partition top-K + K-row driver merge), never a full Sort; the split
    and histogram rollups must be single-shuffle with column-pruned
    scans (no join, no text column read where not needed)."""
    from spider_spark import queries as Q
    vocab = Q.q_vocab_coverage(spark, sf_dir)
    vplan = vocab._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in vplan

    hist = Q.q_length_histogram(spark, sf_dir)
    hplan = hist._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in hplan
    # projection pruning reached the parquet scan: only n_chars read
    assert "text#" not in hplan


def test_round5_text_query_plan_shapes(spark, sf_dir):
    """100-TB plan pins for the round-5 text queries: both must stay
    entirely JVM-side (no Python/Arrow eval nodes — the ratios and
    n-gram arrays are built-in expressions) and prune the documents
    scan to (doc_id, text)."""
    from spider_spark import queries as Q
    for fn in (Q.q_doc_tfidf, Q.q_repetition_scores):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "ArrowEval" not in plan
        assert "lang#" not in plan and "source#" not in plan
        assert "n_chars#" not in plan


def test_round5_dedup_query_plan_shapes(spark, sf_dir):
    """100-TB plan pins for the round-5 dedup/quality queries: all
    JVM-side (no Python/Arrow eval nodes), documents scan pruned to
    (doc_id, text), and the small side broadcast where the design says
    so (held-out grams in decontaminate, the vocabulary frequency
    table in unigram_xent)."""
    from spider_spark import queries as Q
    for fn in (Q.q_dedup_prefix, Q.q_dedup_incremental,
               Q.q_decontaminate, Q.q_unigram_xent):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "ArrowEval" not in plan, fn.__name__
        assert "lang#" not in plan and "source#" not in plan, fn.__name__
        assert "n_chars#" not in plan, fn.__name__
    for fn in (Q.q_decontaminate, Q.q_unigram_xent):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_pii_features_semantics_and_plan(spark, sf_dir):
    """pii_features edge semantics: counts on the original text,
    fixed redaction order (an IP that is part of an email's domain is
    consumed by the email sentinel, not double-redacted), empty and
    PII-free text pass through untouched.  Plan: pure JVM projection
    (no Python/Arrow nodes, no shuffle operators)."""
    rows = [
        (0, "mail me at a.b+c@sub.host.org or 10.0.0.1 tel 555-0199"),
        (1, "no pii here just words"),
        (2, ""),
        (3, "u@4.2.2.2.example borderline"),  # domain looks IP-ish
        (4, "edge 999.999.999.999 and 555-12345 overlong"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.pii_features(df).collect()}

    assert (got[0]["n_emails"], got[0]["n_ipv4"], got[0]["n_phones"]) == (1, 1, 1)
    assert got[0]["redacted"] == "mail me at <EMAIL> or <IP> tel <PHONE>"
    assert (got[1]["n_emails"], got[1]["n_ipv4"], got[1]["n_phones"]) == (0, 0, 0)
    assert got[1]["redacted"] == rows[1][1]
    assert got[2]["redacted"] == ""
    # email wins over the embedded dotted-quad: one sentinel, no <IP>
    assert got[3]["n_emails"] == 1
    assert got[3]["redacted"] == "<EMAIL> borderline"
    # naive \d{1,3} quad matches overlong octets (documented detector
    # looseness, same as the public C4 pass); 5-digit run is NOT a phone
    assert got[4]["n_ipv4"] == 1 and got[4]["n_phones"] == 0

    plan = (text.pii_features(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "Exchange" not in plan

    qplan = (__import__("spider_spark.queries", fromlist=["queries"])
             .q_pii_scrub(spark, sf_dir)
             ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in qplan and "Exchange" not in qplan
    assert "lang#" not in qplan and "n_chars#" not in qplan


def test_filter_decisions_plan_and_composition(spark, sf_dir):
    """filter_decisions must stay JVM-side with a (doc_id, text)-pruned
    scan, and its keep decision must equal composing the standalone
    quality/repetition queries with the same thresholds."""
    from spider_spark import queries as Q
    df = Q.q_filter_decisions(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "lang#" not in plan and "source#" not in plan

    got = {r["doc_id"]: (r["keep"], r["reasons"]) for r in df.collect()}
    q = {r["doc_id"]: r for r in
         Q.q_quality_scores(spark, sf_dir).collect()}
    rep = {r["doc_id"]: r for r in
           Q.q_repetition_scores(spark, sf_dir).collect()}
    assert set(got) == set(q)
    for doc_id, (keep, reasons) in got.items():
        expect = []
        if q[doc_id]["n_words"] < 25:
            expect.append("too_short")
        if q[doc_id]["stopword_ratio"] < 0.01:
            expect.append("low_stopword")
        if q[doc_id]["punct_ratio"] > 0.02:
            expect.append("high_punct")
        r = rep.get(doc_id)
        if r and (r["dup_trigram_frac"] > 0.01
                  or r["top_bigram_share"] > 0.125):
            expect.append("repetitive")
        assert keep == (not expect), doc_id
        assert reasons == ",".join(expect), doc_id
    # both outcomes must occur (thresholds are live, not vacuous)
    keeps = {k for k, (kp, _) in got.items() if kp}
    assert keeps and len(keeps) < len(got)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """Measured recall@k pin for IVF on the real embeddings table:
    ground truth = exact brute force; recall must clear a floor at
    moderate n_probe and be non-decreasing as more cells are probed
    (probing every cell = exhaustive search = recall 1.0)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(e.select("embedding").first()[0])
    qs = e.filter("vec_id < 20")
    truth = {}
    for r in similarity.brute_force_topk(e, qs, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    cent = similarity.ivf_build(e, dim=dim, n_cells=8)

    def recall(n_probe):
        got = {}
        for r in similarity.ivf_topk(e, qs, cent, k=5, n_probe=n_probe).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        return hits / sum(len(v) for v in truth.values())

    r2, r4, r8 = recall(2), recall(4), recall(8)
    assert r2 >= 0.4, f"recall@5 with n_probe=2 too low: {r2}"
    assert r4 >= r2 and r8 >= r4, (r2, r4, r8)
    assert r8 == 1.0  # probing all 8 cells is exhaustive


def test_resize_image_kernel():
    px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    out = multimodal.resize_image(px, 2, 3)
    # nearest-neighbor coordinate maps: rows [0,2], cols [0,2,4]
    assert out.shape == (2, 3, 3)
    assert (out == px[[0, 2]][:, [0, 2, 4]]).all()
    up = multimodal.resize_image(px, 8, 12)  # upscale = repetition
    assert up.shape == (8, 12, 3)
    assert (up[0] == up[1]).all()
    with pytest.raises(ValueError):
        multimodal.resize_image(np.zeros((0, 0, 3), dtype=np.uint8), 4, 4)


def test_resize_images_operator(spark):
    media = multimodal.make_media_table(spark, n=24, seed=3)
    out = multimodal.resize_images(media, 8, 8).collect()
    assert len(out) == media.filter("kind = 'image'").count() > 0
    for r in out:
        h, w, c, px = multimodal.decode_bmp(bytes(r.payload))
        assert (h, w, px.shape) == (8, 8, (8, 8, 3))
        assert (r.height, r.width) == (8, 8)


@pytest.mark.parametrize("label_type", ["int", "string"])
def test_semdedup_exemplar_resolution(spark, label_type):
    """SemDeDup keep/drop semantics on a crafted frame: identical
    vectors in one cluster collapse to the min-id exemplar, the same
    vector in a DIFFERENT cluster is untouched (pairwise pass is
    cluster-blocked), and a below-tau vector survives — for int and
    string cluster labels alike.  Rows with a NULL label or vector take
    no part (the SQL twin's inner join drops them)."""
    from spider_spark.analytics import dedup as D
    lab = int if label_type == "int" else str
    rows = [
        # cluster 0: three identical vectors -> 20 and 30 both dup_of 10
        (10, [1.0, 0.0, 0.0], lab(0)),
        (20, [1.0, 0.0, 0.0], lab(0)),
        (30, [2.0, 0.0, 0.0], lab(0)),   # same direction, scaled: cos = 1
        # cluster 0: orthogonal vector survives
        (40, [0.0, 1.0, 0.0], lab(0)),
        # cluster 1: identical to 10 but different cluster -> kept
        (50, [1.0, 0.0, 0.0], lab(1)),
        # no cluster: identical to each other (and to 10, 50) but
        # never paired — NULL is no cluster, not a shared one
        (60, [1.0, 0.0, 0.0], None),
        (65, [1.0, 0.0, 0.0], None),
        # no vector: never paired
        (70, None, lab(0)),
    ]
    e = spark.createDataFrame(
        rows, f"vec_id long, embedding array<float>, label {label_type}")
    out = {r["vec_id"]: r for r in D.semdedup(e, tau=0.9).collect()}
    assert set(out) == {20, 30}
    assert out[20]["dup_of"] == 10 and out[30]["dup_of"] == 10
    assert abs(out[20]["cosine"] - 1.0) < 1e-9
    # plan is the cogrouped Arrow block pass (guide §4.2): one
    # FlatMapCoGroupsInPandas over (cluster, salt) blocks, no
    # row-at-a-time BatchEvalPython, no materialized pair join
    plan = (D.semdedup(e, tau=0.9)
            ._jdf.queryExecution().executedPlan().toString())
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_link_degrees_histogram(spark, sf_dir):
    """link_degrees: total histogram mass equals 3 edges per doc, and
    the plan is two JVM hash aggregates over the span-derived edge list
    (the interleaved view synthesizes spans from text at test scale, so
    the scan reads text here; a stored spans column nested-prunes to
    media_ref alone in production)."""
    from spider_spark import queries as Q
    df = Q.q_link_degrees(spark, sf_dir)
    rows = df.collect()
    import pyarrow.parquet as pq
    n_docs = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    assert sum(r["n_urls"] * r["in_degree"] for r in rows) == 3 * n_docs
    assert all(r["in_degree"] >= 1 for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two aggs


def test_cosine_expr_float64_bit_parity(spark):
    """cosine_expr must equal a float64 sequential-fold reference
    BIT-exactly (not approximately): the oracle twins round to 6
    decimals, and float32 products differ by ~1e-7 — enough to flip a
    value across the rounding boundary (seen at sf0.1 before the
    array<double> cast; 5/954 semdedup cosines mismatched)."""
    import numpy as np
    from pyspark.sql import functions as F
    from spider_spark.analytics.similarity import cosine_expr

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(64).astype(np.float32).tolist())
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    pairs = (df.alias("a").crossJoin(df.alias("b"))
             .filter(F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"),
                     cosine_expr(F.col("a.v"), F.col("b.v")).alias("cos")))
    got = {(r["i"], r["j"]): r["cos"] for r in pairs.collect()}
    vecs = {i: np.asarray(v, dtype=np.float64) for i, v in rows}

    def ref(a, b):
        # sequential left fold in float64, like the JVM aggregate and
        # DuckDB's list_cosine_similarity over DOUBLE[]
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for x in b:
            nb += x * x
        return dot / max(np.sqrt(na) * np.sqrt(nb), 1e-12)

    for (i, j), c in got.items():
        assert c == ref(vecs[i], vecs[j]), (i, j)


def test_kmeans_lloyd_matches_numpy_replica(spark, sf_dir):
    """kmeans_lloyd's distributed assignment must reproduce a pure
    numpy Lloyd run under the same determinism contract (first-k init,
    centroids rounded to 6dp, distances rounded to 9dp, ties to the
    lowest cluster id) — the same contract the DuckDB unrolled-CTE
    oracle twin checks end-to-end."""
    import pandas as pd

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = (similarity.kmeans_lloyd(e, k=8, iters=2)
           .orderBy("vec_id").toPandas())

    pdf = e.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    x = np.vstack([np.asarray(v, dtype=np.float64)
                   for v in pdf["embedding"]])
    cent = np.round(x[:8], 6)
    assign = None
    for it in range(2):
        d = np.round(((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1), 9)
        assign = d.argmin(1)  # argmin ties -> lowest index
        if it == 1:
            break
        new = cent.copy()
        for c in range(8):
            m = assign == c
            if m.any():
                new[c] = np.round(x[m].mean(0), 6)
        cent = new

    ref = pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                        "cluster": assign.astype("int32")})
    assert got["vec_id"].tolist() == ref["vec_id"].tolist()
    assert got["cluster"].tolist() == ref["cluster"].tolist()
    assert got["cluster"].nunique() > 1  # non-degenerate clustering


def test_bpe_learn_matches_sennrich_reference(spark, sf_dir):
    """bpe_learn's distributed merge loop must reproduce a pure-Python
    Sennrich-style BPE trainer (count every adjacent occurrence, merge
    non-overlapping left-to-right, argmax ties to lexicographic pair)
    run on the same word-frequency table."""
    import re
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = [(r["rank"], r["lhs"], r["rhs"], r["pair_count"])
           for r in text.bpe_learn(docs, n_merges=6).collect()]

    wc = Counter()
    for (t,) in docs.select("text").collect():
        wc.update(re.findall(r"[a-z]+", (t or "").lower()))
    seqs = {w: tuple(w) + ("</w>",) for w in wc}

    ref = []
    for rank in range(1, 7):
        pc = Counter()
        for w, seq in seqs.items():
            n = wc[w]
            for a, b in zip(seq, seq[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        (la, lb), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        ref.append((rank, la, lb, cnt))
        out = {}
        for w, seq in seqs.items():
            res, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == la and seq[i + 1] == lb:
                    res.append(la + lb)
                    i += 2
                else:
                    res.append(seq[i])
                    i += 1
            out[w] = tuple(res)
        seqs = out
    assert got == ref


def test_bpe_encode_matches_reference(spark, sf_dir):
    """bpe_encode (distinct-word encode + re-join) must equal a pure
    Python learn-then-encode over the same corpus: per-doc token count
    = sum over word occurrences of the merged symbol-sequence length."""
    import re
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [(r["lhs"], r["rhs"])
              for r in text.bpe_learn(docs, n_merges=4).collect()]
    got = {r["doc_id"]: r["bpe_tokens"]
           for r in text.bpe_encode(docs, merges).collect()}

    def encode_len(word):
        seq = list(word) + ["</w>"]
        for la, lb in merges:
            res, i, n = [], 0, len(seq)
            while i < n:
                if i + 1 < n and seq[i] == la and seq[i + 1] == lb:
                    res.append(la + lb)
                    i += 2
                else:
                    res.append(seq[i])
                    i += 1
            seq = res
        return len(seq)

    ref = {}
    cache = {}
    for doc_id, t in docs.select("doc_id", "text").collect():
        ws = re.findall(r"[a-z]+", (t or "").lower())
        if not ws:
            continue
        n = 0
        for w in ws:
            if w not in cache:
                cache[w] = encode_len(w)
            n += cache[w]
        ref[doc_id] = n
    assert got == ref


# ---- shard_assign ----------------------------------------------------------

def _brute_shards(rows, k):
    """Reference: global exclusive prefix sum in id order."""
    rows = sorted(rows)
    tot = sum(w for _, w in rows)
    out, cum = {}, 0
    for i, w in rows:
        out[i] = 0 if tot <= 0 else min(cum * k // tot, k - 1)
        cum += w
    return out


def test_shard_assign_matches_bruteforce(spark):
    import random

    rng = random.Random(41)
    ids = rng.sample(range(0, 100_000), 500)  # sparse, non-contiguous
    rows = [(i, rng.choice([0, 1, 3, 17, 250])) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    got = {r["doc_id"]: r["shard"]
           for r in text.shard_assign(df, 7, n_buckets=16).collect()}
    assert got == _brute_shards(rows, 7)


def test_shard_assign_contiguous_and_balanced(spark):
    rows = [(i, 10) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    res = text.shard_assign(df, 8).collect()
    by_shard = {}
    for r in res:
        by_shard.setdefault(r["shard"], []).append(r["doc_id"])
    assert sorted(by_shard) == list(range(8))
    # contiguity: shard ranges must not interleave
    spans = sorted((min(v), max(v), s) for s, v in by_shard.items())
    for (lo1, hi1, _), (lo2, _hi2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2
    # balance: equal weights -> every shard within one doc of 125
    sizes = {s: len(v) for s, v in by_shard.items()}
    assert all(v == 125 for v in sizes.values())


def test_shard_assign_degenerate(spark):
    # all-zero weights: everything lands in shard 0, no div-by-zero
    df = spark.createDataFrame([(i, 0) for i in range(10)],
                               "doc_id long, weight long")
    assert {r["shard"] for r in text.shard_assign(df, 4).collect()} == {0}
    # more buckets than rows
    df2 = spark.createDataFrame([(5, 2), (9, 2)], "doc_id long, weight long")
    got = {r["doc_id"]: r["shard"]
           for r in text.shard_assign(df2, 2, n_buckets=64).collect()}
    assert got == {5: 0, 9: 1}


# ---- pack_sequences --------------------------------------------------------

def test_pack_sequences_matches_bruteforce(spark):
    import random

    rng = random.Random(43)
    ids = rng.sample(range(0, 50_000), 400)
    rows = [(i, rng.choice([0, 1, 100, 512, 513, 1025])) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    got = {r["doc_id"]: (r["first_seq"], r["last_seq"], r["n_seqs"])
           for r in text.pack_sequences(df, 512, n_buckets=16).collect()}

    cum, ref = 0, {}
    for i, w in sorted(rows):
        first = cum // 512
        last = (cum + w - 1) // 512 if w > 0 else first
        ref[i] = (first, last, last - first + 1 if w > 0 else 0)
        cum += w
    assert got == ref
    # token-interval invariant: sum over docs of tokens == seq coverage
    # (docs with w == L starting ON a boundary span exactly 1 sequence)
    exact = [r for r in got.items()]
    assert all(n >= 1 or ref[i][2] == 0 for i, (_, _, n) in exact)
