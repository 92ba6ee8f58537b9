"""Training-data pipeline operators: dedup / similarity / text / multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from featurebase_spark.pipeline import dedup as D
from featurebase_spark.pipeline import similarity as S
from featurebase_spark.pipeline import text as T
from featurebase_spark.pipeline.multimodal import (
    extract_image_features,
    frame_sample_plan,
)


@pytest.fixture(scope="module")
def docs(tables):
    return tables["documents"]


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


def test_exact_dedup_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "A B C ")],
        ["doc_id", "text"],
    )
    groups = D.exact_duplicate_groups(df).collect()
    # normalization folds case/whitespace: {1,2,4} is one group
    assert len(groups) == 1 and groups[0]["dup_count"] == 3
    kept = D.drop_exact_duplicates(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_shingles_short_doc(spark):
    # a short doc contributes exactly ONE whole-text shingle, and two
    # short docs with the same text share it (hashed posting keys)
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], ["doc_id", "text"]
    )
    sh = {r["doc_id"]: r["shingle"] for r in D.shingle_table(df).collect()}
    assert len(sh) == 3
    assert sh[1] == sh[2] and sh[1] != sh[3]


def test_shingle_table_matches_string_form(spark):
    """The hashed posting table has the same per-doc shingle COUNTS and
    cross-doc equality classes as the string form (the DuckDB oracles
    compute the string form)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a lazy dog"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "tiny"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    hashed = D.shingle_table(df)
    strings = df.select(
        F.col("doc_id"), F.explode(D.shingles(F.col("text"), 5)).alias("s")
    )
    hc = {r["doc_id"]: r["n"] for r in
          hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    sc = {r["doc_id"]: r["n"] for r in
          strings.groupBy("doc_id").agg(F.countDistinct("s").alias("n")).collect()}
    assert hc == sc
    # intersection counts per pair match too (docs 1 and 3 identical)
    def inter(t, col):
        a = t.select(F.col("doc_id").alias("ia"), F.col(col))
        b = t.select(F.col("doc_id").alias("ib"), F.col(col))
        return {
            (r["ia"], r["ib"]): r["n"]
            for r in a.join(b, col).where("ia < ib")
            .groupBy("ia", "ib").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    assert inter(hashed, "shingle") == inter(strings.distinct(), "s")


def test_minhash_lsh_contains_all_true_pairs(docs):
    """LSH candidates must (at these parameters, on this corpus) recover
    every exact-Jaccard pair — the containment the scale path relies on."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert lsh <= exact  # verification step guarantees precision
    assert lsh == exact  # empirical recall on this corpus


def test_embedding_neardup_lsh_equals_bruteforce(emb):
    """The scale path (banded SRP candidates → restricted verify) must
    equal the brute-force twin exactly on this corpus — 100% recall at
    these parameters; precision is guaranteed by the exact verify."""
    bf = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in D.embedding_neardup_pairs(emb, threshold=0.45).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in D.embedding_neardup_lsh(emb, threshold=0.45).collect()
    }
    assert lsh == bf and len(bf) > 0


def test_neardup_scale_plans_have_no_crossjoin(emb, docs):
    """VERDICT r1 #4: the registered near-dup forms must not contain a
    cartesian/nested-loop join — candidates come from bucketed equi-joins."""
    for df in (
        D.embedding_neardup_lsh(emb, threshold=0.45),
        D.minhash_dedup_pairs(docs, num_hashes=32, bands=16, threshold=0.5),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_deterministic_and_near(spark):
    a = "the quick brown fox jumps over the lazy dog " * 3
    b = a + "extra"
    df = spark.createDataFrame([(1, a), (2, a), (3, b)], ["doc_id", "text"])
    sig = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    assert sig[1] == sig[2]
    pairs = D.simhash_near_pairs(df, max_hamming=3).collect()
    assert any(p["id_a"] == 1 and p["id_b"] == 2 and p["hamming"] == 0 for p in pairs)


def test_cosine_topk_self_similarity(emb):
    qvec = emb.where(F.col("vec_id") == 5).first()["embedding"]
    top = S.cosine_topk(emb, qvec, k=3).collect()
    assert top[0]["vec_id"] == 5 and top[0]["cosine"] == pytest.approx(1.0)


def test_ann_recall_vs_brute(emb):
    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    brute = [r["vec_id"] for r in S.cosine_topk(emb, qvec, k=5).collect()]
    ann = [r["vec_id"] for r in S.ann_topk(emb, qvec, k=5).collect()]
    # approximate: require the query itself + some overlap
    assert brute[0] == 0 and 0 in ann
    assert len(set(brute) & set(ann)) >= 1


def test_hyperplane_buckets_deterministic(emb):
    b1 = {r["vec_id"]: r["bucket"] for r in S.hyperplane_lsh(emb, 8).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in S.hyperplane_lsh(emb, 8).collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())


def test_text_profile_signals(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "der hund und die katze nicht da")],
        ["doc_id", "text"],
    )
    prof = {r["doc_id"]: r for r in T.profile(df).collect()}
    assert prof[1]["n_tokens"] == 5
    assert prof[1]["stopword_ratio"] == pytest.approx(3 / 5)  # the, and, the
    assert prof[1]["lang_pred"] == "en"
    assert prof[2]["lang_pred"] == "de"
    assert 0.0 <= prof[1]["quality"] <= 1.0
    assert len(prof[1]["fingerprint"]) == 32


def test_rolling_fingerprints(spark):
    df = spark.createDataFrame([(1, "a b c d e f g h i j")], ["doc_id", "text"])
    fps = df.select(T.rolling_fingerprints(F.col("text"), 8).alias("f")).first()["f"]
    assert len(fps) == 3  # 10 tokens → 3 windows of 8


def test_multimodal_fake_decode(spark):
    df = spark.createDataFrame(
        [(1, b"imagebytes1"), (2, b"imagebytes2"), (3, None)],
        "media_id LONG, payload BINARY",
    )
    out = {r["media_id"]: r for r in extract_image_features(df, feat_dim=4, fake=True).collect()}
    assert len(out) == 3
    assert out[1]["sha256"] != out[2]["sha256"]
    assert len(out[1]["features"]) == 4
    assert out[3]["n_bytes"] == 0
    # deterministic across runs
    again = extract_image_features(df, feat_dim=4, fake=True).collect()
    assert {r["media_id"]: r["features"] for r in again}[1] == out[1]["features"]


def test_multimodal_unknown_format_raises(spark):
    # codec-requiring formats (JPEG etc.) still raise honestly; the
    # codec-free set (PNG/BMP/PPM/WAV) decodes FOR REAL — see
    # test_real_decode_distributed
    df = spark.createDataFrame([(1, b"x")], "media_id LONG, payload BINARY")
    with pytest.raises(Exception, match="UnsupportedMedia|external codecs"):
        extract_image_features(df, fake=False).collect()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, None, "video", None, None, None, 3500)],
        "media_id LONG, payload BINARY, media_type STRING, mime STRING, "
        "width LONG, height LONG, duration_ms LONG",
    )
    frames = frame_sample_plan(df, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_ivf_ann(tables):
    """IVF ANN: assignment covers every row; probing a few cells recalls
    most of the exact top-k; probing all cells IS the exact top-k."""
    from featurebase_spark.pipeline import similarity as S

    emb = tables["embeddings"]
    cents = S.ivf_train(emb, n_cells=8, seed=42, iters=3)
    assert len(cents) == 8
    assigned = S.ivf_assign(emb, cents)
    assert assigned.where(F.col("cell").isNull()).count() == 0
    assert assigned.count() == emb.count()

    qv = list(emb.orderBy("vec_id").first()["embedding"])
    exact = [r["vec_id"] for r in S.cosine_topk(emb, qv, k=10).collect()]
    all_probe = [
        r["vec_id"] for r in S.ivf_topk(emb, qv, cents, k=10, nprobe=8).collect()
    ]
    assert all_probe == exact  # full probe ≡ brute force
    few_probe = [
        r["vec_id"] for r in S.ivf_topk(emb, qv, cents, k=10, nprobe=3).collect()
    ]
    assert len(set(few_probe) & set(exact)) >= 6  # decent recall at 3/8 cells


def test_dedup_survivors(spark):
    """Survivor selection keeps exactly one min-id doc per duplicate group
    and all unique docs."""
    from featurebase_spark.pipeline.dedup import dedup_survivors

    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello   world"), (3, "unique"),
         (7, "HELLO WORLD"), (4, "other")],
        "doc_id LONG, text STRING",
    )
    # normalization here is lower+trim (not whitespace-collapse): doc 2
    # differs, docs 1 and 7 collapse
    kept = sorted(r["doc_id"] for r in dedup_survivors(df).collect())
    assert kept == [1, 2, 3, 4]


def test_sessionize_gap_semantics(spark):
    """Session breaks strictly when the gap exceeds the threshold;
    microsecond precision (a 30:00.000001 gap splits, 30:00 exactly does
    not)."""
    import datetime as dt

    from featurebase_spark.pipeline.sessions import session_stats, sessionize

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base),                                       # s1
        (1, base + dt.timedelta(minutes=10)),            # s1 (10m gap)
        (1, base + dt.timedelta(minutes=40)),            # s1 (exactly 30m)
        (1, base + dt.timedelta(minutes=70, microseconds=1)),  # s2 (30m + 1µs)
        (2, base),                                       # other user: s1
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP")
    got = {
        (r["user_id"], r["ts"]): r["session_id"]
        for r in sessionize(df, "user_id", "ts", 30).collect()
    }
    assert got[(1, rows[0][1])] == 1
    assert got[(1, rows[2][1])] == 1  # exactly-30m gap stays in session
    assert got[(1, rows[3][1])] == 2  # 30m+1µs breaks
    assert got[(2, base)] == 1
    stats = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_sec"])
        for r in session_stats(df, "user_id", "ts", 30).collect()
    }
    assert stats[(1, 1)] == (3, 2400) and stats[(1, 2)] == (1, 0)
    assert stats[(2, 1)] == (1, 0)


# --- real media decode (pipeline/media_codecs) ------------------------------


class TestMediaCodecs:
    def test_png_roundtrip_all_channel_counts(self):
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        rng = np.random.default_rng(7)
        for ch in (1, 2, 3, 4):
            img = rng.integers(0, 256, (13, 9, ch), dtype=np.uint8)
            assert np.array_equal(MC.decode_png(MC.encode_png(img)), img)

    def test_png_all_filter_types(self):
        """Hand-filtered scanlines (types 0-4 incl. Paeth) decode back to
        the source pixels — the part a roundtrip through our filter-0
        encoder cannot cover."""
        import struct
        import zlib

        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
        h, w, ch = img.shape
        rows, prev = [], np.zeros(w * ch, np.int32)
        for yy, ft in zip(range(h), [0, 1, 2, 3, 4, 0]):
            cur = img[yy].ravel().astype(np.int32)
            enc = np.zeros(w * ch, np.int32)
            for x in range(w * ch):
                left = cur[x - ch] if x >= ch else 0
                up = prev[x]
                ul = prev[x - ch] if x >= ch else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = left
                elif ft == 2:
                    pred = up
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = (
                        left if pa <= pb and pa <= pc
                        else (up if pb <= pc else ul)
                    )
                enc[x] = (cur[x] - pred) & 0xFF
            rows.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
            prev = cur
        raw = b"".join(rows)

        def chunk(t, d):
            body = t + d
            return (
                struct.pack(">I", len(d)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
            )

        png = (
            MC.PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(MC.decode_png(png), img)

    def test_bmp_bottom_up_padded(self):
        import struct

        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, (5, 3, 3), dtype=np.uint8)
        stride = (9 + 3) & ~3
        body = b""
        for yy in range(4, -1, -1):
            row = img[yy][:, [2, 1, 0]].tobytes()
            body += row + b"\x00" * (stride - len(row))
        bmp = (
            b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, 3, 5, 1, 24, 0, len(body), 0, 0, 0, 0
            ) + body
        )
        assert np.array_equal(MC.decode_bmp(bmp), img)

    def test_ppm_with_comment(self):
        from featurebase_spark.pipeline import media_codecs as MC

        ppm = b"P6\n# c\n3 2\n255\n" + bytes(range(18))
        assert MC.decode_ppm(ppm).shape == (2, 3, 3)

    def test_wav_sine_features(self):
        import io
        import wave

        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        rate = 8000
        t = np.arange(800) / rate
        sig = (np.sin(2 * np.pi * 440 * t) * 32000).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(sig.tobytes())
        f = MC.audio_features(buf.getvalue())
        assert f["duration_ms"] == 100
        assert abs(f["spectral_centroid"] - 440) < 15
        assert 0.6 < f["rms"] < 0.8  # sine RMS ≈ A/√2

    def test_jpeg_blocky_gray_exact_roundtrip(self):
        """Per-8x8-block-constant gray + flat Q=8 quant: DC-only blocks
        survive the lossy pipeline EXACTLY (DC = 8·(v−128) quantized by 8
        losslessly) — the contract the multimodal_jpeg_decode oracle
        builds on. Covers markers, Annex K Huffman, dequant, IDCT."""
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        rng = np.random.default_rng(3)
        bvals = rng.integers(0, 256, (4, 5), dtype=np.uint8)
        img = np.repeat(np.repeat(bvals, 8, 0), 8, 1)
        dec = MC.decode_jpeg(MC.encode_jpeg(img, quant=MC.FLAT_QUANT8))
        assert dec.shape == (32, 40, 1)
        assert np.array_equal(dec[:, :, 0], img)

    def test_jpeg_gray_noise_bounded_error(self):
        """Arbitrary gray content through flat Q=8: every quantized AC
        coefficient is off by ≤4, so pixel error stays small — and
        non-multiple-of-8 dimensions exercise edge padding."""
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, (33, 45), dtype=np.uint8)
        dec = MC.decode_jpeg(MC.encode_jpeg(img, quant=MC.FLAT_QUANT8))
        assert dec.shape == (33, 45, 1)
        err = np.abs(dec[:, :, 0].astype(int) - img.astype(int)).max()
        assert err <= 16, err

    def test_jpeg_color_smooth_roundtrip(self):
        """RGB 4:4:4 with the standard Annex K quant tables: smooth
        gradients decode within normal JPEG tolerance, proving the
        3-component scan interleave and YCbCr conversion both ways."""
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        x, y = np.meshgrid(np.arange(40) * 3 % 256, np.arange(24) * 5 % 256,
                           indexing="ij")
        img = np.stack([x, y, np.full_like(x, 90)], axis=2).astype(np.uint8)
        dec = MC.decode_jpeg(MC.encode_jpeg(img))
        assert dec.shape == (40, 24, 3)
        err = np.abs(dec.astype(int) - img.astype(int)).max()
        assert err <= 12, err

    def test_jpeg_sniff_and_dispatch(self):
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        img = np.full((8, 8), 100, np.uint8)
        payload = MC.encode_jpeg(img, quant=MC.FLAT_QUANT8)
        assert MC.sniff(payload) == "jpeg"
        assert MC.decode_image(payload).shape == (8, 8, 1)

    def test_jpeg_progressive_roundtrips(self):
        """PROGRESSIVE JPEG (SOF2: spectral selection + successive
        approximation, T.81 G.2) decodes IDENTICALLY to the baseline
        encoding of the same image — same quantized coefficients,
        different scan script (coarse Al=1 DC+AC passes, then the Al=0
        refinement passes with EOB runs and correction bits)."""
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        rng = np.random.default_rng(3)
        bvals = rng.integers(0, 256, (4, 5), dtype=np.uint8)
        gray = np.repeat(np.repeat(bvals, 8, 0), 8, 1)
        dec = MC.decode_jpeg(
            MC.encode_jpeg(gray, quant=MC.FLAT_QUANT8, progressive=True)
        )
        assert np.array_equal(dec[:, :, 0], gray)  # DC-only exact contract
        x, y = np.meshgrid(np.arange(40) * 3 % 256, np.arange(24) * 5 % 256,
                           indexing="ij")
        cimg = np.stack([x, y, np.full_like(x, 90)], axis=2).astype(np.uint8)
        for kw in ({}, {"subsample": True}):
            a = MC.decode_jpeg(MC.encode_jpeg(cimg, **kw))
            b = MC.decode_jpeg(MC.encode_jpeg(cimg, progressive=True, **kw))
            assert np.array_equal(a, b), kw
        # dense-AC stress: noise exercises ZRL, EOB runs, and the AC
        # refinement correction-bit path in every band
        noisy = rng.integers(0, 256, (24, 31), dtype=np.uint8)
        a = MC.decode_jpeg(MC.encode_jpeg(noisy))
        b = MC.decode_jpeg(MC.encode_jpeg(noisy, progressive=True))
        assert np.array_equal(a, b)
        # sparse-AC stress: mostly-flat image drives LONG cross-block EOB
        # runs (eobrun > 1 with buffered correction bits)
        flat = np.full((48, 64), 100, np.uint8)
        flat[5, 7] = 250
        flat[40, 60] = 3
        a = MC.decode_jpeg(MC.encode_jpeg(flat))
        b = MC.decode_jpeg(MC.encode_jpeg(flat, progressive=True))
        assert np.array_equal(a, b)

    def test_jpeg_arithmetic_still_raises(self):
        import struct

        import pytest as _pytest

        from featurebase_spark.pipeline import media_codecs as MC

        # SOF9 (arithmetic sequential) frame header
        sof9 = b"\xff\xd8\xff\xc9" + struct.pack(">H", 8) + b"\x08\x00\x08\x00\x08\x01"
        with _pytest.raises(NotImplementedError, match="arithmetic"):
            MC.decode_jpeg(sof9)

    def test_unsupported_raises(self):
        import pytest as _pytest

        from featurebase_spark.pipeline import media_codecs as MC

        with _pytest.raises(NotImplementedError):
            MC.decode_image(b"\xff\xd8\xff\xe0 fake jpeg")
        with _pytest.raises(NotImplementedError):
            MC.decode_image(b"GIF89a not supported")


def test_real_decode_distributed(spark):
    """decode_image_stats + extract_audio_features run the REAL decoders
    through mapInPandas — the multimodal transform executing genuinely,
    distributed, payload never shuffled."""
    import io
    import wave

    import numpy as np

    from featurebase_spark.pipeline import media_codecs as MC
    from featurebase_spark.pipeline.multimodal import (
        decode_image_stats,
        extract_audio_features,
        extract_image_features,
    )

    rng = np.random.default_rng(11)
    imgs = [rng.integers(0, 256, (10, 8, 3), dtype=np.uint8) for _ in range(6)]
    media = spark.createDataFrame(
        [(i, bytearray(MC.encode_png(im))) for i, im in enumerate(imgs)],
        "media_id LONG, payload BINARY",
    )
    got = {r["media_id"]: r for r in decode_image_stats(media).collect()}
    for i, im in enumerate(imgs):
        r = got[i]
        assert (r["width"], r["height"], r["channels"]) == (8, 10, 3)
        assert r["min_px"] == int(im.min()) and r["max_px"] == int(im.max())
        assert abs(r["mean_px"] - im.mean()) < 1e-9
    # real-decode feature embedding path (fake=False)
    feats = extract_image_features(media, feat_dim=16).collect()
    assert all(len(r["features"]) == 16 for r in feats)
    # audio
    rate = 8000
    t = np.arange(400) / rate
    rows = []
    for i, hz in enumerate((220, 880)):
        sig = (np.sin(2 * np.pi * hz * t) * 30000).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(sig.tobytes())
        rows.append((i, bytearray(buf.getvalue())))
    au = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    got = {r["media_id"]: r for r in extract_audio_features(au).collect()}
    assert abs(got[0]["spectral_centroid"] - 220) < 25
    assert abs(got[1]["spectral_centroid"] - 880) < 25


class TestJpegAdvancedPaths:
    def test_jpeg_420_subsampled_roundtrip(self):
        """4:2:0 encode (2x2 luma sampling, box-averaged chroma) through
        the decoder's interleaved-MCU + chroma-upsample path."""
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        x, y = np.meshgrid(np.arange(40) * 3 % 256, np.arange(24) * 5 % 256,
                           indexing="ij")
        img = np.stack([x, y, np.full_like(x, 90)], axis=2).astype(np.uint8)
        dec = MC.decode_jpeg(MC.encode_jpeg(img, subsample=True))
        assert dec.shape == (40, 24, 3)
        err = np.abs(dec.astype(int) - img.astype(int)).max()
        assert err <= 16, err

    def test_jpeg_restart_intervals_exact(self):
        """DRI + RSTn markers every 3 MCUs: the decoder's byte-align +
        DC-predictor-reset resync path, verified pixel-exact on the
        DC-only contract."""
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        rng = np.random.default_rng(9)
        bvals = rng.integers(0, 256, (4, 6), dtype=np.uint8)
        img = np.repeat(np.repeat(bvals, 8, 0), 8, 1)
        payload = MC.encode_jpeg(img, quant=MC.FLAT_QUANT8, restart_interval=3)
        assert b"\xff\xdd" in payload  # DRI emitted
        dec = MC.decode_jpeg(payload)
        assert np.array_equal(dec[:, :, 0], img)

    def test_jpeg_420_with_restarts(self):
        import numpy as np

        from featurebase_spark.pipeline import media_codecs as MC

        x, y = np.meshgrid(np.arange(40) * 3 % 256, np.arange(24) * 5 % 256,
                           indexing="ij")
        img = np.stack([x, y, np.full_like(x, 90)], axis=2).astype(np.uint8)
        dec = MC.decode_jpeg(
            MC.encode_jpeg(img, subsample=True, restart_interval=1)
        )
        err = np.abs(dec.astype(int) - img.astype(int)).max()
        assert err <= 16, err


def test_chunk_documents_window_semantics(spark):
    """Sliding-window chunking: stride = chunk_size - overlap, exact
    coverage, short-doc single chunk, validation errors."""
    from featurebase_spark.pipeline.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        ["doc_id", "text"],
    )
    rows = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_chunk_tokens"])
            for r in chunk_documents(df, chunk_size=4, overlap=1).collect()}
    assert rows[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert rows[(1, 1)] == ("t3 t4 t5 t6", 4)  # overlap of 1 token
    assert rows[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert rows[(2, 0)] == ("a b", 2)  # short doc: one chunk, no padding
    assert len(rows) == 4
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_scrub_pii_masks_and_preserves(spark):
    from featurebase_spark.pipeline.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "write bob.smith+x@ex-ample.co.uk or call 555-123-4567"),
         (2, "server at 192.168.1.254 card 4111111111111111"),
         (3, "clean text with number 42 and date 2024-01-05")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["s"]
           for r in df.select("doc_id", scrub_pii("text").alias("s")).collect()}
    assert got[1] == "write <EMAIL> or call <PHONE>"
    assert got[2] == "server at <IP> card <CARD>"
    # short numbers and dates survive (not PII shapes)
    assert got[3] == "clean text with number 42 and date 2024-01-05"


def test_connected_components_chains_and_singletons(spark):
    """Pairs→clusters: a chain a~b~c~d is ONE component (min id label)
    even though only adjacent pairs exist; disjoint clusters stay
    separate; unpaired nodes are singletons."""
    from featurebase_spark.pipeline.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain → component 1
         (10, 11),                    # pair → component 10
         (20, 22), (21, 22)],         # star → component 20
        ["id_a", "id_b"],
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 20, 21, 22, 99)], ["doc_id"]
    )
    got = {r["doc_id"]: r["component"]
           for r in connected_components(
               nodes, pairs, "doc_id", "id_a", "id_b"
           ).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 99: 99}


def test_neardup_canonical_end_state(docs):
    """The full pipeline over the corpus: every doc gets a component,
    exactly one canonical per component, canonical = min id, and every
    verified near-dup pair lands in the same component."""
    from featurebase_spark.pipeline.dedup import (
        minhash_dedup_pairs,
        neardup_canonical,
    )

    out = neardup_canonical(docs, threshold=0.5)
    rows = out.collect()
    comp = {r["doc_id"]: r["component"] for r in rows}
    assert len(rows) == docs.count()
    # canonical flags: one per component, equal to the min member
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for c, members in by_comp.items():
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1 and canon[0]["doc_id"] == c
        assert c == min(m["doc_id"] for m in members)
    for p in minhash_dedup_pairs(docs, threshold=0.5).collect():
        assert comp[p["id_a"]] == comp[p["id_b"]]


def test_connected_components_converges_past_max_iterations(spark):
    """A duplicate chain LONGER than the old dedup loop's soft
    ``max_iterations`` (2) still resolves to ONE component: the loop
    runs to the fixpoint (truncating would silently split the cluster —
    duplicate retention)."""
    from featurebase_spark.pipeline.graph import connected_components

    n = 9  # chain diameter 8 > the old max_iterations=2
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            nodes, pairs, "doc_id", "id_a", "id_b"
        ).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}


def test_hash_tokens_long_blob_equality_classes():
    """Tokens beyond _TOKEN_HASH_CAP hash via a per-token digest — the
    vectorized loop stays O(cap) passes instead of O(longest blob) — and
    the hash's equality classes are preserved exactly (all the dedup
    oracles compare shingle STRINGS, never hash values)."""
    import time

    from featurebase_spark.pipeline.dedup import _TOKEN_HASH_CAP, _hash_tokens_np

    blob1 = b"A" * 200_000
    blob2 = b"A" * 200_000 + b"B"
    short = [b"abc", b"xy", b"abc"]
    t0 = time.perf_counter()
    h = _hash_tokens_np([short[0], blob1, blob2, blob1, short[1], short[2]])
    dt = time.perf_counter() - t0
    assert h[1] != h[2]          # distinct blobs stay distinct
    assert h[1] == h[3]          # same blob, same hash
    assert h[0] == h[5] != h[4]  # short tokens unaffected by each other
    # short tokens hash identically with and without blobs in the batch
    h_alone = _hash_tokens_np(short)
    assert h[0] == h_alone[0] and h[4] == h_alone[1]
    # a 200k-byte blob must not force 200k masked passes
    assert dt < 2.0, dt
    # boundary: a token at exactly the cap uses the plain FNV path
    at_cap = b"z" * _TOKEN_HASH_CAP
    assert _hash_tokens_np([at_cap])[0] == _hash_tokens_np([at_cap, blob1])[0]


def test_shingle_batch_with_blob_token_matches_string_form(spark):
    """A doc containing one giant unbroken token still produces the same
    shingle EQUALITY CLASSES as the string-shingle form the oracles use:
    two docs equal up to the blob shingle the same; a one-byte blob
    difference separates them."""
    import numpy as np

    from featurebase_spark.pipeline.dedup import _shingle_batch

    blob = "Q" * 50_000
    texts = [
        f"a b c {blob} d e",
        f"a b c {blob} d e",
        f"a b c {blob}X d e",
    ]
    idx, grams = _shingle_batch(texts, 3)
    by_doc = {}
    for i, g in zip(idx.tolist(), grams.tolist()):
        by_doc.setdefault(i, set()).add(g)
    assert by_doc[0] == by_doc[1]
    assert by_doc[0] != by_doc[2]


def test_jpeg_non_interleaved_roundtrips():
    """NON-INTERLEAVED baseline JPEGs (one SOS per component, T.81
    A.2.2) decode identically to their interleaved twins — same
    quantized coefficients, different scan layout — across 4:4:4,
    4:2:0 (per-component block grids differ from the MCU grid), odd
    dimensions, and restart intervals; single-component gray stays
    pixel-exact under the flat-quant contract."""
    import numpy as np

    from featurebase_spark.pipeline import media_codecs as MC

    rng = np.random.default_rng(3)
    bvals = rng.integers(0, 256, (4, 5), dtype=np.uint8)
    gray = np.repeat(np.repeat(bvals, 8, 0), 8, 1)
    dec = MC.decode_jpeg(
        MC.encode_jpeg(gray, quant=MC.FLAT_QUANT8, interleaved=False)
    )
    assert np.array_equal(dec[:, :, 0], gray)
    x, y = np.meshgrid(np.arange(40) * 3 % 256, np.arange(24) * 5 % 256,
                       indexing="ij")
    cimg = np.stack([x, y, np.full_like(x, 90)], axis=2).astype(np.uint8)
    for kw in ({}, {"subsample": True}, {"restart_interval": 3}):
        a = MC.decode_jpeg(MC.encode_jpeg(cimg, **kw))
        b = MC.decode_jpeg(MC.encode_jpeg(cimg, interleaved=False, **kw))
        assert np.array_equal(a, b), kw
    odd = rng.integers(0, 256, (33, 45, 3), dtype=np.uint8)
    a = MC.decode_jpeg(MC.encode_jpeg(odd, subsample=True))
    b = MC.decode_jpeg(MC.encode_jpeg(odd, subsample=True, interleaved=False))
    assert np.array_equal(a, b)


def test_jpeg_missing_component_scan_raises_typed_error():
    """A non-interleaved stream TRUNCATED to its first scan (components
    2/3 never scanned) raises the module's typed error, not a silent
    half-gray image or a KeyError."""
    import numpy as np
    import pytest as _pytest

    from featurebase_spark.pipeline import media_codecs as MC

    img = np.zeros((8, 8, 3), np.uint8)
    payload = MC.encode_jpeg(img, interleaved=False)
    # cut after the first scan's entropy: find the SECOND SOS and drop
    # everything from there, re-appending EOI
    first = payload.find(b"\xff\xda")
    second = payload.find(b"\xff\xda", first + 2)
    assert second > first > 0
    truncated = payload[:second] + b"\xff\xd9"
    with _pytest.raises(MC.UnsupportedMediaError, match="no scan for component"):
        MC.decode_jpeg(truncated)


def test_repetition_signals_crafted(spark):
    """dup/top n-gram fractions on hand-computable inputs — the Gopher
    repetition filters, computed shuffle-free per row."""
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # bigrams: ab ba ab ba ab → 5 total, 2 distinct
            (2, "w x y z q r"),       # all bigrams unique
            (3, "spam spam spam spam"),  # 3 bigrams, all 'spam spam'
            (4, "one"),               # < 2 tokens → 0.0 everywhere
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.dup_ngram_fraction(F.col("text"), 2).alias("dup2"),
            T.top_ngram_fraction(F.col("text"), 2).alias("top2"),
        ).collect()
    }
    assert out[1]["dup2"] == pytest.approx(1 - 2 / 5)
    assert out[1]["top2"] == pytest.approx(3 / 5)  # 'a b' occurs 3 of 5
    assert out[2]["dup2"] == 0.0 and out[2]["top2"] == pytest.approx(1 / 5)
    assert out[3]["dup2"] == pytest.approx(1 - 1 / 3)
    assert out[3]["top2"] == pytest.approx(1.0)
    assert out[4]["dup2"] == 0.0 and out[4]["top2"] == 0.0
    # shuffle-free: no Exchange in the plan
    plan = (
        df.select(T.top_ngram_fraction(F.col("text"), 2))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_pq_train_beats_random_books(emb):
    """Lloyd-trained codebooks must reconstruct better than the pinned
    random books (the quality path vs the verification path)."""
    import numpy as np

    rows = emb.select("embedding").collect()
    X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)

    def recon_err(books):
        B = [np.asarray(b) for b in books]
        sub = B[0].shape[1]
        err = 0.0
        for s in range(len(B)):
            Xs = X[:, s * sub : (s + 1) * sub]
            d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1).sum()
        return err

    trained = S.pq_train(emb, m=8, ks=16, seed=11)
    random_books = S.make_pq_codebooks(64, 8, 16, seed=11)
    assert recon_err(trained) < recon_err(random_books)


def test_pq_adc_ranks_query_first(emb):
    """ADC over trained books: the query vector itself must rank at
    distance ~0 (its own codes ARE the nearest codewords)."""
    books = S.pq_train(emb, m=8, ks=16, seed=11)
    qv = list(emb.where(F.col("vec_id") == 7).first()["embedding"])
    top = S.pq_adc_topk(S.pq_encode(emb, books), qv, books, k=5).collect()
    ids = [r["vec_id"] for r in top]
    assert 7 in ids
    # the plan's distance eval is a JVM fold over the code column — the
    # only Python stage is encode; top-k must be TakeOrdered
    plan = (
        S.pq_adc_topk(S.pq_encode(emb, books), qv, books, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_ivf_pq_composed_stack(emb):
    """IVF cell pruning + PQ ADC compose: full-probe IVF-PQ equals plain
    PQ ADC (same codes, no cells pruned), and a pruned probe returns a
    subset ranked by the same distances."""
    cents = S.make_hyperplanes(64, 8, 7)
    books = S.pq_train(emb, m=8, ks=16, seed=11)
    qv = list(emb.where(F.col("vec_id") == 3).first()["embedding"])
    full = [r["vec_id"] for r in
            S.ivf_pq_topk(emb, qv, cents, books, k=10, nprobe=8).collect()]
    plain = [r["vec_id"] for r in
             S.pq_adc_topk(S.pq_encode(emb, books), qv, books, k=10).collect()]
    assert full == plain  # probing every cell = no pruning at all
    pruned = [r["vec_id"] for r in
              S.ivf_pq_topk(emb, qv, cents, books, k=10, nprobe=2).collect()]
    assert set(pruned) <= set(
        r["vec_id"] for r in
        S.pq_adc_topk(S.pq_encode(emb, books), qv, books, k=10_000).collect()
    )
    assert len(pruned) > 0


def test_audio_exact_stats_16bit_exact_and_width_guard(spark):
    """audio_exact_stats: integer stats recovered exactly from the
    decoder's float64; non-16-bit WAVs refuse (silent mis-scaling would
    be worse than an error)."""
    import io
    import wave

    import numpy as np
    import pytest as _pytest

    from featurebase_spark.pipeline.multimodal import audio_exact_stats

    def wav_bytes(samples, width=2):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(width)
            wf.setframerate(8000)
            wf.writeframes(samples)
        return bytearray(buf.getvalue())

    s = np.array([100, -100, 32767, -32768, 0, 7], dtype="<i2")
    df = spark.createDataFrame(
        [(1, wav_bytes(s.tobytes()))], "media_id long, payload binary"
    )
    r = audio_exact_stats(df).first()
    assert r["n_samples"] == 6 and r["sample_rate"] == 8000
    assert r["sum_amp"] == int(s.astype(np.int64).sum())
    assert r["sum_abs"] == int(np.abs(s.astype(np.int64)).sum())
    # sign pattern: + - + - 0 + → crossings at 4 sign CHANGES incl. 0
    sgn = np.sign(s.astype(np.int64))
    assert r["zero_crossings"] == int((sgn[1:] != sgn[:-1]).sum())
    # 8-bit input refuses with the typed media error
    df8 = spark.createDataFrame(
        [(2, wav_bytes(bytes([0, 255, 128, 7]), width=1))],
        "media_id long, payload binary",
    )
    with _pytest.raises(Exception, match="16-bit PCM"):
        audio_exact_stats(df8).collect()


def test_fbv_frame_sample_exact_and_offsets(spark):
    """sample_frame_stats parses real FBV1 bytes: stride addressing,
    exact integer stats, typed refusal of foreign payloads."""
    import numpy as np
    import pytest

    from featurebase_spark.pipeline.media_codecs import UnsupportedMediaError
    from featurebase_spark.pipeline.multimodal import (
        encode_fbv,
        sample_frame_stats,
    )

    frames = np.arange(5 * 8, dtype=np.uint8).reshape(5, 8)
    df = spark.createDataFrame(
        [(7, bytearray(encode_fbv(frames)))], "media_id long, payload binary"
    )
    got = {
        r["frame_idx"]: (r["n_bytes"], r["sum_b"], r["min_b"], r["max_b"])
        for r in sample_frame_stats(df, stride=2).collect()
    }
    want = {
        f: (8, int(frames[f].sum()), int(frames[f].min()), int(frames[f].max()))
        for f in (0, 2, 4)
    }
    assert got == want

    bad = spark.createDataFrame(
        [(1, bytearray(b"RIFFxxxx"))], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="not an FBV1"):
        sample_frame_stats(bad, stride=1).collect()

    with pytest.raises(ValueError, match="stride"):
        sample_frame_stats(df, stride=0)
