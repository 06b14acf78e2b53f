"""Tests for dedup / similarity / text / multimodal / streaming operators."""

from pyspark.sql import functions as F

from priority_data_pipeline_azure_sql_db_spark.operators import dedup as D
from priority_data_pipeline_azure_sql_db_spark.operators import similarity as S
from priority_data_pipeline_azure_sql_db_spark.operators import text as X
from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table


def docs(spark):
    return spark.sql(
        """SELECT * FROM VALUES
            (1, 'the quick brown fox jumps over the lazy dog today'),
            (2, 'the quick brown fox jumps over the lazy dog today'),
            (3, 'the quick brown fox jumps over the lazy cat today'),
            (4, 'completely different words appear here in this line'),
            (5, '')
        AS t(doc_id, text)"""
    )


def test_dedup_exact(spark):
    out = {r.canonical_id: r.n_copies for r in
           D.dedup_exact(docs(spark), "text", "doc_id").collect()}
    assert out[1] == 2 and out[3] == 1 and out[4] == 1


def test_dedup_fingerprint_whitespace_invariant(spark):
    df = spark.sql(
        "SELECT * FROM VALUES (1, 'Hello   World'), (2, 'hello world ') AS t(doc_id, text)"
    )
    out = D.dedup_fingerprint(df, "text", "doc_id").collect()
    assert len(out) == 1 and out[0].n_copies == 2


def test_jaccard_pairs_finds_near_dup(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             D.jaccard_pairs(docs(spark), "text", "doc_id", k=3, threshold=0.2).collect()}
    assert pairs[(1, 2)] == 1.0            # identical docs
    assert 0.2 <= pairs[(1, 3)] < 1.0      # one-word change
    assert (1, 4) not in pairs             # unrelated


def test_minhash_lsh_candidates_superset_of_dups(spark):
    cands = {(r.id_a, r.id_b) for r in
             D.minhash_dedup_candidates(docs(spark), "text", "doc_id",
                                        num_hashes=16, bands=8, k=3).collect()}
    assert (1, 2) in cands                 # identical docs always collide
    assert (1, 4) not in cands             # unrelated docs shouldn't


def test_simhash_near_for_near_dups(spark):
    sh = {r.doc: r.simhash for r in D.simhash(docs(spark), "text", "doc_id").collect()}
    assert sh[1] == sh[2]                  # identical text → identical simhash
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    ham_14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham_13 < ham_14                 # near-dup closer than unrelated


def _bruteforce_hamming_pairs(sig: dict, max_hamming: int) -> set:
    mask = (1 << 64) - 1
    return {
        (a, b, bin((sig[a] ^ sig[b]) & mask).count("1"))
        for a in sig for b in sig
        if a < b and bin((sig[a] ^ sig[b]) & mask).count("1") <= max_hamming
    }


def test_simhash_pairs_equals_bruteforce(spark, sf_dir):
    """Block-LSH retrieval must return EXACTLY the brute-force Hamming
    pairs (pigeonhole guarantees recall 1.0; the refine kills the rest)."""
    d = load_table(spark, sf_dir, "documents")
    sig = {r.doc: r.simhash for r in D.simhash(d, "text", "doc_id").collect()}
    for max_hamming in (0, 3, 7):
        expected = _bruteforce_hamming_pairs(sig, max_hamming)
        got = {(r.id_a, r.id_b, r.hamming) for r in
               D.simhash_pairs(d, "text", "doc_id", max_hamming=max_hamming).collect()}
        assert got == expected
    # the seeded corpus must actually contain near-dup pairs, or the
    # equality above proves nothing
    assert _bruteforce_hamming_pairs(sig, 3)


def test_simhash_pairs_small_corpus(spark):
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             D.simhash_pairs(docs(spark), "text", "doc_id", max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0              # identical docs at distance 0
    assert (1, 4) not in pairs             # unrelated docs beyond the radius


def test_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 3), k=4)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        assert len(rs) == 4
        sims = [r.sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)
        assert all(r.neighbor_id != q for r in rs)


def test_lsh_topk_scores_match_exact(spark, sf_dir):
    """LSH restricts candidates (recall<1 on near-orthogonal random data),
    but every returned pair must carry the TRUE cosine similarity."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.neighbor_id): r.sim
             for r in S.cosine_topk_bruteforce(emb, q, k=10**6).collect()}
    approx = S.cosine_topk_lsh(emb, q, k=5).collect()
    assert approx  # non-empty
    for r in approx:
        assert r.query_id != r.neighbor_id
        assert exact[(r.query_id, r.neighbor_id)] == r.sim


def test_embedding_near_dup_matches_allpairs_and_prunes(spark, sf_dir):
    """The ball-cover plan must be bit-identical to the O(n²) twin (exact
    recall by the triangle bound) and must pair through cell equi-joins,
    never a CartesianProduct over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    fast = S.embedding_near_dup(emb, threshold=0.4)
    slow = S.embedding_near_dup_allpairs(emb, threshold=0.4)
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_embedding_near_dup_clustered_high_threshold(spark):
    """The production regime: tight clusters + a 0.95 threshold. The
    ball-cover plan must find exactly the intra-cluster pairs the
    all-pairs twin finds — across cluster sizes larger than one cell."""
    import math

    rows = []
    for c in range(3):
        base = [math.cos(c), math.sin(c), 0.5 * c, 1.0]
        for i in range(12):
            eps = 0.001 * i
            rows.append((c * 100 + i, [x + eps for x in base]))
    vals = ", ".join(
        f"({i}, array({', '.join(f'{x}F' for x in v)}))" for i, v in rows
    )
    df = spark.sql(f"SELECT * FROM VALUES {vals} AS t(vec_id, embedding)")
    fast = S.embedding_near_dup(df, threshold=0.95, n_cells=6)
    slow = S.embedding_near_dup_allpairs(df, threshold=0.95)
    got = {(r.id_a, r.id_b) for r in fast.collect()}
    want = {(r.id_a, r.id_b) for r in slow.collect()}
    assert got == want and got
    # sanity: no cross-cluster near-dups at this tightness
    assert all(a // 100 == b // 100 for a, b in got)


def test_embedding_near_dup_self_similarity(spark):
    df = spark.sql(
        """SELECT * FROM VALUES
            (1, array(1.0F, 0.0F)), (2, array(1.0F, 0.0F)), (3, array(0.0F, 1.0F))
        AS t(vec_id, embedding)"""
    )
    pairs = {(r.id_a, r.id_b): r.sim for r in S.embedding_near_dup(df, threshold=0.9).collect()}
    assert pairs == {(1, 2): 1.0}


def test_embedding_near_dup_string_ids(spark):
    """The blocked-matmul kernel must preserve non-integer id types
    (ADVICE r5: the int64 hardcode crashed/mangled string doc ids)."""
    df = spark.sql(
        """SELECT * FROM VALUES
            ('doc-a', array(1.0F, 0.0F)), ('doc-b', array(1.0F, 0.0F)),
            ('doc-c', array(0.0F, 1.0F))
        AS t(vec_id, embedding)"""
    )
    out = S.embedding_near_dup(df, threshold=0.9)
    assert dict(out.dtypes)["id_a"] == "string"
    pairs = {(r.id_a, r.id_b): r.sim for r in out.collect()}
    assert pairs == {("doc-a", "doc-b"): 1.0}


def test_embedding_near_dup_string_ids_cross_cell(spark):
    """The CROSS-cell kernel branch must also survive string ids (ADVICE
    r6: np.minimum/np.maximum have no ufunc loop for unicode dtypes, so
    string-id corpora crashed whenever a cross-cell block pair survived
    pruning — the same-cell test above never reached that branch).

    Exactly two vectors with n_cells=2 makes the construction
    deterministic: the hash-order seed sample takes both vectors, each
    lands alone in its own cell (distance 0 to its own seed), and the
    cell pair survives the triangle bound (|v1-v2| = 2·sin(5°) ≈ 0.17
    <= r = sqrt(2-2·0.9) ≈ 0.45), so the pair is scored by the
    cross-cell branch regardless of which id hashes first."""
    import math

    a = (1.0, 0.0)
    b = (math.cos(math.radians(10)), math.sin(math.radians(10)))
    df = spark.sql(
        f"""SELECT * FROM VALUES
            ('zz-9', array({a[0]}D, {a[1]}D)),
            ('aa-1', array({b[0]}D, {b[1]}D))
        AS t(vec_id, embedding)"""
    )
    out = S.embedding_near_dup(df, threshold=0.9, n_cells=2)
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0].id_a, rows[0].id_b) == ("aa-1", "zz-9")
    assert abs(rows[0].sim - math.cos(math.radians(10))) < 1e-5


def test_simhash_pairs_rejects_degenerate_radius(spark):
    """max_hamming >= 64 makes every pigeonhole block zero-width (all
    values collapse to 0 → silent O(n²) cross join); the guard must
    refuse loudly instead."""
    import pytest

    for bad in (64, 100, -1):
        with pytest.raises(ValueError, match="max_hamming"):
            D.simhash_pairs(docs(spark), "text", "doc_id", max_hamming=bad)


def test_embedding_normalize_and_quantize(spark):
    """Unit norms come out 1.0, zero vectors stay finite, and int8
    quantization bounds every value to [-127, 127] with the max-|x|
    element hitting exactly ±127."""
    df = spark.sql(
        """SELECT * FROM VALUES
            (1, array(3.0F, 4.0F)), (2, array(0.0F, 0.0F)), (3, array(-2.0F, 1.0F))
        AS t(vec_id, embedding)"""
    )
    normed = {r.vec_id: r for r in S.normalize_embeddings(df).collect()}
    assert abs(normed[1].norm - 5.0) < 1e-12
    assert abs(normed[1].unit[0] - 0.6) < 1e-12
    assert normed[2].norm == 0.0 and normed[2].unit == [0.0, 0.0]

    quant = {r.vec_id: r for r in S.quantize_int8(df).collect()}
    assert quant[1].q == [95, 127]           # 3/4*127 = 95.25 → floor(+.5) = 95
    assert quant[2].q == [0, 0] and quant[2].scale == 0.0
    assert quant[3].q == [-127, 64]          # 1/2*127 = 63.5 → 64
    for r in quant.values():
        assert all(-127 <= x <= 127 for x in r.q)
    # round 11: NEGATIVE half-ties round AWAY FROM ZERO (the published
    # symmetric-absmax convention) — plain floor(x+0.5) gave -63 here,
    # a sign-asymmetric grid
    tie = spark.sql(
        "SELECT * FROM VALUES (9, array(-1.0F, 2.0F)) AS t(vec_id, embedding)"
    )
    assert {r.vec_id: r.q for r in S.quantize_int8(tie).collect()}[9] \
        == [-64, 127]  # -1 * 63.5 = -63.5 → -64, not -63


def test_winnow_fingerprint_guarantee(spark):
    """Winnowing's core property: documents sharing a normalized substring
    of length >= k + w - 1 MUST share at least one fingerprint; disjoint
    documents share none."""
    df = spark.sql(
        """SELECT * FROM VALUES
            (1, 'The quick brown fox jumps over the lazy dog tonight'),
            (2, 'A quick brown fox jumps over whatever else it likes'),
            (3, 'completely different content with zero overlap here!')
        AS t(doc_id, text)"""
    )
    fp = X.winnow_fingerprints(df, k=8, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]          # share 'quickbrownfoxjumpsover...'
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    pairs = {(r.id_a, r.id_b) for r in X.winnow_near_dup(df, min_shared=1).collect()}
    assert pairs == {(1, 2)}
    # a doc shorter than k produces no grams and no fingerprints
    tiny = spark.sql("SELECT * FROM VALUES (9, 'abc') AS t(doc_id, text)")
    assert X.winnow_fingerprints(tiny, k=8, w=4).count() == 0


def test_hash_sampling_deterministic(spark, sf_dir):
    """Hash-gate sampling: repartition-invariant membership, disjoint and
    exhaustive train/eval split, independent samples per salt."""
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        hash_sample,
        split_train_eval,
        stratified_mix,
    )

    d = load_table(spark, sf_dir, "documents")
    s1 = {r.doc_id for r in hash_sample(d, "doc_id", 0.3).select("doc_id").collect()}
    s2 = {r.doc_id for r in hash_sample(d.repartition(13), "doc_id", 0.3)
          .select("doc_id").collect()}
    assert s1 == s2 and s1  # identical under any partitioning
    n = d.count()
    assert 0.2 < len(s1) / n < 0.4  # fraction roughly honored

    salted = {r.doc_id for r in hash_sample(d, "doc_id", 0.3, salt="x")
              .select("doc_id").collect()}
    assert salted != s1  # different salt, different (independent) draw

    train, ev = split_train_eval(d, "doc_id", eval_fraction=0.1)
    t = {r.doc_id for r in train.select("doc_id").collect()}
    e = {r.doc_id for r in ev.select("doc_id").collect()}
    assert not (t & e) and len(t) + len(e) == n  # disjoint + exhaustive

    mixed = stratified_mix(d, "source", "doc_id", {"src0": 1.0, "src3": 0.0})
    kept = mixed.groupBy("source").count().collect()
    assert {r.source for r in kept} == {"src0"}  # 0-fraction and unknown dropped
    assert kept[0]["count"] == d.filter(F.col("source") == "src0").count()

    import pytest

    with pytest.raises(ValueError, match="at least one stratum"):
        stratified_mix(d, "source", "doc_id", {})


def test_text_quality_and_langid(spark):
    df = spark.sql(
        """SELECT * FROM VALUES
            (1, 'The cat and the dog of to is...'),
            (2, 'el la de que los el la'),
            (3, '12345 67890')
        AS t(doc_id, text)"""
    )
    q = {r.doc_id: r for r in X.quality_features(df).collect()}
    assert q[1].punct_ratio > 0 and q[1].alpha_ratio > 0.5
    assert q[3].alpha_ratio == 0.0
    lang = {r.doc_id: r.pred_lang for r in X.langid(df).collect()}
    assert lang[1] == "en" and lang[2] == "es" and lang[3] == "und"


def test_multimodal_feature_extraction(spark):
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        decode_media,
        documents_as_media,
        extract_features,
    )
    import pytest

    df = spark.sql("SELECT * FROM VALUES (1, 'hello'), (2, '') AS t(doc_id, text)")
    media = documents_as_media(df)
    assert dict(media.dtypes)["content"] == "binary"
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[1].n_bytes == 5 and feats[2].n_bytes == 0
    assert len(feats[1].feature) == 8
    assert feats[1].content_md5 == "5d41402abc4b2a76b9719d911017c592"  # md5('hello')
    # utf-8 text is not BMP/WAV → tagged stub, never silently "real"
    assert feats[1].codec == "stub-md5"
    with pytest.raises(NotImplementedError):
        decode_media("image", b"\x00")


def test_codec_bmp_roundtrip_and_golden(spark):
    """REAL in-sandbox image codec: encode→decode is the identity on
    pixels (both row orders), golden hand-built bytes decode to known
    pixels, and extract_features computes genuine pixel statistics."""
    import struct

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(px)), px)

    # golden: 1x2 top-down 24-bit BMP, pixels (255,0,0) then (0,0,255)
    # rows stored BGR with 4-byte padding (2*3 → stride 8)
    row = bytes([0, 0, 255]) + bytes([255, 0, 0]) + b"\x00\x00"
    golden = (
        struct.pack("<2sIHHI", b"BM", 54 + len(row), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, -1, 1, 24, 0, len(row), 0, 0, 0, 0)
        + row
    )
    got = codecs.decode_bmp(golden)
    assert got.shape == (1, 2, 3)
    assert got[0, 0].tolist() == [255, 0, 0] and got[0, 1].tolist() == [0, 0, 255]

    # features through the Spark path: solid red 4x2 → exact means
    solid = np.zeros((2, 4, 3), dtype=np.uint8)
    solid[:, :, 0] = 200
    media = spark.createDataFrame(
        [(1, "image", bytearray(codecs.encode_bmp(solid)), None, None, None)],
        "media_id long, media_type string, content binary, "
        "meta_width int, meta_height int, meta_sample_rate int",
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        extract_features,
    )

    r = extract_features(media).collect()[0]
    assert r.codec == "bmp"
    w, h, mr, mg, mb, sd, gv, gh = r.feature
    assert (w, h, mr, mg, mb) == (4.0, 2.0, 200.0, 0.0, 0.0)
    assert sd == 0.0 and gv == 0.0 and gh == 0.0


def test_codec_png_roundtrip_filters_and_features(spark):
    """REAL in-sandbox PNG codec (round 8): encode→decode is the
    identity on pixels (RGB and RGBA), every scanline filter type
    (None/Sub/Up/Average/Paeth) reconstructs correctly from a
    hand-filtered stream, and extract_features routes PNG blobs to the
    real pixel statistics with codec tag 'png'."""
    import struct
    import zlib

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(8)
    rgb = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(rgb)), rgb)
    rgba = rng.integers(0, 256, size=(4, 7, 4), dtype=np.uint8)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(rgba)), rgba)

    # hand-filter a 5-row image with one row per filter type and check
    # the decoder reverses each (filters reference RECONSTRUCTED
    # neighbors, which is what makes 3/4 sequential)
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8).astype(np.int64)
    bpp, stride = 3, 4 * 3
    flat = px.reshape(5, stride)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    for r, f in enumerate([0, 1, 2, 3, 4]):
        raw.append(f)
        for x in range(stride):
            left = flat[r][x - bpp] if x >= bpp else 0
            up = flat[r - 1][x] if r > 0 else 0
            upleft = flat[r - 1][x - bpp] if (r > 0 and x >= bpp) else 0
            v = flat[r][x]
            if f == 1:
                v -= left
            elif f == 2:
                v -= up
            elif f == 3:
                v -= (left + up) >> 1
            elif f == 4:
                v -= paeth(left, up, upleft)
            raw.append(int(v) & 0xFF)

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    blob = (
        codecs.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(blob), px.astype(np.uint8))

    # palette PNG decodes since round 10 (test_codec_png_palette_gray_
    # types); a malformed one (no PLTE) still refuses loudly rather
    # than mis-decoding
    pal = (
        codecs.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    import pytest

    with pytest.raises(ValueError, match="PLTE"):
        codecs.decode_png(pal)

    # through the Spark path: solid green 4x2 PNG → exact means, tag png
    solid = np.zeros((2, 4, 3), dtype=np.uint8)
    solid[:, :, 1] = 120
    media = spark.createDataFrame(
        [(3, "image", bytearray(codecs.encode_png(solid)), None, None, None)],
        "media_id long, media_type string, content binary, "
        "meta_width int, meta_height int, meta_sample_rate int",
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        extract_features,
    )

    r = extract_features(media).collect()[0]
    assert r.codec == "png"
    w, h, mr, mg, mb, sd, gv, gh = r.feature
    assert (w, h, mr, mg, mb) == (4.0, 2.0, 0.0, 120.0, 0.0)
    assert sd == 0.0 and gv == 0.0 and gh == 0.0


def test_codec_wav_roundtrip_and_features(spark):
    """REAL in-sandbox audio codec: 16-bit PCM encode→decode preserves
    samples to quantization, and features (rate, duration, RMS, ZCR)
    come out right for a known sine wave."""
    import math

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        extract_features,
    )

    rate = 8000
    t = np.arange(rate)  # 1 second
    sig = 0.5 * np.sin(2 * math.pi * 440 * t / rate)
    blob = codecs.encode_wav(rate, sig)
    got_rate, frames = codecs.decode_wav(blob)
    assert got_rate == rate and frames.shape == (rate, 1)
    assert np.max(np.abs(frames[:, 0] - sig)) < 1e-3  # 16-bit quantization

    media = spark.createDataFrame(
        [(7, "audio", bytearray(blob), None, None, rate)],
        "media_id long, media_type string, content binary, "
        "meta_width int, meta_height int, meta_sample_rate int",
    )
    r = extract_features(media).collect()[0]
    assert r.codec == "wav"
    srate, n, dur, rms, peak, zcr, mean, std = r.feature
    assert (srate, n, dur) == (8000.0, 8000.0, 1.0)
    assert abs(rms - 0.5 / math.sqrt(2)) < 1e-3
    assert abs(peak - 0.5) < 1e-3
    assert abs(zcr - 2 * 440 / rate) < 0.01  # 440 Hz → 880 crossings/s
    assert abs(mean) < 1e-4

    # stereo path: channel-mean of out-of-phase channels cancels
    stereo = np.stack([sig, -sig], axis=1)
    rate2, fr2 = codecs.decode_wav(codecs.encode_wav(rate, stereo))
    assert fr2.shape == (rate, 2)
    feats = codecs.audio_features(rate2, fr2)
    assert feats[3] < 1e-3  # RMS of cancelled signal ~ 0


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        read_events_stream,
        run_streaming_to_memory,
        tumbling_counts,
    )

    stream_out = run_streaming_to_memory(
        tumbling_counts(read_events_stream(spark, sf_dir)), mode="complete"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    got = {(r.window_start, r.event_type): r.n_events for r in stream_out.collect()}
    want = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert got == want


def test_streaming_dedup_collapses_duplicate_arrivals(spark, sf_dir):
    """A self-unioned stream (every event delivered twice) must come out
    of the watermarked dedup with exactly one row per event_id."""
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        dedup_events_stream,
        read_events_stream,
        run_streaming_to_memory,
    )

    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    out = run_streaming_to_memory(dedup_events_stream(doubled), mode="append")
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """The availableNow stream-stream interval join must produce exactly
    the batch interval join's pairs."""
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        click_error_join_stream,
        run_streaming_to_memory,
    )

    got = {
        (r.click_id, r.error_id)
        for r in run_streaming_to_memory(
            click_error_join_stream(spark, sf_dir, window_seconds=3600), mode="append"
        ).collect()
    }
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    er = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("ets")
    )
    want = {
        (r.click_id, r.error_id)
        for r in c.join(er, "user_id")
        .filter(
            (F.col("ets") > F.col("cts"))
            & (F.col("ets") <= F.col("cts") + F.expr("INTERVAL 3600 SECONDS"))
        )
        .collect()
    }
    assert got == want and got


def test_streaming_session_windows(spark, sf_dir):
    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        read_events_stream,
        run_streaming_to_memory,
        sessionized_counts,
    )

    out = run_streaming_to_memory(
        sessionized_counts(read_events_stream(spark, sf_dir)), mode="complete"
    )
    rows = out.collect()
    assert rows and all(r.session_end >= r.session_start for r in rows)
    total = sum(r.n_events for r in rows)
    assert total == load_table(spark, sf_dir, "events").count()


def test_streaming_session_gap_boundary(spark):
    """Round-12 review fix (the shared-misunderstanding class): Spark's
    session_window MERGES two events whose gap EQUALS the timeout —
    windows that touch coalesce; only a strictly greater gap splits.
    The old oracle (and docstring) asserted the opposite and passed the
    hash only because the frozen fixtures contain no exactly-gap pair.
    Pinned at microsecond precision on a synthetic stream."""
    import os
    import tempfile

    from priority_data_pipeline_azure_sql_db_spark.streaming.events import (
        run_streaming_to_memory,
        sessionized_counts,
    )

    rows = [
        # user 1: gap EXACTLY 1800s → ONE session of 2
        (1, "2026-01-01 00:00:00.000000", 10),
        (1, "2026-01-01 00:30:00.000000", 11),
        # user 2: gap 1800.000001s → TWO sessions
        (2, "2026-01-01 00:00:00.000000", 20),
        (2, "2026-01-01 00:30:00.000001", 21),
        # user 3: gap 1799.9999s (sub-ms below) → ONE session — the ms-
        # truncated oracle diff would have read this as exactly 1800000
        (3, "2026-01-01 00:00:00.000900", 30),
        (3, "2026-01-01 00:30:00.000100", 31),
    ]
    src = os.path.join(tempfile.mkdtemp(prefix="sess_gap_"), "ev")
    spark.createDataFrame(
        rows, "user_id bigint, ts string, event_id bigint"
    ).withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "user_id bigint, ts timestamp, event_id bigint").parquet(src)
    out = run_streaming_to_memory(sessionized_counts(stream),
                                  mode="complete")
    per_user = {}
    for r in out.collect():
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user[1]) == [2]      # exactly-gap pair merged
    assert sorted(per_user[2]) == [1, 1]   # strictly-greater gap split
    assert sorted(per_user[3]) == [2]      # sub-ms-below gap merged


def test_dedup_index_build_serve_matches_oneshot(spark, sf_dir, tmp_path):
    """Persisted fingerprint store round-trip is value-invisible: the
    serve-path pairs equal the one-shot operators' pairs for both
    winnowing and capped Jaccard, and ensure_dedup_index only builds
    once (the _SUCCESS marker gates rebuilds)."""
    import os

    from priority_data_pipeline_azure_sql_db_spark.operators import text as X
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import jaccard_pairs
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup_index import (
        ensure_dedup_index,
        jaccard_pairs_from_index,
        winnow_pairs_from_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents")
    canon = d.groupBy("text").agg(F.min("doc_id").cast("bigint").alias("doc_id"))

    wpath = str(tmp_path / "widx")
    ensure_dedup_index(canon, wpath, kind="winnow", k=8, w=4)
    served = {
        (r.id_a, r.id_b, r.shared_fps)
        for r in winnow_pairs_from_index(spark, wpath, min_shared=5,
                                         max_doc_freq=50).collect()
    }
    oneshot = {
        (r.id_a, r.id_b, r.shared_fps)
        for r in X.winnow_near_dup(canon, "text", "doc_id", k=8, w=4,
                                   min_shared=5, max_doc_freq=50).collect()
    }
    assert served == oneshot and served

    # build-once: marker present, second ensure is a no-op (mtime stable)
    marker = os.path.join(wpath, "fps", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    ensure_dedup_index(canon, wpath, kind="winnow", k=8, w=4)
    assert os.path.getmtime(marker) == mtime

    jpath = str(tmp_path / "jidx")
    ensure_dedup_index(canon, jpath, kind="shingle", k=5)
    jserved = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_pairs_from_index(spark, jpath, threshold=0.2,
                                          max_doc_freq=50).collect()
    }
    joneshot = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_pairs(canon, "text", "doc_id", k=5, threshold=0.2,
                               max_doc_freq=50).collect()
    }
    assert jserved == joneshot and jserved

    import pytest as _pytest
    with _pytest.raises(ValueError, match="kind"):
        ensure_dedup_index(canon, str(tmp_path / "bad"), kind="nope")


def test_dedup_index_append_equals_rebuild_and_crash_safe(spark, sf_dir, tmp_path):
    """Round-14 O(delta) growth for the fingerprint store: (1) append
    ≡ rebuild for BOTH kinds — pairs served from a part-built store
    grown by append_to_dedup_index equal pairs from a fresh full-corpus
    build, including the doc-freq cap over base ∪ delta; (2) the
    commit discipline — a torn generation (docs written, fps commit
    missing) is invisible to serves AND does not block the retry,
    which overwrites it; (3) re-appending present ids is an idempotent
    no-op; (4) appending to an unbuilt path fails loud."""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup_index import (
        append_to_dedup_index,
        ensure_dedup_index,
        jaccard_pairs_from_index,
        winnow_pairs_from_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    canon = d.groupBy("text").agg(F.min("doc_id").cast("bigint").alias("doc_id"))
    part_a = canon.filter(F.col("doc_id") % 3 != 0)
    part_b = canon.filter(F.col("doc_id") % 3 == 0)

    for kind, serve, kw in (
        ("winnow",
         lambda p_: winnow_pairs_from_index(spark, p_, min_shared=5,
                                            max_doc_freq=50),
         dict(kind="winnow", k=8, w=4)),
        ("shingle",
         lambda p_: jaccard_pairs_from_index(spark, p_, threshold=0.2,
                                             max_doc_freq=50),
         dict(kind="shingle", k=5)),
    ):
        grown = str(tmp_path / f"grown_{kind}")
        full = str(tmp_path / f"full_{kind}")
        ensure_dedup_index(part_a, grown, **kw)
        n = append_to_dedup_index(spark, grown, part_b)
        assert n == part_b.count() and n > 0
        ensure_dedup_index(canon, full, **kw)
        got = {tuple(r) for r in serve(grown).collect()}
        want = {tuple(r) for r in serve(full).collect()}
        assert got == want and got, kind
        # (3) idempotent re-append
        assert append_to_dedup_index(spark, grown, part_b) == 0
        assert {tuple(r) for r in serve(grown).collect()} == want

    # (2) crash window on the winnow store: fake a torn generation —
    # docs table present, fps commit missing
    grown = str(tmp_path / "grown_winnow")
    torn_docs = os.path.join(grown, "docs_delta_1")
    torn_fps = os.path.join(grown, "fps_delta_1")
    part_c = spark.createDataFrame(
        [(900001, "a brand new crash window document with words " * 3)],
        "doc_id bigint, text string",
    )
    part_c.select(F.col("doc_id").alias("doc")).write.mode(
        "overwrite").parquet(torn_docs)
    shutil.rmtree(torn_fps, ignore_errors=True)  # no fps => uncommitted
    before = {tuple(r) for r in winnow_pairs_from_index(
        spark, grown, min_shared=5, max_doc_freq=50).collect()}
    # torn docs table must not block the retry's membership read
    assert append_to_dedup_index(spark, grown, part_c) == 1
    assert os.path.exists(os.path.join(torn_fps, "_SUCCESS"))
    after = {tuple(r) for r in winnow_pairs_from_index(
        spark, grown, min_shared=5, max_doc_freq=50).collect()}
    assert after == before  # the new doc pairs with nothing

    # (4) append before any build is a caller bug
    with pytest.raises(ValueError, match="no completed build"):
        append_to_dedup_index(spark, str(tmp_path / "absent"), part_c)

    # (5) COMPACTION (round 14, LSM rebuild leg): folding generations
    # into the base is value-invisible at every crash point
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup_index import (
        compact_dedup_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.store_io import (
        write_intent,
    )

    serve = lambda: {tuple(r) for r in winnow_pairs_from_index(  # noqa: E731
        spark, grown, min_shared=5, max_doc_freq=50).collect()}
    want = serve()
    n_folded = compact_dedup_index(spark, grown)
    assert n_folded >= 1
    assert not [d for d in os.listdir(grown) if d.startswith("fps_delta_")]
    assert serve() == want
    assert compact_dedup_index(spark, grown) == 0  # generation-free no-op

    # committed-intent crash window: stage + intent present, swap not
    # yet done — serves read the staged truth and EXCLUDE the consumed
    # generation even though its dir still exists (the double-count
    # window), and the next append rolls forward
    part_d = spark.createDataFrame(
        [(900002, "another compaction window doc with words " * 4)],
        "doc_id bigint, text string",
    )
    assert append_to_dedup_index(spark, grown, part_d) == 1
    want2 = serve()
    stage = os.path.join(grown, ".compact_stage")
    for sub in ("fps", "docs"):
        spark.read.parquet(os.path.join(grown, sub)).unionByName(
            spark.read.parquet(os.path.join(grown, f"{sub}_delta_0"))
        ).write.mode("overwrite").parquet(os.path.join(stage, sub))
    write_intent(os.path.join(grown, "COMPACT_MANIFEST.json"), stage,
                 ["fps", "sizes", "docs"], gens=[0])
    assert serve() == want2  # staged truth, no double count
    assert append_to_dedup_index(spark, grown, part_d) == 0  # rolls fwd
    assert not os.path.exists(os.path.join(grown, "COMPACT_MANIFEST.json"))
    assert not os.path.isdir(os.path.join(grown, "fps_delta_0"))
    assert not os.path.isdir(stage)
    assert serve() == want2


def test_dedup_index_docs_membership_table(spark, sf_dir, tmp_path):
    """Round-15 (VERDICT r14 ask #2): the append path's membership is
    the compact base ``docs`` table, not an fps scan. (3) the build
    writes docs for fresh stores; (2) appends leave the base table
    alone and stay idempotent, and a zero-fingerprint doc appended to
    the store stays tracked ACROSS a compaction (the r14 code
    documented one harmless re-append here; r15 folds docs tables at
    compact so membership is exact)."""
    import os

    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup_index import (
        DOCS_DIR,
        append_to_dedup_index,
        compact_dedup_index,
        ensure_dedup_index,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    canon = d.groupBy("text").agg(F.min("doc_id").cast("bigint").alias("doc_id"))
    store = str(tmp_path / "docs_members")
    ensure_dedup_index(canon, store, kind="winnow", k=8, w=4)
    # (3) fresh r15 build writes the membership table
    assert os.path.exists(os.path.join(store, DOCS_DIR, "_SUCCESS"))
    base_docs = {r.doc for r in
                 spark.read.parquet(os.path.join(store, DOCS_DIR)).collect()}
    assert base_docs == {r.doc_id for r in canon.collect()}

    # (2) an append stays idempotent and leaves the base table alone
    delta = spark.createDataFrame(
        [(800001, "a genuinely new appended document with many words " * 3)],
        "doc_id bigint, text string",
    )
    assert append_to_dedup_index(spark, store, delta) == 1
    after = {r.doc for r in
             spark.read.parquet(os.path.join(store, DOCS_DIR)).collect()}
    assert after == base_docs  # base only; the delta lives in docs_delta_*
    assert append_to_dedup_index(spark, store, delta) == 0
    # re-appending base docs is a no-op through the membership table
    assert append_to_dedup_index(spark, store, canon.limit(5)) == 0

    # zero-fingerprint doc: tracked exactly, including across compact
    zero_fp = spark.createDataFrame(
        [(800002, "xy")], "doc_id bigint, text string")
    assert append_to_dedup_index(spark, store, zero_fp) == 1
    assert append_to_dedup_index(spark, store, zero_fp) == 0
    assert compact_dedup_index(spark, store) >= 1
    folded = {r.doc for r in
              spark.read.parquet(os.path.join(store, DOCS_DIR)).collect()}
    assert folded == base_docs | {800001, 800002}
    assert append_to_dedup_index(spark, store, zero_fp) == 0  # r15: exact


def test_codec_malformed_blobs_fall_back_to_stub(spark):
    """Hostile/malformed blobs (0-channel WAV, truncated BMP body, short
    fmt chunk) must fall back to the tagged stub row, never crash the
    mapInPandas task (review findings, round 7)."""
    import struct

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        extract_features,
    )

    zero_ch_fmt = struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
    zero_ch = (b"RIFF" + struct.pack("<I", 4 + 8 + len(zero_ch_fmt) + 8)
               + b"WAVE" + b"fmt " + struct.pack("<I", len(zero_ch_fmt))
               + zero_ch_fmt + b"data" + struct.pack("<I", 0))
    short_fmt = (b"RIFF" + struct.pack("<I", 20) + b"WAVE"
                 + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00")
    trunc_bmp = (struct.pack("<2sIHHI", b"BM", 200, 0, 0, 54)
                 + struct.pack("<IiiHHIIiiII", 40, 64, 64, 1, 24, 0, 0,
                               0, 0, 0, 0))  # claims 64x64, has no body
    import pytest as _pytest
    for bad in (zero_ch, short_fmt):
        with _pytest.raises(ValueError):
            codecs.decode_wav(bad)
    with _pytest.raises(ValueError):
        codecs.decode_bmp(trunc_bmp)

    media = spark.createDataFrame(
        [(1, "audio", bytearray(zero_ch), None, None, None),
         (2, "audio", bytearray(short_fmt), None, None, None),
         (3, "image", bytearray(trunc_bmp), None, None, None)],
        "media_id long, media_type string, content binary, "
        "meta_width int, meta_height int, meta_sample_rate int",
    )
    rows = extract_features(media).collect()
    assert len(rows) == 3
    assert all(r.codec == "stub-md5" and len(r.feature) == 8 for r in rows)


def test_average_hash_cross_codec_and_scale(spark):
    """aHash properties on real encode/decode round-trips: identical
    pixels hash equal across BMP and PNG; a 2x nearest-neighbor upscale
    preserves the hash (pooling invariance); a localized edit flips
    only a few bits; a constant image yields the all-zero hash."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)

    h_bmp = codecs.average_hash(codecs.decode_bmp(codecs.encode_bmp(px)))
    h_png = codecs.average_hash(codecs.decode_png(codecs.encode_png(px)))
    assert h_bmp == h_png

    up = px.repeat(2, axis=0).repeat(2, axis=1)
    assert codecs.average_hash(up) == h_bmp

    edited = px.copy()
    edited[:2, :2, :] = 255  # small local edit
    d = bin(codecs.average_hash(edited) ^ h_bmp).count("1")
    assert 0 < d <= 8

    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    assert codecs.average_hash(flat) == 0


def test_phash_near_dup_pairs_known_hashes(spark):
    """Hand-built 64-bit hashes: identical -> distance 0; a 3-bit flip
    inside one block -> found (pigeonhole guarantees distance <
    n_blocks shares a block); distance above the threshold -> dropped;
    a far hash pairs with nothing."""
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    base = "00ff00ff00ff00ff"
    flip3 = "00f800ff00ff00ff"   # 3 bits flipped in block 0
    far = "ffffffffffffffff"     # distance 32 from base
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, flip3), (4, far)],
        ["media_id", "phash"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in phash_near_dup_pairs(df, max_distance=10).collect()
    }
    assert got == {(1, 2): 0, (1, 3): 3, (2, 3): 3}

    # tighter threshold drops the 3-bit pair, keeps the exact dup
    tight = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in phash_near_dup_pairs(df, max_distance=1).collect()
    }
    assert tight == {(1, 2): 0}


def test_phash_near_dup_pairs_hash_size_generic(spark):
    """Round-9 ADVICE fix: the pair finder derives block and popcount
    widths from hash_size instead of the hard-coded 64-bit/16-hex
    layout. A 16x16 (256-bit, 64-hex) hash with a flip in its LAST 8
    hex chars — bits the old code silently ignored — must now be seen;
    a wrong-length hash fails loud instead of producing wrong pairs."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    base = "00ff" * 16                       # 64 hex = 256 bits
    tail_flip = base[:-2] + "f8"             # flips 3 bits in the last byte
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, tail_flip)], ["media_id", "phash"]
    )
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in phash_near_dup_pairs(df, max_distance=10, hash_size=16).collect()
    }
    assert got == {(1, 2): 0, (1, 3): 3, (2, 3): 3}

    # wrong-length input: loud per-row failure, not silent truncation
    bad = spark.createDataFrame([(1, base), (2, "00ff00ff00ff00ff")],
                                ["media_id", "phash"])
    with pytest.raises(Exception, match="expected 64-hex"):
        phash_near_dup_pairs(bad, hash_size=16).collect()

    # indivisible block layout rejected at build time
    with pytest.raises(ValueError, match="divisible"):
        phash_near_dup_pairs(df, n_blocks=3, hash_size=16)

    # round-10 ADVICE fix: odd hash_size — the pair finder's expected
    # width must CEIL like image_phash's (n_bits+3)//4 formatting, so
    # a 5x5 hash (25 bits -> 7 hex) flows through instead of tripping
    # the length check on every row
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_phash,
    )

    y, x = np.mgrid[0:16, 0:16]
    px = np.stack([x * 16, y * 16, (x + y) * 8], axis=-1).astype(np.uint8)
    media = spark.createDataFrame(
        [(1, "image", bytearray(codecs.encode_bmp(px)), None, None, None),
         (2, "image", bytearray(codecs.encode_bmp(px)), None, None, None)],
        MEDIA_SCHEMA,
    )
    odd = image_phash(media, hash_size=5)
    assert all(len(r["phash"]) == 7 for r in odd.collect())
    got_odd = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in phash_near_dup_pairs(
            odd, max_distance=2, hash_size=5, n_blocks=7
        ).collect()
    }
    assert got_odd == {(1, 2): 0}


def test_negative_samples_excludes_positives(spark):
    """Contrastive negatives never collide with the query's top-k
    neighbors or itself, exactly n_neg per query, and the draw is
    deterministic across calls."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        cosine_topk_bruteforce,
        negative_samples,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)

    negs = negative_samples(emb, q, k_pos=4, n_neg=5).collect()
    pos = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, q, k=4).collect()
    }
    by_q = {}
    for r in negs:
        assert (r["query_id"], r["negative_id"]) not in pos
        assert r["negative_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(
            (r["neg_rank"], r["negative_id"])
        )
    assert set(by_q) == {0, 1, 2}
    assert all(sorted(v)[0][0] == 1 and len(v) == 5 for v in by_q.values())

    again = negative_samples(emb, q, k_pos=4, n_neg=5).collect()
    assert sorted(map(tuple, negs)) == sorted(map(tuple, again))


def test_config_driven_curation_matches_capstone(spark, sf_dir):
    """A declarative stage list reproduces the hand-built v3 capstone's
    admitted set exactly; bad configs fail loudly at build time."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.curation import build_curation
    from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    cfg = {"stages": [
        {"op": "linify", "width": 8},
        {"op": "boilerplate_lines", "min_docs": 2},
        {"op": "quantile_gate", "drop_num": 1, "drop_den": 5},
        {"op": "source_cap", "cap": 10},
    ]}
    admitted = {
        (r["source"], r["doc_id"])
        for r in build_curation(d, cfg).select("source", "doc_id").collect()
    }
    # the capstone reports per-source counts + a membership multiset tag;
    # recompute the same report from the config-built set and compare
    from pyspark.sql import functions as F2

    from priority_data_pipeline_azure_sql_db_spark.operators.scale import md5_tag48
    got = {
        r["source"]: (r["n_docs"], r["member_tag"])
        for r in build_curation(d, cfg)
        .groupBy("source")
        .agg(
            F2.count(F2.lit(1)).cast("bigint").alias("n_docs"),
            (F2.sum(md5_tag48(F2.col("doc_id").cast("string")))
             % F2.lit(2305843009213693951)).cast("bigint").alias("member_tag"),
        ).collect()
    }
    want = {
        r["source"]: (r["n_docs"], r["member_tag"])
        for r in QUERIES["pipeline_curation_v3"](spark, sf_dir)
        .select("source", "n_docs", "member_tag").collect()
    }
    assert got == want and len(admitted) == sum(n for n, _ in want.values())

    with pytest.raises(ValueError, match="unknown curation op"):
        build_curation(d, {"stages": [{"op": "nope"}]})
    with pytest.raises(ValueError, match="no stages"):
        build_curation(d, {})
    with pytest.raises(ValueError, match="source_cap needs"):
        build_curation(d.drop("source"), {"stages": [{"op": "source_cap", "cap": 1}]})

    # html_extract as the optional FIRST stage (round 13): raw HTML in,
    # the rest of the chain sees plain text; other columns survive
    from pyspark.sql import functions as F3

    pages = d.limit(20).select(
        "doc_id", "source",
        F3.concat(
            F3.lit('<body><nav><a href="/">Home</a> <a href="/a">About'
                   ' page</a></nav><p>'),
            F3.col("text"),
            F3.lit("</p></body>"),
        ).alias("html"),
    )
    out = build_curation(pages, {"stages": [
        {"op": "html_extract"},
        {"op": "linify", "width": 8},
    ]})
    assert set(out.columns) >= {"doc_id", "text", "source"}
    rows = out.collect()
    assert len(rows) == 20
    assert all("Home" not in r["text"] and "<" not in r["text"] for r in rows)
    with pytest.raises(ValueError, match="html_extract needs"):
        build_curation(d, {"stages": [{"op": "html_extract"}]})


def test_config_curation_dsir_stage(spark, sf_dir):
    """Round-15 dsir stage: (1) the config-built gate admits exactly the
    operator's own selected set (target from the ORIGINAL input, q from
    the current state, NULL-weight rows dropped); (2) threshold is
    honored; (3) a missing target_filter fails at build time; (4) other
    columns survive."""
    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.curation import build_curation
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        dsir_log_weights,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    got = build_curation(d, {"stages": [
        {"op": "dsir", "target_filter": "lang = 'en'", "n_buckets": 512},
    ]})
    assert got.columns == ["doc_id", "text", "source", "lang"]
    w = dsir_log_weights(d, d.filter(F.col("lang") == "en"), n_buckets=512)
    want = {r["doc_id"] for r in
            w.filter(F.col("log_weight") > 0).collect()}
    assert {r["doc_id"] for r in got.collect()} == want and want

    thr = 2.0
    got_t = {r["doc_id"] for r in build_curation(d, {"stages": [
        {"op": "dsir", "target_filter": "lang = 'en'", "n_buckets": 512,
         "threshold": thr},
    ]}).collect()}
    want_t = {r["doc_id"] for r in
              w.filter(F.col("log_weight") > thr).collect()}
    assert got_t == want_t and got_t < want

    with pytest.raises(ValueError, match="target_filter"):
        build_curation(d, {"stages": [{"op": "dsir"}]})


def test_config_curation_gate_project(spark, sf_dir):
    """Round-18 'project' on the fused gate+cap slot: decisions AND
    output come from the cached narrow proxy (no attach join, upstream
    executes once). The admitted (source, doc_id, rank) set must equal
    the attach variant's exactly, _n_tokens must equal token_count of
    the attach variant's admitted text, and the build-time guard rails
    are loud."""
    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.curation import build_curation
    from priority_data_pipeline_azure_sql_db_spark.operators.text import token_count
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source")
    tail = [
        {"op": "linify", "width": 8},
        {"op": "boilerplate_lines", "min_docs": 2, "stats": True},
        {"op": "quantile_gate", "drop_num": 1, "drop_den": 5},
        {"op": "source_cap", "cap": 10},
    ]
    attach = build_curation(d, {"stages": tail}).select(
        "doc_id", "source", "rank_in_group",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    ).collect()
    proj_tail = [dict(s) for s in tail]
    proj_tail[2]["project"] = ["doc_id", "source", "_n_tokens"]
    got = build_curation(d, {"stages": proj_tail})
    assert got.columns == ["doc_id", "source", "_n_tokens", "rank_in_group"]
    got_rows = got.collect()
    assert {(r["source"], r["doc_id"], r["rank_in_group"]) for r in got_rows} \
        == {(r["source"], r["doc_id"], r["rank_in_group"]) for r in attach}
    assert {(r["doc_id"], r["_n_tokens"]) for r in got_rows} \
        == {(r["doc_id"], r["n_tokens"]) for r in attach}
    # guard rails: project needs the fused slot, must exclude text,
    # and must name existing columns
    with pytest.raises(ValueError, match="requires an .*source_cap"):
        build_curation(d, {"stages": proj_tail[:3]})
    bad = [dict(s) for s in proj_tail]
    bad[2]["project"] = ["doc_id", "text"]
    with pytest.raises(ValueError, match="must not include text"):
        build_curation(d, {"stages": bad})
    bad[2]["project"] = ["doc_id", "nope"]
    with pytest.raises(ValueError, match="missing column"):
        build_curation(d, {"stages": bad})
    spark.catalog.clearCache()


def test_simhash_md5_signatures_match_duckdb(spark, sf_dir):
    """Per-doc signature parity for the md5 SimHash family (round 15 —
    the evidence that funds dedup_simhash_md5's P2 retirement: its
    pairs twin only pair-hash-checks signatures of docs that land in a
    block collision; this test replays the identical oracle CTE per doc
    so the full signature table stays pinned)."""
    import duckdb

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import simhash_md5
    from priority_data_pipeline_azure_sql_db_spark.queries import _simhash_md5_oracle
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    got = {r.doc: r.simhash_hex for r in simhash_md5(
        load_table(spark, sf_dir, "documents"), "text", "doc_id"
    ).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = dict(con.execute(_simhash_md5_oracle()).fetchall())
    assert got == want and len(got) > 100


def test_config_curation_sampling_stages(spark, sf_dir):
    """The sampling stages compose declaratively: hash_sample keeps the
    deterministic subset, temperature_mix admits exactly the operator's
    own set, and both preserve the relation's columns."""
    from priority_data_pipeline_azure_sql_db_spark.curation import build_curation
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        hash_sample,
        temperature_mix_sample,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    got = build_curation(
        d, {"stages": [{"op": "hash_sample", "fraction": 0.3, "salt": "s1"}]}
    )
    want = hash_sample(d, "doc_id", 0.3, salt="s1")
    assert sorted(r["doc_id"] for r in got.collect()) == \
        sorted(r["doc_id"] for r in want.collect())
    assert got.columns == ["doc_id", "text", "source"]

    got2 = build_curation(
        d, {"stages": [{"op": "temperature_mix", "alpha": 0.5,
                        "target_frac": 0.4}]}
    )
    want2 = temperature_mix_sample(
        d, source_col="source", id_col="doc_id", alpha=0.5, target_frac=0.4
    )
    assert sorted(r["doc_id"] for r in got2.collect()) == \
        sorted(r["doc_id"] for r in want2.collect())
    assert got2.columns == ["doc_id", "text", "source"]


def test_config_curation_missing_params_fail_loudly(spark, sf_dir):
    """Missing stage parameters raise the build-time ValueError the
    config contract promises — never a bare KeyError from deep inside
    a stage."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.curation import build_curation
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    for bad in [
        {"op": "quantile_gate", "drop_num": 1},        # no drop_den
        {"op": "source_cap"},                           # no cap
        {"op": "hash_sample"},                          # no fraction
    ]:
        with pytest.raises(ValueError, match="missing parameter"):
            build_curation(d, {"stages": [bad]})


def test_boilerplate_empty_doc_contract(spark):
    """Round-9 ADVICE fix: the drop_empty contract is "keeps at least
    one NON-empty line". Whitespace-only and empty docs are dropped
    (they used to survive as one kept empty line — a divergence from
    any line-from-tokens oracle); a doc whose every non-empty line is
    boilerplate is dropped even if it has interior empty lines; and
    interior empty lines ARE still preserved in survivors."""
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        remove_boilerplate_lines,
    )

    rows = [
        (1, "unique alpha\ncommon menu line\n\nunique beta"),
        (2, "common menu line\nother unique"),
        (3, ""),                          # empty doc → dropped
        (4, "   "),                       # whitespace-only → dropped
        (5, "common menu line\n\ncommon menu line"),  # only boiler + empty → dropped
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(df).collect()}
    assert set(out) == {1, 2}
    # interior empty line preserved in survivor 1
    assert out[1]["text"] == "unique alpha\n\nunique beta"
    assert out[1]["n_lines_kept"] == 3            # two text lines + the empty
    assert out[1]["n_lines_dropped"] == 1
    assert out[2]["text"] == "other unique"
    # schema carries no internal helper column
    cols = remove_boilerplate_lines(df).columns
    assert cols == ["doc_id", "text", "n_lines_kept", "n_lines_dropped"]


def test_boilerplate_emit_stats_exact(spark):
    """Round-18 emit_stats contract: _n_chars/_n_alpha/_n_tokens are
    per-line sums computed INSIDE the reassembly aggregate, and must
    equal length/alpha_count/token_count over the RETURNED text
    exactly — that equality is what lets consumers score from the
    stats and have Catalyst prune the collect_list reassembly. Corpus
    covers the linearity edge cases: interior empty lines, whitespace-
    only lines, NBSP (non-\\s in Java regex — rides inside a token),
    tabs/multi-space runs, trailing spaces, all-boilerplate docs
    (drop_empty both ways), and the empty doc."""
    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        remove_boilerplate_lines,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.text import (
        alpha_count,
        token_count,
    )

    rows = [
        (1, "Shared footer line\nUnique A text!\n\n   \nMore\tA  words"),
        (2, "Shared footer line\nB's own words\tx2 "),
        (3, "Shared footer line"),              # all-boilerplate
        (4, "Only NBSP token here\nShared footer line\nends spaced  "),
        (5, ""),                                 # empty doc
        (6, "a  b   c\nShared footer line\n123 #!?"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    for drop_empty in (True, False):
        out = remove_boilerplate_lines(
            df, emit_stats=True, drop_empty=drop_empty
        )
        assert out.columns == [
            "doc_id", "text", "n_lines_kept", "n_lines_dropped",
            "_n_chars", "_n_alpha", "_n_tokens",
        ]
        chk = out.select(
            "doc_id", "_n_chars", "_n_alpha", "_n_tokens",
            F.length("text").alias("want_chars"),
            alpha_count(F.col("text")).alias("want_alpha"),
            token_count(F.col("text")).alias("want_tokens"),
        ).collect()
        assert chk, "survivors expected"
        for r in chk:
            assert r["_n_chars"] == r["want_chars"], r
            assert r["_n_alpha"] == r["want_alpha"], r
            assert r["_n_tokens"] == r["want_tokens"], r
    # drop_empty=False surfaces the all-boilerplate/empty docs with
    # empty text and all-zero stats
    z = {r["doc_id"]: r for r in remove_boilerplate_lines(
        df, emit_stats=True, drop_empty=False).collect()}
    assert z[3]["text"] == "" and z[3]["_n_chars"] == 0 \
        and z[3]["_n_alpha"] == 0 and z[3]["_n_tokens"] == 0
    # token linearity needs a Java-\s separator — anything else lies
    with pytest.raises(ValueError, match=r"Java-\\s"):
        remove_boilerplate_lines(df, sep="|", emit_stats=True)
    # round-19 ADVICE fix: Python str.strip() whitespace that Java \s
    # does NOT match (NBSP here) must ALSO be rejected — token_count
    # splits on Java \s, so an NBSP join would merge tokens and make
    # _n_tokens diverge from token_count(text)
    with pytest.raises(ValueError, match=r"Java-\\s"):
        remove_boilerplate_lines(df, sep=" ", emit_stats=True)


def test_codec_jpeg_roundtrip_all_subsampling():
    """Round 9: baseline JPEG encode→decode round-trips with bounded
    lossy error across 4:4:4 / 4:2:2 / 4:2:0, grayscale, non-multiple
    dimensions, and a restart interval. Exactness anchor: mid-gray is
    DC-only with a zero level-shifted DC, so it decodes EXACTLY at any
    quality/subsampling."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    # exactness anchor
    img = np.full((24, 24, 3), 128, dtype=np.uint8)
    for sub in ("4:4:4", "4:2:2", "4:2:0"):
        out = codecs.decode_jpeg(codecs.encode_jpeg(img, quality=50, subsample=sub))
        assert out.shape == (24, 24, 3)
        assert np.array_equal(out, img), sub

    # smooth gradient, awkward dims (not multiples of 8/16)
    y, x = np.mgrid[0:37, 0:29]
    grad = np.stack([
        (255 * x / 28), (255 * y / 36), (255 * (x + y) / 64)
    ], axis=-1).astype(np.uint8)
    for sub, tol_max, tol_mean in (
        ("4:4:4", 16, 3.0), ("4:2:2", 24, 4.0), ("4:2:0", 28, 5.0)
    ):
        out = codecs.decode_jpeg(codecs.encode_jpeg(grad, quality=92, subsample=sub))
        err = np.abs(out.astype(int) - grad.astype(int))
        assert out.shape == grad.shape
        assert err.max() <= tol_max, (sub, err.max())
        assert err.mean() <= tol_mean, (sub, err.mean())

    # grayscale single-component stream
    g = (y * 7 % 256).astype(np.uint8)
    out = codecs.decode_jpeg(codecs.encode_jpeg(g, quality=95))
    assert out.shape == (37, 29, 3)
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).mean() < 6.0

    # restart interval exercises DRI/RSTn + DC predictor resets
    rng = np.random.default_rng(7)
    noisy = np.clip(grad.astype(int) + rng.integers(-20, 20, grad.shape), 0, 255).astype(np.uint8)
    b_rst = codecs.encode_jpeg(noisy, quality=90, subsample="4:2:0", restart_interval=2)
    assert b"\xff\xdd" in b_rst          # DRI segment present
    assert b"\xff\xd0" in b_rst          # at least one RST0 marker
    out_rst = codecs.decode_jpeg(b_rst)
    out_plain = codecs.decode_jpeg(
        codecs.encode_jpeg(noisy, quality=90, subsample="4:2:0")
    )
    # restart markers change framing, not content: decodes identical
    assert np.array_equal(out_rst, out_plain)


def test_codec_jpeg_golden_stream_hand_built():
    """Decoder vs the SPEC, not just vs the sibling encoder: an 8x8
    grayscale baseline JPEG hand-assembled byte by byte in this test —
    flat quant table (all 16), trivial huffman tables (DC: symbol 4 ->
    code '0'; AC: EOB -> code '0'), one block whose entropy data is DC
    category 4 with magnitude bits 0101: high bit 0 means the NEGATIVE
    branch of extend() -> 5 - 2^4 + 1 = -10 -> DC coef -10*16 = -160 ->
    pixels 128 - 160/8 = 108. Any spec deviation in marker parsing,
    huffman table construction, extend()'s sign handling, dequant, IDCT
    scaling, or level shift breaks the expected constant 108."""
    import struct

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    zz_flat = bytes([16] * 64)
    stream = bytearray()
    stream += b"\xff\xd8"                                   # SOI
    stream += b"\xff\xdb" + struct.pack(">HB", 67, 0) + zz_flat   # DQT id 0
    stream += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) # SOF0 8x8 1 comp
    stream += bytes([1, 0x11, 0])                           # comp 1, h1v1, q0
    # DHT: DC table 0 — one code of length 1 for symbol 4 (category 4)
    stream += b"\xff\xc4" + struct.pack(">HB", 2 + 17 + 1, 0x00)
    stream += bytes([1] + [0] * 15) + bytes([4])
    # DHT: AC table 0 — one code of length 1 for symbol 0 (EOB)
    stream += b"\xff\xc4" + struct.pack(">HB", 2 + 17 + 1, 0x10)
    stream += bytes([1] + [0] * 15) + bytes([0])
    stream += b"\xff\xda" + struct.pack(">HB", 8, 1)        # SOS
    stream += bytes([1, 0x00, 0, 63, 0])
    # entropy: DC code '0' (1 bit) + magnitude 0101 (4 bits, extend ->
    # -10) + AC EOB code '0' (1 bit) = 001010, padded with 1s -> 00101011
    stream += bytes([0b00101011])
    stream += b"\xff\xd9"                                   # EOI
    out = codecs.decode_jpeg(bytes(stream))
    # DC quantized -10, dequant -10*16=-160; IDCT of DC-only spreads
    # -160/8 = -20 over the block; +128 level shift = 108, all channels
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out, np.full((8, 8, 3), 108, dtype=np.uint8)), out[0, 0]


def test_codec_jpeg_12bit_golden_stream_hand_built():
    """12-bit extended-sequential decoder vs the SPEC (round 15), the
    8-bit golden's sibling: an 8x8 grayscale SOF1 stream hand-assembled
    byte by byte — 16-bit Pq=1 quant table (flat 32), trivial huffman
    tables (DC: symbol 9 -> code '0'; AC: EOB -> code '0'), one block
    whose entropy data is DC category 9 with magnitude bits 110010000
    (= 400, positive branch). Dequant 400*32 = 12800 -> IDCT of DC-only
    spreads 12800/8 = 1600 over the block -> +2048 level shift = 3648
    at 12-bit scale -> the uint8 contract's exact >>4 gives 228. Any
    deviation in Pq=1 parsing, SOF1 12-bit acceptance, the wider
    category handling, the 2048 level shift, or the /16 output mapping
    breaks the expected constant 228."""
    import struct

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    stream = bytearray()
    stream += b"\xff\xd8"                                    # SOI
    # DQT id 0, Pq=1 (16-bit values), flat 32
    stream += b"\xff\xdb" + struct.pack(">HB", 131, 0x10)
    stream += struct.pack(">H", 32) * 64
    # SOF1, precision 12, 8x8, 1 component
    stream += b"\xff\xc1" + struct.pack(">HBHHB", 11, 12, 8, 8, 1)
    stream += bytes([1, 0x11, 0])
    # DHT DC table 0: one 1-bit code for symbol 9 (category 9)
    stream += b"\xff\xc4" + struct.pack(">HB", 2 + 17 + 1, 0x00)
    stream += bytes([1] + [0] * 15) + bytes([9])
    # DHT AC table 0: one 1-bit code for symbol 0 (EOB)
    stream += b"\xff\xc4" + struct.pack(">HB", 2 + 17 + 1, 0x10)
    stream += bytes([1] + [0] * 15) + bytes([0])
    stream += b"\xff\xda" + struct.pack(">HB", 8, 1)         # SOS
    stream += bytes([1, 0x00, 0, 63, 0])
    # entropy: DC code '0' + 110010000 (400 in 9 bits) + EOB '0' =
    # 11 bits 0_110010000_0, padded with 1s to 0110 0100 0001 1111
    stream += bytes([0b01100100, 0b00011111])
    stream += b"\xff\xd9"                                    # EOI
    out = codecs.decode_jpeg(bytes(stream))
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out, np.full((8, 8, 3), 228, dtype=np.uint8)), out[0, 0]


def test_codec_jpeg_12bit_roundtrip_and_boundaries():
    """12-bit encode/decode (round 15): (1) DC-only solid 12-bit
    grayscale round-trips EXACTLY to its >>4 uint8 value; (2) smooth
    12-bit RGB at 4:4:4 and 4:2:0 round-trips within the same error
    band as the 8-bit path (on the 8-bit output scale); (3) restart
    intervals compose with 12-bit; (4) SOF0 claiming 12-bit precision
    is rejected (T.81: baseline is 8-bit only) while SOF1 12-bit
    decodes; (5) the emitted stream really uses SOF1 + a 16-bit Pq=1
    DQT; (6) encode precision other than 8/12 fails loud."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    solid = np.full((16, 24), 3200, dtype=np.uint16)
    blob = codecs.encode_jpeg(solid, quality=90, precision=12)
    assert b"\xff\xc1" in bytes(blob) and b"\xff\xc0" not in bytes(blob)
    i = bytes(blob).find(b"\xff\xdb")
    assert blob[i + 4] >> 4 == 1  # Pq=1
    out = codecs.decode_jpeg(blob)
    assert np.array_equal(out, np.full((16, 24, 3), 200, dtype=np.uint8))

    xx, yy = np.meshgrid(np.linspace(0, 4095, 40), np.linspace(0, 4095, 56))
    smooth = np.stack([xx, yy, (xx + yy) / 2], axis=-1).astype(np.uint16)
    for sub in ("4:4:4", "4:2:0"):
        o = codecs.decode_jpeg(
            codecs.encode_jpeg(smooth, quality=95, subsample=sub,
                               precision=12))
        assert np.abs(o.astype(float) - smooth / 16.0).max() <= 8.0, sub

    o_rst = codecs.decode_jpeg(codecs.encode_jpeg(
        smooth, quality=95, subsample="4:4:4", precision=12,
        restart_interval=2))
    assert np.abs(o_rst.astype(float) - smooth / 16.0).max() <= 8.0

    # SOF0 with 12-bit precision is a spec violation and must not decode
    bad = bytearray(blob)
    j = bad.find(b"\xff\xc1")
    bad[j + 1] = 0xC0
    with pytest.raises(NotImplementedError, match="12-bit.*SOF0"):
        codecs.decode_jpeg(bytes(bad))

    with pytest.raises(ValueError, match="precision must be 8 or 12"):
        codecs.encode_jpeg(solid, precision=10)


def test_codec_jpeg_12bit_progressive_matches_baseline():
    """12-bit PROGRESSIVE (round 15, following the sequential landing):
    the SOF2 scan script at precision 12 decodes to pixels IDENTICAL to
    the baseline 12-bit encoding at the same (quality, subsample) —
    the same quantized-coefficient identity the 8-bit pair asserts —
    and the solid DC-only case is exact."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    solid = np.full((16, 16), 3200, dtype=np.uint16)
    o = codecs.decode_jpeg(
        codecs.encode_jpeg_progressive(solid, quality=90, precision=12))
    assert np.array_equal(o, np.full((16, 16, 3), 200, dtype=np.uint8))

    xx, yy = np.meshgrid(np.linspace(0, 4095, 40), np.linspace(0, 4095, 56))
    smooth = np.stack([xx, yy, (xx + yy) / 2], axis=-1).astype(np.uint16)
    for sub in ("4:4:4", "4:2:0"):
        ob = codecs.decode_jpeg(codecs.encode_jpeg(
            smooth, quality=90, subsample=sub, precision=12))
        op = codecs.decode_jpeg(codecs.encode_jpeg_progressive(
            smooth, quality=90, subsample=sub, precision=12))
        assert np.array_equal(ob, op), sub
        assert np.abs(op.astype(float) - smooth / 16.0).max() <= 8.0, sub


def test_codec_png_subbyte_encoder_roundtrip():
    """encode_png_subbyte (round 16 — the write half of the sub-byte
    closure, feeding the codec-mix driver legs): grayscale 1/2/4-bit
    round trips to the exact spec-scaled values, paletted 1/2/4-bit
    recovers the RGB exactly through the PLTE, odd widths exercise the
    row-tail bit padding, and over-range samples / over-full palettes /
    illegal depths fail loud."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    rng = np.random.default_rng(1601)
    for d in (1, 2, 4):
        for w in (8, 13):  # 13: rows end mid-byte
            g = rng.integers(0, 1 << d, size=(9, w))
            out = C.decode_png(C.encode_png_subbyte(g, d))
            want = (g * (255 // ((1 << d) - 1))).astype(np.uint8)
            assert np.array_equal(out[:, :, 0], want), (d, w)
            assert np.array_equal(out[:, :, 0], out[:, :, 1])
            pal = rng.integers(0, 256, size=(1 << d, 3), dtype=np.uint8)
            rgb = pal[rng.integers(0, 1 << d, size=(7, w))]
            out = C.decode_png(C.encode_png_subbyte(rgb, d))
            assert np.array_equal(out[:, :, :3], rgb), (d, w)
    with pytest.raises(ValueError, match="out of range"):
        C.encode_png_subbyte(np.array([[4]]), 2)
    with pytest.raises(ValueError, match="palette"):
        C.encode_png_subbyte(
            np.arange(24, dtype=np.uint8).reshape(1, 8, 3), 2)
    with pytest.raises(ValueError, match="bit_depth"):
        C.encode_png_subbyte(np.zeros((2, 2), dtype=np.uint8), 3)
    with pytest.raises(ValueError, match="empty"):
        C.encode_png_subbyte(np.zeros((0, 4), dtype=np.uint8), 2)


def test_codec_png_subbyte_matches_openjdk_imageio(tmp_path):
    """SUB-BYTE PNG vs an INDEPENDENT decoder (round 16, VERDICT r15
    ask #5): the round-15 sub-byte closure was pinned by hand-built
    vectors that share an author with the decoder — this test decodes
    the same streams through OpenJDK's javax.imageio PNGImageReader (a
    clean-room implementation, shipped with the Spark JVM this repo
    already requires) and asserts pixel-for-pixel agreement. Coverage:
    every 1/2/4-bit grayscale and paletted layout from
    encode_png_subbyte (odd widths exercise the row-tail bit padding),
    hand-packed ADAM7-interlaced sub-byte streams (per-sub-image
    packing), a paletted stream with tRNS alpha, and the 8-bit control.
    Agreement here independently verifies the MSB-first packing, the
    255/(2^d-1) gray scaling, the per-pass interlace packing, AND the
    hand-pack helper the round-15 goldens were built with."""
    import shutil
    import struct
    import subprocess
    import zlib

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    javac, java = shutil.which("javac"), shutil.which("java")
    if not javac or not java:
        pytest.skip("JDK not available for the independent PNG decode")

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF)

    def pack_row(r, depth):
        if depth == 8:
            return bytes(r)
        per = 8 // depth
        row = bytearray()
        for i in range(0, len(r), per):
            b = 0
            grp = r[i:i + per]
            for j in range(per):
                v = grp[j] if j < len(grp) else 0
                b |= (v & ((1 << depth) - 1)) << (8 - depth * (j + 1))
            row.append(b)
        return bytes(row)

    def make_png(w, h, depth, color, img, plte=None, trns=None,
                 interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        raw = bytearray()
        if interlace == 0:
            for r in img:
                raw.append(0)
                raw += pack_row(r, depth)
        else:  # Adam7: per-pass packing
            for x0, y0, xs, ys in ((0, 0, 8, 8), (4, 0, 8, 8),
                                   (0, 4, 4, 8), (2, 0, 4, 4),
                                   (0, 2, 2, 4), (1, 0, 2, 2),
                                   (0, 1, 1, 2)):
                pw = -(-(w - x0) // xs) if w > x0 else 0
                ph = -(-(h - y0) // ys) if h > y0 else 0
                if pw == 0 or ph == 0:
                    continue
                for i in range(ph):
                    r = [img[y0 + ys * i][x0 + xs * j] for j in range(pw)]
                    raw.append(0)
                    raw += pack_row(r, depth)
        out = C.PNG_MAGIC + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", bytes(plte))
        if trns is not None:
            out += chunk(b"tRNS", bytes(trns))
        return out + chunk(b"IDAT", zlib.compress(bytes(raw))) \
            + chunk(b"IEND", b"")

    rng = np.random.default_rng(1607)
    cases: dict[str, bytes] = {}
    for d in (1, 2, 4):
        g = rng.integers(0, 1 << d, size=(9, 13))
        cases[f"enc_gray{d}"] = C.encode_png_subbyte(g, d)
        pal = rng.integers(0, 256, size=(1 << d, 3), dtype=np.uint8)
        cases[f"enc_pal{d}"] = C.encode_png_subbyte(
            pal[rng.integers(0, 1 << d, size=(7, 13))], d)
        # hand-packed Adam7 interlaced sub-byte gray (the r15 golden
        # construction — now independently checked)
        img = rng.integers(0, 1 << d, size=(11, 9)).tolist()
        cases[f"lace_gray{d}"] = make_png(9, 11, d, 0, img, interlace=1)
    pal16 = []
    for i in range(16):
        pal16 += [i * 16, 255 - i * 16, i]
    img4 = [[x for x in range(13)], [12 - x for x in range(13)]]
    cases["pal4_trns"] = make_png(
        13, 2, 4, 3, img4, plte=pal16, trns=bytes([255, 255, 255, 0]))
    cases["control_rgb8"] = C.encode_png(
        rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8))

    # one javac + one java invocation for every case
    shutil.copy(f"{__file__.rsplit('/', 1)[0]}/fixtures/PngDump.java",
                tmp_path / "PngDump.java")
    subprocess.run([javac, "-d", str(tmp_path),
                    str(tmp_path / "PngDump.java")], check=True)
    paths = []
    for name, blob in cases.items():
        p = tmp_path / f"{name}.png"
        p.write_bytes(blob)
        paths.append(str(p))
    out = subprocess.run(
        [java, "-cp", str(tmp_path), "PngDump", *paths],
        check=True, capture_output=True, text=True).stdout

    # parse the dump back into per-file (h, w, 4) arrays
    java_px: dict[str, np.ndarray] = {}
    lines = iter(out.splitlines())
    for line in lines:
        assert line.startswith("FILE "), line
        _, path, w, h = line.rsplit(" ", 3)
        w, h = int(w), int(h)
        vals = [next(lines).split() for _ in range(w * h)]
        name = path.rsplit("/", 1)[1][:-4]
        java_px[name] = np.array(vals, dtype=np.int64).reshape(h, w, 4)

    assert set(java_px) == set(cases)
    for name, blob in cases.items():
        ours = C.decode_png(blob)
        ref = java_px[name]
        assert ours.shape[:2] == ref.shape[:2], name
        assert np.array_equal(ours[:, :, :3], ref[:, :, :3]), name
        if ours.shape[2] == 4:
            assert np.array_equal(ours[:, :, 3], ref[:, :, 3]), name
        else:
            assert (ref[:, :, 3] == 255).all(), name


def test_codec_png_16bit_alpha_match_openjdk_raster(tmp_path):
    """16-bit and alpha-bearing PNG layouts vs OpenJDK (round 16 — the
    sub-byte cross-check's other half, completing independent coverage
    of every color type): RasterDump dumps the JDK reader's raw raster
    samples (getRGB would fold 16-bit through its own 8-bit sRGB
    conversion), and our decoder's uint8 contract must equal the
    reference sample's HIGH BYTE for depth 16 and the exact sample for
    depth 8. Covers 16-bit gray / RGB / gray+alpha / RGBA (hand-packed
    big-endian streams), 8-bit gray+alpha, and the encoder's 8-bit RGBA
    both sequential and Adam7-interlaced."""
    import shutil
    import struct
    import subprocess
    import zlib

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    javac, java = shutil.which("javac"), shutil.which("java")
    if not javac or not java:
        pytest.skip("JDK not available for the independent decode")

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF)

    def make_png(arr, depth, color):
        h, w = arr.shape[:2]
        ch = 1 if arr.ndim == 2 else arr.shape[2]
        raw = bytearray()
        dt = ">u2" if depth == 16 else "u1"
        for r in range(h):
            raw.append(0)
            raw += arr[r].astype(dt).tobytes()
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
        return (C.PNG_MAGIC + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    rng = np.random.default_rng(1611)
    cases = {}  # name -> (blob, our expected vs java lambda)
    g16 = rng.integers(0, 65536, size=(6, 7))
    cases["gray16"] = make_png(g16, 16, 0)
    rgb16 = rng.integers(0, 65536, size=(5, 9, 3))
    cases["rgb16"] = make_png(rgb16, 16, 2)
    ga16 = rng.integers(0, 65536, size=(4, 6, 2))
    cases["grayalpha16"] = make_png(ga16, 16, 4)
    rgba16 = rng.integers(0, 65536, size=(6, 5, 4))
    cases["rgba16"] = make_png(rgba16, 16, 6)
    ga8 = rng.integers(0, 256, size=(7, 8, 2))
    cases["grayalpha8"] = make_png(ga8, 8, 4)
    rgba8 = rng.integers(0, 256, size=(9, 7, 4), dtype=np.uint8)
    cases["rgba8"] = C.encode_png(rgba8)
    cases["rgba8_lace"] = C.encode_png(rgba8, interlace=True)

    shutil.copy(f"{__file__.rsplit('/', 1)[0]}/fixtures/RasterDump.java",
                tmp_path / "RasterDump.java")
    subprocess.run([javac, "-d", str(tmp_path),
                    str(tmp_path / "RasterDump.java")], check=True)
    paths = []
    for name, blob in cases.items():
        p = tmp_path / f"{name}.png"
        p.write_bytes(blob)
        paths.append(str(p))
    out = subprocess.run(
        [java, "-cp", str(tmp_path), "RasterDump", *paths],
        check=True, capture_output=True, text=True).stdout
    lines = iter(out.splitlines())
    java_raster = {}
    for line in lines:
        _, path, w, h, nb = line.rsplit(" ", 4)
        w, h, nb = int(w), int(h), int(nb)
        vals = [next(lines).split() for _ in range(w * h)]
        java_raster[path.rsplit("/", 1)[1][:-4]] = np.array(
            vals, dtype=np.int64).reshape(h, w, nb)
    assert set(java_raster) == set(cases)

    for name, blob in cases.items():
        ours = C.decode_png(blob).astype(np.int64)
        ref = java_raster[name]
        shift = 8 if "16" in name else 0
        ref8 = ref >> shift
        if ref.shape[2] == 1:      # gray -> our RGB replication
            want = np.repeat(ref8, 3, axis=2)
        elif ref.shape[2] == 2:    # gray+alpha -> our RGBA expansion
            want = np.concatenate(
                [np.repeat(ref8[:, :, :1], 3, axis=2), ref8[:, :, 1:]],
                axis=2)
        else:
            want = ref8
        assert ours.shape == want.shape, (name, ours.shape, want.shape)
        assert np.array_equal(ours, want), (
            name, int(np.abs(ours - want).max()))


def test_codec_gif_animation_matches_openjdk_frames(tmp_path):
    """Animated GIF vs OpenJDK's GIFImageReader (round 16): our
    compositing mix uses full-canvas frames, where Java's per-frame
    rasters equal the composited output — so every frame of a 3-frame
    animation (and the frame COUNT) is cross-checked exactly against
    the independent LZW/palette/animation parse. GifDump walks
    reader.read(i) until IndexOutOfBounds per the ImageIO contract."""
    import shutil
    import subprocess

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    javac, java = shutil.which("javac"), shutil.which("java")
    if not javac or not java:
        pytest.skip("JDK not available for the independent decode")
    rng = np.random.default_rng(1612)
    frames = [rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
              for _ in range(3)]
    blob = C.encode_gif(frames, delay_cs=5)
    p = tmp_path / "anim.gif"
    p.write_bytes(blob)
    shutil.copy(f"{__file__.rsplit('/', 1)[0]}/fixtures/GifDump.java",
                tmp_path / "GifDump.java")
    subprocess.run([javac, "-d", str(tmp_path),
                    str(tmp_path / "GifDump.java")], check=True)
    out = subprocess.run(
        [java, "-cp", str(tmp_path), "GifDump", str(p)],
        check=True, capture_output=True, text=True).stdout
    lines = iter(out.splitlines())
    java_frames = []
    for line in lines:
        _, idx, w, h = line.rsplit(" ", 3)
        w, h = int(w), int(h)
        vals = [next(lines).split() for _ in range(w * h)]
        java_frames.append(
            np.array(vals, dtype=np.int64).reshape(h, w, 4)[:, :, :3])
    fps, ours = C.decode_gif_frames(blob)
    assert len(java_frames) == len(ours) == 3
    assert fps == 20.0
    for i, (a, b) in enumerate(zip(ours, java_frames)):
        assert np.array_equal(a[:, :, :3], b), i
        assert np.array_equal(a[:, :, :3], frames[i]), i


def test_codec_bmp_gif_match_openjdk_imageio(tmp_path):
    """BMP and still-GIF decode vs OpenJDK's independent readers (round
    16 — the PNG cross-check's siblings, same PngDump fixture since
    ImageIO sniffs content, not extensions): our lossless encoders'
    output must decode to identical RGB through both implementations.
    Exact equality — both formats are lossless and palette-exact at
    <= 256 distinct colors by construction."""
    import shutil
    import subprocess

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    javac, java = shutil.which("javac"), shutil.which("java")
    if not javac or not java:
        pytest.skip("JDK not available for the independent decode")
    rng = np.random.default_rng(1608)
    px = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    gif_px = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    cases = {
        "bmp": (C.encode_bmp(px), px),
        "gif": (C.encode_gif(gif_px), gif_px),
    }
    shutil.copy(f"{__file__.rsplit('/', 1)[0]}/fixtures/PngDump.java",
                tmp_path / "PngDump.java")
    subprocess.run([javac, "-d", str(tmp_path),
                    str(tmp_path / "PngDump.java")], check=True)
    paths = []
    for name, (blob, _) in cases.items():
        p = tmp_path / f"{name}.{name}"
        p.write_bytes(blob)
        paths.append(str(p))
    out = subprocess.run([java, "-cp", str(tmp_path), "PngDump", *paths],
                         check=True, capture_output=True, text=True).stdout
    lines = iter(out.splitlines())
    java_px = {}
    for line in lines:
        _, path, w, h = line.rsplit(" ", 3)
        w, h = int(w), int(h)
        vals = [next(lines).split() for _ in range(w * h)]
        name = path.rsplit("/", 1)[1].split(".")[0]
        java_px[name] = np.array(vals, dtype=np.int64).reshape(h, w, 4)
    assert set(java_px) == set(cases)
    for name, (blob, want) in cases.items():
        assert np.array_equal(java_px[name][:, :, :3], want), name
        if name == "gif":
            _, frames = C.decode_gif_frames(blob)
            ours = frames[0]
        else:
            ours = C.decode_bmp(blob)
        assert np.array_equal(ours[:, :, :3], want), name


def test_codec_jpeg_decode_agrees_with_openjdk_within_idct_tolerance(
        tmp_path):
    """Baseline + progressive JPEG decode vs OpenJDK's reader (round
    16): T.81 pins IDCT accuracy, not bit-exactness, and JFIF does not
    mandate the chroma upsampling filter, so the bounds are per-cell
    and calibrated to what each divergence source can legally produce:
    4:4:4 cells involve ONLY the IDCT difference and must be near-exact
    (measured mean 0.40, max 2 → asserted mean <= 1.0, max <= 4);
    4:2:0 cells add the upsampling-convention difference (our
    nearest-replicate vs libjpeg-lineage triangular interpolation —
    measured mean ~2.9, p99 ~16 → asserted mean <= 5, p99 <= 24).
    Structural bugs (wrong zigzag, swapped chroma, broken refinement
    scans, mis-phased upsampling) shift whole planes by tens and blow
    every bound."""
    import shutil
    import subprocess

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    javac, java = shutil.which("javac"), shutil.which("java")
    if not javac or not java:
        pytest.skip("JDK not available for the independent decode")
    rng = np.random.default_rng(1610)
    # smooth image + mild noise: JPEG's operating regime (pure noise
    # maximizes legal IDCT divergence without testing anything extra)
    yy, xx = np.mgrid[0:24, 0:32]
    base = (96 + 60 * np.sin(yy / 5.0) + 50 * np.cos(xx / 7.0)
            + rng.normal(0, 6, size=(24, 32)))
    px = np.clip(
        np.stack([base, base * 0.8 + 20, 255 - base], axis=-1), 0, 255
    ).astype(np.uint8)
    cases = {}
    for q in (75, 95):
        for sub in ("4:4:4", "4:2:0"):
            tag = sub.replace(":", "")
            cases[f"seq_q{q}_{tag}"] = C.encode_jpeg(
                px, quality=q, subsample=sub)
            cases[f"prog_q{q}_{tag}"] = C.encode_jpeg_progressive(
                px, quality=q, subsample=sub)
    shutil.copy(f"{__file__.rsplit('/', 1)[0]}/fixtures/PngDump.java",
                tmp_path / "PngDump.java")
    subprocess.run([javac, "-d", str(tmp_path),
                    str(tmp_path / "PngDump.java")], check=True)
    paths = []
    for name, blob in cases.items():
        p = tmp_path / f"{name}.jpg"
        p.write_bytes(blob)
        paths.append(str(p))
    out = subprocess.run([java, "-cp", str(tmp_path), "PngDump", *paths],
                         check=True, capture_output=True, text=True).stdout
    lines = iter(out.splitlines())
    java_px = {}
    for line in lines:
        _, path, w, h = line.rsplit(" ", 3)
        w, h = int(w), int(h)
        vals = [next(lines).split() for _ in range(w * h)]
        java_px[path.rsplit("/", 1)[1][:-4]] = np.array(
            vals, dtype=np.int64).reshape(h, w, 4)[:, :, :3]
    assert set(java_px) == set(cases)
    for name, blob in cases.items():
        ours = C.decode_jpeg(blob).astype(np.int64)
        diff = np.abs(ours - java_px[name])
        if name.endswith("444"):
            assert diff.mean() <= 1.0, (name, diff.mean())
            assert diff.max() <= 4, (name, diff.max())
        else:  # 4:2:0 — legal upsampling-filter divergence included
            assert diff.mean() <= 5.0, (name, diff.mean())
            assert np.percentile(diff, 99) <= 24, (
                name, np.percentile(diff, 99))


def test_codec_wav_g711_pcm_match_javax_sound(tmp_path):
    """WAV decode vs javax.sound.sampled (round 16): the JDK's WAVE
    reader and its ULAW/ALAW→PCM converters are a SECOND independent
    G.711 implementation (unrelated to this repo AND to CPython's
    audioop, whose vendored tables already pin the codec exhaustively).
    PCM 16-bit decodes must agree exactly; for the companded laws both
    sides expand each code to a 16-bit value — exact agreement pins
    segment/mantissa/sign math through a third implementation. PCM
    8-bit is deliberately NOT cross-checked: Java normalizes unsigned
    8-bit as (u-128)*32767/127 while this repo (like audioop's
    lin2lin) uses (u-128)<<8 — two legal conventions that differ by
    construction, not a decode defect."""
    import shutil
    import subprocess

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    javac, java = shutil.which("javac"), shutil.which("java")
    if not javac or not java:
        pytest.skip("JDK not available for the independent decode")
    rng = np.random.default_rng(1609)
    t = np.arange(240) / 8000.0
    sig = np.stack([0.8 * np.sin(2 * np.pi * 440 * t),
                    0.5 * rng.standard_normal(240)], axis=1).clip(-1, 1)
    mono = sig[:, 0].reshape(-1, 1)
    cases = {
        "pcm16": C.encode_wav(8000, sig),
        "ulaw": C.encode_wav_g711(8000, mono, law="ulaw"),
        "alaw": C.encode_wav_g711(8000, mono, law="alaw"),
    }
    shutil.copy(f"{__file__.rsplit('/', 1)[0]}/fixtures/WavDump.java",
                tmp_path / "WavDump.java")
    subprocess.run([javac, "-d", str(tmp_path),
                    str(tmp_path / "WavDump.java")], check=True)
    paths = []
    for name, blob in cases.items():
        p = tmp_path / f"{name}.wav"
        p.write_bytes(blob)
        paths.append(str(p))
    out = subprocess.run([java, "-cp", str(tmp_path), "WavDump", *paths],
                         check=True, capture_output=True, text=True).stdout
    lines = iter(out.splitlines())
    java_samples = {}
    for line in lines:
        _, path, ch, rate, n16 = line.rsplit(" ", 4)
        vals = [int(next(lines)) for _ in range(int(n16))]
        name = path.rsplit("/", 1)[1][:-4]
        java_samples[name] = (int(ch), int(rate),
                              np.array(vals, dtype=np.int64)
                              .reshape(-1, int(ch)))
    assert set(java_samples) == set(cases)
    for name, blob in cases.items():
        ch, rate, ref = java_samples[name]
        got_rate, frames = C.decode_wav(blob)
        ours = np.round(frames * 32768.0).astype(np.int64)
        assert got_rate == rate == 8000, name
        assert ours.shape == ref.shape, (name, ours.shape, ref.shape)
        assert np.array_equal(ours, ref), (
            name, np.abs(ours - ref).max())


def test_codec_png_sub_byte_depths():
    """Sub-byte PNG depths (round 15 — 1/2/4-bit grayscale and palette,
    the favicon/icon class): hand-packed streams decode to the exact
    spec-scaled pixels (gray left-bit-replication = x255/(2^d-1);
    palette indices raw through PLTE with tRNS alpha), Adam7 interlaced
    sub-byte images pack each sub-image's scanlines independently, and
    every spec-ILLEGAL depth/color combination raises ValueError. An
    8-bit encode of the same pixel content decodes equal — the
    cross-depth consistency check."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF)

    def pack_row(r, depth):
        if depth == 8:
            return bytes(r)
        per = 8 // depth
        row = bytearray()
        for i in range(0, len(r), per):
            b = 0
            grp = r[i:i + per]
            for j in range(per):
                v = grp[j] if j < len(grp) else 0
                b |= (v & ((1 << depth) - 1)) << (8 - depth * (j + 1))
            row.append(b)
        return bytes(row)

    def make_png(w, h, depth, color, img, plte=None, trns=None,
                 interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        raw = bytearray()
        if interlace == 0:
            for r in img:
                raw.append(0)
                raw += pack_row(r, depth)
        else:  # Adam7: per-pass packing
            for x0, y0, xs, ys in ((0, 0, 8, 8), (4, 0, 8, 8),
                                   (0, 4, 4, 8), (2, 0, 4, 4),
                                   (0, 2, 2, 4), (1, 0, 2, 2),
                                   (0, 1, 1, 2)):
                pw = -(-(w - x0) // xs) if w > x0 else 0
                ph = -(-(h - y0) // ys) if h > y0 else 0
                if pw == 0 or ph == 0:
                    continue
                for i in range(ph):
                    r = [img[y0 + ys * i][x0 + xs * j] for j in range(pw)]
                    raw.append(0)
                    raw += pack_row(r, depth)
        out = C.PNG_MAGIC + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", bytes(plte))
        if trns is not None:
            out += chunk(b"tRNS", bytes(trns))
        return out + chunk(b"IDAT", zlib.compress(bytes(raw))) \
            + chunk(b"IEND", b"")

    # 1-bit gray checkerboard + 2-bit gradient, exact scaling
    img1 = [[(x + y) & 1 for x in range(10)] for y in range(3)]
    o = C.decode_png(make_png(10, 3, 1, 0, img1))
    assert np.array_equal(o[:, :, 0], np.array(img1, dtype=np.uint8) * 255)
    img2 = [[x & 3 for x in range(7)] for _ in range(2)]
    o = C.decode_png(make_png(7, 2, 2, 0, img2))
    assert np.array_equal(o[:, :, 0], np.array(img2, dtype=np.uint8) * 85)

    # 4-bit palette with tRNS alpha
    pal = []
    for i in range(16):
        pal += [i * 16, 255 - i * 16, i]
    img4 = [[x for x in range(13)], [12 - x for x in range(13)]]
    trns = bytes([255] * 3 + [0])
    o = C.decode_png(make_png(13, 2, 4, 3, img4, plte=pal, trns=trns))
    want_rgb = np.array(pal, dtype=np.uint8).reshape(16, 3)[np.array(img4)]
    assert o.shape == (2, 13, 4)
    assert np.array_equal(o[:, :, :3], want_rgb)
    assert o[0, 3, 3] == 0 and o[0, 4, 3] == 255  # entry 3 transparent

    # Adam7 interlaced 4-bit palette: same pixels as sequential
    rng = np.random.default_rng(1506)
    img = rng.integers(0, 16, size=(11, 9)).tolist()
    seq = C.decode_png(make_png(9, 11, 4, 3, img, plte=pal))
    lace = C.decode_png(make_png(9, 11, 4, 3, img, plte=pal, interlace=1))
    assert np.array_equal(seq, lace)
    # cross-depth consistency: 8-bit encode of the same RGB content
    assert np.array_equal(
        C.decode_png(C.encode_png(seq)), seq)

    # every spec-illegal combination fails loud as malformed: take a
    # valid 8-bit gray stream and rewrite the IHDR depth/color fields
    # (with a fixed-up CRC, so the combination guard — not the CRC
    # check — is what fires)
    base = make_png(4, 1, 8, 0, [[1, 0, 1, 0]])
    for depth, color in ((4, 2), (2, 4), (1, 6), (16, 3), (3, 0)):
        mut = bytearray(base)
        ihdr_body = 8 + 8  # magic + len/type
        mut[ihdr_body + 8] = depth
        mut[ihdr_body + 9] = color
        crc = zlib.crc32(bytes(mut[12:ihdr_body + 13])) & 0xFFFFFFFF
        mut[ihdr_body + 13:ihdr_body + 17] = struct.pack(">I", crc)
        with pytest.raises(ValueError, match="illegal PNG"):
            C.decode_png(bytes(mut))

    # byte-flip totality over a sub-byte stream
    blob = make_png(13, 2, 4, 3, img4, plte=pal, trns=trns)
    for flip_at in range(8, len(blob), 5):
        flipped = bytearray(blob)
        flipped[flip_at] ^= 0x5A
        try:
            out = C.decode_png(bytes(flipped))
            assert out.dtype == np.uint8
        except (ValueError, NotImplementedError):
            pass


def test_codec_g711_matches_audioop_exhaustively(spark):
    """G.711 conformance vs the independent reference (round 15, the
    audioop stance from the IMA pass): decode tables byte-identical
    over all 256 codes, encoders byte-identical over the FULL 16-bit
    PCM space for both laws, WAV file round trips equal to audioop's
    reference decode of the same codes, and the routing layer tags the
    family distinctly (wav-ulaw / wav-alaw) with real audio features."""
    import struct

    import pytest

    audioop = pytest.importorskip(
        "audioop",
        reason="stdlib audioop removed in 3.13; the vendored-fixture twins keep conformance coverage alive there",
    )
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    # decode tables: all 256 codes
    for law, table in (("ulaw", C._ULAW_DEC16), ("alaw", C._ALAW_DEC16)):
        ref = getattr(audioop, f"{law}2lin")(bytes(range(256)), 2)
        want = np.frombuffer(ref, dtype="<i2")
        assert np.array_equal(table, want), law

    # encoders: the full 16-bit space in one vectorized shot
    all_pcm = np.arange(-32768, 32768, dtype=np.int16)
    buf = all_pcm.astype("<i2").tobytes()
    for law in ("ulaw", "alaw"):
        got = C._g711_encode(all_pcm, law)
        want = np.frombuffer(getattr(audioop, f"lin2{law}")(buf, 2),
                             dtype=np.uint8)
        assert np.array_equal(got, want), law

    # WAV file round trip == audioop reference decode of the same codes
    rng = np.random.default_rng(1505)
    t = np.arange(600) / 8000.0
    sig = np.stack([0.7 * np.sin(2 * np.pi * 440 * t),
                    0.3 * rng.standard_normal(600)], axis=1).clip(-1, 1)
    pcm = np.clip(np.round(sig * 32768.0), -32768, 32767) \
        .astype("<i2").reshape(-1).tobytes()
    blobs = {}
    for law, tag in (("ulaw", 7), ("alaw", 6)):
        blob = C.encode_wav_g711(8000, sig, law=law)
        blobs[law] = blob
        assert C.wav_audio_format(blob) == tag
        rate, back = C.decode_wav(blob)
        dec = getattr(audioop, f"{law}2lin")(
            getattr(audioop, f"lin2{law}")(pcm, 2), 2)
        want = np.frombuffer(dec, dtype="<i2").astype(np.float64) \
            .reshape(-1, 2) / 32768.0
        assert rate == 8000 and np.array_equal(back, want), law

    # routing: distinct family tags through the Arrow feature kernel
    rows = [(1, "audio", bytearray(blobs["ulaw"]), None, None, None),
            (2, "audio", bytearray(blobs["alaw"]), None, None, None),
            (3, "audio", bytearray(C.encode_wav(8000, sig)), None, None,
             None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["codec"] == "wav-ulaw"
    assert feats[2]["codec"] == "wav-alaw"
    assert feats[3]["codec"] == "wav"
    # companding is ~transparent at this level: same duration, close RMS
    for mid in (1, 2):
        assert feats[mid]["feature"][1] == 600.0
        assert abs(feats[mid]["feature"][3] - feats[3]["feature"][3]) < 0.01


def test_codec_g711_matches_vendored_audioop_fixtures():
    """The audioop-independent twin of the exhaustive conformance test
    (round-16 ADVICE fix: stdlib audioop is removed in Python 3.13, so
    its reference vectors are VENDORED — generated once from audioop's
    C implementation on 3.11 and committed as tests/fixtures/
    audioop_g711.npz). Coverage is identical: decode tables over all
    256 codes, encoders over the FULL 16-bit PCM space, and a WAV round
    trip equal to the reference-table decode of the emitted codes."""
    import os

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    fx = np.load(os.path.join(os.path.dirname(__file__), "fixtures",
                              "audioop_g711.npz"))
    all_pcm = np.arange(-32768, 32768, dtype=np.int16)
    for law, table in (("ulaw", C._ULAW_DEC16), ("alaw", C._ALAW_DEC16)):
        assert np.array_equal(table, fx[f"{law}_dec"]), law
        assert np.array_equal(C._g711_encode(all_pcm, law),
                              fx[f"{law}_enc"]), law

    # WAV round trip == reference-table decode of the emitted codes
    t = np.arange(300) / 8000.0
    sig = (0.6 * np.sin(2 * np.pi * 523 * t)).reshape(-1, 1)
    for law in ("ulaw", "alaw"):
        blob = C.encode_wav_g711(8000, sig, law=law)
        rate, back = C.decode_wav(blob)
        data_at = blob.index(b"data") + 8
        codes = np.frombuffer(blob[data_at:data_at + 300], dtype=np.uint8)
        want = fx[f"{law}_dec"][codes].astype(np.float64) / 32768.0
        assert rate == 8000 and np.array_equal(back[:, 0], want), law


def test_codec_g711_fact_trim_and_width_guard():
    """G.711 container consistency (round-16 ADVICE fix, mirroring the
    ADPCM round-14 contract): a fact chunk declaring FEWER frames than
    the data chunk holds trims the decode to the declared length (the
    byte after it is container slack, not audio); a fact larger than
    the stream is ignored (never invent silence); and a fmt chunk
    declaring a non-8-bit width for one-byte G.711 codes fails loud."""
    import struct

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    sig = (np.sin(np.arange(100) / 5.0) * 0.5).reshape(-1, 1)
    blob = bytearray(C.encode_wav_g711(8000, sig, law="alaw"))
    fact_at = blob.index(b"fact") + 8

    # fact < decoded frames -> trim to fact
    short = bytearray(blob)
    struct.pack_into("<I", short, fact_at, 90)
    rate, frames = C.decode_wav(bytes(short))
    assert rate == 8000 and frames.shape == (90, 1)
    full = C.decode_wav(bytes(blob))[1]
    assert np.array_equal(frames, full[:90])

    # fact > decoded frames -> inconsistent container, keep the audio
    long = bytearray(blob)
    struct.pack_into("<I", long, fact_at, 10_000)
    assert C.decode_wav(bytes(long))[1].shape == (100, 1)

    # non-8-bit declared width for 1-byte codes -> loud failure
    bad = bytearray(blob)
    fmt_at = bad.index(b"fmt ") + 8
    struct.pack_into("<H", bad, fmt_at + 14, 16)  # wBitsPerSample
    with pytest.raises(ValueError, match="bits per sample"):
        C.decode_wav(bytes(bad))


def test_codec_jpeg_lossless_roundtrip_exact():
    """LOSSLESS (SOF3) JPEG (round 15): encode->decode is BIT-EXACT —
    the defining property — across precisions 8/12/16, all seven T.81
    predictors, grayscale and RGB, restart intervals, and the mod-2^16
    wrap (SSSS=16) extremes at 16-bit. Output honors the uint8 contract
    (exact >> (P-8))."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(1504)
    for prec in (8, 12, 16):
        maxv = (1 << prec) - 1
        for sel in range(1, 8):
            g = (rng.random((13, 17)) * maxv).astype(np.int64)
            o = codecs.decode_jpeg(
                codecs.encode_jpeg_lossless(g, precision=prec,
                                            predictor=sel))
            want = (g >> (prec - 8)).astype(np.uint8)
            assert np.array_equal(o[:, :, 0], want), (prec, sel)
            assert np.array_equal(o[:, :, 0], o[:, :, 1])  # gray stack
            rgb = (rng.random((9, 11, 3)) * maxv).astype(np.int64)
            o2 = codecs.decode_jpeg(
                codecs.encode_jpeg_lossless(rgb, precision=prec,
                                            predictor=sel))
            assert np.array_equal(o2, (rgb >> (prec - 8)).astype(np.uint8))

    g = (rng.random((16, 16)) * 4095).astype(np.int64)
    o = codecs.decode_jpeg(codecs.encode_jpeg_lossless(
        g, precision=12, predictor=4, restart_interval=5))
    assert np.array_equal(o[:, :, 0], (g >> 4).astype(np.uint8))

    # restart intervals under the round-16 H.1.1 semantics: every
    # predictor, DRI=3 on an 11x7 image so restarts land mid-line and
    # the per-interval first-line Ra rule fires repeatedly; bit-exact
    # round trips remain the defining property
    g8 = (rng.random((11, 7)) * 255).astype(np.int64)
    for sel in range(1, 8):
        o = codecs.decode_jpeg(codecs.encode_jpeg_lossless(
            g8, precision=8, predictor=sel, restart_interval=3))
        assert np.array_equal(o[:, :, 0], g8.astype(np.uint8)), sel

    # mod-2^16 wrap / SSSS=16 path at full 16-bit swing
    g16 = np.array([[0, 65535, 0, 65535], [65535, 0, 65535, 0]],
                   dtype=np.int64)
    o = codecs.decode_jpeg(codecs.encode_jpeg_lossless(g16, precision=16))
    assert np.array_equal(o[:, :, 0], (g16 >> 8).astype(np.uint8))

    # loud boundaries
    with pytest.raises(ValueError, match="out of range"):
        codecs.encode_jpeg_lossless(np.array([[300]]), precision=8)
    with pytest.raises(ValueError, match="predictor"):
        codecs.encode_jpeg_lossless(np.array([[1]]), predictor=0)
    # truncation + byte-flip totality
    blob = codecs.encode_jpeg_lossless(g, precision=12, predictor=7)
    for cut in range(2, len(blob), 9):
        try:
            codecs.decode_jpeg(blob[:cut])
        except (ValueError, NotImplementedError):
            pass
    for flip_at in range(2, len(blob), 13):
        flipped = bytearray(blob)
        flipped[flip_at] ^= 0x5A
        try:
            out = codecs.decode_jpeg(bytes(flipped))
            assert out.dtype == np.uint8
        except (ValueError, NotImplementedError):
            pass


def test_codec_jpeg_lossless_golden_stream_hand_built():
    """Lossless decoder vs the SPEC, the baseline golden's sibling: a
    2x3 grayscale SOF3 stream hand-assembled bit by bit — predictor 1,
    hand-computed difference chain (first sample vs the 128 default,
    first line vs Ra, second line's first sample vs Rb), a hand-rolled
    canonical huffman table (len-2 codes for categories 1/2, len-3 for
    3/5), magnitude bits written per extend()'s conventions. Any
    deviation in SOF3 parsing, the default/first-line/first-column
    prediction rules, category extend, or the mod-2^16 reconstruction
    breaks the expected pixel matrix."""
    import struct

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    # samples and their hand-computed (category, magnitude-bits) chain:
    # (0,0) pred 128, diff -28 -> SSSS 5, bits 00011
    # (0,1) pred Ra=100, diff +1 -> SSSS 1, bits 1
    # (0,2) pred Ra=101, diff -2 -> SSSS 2, bits 01
    # (1,0) pred Rb=100, diff +5 -> SSSS 3, bits 101
    # (1,1) pred Ra=105, diff -1 -> SSSS 1, bits 0
    # (1,2) pred Ra=104, diff +2 -> SSSS 2, bits 10
    want = np.array([[100, 101, 99], [105, 104, 106]], dtype=np.uint8)
    # canonical table: bits=[0,2,2,...], huffval=[1,2,3,5]
    # -> 1:'00' 2:'01' 3:'100' 5:'101'
    entropy_bits = "".join([
        "101", "00011",   # cat 5, -28
        "00", "1",        # cat 1, +1
        "01", "01",       # cat 2, -2
        "100", "101",     # cat 3, +5
        "00", "0",        # cat 1, -1
        "01", "10",       # cat 2, +2
    ])
    entropy_bits += "1" * (-len(entropy_bits) % 8)  # pad with 1s
    entropy = bytes(int(entropy_bits[i:i + 8], 2)
                    for i in range(0, len(entropy_bits), 8))
    stream = bytearray()
    stream += b"\xff\xd8"
    stream += b"\xff\xc3" + struct.pack(">HBHHB", 11, 8, 2, 3, 1)
    stream += bytes([1, 0x11, 0])
    stream += b"\xff\xc4" + struct.pack(">HB", 2 + 17 + 4, 0x00)
    stream += bytes([0, 2, 2] + [0] * 13) + bytes([1, 2, 3, 5])
    stream += b"\xff\xda" + struct.pack(">HB", 8, 1)
    stream += bytes([1, 0x00, 1, 0, 0])  # Td=0; Ss=pred 1, Se=0, AhAl=0
    stream += entropy
    stream += b"\xff\xd9"
    out = codecs.decode_jpeg(bytes(stream))
    assert out.shape == (2, 3, 3)
    assert np.array_equal(out[:, :, 0], want), out[:, :, 0]
    assert np.array_equal(out[:, :, 0], out[:, :, 2])


def test_codec_jpeg_lossless_restart_golden_spec_conformant():
    """T.81 H.1.1 restart conformance (round-16 ADVICE fix): after an
    RSTn marker, prediction restarts AS AT THE START OF THE SCAN — the
    default 2^(P-1) for the first sample, then the 1-D Ra predictor for
    the remainder of that line (NOT the scan's selected predictor with
    neighbors crossing the restart boundary). Pinned by a 3x3 grayscale
    SOF3 stream hand-assembled bit by bit with predictor 2 (Rb) and
    DRI=4, so the restart lands MID-LINE at (1,1) and the Ra-rule
    sample (1,2) decodes differently under the spec rule (Ra=130) than
    under the pre-fix rule (Rb=99) — the golden discriminates. A second
    restart lands exactly at the last sample (2,2). The encoder mirrors
    the rule: its DRI output must reproduce this exact pixel matrix.

    SELF-CONSISTENCY LIMITATION (ADVICE r16, documented by design): no
    independent SOF3-capable decoder exists in this sandbox —
    javax.imageio decodes 8-bit baseline/progressive JPEG only, and
    there is no libjpeg -lossless / dcraw build — so this golden plus
    the shared-_ll_predict round trips are the strongest available
    evidence; a misreading of T.81 H.1.1 shared by the golden's
    hand-assembly and the decoder would self-validate. If a reference
    decoder ever lands in CI, add one cross-decoder mid-line restart
    case (same note at the decode site, operators/codecs.py)."""
    import struct

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    want = np.array([[100, 101, 99],
                     [105, 130, 131],
                     [106, 129, 133]], dtype=np.uint8)
    # raster order, DRI=4 (MCU = one sample): intervals {0-3}, {4-7}, {8}
    # idx0 (0,0)=100 pred 128 (scan start)      diff -28 -> cat5 '00011'
    # idx1 (0,1)=101 pred Ra=100 (first line)   diff  +1 -> cat1 '1'
    # idx2 (0,2)= 99 pred Ra=101                diff  -2 -> cat2 '01'
    # idx3 (1,0)=105 pred Rb=100 (line start)   diff  +5 -> cat3 '101'
    # -- RST0: prediction restarts; restart line = 1 --
    # idx4 (1,1)=130 pred 128 (interval start)  diff  +2 -> cat2 '10'
    # idx5 (1,2)=131 pred Ra=130 (H.1.1: first line of the interval
    #                uses Ra; the selected predictor Rb would give 99)
    #                                           diff  +1 -> cat1 '1'
    # idx6 (2,0)=106 pred Rb=105 (line start)   diff  +1 -> cat1 '1'
    # idx7 (2,1)=129 pred Rb=130 (selected)     diff  -1 -> cat1 '0'
    # -- RST1: restart line = 2 --
    # idx8 (2,2)=133 pred 128 (interval start)  diff  +5 -> cat3 '101'
    # canonical table (same as the non-DRI golden):
    #   1:'00' 2:'01' 3:'100' 5:'101'
    code = {1: "00", 2: "01", 3: "100", 5: "101"}

    def seg(bits: str) -> bytes:
        bits += "1" * (-len(bits) % 8)  # pad with 1s to byte boundary
        raw = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
        return raw.replace(b"\xff", b"\xff\x00")  # byte stuffing

    s1 = seg(code[5] + "00011" + code[1] + "1" + code[2] + "01"
             + code[3] + "101")
    s2 = seg(code[2] + "10" + code[1] + "1" + code[1] + "1"
             + code[1] + "0")
    s3 = seg(code[3] + "101")
    stream = bytearray()
    stream += b"\xff\xd8"
    stream += b"\xff\xc3" + struct.pack(">HBHHB", 11, 8, 3, 3, 1)
    stream += bytes([1, 0x11, 0])
    stream += b"\xff\xc4" + struct.pack(">HB", 2 + 17 + 4, 0x00)
    stream += bytes([0, 2, 2] + [0] * 13) + bytes([1, 2, 3, 5])
    stream += b"\xff\xdd" + struct.pack(">HH", 4, 4)  # DRI = 4
    stream += b"\xff\xda" + struct.pack(">HB", 8, 1)
    stream += bytes([1, 0x00, 2, 0, 0])  # Td=0; Ss=pred 2, Se=0, AhAl=0
    stream += s1 + b"\xff\xd0" + s2 + b"\xff\xd1" + s3
    stream += b"\xff\xd9"
    out = codecs.decode_jpeg(bytes(stream))
    assert out.shape == (3, 3, 3)
    assert np.array_equal(out[:, :, 0], want), out[:, :, 0]

    # encoder mirror: same image, predictor 2, DRI=4 must round-trip
    enc = codecs.encode_jpeg_lossless(
        want.astype(np.int64), precision=8, predictor=2,
        restart_interval=4)
    assert np.array_equal(codecs.decode_jpeg(enc)[:, :, 0], want)


def test_jpeg12_flatblock_exact_all_byte_values():
    """Round-17 (VERDICT r16 ask #3): the flat-block DC-only
    construction behind multimodal_jpeg12_payload is exact for EVERY
    byte value at every block position class — exhaustively: four
    8x512 planes cover all 256 byte values against shifted block
    indices, and both 12-bit entropy shapes (SOF1 extended-sequential,
    SOF2 progressive) must decode every block flat and equal to the
    integer-math prediction 2*((c+b) % 128)."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    for base in range(0, 256, 64):
        pad = (np.arange(64, dtype=np.int64) + base) % 256
        k = (pad + np.arange(64)) % 128 - 64
        img = np.repeat(2048 + 32 * k, 8).reshape(1, 512).repeat(8, axis=0)
        expect = 2 * ((pad + np.arange(64)) % 128)
        for tag, enc in (
            ("sof1", codecs.encode_jpeg(img, quality=50, precision=12)),
            ("sof2", codecs.encode_jpeg_progressive(
                img, quality=50, precision=12)),
        ):
            out = codecs.decode_jpeg(enc)[:, :, 0].astype(np.int64)
            blk = out.reshape(8, 64, 8).transpose(1, 0, 2).reshape(64, 64)
            assert (blk == blk[:, :1]).all(), (base, tag)
            assert (blk[:, 0] == expect).all(), (base, tag)


def test_payload_queries_reject_non_ascii_fixtures(spark, tmp_path):
    """Round-17 ADVICE guard: the G.711 / lossless-payload oracles
    replay document bytes with CHARACTER-semantics SQL (ord over
    substr) while the executors use UTF-8 BYTES — parity holds only
    for ASCII. A non-ASCII fixture must fail LOUDLY in the mapInPandas
    closure instead of silently hash-mismatching as a phantom codec
    regression."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.queries import QUERIES

    spark.createDataFrame(
        [(1, "plain ascii", "en", "web", 11),
         (2, "café non-ascii", "fr", "web", 14)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    for name in ("multimodal_g711_codec", "multimodal_lossless_payloads"):
        with pytest.raises(Exception, match="non-ASCII"):
            QUERIES[name](spark, str(tmp_path)).collect()


def test_codec_jpeg_boundaries_and_dispatch(spark):
    """The honest format boundary + pipeline integration: progressive /
    arithmetic / 12-bit streams raise NotImplementedError (never wrong
    pixels), truncated entropy data fails loudly, sniff routes JPEG
    magic, and a JPEG blob flows through the REAL multimodal paths
    (extract_features tags codec='jpeg'; image_phash sees re-encoded
    BMP vs JPEG of the same picture as near-identical — the cross-codec
    dedup claim now covers the format it mostly fires on)."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        extract_features,
        image_phash,
    )

    y, x = np.mgrid[0:32, 0:32]
    px = np.stack([x * 8, y * 8, (x + y) * 4], axis=-1).astype(np.uint8)
    blob = codecs.encode_jpeg(px, quality=95, subsample="4:4:4")
    assert codecs.sniff(blob) == "jpeg"

    # unsupported variants fail loud (progressive is SUPPORTED since
    # round 10 and lossless since round 15 — the boundary moved to the
    # arithmetic/differential modes). A baseline stream REBRANDED as
    # SOF3 still dies loud: its SOS carries Ss=0, which is not a legal
    # lossless predictor.
    rebranded = bytearray(blob)
    sof = rebranded.index(b"\xff\xc0")
    rebranded[sof + 1] = 0xC3
    with pytest.raises(ValueError, match="predictor"):
        codecs.decode_jpeg(bytes(rebranded))
    arith = bytearray(blob)
    arith[sof + 1] = 0xC9  # arithmetic sequential: honest boundary
    with pytest.raises(NotImplementedError, match="arithmetic"):
        codecs.decode_jpeg(bytes(arith))
    with pytest.raises(ValueError, match="truncated|huffman"):
        codecs.decode_jpeg(blob[: len(blob) // 2])

    rows = [
        (1, "image", bytearray(codecs.encode_bmp(px)), None, None, None),
        (2, "image", bytearray(blob), None, None, None),
    ]
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["codec"] == "bmp" and feats[2]["codec"] == "jpeg"
    # real pixel features, not the md5 stub: width/height lead the vector
    assert feats[2]["feature"][0] == 32.0 and feats[2]["feature"][1] == 32.0

    hashes = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    d = bin(int(hashes[1], 16) ^ int(hashes[2], 16)).count("1")
    assert d <= 6, f"cross-codec BMP vs JPEG hamming {d}"


def test_codec_jpeg_total_over_malformed(spark):
    """decode_jpeg is a TOTAL function over corrupt input: every
    malformed/truncated stream raises ValueError (or
    NotImplementedError at a format boundary), never a raw
    IndexError/struct.error that would escape the call sites'
    except clauses and fail a whole Spark task on one bad corpus blob
    (round-9 ADVICE). Covers the advisor's two repros — a blob ending
    in 0xFF mid-header and a lying SOF segment length — plus a
    byte-truncation sweep of a real stream, and the end-to-end
    contract: one corrupt blob in extract_features/image_phash input
    falls back to the stub / is skipped, the good blob still decodes."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        image_phash,
    )

    # advisor repro 1: stream ends in 0xFF mid-header (was IndexError)
    with pytest.raises(ValueError):
        codecs.decode_jpeg(b"\xff\xd8\xff")
    # advisor repro 2: SOF declares a seglen whose body is too short
    # for its own header fields (was struct.error)
    lying_sof = b"\xff\xd8" + b"\xff\xc0" + b"\x00\x04" + b"\x08" + b"\xff\xd9"
    with pytest.raises((ValueError, NotImplementedError)):
        codecs.decode_jpeg(lying_sof)

    # byte-truncation sweep of a real stream: every prefix fails with
    # the advertised types only
    y, x = np.mgrid[0:16, 0:16]
    px = np.stack([x * 16, y * 16, (x + y) * 8], axis=-1).astype(np.uint8)
    blob = codecs.encode_jpeg(px, quality=90, subsample="4:2:0")
    for cut in range(2, len(blob), 7):
        try:
            codecs.decode_jpeg(blob[:cut])
        except (ValueError, NotImplementedError):
            pass  # the advertised total-function contract

    # the 12-bit path (round 15) honors the same contract: truncation
    # sweep + single-byte-flip sweep over a 12-bit SOF1/Pq=1 stream
    blob12 = codecs.encode_jpeg(
        (px.astype(np.uint16) * 16), quality=90, subsample="4:4:4",
        precision=12)
    for cut in range(2, len(blob12), 7):
        try:
            codecs.decode_jpeg(blob12[:cut])
        except (ValueError, NotImplementedError):
            pass
    for flip_at in range(2, len(blob12), 11):
        flipped = bytearray(blob12)
        flipped[flip_at] ^= 0x5A
        try:
            out12 = codecs.decode_jpeg(bytes(flipped))
            assert out12.dtype == np.uint8  # payload damage may decode
        except (ValueError, NotImplementedError):
            pass

    # end-to-end: a corrupt blob among good ones must not fail the job
    rows = [
        (1, "image", bytearray(blob), None, None, None),
        (2, "image", bytearray(b"\xff\xd8\xff"), None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["codec"] == "jpeg"
    assert feats[2]["codec"] == "stub-md5"  # fell back, job survived
    hashes = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    assert 1 in hashes and 2 not in hashes  # undecodable: skipped


def test_codec_jpeg_progressive_roundtrip():
    """Progressive (SOF2) codec: a progressive and a baseline encoding
    share the same quantized coefficients, so they must decode to
    IDENTICAL pixels — across subsampling modes, grayscale, dense
    noise (ZRL + refinement corrections), flat images (maximal EOB
    runs), sparse spikes (long zero runs), and high-contrast content
    (multi-bit successive-approximation refinement)."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(123)
    y, x = np.mgrid[0:40, 0:40]
    cb = (((x // 2 + y // 2) % 2) * 255).astype(np.uint8)
    cases = [
        (rng.integers(0, 256, size=(64, 64, 3)).astype(np.uint8), 95, "4:2:0"),
        (np.full((48, 80, 3), 130, np.uint8), 85, "4:4:4"),
        (np.stack([cb, 255 - cb, cb], axis=-1), 75, "4:2:2"),
        (np.outer(np.arange(45) % 256, np.ones(67)).astype(np.uint8), 60, None),
        (rng.integers(0, 256, size=(31, 29, 3)).astype(np.uint8), 20, "4:2:0"),
    ]
    sp = np.full((56, 56, 3), 128, np.uint8)
    sp[::13, ::11] = 255
    cases.append((sp, 92, "4:4:4"))
    for px, q, sub in cases:
        kw = {} if px.ndim == 2 else {"subsample": sub}
        base = codecs.decode_jpeg(codecs.encode_jpeg(px, quality=q, **kw))
        prog = codecs.decode_jpeg(
            codecs.encode_jpeg_progressive(px, quality=q, **kw)
        )
        assert np.array_equal(base, prog), (px.shape, q, sub)

    # restart markers inside progressive scans: EOB runs and buffered
    # correction bits flush at every boundary, DC predictors reset —
    # still bit-identical to baseline at several intervals
    rng2 = np.random.default_rng(77)
    px = rng2.integers(0, 256, size=(40, 56, 3)).astype(np.uint8)
    base = codecs.decode_jpeg(codecs.encode_jpeg(px, quality=80,
                                                 subsample="4:2:0"))
    for ri in (1, 3, 7):
        prog = codecs.decode_jpeg(codecs.encode_jpeg_progressive(
            px, quality=80, subsample="4:2:0", restart_interval=ri))
        assert np.array_equal(base, prog), ri


def test_codec_jpeg_progressive_golden_stream_hand_built():
    """A progressive stream assembled BY HAND from the T.81 Annex G
    spec (not by our encoder — this catches a mirrored encoder/decoder
    misunderstanding that round-trip tests cannot): one 8x8 grayscale
    block, four scans exercising every construct — DC first at Al=1,
    AC first with spectral selection + an EOBn code, DC single-bit
    refinement, and an AC refinement scan containing a newly-
    significant negative coefficient, a correction bit for an
    already-significant one, and a closing EOB."""
    import struct

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    # final quantized coefficients (zigzag index): DC=4, k1=2, k5=-1
    q = 16
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([q] * 64)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
    out += bytes([1, 0x11, 0])

    def dht(tc, th, huffval):
        bits = [0] * 16
        bits[len(huffval) - 1] = len(huffval)  # all codes same length
        # canonical: n symbols at length n (1 symbol -> len 1, 2 -> len 2...)
        # simpler: give each symbol its own length-k code with k = #symbols
        return (b"\xff\xc4" + struct.pack(">HB", 19 + len(huffval),
                                          (tc << 4) | th)
                + bytes(bits) + bytes(huffval))

    def sos(ss, se, ah, al):
        return (b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00])
                + bytes([ss, se, (ah << 4) | al]))

    def pack(bitstr):
        bitstr += "1" * (-len(bitstr) % 8)  # 1-pad per spec
        return bytes(int(bitstr[i:i + 8], 2) for i in range(0, len(bitstr), 8))

    # scan 1: DC first, Al=1. dc>>1 = 2 -> diff 2, category 2, bits '10'.
    # DC table: single symbol {2} -> length-1 code '0'.
    out += dht(0, 0, [2]) + sos(0, 0, 0, 1) + pack("0" + "10")
    # scan 2: AC first 1..63, Al=1. k=1: (2>>1)=1 -> sym 0x01 + mag '1';
    # rest zero -> EOB (sym 0x00). Table {0x01:'00', 0x00:'01'} (len-2).
    out += dht(1, 0, [0x01, 0x00]) + sos(1, 63, 0, 1) + pack("00" + "1" + "01")
    # scan 3: DC refinement Ah=1->Al=0: one raw bit (4 & 1) = 0.
    out += sos(0, 0, 1, 0) + pack("0")
    # scan 4: AC refinement 1..63, Ah=1->Al=0. k=1 already significant
    # (correction bit 0), k=5 newly significant -1 after a run of 3
    # zeros -> sym 0x31, sign '0', then the buffered correction bit;
    # trailing zeros -> EOB. Table {0x31:'00', 0x00:'01'}.
    out += dht(1, 0, [0x31, 0x00]) + sos(1, 63, 1, 0)
    out += pack("00" + "0" + "0" + "01")
    out += b"\xff\xd9"

    got = codecs.decode_jpeg(bytes(out))
    # expected: IDCT of the dequantized coefficients
    from priority_data_pipeline_azure_sql_db_spark.operators.codecs import (
        _DCT,
        _ZIGZAG,
    )

    zz = np.zeros(64)
    zz[0], zz[1], zz[5] = 4, 2, -1
    nat = np.zeros(64)
    nat[_ZIGZAG] = zz * q
    blk = _DCT.T @ nat.reshape(8, 8) @ _DCT + 128.0
    want = np.clip(blk.round(), 0, 255).astype(np.uint8)
    assert np.array_equal(got[:, :, 0], want)
    assert np.array_equal(got[:, :, 0], got[:, :, 1])


def test_codec_jpeg_progressive_dispatch_and_totality(spark):
    """A progressive blob flows through the REAL multimodal paths
    (sniff -> decode_media -> features/phash) exactly like baseline,
    its phash matches the baseline encoding of the same picture, and
    truncating a progressive stream anywhere still fails with the
    advertised ValueError/NotImplementedError (total-function
    contract)."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        image_phash,
    )

    y, x = np.mgrid[0:32, 0:32]
    px = np.stack([x * 8, y * 8, (x + y) * 4], axis=-1).astype(np.uint8)
    prog = codecs.encode_jpeg_progressive(px, quality=95, subsample="4:4:4")
    base = codecs.encode_jpeg(px, quality=95, subsample="4:4:4")
    assert codecs.sniff(prog) == "jpeg"

    for cut in range(2, len(prog), 11):
        try:
            codecs.decode_jpeg(prog[:cut])
        except (ValueError, NotImplementedError):
            pass

    rows = [
        (1, "image", bytearray(base), None, None, None),
        (2, "image", bytearray(prog), None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[2]["codec"] == "jpeg"  # real decode, not the stub
    hashes = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    d = bin(int(hashes[1], 16) ^ int(hashes[2], 16)).count("1")
    assert d <= 2, f"progressive vs baseline hamming {d}"


def test_codec_png_adam7_interlace():
    """Adam7-interlaced PNG (round 10): interlaced and sequential
    encodings of the same pixels decode identically (PNG is lossless),
    across sizes that exercise empty passes (tiny images), partial
    passes (non-multiple-of-8 dims), and RGBA. A hand-built 2x2
    interlaced stream pins the PASS ORDER and geometry to the spec
    independent of our encoder: pass 1 carries (0,0), pass 6 carries
    (0,1), pass 7 carries row 1 — a mirrored encoder/decoder pass
    permutation would decode it scrambled."""
    import struct
    import zlib

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(11)
    for shape in [(16, 16, 3), (13, 21, 3), (7, 5, 4), (1, 1, 3),
                  (2, 9, 3), (8, 8, 4), (33, 3, 3)]:
        px = rng.integers(0, 256, size=shape).astype(np.uint8)
        seq = codecs.decode_png(codecs.encode_png(px))
        inter = codecs.decode_png(codecs.encode_png(px, interlace=True))
        assert np.array_equal(seq, inter), shape
        assert np.array_equal(seq, px), shape

    # spec-golden 2x2: A=(0,0) in pass 1, B=(0,1) in pass 6,
    # C=(1,0) and D=(1,1) in pass 7; passes 2-5 are EMPTY (no bytes)
    A, B, C, D = (255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 7, 7)
    raw = bytearray()
    raw += b"\x00" + bytes(A)            # pass 1: one 1x1 scanline
    raw += b"\x00" + bytes(B)            # pass 6: one 1x1 scanline
    raw += b"\x00" + bytes(C) + bytes(D)  # pass 7: one 2x1 scanline

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    blob = (codecs.PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    got = codecs.decode_png(blob)
    want = np.array([[A, B], [C, D]], dtype=np.uint8)
    assert np.array_equal(got, want)


def test_codec_png_palette_gray_types():
    """Round-10 PNG color-type closure: 8-bit grayscale (0), palette
    (3, with and without tRNS alpha), and gray+alpha (4) decode via
    hand-assembled spec streams (filters included, so bpp=1/2
    unfiltering is exercised); 16-bit stays a loud boundary."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    def png(w, h, color, raw, extra=b""):
        return (codecs.PNG_MAGIC
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color,
                                             0, 0, 0))
                + extra
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    # grayscale 2x3 with a Sub-filtered second row (bpp=1 left deps)
    raw = bytearray()
    raw += b"\x00" + bytes([10, 20, 30])
    raw += b"\x01" + bytes([5, 250, 5])  # Sub: 5, 255, 4 after unfilter
    got = codecs.decode_png(png(3, 2, 0, raw))
    want_g = np.array([[10, 20, 30], [5, 255, 4]], dtype=np.uint8)
    assert np.array_equal(got, np.repeat(want_g[:, :, None], 3, axis=2))

    # palette 2x2: indices through PLTE; then the same with tRNS alpha
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])
    got = codecs.decode_png(png(2, 2, 3, raw, chunk(b"PLTE", pal)))
    want = np.array([[[255, 0, 0], [0, 255, 0]],
                     [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8)
    assert np.array_equal(got, want)
    got_a = codecs.decode_png(
        png(2, 2, 3, raw, chunk(b"PLTE", pal) + chunk(b"tRNS", bytes([128])))
    )
    assert got_a.shape == (2, 2, 4)
    assert np.array_equal(got_a[:, :, :3], want)
    # entry 0 gets alpha 128, unlisted entries default 255
    assert got_a[0, 0, 3] == 128 and got_a[0, 1, 3] == 255

    # gray+alpha 1x2 -> RGBA
    raw = b"\x00" + bytes([100, 200, 50, 25])
    got = codecs.decode_png(png(2, 1, 4, raw))
    assert np.array_equal(
        got, np.array([[[100, 100, 100, 200], [50, 50, 50, 25]]],
                      dtype=np.uint8))

    # out-of-range palette index and missing PLTE fail loud
    bad = b"\x00" + bytes([7, 0]) + b"\x00" + bytes([0, 0])
    with pytest.raises(ValueError, match="out of range"):
        codecs.decode_png(png(2, 2, 3, bad, chunk(b"PLTE", pal)))
    pal_raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])
    with pytest.raises(ValueError, match="PLTE"):
        codecs.decode_png(png(2, 2, 3, pal_raw))

    # 16-bit decodes and downscales to the high byte (round 10)
    raw16 = b"\x00" + struct.pack(">HHHHHH", 0x1234, 0xFF00, 0x0080,
                                   0xABCD, 0x0001, 0x8000)
    blob16 = (codecs.PNG_MAGIC
              + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0))
              + chunk(b"IDAT", zlib.compress(raw16))
              + chunk(b"IEND", b""))
    got16 = codecs.decode_png(blob16)
    assert got16.tolist() == [[[0x12, 0xFF, 0x00], [0xAB, 0x00, 0x80]]]
    gray16 = (codecs.PNG_MAGIC
              + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0))
              + chunk(b"IDAT",
                      zlib.compress(b"\x00" + struct.pack(">HH", 0x4000,
                                                           0x80FF)))
              + chunk(b"IEND", b""))
    assert codecs.decode_png(gray16).tolist() == [[[0x40] * 3, [0x80] * 3]]

    # sub-8-bit depths DECODE since round 15 (test_codec_png_sub_byte_
    # depths covers them); 16-bit palette stays the spec-ILLEGAL
    # combination and fails loud as malformed
    blob4 = (codecs.PNG_MAGIC
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 4, 0, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
             + chunk(b"IEND", b""))
    assert codecs.decode_png(blob4).tolist() == [[[0, 0, 0]]]
    pal16 = (codecs.PNG_MAGIC
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0))
             + chunk(b"PLTE", pal)
             + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
             + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="illegal PNG"):
        codecs.decode_png(pal16)


def test_portable_hash_family_twins(spark):
    """The md5-portable MinHash/SimHash twins (round 10) behave like
    their xxhash64 production siblings on a crafted corpus: the
    LSH candidates include every truly-similar pair (here: documents
    sharing most shingles agree on at least one full band with high
    probability — the fixture makes them IDENTICAL in one band region
    by construction via near-identical texts), and near-identical
    documents get near-identical simhash signatures while unrelated
    ones differ widely."""
    from pyspark.sql import functions as F  # noqa: F401

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        minhash_dedup_candidates_md5,
        simhash_md5,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the cat watches from the warm windowsill every day")
    rows = [
        (1, base),
        (2, base),                           # exact dup
        (3, base + " extra trailing words"),  # near dup
        (4, "completely different content about spark shuffles and "
            "partition pruning in distributed query engines at scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    cands = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_candidates_md5(df, "text", "doc_id").collect()
    }
    assert (1, 2) in cands           # identical docs always collide
    assert (1, 4) not in cands and (2, 4) not in cands

    sigs = {r.doc: r.simhash_hex for r in simhash_md5(df, "text", "doc_id").collect()}
    assert all(len(s) == 16 for s in sigs.values())
    ham = lambda a, b: bin(int(a, 16) ^ int(b, 16)).count("1")  # noqa: E731
    assert sigs[1] == sigs[2]
    assert ham(sigs[1], sigs[3]) <= 12   # near dup: small distance
    assert ham(sigs[1], sigs[4]) >= 20   # unrelated: wide distance


def test_codec_avi_mjpeg_roundtrip():
    """Motion-JPEG AVI (round 10): mux → demux → per-frame decode is
    exact against the component codecs — avi_frame_payloads returns the
    embedded JPEG chunks verbatim and in stream order, decode_avi_frames
    equals decode_jpeg(encode_jpeg(frame)) pixel-for-pixel at both
    chroma subsampling factors, and the container contract fails loud
    (mixed frame sizes, non-positive fps, empty frame list)."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, (16, 24, 3), dtype=np.uint8) for _ in range(5)]
    for sub in ("4:4:4", "4:2:0"):
        blob = codecs.encode_avi_mjpeg(frames, fps=12.5, quality=85, subsample=sub)
        assert codecs.sniff(blob) == "avi"
        fps, payloads = codecs.avi_frame_payloads(blob)
        assert fps == 12.5 and len(payloads) == 5
        expected = [codecs.encode_jpeg(f, quality=85, subsample=sub) for f in frames]
        assert payloads == expected, "demux must return the muxed chunks verbatim"
        fps2, decoded = codecs.decode_avi_frames(blob)
        assert fps2 == 12.5
        for p, arr in zip(expected, decoded):
            assert (arr == codecs.decode_jpeg(p)).all()

    # single-frame video round-trips too (idx1 of one entry)
    one = codecs.encode_avi_mjpeg(frames[:1], fps=1.0)
    assert len(codecs.decode_avi_frames(one)[1]) == 1

    feats = codecs.video_features(12.5, codecs.decode_avi_frames(blob)[1])
    assert feats[0] == 5.0 and feats[1] == 12.5  # n_frames, fps lead
    assert feats[3] == 24.0 and feats[4] == 16.0  # w, h
    assert feats[7] > 0.0  # random frames have motion energy

    with pytest.raises(ValueError, match="stream declares"):
        codecs.encode_avi_mjpeg([frames[0], frames[0][:8]])
    with pytest.raises(ValueError, match="fps"):
        codecs.encode_avi_mjpeg(frames, fps=0)
    with pytest.raises(ValueError, match="at least one frame"):
        codecs.encode_avi_mjpeg([])


def test_codec_avi_total_over_malformed():
    """The demuxer is total: every byte-level truncation and container
    damage raises the advertised ValueError (never IndexError /
    struct.error), and a non-MJPEG video stream raises
    NotImplementedError — the honest inter-frame-codec boundary."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    frames = [np.full((8, 8, 3), 40 * i + 20, dtype=np.uint8) for i in range(3)]
    blob = codecs.encode_avi_mjpeg(frames, fps=10.0)

    for cut in range(0, len(blob), 7):
        with pytest.raises(ValueError):
            codecs.avi_frame_payloads(blob[:cut])
    with pytest.raises(ValueError):  # flipped byte in a chunk size field
        bad = bytearray(blob)
        bad[4] = 0xFF  # RIFF size lies upward → truncated
        codecs.avi_frame_payloads(bytes(bad))

    # a WAV is RIFF too but must not route here
    wav = codecs.encode_wav(8000, np.zeros(16))
    assert codecs.sniff(wav) == "wav"
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        codecs.avi_frame_payloads(wav)

    # rebrand the video stream as H.264 (both strh handler and strf
    # biCompression) → honest NotImplementedError, not wrong pixels
    h264 = blob.replace(b"MJPG", b"H264")
    with pytest.raises(NotImplementedError, match="Motion-JPEG"):
        codecs.avi_frame_payloads(h264)

    # strip the hdrl list → no stream header → loud
    import struct as st

    list_at = blob.index(b"hdrl") - 8  # 'hdrl' sits 8 bytes into its LIST
    (hdrl_sz,) = st.unpack_from("<I", blob, list_at + 4)
    stripped = blob[:list_at] + blob[list_at + 8 + hdrl_sz + (hdrl_sz & 1):]
    fixed = bytearray(stripped)
    st.pack_into("<I", fixed, 4, len(stripped) - 8)
    with pytest.raises(ValueError, match="no video stream header"):
        codecs.avi_frame_payloads(bytes(fixed))

    # frame damage surfaces with the frame index
    corrupt = bytearray(blob)
    soi = corrupt.index(b"\xff\xd8\xff", 200)  # a movi payload's SOI
    corrupt[soi] = 0x00
    with pytest.raises(ValueError, match="frame 0"):
        codecs.decode_avi_frames(bytes(corrupt))


def test_codec_avi_dispatch_and_frame_sampling(spark):
    """Pipeline integration: decode_media routes RIFF/AVI to the video
    decoder, extract_features tags codec='avi' with real frame
    statistics, and sample_frames demuxes REAL containers — every
    every_nth-th embedded JPEG chunk verbatim, max_frames capped —
    while non-AVI blobs keep the deterministic stub slicing (the
    multimodal_frame_sample oracle's contract) and a damaged container
    falls back to the stub instead of failing the task."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        extract_features,
        sample_frames,
    )

    frames = [np.full((8, 8, 3), 30 * i + 15, dtype=np.uint8) for i in range(7)]
    blob = codecs.encode_avi_mjpeg(frames, fps=10.0, quality=90, subsample="4:4:4")
    kind, (fps, arrs) = decode_media("video", blob)
    assert kind == "avi" and fps == 10.0 and len(arrs) == 7

    stub_blob = b"not-a-container" * 8
    rows = [
        (1, "video", bytearray(blob), None, None, None),
        (2, "video", bytearray(stub_blob), None, None, None),
        (3, "video", bytearray(blob[:40]), None, None, None),  # damaged AVI
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["codec"] == "avi"
    assert feats[1]["feature"][:2] == [7.0, 10.0]  # n_frames, fps
    assert feats[2]["codec"] == "stub-md5"
    assert feats[3]["codec"] == "stub-md5"  # total over damage

    out = sample_frames(media, every_nth=3, max_frames=2).collect()
    got = {(r["media_id"], r["frame_index"]): bytes(r["frame"]) for r in out}
    srcs = {(r["media_id"], r["frame_index"]): r["source"] for r in out}
    _, payloads = codecs.avi_frame_payloads(blob)
    # real demux: kept frames carry their SOURCE numbers 0 and 3
    assert got[(1, 0)] == payloads[0] and got[(1, 3)] == payloads[3]
    assert srcs[(1, 0)] == "mjpeg-avi"
    assert len([k for k in got if k[0] == 1]) == 2  # max_frames cap
    # stub path unchanged for non-AVI and undecodable blobs — and
    # PROVENANCE-TAGGED, so garbage slices are distinguishable
    assert got[(2, 0)] == stub_blob[:16] and srcs[(2, 0)] == "stub-slice"
    assert got[(3, 0)] == blob[:40][:16] and srcs[(3, 0)] == "stub-slice"


def test_codec_fuzz_totality_all_formats():
    """Round 10: the codec-wide totality contract, pinned by a seeded
    fuzz — for EVERY format, every truncation point and a byte-flip
    sweep raise only the advertised ValueError/NotImplementedError.
    The advisor-found classes are asserted explicitly: zlib checksum
    failures (PNG), huffman/quant table-id KeyErrors (JPEG), short-
    header struct.errors (BMP), a corrupt-IHDR dimension flip that
    would otherwise ALLOCATE gigabytes before failing (interlaced PNG),
    and zero/over-spec JPEG sampling factors that divided by zero."""
    import struct as st

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, (12, 9, 3), dtype=np.uint8)
    pxa = rng.integers(0, 256, (12, 9, 4), dtype=np.uint8)
    frames = [rng.integers(0, 256, (8, 8, 3), dtype=np.uint8) for _ in range(3)]
    cases = [
        (C.encode_bmp(px), C.decode_bmp),
        (C.encode_png(px), C.decode_png),
        (C.encode_png(pxa, interlace=True), C.decode_png),
        (C.encode_jpeg(px, quality=80), C.decode_jpeg),
        (C.encode_jpeg_progressive(px, quality=80), C.decode_jpeg),
        (C.encode_wav(8000, rng.uniform(-1, 1, 64)), C.decode_wav),
        (C.encode_avi_mjpeg(frames, fps=10.0), C.decode_avi_frames),
        # round 11: GIF joins the totality contract (truncated
        # sub-block chains, LZW codes beyond the table, oversized
        # image descriptors — all ValueError, nothing else)
        (C.encode_gif((px // 64) * 64), C.decode_gif_frames),
        (C.encode_gif([(f // 64) * 64 for f in frames], delay_cs=4),
         C.decode_gif_frames),
        # round 12: lossless WebP joins the totality contract
        (C.encode_webp_lossless(px), C.decode_webp),
    ]
    for blob, dec in cases:
        for cut in range(0, len(blob), 2):
            try:
                dec(blob[:cut])
            except (ValueError, NotImplementedError):
                pass  # the whole contract: nothing else may escape
        for _ in range(300):
            pos = int(rng.integers(0, len(blob)))
            fl = bytearray(blob)
            fl[pos] ^= int(rng.integers(1, 256))
            try:
                dec(bytes(fl))
            except (ValueError, NotImplementedError):
                pass

    # corrupt-SOF guards fire BEFORE any dimension-sized allocation:
    # (a) zero sampling factor — used to divide by zero
    jb = bytearray(C.encode_jpeg(px, quality=80, subsample="4:2:0"))
    sof = bytes(jb).index(b"\xff\xc0")
    jb[sof + 11] = 0x01  # component 0 h,v: 2,2 -> 0,1
    with pytest.raises(ValueError, match="sampling factors"):
        C.decode_jpeg(bytes(jb))
    # (b) dimensions a short stream cannot possibly encode
    jb = bytearray(C.encode_jpeg(px, quality=80))
    st.pack_into(">HH", jb, sof + 5, 65535, 65535)
    with pytest.raises(ValueError, match="corrupt SOF"):
        C.decode_jpeg(bytes(jb))
    # (c) interlaced-PNG IHDR width flip. A raw flip now fails at the
    # chunk CRC (the new first line of defense: corruption in chunks
    # adler32 can't see must not decode to silently wrong pixels)...
    import zlib as _zlib

    pb = bytearray(C.encode_png(pxa, interlace=True))
    st.pack_into(">I", pb, 16, 3_000_000_000)  # IHDR width
    with pytest.raises(ValueError, match="CRC mismatch"):
        C.decode_png(bytes(pb))
    # ...and with the CRC recomputed (a hostile-but-consistent stream),
    # the expected-size check still beats the (h, w) allocation
    st.pack_into(
        ">I", pb, 8 + 8 + 13,
        _zlib.crc32(bytes(pb[12:12 + 4 + 13])) & 0xFFFFFFFF,
    )
    with pytest.raises(ValueError, match="pixel stream"):
        C.decode_png(bytes(pb))


def test_codec_avi_audio_first_stream():
    """Round-10 review fix: movi chunk ids follow strl ORDER, so an
    MJPEG AVI whose video stream is listed second (audio first — a
    common real-world mux order) stores frames as '01dc'. The demuxer
    must find them via the vids stream's ordinal, pair the codec check
    with the FIRST vids strh only, and ignore other streams' chunks."""
    import struct as st

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    frames = [np.full((8, 8, 3), 60 * i + 30, dtype=np.uint8) for i in range(3)]
    payloads = [C.encode_jpeg(f, quality=90, subsample="4:4:4") for f in frames]

    def strh(fcc, handler, scale, rate, length):
        return st.pack("<4s4sIHH8I4h", fcc, handler, 0, 0, 0,
                       0, scale, rate, 0, length, 4096, 0xFFFF_FFFF, 0,
                       0, 0, 8, 8)

    auds_strl = C._riff_list(b"strl",
        C._riff_chunk(b"strh", strh(b"auds", b"\x01\x00\x00\x00", 1, 8000, 800))
        + C._riff_chunk(b"strf", st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)))
    vids_strf = st.pack("<IiiHH4sIiiII", 40, 8, 8, 1, 24, b"MJPG", 192, 0, 0, 0, 0)
    vids_strl = C._riff_list(b"strl",
        C._riff_chunk(b"strh", strh(b"vids", b"MJPG", 1000, 10_000, len(frames)))
        + C._riff_chunk(b"strf", vids_strf))
    avih = st.pack("<14I", 100_000, 0, 0, 0x10, len(frames), 0, 2, 4096,
                   8, 8, 0, 0, 0, 0)
    hdrl = C._riff_list(b"hdrl", C._riff_chunk(b"avih", avih)
                        + auds_strl + vids_strl)
    # audio is stream 00 (listed first), video is stream 01, interleaved
    movi = b"".join(
        C._riff_chunk(b"00wb", b"\x00\x01" * 40)
        + C._riff_chunk(b"01dc", p)
        for p in payloads
    )
    body = hdrl + C._riff_list(b"movi", movi)
    blob = b"RIFF" + st.pack("<I", 4 + len(body)) + b"AVI " + body

    fps, got = C.avi_frame_payloads(blob)
    assert fps == 10.0
    assert got == payloads, "video frames must come from stream 01"
    _, decoded = C.decode_avi_frames(blob)
    assert len(decoded) == 3
    assert all(
        np.array_equal(a, C.decode_jpeg(p)) for a, p in zip(decoded, payloads)
    )


def test_codec_avi_opendml_avix_continuation():
    """OpenDML AVIs (>~1 GiB muxers: ffmpeg et al.) continue past the
    first RIFF in 'RIFF <sz> AVIX' extension segments holding further
    movi lists. Round-10 review fix: the demux walks EVERY continuation
    (stopping at the first RIFF silently truncated the video), raises
    NotImplementedError on an unknown continuation form instead of
    silently dropping it, detects a truncated AVIX segment, and still
    tolerates non-RIFF trailing junk."""
    import struct as st

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    frames = [np.full((8, 8, 3), 30 * i + 15, dtype=np.uint8) for i in range(5)]
    base = C.encode_avi_mjpeg(frames[:3], fps=10.0, quality=85)
    jpg = lambda f: C.encode_jpeg(f, quality=85, subsample="4:4:4")  # noqa: E731
    extra = [jpg(f) for f in frames[3:]]
    movi = b"".join(C._riff_chunk(b"00dc", p) for p in extra)
    ext_body = b"AVIX" + C._riff_list(b"movi", movi)
    avix = b"RIFF" + st.pack("<I", len(ext_body)) + ext_body

    fps, got = C.avi_frame_payloads(base + avix)
    assert fps == 10.0
    assert got == [jpg(f) for f in frames], \
        "AVIX frames must append after the first segment's, in order"
    _, decoded = C.decode_avi_frames(base + avix)
    assert len(decoded) == 5

    # two continuations chain
    fps, got2 = C.avi_frame_payloads(base + avix + avix)
    assert len(got2) == 3 + 2 + 2

    # unknown RIFF continuation form: fail loud, not silently shorter
    alien = b"RIFF" + st.pack("<I", 4) + b"WAVE"
    with pytest.raises(NotImplementedError, match="continuation form"):
        C.avi_frame_payloads(base + alien)

    # truncated AVIX segment is detected, like first-RIFF truncation
    # (a remnant shorter than the 4-byte 'RIFF' prefix is
    # indistinguishable from legal trailing junk, so stop above it)
    for cut in range(1, len(avix) - 4, 5):
        with pytest.raises(ValueError):
            C.avi_frame_payloads(base + avix[:-cut])

    # non-RIFF trailing junk after the last segment stays legal
    assert len(C.avi_frame_payloads(base + b"JUNKJUNKJUNK")[1]) == 3
    assert len(C.avi_frame_payloads(base + avix + b"\x00\x01")[1]) == 5


def test_codec_gif_roundtrip_single_and_animated():
    """Round-11 GIF codec: palette-exact encode → full decode round
    trips bit-identical pixels for single frames and animations,
    including the LZW table-overflow/clear path, the 1-color and
    256-color palette edges, fps from the graphic-control delay, and
    the honest >256-color quantization boundary."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    rng = np.random.default_rng(11)
    px = (rng.integers(0, 4, (13, 17, 3)) * 85).astype(np.uint8)
    blob = C.encode_gif(px)
    assert C.sniff(blob) == "gif"
    fps, frames = C.decode_gif_frames(blob)
    assert fps == 10.0 and len(frames) == 1  # no GCE → default fps
    assert np.array_equal(frames[0], px)
    assert np.array_equal(C.decode_gif(blob), px)

    anim = [(rng.integers(0, 6, (9, 11, 3)) * 40).astype(np.uint8)
            for _ in range(4)]
    ablob = C.encode_gif(anim, delay_cs=5)
    afps, aframes = C.decode_gif_frames(ablob)
    assert afps == 20.0 and len(aframes) == 4
    for want, got in zip(anim, aframes):
        assert np.array_equal(want, got)

    # palette edges: 1 color (depth floor) and exactly 256 colors
    flat = np.full((5, 5, 3), 77, np.uint8)
    assert np.array_equal(C.decode_gif(C.encode_gif(flat)), flat)
    p256 = np.zeros((16, 16, 3), np.uint8)
    p256[:, :, 0] = np.arange(16, dtype=np.uint8)[:, None] * 16
    p256[:, :, 2] = np.arange(16, dtype=np.uint8)[None, :] * 16
    assert np.array_equal(C.decode_gif(C.encode_gif(p256)), p256)

    # big enough that LZW fills its 4096-entry table and emits CLEAR
    overflow = (rng.integers(0, 6, (300, 301, 3)) * 42).astype(np.uint8)
    assert np.array_equal(C.decode_gif(C.encode_gif(overflow)), overflow)

    # >256 distinct colors: refuse (palette-exact, no silent quantize)
    many = np.zeros((16, 17, 3), np.uint8)
    many[:, :, 0] = np.arange(16, dtype=np.uint8)[:, None] * 16
    many[:, :, 1] = np.arange(17, dtype=np.uint8)[None, :] * 15
    with pytest.raises(NotImplementedError, match="quantization"):
        C.encode_gif(many)


def test_codec_webp_lossless_roundtrip():
    """Round-12 VP8L: encode → full decode is an EXACT round trip
    across histogram shapes (random, flat, two-value, gradient, 1x1,
    wide, tall), the container sniffs as webp, dims are validated, and
    lossy VP8 / extended VP8X raise the honest NotImplementedError.
    Round 13 upgraded the encoder to LZ77 backrefs + color cache, so
    these same round trips now drive the decoder's backref/cache/extra-
    bit paths on encoder-produced streams (see the compression test
    below for the shape-targeted cases)."""
    import struct as st

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    rng = np.random.default_rng(12)
    shapes = [(13, 9), (1, 1), (1, 40), (40, 1), (8, 8)]
    for h, w in shapes:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        blob = C.encode_webp_lossless(px)
        assert C.sniff(blob) == "webp"
        assert np.array_equal(C.decode_webp(blob), px)
    flat = np.full((6, 7, 3), (9, 250, 0), dtype=np.uint8)
    assert np.array_equal(C.decode_webp(C.encode_webp_lossless(flat)), flat)
    grad = np.zeros((16, 16, 3), np.uint8)
    grad[:, :, 0] = np.arange(16)[:, None]
    grad[:, :, 1] = np.arange(16)[None, :]
    grad[:, :, 2] = 128
    assert np.array_equal(C.decode_webp(C.encode_webp_lossless(grad)), grad)
    with pytest.raises(ValueError, match="uint8"):
        C.encode_webp_lossless(np.zeros((4, 4), np.uint8))
    # lossy / extended containers: honest boundary
    vp8 = b"RIFF" + st.pack("<I", 12) + b"WEBPVP8 " + b"\x00" * 8
    with pytest.raises(NotImplementedError, match="VP8"):
        C.decode_webp(vp8)
    # hostile header dims: rejected before any canvas allocation
    blob = bytearray(C.encode_webp_lossless(rng.integers(
        0, 256, (4, 4, 3), dtype=np.uint8)))
    # the 28 dim bits start at payload byte 1 (after the 0x2F signature)
    big = (16383) | (16383 << 14)
    blob[21] = big & 0xFF
    blob[22] = (big >> 8) & 0xFF
    blob[23] = (big >> 16) & 0xFF
    blob[24] = ((blob[24] & 0xF0) | ((big >> 24) & 0x0F))
    with pytest.raises(ValueError, match="can paint"):
        C.decode_webp(bytes(blob))


def test_codec_webp_encoder_compression_paths():
    """Round-13 encoder upgrade (VERDICT r12 stretch): LZ77 backrefs +
    color cache. Shape-targeted cases force each token kind — vertical
    stripes take the dist-1 (left) backref, horizontal stripes the
    dist-width (above) backref, a small palette hits the color cache,
    flat images collapse to one long run — every one an exact round
    trip, and the compressed sizes prove the paths actually fired (a
    literal-only encoding of a flat 40x33 image cannot fit in 100
    bytes). A max-length run (>4096 px) exercises the length-prefix
    extra-bit ceiling."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    rng = np.random.default_rng(7)
    flat = np.full((40, 33, 3), 7, dtype=np.uint8)
    blob = C.encode_webp_lossless(flat)
    assert np.array_equal(C.decode_webp(blob), flat)
    assert len(blob) < 100, "flat image must compress via backrefs"

    v = np.tile(rng.integers(0, 256, (37, 1, 3), dtype=np.uint8), (1, 19, 1))
    bv = C.encode_webp_lossless(v)
    assert np.array_equal(C.decode_webp(bv), v)
    assert len(bv) < v.size  # d=1 runs

    h = np.tile(rng.integers(0, 256, (1, 29, 3), dtype=np.uint8), (31, 1, 1))
    bh = C.encode_webp_lossless(h)
    assert np.array_equal(C.decode_webp(bh), h)
    assert len(bh) < h.size  # d=width runs

    pal = rng.integers(0, 4, (50, 50, 3), dtype=np.uint8) * 80
    bp = C.encode_webp_lossless(pal)
    assert np.array_equal(C.decode_webp(bp), pal)
    assert len(bp) < pal.size  # cache hits beat 3-channel literals

    # one run longer than the 4096 length ceiling → split refs with
    # the max extra-bit length prefix in play
    tall = np.full((70, 70, 3), 200, dtype=np.uint8)  # 4900 px
    bt = C.encode_webp_lossless(tall)
    assert np.array_equal(C.decode_webp(bt), tall)

    # the prefix encode/decode pair is a bijection over the range
    from priority_data_pipeline_azure_sql_db_spark.operators.codecs import (
        _vp8l_prefix_encode,
    )

    class _FakeBR:
        def __init__(self, v, n):
            self.v, self.n = v, n

        def read(self, k):
            assert k == self.n
            return self.v

    for val in [1, 2, 3, 4, 5, 6, 7, 8, 9, 15, 16, 17, 100, 1000, 4096]:
        p, extra, nbits = _vp8l_prefix_encode(val)
        assert 0 <= p < 24
        assert C._vp8l_prefix_value(_FakeBR(extra, nbits), p) == val


def test_codec_webp_vp8l_transform_decode():
    """Decode-only VP8L spec features the literal-only encoder never
    emits, each pinned by a hand-assembled bitstream with hand-computed
    expected pixels: subtract-green, the predictor transform, color
    transform (signed >>5 delta), color indexing with 1-bit pixel
    bundling, the color cache, and LZ77 backrefs through both the 2D
    distance map and the direct code."""
    import struct as st

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    def container(bw):
        payload = b"\x2f" + bytes(bw.bytes)
        chunk = b"VP8L" + st.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            chunk += b"\x00"
        riff = b"WEBP" + chunk
        return b"RIFF" + st.pack("<I", len(riff)) + riff

    def header(bw, w, h):
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)
        bw.write(0, 3)

    def literal_stream(bw, pix, sub=False):
        """no-cache/no-meta literal pixels (a, r, g, b tuples); sub-image
        streams carry NO meta bit (meta prefix codes are ARGB-role-only,
        spec 6.2.3)."""
        bw.write(0, 1)      # no color cache
        if not sub:
            bw.write(0, 1)  # no meta
        hist = lambda vals: {v: vals.count(v) for v in set(vals)}  # noqa: E731
        gs = [p[2] for p in pix]
        g_codes = C._vp8l_write_code(bw, hist(gs), 256 + 24)
        r_codes = C._vp8l_write_code(bw, hist([p[1] for p in pix]), 256)
        b_codes = C._vp8l_write_code(bw, hist([p[3] for p in pix]), 256)
        a_codes = C._vp8l_write_code(bw, hist([p[0] for p in pix]), 256)
        C._vp8l_write_code(bw, {0: 1}, 40)
        for a, r, g, b in pix:
            for codes, v in ((g_codes, g), (r_codes, r), (b_codes, b),
                             (a_codes, a)):
                c, n = codes[v]
                if n:
                    bw.write(C._revbits(c, n), n)

    # --- subtract-green: stored (r-g, g, b-g); inverse adds g back ---
    bw = C._LsbBitWriter()
    header(bw, 2, 1)
    bw.write(1, 1); bw.write(2, 2)  # transform: SUBTRACT_GREEN
    bw.write(0, 1)                  # no more transforms
    literal_stream(bw, [(255, 5, 10, 7), (255, 5, 20, 7)])
    out = C.decode_webp(container(bw))
    assert out.tolist() == [[[15, 10, 17], [25, 20, 27]]]

    # --- predictor: one 1x1 mode-1 (=L) block over a 2x2 image -------
    bw = C._LsbBitWriter()
    header(bw, 2, 2)
    bw.write(1, 1); bw.write(0, 2)  # transform: PREDICTOR
    bw.write(0, 3)                  # size_bits = 0 + 2 = 4px blocks
    literal_stream(bw, [(0, 0, 1, 0)], sub=True)  # sub: mode 1 in green
    bw.write(0, 1)                  # no more transforms
    # residuals: (0,0)+=ff000000; (1,0)+=L; (0,1)+=T; (1,1)+=L (mode 1)
    literal_stream(bw, [(255, 10, 10, 10), (0, 1, 1, 1),
                        (0, 2, 2, 2), (0, 3, 3, 3)])
    out = C.decode_webp(container(bw))
    assert out.tolist() == [[[10, 10, 10], [11, 11, 11]],
                            [[12, 12, 12], [15, 15, 15]]]

    # --- predictor edge semantics (round-12 review fixes) -------------
    # (a) rightmost column's TR is the SAME row's leftmost pixel (the
    # unguarded i-xsize+1 wrap), not the top pixel: 2x2, mode 3 (=TR).
    bw = C._LsbBitWriter()
    header(bw, 2, 2)
    bw.write(1, 1); bw.write(0, 2); bw.write(0, 3)
    literal_stream(bw, [(0, 0, 3, 0)], sub=True)   # mode 3 in green
    bw.write(0, 1)
    # px(0,0)=10 (+ff000000); px(1,0)=+L=5 → 15; px(0,1)=+T=20 → 30;
    # px(1,1): TR wraps to row 1's leftmost = 30 → +0 = 30 (the old
    # top-fallback predicted 15 and decoded 15)
    literal_stream(bw, [(255, 10, 10, 10), (0, 5, 5, 5),
                        (0, 20, 20, 20), (0, 0, 0, 0)])
    out = C.decode_webp(container(bw))
    assert out.tolist() == [[[10, 10, 10], [15, 15, 15]],
                            [[30, 30, 30], [30, 30, 30]]]

    # (b) Select (mode 11) ties go to TOP: L=10, T=20, TL=15 → the
    # gradient prediction is equidistant, spec picks T.
    bw = C._LsbBitWriter()
    header(bw, 2, 2)
    bw.write(1, 1); bw.write(0, 2); bw.write(0, 3)
    literal_stream(bw, [(0, 0, 11, 0)], sub=True)  # mode 11 in green
    bw.write(0, 1)
    literal_stream(bw, [(255, 15, 15, 15), (0, 5, 5, 5),
                        (0, 5, 5, 5), (0, 0, 0, 0)])
    # canvas: (0,0)=15; (1,0)=15+5=20 (L); (0,1)=15+5=20 (T)... wait
    # L for (1,1) is 20, T is 20? use asymmetric residuals instead:
    out = C.decode_webp(container(bw))
    # (0,0)=15, (1,0)=20, (0,1)=20, (1,1): L=20, T=20, TL=15 →
    # pred=L+T-TL=25, |25-20|=5 both → tie → T=20 → +0 = 20
    assert out.tolist()[1][1] == [20, 20, 20]

    bw = C._LsbBitWriter()
    header(bw, 2, 2)
    bw.write(1, 1); bw.write(0, 2); bw.write(0, 3)
    literal_stream(bw, [(0, 0, 11, 0)], sub=True)
    bw.write(0, 1)
    # make L=10, T=20, TL=15: residuals (0,0)=15, (1,0)=+T? no — (1,0)
    # adds L: 15+(-5)%256=251 → wraps. Use: (0,0)=15, (1,0)=+L res 5 →
    # T-row pixel 20; (0,1)=+T res 251 → (15+251)%256=10 → L=10;
    # (1,1): L=10, T=20, TL=15, pl=|15-10|=5, pt=|15-20|=5 → tie → T.
    literal_stream(bw, [(255, 15, 15, 15), (0, 5, 5, 5),
                        (0, 251, 251, 251), (0, 0, 0, 0)])
    out = C.decode_webp(container(bw))
    assert out.tolist() == [[[15, 15, 15], [20, 20, 20]],
                            [[10, 10, 10], [20, 20, 20]]]

    # --- color transform: g2r=16 over one block ----------------------
    bw = C._LsbBitWriter()
    header(bw, 1, 1)
    bw.write(1, 1); bw.write(1, 2)  # transform: COLOR
    bw.write(0, 3)                  # size_bits = 2
    # cte pixel: blue byte = green_to_red = 16, others 0
    literal_stream(bw, [(0, 0, 0, 16)], sub=True)
    bw.write(0, 1)
    literal_stream(bw, [(255, 10, 64, 20)])
    out = C.decode_webp(container(bw))
    # delta = (16 * 64) >> 5 = 32 → r = 10 + 32
    assert out.tolist() == [[[42, 64, 20]]]

    # --- color indexing, 2 colors → 1-bit bundling over a 5x1 row ----
    bw = C._LsbBitWriter()
    header(bw, 5, 1)
    bw.write(1, 1); bw.write(3, 2)  # transform: COLOR_INDEXING
    bw.write(1, 8)                  # 2 colors
    # palette sub-image (2x1), DELTA-coded per channel:
    # color0 = (255, 1, 2, 3); delta1 = (0, +1, +1, +1)
    literal_stream(bw, [(255, 1, 2, 3), (0, 1, 1, 1)], sub=True)
    bw.write(0, 1)
    # packed 1x1 image: indices [1,0,1,0,1] → green bits 0b10101
    literal_stream(bw, [(255, 0, 0b10101, 0)])
    out = C.decode_webp(container(bw))
    assert out.tolist() == [[[2, 3, 4], [1, 2, 3], [2, 3, 4],
                             [1, 2, 3], [2, 3, 4]]]

    # --- color cache + LZ77 (2D map and direct distance) -------------
    A = (255 << 24) | (1 << 16) | (2 << 8) | 3
    idx_a = (0x1E35A7BD * A & 0xFFFFFFFF) >> 31  # cache_bits = 1
    bw = C._LsbBitWriter()
    header(bw, 6, 1)
    bw.write(0, 1)                  # no transforms
    bw.write(1, 1); bw.write(1, 4)  # color cache, 1 bit
    bw.write(0, 1)                  # no meta
    # green alphabet 256+24+2: literals 1 and 9, length prefix 257
    # (length 2), cache symbol 280+idx_a
    # (255,20,30,40) hashes to cache slot 0, A to slot 1 — the copies
    # must not evict A before the cache hit
    g_hist = {2: 1, 30: 1, 256 + 1: 1, 280 + idx_a: 1}
    g_codes = C._vp8l_write_code(bw, g_hist, 256 + 24 + 2)
    r_codes = C._vp8l_write_code(bw, {1: 1, 20: 1}, 256)
    b_codes = C._vp8l_write_code(bw, {3: 1, 40: 1}, 256)
    a_codes = C._vp8l_write_code(bw, {255: 1}, 256)
    d_codes = C._vp8l_write_code(bw, {1: 1}, 40)  # dist prefix 1 → 2

    def emit(codes, v):
        c, n = codes[v]
        if n:
            bw.write(C._revbits(c, n), n)

    # px0: literal A=(255,1,2,3) → cache slot 1;
    # px1: literal (255,20,30,40) → cache slot 0;
    # px2-3: LZ77 len 2, dist prefix 1 → value 2 → map[1]=(1,0) → dist 1
    #        (copies px1 twice; re-caches into slot 0, A survives);
    # px4: cache hit slot 1 → A; px5: literal (255,20,30,40)
    emit(g_codes, 2); emit(r_codes, 1); emit(b_codes, 3); emit(a_codes, 255)
    emit(g_codes, 30); emit(r_codes, 20); emit(b_codes, 40); emit(a_codes, 255)
    emit(g_codes, 256 + 1)          # length prefix 1 → length 2
    emit(d_codes, 1)                # distance prefix 1 → dist_code 2
    emit(g_codes, 280 + idx_a)      # cache hit → A
    emit(g_codes, 30); emit(r_codes, 20); emit(b_codes, 40); emit(a_codes, 255)
    out = C.decode_webp(container(bw))
    assert out.tolist() == [[[1, 2, 3], [20, 30, 40], [20, 30, 40],
                             [20, 30, 40], [1, 2, 3], [20, 30, 40]]]

    # direct distance (code > 120): 3x1, literal then backref dist 1
    bw = C._LsbBitWriter()
    header(bw, 3, 1)
    bw.write(0, 1); bw.write(0, 1); bw.write(0, 1)
    g_codes = C._vp8l_write_code(bw, {7: 1, 256 + 1: 1}, 256 + 24)
    r_codes = C._vp8l_write_code(bw, {4: 1}, 256)
    b_codes = C._vp8l_write_code(bw, {5: 1}, 256)
    a_codes = C._vp8l_write_code(bw, {255: 1}, 256)
    # dist_code 121 → direct distance 1; prefix value 121 needs prefix
    # symbol p where value = offset + extra + 1: p=13 → extra_bits=5,
    # offset=(2+1)<<5=96, extra=24 → 96+24+1=121
    d_codes = C._vp8l_write_code(bw, {13: 1}, 40)
    emit(g_codes, 7); emit(r_codes, 4); emit(b_codes, 5); emit(a_codes, 255)
    emit(g_codes, 256 + 1)
    emit(d_codes, 13)
    bw.write(24, 5)
    out = C.decode_webp(container(bw))
    assert out.tolist() == [[[4, 7, 5]] * 3]
    assert np is not None  # keep the import grouped with its siblings


def test_codec_gif_golden_lzw_bitstream():
    """The LZW layer pinned against FIRST-PRINCIPLES bytes, not just
    its own inverse: for indices [0,1,1,0] at min code size 2 the spec
    gives codes CLEAR(4),0,1,1 in 3 bits — the third add fills the
    3-bit table so 0,END(5) follow in 4 bits — packing LSB-first to
    exactly 44 02 05. The full-file golden then pins every header byte
    of the 2x2 encode (hand-assembled from the GIF89a spec layout)."""
    import struct as st

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    assert C._lzw_encode(bytes([0, 1, 1, 0]), 2) == bytes([0x44, 0x02, 0x05])
    assert C._lzw_decode(bytes([0x44, 0x02, 0x05]), 2, 4) == bytes([0, 1, 1, 0])

    px = np.array([[[10, 20, 30], [90, 80, 70]],
                   [[90, 80, 70], [10, 20, 30]]], dtype=np.uint8)
    golden = (
        b"GIF89a"
        + st.pack("<HH", 2, 2)      # logical screen 2x2
        + bytes([0x80, 0, 0])       # GCT present, 2 entries; bg 0; aspect 0
        + bytes([10, 20, 30, 90, 80, 70])  # palette, lexicographic
        + b"\x2c" + st.pack("<HHHH", 0, 0, 2, 2) + b"\x00"  # image desc
        + bytes([2])                # LZW min code size
        + bytes([3, 0x44, 0x02, 0x05, 0])  # one sub-block + terminator
        + b"\x3b"
    )
    assert C.encode_gif(px) == golden
    _fps, frames = C.decode_gif_frames(golden)
    assert np.array_equal(frames[0], px)


def test_codec_gif_interlace_lct_transparency_disposal():
    """Decode-only GIF features the encoder never emits, each pinned by
    a hand-assembled stream: 4-pass interlacing (stored rows 0,4,2,6,
    1,3,5,7 for h=8), a local color table overriding the global one,
    GIF89a transparency (masked pixels keep the prior canvas), and
    disposal methods 2 (restore region to background) and 3 (restore to
    previous) between animation frames."""
    import struct as st

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    def screen(w, h, palette, bg=0):
        depth = max((len(palette) - 1).bit_length(), 1)
        table = bytearray(3 * (1 << depth))
        for i, c in enumerate(palette):
            table[3 * i:3 * i + 3] = bytes(c)
        return (b"GIF89a" + st.pack("<HH", w, h)
                + bytes([0x80 | (depth - 1), bg, 0]) + bytes(table))

    def image(idx, left, top, w, h, mcs, interlace=False, lct=None):
        out = bytearray()
        flags = 0x40 if interlace else 0
        if lct is not None:
            depth = max((len(lct) - 1).bit_length(), 1)
            flags |= 0x80 | (depth - 1)
        out += b"\x2c" + st.pack("<HHHH", left, top, w, h) + bytes([flags])
        if lct is not None:
            depth = max((len(lct) - 1).bit_length(), 1)
            table = bytearray(3 * (1 << depth))
            for i, c in enumerate(lct):
                table[3 * i:3 * i + 3] = bytes(c)
            out += bytes(table)
        lzw = C._lzw_encode(bytes(idx), mcs)
        out += bytes([mcs])
        for off in range(0, len(lzw), 255):
            chunk = lzw[off:off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
        return bytes(out)

    def gce(disposal=0, transparent=None, delay=0):
        packed = (disposal & 7) << 2 | (1 if transparent is not None else 0)
        return (b"\x21\xf9\x04" + bytes([packed]) + st.pack("<H", delay)
                + bytes([transparent or 0, 0]))

    # interlace: 8 rows of 2 px, pixel value = row number; stored in
    # pass order — the decoder must hand back rows 0..7
    pal8 = [(i, i, i) for i in range(8)]
    stored_rows = [0, 4, 2, 6, 1, 3, 5, 7]
    idx = bytes(r for r in stored_rows for _ in range(2))
    g = screen(2, 8, pal8) + image(idx, 0, 0, 2, 8, 3, interlace=True) + b"\x3b"
    _, frames = C.decode_gif_frames(g)
    assert np.array_equal(frames[0][:, 0, 0], np.arange(8, dtype=np.uint8))

    # local color table wins over the global one
    lct = [(200, 0, 0), (0, 200, 0)]
    g = screen(2, 1, [(9, 9, 9), (1, 1, 1)]) \
        + image(bytes([0, 1]), 0, 0, 2, 1, 2, lct=lct) + b"\x3b"
    _, frames = C.decode_gif_frames(g)
    assert frames[0].tolist() == [[[200, 0, 0], [0, 200, 0]]]

    # transparency + disposals across three frames on a 2x2 canvas:
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    f1 = image(bytes([1, 1, 1, 1]), 0, 0, 2, 2, 2)        # all red
    # frame 2: 1x1 at (1,1), transparent index 3 -> keeps red there,
    # and disposal 2 on frame 1 restored nothing yet (disposal acts
    # AFTER the frame is emitted)
    f2 = image(bytes([3]), 1, 1, 1, 1, 2)
    f3 = image(bytes([2]), 0, 0, 1, 1, 2)                 # green at (0,0)
    g = (screen(2, 2, pal, bg=0)
         + gce(disposal=2) + f1          # after emit: restore ALL to bg
         + gce(transparent=3) + f2       # paints nothing (masked)
         + gce(disposal=3) + f3          # green; then restore (moot, last)
         + b"\x3b")
    _, frames = C.decode_gif_frames(g)
    assert frames[0].tolist() == [[[255, 0, 0]] * 2] * 2
    # disposal 2 wiped frame 1's region to background (black) BEFORE
    # frame 2, whose only pixel is transparent -> all black
    assert frames[1].tolist() == [[[0, 0, 0]] * 2] * 2
    assert frames[2].tolist() == [[[0, 255, 0], [0, 0, 0]],
                                  [[0, 0, 0], [0, 0, 0]]]

    # disposal 3: frame 2 paints blue over red, then restores -> frame 3
    # sees red again
    g = (screen(2, 2, pal) + gce() + f1
         + gce(disposal=3) + image(bytes([3, 3, 3, 3]), 0, 0, 2, 2, 2)
         + gce(transparent=3) + f2 + b"\x3b")
    _, frames = C.decode_gif_frames(g)
    assert frames[1].tolist() == [[[0, 0, 255]] * 2] * 2
    assert frames[2].tolist() == [[[255, 0, 0]] * 2] * 2

    # pixel index beyond the palette: loud, not modulo-wrapped
    bad = screen(2, 1, [(9, 9, 9), (1, 1, 1)]) \
        + image(bytes([0, 3]), 0, 0, 2, 1, 2) + b"\x3b"
    with pytest.raises(ValueError, match="color table"):
        C.decode_gif_frames(bad)

    # review fix: corrupt header dimensions raise the advertised
    # ValueError BEFORE any canvas-sized allocation — a 65535x65535
    # declaration on a tiny stream used to MemoryError on a 12.9 GB
    # write, escaping every tagged-stub fallback handler
    tiny = bytearray(screen(2, 1, pal8) + image(bytes([0, 1]), 0, 0, 2, 1, 3)
                     + b"\x3b")
    st.pack_into("<HH", tiny, 6, 65535, 65535)
    with pytest.raises(ValueError, match="can paint"):
        C.decode_gif_frames(bytes(tiny))

    # round-12 review fix: the per-byte bound alone scales with the
    # stream length, so a ~100 KB blob could declare a 256M-px screen
    # (768 MB RGB) that passed it — the ABSOLUTE canvas ceiling must
    # reject hostile dimensions regardless of input size, still before
    # any canvas allocation
    big = bytearray(screen(2, 1, pal8) + image(bytes([0, 1]), 0, 0, 2, 1, 3)
                    + b"\x3b") + bytes(100_000)
    st.pack_into("<HH", big, 6, 16000, 16000)
    assert 16000 * 16000 <= 4096 * len(big)  # per-byte bound would pass
    with pytest.raises(ValueError, match="can paint"):
        C.decode_gif_frames(bytes(big))

    # review fix: decode_gif stops after frame 0 of an animation (no
    # disposal state needed) — a frame-2 LZW corruption that fails the
    # full decode must NOT reach the first-frame view
    good = (screen(2, 2, pal) + gce() + f1 + gce() + f3 + b"\x3b")
    broken = bytearray(good)
    broken[-6] ^= 0xFF  # corrupt inside frame 2's data sub-block
    with pytest.raises(ValueError):
        C.decode_gif_frames(bytes(broken))
    assert C.decode_gif(bytes(broken)).tolist() == [[[255, 0, 0]] * 2] * 2

    # image descriptor outside the logical screen: loud
    bad = screen(2, 1, pal8) + image(bytes([0, 1]), 1, 0, 2, 1, 3) + b"\x3b"
    with pytest.raises(ValueError, match="logical screen"):
        C.decode_gif_frames(bad)


def test_codec_gif_dispatch_and_features(spark):
    """GIF through the Spark surfaces: extract_features tags 'gif' and
    computes the REAL video descriptor (n_frames, fps, duration, w, h —
    a single-frame GIF is the n=1 case), image_phash sees the first
    composited frame (cross-codec: a GIF still and the same pixels as
    PNG hash identical), and resize_images re-encodes stills as PNG and
    animations as MJPEG-AVI at the GIF's fps."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        extract_features,
        image_phash,
        resize_images,
    )

    rng = np.random.default_rng(3)
    still = (rng.integers(0, 4, (8, 8, 3)) * 80).astype(np.uint8)
    anim = [(rng.integers(0, 4, (8, 8, 3)) * 80).astype(np.uint8)
            for _ in range(3)]
    rows = [
        (1, "image", bytearray(C.encode_gif(still))),
        (2, "video", bytearray(C.encode_gif(anim, delay_cs=4))),
        (3, "image", bytearray(C.encode_png(still))),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, media_type string, content binary"
    )
    feats = {r.media_id: r for r in extract_features(df).collect()}
    assert feats[1].codec == "gif"
    assert feats[1].feature[0] == 1.0 and feats[1].feature[1] == 10.0
    assert feats[2].codec == "gif"
    assert feats[2].feature[0] == 3.0 and feats[2].feature[1] == 25.0
    assert (feats[2].feature[3], feats[2].feature[4]) == (8.0, 8.0)

    ph = {r.media_id: r.phash for r in image_phash(df).collect()}
    assert ph[1] == ph[3], "same pixels as GIF and PNG must phash equal"

    rs = {r.media_id: r for r in
          resize_images(df, width=4, height=4).collect()}
    assert rs[1].codec == "png" and C.sniff(bytes(rs[1].content)) == "png"
    assert rs[2].codec == "avi" and C.sniff(bytes(rs[2].content)) == "avi"
    rfps, rframes = C.decode_avi_frames(bytes(rs[2].content))
    assert rfps == 25.0 and len(rframes) == 3
    assert rframes[0].shape == (4, 4, 3)


# ---------------------------------------------------------------------------
# round-10 core-operator review fixes
# ---------------------------------------------------------------------------

def test_lsh_banding_guard(spark):
    """bands must divide num_hashes — a zero-rows-per-band slice hashes
    the empty string for EVERY doc, silently degenerating the band
    equi-join into an all-pairs cross join (and a remainder silently
    drops trailing signature rows). Both the production path and its
    md5 twin fail loud now."""
    import pytest

    d = docs(spark)
    sig = D.minhash_signature(d, "text", "doc_id", num_hashes=8, k=3)
    with pytest.raises(ValueError, match="bands must divide"):
        D.lsh_candidates(sig, num_hashes=8, bands=16).collect()
    with pytest.raises(ValueError, match="bands must divide"):
        D.lsh_candidates(sig, num_hashes=8, bands=3).collect()
    with pytest.raises(ValueError, match="bands must divide"):
        D.minhash_dedup_candidates_md5(d, "text", "doc_id",
                                       num_hashes=8, bands=16, k=3)


def test_ngram_contamination_cross_corpus_id_collision(spark):
    """Train and eval are independent corpora: a train doc whose id
    coincidentally equals an eval doc's id is still a REAL contamination
    pair (both sides numbering from 0 is the common case). The same-id
    filter is opt-in for self-check slices of one id space."""
    train = spark.sql(
        "SELECT * FROM VALUES (7, 'alpha beta gamma delta epsilon zeta') "
        "AS t(doc_id, text)"
    )
    ev = spark.sql(
        "SELECT * FROM VALUES (7, 'alpha beta gamma delta epsilon zeta') "
        "AS t(doc_id, text)"
    )
    got = D.ngram_contamination(train, ev, k=5).collect()
    assert [(r.train_id, r.eval_id) for r in got] == [(7, 7)]
    assert D.ngram_contamination(train, ev, k=5, exclude_same_id=True).count() == 0


def test_boilerplate_metachar_separator(spark):
    """A regex-metacharacter separator ('|', '.') is treated LITERALLY:
    split and reassembly agree. Pre-fix, '|' split between every
    character (empty-alternation regex), so shared single CHARACTERS
    became boilerplate and documents reassembled as garbage."""
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'shared menu|unique line one'), "
        "(2, 'shared menu|unique line two') "
        "AS t(doc_id, text)"
    )
    out = {r.doc_id: r for r in
           D.remove_boilerplate_lines(df, sep="|", min_docs=2).collect()}
    assert out[1].text == "unique line one"
    assert out[2].text == "unique line two"
    assert out[1].n_lines_kept == 1 and out[1].n_lines_dropped == 1


def test_pack_greedy_global_sentinel(spark):
    """pack_greedy honors the module's GLOBAL sentinel like its siblings
    (pre-fix it looked up a literal '__global__' column and crashed)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import GLOBAL, pack_greedy

    df = spark.sql(
        "SELECT * FROM VALUES (1, 'a b c'), (2, 'd e'), (3, 'f g h i') "
        "AS t(doc_id, text)"
    )
    rows = sorted(pack_greedy(df, budget=5, shard_col=GLOBAL).collect(),
                  key=lambda r: r.doc_id)
    assert [r.shard for r in rows] == [0, 0, 0]
    # next-fit over global id order: doc1(3)+doc2(2)=5 fits seq 0; doc3 opens seq 1
    assert [(r.seq_id, r.offset_in_seq) for r in rows] == [(0, 0), (0, 3), (1, 0)]


def test_negative_samples_custom_columns(spark, sf_dir):
    """id_col/vec_col forward into the positives sub-query (pre-fix the
    bruteforce call used hardcoded defaults and threw UNRESOLVED_COLUMN
    on renamed frames)."""
    emb = load_table(spark, sf_dir, "embeddings").limit(40)
    ren = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    base = {(r.query_id, r.negative_id, r.neg_rank) for r in S.negative_samples(
        emb, emb.filter(F.col("vec_id") < 3), k_pos=3, n_neg=2).collect()}
    got = {(r.query_id, r.negative_id, r.neg_rank) for r in S.negative_samples(
        ren, ren.filter(F.col("id2") < 3), k_pos=3, n_neg=2,
        id_col="id2", vec_col="v2").collect()}
    assert got == base and len(got) > 0


def test_cosine_topk_lsh_infers_dim(spark):
    """dim defaults to a corpus probe like the bruteforce/IVF siblings
    (pre-fix the hardcoded dim=64 NULLed every sim on non-64-dim vectors
    and collapsed all rows into bucket 0)."""
    df = spark.sql(
        "SELECT id AS vec_id, "
        "transform(sequence(1, 8), x -> CAST(hash(id, x) % 100 AS DOUBLE) / 10.0)"
        " AS embedding FROM range(30)"
    )
    q = df.filter(F.col("vec_id") < 2)
    inferred = S.cosine_topk_lsh(df, q, k=3).collect()
    explicit = S.cosine_topk_lsh(df, q, k=3, dim=8).collect()
    assert len(inferred) > 0
    assert {tuple(r) for r in inferred} == {tuple(r) for r in explicit}
    assert all(r.sim is not None for r in inferred)


def test_token_count_empty_text_is_zero(spark):
    """split('') yields [''] — the raw size() counted one phantom token
    per empty doc, consuming packed-sequence slots and billing source
    budgets; the guard returns 0 for empty/whitespace-only text."""
    df = spark.sql(
        "SELECT * FROM VALUES ('', 0), ('   ', 0), ('a b', 2), (' x ', 1) "
        "AS t(text, want)"
    )
    got = df.select(X.token_count(F.col("text")).alias("n"), "want").collect()
    assert all(r.n == r.want for r in got)


def test_bigram_lm_score_keeps_short_docs(spark):
    """0/1-token docs stay in the scored output as (n_bigrams=0,
    avg_logprob NULL) — 'no evidence', distinct from a low score — so a
    downstream inner-join quality gate can't silently drop them."""
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'the quick brown fox jumps'), (2, 'single'), (3, '') "
        "AS t(doc_id, text)"
    )
    out = {r.doc_id: r for r in X.bigram_lm_score(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_bigrams == 4 and out[1].avg_logprob is not None
    assert out[2].n_bigrams == 0 and out[2].avg_logprob is None
    assert out[3].n_bigrams == 0 and out[3].avg_logprob is None


# ---------------------------------------------------------------------------
# round-10 late codec spec fixes (independent-decoder-agreement class)
# ---------------------------------------------------------------------------

def _trivial_tables_jpeg_header(w, h, comps, dc_syms):
    """SOI + flat DQT(16s) + SOF0 + trivial DHTs shared by the
    hand-built spec streams below. ``comps`` = [(cid, hv)] with q
    table 0; DC table 0 codes ``dc_syms`` in order (lengths 1, 2, ...),
    AC table 0 codes EOB as '0'."""
    import struct as st

    s = bytearray()
    s += b"\xff\xd8"
    s += b"\xff\xdb" + st.pack(">HB", 67, 0) + bytes([16] * 64)
    s += b"\xff\xc0" + st.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w, len(comps))
    for cid, hv in comps:
        s += bytes([cid, hv, 0])
    bits = [0] * 16
    for i in range(len(dc_syms)):
        bits[i] = 1  # one code per length: '0', '10', '110', ...
    s += b"\xff\xc4" + st.pack(">HB", 2 + 17 + len(dc_syms), 0x00)
    s += bytes(bits) + bytes(dc_syms)
    s += b"\xff\xc4" + st.pack(">HB", 2 + 17 + 1, 0x10)
    s += bytes([1] + [0] * 15) + bytes([0])
    return s


def test_codec_jpeg_single_component_scan_noninterleaved_grid():
    """T.81 A.2: a SINGLE-component scan is non-interleaved over the
    component's OWN block grid — its sampling factors do not shape the
    scan. A 32x16 grayscale SOF0 declaring 2x2 factors carries its 8
    blocks in RASTER order; the pre-fix MCU-grid decode would lay them
    out 16x16-tile-major (top-left quad first), scrambling every tile."""
    import struct as st

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    s = _trivial_tables_jpeg_header(32, 16, [(1, 0x22)], [3])
    s += b"\xff\xda" + st.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    # 8 blocks, each: DC code '0' + category-3 bits '100' (diff +4) +
    # AC EOB '0' -> 5 bits; cumulative DC 4,8,..,32 -> constant tiles
    stream_bits = "".join("0" + "100" + "0" for _ in range(8))
    stream_bits += "1" * (-len(stream_bits) % 8)
    s += int(stream_bits, 2).to_bytes(len(stream_bits) // 8, "big")
    s += b"\xff\xd9"
    out = codecs.decode_jpeg(bytes(s))
    assert out.shape == (16, 32, 3)
    # raster block order: tile (by, bx) holds 128 + 8*(4*by + bx + 1)
    for by in range(2):
        for bx in range(4):
            tile = out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8, 0]
            want = 128 + 8 * (4 * by + bx + 1)
            assert np.all(tile == want), (by, bx, tile[0, 0], want)


def test_codec_jpeg_multi_sos_baseline():
    """A conforming baseline file coded as THREE single-component scans
    (legal per T.81) decodes: the scan loop keeps parsing after each
    SOS instead of stopping at the first. Y=-10 path (the golden-stream
    arithmetic), Cb/Cr zero-diff -> 128 -> neutral chroma -> gray 108."""
    import struct as st

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    s = _trivial_tables_jpeg_header(
        8, 8, [(1, 0x11), (2, 0x11), (3, 0x11)], [4, 0]
    )
    # scan 1 (Y): DC '0' + 0101 (extend -> -10) + EOB '0' = 6 bits
    s += b"\xff\xda" + st.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    s += bytes([0b00101011])
    # scans 2/3 (Cb, Cr): DC '10' (category 0, no bits) + EOB '0' = 3 bits
    for cid in (2, 3):
        s += b"\xff\xda" + st.pack(">HB", 8, 1) + bytes([cid, 0x00, 0, 63, 0])
        s += bytes([0b10011111])
    s += b"\xff\xd9"
    out = codecs.decode_jpeg(bytes(s))
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out, np.full((8, 8, 3), 108, dtype=np.uint8)), out[0, 0]
    # a file MISSING one component's scan fails loud, not half-decoded
    import pytest

    s2 = _trivial_tables_jpeg_header(
        8, 8, [(1, 0x11), (2, 0x11), (3, 0x11)], [4, 0]
    )
    s2 += b"\xff\xda" + st.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    s2 += bytes([0b00101011]) + b"\xff\xd9"
    with pytest.raises(ValueError, match="no scan for component"):
        codecs.decode_jpeg(bytes(s2))


def test_codec_jpeg_adobe_rgb_no_rotation():
    """APP14 transform=0 marks a 3-component frame as already-RGB: the
    YCbCr rotation must be skipped (Photoshop RGB JPEGs). transform=1
    keeps the standard conversion. Relationship check: rotating the
    transform=0 planes by hand reproduces the transform=1 pixels."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.codecs import _ycbcr_to_rgb

    rng = np.random.default_rng(7)
    px = rng.integers(80, 176, size=(16, 16, 3), dtype=np.uint8)  # mid-range
    blob = codecs.encode_jpeg(px, quality=95, subsample="4:4:4")
    app14 = (b"\xff\xee" + (14).to_bytes(2, "big")
             + b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 1]))
    t1 = bytearray(blob)
    t1[2:2] = app14
    t0 = bytearray(blob)
    t0[2:2] = app14[:-1] + bytes([0])
    base = codecs.decode_jpeg(blob)
    d1 = codecs.decode_jpeg(bytes(t1))
    d0 = codecs.decode_jpeg(bytes(t0))
    assert np.array_equal(d1, base)          # explicit YCbCr == default
    assert not np.array_equal(d0, base)      # RGB flag changes pixels
    rotated = _ycbcr_to_rgb(*(d0[:, :, i].astype(np.float64) for i in range(3)))
    # d0's planes were already quantized to uint8 once, so the hand
    # rotation rounds TWICE where the decoder rounds once — each
    # rounding contributes up to 0.5, hence the <=2 bound
    assert np.abs(rotated.astype(np.int32) - d1.astype(np.int32)).max() <= 2


def test_codec_jpeg_fill_bytes_before_restart():
    """T.81 B.1.1.2: 0xFF FILL bytes may pad entropy data before any
    marker, including RSTn — a padded conforming stream must decode
    identically (the pre-fix segmenter read FF FF as end-of-scan and
    raised mid-scan truncation)."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    y, x = np.mgrid[0:32, 0:32]
    px = np.stack([x * 7, y * 7, (x + y) * 3], axis=-1).astype(np.uint8)
    blob = codecs.encode_jpeg(px, quality=85, subsample="4:2:0",
                              restart_interval=2)
    base = codecs.decode_jpeg(blob)
    padded = bytearray()
    i, injected = 0, 0
    while i < len(blob):
        if (blob[i] == 0xFF and i + 1 < len(blob)
                and 0xD0 <= blob[i + 1] <= 0xD7 and injected < 3):
            padded += b"\xff"  # fill byte before the RSTn
            injected += 1
        padded.append(blob[i])
        i += 1
    assert injected > 0
    out = codecs.decode_jpeg(bytes(padded))
    assert np.array_equal(out, base)


def test_codec_wav_ima_adpcm():
    """IMA/DVI ADPCM WAV (format tag 0x0011, round 13 — previously the
    NotImplementedError boundary): (1) a HAND-BUILT single block decodes
    to hand-computed samples (pred 0, step index 0, nibbles [2,9,0...] →
    [0,3,2,2,...] — pins nibble order, the diff formula, and the
    header-sample-is-first-frame rule); (2) encoder-produced streams
    round-trip within the step-table's quantization bound after the
    step-size adaptation settles (ADPCM is lossy; the early slope
    overload on a loud signal from step 7 is ALGORITHM behavior), with
    every block's first frame stored verbatim; (3) stereo 8-byte group
    interleaving; (4) truncated blocks and out-of-range step indexes
    fail loud; (5) the container still sniffs as wav, so decode_media
    routes it untouched."""
    import struct as st

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    # (1) hand-built block
    body = bytes([2 | (9 << 4), 0, 0, 0])
    block = st.pack("<hBB", 0, 0, 0) + body
    fmt = st.pack("<HHIIHH", 17, 1, 8000, 8000, 8, 4)
    wav = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + len(block))
           + b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
           + b"data" + st.pack("<I", len(block)) + block)
    assert C.sniff(wav) == "wav"
    rate, frames = C.decode_wav(wav)
    assert rate == 8000
    assert [round(v * 32768) for v in frames[:, 0]] == [0, 3, 2, 2, 2, 2, 2, 2, 2]

    # (2) mono round trip: first frame exact, post-adaptation error
    # bounded by the step quantization (~step/8), rms small
    t = np.arange(3000) / 8000.0
    mono = 0.6 * np.sin(2 * np.pi * 440 * t)
    r2, f2 = C.decode_wav(C.encode_wav_adpcm(8000, mono))
    err = np.abs(f2[: len(mono), 0] - mono)
    assert r2 == 8000
    assert abs(f2[0, 0] - round(mono[0] * 32768) / 32768.0) < 1e-9
    assert err[500:].max() < 0.08 and np.sqrt((err ** 2).mean()) < 0.05

    # (3) stereo interleave
    stereo = np.stack([mono, 0.3 * np.cos(2 * np.pi * 220 * t)], axis=1)
    r3, f3 = C.decode_wav(C.encode_wav_adpcm(8000, stereo,
                                             samples_per_block=257))
    assert f3.shape[1] == 2
    assert np.abs(f3[500: len(stereo)] - stereo[500:]).max() < 0.08

    # (4) totality: a block missing its header / hostile step index →
    # loud ValueError; but a SHORT FINAL block with a full header
    # decodes its present nibbles (round-14 ADVICE fix — real-corpus
    # encoders emit short last blocks)
    torn = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + 3) + b"WAVE"
            + b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", 3) + block[:3])
    with pytest.raises(ValueError, match="truncated"):
        C.decode_wav(torn)
    shortblk = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + 6)
                + b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                + b"data" + st.pack("<I", 6) + block[:6])
    _, sf = C.decode_wav(shortblk)
    # header sample + 2 body bytes = 4 nibbles → 5 frames
    assert sf.shape == (5, 1)
    assert [round(v * 32768) for v in sf[:, 0]] == [0, 3, 2, 2, 2]
    # fact chunk: the encoder records the true frame count and decode
    # trims the final block's repeat-pad — length-exact round trip
    assert C.decode_wav(C.encode_wav_adpcm(8000, mono))[1].shape[0] == len(mono)
    bad = bytearray(wav)
    bad[-6] = 99  # header step index byte
    with pytest.raises(ValueError, match="step index"):
        C.decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="samples_per_block"):
        C.encode_wav_adpcm(8000, mono, samples_per_block=10)

    # (5) the routing layer sniffs the container as wav and (round 14)
    # tags the compressed family distinctly from the fmt chunk — the
    # graded codec_mix ADPCM leg counts on this tag
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        decode_media,
    )

    kind, (rr, ff) = decode_media("audio", C.encode_wav_adpcm(8000, mono))
    assert kind == "wav-adpcm" and rr == 8000 and ff.shape[1] == 1
    assert C.wav_audio_format(C.encode_wav(8000, mono)) == 1
    kp, _ = decode_media("audio", C.encode_wav(8000, mono))
    assert kp == "wav"


def test_codec_wav_ms_adpcm():
    """Microsoft ADPCM WAV (format tag 0x0002, round 14 — closing the
    common-WAV boundary next to IMA 0x0011): (1) a HAND-BUILT single
    block decodes to hand-computed samples (predictor 0, idelta 16,
    header samples emitted sample2-first, HIGH-nibble-first packing,
    the published adaptation table's max(16, (230*d)>>8) floor); (2)
    encoder-produced streams round-trip within the adaptive-delta
    bound with both header samples per block stored verbatim; (3)
    stereo alternates channels within each byte; (4) missing header /
    predictor > 6 fail loud, but a short FINAL block decodes its
    present nibbles; (5) decode_media tags it 'wav-ms-adpcm'; (6) the
    fact chunk makes round trips length-exact."""
    import struct as st

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    # (1) hand-built mono block: spb=6 -> block_align 9
    blk = (bytes([0]) + st.pack("<h", 16) + st.pack("<h", 4)
           + st.pack("<h", 0) + bytes([0x12, 0x9F]))
    fmt = (st.pack("<HHIIHHHHH", 2, 1, 8000, 8000 * 9 // 6, 9, 4, 32, 6, 7)
           + b"".join(st.pack("<hh", a, b) for a, b in
                      zip((256, 512, 0, 192, 240, 460, 392),
                          (0, -256, 0, 64, 0, -208, -232))))
    wav = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + len(blk))
           + b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
           + b"data" + st.pack("<I", len(blk)) + blk)
    assert C.sniff(wav) == "wav"
    rate, frames = C.decode_wav(wav)
    assert rate == 8000
    assert [round(v * 32768) for v in frames[:, 0]] == [0, 4, 20, 52, -60, -98]

    # (2) mono round trip: header samples exact, adaptive-delta bound
    t = np.arange(3000) / 8000.0
    mono = 0.6 * np.sin(2 * np.pi * 440 * t)
    r2, f2 = C.decode_wav(C.encode_wav_ms_adpcm(8000, mono))
    assert r2 == 8000
    assert f2.shape[0] == len(mono)  # (6) fact-trimmed, length-exact
    assert abs(f2[0, 0] - round(mono[0] * 32768) / 32768.0) < 1e-9
    assert abs(f2[1, 0] - round(mono[1] * 32768) / 32768.0) < 1e-9
    err = np.abs(f2[:, 0] - mono)
    assert err[100:].max() < 0.08 and np.sqrt((err ** 2).mean()) < 0.05

    # (3) stereo: channels come back separated, same bound
    stereo = np.stack([mono, 0.3 * np.cos(2 * np.pi * 220 * t)], axis=1)
    r3, f3 = C.decode_wav(C.encode_wav_ms_adpcm(8000, stereo,
                                                samples_per_block=256))
    assert f3.shape == (len(stereo), 2)
    assert np.abs(f3[100:] - stereo[100:]).max() < 0.08

    # (4) totality: header-short final block raises; short final block
    # with full header decodes its present nibbles; predictor 7 raises
    torn = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + 5) + b"WAVE"
            + b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", 5) + blk[:5])
    with pytest.raises(ValueError, match="truncated MS ADPCM"):
        C.decode_wav(torn)
    shortblk = wav.replace(
        b"data" + st.pack("<I", len(blk)) + blk,
        b"data" + st.pack("<I", 8) + blk[:8])
    _, sf = C.decode_wav(shortblk)
    assert [round(v * 32768) for v in sf[:, 0]] == [0, 4, 20, 52]
    bad = bytearray(wav)
    bad[-9] = 7  # predictor byte of the single block
    with pytest.raises(ValueError, match="predictor index"):
        C.decode_wav(bytes(bad))

    # (5) routing: distinct tag, one decode path
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        decode_media,
    )

    kind, (rr, ff) = decode_media("audio", C.encode_wav_ms_adpcm(8000, mono))
    assert kind == "wav-ms-adpcm" and rr == 8000 and ff.shape[1] == 1


def test_codec_wav_truncation_and_exact_transcode():
    """A data chunk shorter than its declared size fails LOUD (silently
    shorter audio corrupted duration/RMS); and the symmetric x32768
    scaling makes encode(decode(pcm)) the bit identity for extreme
    int16 samples (the old x32767 form attenuated |s|>=16384 by 1 LSB
    per transcode)."""
    import struct as st

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    pcm = np.array([[32767], [-32768], [16384], [-16384], [1], [0]],
                   dtype=np.int64) / 32768.0
    blob = codecs.encode_wav(8000, pcm)
    rate, frames = codecs.decode_wav(blob)
    assert codecs.encode_wav(rate, frames) == blob  # bit-identity transcode
    with pytest.raises(ValueError, match="truncated WAV"):
        codecs.decode_wav(blob[:-3])


def test_codec_png_trns_gray_truecolor_and_crc():
    """tRNS transparency applies to grayscale/truecolor too (alpha=0 at
    the named transparent value — pre-fix those PNGs lost their alpha);
    and a flipped PLTE byte fails the chunk CRC instead of decoding to
    silently wrong colors."""
    import struct as st
    import zlib

    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    def chunk(ctype, body):
        return (len(body).to_bytes(4, "big") + ctype + body
                + st.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    # 2x1 truecolor with tRNS naming (10, 20, 30): pixel 0 transparent
    raw = b"\x00" + bytes([10, 20, 30, 99, 99, 99])
    png = (codecs.PNG_MAGIC
           + chunk(b"IHDR", st.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0))
           + chunk(b"tRNS", st.pack(">HHH", 10, 20, 30))
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    out = codecs.decode_png(png)
    assert out.shape == (1, 2, 4)
    assert out[0, 0, 3] == 0 and out[0, 1, 3] == 255
    # grayscale tRNS
    raw_g = b"\x00" + bytes([7, 8])
    png_g = (codecs.PNG_MAGIC
             + chunk(b"IHDR", st.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0))
             + chunk(b"tRNS", st.pack(">H", 7))
             + chunk(b"IDAT", zlib.compress(raw_g))
             + chunk(b"IEND", b""))
    out_g = codecs.decode_png(png_g)
    assert out_g.shape == (1, 2, 4)
    assert out_g[0, 0, 3] == 0 and out_g[0, 1, 3] == 255
    assert tuple(out_g[0, 1, :3]) == (8, 8, 8)
    # CRC: flip a palette byte in a palette PNG -> loud, not wrong colors
    pal_px = np.zeros((1, 2, 3), dtype=np.uint8)
    pal_png = bytearray(codecs.encode_png(pal_px, palette=True)) \
        if "palette" in codecs.encode_png.__doc__.lower() else None
    if pal_png is None:
        # hand-build: 2 palette entries, both pixels index 0/1
        pal_png = bytearray(
            codecs.PNG_MAGIC
            + chunk(b"IHDR", st.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
            + chunk(b"IDAT", zlib.compress(b"\x00" + bytes([0, 1])))
            + chunk(b"IEND", b""))
    i = bytes(pal_png).index(b"PLTE") + 4
    pal_png[i] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        codecs.decode_png(bytes(pal_png))


def test_codec_avi_rational_timing_roundtrip(spark):
    """NTSC-style rational rates survive a demux → resize → re-mux
    round trip: the (dwRate, dwScale) pair is preserved verbatim (the
    float-fps path would re-mux 30000/1001 as 29970/1000), and avih's
    dwMicroSecPerFrame derives from the SAME pair. Mixed-shape frame
    lists also fail LOUD in video_features — inside the stub fallback's
    exception contract — instead of a raw broadcast error."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        resize_images,
    )

    frames = [np.full((16, 16, 3), 40 * (i + 1), dtype=np.uint8)
              for i in range(3)]
    blob = codecs.encode_avi_mjpeg(frames, rate_scale=(30000, 1001))
    assert codecs.avi_stream_timing(blob) == (30000, 1001)
    fps, _ = codecs.avi_frame_payloads(blob)
    assert abs(fps - 29.97002997) < 1e-6
    media = spark.createDataFrame(
        [(1, "video", bytearray(blob), None, None, None)], MEDIA_SCHEMA
    )
    out = resize_images(media, width=8, height=8).collect()[0]
    assert out.codec == "avi"
    assert codecs.avi_stream_timing(bytes(out.content)) == (30000, 1001)
    # mixed frame sizes: decodable (each JPEG carries its own SOF) but
    # feature-hostile -> ValueError -> the tagged stub, never a task crash
    j1 = codecs.encode_jpeg(frames[0])
    j2 = codecs.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
    one = codecs.encode_avi_mjpeg(frames[:1])
    # splicing a differently-sized frame into an AVI's movi is
    # intricate; assert the guard directly instead
    with pytest.raises(ValueError, match="features need one"):
        codecs.video_features(10.0, [codecs.decode_jpeg(j1), codecs.decode_jpeg(j2)])
    med2 = spark.createDataFrame(
        [(2, "video", bytearray(one), None, None, None)], MEDIA_SCHEMA
    )
    assert extract_features(med2).collect()[0].codec == "avi"


def test_tokenize_no_phantom_empty_tokens(spark):
    """Canonical w-shingling is empty-token-free: a tab/newline-padded
    duplicate matches its clean twin exactly (trim strips SPACES only,
    so the split used to emit a boundary '' that shifted shingles,
    MinHash signatures, and SimHash votes — and the md5 fingerprint
    normalization now collapses BEFORE trimming for the same reason)."""
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'alpha beta gamma delta epsilon'), "
        "(2, '\\talpha beta gamma delta epsilon\\n') "
        "AS t(doc_id, text)"
    )
    pairs = D.jaccard_pairs(df, "text", "doc_id", k=5, threshold=0.1).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in pairs] == [(1, 2, 1.0)]
    fps = D.dedup_fingerprint(df, "text", "doc_id").collect()
    assert len(fps) == 1 and fps[0].n_copies == 2
    sigs = {r.doc: r.signature for r in
            D.minhash_signature(df, "text", "doc_id", num_hashes=8, k=5).collect()}
    assert sigs[1] == sigs[2]


def test_boilerplate_ccnet_normalize_mode(spark):
    """normalize=True collapses case/digit variants of the same footer
    into one boilerplate key (Wenzek et al. 2020's normalized-paragraph
    hash); the default raw mode keeps them (each doc-frequency 1).
    Kept lines stay verbatim either way."""
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'real content one\\nPage 1 of 10'), "
        "(2, 'real content two\\nPage 2 of 10'), "
        "(3, 'real content three\\nPAGE 3 OF 10') "
        "AS t(doc_id, text)"
    )
    raw = {r.doc_id: r.text for r in
           D.remove_boilerplate_lines(df, min_docs=2).collect()}
    assert raw[1] == "real content one\nPage 1 of 10"  # footers survive raw
    norm = {r.doc_id: r for r in
            D.remove_boilerplate_lines(df, min_docs=2, normalize=True).collect()}
    assert norm[1].text == "real content one"
    assert norm[3].text == "real content three"
    assert norm[2].n_lines_dropped == 1


def test_cosine_zero_vector_guard_and_empty_cell_reseed(spark):
    """Zero-norm vectors score sim=0 (cosine is undefined; dividing gave
    Spark NULL vs DuckDB inf — a zero query 'ranked' k arbitrary
    neighbors with NULL sims), and Lloyd refinement keeps ALL n_cells
    centroids (an empty cell used to vanish from the re-average,
    silently training fewer cells than requested)."""
    df = spark.sql(
        "SELECT id AS vec_id, CASE WHEN id = 0 THEN array(0.0D, 0.0D, 0.0D) "
        "ELSE array(CAST(id AS DOUBLE), 1.0D, 0.5D) END AS embedding "
        "FROM range(20)"
    )
    out = S.cosine_topk_bruteforce(df, df.filter(F.col("vec_id") <= 1), k=3).collect()
    zero_q = [r for r in out if r.query_id == 0]
    assert len(zero_q) == 3 and all(r.sim == 0.0 for r in zero_q)
    live_q = [r for r in out if r.query_id == 1]
    assert all(r.sim is not None and r.sim > 0 for r in live_q)
    # empty-cell re-seed: 16 requested cells over 4 distinct points —
    # most cells empty after refinement, count must stay 16
    tight = spark.sql(
        "SELECT id AS _id, array(CAST(id % 4 AS DOUBLE), 0.0D) AS v FROM range(64)"
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import _train_centroids

    cents = _train_centroids(tight, 16, dim=2, iters=2)
    assert cents.count() == 16
