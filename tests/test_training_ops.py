"""Training-data operators: dedup (MinHash-LSH / Jaccard / clustering /
decontamination), text stats, multimodal plumbing, graph write layout."""

import random

import pytest
from pyspark.sql import functions as F

from pignlproc_spark.operators import dedup, multimodal, textstats, triples


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup of 0
        (3, "completely different words entirely unrelated content here"),
        (4, "alpha beta gamma delta epsilon zeta eta theta extra"),  # near dup
        (5, "short"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (0, 4) in pairs  # near dups share buckets
    verified = dedup.near_duplicates(docs, min_jaccard_pct=70)
    vp = {(r.id_a, r.id_b) for r in verified.collect()}
    assert (0, 1) in vp
    assert all(a < b for a, b in vp)
    # unrelated doc never pairs with the alpha-cluster at >=70%
    assert not any(3 in p for p in vp)


def test_minhash_wide_bands(spark, docs):
    # bands 0-3 of a wide config must equal the 4-band signatures
    # (digest 0 is unchanged), and extra keyed digests must widen the
    # candidate set monotonically (more bands -> superset of pairs)
    s4 = {(r.doc_id, r.band, r.sig) for r in dedup.minhash_signatures(docs, bands=4).collect()}
    s12 = dedup.minhash_signatures(docs, bands=12).collect()
    assert {(r.doc_id, r.band, r.sig) for r in s12 if r.band < 4} == s4
    assert {r.band for r in s12} == set(range(12))
    # lanes from different digests are actually different hash values
    by_doc = {}
    for r in s12:
        by_doc.setdefault(r.doc_id, set()).add(r.sig)
    assert any(len(v) > 4 for v in by_doc.values())
    p4 = {(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(docs, bands=4).collect()}
    p12 = {(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(docs, bands=12).collect()}
    assert p4 <= p12
    with pytest.raises(ValueError):
        dedup.minhash_signatures(docs, bands=17)


_PATH_IDS = random.Random(3).sample(range(40), 40)


def _union_find_components(pairs):
    parent = {}

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
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "pairs",
    [
        [],  # empty graph
        [(1, 2)],  # single edge
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)],  # long chain
        [(10, 11), (11, 12), (12, 10)],  # cycle
        [(5, 1), (5, 2), (5, 3), (5, 4)],  # star rooted above its leaves
        [(1, 2), (3, 4), (2, 3), (7, 8), (9, 9)],  # merge + self-loop
        list(zip(_PATH_IDS, _PATH_IDS[1:])),  # 40-node path, ids in shuffled order
        [(i // 2, i) for i in range(2, 32)],  # binary tree rooted at 1
        [(1, k) for k in range(2, 10)],  # star rooted at its minimum
    ],
)
def test_connected_components_shapes(spark, pairs):
    df = spark.createDataFrame(pairs or [(0, 0)], "id_a long, id_b long")
    if not pairs:
        df = df.where(F.lit(False))
    got = {r.doc_id: r.component_id for r in dedup.connected_components(df).collect()}
    want = _union_find_components([(a, b) for a, b in pairs if a != b])
    assert got == want


def test_connected_components_star_input_runs_no_round(spark):
    """An input that is already a star forest rooted at its minima runs
    zero large-star/small-star rounds: its Spark jobs are only the star
    test (edge normalization, node-role shuffle, take) and the read-off
    (groupBy shuffle, collect). One round costs more jobs than that."""
    sc = spark.sparkContext

    def jobs(pairs, group):
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        sc.setJobGroup(group, group)
        try:
            got = {r.doc_id: r.component_id for r in dedup.connected_components(df).collect()}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert got == _union_find_components(pairs)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    star = jobs([(1, k) for k in range(2, 10)], "cc-star")
    one_round = jobs([(9, k) for k in range(1, 9)], "cc-star-above")
    assert star <= 5, star
    assert one_round > star + 4, (one_round, star)


def test_connected_components_random_graphs(spark):
    for seed in (7, 42, 1234):
        rng = random.Random(seed)
        n = 60
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r.doc_id: r.component_id for r in dedup.connected_components(df).collect()}
        assert got == _union_find_components(pairs), f"seed {seed}"


def test_dedup_keep_decision(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 0)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in dedup.dedup_keep_decision(docs, pairs).collect()}
    assert rows[0].keep and rows[0].component_id == 0
    for d in (1, 2, 4):
        assert not rows[d].keep and rows[d].component_id == 0
    for d in (3, 5, 6):  # unpaired docs keep themselves
        assert rows[d].keep and rows[d].component_id == d
    assert len(rows) == 7


def test_repetition_signals(spark):
    rows = [
        (0, "a b a b a b"),  # 2-grams: ab×3 ba×2 -> n=5 top=3; 3-grams: aba×2 bab×2 -> n=4 dup=2
        (1, "x y z w"),  # all grams unique
        (2, "t"),  # below every gram size
        (3, ""),  # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.repetition_signals(df).collect()}
    r0 = got[0]
    assert (r0.n_tokens, r0.n_2grams, r0.top2gram_cnt, r0.n_3grams, r0.dup3gram_cnt) == (6, 5, 3, 4, 2)
    r1 = got[1]
    assert (r1.n_tokens, r1.n_2grams, r1.top2gram_cnt, r1.n_3grams, r1.dup3gram_cnt) == (4, 3, 1, 2, 0)
    assert (got[2].n_2grams, got[2].top2gram_cnt, got[3].n_tokens) == (0, 0, 0)


def test_jaccard_pairs_counts(spark, docs):
    rows = dedup.jaccard_pairs(docs, min_jaccard_pct=99).collect()
    exact = [r for r in rows if r.id_a == 0 and r.id_b == 1]
    assert exact and exact[0].inter_cnt == exact[0].union_cnt == 8


def test_rarity_score_exact(spark, docs):
    got = {r.doc_id: r for r in textstats.rarity_score(docs).collect()}
    assert 6 not in got  # empty tokenization -> no row (oracle parity)
    assert (got[5].n_tokens, got[5].sum_doc_freq) == (1, 1)  # df("short") == 1
    # doc 0: 8 tokens; alpha..eta each in docs {0,1,2,4} (df 4), theta in
    # {0,1,4} (df 3) -> sum = 7*4 + 3
    assert (got[0].n_tokens, got[0].sum_doc_freq) == (8, 31)


def test_mix_corpus_deterministic_epochs(spark):
    rows = [(i, "src%d" % (i % 2), "text") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = textstats.mix_corpus(df, {"src0": 200, "src1": 0}, default_pct=100).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    # src1 (weight 0) emits nothing; src0 (200%) exactly twice, epochs 1,2
    assert all(i not in by_doc for i in range(1, 20, 2))
    assert all(sorted(by_doc[i]) == [1, 2] for i in range(0, 20, 2))
    # fractional weight: copy count is floor + deterministic md5-bucket
    # extra — identical across repeated runs
    frac = textstats.mix_corpus(df, {"src0": 150}, default_pct=0)
    a = sorted((r.doc_id, r.epoch) for r in frac.collect())
    b = sorted((r.doc_id, r.epoch) for r in frac.collect())
    assert a == b
    n1 = sum(1 for d, e in a if e == 1)
    n2 = sum(1 for d, e in a if e == 2)
    assert n1 == 10 and 0 < n2 < 10  # every src0 doc once, ~half twice


def test_quality_gate_exact_percentile(spark):
    # 10 docs with 1..10 tokens; p10 rank = ceil(10*10/100) = 1 -> the
    # shortest doc IS the threshold doc, nothing is dropped at q=10;
    # q=30 -> rank 3 -> threshold 3 tokens, drops the two shortest
    rows = [(i, " ".join("w%d" % j for j in range(i))) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept10 = textstats.quality_gate(df, q=10).collect()
    assert len(kept10) == 10 and all(r.threshold == 1 for r in kept10)
    kept30 = {r.doc_id for r in textstats.quality_gate(df, q=30).collect()}
    assert kept30 == set(range(3, 11))


def test_tfidf_topk_salient_terms(spark):
    rows = [
        (0, "apple apple banana common common"),
        (1, "banana cherry common"),
        (2, "common common common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top1 = {r.doc_id: r for r in textstats.tfidf_topk(df, k=1).collect()}
    # rarest-and-frequent wins; a token in every doc has idf ln(1) = 0
    assert top1[0].token == "apple" and top1[0].tf == 2 and top1[0].doc_freq == 1
    assert top1[1].token == "cherry"
    assert top1[2].token == "common" and top1[2].score_q == 0
    import math

    assert top1[0].score_q == math.floor(1e6 * 2 * math.log(3 / 1))


def test_jsonl_shard_export_roundtrip(spark, tmp_path):
    from pignlproc_spark import tables
    from pignlproc_spark.operators.textstats import hash_bucket

    rows = [
        (0, "plain text", 3),
        (1, "uni¢ode €", None),  # null field drops from JSON both sides
        (2, "tab\tand\nnewline", 7),
        (3, "", 0),
        (4, "x" * 500, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    path = str(tmp_path / "export")
    man = tables.write_jsonl_shards(df, path, n_shards=3)
    assert sum(s["rows"] for s in man["shards"].values()) == 5
    back = tables.read_jsonl_shards(spark, path, "doc_id long, text string, label int")
    # content round-trips exactly and shard membership is the frozen bucket
    got = {r.doc_id: (r.text, r.label, r.shard) for r in back.collect()}
    want_shard = {
        r.doc_id: r.s
        for r in df.select("doc_id", hash_bucket(F.col("doc_id"), 3).alias("s")).collect()
    }
    assert {k: (t, l) for k, (t, l, _) in got.items()} == {r[0]: (r[1], r[2]) for r in rows}
    assert {k: s for k, (_, _, s) in got.items()} == want_shard
    # verifier accepts the export and a re-export is manifest-identical
    assert tables.verify_jsonl_shards(spark, path, "doc_id long, text string, label int") == man
    man2 = tables.write_jsonl_shards(df, str(tmp_path / "export2"), n_shards=3)
    assert man2["shards"] == man["shards"]
    # tampering (a dropped shard directory) must be caught
    import shutil

    some_shard = next(iter(man["shards"]))
    shutil.rmtree(f"{path}/shard={some_shard}")
    with pytest.raises(ValueError, match="mismatch|manifest"):
        tables.verify_jsonl_shards(spark, path, "doc_id long, text string, label int")


def test_lang_id_and_quality(spark):
    rows = [
        (1, "the cat and the dog went to the house with that hat"),
        (2, "der hund und die katze ist nicht mit den kindern"),
        (3, "xyzzy plugh qwark"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    langs = {r.doc_id: r.lang_pred for r in textstats.lang_id(df).collect()}
    assert langs[1] == "en" and langs[2] == "de" and langs[3] == "und"
    q = {r.doc_id: r for r in textstats.quality_signals(df).collect()}
    assert q[1].n_tokens == 12 and q[4].n_tokens == 0
    assert q[1].n_stopword_hits > 0 and q[3].n_stopword_hits == 0
    fp = {r.doc_id: r.fingerprint for r in textstats.doc_fingerprint(df).collect()}
    assert fp[1] != fp[2] and len(fp[1]) == 32


def test_multimodal_plumbing(spark):
    media = multimodal.fake_media_df(spark, 32)
    feats = multimodal.extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    for r in rows:
        assert len(r.feature) == multimodal.FEATURE_DIM
        assert r.n_bytes > 0 and len(r.sha1) == 40 and 1 <= r.frames_sampled <= 16
    # determinism across repartitionings
    again = {r.url: r.sha1 for r in multimodal.extract_media_features(media.repartition(7)).collect()}
    assert {r.url: r.sha1 for r in rows} == again
    # the real decoder is an explicit stub
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(b"bytes", "image")


def test_multimodal_resize_and_frames(spark):
    media = multimodal.fake_media_df(spark, 30)
    resized = multimodal.resize_images(media, 32, 16).collect()
    assert resized and all(r.width == 32 and r.height == 16 and len(r.payload) == 8 for r in resized)
    assert len(resized) == sum(1 for r in media.collect() if r.kind == "image")

    frames = multimodal.sample_frames(media, every_ms=500)
    rows = frames.collect()
    assert rows and all(r.ts_ms == r.frame_idx * 500 and len(r.frame) == 16 for r in rows)
    urls = {r.url for r in rows}
    assert urls == {r.url for r in media.collect() if r.kind == "video"}
    # determinism across partitionings
    again = multimodal.sample_frames(media.repartition(5), every_ms=500).collect()
    assert sorted((r.url, r.frame_idx, bytes(r.frame)) for r in rows) == sorted(
        (r.url, r.frame_idx, bytes(r.frame)) for r in again
    )


def test_bmp_codec_roundtrip_and_resize():
    import numpy as np

    px = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)  # w=5 exercises row padding
    payload = multimodal.encode_bmp(px)
    w, h, back = multimodal.decode_bmp(payload)
    assert (w, h) == (5, 3)
    assert np.array_equal(back, px)
    # nearest-neighbor downscale: exact index arithmetic, no float
    small = multimodal.resize_bmp(payload, 2, 2)
    w2, h2, px2 = multimodal.decode_bmp(small)
    assert (w2, h2) == (2, 2)
    xs = (np.arange(2) * 5) // 2
    ys = (np.arange(2) * 3) // 2
    assert np.array_equal(px2, px[ys][:, xs])
    # strictness: wrong magic / truncated pixel data raise
    with pytest.raises(ValueError):
        multimodal.decode_bmp(b"PNG garbage")
    with pytest.raises(ValueError):
        multimodal.decode_bmp(payload[:60])


def test_wav_codec_variants():
    import io
    import struct
    import wave

    def make(nch, sampwidth, rate, frames):
        bio = io.BytesIO()
        with wave.open(bio, "wb") as wv:
            wv.setnchannels(nch)
            wv.setsampwidth(sampwidth)
            wv.setframerate(rate)
            wv.writeframes(frames)
        return bio.getvalue()

    # 16-bit stereo: channel de-interleave
    vals = [100, -200, 300, -400, 500, -600]
    rate, samples = multimodal.decode_wav(
        make(2, 2, 16000, b"".join(struct.pack("<h", v) for v in vals))
    )
    assert rate == 16000 and samples.shape == (3, 2)
    assert samples[:, 0].tolist() == [100, 300, 500]
    # 8-bit mono: unsigned, centered at 128
    rate8, s8 = multimodal.decode_wav(make(1, 1, 8000, bytes([0, 128, 255])))
    assert rate8 == 8000 and s8[:, 0].tolist() == [-128, 0, 127]
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFFxxxxNOPE")


def test_media_stats_real_decode(spark, synth_dir):
    """media_stats over the synth media table hash-matches the
    plan-derived golden (independent encoder), and corrupt payloads
    degrade to decoded=0 instead of failing the job."""
    media = spark.read.parquet(str(synth_dir / "media.parquet"))
    got = {r.url: r for r in multimodal.media_stats(media.select("url", "kind", "payload")).collect()}
    gold = spark.read.parquet(str(synth_dir / "golden_media_stats.parquet")).collect()
    assert len(got) == len(gold)
    for grow in gold:
        r = got[grow.url]
        assert r.decoded == grow.decoded, grow.url
        if grow.kind == "image" and grow.decoded:
            assert (r.width, r.height, r.n_pixels) == (grow.width, grow.height, grow.n_pixels)
            assert (r.sum_r, r.sum_g, r.sum_b) == (grow.sum_r, grow.sum_g, grow.sum_b)
        if grow.kind == "audio" and grow.decoded:
            assert (r.sample_rate, r.n_samples) == (grow.sample_rate, grow.n_samples)
            assert (r.sum_abs, r.zero_crossings) == (grow.sum_abs, grow.zero_crossings)
        if grow.kind == "video":
            assert r.decoded == 0 and r.width is None and r.sum_abs is None
    # all three image codecs are represented in the fixture
    kinds = {
        b"BM" if bytes(r.payload)[:2] == b"BM"
        else (b"\xff\xd8" if bytes(r.payload)[:2] == b"\xff\xd8" else b"PNG")
        for r in media.where("kind = 'image'").select("payload").collect()
    }
    assert kinds == {b"BM", b"\xff\xd8", b"PNG"}
    # corrupt BMP/PNG/JPEG/WAV headers degrade, never raise
    bad = spark.createDataFrame(
        [("u1", "image", bytearray(b"BM" + b"\x00" * 20)),
         ("u2", "audio", bytearray(b"RIFF\x00\x00\x00\x00WAVEjunk")),
         ("u3", "image", None),
         ("u4", "image", bytearray(multimodal.PNG_SIG + b"\x00" * 30)),
         ("u5", "image", bytearray(b"\xff\xd8\xff\xe0\x00\x04aa\xff\xd9"))],
        "url string, kind string, payload binary",
    )
    rows = {r.url: r for r in multimodal.media_stats(bad).collect()}
    assert all(rows[u].decoded == 0 for u in ("u1", "u2", "u3", "u4", "u5"))


def test_png_decode_rejects_unsupported_variants():
    """Palette / 16-bit / interlaced / truncated PNGs raise ValueError
    (→ the degrade-to-NULL path), never a wrong decode."""
    import struct as st
    import zlib

    import pytest as pt

    def png(ihdr_body, idat=b""):
        def chunk(t, b):
            return st.pack(">I", len(b)) + t + b + st.pack(">I", zlib.crc32(t + b))

        return (
            multimodal.PNG_SIG + chunk(b"IHDR", ihdr_body)
            + chunk(b"IDAT", zlib.compress(idat)) + chunk(b"IEND", b"")
        )

    ok_rgb = st.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    w, h, px = multimodal.decode_png(png(ok_rgb, b"\x00" + bytes(6)))
    assert (w, h) == (2, 1) and px.shape == (1, 2, 3)
    for bad in (
        st.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0),   # palette
        st.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0),  # 16-bit
        st.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 1),   # Adam7
        st.pack(">IIBBBBB", 2, 1, 8, 4, 0, 0, 0),   # grey+alpha
    ):
        with pt.raises(ValueError):
            multimodal.decode_png(png(bad, b"\x00" + bytes(8)))
    with pt.raises(ValueError):  # truncated scanlines
        multimodal.decode_png(png(ok_rgb, b"\x00" + bytes(2)))
    with pt.raises(ValueError):  # bad filter type
        multimodal.decode_png(png(ok_rgb, b"\x07" + bytes(6)))
    with pt.raises(ValueError):  # IHDR body shorter than 13 bytes
        multimodal.decode_png(png(st.pack(">IIB", 2, 1, 8)))
    with pt.raises(ValueError):  # pixel cap bounds Python-loop work
        multimodal.decode_png(png(st.pack(">IIBBBBB", 1 << 13, 1 << 13, 8, 2, 0, 0, 0)))
    with pt.raises(zlib.error):  # garbage deflate stream
        bomb = (
            multimodal.PNG_SIG
            + st.pack(">I", 13) + b"IHDR" + ok_rgb + bytes(4)
            + st.pack(">I", 8) + b"IDAT" + b"notzlib!" + bytes(4)
            + st.pack(">I", 0) + b"IEND" + bytes(4)
        )
        multimodal.decode_png(bomb)


def test_jpeg_decode_spec_exact_and_rejects_unsupported():
    """decode_jpeg must reproduce the CCJpegRecon v1 expected pixels
    BIT-EXACTLY from the independent synth encoder's bytes — baseline
    AND progressive containers, across 4:4:4 / 4:2:0 / greyscale ×
    restart-interval variants — and must reject frame types it cannot
    decode (arithmetic coding) rather than mis-decode."""
    import random as rnd

    import numpy as np
    import pytest as pt

    from pignlproc_spark.synth import jpeg_bytes, jpeg_progressive_bytes

    rng = rnd.Random(11)
    for enc in (jpeg_bytes, jpeg_progressive_bytes):
        for mode in ("444", "422", "420", "grey"):
            for rst in (0, 3):
                pw, ph = 9 + rng.randrange(16), 7 + rng.randrange(14)
                nch = 1 if mode == "grey" else 3
                px = [
                    [tuple(rng.randrange(256) for _ in range(nch)) for _ in range(pw)]
                    for _ in range(ph)
                ]
                payload, expected = enc(px, mode, restart_interval=rst)
                w, h, got = multimodal.decode_jpeg(payload)
                assert (w, h) == (pw, ph)
                assert np.array_equal(got.astype(np.int64), np.array(expected, dtype=np.int64))
                # lossy-but-faithful: decoded output approximates the INPUT
                # (catches spec-consistent-but-wrong pairs, e.g. transposed)
                if nch == 3:
                    err = np.abs(got.astype(np.int64) - np.array(px, dtype=np.int64))
                    assert err.mean() < 64  # random noise compresses badly but not absurdly
    # baseline and progressive containers of the SAME pixels share one
    # expected-pixel golden (the CCJpegRecon v1 contract)
    px = [[(10 * x % 256, 7 * y % 256, (x + y) % 256) for x in range(17)] for y in range(19)]
    pb, eb = jpeg_bytes(px, "420")
    pp, ep = jpeg_progressive_bytes(px, "420")
    assert eb == ep
    assert np.array_equal(multimodal.decode_jpeg(pb)[2], multimodal.decode_jpeg(pp)[2])
    # arithmetic-coded (SOF9) must raise, not mis-decode
    payload, _ = jpeg_bytes([[(1, 2, 3)] * 8] * 8, "444")
    sof0_at = payload.index(b"\xff\xc0")
    arith = payload[:sof0_at] + b"\xff\xc9" + payload[sof0_at + 2 :]
    with pt.raises(ValueError):
        multimodal.decode_jpeg(arith)
    # oversized dimensions bound the Python entropy-decode loop
    big = bytearray(payload)
    import struct as st

    st.pack_into(">HH", big, sof0_at + 5, 4096, 4096)
    with pt.raises(ValueError):
        multimodal.decode_jpeg(bytes(big))


def test_media_stats_survives_corrupt_idat_and_short_ihdr(spark):
    """zlib.error / struct.error from malformed PNG internals degrade
    to NULL stats inside media_stats instead of killing the task."""
    import struct as st
    import zlib

    def chunk(t, b):
        return st.pack(">I", len(b)) + t + b + st.pack(">I", zlib.crc32(t + b))

    ok_rgb = st.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
    corrupt_idat = multimodal.PNG_SIG + chunk(b"IHDR", ok_rgb) + chunk(
        b"IDAT", b"notzlib!"
    ) + chunk(b"IEND", b"")
    short_ihdr = multimodal.PNG_SIG + chunk(b"IHDR", b"\x00\x01") + chunk(
        b"IDAT", zlib.compress(b"\x00" + bytes(6))
    ) + chunk(b"IEND", b"")
    bad = spark.createDataFrame(
        [("c1", "image", bytearray(corrupt_idat)), ("c2", "image", bytearray(short_ihdr))],
        "url string, kind string, payload binary",
    )
    rows = {r.url: r for r in multimodal.media_stats(bad).collect()}
    assert all(rows[u].decoded == 0 and rows[u].width is None for u in ("c1", "c2"))


def test_resize_images_real_formats(spark, synth_dir):
    """resize_image handles ALL dependency-free image formats (BMP,
    PNG and baseline JPEG in — the synth media table carries all
    three — normalized 24-bpp BMP out)."""
    media = spark.read.parquet(str(synth_dir / "media.parquet"))
    out = multimodal.resize_images(
        media.where("kind = 'image'"), 4, 3, resizer=multimodal.resize_image
    ).collect()
    assert out
    for r in out:
        w, h, _ = multimodal.decode_bmp(bytes(r.payload))
        assert (w, h) == (4, 3)
    # nearest-neighbor on a PNG picks the exact source pixels
    import numpy as np

    src = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    bmp = multimodal.encode_bmp(src)
    up = multimodal.resize_image(bmp, 4, 4)
    _, _, big = multimodal.decode_bmp(up)
    assert (big[0, 0] == src[0, 0]).all() and (big[3, 3] == src[1, 1]).all()


def test_salted_text_agg_multiset_equivalent(spark):
    from pignlproc_spark.operators import stats

    rows = [("k%d" % (i % 3), "w%02d" % i) for i in range(50)]
    df = spark.createDataFrame(rows, "uri string, context string")
    salted = {r.uri: r.text for r in stats.aggregate_text_salted(df, "uri", "context", salt_buckets=4).collect()}
    plain = {
        r.uri: r.doc
        for r in df.groupBy("uri")
        .agg(F.concat_ws(" ", F.sort_array(F.collect_list("context"))).alias("doc"))
        .collect()
    }
    assert salted.keys() == plain.keys()
    for k in plain:
        assert sorted(salted[k].split(" ")) == sorted(plain[k].split(" "))


def test_write_tsv_parity(spark, tmp_path):
    from pignlproc_spark import tables

    df = spark.createDataFrame(
        [("alpha beta", "http://x/A", 3), ("with\ttab", "http://x/B", 1)],
        "surface_form string, uri string, cnt int",
    )
    path = tables.write_tsv(df, str(tmp_path / "pairCounts"))
    back = spark.read.option("sep", "\t").option("escape", "\\").csv(path)
    rows = sorted(tuple(r) for r in back.collect())
    assert rows == [("alpha beta", "http://x/A", "3"), ("with\ttab", "http://x/B", "1")]
    # typed LOAD parity: read_tsv is the exact inverse, types included
    typed = tables.read_tsv(spark, path, "surface_form string, uri string, cnt int")
    assert sorted(tuple(r) for r in typed.collect()) == sorted(tuple(r) for r in df.collect())
    # embedded newlines are quoted on write and need multiline=True to
    # parse back (each file then reads as one task — documented trade)
    nl = spark.createDataFrame([("a\nb", "u", 1), ("plain", "v", 2)], df.schema)
    nl_path = tables.write_tsv(nl, str(tmp_path / "newlines"))
    got = tables.read_tsv(spark, nl_path, "surface_form string, uri string, cnt int", multiline=True)
    assert sorted(tuple(r) for r in got.collect()) == sorted(tuple(r) for r in nl.collect())
    # '' collapses to NULL on the round trip (unquoted empty field —
    # PigStorage byte-format parity; documented contract)
    emp = spark.createDataFrame([("", "u", 1)], df.schema)
    emp_path = tables.write_tsv(emp, str(tmp_path / "empties"))
    assert tables.read_tsv(spark, emp_path, "a string, b string, c int").collect()[0].a is None


def test_bpe_ish_token_counts(spark):
    rows = [
        (0, "Hello world"),        # 2 pieces
        (1, "it's 2024, folks!"),  # it|'s| 2024|,| folks|! = 6
        (2, ""),                   # 0
        (3, "a-b"),                # a|-|b = 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_pieces for r in textstats.bpe_ish_token_counts(df).collect()}
    assert got == {0: 2, 1: 6, 2: 0, 3: 3}


def test_corpus_filter_decisions(spark):
    good = "the quick brown fox jumps over the lazy dog and then runs far away to find " * 2
    rows = [
        (0, good),                      # keep
        (1, good),                      # exact dup of 0 -> dropped (not canonical)
        (2, "short text"),              # too few tokens
        (3, "le chat est dans la maison et le chien est dans le jardin pour une promenade " * 2),  # fr
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.corpus_filter(df, min_tokens=20).collect()}
    assert got[0].keep == 1 and got[0].is_canonical == 1
    assert got[1].keep == 0 and got[1].is_canonical == 0 and got[1].ok_len == 1
    assert got[2].keep == 0 and got[2].ok_len == 0
    assert got[3].keep == 0 and got[3].ok_lang == 0


def test_write_graph_layout(spark, tmp_path):
    t = spark.createDataFrame(
        [("s1", "kg:linksTo", "o1", 2), ("s2", "kg:uriCount", "3", 3)],
        "subj string, pred string, obj string, weight long",
    )
    path = triples.write_graph(t, name="graph_t", root=str(tmp_path))
    import os

    preds = {d for d in os.listdir(path) if d.startswith("pred=")}
    assert preds == {"pred=kg%3AlinksTo", "pred=kg%3AuriCount"} or preds == {"pred=kg:linksTo", "pred=kg:uriCount"}
    back = spark.read.parquet(path)
    assert back.count() == 2 and set(back.columns) == {"subj", "pred", "obj", "weight"}


def test_write_graph_small_graph_one_file_per_pred(spark, tmp_path):
    # a few thousand triples coalesce to one partition: one file per pred
    import glob

    t = spark.range(3000).select(
        F.concat(F.lit("s"), (F.col("id") % 300).cast("string")).alias("subj"),
        F.when(F.col("id") % 3 == 0, F.lit("kg:linksTo")).otherwise(F.lit("kg:uriCount")).alias("pred"),
        F.col("id").cast("string").alias("obj"),
        F.col("id").alias("weight"),
    )
    path = triples.write_graph(t, name="graph_small", root=str(tmp_path))
    files = glob.glob(f"{path}/pred=*/*.parquet")
    assert len(files) == 2, files
    assert spark.read.parquet(path).count() == 3000


def test_entity_cooccurrence(spark):
    from pignlproc_spark.operators import stats

    rows = [
        ("u1", "A"), ("u1", "B"), ("u1", "B"),
        ("u2", "A"), ("u2", "C"),
        ("u3", "A"),
    ]
    m = spark.createDataFrame(rows, "url string, uri string")
    got = {(r.uri_a, r.uri_b): r.cnt for r in stats.entity_cooccurrence(m).collect()}
    assert got == {("A", "B"): 1, ("A", "C"): 1}
    # the fanout cap drops busy pages before the self-join
    capped = stats.entity_cooccurrence(m, max_entities_per_page=1).count()
    assert capped == 0


def test_entity_pagerank(spark):
    from pignlproc_spark.operators import stats

    rows = [
        ("p1", "A"), ("p1", "B"),
        ("p2", "A"), ("p2", "B"),
        ("p3", "A"), ("p3", "C"),
        ("p4", "D"), ("p4", "E"),
    ]
    m = spark.createDataFrame(rows, "url string, uri string")
    got = {r.uri: r.rank for r in stats.entity_pagerank(m, iterations=12).collect()}

    # dense reference: same update rule, same iteration count
    w = {("A", "B"): 2, ("A", "C"): 1, ("D", "E"): 1}
    edges = {}
    for (a, b), c in w.items():
        edges.setdefault(a, {})[b] = c
        edges.setdefault(b, {})[a] = c
    n = len(edges)
    ranks = {u: 1.0 / n for u in edges}
    d = 0.85
    for _ in range(12):
        contrib = {u: 0.0 for u in edges}
        for u, nbrs in edges.items():
            W = sum(nbrs.values())
            for v, c in nbrs.items():
                contrib[v] += ranks[u] * c / W
        ranks = {u: (1 - d) / n + d * contrib[u] for u in edges}

    assert set(got) == set(ranks)
    for u in ranks:
        assert abs(got[u] - ranks[u]) < 1e-9, u
    # mass conservation (no dangling nodes by construction)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # hub entity dominates its cluster
    assert got["A"] > got["B"] > 0


def test_stratified_sample(spark):
    rows = [(i, "x y z", "en" if i % 2 == 0 else "de") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in textstats.stratified_sample(df, {"en": 100, "de": 0}).collect()}
    assert all(out[i].keep == 1 for i in range(0, 200, 2))
    assert all(out[i].keep == 0 for i in range(1, 200, 2))
    # growth consistency: a doc's verdict never changes as the corpus grows
    sub = {
        r.doc_id: r.keep
        for r in textstats.stratified_sample(df.where("doc_id < 50"), {"en": 100, "de": 0}).collect()
    }
    assert all(sub[i] == out[i].keep for i in sub)
    # 50% rate lands near 50% (hash buckets, not RNG)
    half = textstats.stratified_sample(df, {"en": 50, "de": 50})
    frac = half.agg(F.sum("keep")).collect()[0][0] / 200
    assert 0.35 < frac < 0.65
    # unknown stratum falls to default_pct
    other = spark.createDataFrame([(999, "t", "fr")], "doc_id long, text string, lang string")
    assert textstats.stratified_sample(other, {"en": 50}, default_pct=0).collect()[0].keep == 0


def test_global_token_stats(spark):
    rows = [(0, "a b a"), (1, "a c"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.token: (r.doc_freq, r.total_cnt) for r in textstats.global_token_stats(df).collect()}
    assert got == {"a": (2, 3), "b": (1, 1), "c": (1, 1)}


def test_pack_sequences_matches_reference(spark):
    import hashlib

    cap, shards = 7, 3
    texts = {i: "tok " * (i % 5) for i in range(40)}  # includes empty docs
    df = spark.createDataFrame([(i, t) for i, t in texts.items()], "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.pack_sequences(df, capacity=cap, shards=shards).collect()}

    # independent reference: python bucketing + running sums
    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % shards

    by_shard: dict[int, list[int]] = {}
    for i in sorted(texts):
        by_shard.setdefault(bucket(i), []).append(i)
    for shard, ids in by_shard.items():
        cum = 0
        for i in ids:
            n = i % 5  # "tok " * k -> k pieces (one per word)
            r = got[i]
            assert (r.shard, r.n_pieces, r.cum_before) == (shard, n, cum)
            assert r.seq_start == cum // cap
            assert r.offset_in_seq == cum % cap
            assert r.seq_end == (cum + max(n, 1) - 1) // cap
            cum += n
    assert len(got) == len(texts)


def test_length_quantiles_exact_ranks(spark):
    # en: counts 1..10 -> p50 = value at rank 5, p90 at 9, p99 at 10
    # de: counts all equal (ties) -> every quantile is that value
    rows = [(i, "w " * i, "en") for i in range(1, 11)]
    rows += [(100 + i, "w w w", "de") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {(r.stratum, r.q): (r.n_docs, r.q_value) for r in textstats.length_quantiles(df).collect()}
    assert got[("en", 50)] == (10, 5)
    assert got[("en", 90)] == (10, 9)
    assert got[("en", 99)] == (10, 10)
    assert got[("de", 50)] == (4, 3) and got[("de", 90)] == (4, 3) and got[("de", 99)] == (4, 3)
    assert len(got) == 6


def test_contamination_spans_and_strip(spark):
    shared = "one two three four five six seven eight"  # one eval window (n=8)
    corpus = spark.createDataFrame(
        [
            (1, "aaa bbb " + shared + " ccc ddd"),
            (2, "clean doc with nothing shared at all here ok"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, "intro " + shared + " outro")], "doc_id long, text string")
    spans = dedup.contamination_spans(corpus, ev, n=8).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s.doc_id, s.span_start, s.span_end, s.n_windows) == (1, 2, 9, 1)
    got = {r.doc_id: r for r in dedup.strip_contaminated_spans(corpus, ev, n=8).collect()}
    assert got[1].clean_text == "aaa bbb ccc ddd"
    assert (got[1].n_tokens_kept, got[1].n_tokens_dropped) == (4, 8)
    assert got[2].clean_text == corpus.collect()[1].text  # token-identical passthrough
    assert got[2].n_tokens_dropped == 0
    # hit windows merge into maximal spans, a gap wider than the window
    # splits them, and a doc shorter than the window never emits
    s0 = "one two three four five six seven eight nine ten"
    s1, s2 = "alpha beta gamma delta epsilon", "zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            (3, "aaa bbb " + s0 + " ccc"),
            (4, s1 + " " + " ".join(f"u{i}" for i in range(8)) + " " + s2),
            (5, "a b c"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, s0), (101, s1), (102, s2)], "doc_id long, text string")
    spans = sorted(tuple(r) for r in dedup.contamination_spans(corpus, ev, n=5).collect())
    assert spans == [(3, 2, 11, 6), (4, 0, 4, 1), (4, 13, 17, 1)]


def test_link_prediction(spark):
    from pignlproc_spark.operators import stats

    # graph A-B, A-C, B-C, C-D (p5 duplicates A-B; weight is irrelevant)
    rows = [
        ("p1", "A"), ("p1", "B"),
        ("p2", "A"), ("p2", "C"),
        ("p3", "B"), ("p3", "C"),
        ("p4", "C"), ("p4", "D"),
        ("p5", "A"), ("p5", "B"),
    ]
    m = spark.createDataFrame(rows, "url string, uri string")
    got = {(r.uri, r.rank): r for r in stats.link_prediction(m, k=10).collect()}
    # missing pairs witnessed by a common neighbor: A-D and B-D (via C, deg 3)
    ra_c = 10**6 // 3
    assert (got[("A", 1)].cand_uri, got[("A", 1)].n_common, got[("A", 1)].ra_q) == ("D", 1, ra_c)
    assert got[("B", 1)].cand_uri == "D"
    # D ties on scores; cand_uri ASC breaks the tie deterministically
    assert [got[("D", i)].cand_uri for i in (1, 2)] == ["A", "B"]
    # adjacent pairs never appear; C has no non-adjacent 2-hop neighbor
    assert set(got) == {("A", 1), ("B", 1), ("D", 1), ("D", 2)}
    # hub exclusion: dropping C (deg 3) as intermediary removes every wedge
    assert stats.link_prediction(m, k=10, max_hub_deg=2).count() == 0
    # relational end to end: no Python eval, and the wedge fanout is an
    # equi-join on the common neighbor, never a cartesian product
    plan = stats.link_prediction(m, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_link_prediction_hub_cap_recall_bound(spark):
    """The documented recall bound of the ``max_hub_deg`` guard
    (build_kg --max-hub-deg, default 10^4): the capped path drops
    EXACTLY the candidate pairs whose every common neighbor is a hub;
    any pair with >= 1 low-degree witness survives, scored over its
    non-hub witnesses only. Hubs are filtered as *intermediaries* —
    they can still appear as candidate endpoints."""
    from pignlproc_spark.operators import stats

    # hub H—{A,B,C,D} (deg 4); low-degree witness W—{A,B} (deg 2)
    cooc = spark.createDataFrame(
        [("A", "H"), ("B", "H"), ("C", "H"), ("D", "H"), ("A", "W"), ("B", "W")],
        "uri_a string, uri_b string",
    )
    m_unused = spark.createDataFrame([], "url string, uri string")

    def pairs(df):
        return {
            tuple(sorted((r.uri, r.cand_uri))): (r.n_common, r.ra_q)
            for r in df.collect()
        }

    exact = pairs(stats.link_prediction(m_unused, k=10, cooc=cooc))
    capped = pairs(stats.link_prediction(m_unused, k=10, cooc=cooc, max_hub_deg=3))
    # exact: A-B via {H deg4, W deg2}; H-W via {A, B} (deg 2 each);
    # {A,B}x{C,D} and C-D via H only
    assert exact[("A", "B")] == (2, 10**6 // 4 + 10**6 // 2)
    assert exact[("H", "W")] == (2, 10**6 // 2 + 10**6 // 2)
    hub_only = {("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"), ("C", "D")}
    assert set(exact) == {("A", "B"), ("H", "W")} | hub_only
    # capped drops the hub-only-witnessed pairs and nothing else...
    assert set(capped) == set(exact) - hub_only
    # ...and rescores survivors over non-hub witnesses only: A-B keeps
    # just W; H-W is untouched (H is an endpoint, not an intermediary)
    assert capped[("A", "B")] == (1, 10**6 // 2)
    assert capped[("H", "W")] == exact[("H", "W")]


def test_positional_index(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta alpha gamma"), (2, "beta beta"), (3, "")],
        "doc_id long, text string",
    )
    got = {(r.token, r.doc_id): r for r in textstats.positional_index(df).collect()}
    assert got[("alpha", 1)].tf == 2 and got[("alpha", 1)].positions == [0, 2]
    assert got[("beta", 1)].positions == [1]
    assert got[("gamma", 1)].positions == [3]
    assert got[("beta", 2)].tf == 2 and got[("beta", 2)].positions == [0, 1]
    # empty doc contributes no postings
    assert all(k[1] != 3 for k in got)


def test_collocations(spark):
    df = spark.createDataFrame(
        [(1, "new york new york city"), (2, "york new york weather"), (3, "one shot")],
        "doc_id long, text string",
    )
    rows = textstats.collocations(df, min_count=2, k=10).collect()
    got = {(r.tok_a, r.tok_b): r for r in rows}
    # "new york" appears 3x; unigram counts new=3 (pos 0,2 doc1 + pos1 doc2... ) -> verify exact ints
    ny = got[("new", "york")]
    assert (ny.cnt_xy, ny.cnt_x, ny.cnt_y) == (3, 3, 4)
    # min_count prunes hapax bigrams ("one","shot") and k caps output
    assert ("one", "shot") not in got
    # ranking: higher cnt_xy/(cnt_x*cnt_y) first
    scores = [r.cnt_xy / (r.cnt_x * r.cnt_y) for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_phrase_search(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b"),  # "a b c" at 0 and 3
            (2, "b c a"),  # contains all terms but not the phrase
            (3, "a a a a"),  # overlapping self-phrase
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in textstats.phrase_search(df, ["a", "b", "c"]).collect()
    }
    assert got == {1: (2, 0)}
    # overlapping matches all count ("a a" in "a a a a" -> 3)
    ov = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in textstats.phrase_search(df, ["a", "a"]).collect()
    }
    assert ov == {3: (3, 0)}
    # single-term phrase degenerates to per-doc term count
    single = {r.doc_id: r.n_matches for r in textstats.phrase_search(df, ["b"]).collect()}
    assert single == {1: 3, 2: 1}
    with pytest.raises(ValueError):
        textstats.phrase_search(df, [])


def test_bm25_topk_matches_reference(spark):
    import math

    texts = {
        1: "apple banana apple cherry",
        2: "banana banana banana durian durian",
        3: "cherry",
        4: "apple cherry cherry cherry banana",
        5: "fig grape plum",  # matches no query term
        6: "",  # token-empty doc still counts toward N (explode_outer)
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    q = ["apple", "cherry", "durian"]
    res = textstats.bm25_topk(df, q, k=3)
    got = res.collect()
    # pure-Python replica of the frozen spec (same quantize-then-sum)
    tokd = {d: t.split() for d, t in texts.items()}
    n = len(texts)
    dl = {d: len(t) for d, t in tokd.items()}
    avgdl = sum(dl.values()) / n
    dft = {t: sum(1 for toks in tokd.values() if t in toks) for t in q}

    def score(d):
        matched, sq = 0, 0
        for t in q:
            tf = tokd[d].count(t)
            if not tf:
                continue
            matched += 1
            idf = math.log(1.0 + (n - dft[t] + 0.5) / (dft[t] + 0.5))
            tfn = (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl[d] / avgdl))
            sq += math.floor(1000000.0 * idf * tfn)
        return matched, sq

    want = sorted(
        ((d, *score(d)) for d in texts if score(d)[0]), key=lambda x: (-x[2], x[0])
    )[:3]
    assert [(r.doc_id, r.matched_terms, r.score_q) for r in got] == want
    assert [r.dl for r in got] == [dl[d] for d, _, _ in want]
    # ordering is the frozen (score DESC, doc_id ASC) total order
    assert [r.doc_id for r in got] == [d for d, _, _ in want]
    # repeated query terms collapse (set semantics)
    dup = textstats.bm25_topk(df, ["apple", "apple"], k=3).collect()
    single = textstats.bm25_topk(df, ["apple"], k=3).collect()
    assert [tuple(r) for r in dup] == [tuple(r) for r in single]
    # all statistics share ONE tokenize pass + per-doc shuffle (AQE
    # reuses the per_doc stage; check the executed final plan)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain(mode="simple")
    final = buf.getvalue().split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("regexp_extract_all") == 1
    assert "Reused" in final
    with pytest.raises(ValueError):
        textstats.bm25_topk(df, [])


def test_merge_snapshot(spark):
    base = spark.createDataFrame(
        [("a", "p", "x", 1), ("b", "p", "y", 2), ("c", "p", "z", 3)],
        "subj string, pred string, obj string, weight long",
    )
    changes = spark.createDataFrame(
        [
            # two upserts on the same key: version 2 must win
            ("a", "p", "x", 10, 1, "U"),
            ("a", "p", "x", 20, 2, "U"),
            # delete an existing key
            ("b", "p", "y", 0, 1, "D"),
            # insert a brand-new key
            ("d", "p", "w", 7, 1, "U"),
            # upsert then delete: the later delete wins
            ("c", "p", "z", 99, 1, "U"),
            ("c", "p", "z", 0, 2, "D"),
        ],
        "subj string, pred string, obj string, weight long, version long, op string",
    )
    got = {
        (r.subj, r.pred, r.obj): r.weight
        for r in triples.merge_snapshot(base, changes, keys=["subj", "pred", "obj"]).collect()
    }
    assert got == {("a", "p", "x"): 20, ("d", "p", "w"): 7}
    # output schema is exactly the base schema
    out = triples.merge_snapshot(base, changes, keys=["subj", "pred", "obj"])
    assert out.columns == base.columns
    # empty change log is the identity
    empty = changes.limit(0)
    same = {
        (r.subj, r.obj): r.weight
        for r in triples.merge_snapshot(base, empty, keys=["subj", "pred", "obj"]).collect()
    }
    assert same == {("a", "x"): 1, ("b", "y"): 2, ("c", "z"): 3}


def test_chunk_token_windows(spark):
    import hashlib

    d = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),  # 8 tokens, window 4 stride 3
            (1, "x y"),  # shorter than one window
            (2, ""),  # token-less: no chunks
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        textstats.chunk_token_windows(d, window=4, stride=3).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    got = [(r.doc_id, r.chunk_idx, r.chunk_start, r.chunk_len, r.chunk_md5) for r in rows]

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got == [
        (0, 0, 0, 4, h("a b c d")),
        (0, 1, 3, 4, h("d e f g")),
        (0, 2, 6, 2, h("g h")),
        (1, 0, 0, 2, h("x y")),
    ]
    # every token index is covered and consecutive chunks overlap by
    # window - stride (except the tail)
    cover = set()
    for _, _, start, length, _ in got[:3]:
        cover |= set(range(start, start + length))
    assert cover == set(range(8))
    with pytest.raises(ValueError):
        textstats.chunk_token_windows(d, window=4, stride=0)


def test_quality_gate_random_bruteforce(spark):
    import random

    for seed in (11, 99):
        rng = random.Random(seed)
        rows = [(i, " ".join("t%d" % j for j in range(rng.randrange(0, 30)))) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        q = 25
        counts = {i: len(t.split()) for i, t in rows}
        ordered = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
        thr = ordered[(len(ordered) * q + 99) // 100 - 1][1]
        want = {i for i, n in counts.items() if n >= thr}
        got = {r.doc_id for r in textstats.quality_gate(df, q=q).collect()}
        assert got == want, f"seed {seed}"


def test_mix_corpus_random_bruteforce(spark):
    import hashlib
    import random

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100

    for seed in (5, 31):
        rng = random.Random(seed)
        weights = {"s0": rng.randrange(0, 300), "s1": rng.randrange(0, 300)}
        rows = [(i, "s%d" % (i % 3), "x") for i in range(30)]  # s2 hits the default
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = textstats.mix_corpus(df, weights, default_pct=60).collect()
        got = {}
        for r in out:
            got[r.doc_id] = got.get(r.doc_id, 0) + 1
        for i, src, _ in rows:
            w = weights.get(src, 60)
            expect = w // 100 + (1 if bucket(i) < w % 100 else 0)
            assert got.get(i, 0) == expect, f"seed {seed} doc {i}"


def test_pii_scrub_ccpii_v1(spark):
    """CCPii v1 semantics: each category replaced by its typed token,
    counts taken SEQUENTIALLY (an email's digits never re-counted as a
    phone/ip), replacements never re-match later patterns, and
    PII-free text passes through byte-identical with zero counts."""
    rows = [
        # one of each, messy formats
        (1, "mail bob.smith+x@sub.example.co.uk, srv 10.0.255.3, "
            "ssn 123-45-6789, call +44 20 7946 0958 now"),
        # email whose local part could phone/ip-match if counted naively
        (2, "reach 555-12-3456.99@ex.org today"),
        # two of one kind; ip at string end (\b at EOS)
        (3, "a@b.co c@d.io 192.168.0.1"),
        # clean doc: byte-identity passthrough
        (4, "no personal data here, just 42 plain words."),
        # phone too short to match (spec minimum is 7 digits total)
        (5, "+1 23 45 6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.pii_scrub(df).collect()}
    assert got[1].clean_text == (
        "mail <EMAIL>, srv <IP>, ssn <IDNUM>, call <PHONE> now"
    )
    assert (got[1].n_emails, got[1].n_ips, got[1].n_ids, got[1].n_phones) == (1, 1, 1, 1)
    # the ssn-shaped run sits INSIDE the email -> scrubbed as email,
    # counted once, no residual id/ip/phone hits
    assert got[2].clean_text == "reach <EMAIL> today"
    assert (got[2].n_emails, got[2].n_ids, got[2].n_ips, got[2].n_phones) == (1, 0, 0, 0)
    assert got[3].clean_text == "<EMAIL> <EMAIL> <IP>"
    assert got[3].n_emails == 2 and got[3].n_ips == 1
    assert got[4].clean_text == rows[3][1]
    assert (got[4].n_emails, got[4].n_ips, got[4].n_ids, got[4].n_phones) == (0, 0, 0, 0)
    assert got[5].clean_text == rows[4][1] and got[5].n_phones == 0


def test_write_range_sorted_disjoint_files(spark, tmp_path):
    """The data-skipping layout contract: write_range_sorted must land
    files whose sort-key ranges are pairwise DISJOINT (that is what
    lets parquet footer min/max stats skip whole files on a filtered
    scan), and a key-range read back must be exact."""
    import pyarrow.parquet as pq

    from pignlproc_spark import tables

    df = spark.range(0, 20000).select(
        (F.col("id") * 7919 % 20011).alias("k"), F.col("id").alias("v")
    )
    path = tables.write_range_sorted(df, "range_sorted_t", ["k"], num_files=8, root=str(tmp_path))
    spans = []
    for f in sorted(p for p in __import__("os").listdir(path) if p.endswith(".parquet")):
        md = pq.read_metadata(f"{path}/{f}")
        los = [md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)]
        his = [md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)]
        if los:
            spans.append((min(los), max(his)))
    assert len(spans) >= 4  # range partitioner actually fanned out
    spans.sort()
    for (_, hi_a), (lo_b, _) in zip(spans, spans[1:]):
        assert hi_a < lo_b, f"overlapping file ranges: {spans}"
    # exactness of a range read on the layout
    got = spark.read.parquet(path).where((F.col("k") >= 5000) & (F.col("k") < 6000))
    assert got.count() == df.where((F.col("k") >= 5000) & (F.col("k") < 6000)).count()


def test_pii_scrub_cross_engine_differential(spark):
    """The CCPii v1 claim is that its patterns behave IDENTICALLY under
    Java regex (Spark) and RE2 (DuckDB). Evidence it adversarially:
    seeded random strings dense in the patterns' trigger characters
    (@ . - + digits, word/non-word boundaries) must scrub to the same
    clean_text and the same sequential counts in both engines."""
    import random

    import duckdb

    from pignlproc_spark.operators.textstats import pii_scrub, pii_scrub_sql

    rng = random.Random(0xCC911)
    # é/汉/😀 adjacent to digits probe \b parity: Java and RE2 both
    # define \b over ASCII word chars by default, so a non-ASCII letter
    # next to a digit is a boundary in BOTH — the fuzz evidences it
    alphabet = list("ab9@.-+ 01x%_Z()é汉😀") + [
        "@ex.org", "123-45-6789", "+1 555 010", "10.0.0.7", "é10.0.0.7é",
    ]
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60))))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_emails, r.n_ips, r.n_ids, r.n_phones)
        for r in pii_scrub(df).collect()
    }
    clean, counts = pii_scrub_sql("text")
    con = duckdb.connect()
    con.execute("CREATE TEMP TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        r[0]: tuple(r[1:])
        for r in con.sql(
            f"SELECT doc_id, {clean}, {', '.join(counts)} FROM t"
        ).fetchall()
    }
    assert got == want


def test_fingerprint_vertical_tab_cross_engine(spark):
    """Java's \\s includes \\x0B, RE2's does not — the fingerprint spec
    therefore spells its whitespace class explicitly. A document with a
    vertical tab must fingerprint identically in both engines."""
    import duckdb

    rows = [(1, "a\x0bb  c"), (2, "a b c"), (3, "\x0b\x0b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.fingerprint for r in textstats.doc_fingerprint(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TEMP TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.sql(
            r"SELECT doc_id, md5(trim(regexp_replace(lower(text),"
            r" '[ \t\n\x0B\f\r]+', ' ', 'g'))) FROM t"
        ).fetchall()
    )
    assert got == want
    assert got[1] == got[2]  # \x0B normalizes like any whitespace


def test_novelty_score_bruteforce(spark):
    """novelty = distinct n-grams whose minimum containing doc_id is
    this doc; brute-force python parity on a corpus with exact dups,
    partial remixes, and a short (< n tokens) doc."""
    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),          # exact dup: zero novel
        (3, "c d e f g"),          # remix: novel only where it leaves doc 1
        (4, "x y"),                # < 3 tokens: zeros
        (5, "x y z a b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_distinct_grams, r.n_novel_grams) for r in textstats.novelty_score(df, n=3).collect()}

    def grams(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    first = {}
    for i, t in rows:
        for g in grams(t):
            first.setdefault(g, i)
    for i, t in rows:
        gs = grams(t)
        assert got[i] == (len(gs), sum(1 for g in gs if first[g] == i)), i
    assert got[2][1] == 0 and got[4] == (0, 0)


def test_domain_quota(spark):
    """Per-host cap: k keeps the first k urls per host (url asc),
    hosts under the cap keep everything, rank is 1..k dense."""
    from pignlproc_spark.functions.urls import domain_quota

    rows = [(f"http://h{i % 3}.ex/p{j:02d}",) for i in range(3) for j in range(5 if i % 3 else 2)]
    df = spark.createDataFrame(rows, "url string")
    out = domain_quota(df, k=3).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r.host, []).append((r.rank, r.url))
    assert len(by_host["h0.ex"]) == 2  # under cap: all kept
    for h in ("h1.ex", "h2.ex"):
        kept = sorted(by_host[h])
        assert [r for r, _ in kept] == [1, 2, 3]
        assert [u for _, u in kept] == sorted(u for (u,) in rows if h in u)[:3]


def test_line_dedup_semantics(spark):
    """Line dedup keeps only the corpus-first occurrence of each line
    (min doc_id, then min idx WITHIN that doc), drops empty lines, and
    reassembles survivors in original order."""
    rows = [
        (1, "alpha\nboiler\nbeta\nboiler"),   # within-doc repeat: 2nd boiler drops
        (2, "boiler\ngamma\n\ngamma"),        # cross-doc repeat + empty + self-repeat
        (3, "\n\n"),                          # only empties
        (4, "alpha"),                         # pure repeat of doc 1's first line
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.line_dedup(df).collect()}
    assert (got[1].n_lines, got[1].n_kept, got[1].clean_text) == (4, 3, "alpha\nboiler\nbeta")
    assert (got[2].n_lines, got[2].n_kept, got[2].clean_text) == (3, 1, "gamma")
    assert (got[3].n_lines, got[3].n_kept, got[3].clean_text) == (0, 0, "")
    assert (got[4].n_lines, got[4].n_kept, got[4].clean_text) == (1, 0, "")


def test_unigram_surprisal_bruteforce(spark):
    """surprisal_q = floor(sum(tf * floor(1e6*ln(N/cf))) / n_tokens) —
    python float parity; rare-token doc scores above the common-token
    doc."""
    import math

    rows = [(1, "a a a a b"), (2, "a a a a a"), (3, "z q a a a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.surprisal_q) for r in textstats.unigram_surprisal(df).collect()}
    toks = {i: t.split() for i, t in rows}
    cf = {}
    for ts in toks.values():
        for t in ts:
            cf[t] = cf.get(t, 0) + 1
    N = sum(cf.values())
    nll = {t: math.floor(1e6 * math.log(N / c)) for t, c in cf.items()}
    for i, ts in toks.items():
        want = (len(ts), math.floor(sum(nll[t] for t in ts) / len(ts)))
        assert got[i] == want, i
    assert got[3][1] > got[2][1]  # rare-token doc scores higher


def test_bigram_surprisal_bruteforce_and_order_sensitivity(spark):
    """Laplace conditional bigram NLL, python float parity — and the
    property unigrams can't give: reordering tokens changes the score
    while the unigram surprisal stays identical."""
    import math

    rows = [
        (1, "the cat sat on the mat"),
        (2, "mat the on sat cat the"),  # same multiset, shuffled order
        (3, "the cat sat on the mat the cat sat"),
        (4, "solo"),  # < 2 tokens: no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.surprisal2_q) for r in textstats.bigram_surprisal(df).collect()}
    toks = {i: t.split() for i, t in rows}
    cab: dict[tuple[str, str], int] = {}
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            cab[(a, b)] = cab.get((a, b), 0) + 1
    ca: dict[str, int] = {}
    for (a, _), c in cab.items():
        ca[a] = ca.get(a, 0) + c
    V = len({t for ts in toks.values() for t in ts})
    nll = {ab: math.floor(1e6 * math.log((ca[ab[0]] + V) / (c + 1))) for ab, c in cab.items()}
    for i, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            assert i not in got
            continue
        want = (len(pairs), math.floor(sum(nll[p] for p in pairs) / len(pairs)))
        assert got[i] == want, i
    # order sensitivity: the shuffled twin scores strictly higher...
    assert got[2][1] > got[1][1]
    # ...while unigram surprisal cannot tell them apart
    uni = {r.doc_id: r.surprisal_q for r in textstats.unigram_surprisal(df).collect()}
    assert uni[1] == uni[2]


def test_dsir_logweights_bruteforce_and_selection(spark):
    """DSIR hashed-n-gram importance log-weights: python float/md5
    parity, and the selection property — the raw doc that looks like
    the target corpus outweighs the one that doesn't."""
    import hashlib
    import math

    B = 64
    raw_rows = [
        (1, "alpha beta gamma alpha beta"),   # target-like
        (2, "zebra quux xylophone zebra"),    # off-target
        (3, "alpha zebra"),                   # mixed
    ]
    target_rows = [(10, "alpha beta alpha gamma"), (11, "beta gamma alpha")]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.dsir_logw_q)
        for r in textstats.dsir_logweights(raw, target, n_buckets=B).collect()
    }

    def bucket(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % B

    def doc_grams(text: str) -> list[int]:
        ts = text.split()
        return [bucket(g) for g in ts + [a + "\x1f" + b for a, b in zip(ts, ts[1:])]]

    c_r: dict[int, int] = {}
    for _, t in raw_rows:
        for h in doc_grams(t):
            c_r[h] = c_r.get(h, 0) + 1
    c_t: dict[int, int] = {}
    for _, t in target_rows:
        for h in doc_grams(t):
            c_t[h] = c_t.get(h, 0) + 1
    n_r, n_t = sum(c_r.values()), sum(c_t.values())
    lr = {
        h: math.floor(
            1e6
            * math.log(
                ((c_t.get(h, 0) + 1) * (n_r + B)) / ((c_r[h] + 1) * (n_t + B))
            )
        )
        for h in c_r
    }
    for i, t in raw_rows:
        hs = doc_grams(t)
        assert got[i] == (len(hs), sum(lr[h] for h in hs)), i
    # per-gram average importance: target-like > mixed > off-target
    avg = {i: got[i][1] / got[i][0] for i, _ in raw_rows}
    assert avg[1] > avg[3] > avg[2]
    # empty target degrades to the smoothing prior, not an error
    empty = target.where("doc_id < 0")
    out = textstats.dsir_logweights(raw, empty, n_buckets=B).collect()
    assert len(out) == 3


def test_readability_signals_known_text(spark):
    """CCRead v1 on hand-countable text; monotonicity: denser clauses
    with longer words score a higher grade."""
    from pignlproc_spark.operators.textstats import readability_signals

    simple = "The cat sat. The dog ran. It was fun."  # short words, 3 sentences
    dense = (
        "Notwithstanding considerable organizational heterogeneity, "
        "multidimensional evaluation methodologies demonstrate "
        "extraordinary epistemological sophistication."
    )
    df = spark.createDataFrame([(1, simple), (2, dense), (3, "")], "doc_id long, text string")
    got = {r.doc_id: r for r in readability_signals(df).collect()}
    assert got[1].n_words == 9 and got[1].n_sentences == 3
    # vowel groups by hand: the=1 cat=1 sat=1 dog=1 ran=1 it=1 was=1 fun=1 → the(1)+cat(1)+sat(1)
    assert got[1].n_vowel_groups == 9
    # fk_q100 = 39*9//3 + 1180*9//9 - 1559 = 117 + 1180 - 1559 = -262
    assert got[1].fk_q100 == -262
    assert got[2].fk_q100 > got[1].fk_q100  # dense text grades higher
    assert got[3].n_words == 0 and got[3].fk_q100 == -1559  # empty-doc floor


def test_read_jsonl_quarantine(spark, tmp_path):
    """External JSONL with malformed lines: good rows parse to the
    schema, every bad line lands in the quarantine verbatim, and a
    shard export round-trips losslessly with zero quarantined."""
    import json as _json

    from pignlproc_spark import tables

    p = tmp_path / "ext"
    p.mkdir()
    good_rows = [{"doc_id": i, "text": f"doc {i}"} for i in range(20)]
    bad_lines = ['{"doc_id": 3, "text": unquoted}', "{truncated", "not json at all"]
    lines = [_json.dumps(r) for r in good_rows[:10]] + bad_lines[:2] + [
        _json.dumps(r) for r in good_rows[10:]
    ] + bad_lines[2:]
    (p / "a.jsonl").write_text("\n".join(lines) + "\n")
    good, bad = tables.read_jsonl_quarantine(spark, str(p), "doc_id long, text string")
    assert {r.doc_id for r in good.collect()} == set(range(20))
    assert {r.line for r in bad.collect()} == set(bad_lines)
    # round-trip: our own export re-reads with an empty quarantine
    df = spark.createDataFrame([(i, f"t{i}") for i in range(30)], "doc_id long, text string")
    out = str(tmp_path / "export")
    tables.write_jsonl_shards(df, out, n_shards=2)
    g2, b2 = tables.read_jsonl_quarantine(spark, out, "doc_id long, text string")
    assert b2.count() == 0 and g2.count() == 30


def _hits_ref(edge_rows, iterations, scale):
    """Dense integer reference for stats.hits_q: same recurrence, same
    floor divisions, same max-normalization, multi-edges summed."""
    from collections import defaultdict

    w = defaultdict(int)
    for s, d, c in edge_rows:
        w[(s, d)] += c
    nodes = sorted({s for s, _ in w} | {d for _, d in w})
    h = {v: scale for v in nodes}
    a = {v: 0 for v in nodes}
    for _ in range(iterations):
        raw = defaultdict(int)
        for (s, d), c in w.items():
            raw[d] += h[s] * c
        m = max(max(raw.values(), default=0), 1)
        a = {v: (raw.get(v, 0) * scale) // m for v in nodes}
        raw = defaultdict(int)
        for (s, d), c in w.items():
            raw[s] += a[d] * c
        m = max(max(raw.values(), default=0), 1)
        h = {v: (raw.get(v, 0) * scale) // m for v in nodes}
    return {v: (h[v], a[v]) for v in nodes}


def test_hits_q_matches_dense_reference(spark):
    """hits_q == the dense integer recurrence EXACTLY (both floor at
    the same points), on a hub/authority graph with parallel edges,
    a pure source, a pure sink and a 2-cycle."""
    from pignlproc_spark.operators import stats

    rows = [
        ("hub1", "auth1", 3), ("hub1", "auth2", 1), ("hub1", "auth3", 1),
        ("hub2", "auth1", 2), ("hub2", "auth2", 2),
        ("hub2", "auth1", 1),          # parallel edge — must sum
        ("auth1", "hub1", 1),          # back-edge: 2-cycle
        ("source", "hub1", 1),         # no in-links → auth_q 0
        ("hub2", "sink", 1),           # no out-links → hub_q 0
    ]
    e = spark.createDataFrame(rows, "s string, d string, c int")
    got = {
        r.node: (r.hub_q, r.auth_q)
        for r in stats.hits_q(e, src="s", dst="d", weight="c", iterations=4).collect()
    }
    assert got == _hits_ref(rows, 4, stats.HITS_SCALE)
    assert got["source"][1] == 0 and got["sink"][0] == 0
    # max-normalization pins the best hub and best authority at SCALE
    assert max(v[0] for v in got.values()) == stats.HITS_SCALE
    assert max(v[1] for v in got.values()) == stats.HITS_SCALE


def test_hits_q_unweighted_and_empty(spark):
    from pignlproc_spark.operators import stats

    rows = [("a", "b"), ("a", "c"), ("b", "c")]
    e = spark.createDataFrame(rows, "s string, d string")
    got = {
        r.node: (r.hub_q, r.auth_q)
        for r in stats.hits_q(e, src="s", dst="d", iterations=3).collect()
    }
    assert got == _hits_ref([(s, d, 1) for s, d in rows], 3, stats.HITS_SCALE)
    empty = spark.createDataFrame([], "s string, d string")
    assert stats.hits_q(empty, src="s", dst="d").count() == 0
    # the empty result keeps the INPUT's node-id type, so the edge
    # case unions/joins exactly like the populated one
    empty_long = stats.hits_q(
        spark.createDataFrame([], "s bigint, d bigint"), src="s", dst="d"
    )
    assert [f.dataType.simpleString() for f in empty_long.schema.fields] == [
        "bigint", "bigint", "bigint",
    ]


def test_trustrank_q_matches_dense_reference(spark):
    """trustrank_q == the dense integer recurrence EXACTLY, on a graph
    with parallel edges, a dangling node, an off-graph seed, and a
    spam cluster that must receive trust ONLY through links from the
    seed side (never via teleport)."""
    from collections import defaultdict

    from pignlproc_spark.operators import stats

    rows = [
        ("seed1", "good1", 2), ("seed1", "good2", 1),
        ("good1", "good2", 1),
        ("good1", "good2", 2),            # parallel edge — must sum
        ("good2", "spam1", 1),            # trust decays into spam side
        ("spam1", "spam2", 5), ("spam2", "spam1", 5),  # link farm loop
        ("good2", "dangling", 1),         # no out-links: mass leaks
    ]
    seeds = ["seed1", "seed2_offgraph"]
    e = spark.createDataFrame(rows, "s string, d string, c int")
    sdf = spark.createDataFrame([(x,) for x in seeds], "node string")
    got = {
        r.node: r.trust_q
        for r in stats.trustrank_q(
            e, sdf, src="s", dst="d", weight="c", iterations=4
        ).collect()
    }

    w = defaultdict(int)
    for s_, d_, c in rows:
        w[(s_, d_)] += c
    wsum = defaultdict(int)
    for (s_, _), c in w.items():
        wsum[s_] += c
    nodes = sorted({s_ for s_, _ in w} | {d_ for _, d_ in w} | set(seeds))
    SCALE = stats.PAGERANK_SCALE
    r = {v: (SCALE // len(seeds) if v in seeds else 0) for v in nodes}
    base = SCALE * 15 // (100 * len(seeds))
    for _ in range(4):
        acc = defaultdict(int)
        for (s_, d_), c in w.items():
            acc[d_] += r[s_] * c * 85 // (100 * wsum[s_])
        r = {v: (base if v in seeds else 0) + acc.get(v, 0) for v in nodes}
    assert got == r
    # total mass never exceeds the injected teleport (the floors only
    # ever leak mass downward), and an off-graph seed keeps exactly
    # its teleport share — trust reaches non-seeds ONLY through links
    assert sum(got.values()) <= SCALE
    assert got["seed2_offgraph"] == base
    assert got["spam1"] > 0 and got["dangling"] > 0  # link-borne trust


def test_graph_scorer_headroom_guards(spark):
    """hits_q / trustrank_q refuse graphs whose weights would overflow
    BIGINT mid-recurrence (an opaque ANSI ArithmeticException deep in
    round k, or silent corruption without ANSI) — the guard raises a
    clear ValueError up front; just-under-bound graphs still run."""
    from pignlproc_spark.operators import stats

    hot = spark.createDataFrame([("hub", "x", 10**7)], "s string, d string, c long")
    with pytest.raises(ValueError, match="headroom"):
        stats.hits_q(hot, src="s", dst="d", weight="c", iterations=1)
    ok = spark.createDataFrame([("hub", "x", 9 * 10**6)], "s string, d string, c long")
    assert stats.hits_q(ok, src="s", dst="d", weight="c", iterations=1).count() == 2
    # the bound is per DIRECTION: in-weight 6e6 + out-weight 6e6 on one
    # node is fine (auth sums in-edges only, hub sums out-edges only)
    two_sided = spark.createDataFrame(
        [("a", "hub", 6 * 10**6), ("hub", "b", 6 * 10**6)],
        "s string, d string, c long",
    )
    assert stats.hits_q(two_sided, src="s", dst="d", weight="c", iterations=1).count() == 3

    seeds = spark.createDataFrame([("hub",)], "node string")
    heavy = spark.createDataFrame([("hub", "x", 2 * 10**8)], "s string, d string, c long")
    with pytest.raises(ValueError, match="headroom"):
        stats.trustrank_q(heavy, seeds, src="s", dst="d", weight="c", iterations=1)
    ok_t = spark.createDataFrame([("hub", "x", 10**8)], "s string, d string, c long")
    assert (
        stats.trustrank_q(ok_t, seeds, src="s", dst="d", weight="c", iterations=1).count()
        == 2
    )


def test_temperature_mix_flattens_sqrt_exact(spark):
    """τ=2 mixing: rates follow the quantized-√ integer chain exactly
    (recomputed in pure Python), the head source is damped below 100%
    and the tail boosted above, and total emissions stay within one
    md5-bucket granule of the budget."""
    import math

    from pignlproc_spark.operators import textstats

    sizes = {"web": 3200, "books": 800, "code": 200}
    rows = []
    i = 0
    for s, n in sizes.items():
        for _ in range(n):
            rows.append((i, s))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = textstats.temperature_mix(df)
    per_source = {
        r.source: r.c
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()
    }

    N = sum(sizes.values())
    sq = {s: math.floor(math.sqrt(n * textstats.SQRT_Q)) for s, n in sizes.items()}
    S = sum(sq.values())
    rate = {s: (100 * N * sq[s]) // (S * sizes[s]) for s in sizes}
    assert rate["web"] < 100 < rate["code"] and rate["books"] > 100
    # exact per-source emission: n*(rate div 100) + |{buckets < rate%100}|
    # — the bucket fraction is deterministic, so just compare to Spark
    for s, n in sizes.items():
        lo = n * (rate[s] // 100)
        assert lo <= per_source[s] <= lo + n  # fractional part within [0, n]
    # every doc's copy count matches the frozen rule exactly
    got_copies = {
        r.doc_id: r.c
        for r in out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    import hashlib

    for doc_id, s in rows[::37]:  # sample the lattice
        bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100
        want = rate[s] // 100 + (1 if bucket < rate[s] % 100 else 0)
        assert got_copies.get(doc_id, 0) == want, (doc_id, s)
    # budget_pct is spliced into generated SQL: a float or bool must
    # fail loudly, never silently change integer-div semantics
    for bad in (50.5, True, -1):
        with pytest.raises(ValueError):
            textstats.temperature_mix(df, budget_pct=bad)


# ---------------------------------------------------------------------------
# PQ-ADC ANN tier
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# CCAudioFrames v1
# ---------------------------------------------------------------------------


def test_audio_frames_real(spark, synth_dir):
    """audio_frames over the synth media table equals the plan-derived
    golden exactly; non-audio and corrupt payloads emit nothing."""
    media = spark.read.parquet(str(synth_dir / "media.parquet"))
    got = sorted(
        (r.url, r.frame_idx, r.frame_start, r.energy, r.sum_abs, r.zero_crossings, r.peak)
        for r in multimodal.audio_frames(media.select("url", "kind", "payload")).collect()
    )
    gold = sorted(
        (r.url, r.frame_idx, r.frame_start, r.energy, r.sum_abs, r.zero_crossings, r.peak)
        for r in spark.read.parquet(str(synth_dir / "golden_audio_frames.parquet")).collect()
    )
    assert got == gold and len(gold) > 0
    # corrupt/short/foreign payloads: zero rows, no exception
    bad = spark.createDataFrame(
        [("u1", "audio", bytearray(b"RIFF\x00\x00\x00\x00WAVEjunk")),
         ("u2", "image", bytearray(b"BM" + b"\x00" * 60)),
         ("u3", "audio", None)],
        "url string, kind string, payload binary",
    )
    assert multimodal.audio_frames(bad).count() == 0


def test_audio_frames_windowing(spark):
    """Frame/hop edge cases against hand-computed values, through the
    real operator with non-default frame/hop."""
    import io
    import struct as st
    import wave

    vals = [100, -100, 200, -200, 300]
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(b"".join(st.pack("<h", v) for v in vals))
    df = spark.createDataFrame(
        [("a", "audio", bytearray(bio.getvalue()))],
        "url string, kind string, payload binary",
    )
    got = sorted(
        (r.frame_idx, r.frame_start, r.energy, r.sum_abs, r.zero_crossings, r.peak)
        for r in multimodal.audio_frames(df, frame=2, hop=2).collect()
    )
    # [100,-100]: energy 2*100^2, one sign flip; [200,-200] likewise;
    # the trailing 300 never fills a frame and is dropped
    assert got == [(0, 0, 20000, 200, 1, 100), (1, 2, 80000, 400, 1, 200)]
    # overlapping hop: frame 2 / hop 1 -> 4 frames
    assert multimodal.audio_frames(df, frame=2, hop=1).count() == 4
    # clip shorter than one frame -> nothing
    assert multimodal.audio_frames(df, frame=8, hop=4).count() == 0


# ---------------------------------------------------------------------------
# CCDHash v1
# ---------------------------------------------------------------------------


def _uniform_img(w, h, rgb):
    import numpy as np

    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[:, :] = rgb
    return px


def test_dhash_known_answers():
    import numpy as np

    # uniform image: no strict left>right anywhere -> all-zero hash
    assert multimodal.dhash_hex(_uniform_img(9, 8, (100, 100, 100))) == "0" * 16
    # strictly decreasing left-to-right luma: every bit set
    px = np.zeros((8, 9, 3), dtype=np.uint8)
    for x in range(9):
        px[:, x] = 200 - 20 * x
    assert multimodal.dhash_hex(px) == "f" * 16
    # brightness shift (no clamping) leaves the hash unchanged —
    # dhash keys on luma DIFFERENCES, the perceptual-invariance point
    base = np.random.default_rng(5).integers(20, 200, (12, 15, 3)).astype(np.uint8)
    assert multimodal.dhash_hex(base) == multimodal.dhash_hex(base + 10)


def test_dhash_pairs_crafted_distances(spark):
    """Banding retrieval + exact verify on constructed BMP payloads
    with known pairwise hamming distances."""
    import numpy as np

    a = _uniform_img(9, 8, (100, 100, 100))
    b = _uniform_img(9, 8, (150, 150, 150))  # same (all-zero) hash as a
    d = _uniform_img(9, 8, (100, 100, 100)).copy()
    d[0, 0] = (200, 200, 200)  # exactly one grid comparison flips
    far = np.zeros((8, 9, 3), dtype=np.uint8)
    for x in range(9):
        far[:, x] = 200 - 20 * x  # hamming 64 from the uniforms
    rows = [
        ("u/a", "image", bytearray(multimodal.encode_bmp(a))),
        ("u/b", "image", bytearray(multimodal.encode_bmp(b))),
        ("u/d", "image", bytearray(multimodal.encode_bmp(d))),
        ("u/far", "image", bytearray(multimodal.encode_bmp(far))),
        ("u/audio", "audio", bytearray(b"RIFF\x00\x00\x00\x00WAVEjunk")),
    ]
    df = spark.createDataFrame(rows, "url string, kind string, payload binary")
    got = {
        (r.url_a, r.url_b): r.hamming
        for r in multimodal.dhash_near_duplicates(df, max_hamming=3).collect()
    }
    assert got[("u/a", "u/b")] == 0
    assert got[("u/a", "u/d")] == 1 and got[("u/b", "u/d")] == 1
    assert not any("u/far" in k[0] or "u/far" in k[1] for k in got)
    # widening the threshold never changes existing pair distances, and
    # the all-bits-different image stays invisible to banding (no band
    # can agree) — the documented recall bound is hamming <= 3
    wide = {
        (r.url_a, r.url_b): r.hamming
        for r in multimodal.dhash_near_duplicates(df, max_hamming=64).collect()
    }
    assert all(wide[k] == v for k, v in got.items())
    assert not any("u/far" in k[0] or "u/far" in k[1] for k in wide)


def test_dhash_synth_twins(spark, synth_dir):
    """The planted cross-format twins (same pixels, PNG container vs
    the BMP original) are found at hamming 0, and every dhash matches
    the plan-derived golden."""
    media = spark.read.parquet(str(synth_dir / "media.parquet"))
    got = {
        r.url: r.dhash
        for r in multimodal.image_dhash(media.select("url", "kind", "payload")).collect()
    }
    gold = {
        r.url: r.dhash
        for r in spark.read.parquet(str(synth_dir / "golden_image_dhash.parquet")).collect()
    }
    assert got == gold and len(gold) > 0
    pairs = {
        (r.url_a, r.url_b): r.hamming
        for r in multimodal.dhash_near_duplicates(
            media.select("url", "kind", "payload")
        ).collect()
    }
    twins = [u for u in gold if u.endswith("/twin")]
    assert twins
    for t in twins:
        orig = t[: -len("/twin")]
        key = (orig, t) if orig < t else (t, orig)
        assert pairs.get(key) == 0, f"twin pair missing for {orig}"
    # LOSSY cross-container twins: a smooth-gradient BMP and the SAME
    # pixels JPEG-recompressed (baseline AND progressive) must land
    # within the banding recall bound (max_hamming=3) — dedup_media's
    # documented quantization-noise robustness, as a tested contract
    lossy = [u for u in gold if "/jpeg" in u and u.endswith("twin")]
    assert len(lossy) == 2
    for t in lossy:
        orig = t.rsplit("/", 1)[0]
        key = (orig, t) if orig < t else (t, orig)
        assert key in pairs and pairs[key] <= 3, f"lossy twin pair missing for {orig}"


def test_jpeg_decode_corrupt_streams_degrade():
    """Degrade-don't-kill for arbitrary crawl bytes: ANY corruption of
    a progressive or baseline stream (truncation, bit flips, byte
    garbage — which surface as IndexError/ZeroDivisionError deep in
    the multi-scan decoder) must raise ValueError, never escape as a
    different exception class past media_stats' catch list."""
    import random as rnd

    from pignlproc_spark.synth import jpeg_bytes, jpeg_progressive_bytes

    px = [[(x * 11 % 256, y * 7 % 256, (x + y) % 256) for x in range(12)] for y in range(10)]
    rng = rnd.Random(3)
    for enc in (jpeg_progressive_bytes, jpeg_bytes):
        payload, _ = enc(px, "420", restart_interval=2)
        for trial in range(1500):
            b = bytearray(payload)
            mode = trial % 3
            if mode == 0:  # truncate
                b = b[: rng.randrange(4, len(b))]
            elif mode == 1:  # single bit flip
                b[rng.randrange(2, len(b))] ^= 1 << rng.randrange(8)
            else:  # several random bytes
                for _ in range(5):
                    b[rng.randrange(2, len(b))] = rng.randrange(256)
            try:
                multimodal.decode_jpeg(bytes(b))
            except ValueError:
                pass  # the contract: corrupt -> ValueError only


def test_jpeg_decode_duplicate_scan_component_and_fill_bytes():
    """Two spec-edge regressions: an SOS listing the same component
    twice must raise (B.2.3 — the old silent mis-decode returned wrong
    pixels with decoded=1), and legal 0xFF fill bytes before marker
    codes (B.1.1.2) must not desync the multi-scan marker loop."""
    import numpy as np
    import pytest as pt

    from pignlproc_spark.synth import jpeg_bytes, jpeg_progressive_bytes

    px = [[(x * 9 % 256, y * 5 % 256, (2 * x + y) % 256) for x in range(10)] for y in range(9)]
    payload, expected = jpeg_bytes(px, "444")
    sos_at = payload.index(b"\xff\xda")
    # SOS layout: FF DA len_hi len_lo ns (cid tdta)*ns Ss Se AhAl —
    # overwrite cid2/cid3 with cid1 (duplicate component refs)
    b = bytearray(payload)
    cid1 = b[sos_at + 5]
    b[sos_at + 7] = cid1
    b[sos_at + 9] = cid1
    with pt.raises(ValueError):
        multimodal.decode_jpeg(bytes(b))
    # fill bytes: pad before SOS/EOI markers of a progressive stream
    pp, pexp = jpeg_progressive_bytes(px, "420")
    filled = pp.replace(b"\xff\xda", b"\xff\xff\xff\xda").replace(b"\xff\xd9", b"\xff\xff\xff\xff\xd9")
    w, h, got = multimodal.decode_jpeg(filled)
    assert (w, h) == (10, 9)
    assert np.array_equal(got.astype(np.int64), np.array(pexp, dtype=np.int64))
    # fill bytes before RESTART markers inside the entropy stream
    # (multi-MCU image so RSTn actually occur; RSTs cannot appear
    # byte-stuffed, so the regex rewrite touches only real markers)
    import re as _re

    big = [[(x * 9 % 256, y * 5 % 256, (2 * x + y) % 256) for x in range(40)] for y in range(35)]
    for enc in (jpeg_bytes, jpeg_progressive_bytes):
        p2, exp2 = enc(big, "420", restart_interval=2)
        f2 = _re.sub(rb"\xff([\xd0-\xd7])", lambda m: b"\xff\xff" + m.group(1), p2)
        assert f2 != p2
        _, _, got2 = multimodal.decode_jpeg(f2)
        assert np.array_equal(got2.astype(np.int64), np.array(exp2, dtype=np.int64))
