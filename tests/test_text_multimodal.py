"""Text-analysis column functions (X4) and multimodal binary plumbing (X5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ml_showcase_spark.functions import text as T
from spark_ml_showcase_spark.operators import multimodal


def encode_wav(
    n_frames: int, framerate: int, amplitude: int, *, period: int = 16
) -> bytes:
    """Build a mono 16-bit PCM WAV whose samples are a square wave of the
    given amplitude (exact integer mean-of-squares, so decoded stats are
    reproducible in SQL)."""
    import io
    import struct
    import wave

    bio = io.BytesIO()
    with wave.open(bio, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(framerate)
        half = period // 2
        samples = [
            amplitude if (i % period) < half else -amplitude
            for i in range(n_frames)
        ]
        wf.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return bio.getvalue()


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world",), ("  spaced   out  ",), ("",), ("   ",), ("one",)],
        "t string",
    )
    rows = df.select(
        T.whitespace_token_count("t").alias("ws"),
        T.bpe_ish_token_count("t").alias("bpe"),
    ).collect()
    assert [r.ws for r in rows] == [2, 2, 0, 0, 1]
    assert rows[0].bpe == 2
    # bpe splits punctuation and digit runs
    r = (
        spark.createDataFrame([("don't add 42!",)], "t string")
        .select(T.bpe_ish_token_count("t").alias("n"))
        .first()
    )
    assert r.n == 6  # don / ' / t / add / 42 / !


def test_punct_and_stopword_ratio(spark):
    df = spark.createDataFrame([("a,b.c!",), ("abc",)], "t string")
    rows = df.select(F.round(T.punct_ratio("t"), 4).alias("p")).collect()
    assert rows[0].p == 0.5 and rows[1].p == 0.0
    r = (
        spark.createDataFrame([("the cat and the dog",)], "t string")
        .select(F.round(T.stopword_ratio("t"), 4).alias("s"))
        .first()
    )
    assert r.s == 0.6  # the, and, the


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is warm",),
            ("der hund ist nicht in das haus und die katze",),
            ("le chat est dans la maison et les chiens",),
            ("xyzzy plugh qwerty",),
        ],
        "t string",
    )
    langs = [r.l for r in df.select(T.lang_id("t").alias("l")).collect()]
    assert langs == ["en", "de", "fr", "und"]


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [("a decent length sentence with normal words in it " * 5,), ("!!!???;;;",)],
        "t string",
    )
    rows = df.select(T.quality_score("t").alias("q")).collect()
    assert 0.0 <= rows[1].q < rows[0].q <= 1.0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("different",)], "t string"
    )
    fps = [r.f for r in df.select(T.fingerprint("t").alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_shingles(spark):
    r = (
        spark.createDataFrame([("a b c d",), ("a b",)], "t string")
        .select(T.shingles("t", 3).alias("s"))
        .collect()
    )
    assert r[0].s == ["a b c", "b c d"]
    assert r[1].s == []  # shorter than n → empty, not null


def test_multimodal_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, "x" * 200)], "doc_id bigint, text string"
    )
    blobs = multimodal.attach_binary(df, "text")
    assert dict(blobs.dtypes)["payload"] == "binary"
    feats = multimodal.extract_features(blobs).orderBy("id").collect()
    assert feats[0].n_bytes == 5 and feats[1].n_bytes == 200
    assert feats[0].width == 1 + 5 % 64
    assert len(feats[0].feat) == 4
    frames = multimodal.frame_sample(blobs, every_n_bytes=64, max_frames=8)
    per = {r.id: r.n for r in frames.groupBy("id").agg(F.count("*").alias("n")).collect()}
    assert per[1] == 1 and per[2] == 3  # 200 // 64 = 3 frames


def test_real_decode_rejects_unknown_magic(spark):
    import pytest

    df = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
    blobs = multimodal.attach_binary(df, "text")  # UTF-8 text, no BM/RIFF magic
    with pytest.raises(Exception, match="unrecognized payload magic"):
        multimodal.extract_features(blobs, decode_stub=False).collect()


def test_bmp_codec_roundtrip_local():
    # width 5 → stride 16 (1 pad byte/row); bottom-up BGR layout
    buf = multimodal.encode_bmp(5, 3, (200, 100, 50))
    assert buf[:2] == b"BM" and len(buf) == 54 + 16 * 3
    w, h, means = multimodal.decode_bmp(buf)
    assert (w, h) == (5, 3)
    assert means == [200.0, 100.0, 50.0]  # pad bytes skipped, BGR→RGB order


def test_bmp_padding_residues_local():
    # all four 3*w % 4 residues decode to exact channel means
    for w in (1, 2, 3, 4):
        _, _, means = multimodal.decode_bmp(multimodal.encode_bmp(w, 2, (9, 8, 7)))
        assert means == [9.0, 8.0, 7.0], f"width {w}"


def test_wav_codec_roundtrip_local():
    buf = encode_wav(n_frames=64, framerate=8000, amplitude=1000)
    nch, bits, feat = multimodal.decode_wav(buf)
    assert (nch, bits) == (1, 16)
    n_frames, rate, mean, rms = feat
    assert (n_frames, rate) == (64.0, 8000.0)
    assert mean == 0.0 and rms == 1000.0  # balanced square wave


def test_real_decode_spark_path(spark):
    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    blobs = multimodal.synthesize_bmp(docs)
    feats = multimodal.extract_features(blobs, decode_stub=False)
    rows = {r.id: r for r in feats.collect()}
    assert len(rows) == 40
    for i in (0, 13, 39):
        r = rows[i]
        assert (r.width, r.height) == (1 + i % 7, 1 + i % 5)
        assert [round(f) for f in r.feat] == [i % 256, (i * 7) % 256, (i * 13) % 256]
        stride = (3 * r.width + 3) // 4 * 4
        assert r.n_bytes == 54 + stride * r.height


def test_scrub_pii_patterns(spark):
    from spark_ml_showcase_spark.functions import text as T

    rows = [
        (0, "contact me at jane.doe+spam@example.co.uk for details"),
        (1, "see https://example.com/a?b=c&d=e and http://x.io/path."),
        (2, "call 555-123-4567 8900 or acct 12345678"),
        (3, "plain text with no pii at all"),
        (4, "user123@host.org sent https://a.b/c from 999 888 777 666"),
    ]
    df = spark.createDataFrame(rows, "i bigint, t string")
    got = {r.i: r.s for r in df.select("i", T.scrub_pii("t").alias("s")).collect()}
    assert got[0] == "contact me at [EMAIL] for details"
    assert got[1] == "see [URL] and [URL]"
    assert got[2] == "call [NUM] or acct [NUM]"
    assert got[3] == rows[3][1]
    assert got[4] == "[EMAIL] sent [URL] from [NUM]"


def test_resize_bmp_nearest_neighbor():
    import struct

    # 2×1 BMP: left pixel black, right pixel white (hand-built: encode_bmp
    # only does solid fills)
    row = bytes((0, 0, 0)) + bytes((255, 255, 255))
    row += b"\x00" * ((4 - (3 * 2) % 4) % 4)
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(row), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(row), 2835, 2835, 0, 0
    )
    buf = header + info + row

    out = multimodal.resize_bmp(buf, 4, 2)
    w, h, means = multimodal.decode_bmp(out)
    # columns duplicate (B B W W), rows duplicate: mean stays 127.5
    assert (w, h) == (4, 2)
    assert means == [127.5, 127.5, 127.5]
    # solid-color resize preserves the exact channel means at any dims
    solid = multimodal.encode_bmp(7, 5, (10, 200, 30))
    w2, h2, m2 = multimodal.decode_bmp(multimodal.resize_bmp(solid, 3, 9))
    assert (w2, h2) == (3, 9) and m2 == [10.0, 200.0, 30.0]
    # upscale then downscale back to the original dims is identity for NN
    assert multimodal.resize_bmp(multimodal.resize_bmp(buf, 4, 2), 2, 1) == buf


def test_resize_images_operator(spark):
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in range(6)], "doc_id bigint, text string"
    )
    blobs = multimodal.synthesize_bmp(docs)
    out = multimodal.resize_images(blobs, 4, 3).collect()
    assert len(out) == 6
    assert all(r.resized and (r.width, r.height) == (4, 3) for r in out)
    # every resized payload decodes to the target dims with the SOLID
    # source color preserved (synthesize_bmp fills one color per id)
    for r in out:
        w, h, means = multimodal.decode_bmp(bytes(r.payload))
        assert (w, h) == (4, 3)
    # non-BMP payloads pass through untouched
    wav = encode_wav(64, 8000, 1000)
    mixed = spark.createDataFrame([(99, bytearray(wav))], "id bigint, payload binary")
    (row,) = multimodal.resize_images(mixed, 4, 3).collect()
    assert not row.resized and bytes(row.payload) == wav and row.width is None


def test_resize_images_passes_through_undecodable_bm(spark):
    """'BM'-magic payloads that aren't decodable 24-bit BMPs (other
    variants, truncated uploads) pass through untouched instead of
    killing the job — and truncation raises at the kernel level."""
    import pytest

    good = multimodal.encode_bmp(4, 3, (1, 2, 3))
    truncated = good[: len(good) - 5]
    notbmp = b"BM" + b"\x00" * 60  # BM magic, garbage header
    with pytest.raises(ValueError, match="truncated"):
        multimodal.resize_bmp(truncated, 2, 2)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(truncated)), (3, bytearray(notbmp))],
        "id bigint, payload binary",
    )
    rows = {r.id: r for r in multimodal.resize_images(df, 2, 2).collect()}
    assert rows[1].resized and (rows[1].width, rows[1].height) == (2, 2)
    assert not rows[2].resized and bytes(rows[2].payload) == truncated
    assert not rows[3].resized and bytes(rows[3].payload) == notbmp


def test_resize_images_survives_header_stub_and_null_payload(spark):
    """A payload of bare b'BM' (shorter than the 54-byte header →
    struct.error, not ValueError) and a NULL payload must both emit
    pass-through rows instead of failing the job (advisor r5)."""
    good = multimodal.encode_bmp(2, 2, (9, 9, 9))
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"BM")), (3, None)],
        "id bigint, payload binary",
    )
    rows = {r.id: r for r in multimodal.resize_images(df, 2, 2).collect()}
    assert rows[1].resized
    assert not rows[2].resized and bytes(rows[2].payload) == b"BM"
    assert not rows[3].resized and rows[3].payload is None and rows[3].n_bytes == 0
