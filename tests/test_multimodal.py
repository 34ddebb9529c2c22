"""Multimodal binary-column plumbing: schema, batching, stubbed decode."""

import hashlib

import pytest

from scardina_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(tables):
    return M.documents_as_media(tables["documents"]).cache()


def test_media_schema_and_digest(media, duck):
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "payload", "n_bytes", "digest"]
    row = media.orderBy("media_id").first()
    assert row["digest"] == hashlib.md5(bytes(row["payload"])).hexdigest()
    assert row["n_bytes"] == len(bytes(row["payload"]))
    # DuckDB 1.0 md5() is VARCHAR-only; md5 of the utf-8 blob equals md5 of
    # the text itself
    want = duck.sql(
        "select md5(text), octet_length(text::BLOB) from documents "
        "where doc_id = (select min(doc_id) from documents)").fetchone()
    assert (row["digest"], row["n_bytes"]) == want


def test_metadata_only_prunes_payload(media):
    meta = M.metadata_only(media)
    assert "payload" not in meta.columns
    plan = meta._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan.lower().split("readschema")[-1][:300] \
        if "readschema" in plan.lower() else True


def test_frame_sampling_offsets_and_bytes(media):
    frames = M.sample_frames(media, n_frames=4, frame_bytes=4)
    rows = frames.orderBy("media_id", "frame_idx").collect()
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert len(rows) == 4 * len(src)
    for r in rows:
        payload = src[r["media_id"]]
        total = max(1, len(payload) // 4)
        want_off = (r["frame_idx"] * total // 4) * 4
        assert r["frame_offset"] == want_off
        assert r["frame_hex"] == payload[want_off:want_off + 4].hex()


def test_resize_batch_contract(media):
    out = M.resize_batch(media, target_bytes=64)
    rows = {r["media_id"]: r for r in out.collect()}
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert set(rows) == set(src)
    for mid, r in rows.items():
        payload = src[mid]
        assert r["orig_bytes"] == len(payload)
        assert r["resized_bytes"] == min(64, len(payload))
        assert r["scale_bp"] == (r["resized_bytes"] * 10_000) // len(payload)
        assert r["resized_head"] == payload[:8].hex()


def test_wav_container_roundtrip_real_codec(spark):
    """The WAV path is a REAL codec loop: the stdlib wave READER must
    recover the exact PCM, sample rate, and frame count the encoder
    wrote — including a non-default rate (proving the header is parsed,
    not assumed)."""
    import io
    import wave

    pcm = bytes(range(256))
    for rate in (8000, 44100):
        container = M.pcm_to_wav(pcm, sample_rate=rate)
        assert container[:4] == b"RIFF" and container[8:12] == b"WAVE"
        with wave.open(io.BytesIO(container), "rb") as w:
            assert w.getframerate() == rate
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 1
            assert w.getnframes() == len(pcm)
            assert w.readframes(w.getnframes()) == pcm


def test_wav_decode_features_match_numpy(spark, tables):
    """decode_wav_features == a direct numpy recomputation from the
    source text, for every document (including empty/NULL)."""
    import numpy as np

    docs = tables["documents"].limit(50)
    extra = spark.createDataFrame(
        [(100001, ""), (100002, None)], "doc_id: long, text: string")
    docs = docs.select("doc_id", "text").unionByName(extra)
    wav = M.documents_as_wav(docs)
    got = {r["media_id"]: r.asDict()
           for r in M.decode_wav_features(wav).collect()}
    for row in docs.collect():
        pcm = (row["text"] or "").encode("utf-8")
        arr = np.frombuffer(pcm, dtype=np.uint8).astype(np.int64)
        c = arr - 128
        d = got[row["doc_id"]]
        assert d["sample_rate"] == M.WAV_SAMPLE_RATE
        assert d["n_samples"] == len(pcm)
        assert d["duration_us"] == len(pcm) * 1_000_000 // M.WAV_SAMPLE_RATE
        assert d["pcm_sum"] == int(arr.sum())
        assert d["pcm_sq_sum"] == int((c * c).sum())
        assert d["peak"] == (int(np.abs(c).max()) if len(pcm) else 0)


# --------------------------------------------------------------------------
# PNG: a REAL image codec (x63/x64)
# --------------------------------------------------------------------------

def test_png_roundtrip_all_filters():
    """encode_png -> decode_png recovers the exact pixels for assorted
    sizes, and images taller than 4 rows really carry ALL FIVE filter
    types in their IDAT stream (the encoder cycles r % 5)."""
    import random
    import struct
    import zlib

    rng = random.Random(13)
    for n in (0, 1, 31, 32, 33, 64, 160, 161, 500, 1009):
        px = bytes(rng.randrange(256) for _ in range(n))
        payload = M.encode_png(px)
        w, h, out, n_chunks = M.decode_png(payload)
        assert (w, h) == (32, max(1, -(-n // 32)))
        assert out[:n] == px
        assert all(b == 0 for b in out[n:])
        assert n_chunks == 3  # IHDR + IDAT + IEND
    # inspect the raw scanline stream of a 10-row image: filter bytes
    # must be 0,1,2,3,4,0,1,2,3,4 (the decoder exercised every path)
    payload = M.encode_png(bytes(rng.randrange(256) for _ in range(320)))
    # layout: sig(8) + IHDR chunk(25) -> IDAT header at 33, data at 41
    (ilen,) = struct.unpack(">I", payload[33:37])
    idat = payload[41:41 + ilen]
    raw = zlib.decompress(idat)
    assert [raw[r * 33] for r in range(10)] == [0, 1, 2, 3, 4] * 2


def test_png_rejects_malformed_containers():
    payload = bytearray(M.encode_png(b"scardina png codec" * 9))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="signature"):
        M.decode_png(b"JFIF" + bytes(payload[4:]))
    bad = bytearray(payload)
    bad[60] ^= 0xFF  # flip a byte inside IDAT -> CRC must catch it
    with _pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="truncated"):
        M.decode_png(bytes(payload[:40]))


def test_png_cross_validated_by_independent_jvm_decoder(spark):
    """Our PNGs are not merely self-consistent: the JVM's javax.imageio
    reader (an INDEPENDENT full PNG implementation) must decode them to
    the identical pixel grid — signature, chunk framing, CRCs, zlib
    stream and all five scanline filters validated by a second codec."""
    import random

    rng = random.Random(41)
    for n in (5, 200, 331):  # 1-row, 7-row (all filters), ragged tail
        px = bytes(rng.randrange(256) for _ in range(n))
        payload = M.encode_png(px)
        jvm = spark._jvm
        img = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(bytearray(payload)))
        w, h = img.getWidth(), img.getHeight()
        assert (w, h) == (32, max(1, -(-n // 32)))
        raster = img.getRaster()
        got = [raster.getSample(x, y, 0) for y in range(h) for x in range(w)]
        assert got == list(px) + [0] * (w * h - n)


def test_png_decode_features_match_numpy(spark, tables):
    """decode_png_features == a direct numpy recomputation from the
    source text, for every document (including empty/NULL)."""
    import numpy as np

    docs = tables["documents"].limit(40)
    extra = spark.createDataFrame(
        [(100001, ""), (100002, None)], "doc_id: long, text: string")
    docs = docs.select("doc_id", "text").unionByName(extra)
    png = M.documents_as_png(docs)
    got = {r["media_id"]: r.asDict()
           for r in M.decode_png_features(png).collect()}
    for row in docs.collect():
        b = (row["text"] or "").encode("utf-8")
        h = max(1, -(-len(b) // 32))
        arr = np.zeros(32 * h, dtype=np.int64)
        arr[:len(b)] = np.frombuffer(b, dtype=np.uint8)
        d = got[row["doc_id"]]
        assert (d["width"], d["height"]) == (32, h)
        assert d["n_pixels"] == 32 * h
        assert d["pixel_sum"] == int(arr.sum())
        assert d["pixel_sq_sum"] == int((arr * arr).sum())
        assert d["peak"] == int(arr.max())
        assert d["n_chunks"] == 3


def test_png_downsample_chain(spark, tables):
    """decode -> nearest-neighbor downsample -> re-encode -> decode:
    the x64 chain.  Downsampled features equal a numpy subsample of the
    original pixel grid (even rows / even cols for factor 2)."""
    import numpy as np

    docs = tables["documents"].limit(30).select("doc_id", "text")
    png = M.documents_as_png(docs)
    small = M.png_downsample(png, factor=2)
    got = {r["media_id"]: r.asDict()
           for r in M.decode_png_features(small).collect()}
    for row in docs.collect():
        b = (row["text"] or "").encode("utf-8")
        h = max(1, -(-len(b) // 32))
        arr = np.zeros((h, 32), dtype=np.int64)
        flat = np.frombuffer(b, dtype=np.uint8)
        arr.reshape(-1)[:len(b)] = flat
        sm = arr[::2, ::2]
        d = got[row["doc_id"]]
        assert (d["width"], d["height"]) == (sm.shape[1], sm.shape[0])
        assert d["pixel_sum"] == int(sm.sum())
        assert d["pixel_sq_sum"] == int((sm * sm).sum())
        assert d["peak"] == int(sm.max())


# --------------------------------------------------------------------------
# AVI: a REAL video codec (x65)
# --------------------------------------------------------------------------

def test_avi_roundtrip_and_structure():
    """encode_avi -> decode_avi recovers the exact frames (including
    stride-padded widths and zero-padded short frames), and the
    container is structurally a real AVI: RIFF/AVI signature, hdrl
    before movi, one 00db per frame, idx1 trailing."""
    import random
    import struct

    rng = random.Random(3)
    for nf in (1, 2, 7):
        frames = [bytes(rng.randrange(256) for _ in range(128))
                  for _ in range(nf)]
        payload = M.encode_avi(frames)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
        assert payload.index(b"hdrl") < payload.index(b"movi")
        assert payload.count(b"00db") == nf + nf  # movi chunks + idx1
        w, h, out = M.decode_avi(payload)
        assert (w, h) == (M.AVI_WIDTH, M.AVI_HEIGHT)
        assert out == frames
    # non-multiple-of-4 width exercises DIB stride padding
    frames = [bytes(rng.randrange(256) for _ in range(10 * 4))
              for _ in range(3)]
    w, h, out = M.decode_avi(M.encode_avi(frames, width=10, height=4))
    assert (w, h, out) == (10, 4, frames)
    # short frame zero-pads
    w, h, out = M.decode_avi(M.encode_avi([b"xyz"]))
    assert out[0][:3] == b"xyz" and set(out[0][3:]) == {0}
    # the avih frame count is really read back, not assumed
    payload = bytearray(M.encode_avi([bytes(128), bytes(128)]))
    i = payload.index(b"avih") + 8 + 16  # dwTotalFrames field
    payload[i:i + 4] = struct.pack("<I", 9)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="frames"):
        M.decode_avi(bytes(payload))


def test_avi_rejects_malformed_containers():
    import pytest as _pytest

    payload = bytearray(M.encode_avi([bytes(range(128))]))
    with _pytest.raises(ValueError, match="signature"):
        M.decode_avi(b"RIFX" + bytes(payload[4:]))
    bad = bytearray(payload)
    i = bad.rindex(b"idx1")
    bad[i + 16] ^= 0xFF  # corrupt an index offset
    with _pytest.raises(ValueError, match="idx1"):
        M.decode_avi(bytes(bad))
    with _pytest.raises(ValueError, match="truncated"):
        M.decode_avi(bytes(payload[:40]))


def test_avi_decode_features_match_numpy(spark, tables):
    """decode_avi_features == a direct numpy recomputation from the
    source text, for every document (including empty/NULL) — full-video
    sums plus the middle frame's sum (per-frame random access)."""
    import numpy as np

    docs = tables["documents"].limit(40)
    extra = spark.createDataFrame(
        [(100001, ""), (100002, None)], "doc_id: long, text: string")
    docs = docs.select("doc_id", "text").unionByName(extra)
    avi = M.documents_as_avi(docs)
    got = {r["media_id"]: r.asDict()
           for r in M.decode_avi_features(avi).collect()}
    fsz = M.AVI_WIDTH * M.AVI_HEIGHT
    for row in docs.collect():
        b = (row["text"] or "").encode("utf-8")
        nf = max(1, -(-len(b) // fsz))
        arr = np.zeros(nf * fsz, dtype=np.int64)
        arr[:len(b)] = np.frombuffer(b, dtype=np.uint8)
        mid = arr[(nf // 2) * fsz:(nf // 2 + 1) * fsz]
        d = got[row["doc_id"]]
        assert (d["width"], d["height"]) == (M.AVI_WIDTH, M.AVI_HEIGHT)
        assert d["n_frames"] == nf
        assert d["pixel_sum"] == int(arr.sum())
        assert d["pixel_sq_sum"] == int((arr * arr).sum())
        assert d["peak"] == int(arr.max())
        assert d["mid_frame_sum"] == int(mid.sum())


def test_avi_thumbnail_cross_codec(spark, tables):
    """x66: the middle AVI frame re-encoded as PNG decodes to exactly
    that frame's pixels; 'first' selector picks frame 0; unknown
    selectors are rejected."""
    import numpy as np

    docs = tables["documents"].limit(20).select("doc_id", "text")
    avi = M.documents_as_avi(docs)
    for sel, pick in (("middle", lambda fs: fs[len(fs) // 2]),
                      ("first", lambda fs: fs[0])):
        thumbs = {r["media_id"]: bytes(r["payload"])
                  for r in M.avi_thumbnail(avi, frame=sel).collect()}
        for row in docs.collect():
            b = (row["text"] or "").encode("utf-8")
            fsz = M.AVI_WIDTH * M.AVI_HEIGHT
            nf = max(1, -(-len(b) // fsz))
            frames = [b[k * fsz:(k + 1) * fsz].ljust(fsz, b"\x00")
                      for k in range(nf)]
            w, h, px, _ = M.decode_png(thumbs[row["doc_id"]])
            assert (w, h) == (M.AVI_WIDTH, M.AVI_HEIGHT)
            assert px == pick(frames)
    with pytest.raises(ValueError, match="selector"):
        M.avi_thumbnail(avi, frame="last")
