"""Multimodal plumbing: binary payload schema, Arrow-batch extraction,
stubbed decode boundary."""

from __future__ import annotations

import hashlib

import pytest

from acled_spark.multimodal import (
    attach_payloads,
    decode_image,
    extract_features,
    fake_decode,
)
from acled_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


def test_payload_schema_and_metadata(spark):
    media = attach_payloads(load(spark, SF_DIR, "documents"))
    assert dict(media.dtypes) == {
        "doc_id": "bigint",
        "payload": "binary",
        "meta": "struct<mime:string,n_bytes:bigint,source:string>",
    }
    row = media.orderBy("doc_id").first()
    assert row["meta"]["n_bytes"] == len(row["payload"])
    assert row["meta"]["mime"] == "text/plain"


def test_extract_features_matches_local_compute(spark):
    docs = load(spark, SF_DIR, "documents").limit(20)
    feats = {
        r["doc_id"]: r for r in extract_features(attach_payloads(docs)).collect()
    }
    for r in docs.collect():
        payload = r["text"].encode("utf-8")
        f = feats[r["doc_id"]]
        assert f["n_bytes"] == len(payload)
        assert f["digest"] == hashlib.md5(payload).hexdigest()
        assert (f["width"], f["height"]) == fake_decode(payload)


def test_compressed_formats_stay_explicitly_stubbed():
    """Only the stdlib-decodable formats decode; the rest raise a
    NARROWED NotImplementedError naming the gap (VERDICT r7 #1).
    PNG and baseline JPEG graduated to real decodes in r11, so GIF is
    the stub representative now — and a MALFORMED PNG or JPEG is a
    ValueError (they ARE supported formats), never a
    NotImplementedError."""
    with pytest.raises(NotImplementedError, match="plug Pillow"):
        decode_image(b"GIF89a not decodable here")
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n...")
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0JFIF...")  # truncated JPEG segment
    # BMP variants outside 24-bpp BI_RGB name the gap too
    from acled_spark.multimodal import encode_bmp

    rle = bytearray(encode_bmp(bytes(12), 2, 2))
    rle[30] = 1  # BI_RLE8
    with pytest.raises(NotImplementedError, match="compression=1"):
        decode_image(bytes(rle))


def test_bmp_round_trip_every_padding_width():
    """encode_bmp -> decode_image_pixels is the identity on (w, h,
    pixels) for widths covering all four 4-byte row paddings, and the
    bottom-up storage un-flips (row-distinct pixels prove it)."""
    from acled_spark.multimodal import (
        _bmp_row_pad, decode_image, decode_image_pixels, encode_bmp,
    )

    for w, pad in [(4, 0), (5, 1), (6, 2), (7, 3)]:
        assert _bmp_row_pad(w) == pad
        h = 3
        pixels = bytes((r * 50 + i) % 256 for r in range(h) for i in range(3 * w))
        payload = encode_bmp(pixels, w, h)
        assert payload[:2] == b"BM"
        assert len(payload) == 54 + h * (3 * w + pad)
        # header fields at their fixed offsets, little-endian
        assert int.from_bytes(payload[18:22], "little") == w
        assert int.from_bytes(payload[22:26], "little") == h
        assert decode_image(payload) == (w, h)
        dw, dh, dpix = decode_image_pixels(payload)
        assert (dw, dh, dpix) == (w, h, pixels)


def test_bmp_top_down_variant_decodes():
    """Negative header height = rows stored top-down; the decoder must
    NOT flip those."""
    from acled_spark.multimodal import decode_image_pixels, encode_bmp

    w, h = 4, 2
    pixels = bytes(range(w * h * 3))
    payload = bytearray(encode_bmp(pixels, w, h))
    payload[22:26] = (-h).to_bytes(4, "little", signed=True)
    # rows were stored bottom-up by the encoder; with a top-down header
    # the decoder reads them as-is -> rows come back swapped
    dw, dh, dpix = decode_image_pixels(bytes(payload))
    row = 3 * w
    assert (dw, dh) == (w, h)
    assert dpix == pixels[row:] + pixels[:row]


def test_ppm_round_trip_and_comment_header():
    from acled_spark.multimodal import (
        decode_image, decode_image_pixels, encode_ppm,
    )

    w, h = 5, 4
    pixels = bytes((i * 7) % 256 for i in range(w * h * 3))
    payload = encode_ppm(pixels, w, h)
    assert decode_image(payload) == (w, h)
    assert decode_image_pixels(payload) == (w, h, pixels)
    # header comments between tokens are legal PPM
    commented = b"P6\n# made by a test\n5 4\n# maxval next\n255\n" + pixels
    assert decode_image_pixels(commented) == (w, h, pixels)


def test_truncated_payloads_raise_value_error():
    from acled_spark.multimodal import encode_bmp, encode_ppm

    bmp = encode_bmp(bytes(24), 4, 2)
    ppm = encode_ppm(bytes(24), 4, 2)
    with pytest.raises(ValueError, match="truncated"):
        decode_image(bmp[:40])
    with pytest.raises(ValueError, match="truncated"):
        decode_image(bmp[:-3])
    with pytest.raises(ValueError, match="truncated"):
        decode_image(ppm[:-3])
    with pytest.raises(ValueError, match="needs exactly"):
        encode_bmp(bytes(10), 4, 2)


def test_malformed_headers_raise_not_garbage():
    """r8 review: degenerate/hostile header fields must RAISE, never
    return garbage geometry — negative PPM dims made `need` negative
    (truncation check passed, slice went negative) and a data_off
    inside the BMP headers decoded header bytes as pixels."""
    from acled_spark.multimodal import decode_image_pixels, encode_bmp

    with pytest.raises(ValueError, match="degenerate PPM"):
        decode_image_pixels(b"P6\n-4 -3\n255\n" + bytes(36))
    with pytest.raises(ValueError, match="degenerate PPM"):
        decode_image_pixels(b"P6\n-4 3\n255\n" + bytes(100))
    with pytest.raises(ValueError, match="degenerate PPM"):
        decode_image_pixels(b"P6\n0 3\n255\n" + bytes(10))

    hostile = bytearray(encode_bmp(bytes(24), 4, 2))
    hostile[10:14] = (0).to_bytes(4, "little")  # data_off -> 0
    with pytest.raises(ValueError, match="overlaps"):
        decode_image_pixels(bytes(hostile))
    hostile = bytearray(encode_bmp(bytes(24), 4, 2))
    hostile[18:22] = (-4).to_bytes(4, "little", signed=True)
    with pytest.raises(ValueError, match="degenerate BMP"):
        decode_image_pixels(bytes(hostile))


def test_real_decoder_rides_extract_features(spark):
    """The production wiring: extract_features(decoder=decode_image)
    over REAL BMP payloads — geometry comes from parsing actual bytes
    through the Arrow boundary."""
    from pyspark.sql import functions as F

    from acled_spark.multimodal import encode_bmp, extract_features

    rows = [
        (1, encode_bmp(bytes(4 * 3 * 3), 4, 3)),
        (2, encode_bmp(bytes(7 * 2 * 3), 7, 2)),
        (3, None),
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in extract_features(media, decoder=decode_image).collect()
    }
    assert (got[1]["width"], got[1]["height"]) == (4, 3)
    assert (got[2]["width"], got[2]["height"]) == (7, 2)
    assert got[3]["width"] is None and got[3]["digest"] is None
    assert got[1]["n_bytes"] == len(rows[0][1])
    del F


def test_resize_geometry_invariants(spark):
    """No upscale, aspect ratio preserved within integer rounding, and
    every output side fits max_side."""
    from acled_spark.multimodal import attach_payloads, fake_decode, resize_images

    docs = load(spark, SF_DIR, "documents").limit(50)
    media = attach_payloads(docs)
    out = resize_images(media, max_side=100).collect()
    assert len(out) == 50
    for r in out:
        assert max(r["out_width"], r["out_height"]) <= 100
        assert r["out_width"] >= 1 and r["out_height"] >= 1
        assert r["scale"] <= 1.0  # never upscale
        if r["scale"] == 1.0:
            assert (r["out_width"], r["out_height"]) == (r["width"], r["height"])
        # geometry must match the decoder's dims deterministically
        w, h = fake_decode(bytes(r["payload"]))
        assert (w, h) == (r["width"], r["height"])


def test_sample_frames_fanout_and_determinism(spark):
    from acled_spark.multimodal import (
        FRAME_BYTES,
        attach_payloads,
        sample_frames,
    )

    docs = load(spark, SF_DIR, "documents").limit(20)
    media = attach_payloads(docs)
    frames = sample_frames(media, every=3)
    rows = frames.collect()
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    expected = 0
    for p in payloads.values():
        n_frames = max(1, len(p) // FRAME_BYTES)
        expected += len(range(0, n_frames, 3))
    assert len(rows) == expected
    # frame bytes are exact payload slices (kept frames only)
    for r in rows[:40]:
        p = payloads[r["doc_id"]]
        idx = r["frame_idx"]
        assert idx % 3 == 0
        assert bytes(r["frame"]) == p[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]


def test_mm_feature_extract_self_certifies(spark):
    """digest_ok pins Arrow round-trip byte fidelity (md5 recomputed
    JVM-side == Python-side digest); decode_ok pins the decoder
    contract + metadata byte-count parity."""
    from acled_spark.registry import all_specs

    rows = all_specs()["mm_feature_extract"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    assert all(r["digest_ok"] for r in rows)
    assert all(r["decode_ok"] for r in rows)


def test_extract_features_rejects_colliding_passthrough(spark):
    import pytest

    from acled_spark.multimodal import attach_payloads, extract_features
    from acled_spark.tables import load
    from tests.conftest import SF_DIR

    media = attach_payloads(load(spark, SF_DIR, "documents"))
    with pytest.raises(ValueError, match="collide"):
        extract_features(media, passthrough=("n_bytes",))
    with pytest.raises(ValueError, match="collide"):
        # 'payload' crosses the Arrow boundary itself: selecting it twice
        # would crash in the worker, so the guard must catch it driver-side
        extract_features(media, passthrough=("payload",))


def test_attach_payloads_matches_documented_media_schema(spark):
    """MEDIA_SCHEMA is the documented media-frame contract — pin it to
    attach_payloads' actual output so the constant can't silently drift."""
    from pyspark.sql.types import _parse_datatype_string

    from acled_spark.multimodal import MEDIA_SCHEMA, attach_payloads

    docs = load(spark, SF_DIR, "documents").limit(3)
    got = attach_payloads(docs).schema
    want = _parse_datatype_string(MEDIA_SCHEMA)
    assert [
        (f.name, f.dataType.simpleString()) for f in got.fields
    ] == [(f.name, f.dataType.simpleString()) for f in want.fields]


def test_null_payloads_flag_instead_of_crashing(spark):
    """A NULL payload (unreadable file in a production binaryFile
    source) must yield a flagged/empty row, not a TypeError inside the
    Arrow worker."""
    from acled_spark.multimodal import (
        extract_features,
        resize_images,
        sample_frames,
    )

    media = spark.createDataFrame(
        [(1, bytearray(b"some real payload bytes")), (2, None)],
        "doc_id long, payload binary",
    )
    feats = {r["doc_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["digest"] is not None and feats[1]["n_bytes"] > 0
    assert feats[2]["digest"] is None and feats[2]["n_bytes"] == 0
    assert feats[2]["width"] is None and feats[2]["height"] is None

    resized = {r["doc_id"]: r for r in resize_images(media).collect()}
    assert resized[1]["out_width"] >= 1
    assert resized[2]["payload"] is None and resized[2]["scale"] is None

    frames = sample_frames(media, every=2).collect()
    assert {r["doc_id"] for r in frames} == {1}  # null payload: no frames


def test_sample_frames_rejects_nonpositive_every(spark):
    import pytest as _pytest

    from acled_spark.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, bytearray(b"x" * 100))], "doc_id long, payload binary"
    )
    for bad in (0, -1):
        with _pytest.raises(ValueError, match="every"):
            sample_frames(media, every=bad)


def test_phash_dedup_finds_planted_near_pairs(spark):
    """mm_phash_dedup (r9): every planted (2k, 2k+1) same-source pair
    must surface as a banded candidate and flag is_near; the blackout
    perturbation makes most of them NEAR (hamming >= 1), certifying
    the hash tolerates small pixel edits instead of only exact-byte
    matches.  Output invariants: doc1 < doc2, hamming in [0, 64],
    is_near == (hamming <= 6), fully deterministic order."""
    from acled_spark.registry import all_specs

    rows = all_specs()["mm_phash_dedup"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows == sorted(rows, key=lambda r: (r["hamming"], r["doc1"], r["doc2"]))
    for r in rows:
        assert r["doc1"] < r["doc2"]
        assert 0 <= r["hamming"] <= 64
        assert r["is_near"] == (r["hamming"] <= 6)
    planted = [
        r for r in rows if r["doc2"] == r["doc1"] + 1 and r["doc1"] % 2 == 0
    ]
    assert len(planted) == 75            # all 75 pairs of the 150-doc set
    assert all(r["is_near"] for r in planted)
    # the perturbation genuinely moves the hash for most pairs — this
    # is a NEAR-dup detector, not an exact-hash equality check
    assert sum(1 for r in planted if r["hamming"] >= 1) >= 60


def test_phash_worker_hash_matches_pure_python_reference(spark):
    """The Arrow-side aHash against an independent in-test
    re-derivation from the same pixel definition (tile + blackout),
    for a handful of docs — catches codec/band-packing drift without
    the DuckDB oracle in the loop."""
    from acled_spark.registry import all_specs
    from acled_spark.tables import load

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, "/root/testdata/sf0.001", "documents")
        .orderBy("doc_id").limit(6).collect()
        if r["text"]
    }

    def ahash_bands(doc_id, src_text):
        tb = src_text.encode("utf-8")
        pix = bytearray((tb * (192 // len(tb) + 1))[:192])
        if doc_id % 2 == 1:
            pix[0:3] = b"\x00\x00\x00"
        lum = [pix[3 * p] + pix[3 * p + 1] + pix[3 * p + 2] for p in range(64)]
        total = sum(lum)
        bits = [1 if 64 * l > total else 0 for l in lum]
        return [sum(bits[16 * k + j] << j for j in range(16)) for k in range(4)]

    # doc 2k vs 2k+1 hamming from the reference definition must equal
    # the engine's reported hamming for that planted pair
    rows = all_specs()["mm_phash_dedup"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    engine = {(r["doc1"], r["doc2"]): r["hamming"] for r in rows}
    checked = 0
    for even in (0, 2, 4):
        if even in docs and even + 1 in docs and (even, even + 1) in engine:
            a = ahash_bands(even, docs[even])
            b = ahash_bands(even + 1, docs[even])
            ham = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
            assert engine[(even, even + 1)] == ham
            checked += 1
    assert checked >= 2


def test_phash_unbounded_core_has_no_global_sort(spark):
    """The heavy-tier scale path (phash_source_docs(limit=None) ->
    phash_band_pairs) must not pay the global sort the oracle's
    deterministic LIMIT cut needs — a corpus-wide orderBy would be a
    full-exchange total sort at 100 TB (SCALE.md §phash-heavy)."""
    from acled_spark.queries.multimodal_q import (
        phash_band_pairs,
        phash_source_docs,
    )

    docs = phash_source_docs(spark, "/root/testdata/sf0.001")
    plan = phash_band_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    assert "Sort " not in plan  # no global/local sort anywhere in the core


def test_phash_unbounded_core_agrees_with_registered_query(spark):
    """The refactor contract: the registered (bounded) query's pairs
    are exactly the unbounded core's pairs restricted to the bounded
    doc set — the LIMIT changes scope, never semantics."""
    from pyspark.sql import functions as F

    from acled_spark.queries.multimodal_q import (
        _PHASH_DOCS,
        phash_band_pairs,
        phash_source_docs,
    )
    from acled_spark.registry import all_specs

    sf = "/root/testdata/sf0.001"
    bounded_ids = {
        r["doc_id"]
        for r in phash_source_docs(spark, sf, limit=_PHASH_DOCS).collect()
    }
    unbounded = {
        (r["doc1"], r["doc2"], r["hamming"])
        for r in phash_band_pairs(phash_source_docs(spark, sf)).collect()
        if r["doc1"] in bounded_ids and r["doc2"] in bounded_ids
    }
    registered = {
        (r["doc1"], r["doc2"], r["hamming"])
        for r in all_specs()["mm_phash_dedup"].builder(spark, sf).collect()
    }
    assert registered == unbounded


def test_png_round_trip_all_filters():
    """encode_png -> decode_image_pixels is the identity on pixel
    bytes for every scanline filter (None/Sub/Up/Average/Paeth) and
    for widths that stress the left/upper-left edges."""
    from acled_spark.multimodal import decode_image_pixels, encode_png

    for ft in range(5):
        for w, h in ((1, 1), (4, 3), (7, 5), (16, 2)):
            pix = bytes((i * 37 + ft * 11) % 256 for i in range(w * h * 3))
            payload = encode_png(pix, w, h, filter_type=ft)
            assert payload[:8] == b"\x89PNG\r\n\x1a\n"
            pw, ph, dec = decode_image_pixels(payload)
            assert (pw, ph, dec) == (w, h, pix)


def test_png_decode_handles_multi_idat():
    """IDAT may span chunks; the reader must concatenate before
    inflating (real encoders split at 8K/32K boundaries)."""
    import zlib

    from acled_spark.multimodal import (
        _png_chunk,
        decode_image_pixels,
        encode_png,
    )

    w, h = 5, 4
    pix = bytes((i * 13) % 256 for i in range(w * h * 3))
    whole = encode_png(pix, w, h, filter_type=1)
    # rebuild with the IDAT split in two
    ln = int.from_bytes(whole[33:37], "big")
    idat = whole[41 : 41 + ln]
    head = whole[:33]  # sig + IHDR chunk
    rebuilt = (
        head
        + _png_chunk(b"IDAT", idat[:3])
        + _png_chunk(b"IDAT", idat[3:])
        + _png_chunk(b"IEND", b"")
    )
    assert decode_image_pixels(rebuilt) == (w, h, pix)


def test_png_hostile_payloads_fail_loudly():
    """Corrupt CRC, truncated chunks, missing IHDR, bad scanline
    filters, and length mismatches are ValueErrors; unsupported but
    VALID variants (16-bit, palette, interlace) are the narrowed
    NotImplementedError naming the gap."""
    import zlib

    import pytest as _pytest

    from acled_spark.multimodal import (
        _png_chunk,
        decode_image_pixels,
        encode_png,
    )

    sig = b"\x89PNG\r\n\x1a\n"
    good = encode_png(bytes(36), 4, 3)

    # CRC tamper inside IDAT data
    bad = bytearray(good)
    bad[45] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_image_pixels(bytes(bad))
    # truncated mid-chunk
    with _pytest.raises(ValueError, match="truncated|IHDR"):
        decode_image_pixels(good[:20])
    # no IHDR at all
    with _pytest.raises(ValueError, match="IHDR"):
        decode_image_pixels(sig + _png_chunk(b"IEND", b""))
    # unsupported color type (grayscale) -> narrowed NotImplementedError
    ihdr = (4).to_bytes(4, "big") + (3).to_bytes(4, "big") + bytes(
        [8, 0, 0, 0, 0]
    )
    gray = sig + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
    with _pytest.raises(NotImplementedError, match="color_type=0"):
        decode_image_pixels(gray)
    # interlaced -> narrowed NotImplementedError
    ihdr_i = (4).to_bytes(4, "big") + (3).to_bytes(4, "big") + bytes(
        [8, 2, 0, 0, 1]
    )
    inter = sig + _png_chunk(b"IHDR", ihdr_i) + _png_chunk(b"IEND", b"")
    with _pytest.raises(NotImplementedError, match="interlace=1"):
        decode_image_pixels(inter)
    # invalid scanline filter byte (5) in otherwise-valid data
    ihdr_ok = (1).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes(
        [8, 2, 0, 0, 0]
    )
    raw = bytes([5, 1, 2, 3])  # filter 5 + one RGB pixel
    evil = (
        sig
        + _png_chunk(b"IHDR", ihdr_ok)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="invalid filter"):
        decode_image_pixels(evil)
    # scanline byte-count mismatch vs IHDR dims
    short = (
        sig
        + _png_chunk(b"IHDR", ihdr_ok)
        + _png_chunk(b"IDAT", zlib.compress(bytes([0, 1, 2])))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="scanline data"):
        decode_image_pixels(short)
    # encoder input validation
    with _pytest.raises(ValueError, match="pixel buffer"):
        encode_png(bytes(5), 4, 3)
    with _pytest.raises(ValueError, match="filter type"):
        encode_png(bytes(36), 4, 3, filter_type=7)


def test_png_decompression_bomb_rejected_before_inflate():
    """A CRC-valid IDAT under a huge IHDR must be rejected by the
    declared-geometry limit BEFORE zlib allocates anything (deflate
    expands ~1032:1, so megabytes of IDAT could claim tens of GB)."""
    import zlib

    import pytest as _pytest

    from acled_spark.multimodal import _png_chunk, decode_image_pixels

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = (65535).to_bytes(4, "big") + (65535).to_bytes(4, "big") + bytes(
        [8, 2, 0, 0, 0]
    )
    bomb = (
        sig
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 1024))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="decode limit"):
        decode_image_pixels(bomb)


def test_png_corrupt_zlib_stream_is_valueerror():
    """CRC-valid chunks wrapping a non-zlib IDAT keep the malformed-
    payload contract: ValueError, never a raw zlib.error leaking."""
    import pytest as _pytest

    from acled_spark.multimodal import _png_chunk, decode_image_pixels

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = (1).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes(
        [8, 2, 0, 0, 0]
    )
    evil = (
        sig
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"this is not deflate")
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="zlib"):
        decode_image_pixels(evil)


def test_png_encoder_rejects_degenerate_dims():
    import pytest as _pytest

    from acled_spark.multimodal import encode_png

    with _pytest.raises(ValueError, match="degenerate"):
        encode_png(b"", 0, 5)
    with _pytest.raises(ValueError, match="degenerate"):
        encode_png(bytes(9), -1, -3)  # (-1*-3*3 == 9 passes a size check)


def test_paeth_predictor_spec_tie_break_table():
    """RFC 2083 §6.6 tie-break order (left, then up, then upper-left),
    pinned by known answers.  The r12 mutation lens changed <= to < in
    the predictor and NOTHING failed: encoder and decoder share
    _paeth, so every round-trip stays self-consistent, and the driver
    corpus never produced a tie — but a spec-compliant external PNG
    would decode WRONG.  (4,1,2): p=3, pa=pc=1 < pb=2 -> left must win
    the pa==pc tie; (1,4,2): pb==pc=1 < pa=2 -> up wins over
    upper-left; (2,0,1): pc strictly smallest -> upper-left."""
    from acled_spark.multimodal import _paeth

    assert _paeth(4, 1, 2) == 4
    assert _paeth(1, 4, 2) == 4
    assert _paeth(2, 0, 1) == 1
    assert _paeth(0, 0, 0) == 0


def test_paeth_golden_bytes_decode():
    """A FROZEN spec-correct Paeth-filtered PNG whose second row's
    second pixel reconstructs through the (left=4, up=1, upper-left=2)
    tie neighborhood — a consistently mutated predictor misdecodes
    these bytes even though its own round-trips stay clean."""
    from acled_spark.multimodal import decode_image_pixels

    golden = bytes.fromhex(
        "89504e470d0a1a0a0000000d4948445200000002000000020802000000fd"
        "d49a730000001549444154789c63616262faffff3f0b9062666606001bbf"
        "031ba2a5af710000000049454e44ae426082"
    )
    w, h, px = decode_image_pixels(golden)
    assert (w, h) == (2, 2)
    assert px == bytes([2, 2, 2, 1, 1, 1, 4, 4, 4, 7, 7, 7])
