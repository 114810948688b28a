"""Progressive JPEG (SOF2) decode: validated by the coefficient
identity — the progressive encoder writes the SAME quantized
coefficients as the baseline stream, so both must decode to IDENTICAL
pixels — plus a hand-crafted custom-table fixture for the EOBn-run
decoder path the Annex-K-table encoder cannot emit."""

import struct

import numpy as np
import pytest

from fast_causal_inference_spark.datapipe.jpeg import (
    decode_jpeg,
    encode_jpeg,
)


def _natural(h, w):
    t = np.linspace(0, 4, max(h, w))
    g = 128 + 100 * np.sin(np.outer(t[:h], t[:w]))
    return np.clip(g, 0, 255).astype(np.uint8)[:, :, None].repeat(3, 2)


@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("quality", [35, 90, 100])
def test_progressive_decodes_identical_to_baseline(sub, quality):
    rng = np.random.default_rng(quality)
    for img in (rng.integers(0, 256, (17, 23, 3), dtype=np.uint8),
                _natural(40, 40),
                np.full((16, 16, 3), 77, np.uint8)):
        base = decode_jpeg(encode_jpeg(img, quality=quality,
                                       subsampling=sub))
        prog = decode_jpeg(encode_jpeg(img, quality=quality,
                                       subsampling=sub, progressive=True))
        assert np.array_equal(base, prog)


def test_progressive_grayscale_and_tiny():
    rng = np.random.default_rng(1)
    for img in (rng.integers(0, 256, (20, 28), dtype=np.uint8),
                rng.integers(0, 256, (5, 3, 3), dtype=np.uint8)):
        base = decode_jpeg(encode_jpeg(img))
        prog = decode_jpeg(encode_jpeg(img, progressive=True))
        assert np.array_equal(base, prog)


def test_probe_reports_progressive():
    from fast_causal_inference_spark.datapipe.mediaprobe import (
        probe_payload,
    )

    p = encode_jpeg(_natural(16, 24), progressive=True)
    r = probe_payload(p)
    assert (r["container"], r["codec"]) == ("jpeg", "progressive")
    assert (r["width"], r["height"]) == (24, 16)


def test_eobn_run_decodes():
    """Hand-crafted SOF2 stream with a CUSTOM AC table carrying the
    EOB4 symbol (0x20): a 32x8 grayscale image (4 blocks), quant all-1,
    one AC scan whose single symbol is an EOBn run of 4 — every block's
    band must stay zero and only the DC scan's values survive."""
    from fast_causal_inference_spark.datapipe.jpeg import _BitWriter

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))
    out += seg(0xC2, struct.pack(">BHHB", 8, 8, 32, 1) + bytes([1, 0x11, 0]))
    # DC table: symbols 0..3 at 2 bits each (canonical)
    out += seg(0xC4, bytes([0x00]) + bytes([0, 4] + [0] * 14)
               + bytes([0, 1, 2, 3]))
    # AC table: two 1-bit codes: 0x20 (EOB4) and 0x01 (unused filler)
    out += seg(0xC4, bytes([0x10]) + bytes([2] + [0] * 15)
               + bytes([0x20, 0x01]))
    # DC scan (Ss=Se=0, Ah=0, Al=0): 4 blocks, diffs +2, 0, 0, 0
    bw = _BitWriter()
    # category-2 diff: symbol 2 (code '10' in the canonical 2-bit table:
    # symbols 0,1,2,3 -> codes 00,01,10,11), then 2 magnitude bits '10'
    bw.write(2, 0b10)
    bw.write(2, 0b10)                 # +2
    for _ in range(3):
        bw.write(2, 0b00)             # symbol 0: diff 0
    bw.flush()
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + bytes(bw.out)
    # AC scan (Ss=1, Se=63, Ah=0, Al=0): one EOB4 symbol covers all
    # 4 blocks; code for 0x20 is '0' (first 1-bit code), 2 extra bits
    # give eobrun = (1<<2)-1 + extra; extra 0b00 -> run of 4 total
    bw = _BitWriter()
    bw.write(1, 0b0)                  # symbol 0x20
    bw.write(2, 0b00)                 # extra bits
    bw.flush()
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + bytes(bw.out)
    out += b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (8, 32, 3)
    # DC=2, quant 1: every pixel of every block = round(2/8 + 128)
    assert np.unique(img).tolist() == [128]


def test_progressive_in_image_pipeline(spark):
    """decode_image routes progressive JPEGs through the same pipeline
    (strict mode no longer raises for SOF2)."""
    from fast_causal_inference_spark.datapipe.multimodal import (
        image_stats,
    )
    from fast_causal_inference_spark.serialization import (
        ensure_udf_serializable,
    )
    from pyspark.sql import functions as F

    ensure_udf_serializable()
    import pandas as pd

    def mk(s):
        return s.map(lambda i: encode_jpeg(
            np.full((4 + int(i) % 5, 6, 3), 10 * int(i) % 200, np.uint8),
            quality=100, progressive=True))

    mku = F.pandas_udf(mk, "binary")
    d = spark.range(10).select(F.col("id").alias("doc_id"),
                               mku(F.col("id")).alias("payload"))
    st = image_stats(d).toPandas()
    assert len(st) == 10 and (st.width == 6).all()
    # q=100 constant-color roundtrips bit-exactly, progressive included
    assert (st.mean_pixel == (10 * st.doc_id % 200)).all()


def test_progressive_missing_sos_raises():
    """SOI+SOF2(+tables)+EOI with zero SOS must raise, not return an
    all-gray image (codec contract: corrupt payloads raise)."""
    p = encode_jpeg(_natural(16, 16), progressive=True)
    # strip every SOS segment + its entropy data: keep bytes up to the
    # first SOS marker, then append EOI
    sos = p.find(b"\xff\xda")
    assert sos > 0
    broken = p[:sos] + b"\xff\xd9"
    with pytest.raises(ValueError, match="missing SOS"):
        decode_jpeg(broken)


@pytest.mark.parametrize("frac", [0.3, 0.7, 0.9])
def test_progressive_truncated_raises(frac):
    """A progressive payload cut before EOI must raise, never assemble
    partial coefficient state into silently-wrong pixels."""
    p = encode_jpeg(_natural(32, 48), progressive=True)
    sos = p.find(b"\xff\xda")
    cut = sos + int((len(p) - sos) * frac)
    with pytest.raises(ValueError):
        decode_jpeg(p[:cut])


def test_progressive_grayscale_sampling_gt1_dc_raster():
    """A single-component SOF2 frame whose lone component declares
    sampling factors 2x2 (grayscale converted from color) must decode
    its DC scan over the non-interleaved ceil(w/8) raster, not the
    MCU-padded interleaved grid (T.81 §A.2, Ns == 1 is always
    non-interleaved).  Width 24 is not a multiple of 16, so the two
    rasters genuinely differ."""
    img = _natural(24, 24)[:, :, 0]          # 2D -> single-component
    p = encode_jpeg(img, progressive=True)
    # encoder emits h=v=1 for grayscale; patch SOF2 sampling to 2x2.
    # SOF2 marker 0xFFC2; component spec byte at offset +11 (len2,prec1,
    # h2,w2,nc1,cid1 -> sampling byte).
    i = p.find(b"\xff\xc2")
    assert i > 0
    assert p[i + 2 + 2 + 1 + 4] == 1         # truly one component
    sof_samp = i + 2 + 2 + 1 + 4 + 1 + 1  # marker,len,prec,h,w,nc,cid
    assert p[sof_samp] == 0x11
    patched = p[:sof_samp] + b"\x22" + p[sof_samp + 1:]
    out = decode_jpeg(patched)
    ref = decode_jpeg(p)
    # same entropy data, same raster -> identical pixels over the
    # region both cover (sampling only changes padded-grid geometry)
    assert np.array_equal(out, ref)


def test_huffman_memo_is_bounded_and_read_only():
    """Many distinct DHT specs cannot grow the table memos past their
    cap, the Annex-K tables still round-trip after eviction, and a
    shared table cannot be mutated through the view a caller gets."""
    from fast_causal_inference_spark.datapipe import jpeg

    for i in range(3 * jpeg._HUFF_MEMO_MAX):
        bits = [0, 2] + [0] * 14                 # two 2-bit codes
        jpeg._build_encode_table(bits, [i % 256, (i // 256) + 1])
    assert len(jpeg._DECODE_TABLE_MEMO) <= jpeg._HUFF_MEMO_MAX
    assert len(jpeg._ENCODE_TABLE_MEMO) <= jpeg._HUFF_MEMO_MAX
    dec = jpeg._build_decode_table(*jpeg.HT_DC_LUMA)
    enc = jpeg._build_encode_table(*jpeg.HT_DC_LUMA)
    assert enc is jpeg._build_encode_table(*jpeg.HT_DC_LUMA)
    with pytest.raises(TypeError):
        dec[(1, 0)] = 0
    with pytest.raises(TypeError):
        enc[0] = (1, 0)
    img = _natural(16, 16)
    assert decode_jpeg(encode_jpeg(img, quality=90)).shape == img.shape
