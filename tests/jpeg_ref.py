"""The JPEG codec's expected output without entropy coding: the
reference the ``decode_jpeg(encode_jpeg(x))`` round-trip pin compares
against bit-for-bit."""

from __future__ import annotations

from prisma_migrator_spark.llm.jpeg import (
    QT_CHROMA,
    QT_LUMA,
    _dequant_idct,
    _fdct_quant,
    _rgb_to_ycbcr,
    scale_qt,
)


def reference_roundtrip(
    rgb_rows: list[list[tuple[int, int, int]]], quality: int = 90
) -> list[list[tuple[int, int, int]]]:
    """The codec's EXACT expected output, computed without any entropy
    coding: per 8x8 block FDCT -> quantize -> dequantize -> IDCT with
    the same float path the encoder/decoder use, then YCbCr->RGB.
    ``decode_jpeg(encode_jpeg(x))`` must equal this bit-for-bit — the
    test pin that proves headers + Huffman + bit IO are lossless and
    the ONLY loss is the quantizer."""
    height, width = len(rgb_rows), len(rgb_rows[0])
    qt_l = scale_qt(QT_LUMA, quality)
    qt_c = scale_qt(QT_CHROMA, quality)
    bw, bh = (width + 7) // 8, (height + 7) // 8
    pw, ph = bw * 8, bh * 8
    planes = [[0.0] * (pw * ph) for _ in range(3)]
    for y in range(ph):
        row = rgb_rows[min(y, height - 1)]
        for x in range(pw):
            yy, cb, cr = _rgb_to_ycbcr(*row[min(x, width - 1)])
            planes[0][y * pw + x] = yy - 128.0
            planes[1][y * pw + x] = cb - 128.0
            planes[2][y * pw + x] = cr - 128.0
    out_planes = [[0] * (pw * ph) for _ in range(3)]
    for by in range(bh):
        for bx in range(bw):
            for comp in range(3):
                qt = qt_l if comp == 0 else qt_c
                block = [
                    planes[comp][(by * 8 + yy) * pw + bx * 8 + xx]
                    for yy in range(8)
                    for xx in range(8)
                ]
                samples = _dequant_idct(_fdct_quant(block, qt), qt)
                for yy in range(8):
                    dst = (by * 8 + yy) * pw + bx * 8
                    out_planes[comp][dst : dst + 8] = samples[8 * yy : 8 * yy + 8]
    rows = []
    for y in range(height):
        row = []
        for x in range(width):
            yy = out_planes[0][y * pw + x]
            cb = out_planes[1][y * pw + x] - 128
            cr = out_planes[2][y * pw + x] - 128
            r_ = yy + 1.402 * cr
            g_ = yy - 0.344136 * cb - 0.714136 * cr
            b_ = yy + 1.772 * cb
            row.append(
                tuple(
                    0 if v < 0 else (255 if v > 255 else int(round(v)))
                    for v in (r_, g_, b_)
                )
            )
        rows.append(row)
    return rows
