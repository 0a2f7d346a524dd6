"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is an opaque
``binary`` column (or a reference to object storage), metadata is a
typed struct, and decode/feature-extraction runs Arrow-batched via
``mapInPandas`` — Python touches each batch once, everything else
stays columnar.

Every per-row stage — the decoders (``parse_*_metadata``,
``resize_*``, :func:`extract_features`), the fingerprinters
(:func:`image_phash`, :func:`audio_fingerprint`, :func:`video_phash`)
and the synthesizers (``attach_*_payload``) — runs through one helper,
``functions/arrow._per_row``. Its fault-isolation rule is the module's
only one: a row whose function raises gets NULL fields, never a task
failure; the decoders keep that NULL row, the fingerprinters drop it
(a corrupt payload can't be near-anything). Each stage outputs its
``id_col`` unchanged. :func:`sample_frames` is the one fan-out stage
(zero or more rows per payload) and keeps its own ``mapInPandas``.

Five modalities run FULLY REAL bytes end-to-end, stdlib-only:
WAV/RIFF audio (synthesis + chunk-walk parse + RMS), 24-bit BMP
images (synthesis + header/pixel parse + nearest-neighbor resize),
truecolor PNG (synthesis via zlib/DEFLATE + chunk-walk with CRC
verification + scanline defiltering for all five standard filter
types), AVI video (multi-frame RIFF container: hdrl/strl header
parse, idx1-indexed frame location with movi-walk fallback, real
frame sampling re-emitting each frame as a decodable BMP), and
baseline JPEG (:mod:`prisma_migrator_spark.llm.jpeg` — Annex-K
tables, canonical Huffman entropy coding, float DCT both directions)
— each pinned against an independent reference in pytest. The
format-generic stages (:func:`decode_image`, :func:`resize_images`,
:func:`extract_features`) sniff magic bytes and dispatch to the real
per-format decoders; there is no ``fake=True`` stand-in left.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prisma_migrator_spark.functions.arrow import _per_row


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Simulate a multimodal table: payload = utf-8 bytes of the text,
    metadata struct alongside. With real media this is the raw file
    content + probed container metadata."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        id_col,
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


def image_pixels(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Format-generic REAL image decode: sniff the magic bytes and
    dispatch to the matching stdlib decoder — BMP (``BM``), PNG
    (``\\x89PNG``), baseline JPEG (``\\xff\\xd8``). Returns
    ``(width, height, top-down rows of (r, g, b))``; raises
    ``ValueError`` for unknown or malformed payloads — exactly what a
    codec library does, so callers NULL-isolate per row."""
    if payload[:2] == b"BM":
        return bmp_pixels(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return png_pixels(payload)
    if payload[:2] == b"\xff\xd8":
        from prisma_migrator_spark.llm.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise ValueError("unknown image format (not BMP/PNG/JPEG)")


def decode_image(payload: bytes, n_bins: int = 8) -> list[float]:
    """REAL image feature extraction: decode the payload (any of the
    three real formats) and return an ``n_bins``-bin normalized
    BT.601-luma histogram of the actual pixels — the deterministic
    stand-in for CNN embeddings with a real decode underneath.
    Raises ``ValueError`` on non-image payloads."""
    width, height, rows = image_pixels(payload)
    bins = [0] * n_bins
    for row in rows:
        for r, g, b in row:
            luma = 0.299 * r + 0.587 * g + 0.114 * b
            idx = int(luma * n_bins / 256.0)
            bins[idx if idx < n_bins else n_bins - 1] += 1
    total = float(width * height) or 1.0
    return [c / total for c in bins]


def resize_images(
    df: DataFrame,
    width: int = 64,
    height: int = 64,
) -> DataFrame:
    """Arrow-batched REAL image resize over the binary payload
    (:func:`_per_row`): decode any supported format (BMP/PNG/JPEG),
    nearest-neighbor resample, re-emit as 24-bit BMP — the thumbnail
    stage of an image pipeline, format-normalizing on the way out.
    Undecodable payloads yield a NULL-payload row (fault isolation),
    never a task failure."""

    def _resize_one(p: bytes) -> bytes:
        src_w, src_h, rows = image_pixels(p)
        pad = (-(width * 3)) % 4
        out_rows = []
        for oy in range(height - 1, -1, -1):  # BMP is bottom-up
            sy = oy * src_h // height
            line = bytearray()
            for ox in range(width):
                r, g, b = rows[sy][ox * src_w // width]
                line += bytes((b, g, r))
            line += b"\x00" * pad
            out_rows.append(bytes(line))
        return bmp_wrap(b"".join(out_rows), width, height)

    resized = _per_row(df, _resize_one, ["payload"], "payload binary", ["doc_id"])
    return resized.select(
        "*", F.lit(width).alias("width"), F.lit(height).alias("height")
    )


def extract_features(
    df: DataFrame,
    n_bins: int = 8,
) -> DataFrame:
    """Arrow-batched REAL feature extraction over the binary payload
    (:func:`_per_row`): the scale-path shape for any decode step.
    Batches stream through Python; nothing driver-side. Non-image
    payloads yield NULL features (fault isolation) and keep their
    ``n_bytes``."""
    sized = df.select(
        "doc_id", "payload", F.octet_length("payload").alias("n_bytes")
    )
    return _per_row(
        sized,
        lambda p: decode_image(p, n_bins=n_bins),
        ["payload"],
        "features array<double>",
        ["doc_id", "n_bytes"],
    )


# --- WAV/RIFF audio: a FULLY REAL modality (stdlib-only) --------------


def synthesize_wav(
    doc_id: int, seed_text: str, sample_rate: int = 8000, n_samples: int = 400
) -> bytes:
    """Deterministic 16-bit mono PCM WAV bytes (a real, spec-valid
    RIFF container — playable, parseable by any tool). Tone frequency
    derives from a hash of the text, so fixtures are stable across
    runs and engines. Pure stdlib: no codec needed — which is the
    point: WAV is the modality this container CAN do end-to-end."""
    import hashlib
    import math
    import struct

    h = int(hashlib.md5(seed_text.encode()).hexdigest()[:8], 16)
    freq = 100 + (h % 900)
    amp = 12000
    frames = b"".join(
        struct.pack(
            "<h",
            int(amp * math.sin(2 * math.pi * freq * i / sample_rate)),
        )
        for i in range(n_samples)
    )
    byte_rate = sample_rate * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(frames))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(frames))
    )
    return hdr + frames


def attach_wav_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Audio variant of `attach_binary_payload`: a real WAV per row
    (Arrow-batched through :func:`_per_row` — byte synthesis is
    Python-side work, exactly where a real pipeline's
    download/transcode step sits)."""
    return _per_row(
        df, lambda i, t: synthesize_wav(i, t or ""), [id_col, text_col],
        "payload binary", [id_col],
    )


WAV_META_SCHEMA = (
    "sample_rate int, n_channels int, bits int, "
    "n_samples int, duration_ms double, rms double"
)


def parse_wav_metadata(with_payload: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode: a RIFF chunk WALK (iterate (id, size) pairs to
    locate ``fmt `` and ``data`` — word-aligned skips, so spec-valid
    extras like LIST/INFO or ``fact`` chunks between them are handled,
    and WAVE_FORMAT_EXTENSIBLE is unwrapped to its PCM subformat),
    then RMS loudness from the 16-bit PCM frames — no external codec,
    ``struct`` + stdlib math. Runs as ``mapInPandas`` so each Arrow
    batch crosses the JVM↔Python boundary once; at 100 TB this is the
    same shape as a PIL/libav decode stage, with the scan partitioning
    carrying the parallelism.

    Fault isolation: a malformed payload yields a row of NULL metadata
    for its id instead of killing the whole Arrow batch/task — one bad
    blob out of a billion must not fail the stage."""
    import math
    import struct

    def parse_one(b: bytes):
        if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return None
        fmt_body = data_body = None
        off = 12
        while off + 8 <= len(b):
            cid = b[off : off + 4]
            (sz,) = struct.unpack("<I", b[off + 4 : off + 8])
            body = b[off + 8 : off + 8 + sz]
            if cid in (b"fmt ", b"data") and len(body) < sz:
                # truncated payload: declared size overruns the blob.
                # NULL row, never plausible-but-wrong stats over a
                # partial frame slice (fault-isolation contract).
                return None
            if cid == b"fmt ":
                fmt_body = body
            elif cid == b"data":
                data_body = body
            off += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
        if fmt_body is None or data_body is None or len(fmt_body) < 16:
            return None
        tag, n_ch, rate, _brate, _align, bits = struct.unpack(
            "<HHIIHH", fmt_body[:16]
        )
        if tag == 0xFFFE and len(fmt_body) >= 26:  # EXTENSIBLE: real
            (tag,) = struct.unpack("<H", fmt_body[24:26])  # tag in GUID
        if tag != 1 or bits != 16 or n_ch == 0 or rate == 0:
            return None  # only integer PCM16 is in scope
        n = len(data_body) // 2 // n_ch
        samples = struct.unpack(f"<{n * n_ch}h", data_body[: n * n_ch * 2])
        rms = math.sqrt(sum(s * s for s in samples) / max(len(samples), 1))
        return rate, n_ch, bits, n, round(1000.0 * n / rate, 6), round(rms, 6)

    return _per_row(with_payload, parse_one, ["payload"], WAV_META_SCHEMA, [id_col])


# --- BMP: the REAL image modality (stdlib-only, like WAV for audio) ---


def _bgr_pixel_rows(doc_id: int, seed_text: str, width: int, height: int) -> bytes:
    """Deterministic bottom-up padded BGR pixel rows — the raw DIB
    payload shared by the BMP synthesizer and (per frame) the AVI
    synthesizer, so an AVI frame is BYTE-IDENTICAL to the BMP built
    from the same (doc_id, seed) recipe: the cross-format pin the
    video tests rely on."""
    import hashlib

    h = int(hashlib.md5(seed_text.encode()).hexdigest()[:8], 16)
    rows = []
    pad = (-(width * 3)) % 4
    for y in range(height):  # bottom-up row order, per spec
        row = bytearray()
        for x in range(width):
            r = (x * 255 // max(width - 1, 1)) ^ (h & 0xFF)
            g = (y * 255 // max(height - 1, 1)) ^ ((h >> 8) & 0xFF)
            b = (doc_id * 37 + x * y) % 256
            row += bytes((b & 0xFF, g & 0xFF, r & 0xFF))  # BGR
        row += b"\x00" * pad
        rows.append(bytes(row))
    return b"".join(rows)


def bmp_wrap(pixel_data: bytes, width: int, height: int) -> bytes:
    """Wrap raw bottom-up padded BGR rows in BMP headers — valid
    24-bit BMP out. Used by the synthesizer AND by ``sample_frames``
    to emit each sampled AVI frame as a standalone decodable image."""
    import struct

    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    offset = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", offset + len(pixel_data), 0, 0, offset)
    return hdr + info + pixel_data


def synthesize_bmp(doc_id: int, seed_text: str, width: int = 16, height: int = 16) -> bytes:
    """Deterministic 24-bit uncompressed BMP bytes — a real, spec-valid
    image (BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up BGR rows
    with 4-byte row padding) any viewer opens. Pixels are a horizontal
    gradient hashed with the text, so fixtures are stable across runs
    and engines. Pure stdlib: BMP is the image format this container
    CAN do end-to-end — the decode stage runs on REAL bytes, not a
    ``fake=True`` stand-in."""
    return bmp_wrap(
        _bgr_pixel_rows(doc_id, seed_text, width, height), width, height
    )


def attach_bmp_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    width: int = 16, height: int = 16,
) -> DataFrame:
    """Image variant of ``attach_wav_payload``: a real BMP per row."""
    return _per_row(
        df, lambda i, t: synthesize_bmp(i, t or "", width, height),
        [id_col, text_col], "payload binary", [id_col],
    )


BMP_META_SCHEMA = (
    "width int, height int, bpp int, "
    "mean_r double, mean_g double, mean_b double, luma double"
)


def _image_meta(width: int, height: int, bpp: int, sr: int, sg: int, sb: int):
    """One ``BMP_META_SCHEMA`` row from per-channel pixel sums: the
    means and their BT.601 luma, rounded to 6 places — the tail every
    image parser shares."""
    n = width * height
    mr, mg, mb = sr / n, sg / n, sb / n
    luma = 0.299 * mr + 0.587 * mg + 0.114 * mb
    return (
        width, height, bpp,
        round(mr, 6), round(mg, 6), round(mb, 6), round(luma, 6),
    )


def parse_bmp_metadata(with_payload: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL image decode, stdlib-only: parse the BMP headers (file
    header magic/offset, DIB dimensions/depth, top-down vs bottom-up
    sign, row padding) and compute per-channel means + BT.601 luma
    from the actual pixel bytes. Runs as ``mapInPandas`` — one Arrow
    crossing per batch; at 100 TB this is the identical stage shape
    as a PIL/turbojpeg decode, with scan partitioning carrying the
    parallelism (the codec is the only swap).

    Fault isolation: malformed payloads yield NULL metadata rows, as
    in :func:`parse_wav_metadata` — only uncompressed 24-bit BMPs are
    in scope; anything else is a NULL row, not a task failure."""
    import struct

    def parse_one(b: bytes):
        if len(b) < 54 or b[:2] != b"BM":
            return None
        (_, _, _, offset) = struct.unpack("<IHHI", b[2:14])
        hdr_size, width, height = struct.unpack("<Iii", b[14:26])
        planes, bpp, compression = struct.unpack("<HHI", b[26:34])
        if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
            return None
        # means are row-order independent: a top-down BMP (negative
        # height) needs no flip
        height = abs(height)
        if width <= 0 or height <= 0:
            return None
        stride = (width * 3 + 3) & ~3
        if len(b) < offset + stride * height:
            return None
        sr = sg = sb = 0
        for y in range(height):
            row_off = offset + y * stride
            row = b[row_off : row_off + width * 3]
            sb += sum(row[0::3])
            sg += sum(row[1::3])
            sr += sum(row[2::3])
        return _image_meta(width, height, bpp, sr, sg, sb)

    return _per_row(with_payload, parse_one, ["payload"], BMP_META_SCHEMA, [id_col])


def resize_bmp(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL nearest-neighbor resize of a 24-bit BMP — bytes in, valid
    BMP bytes out, no codec. The per-payload unit a `mapInPandas`
    resize stage applies (see :func:`resize_bmp_payloads`)."""
    import struct

    b = payload
    (_, _, _, offset) = struct.unpack("<IHHI", b[2:14])
    _, width, height = struct.unpack("<Iii", b[14:26])
    height_abs = abs(height)
    stride = (width * 3 + 3) & ~3
    out_pad = (-(out_w * 3)) % 4
    rows = []
    for oy in range(out_h):
        sy = oy * height_abs // out_h
        row = bytearray()
        src_off = offset + sy * stride
        for ox in range(out_w):
            sx = ox * width // out_w
            p = src_off + sx * 3
            row += b[p : p + 3]
        row += b"\x00" * out_pad
        rows.append(bytes(row))
    pixel_data = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, out_w, out_h if height > 0 else -out_h,
        1, 24, 0, len(pixel_data), 2835, 2835, 0, 0,
    )
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(pixel_data), 0, 0, off)
    return hdr + info + pixel_data


def resize_bmp_payloads(
    with_payload: DataFrame, out_w: int, out_h: int, id_col: str = "doc_id"
) -> DataFrame:
    """Distributed real-image resize: every payload decoded, resampled,
    re-encoded inside Arrow batches — the thumbnail stage of an image
    training pipeline, running genuine bytes end-to-end. A row whose
    resize raises yields a NULL payload."""
    return _per_row(
        with_payload, lambda p: resize_bmp(p, out_w, out_h), ["payload"],
        "payload binary", [id_col],
    )


def bmp_pixels(b: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode a 24-bit uncompressed BMP to ``(width, height, top-down
    rows of (r, g, b))`` — the pixel-level sibling of
    :func:`parse_bmp_metadata` (which only needs channel sums), used
    by the format-generic :func:`image_pixels` dispatch. Raises
    ``ValueError`` on anything out of scope."""
    import struct

    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP")
    (_, _, _, offset) = struct.unpack("<IHHI", b[2:14])
    hdr_size, width, height = struct.unpack("<Iii", b[14:26])
    planes, bpp, compression = struct.unpack("<HHI", b[26:34])
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("bad BMP dimensions")
    stride = (width * 3 + 3) & ~3
    if len(b) < offset + stride * height:
        raise ValueError("truncated BMP pixel data")
    rows = []
    for y in range(height):
        sy = y if top_down else height - 1 - y
        row_off = offset + sy * stride
        line = b[row_off : row_off + width * 3]
        rows.append(
            [(line[i + 2], line[i + 1], line[i]) for i in range(0, width * 3, 3)]
        )
    return width, height, rows


# --- PNG: second REAL image format (stdlib zlib — no codec) -----------


def encode_png(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Generic truecolor (8-bit RGB) PNG encoder from top-down
    ``(r, g, b)`` rows: PNG signature, IHDR/IDAT/IEND chunks with
    CRCs, zlib-compressed scanlines (filter type 0). Pure stdlib
    (``zlib`` + ``struct``): PNG's container and DEFLATE stream need
    no external codec, only fancy filters/interlacing do (not used).
    The encode counterpart of :func:`png_pixels`."""
    import struct
    import zlib

    height, width = len(rows), len(rows[0])
    raw = bytearray()
    for row in rows:  # top-down scanlines, filter byte 0 each
        raw.append(0)
        for r, g, b in row:
            raw += bytes((r & 0xFF, g & 0xFF, b & 0xFF))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def synthesize_png(doc_id: int, seed_text: str, width: int = 16, height: int = 16) -> bytes:
    """Deterministic truecolor (8-bit RGB) PNG bytes — a real,
    spec-valid image (see :func:`encode_png`). Same pixel recipe as
    :func:`synthesize_bmp`, so the two formats' decoded stats agree —
    which the tests exploit."""
    import hashlib

    h = int(hashlib.md5(seed_text.encode()).hexdigest()[:8], 16)
    rows = []
    for y in range(height):
        row = []
        for x in range(width):
            r = (x * 255 // max(width - 1, 1)) ^ (h & 0xFF)
            g = (y * 255 // max(height - 1, 1)) ^ ((h >> 8) & 0xFF)
            b = (doc_id * 37 + x * y) % 256
            row.append((r & 0xFF, g & 0xFF, b & 0xFF))
        rows.append(row)
    return encode_png(rows)


def attach_png_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    width: int = 16, height: int = 16,
) -> DataFrame:
    """PNG variant of ``attach_bmp_payload``: a real PNG per row."""
    return _per_row(
        df, lambda i, t: synthesize_png(i, t or "", width, height),
        [id_col, text_col], "payload binary", [id_col],
    )


def _png_defiltered(b: bytes) -> tuple[int, int, int, list[bytes]]:
    """Shared PNG pixel recovery: chunk walk (length/tag/CRC framing,
    CRC verified), IHDR parse, multi-IDAT zlib inflate, and scanline
    DEFILTERING for the five standard filter types (None, Sub, Up,
    Average, Paeth — encoders routinely mix these per row). Returns
    ``(width, height, channels, top-down defiltered scanlines)``;
    raises ``ValueError`` on bad magic, CRC mismatch, truncated IDAT,
    or unsupported color type/depth. Scope: 8-bit truecolor (color
    type 2) and RGBA (6), non-interlaced."""
    import struct
    import zlib

    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    off = 8
    width = height = None
    channels = 0
    idat = bytearray()
    while off + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[off : off + 4])
        tag = b[off + 4 : off + 8]
        body = b[off + 8 : off + 8 + ln]
        if len(body) < ln or off + 12 + ln > len(b):
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack(">I", b[off + 8 + ln : off + 12 + ln])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError("chunk CRC mismatch")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8 or ctype not in (2, 6) or interlace != 0:
                raise ValueError("unsupported PNG variant")
            channels = 3 if ctype == 2 else 4
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        off += 12 + ln
    if not width or not idat:
        raise ValueError("missing IHDR or IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) < (stride + 1) * height:
        raise ValueError("short pixel data")
    lines: list[bytes] = []
    prev = bytes(stride)
    pos = 0
    for _y in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prev[i - channels] if i >= channels else 0
                p = a + prev[i] - c
                pa, pb, pc = abs(p - a), abs(p - prev[i]), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    prev[i] if pb <= pc else c
                )
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        prev = bytes(line)
        lines.append(prev)
    return width, height, channels, lines


def png_pixels(b: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode a PNG to ``(width, height, top-down rows of (r, g, b))``
    (alpha dropped for RGBA) — the pixel-level view over
    :func:`_png_defiltered` used by :func:`image_pixels`."""
    width, height, channels, lines = _png_defiltered(b)
    rows = [
        [
            (line[i], line[i + 1], line[i + 2])
            for i in range(0, width * channels, channels)
        ]
        for line in lines
    ]
    return width, height, rows


def parse_png_metadata(with_payload: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL PNG decode, stdlib-only (see :func:`_png_defiltered` for
    the recovery pipeline), then per-channel means + BT.601 luma from
    the recovered pixels. Same output schema as
    :func:`parse_bmp_metadata` (``BMP_META_SCHEMA``), so downstream
    stages are format-agnostic — exactly how a real multi-format
    decode stage presents. Malformed payloads (bad magic, CRC
    mismatch, truncated IDAT, unsupported color type/depth) yield
    NULL-metadata rows, never task failures."""

    def parse_one(b: bytes):
        width, height, channels, lines = _png_defiltered(b)
        sr = sg = sb = 0
        for line in lines:
            sr += sum(line[0::channels])
            sg += sum(line[1::channels])
            sb += sum(line[2::channels])
        return _image_meta(width, height, 8 * channels, sr, sg, sb)

    return _per_row(with_payload, parse_one, ["payload"], BMP_META_SCHEMA, [id_col])


# --- JPEG: third REAL image format (baseline DCT codec, stdlib) -------


def synthesize_jpeg(
    doc_id: int, seed_text: str, width: int = 16, height: int = 16,
    quality: int = 90,
) -> bytes:
    """Deterministic baseline JFIF JPEG bytes — a real, spec-valid
    image (SOI/APP0/DQT/SOF0/DHT/SOS markers, Annex-K tables scaled
    to ``quality``, Huffman-coded 4:4:4 MCUs) any viewer opens. Same
    top-down pixel recipe as :func:`synthesize_png`, so decoded stats
    agree across formats within the quantizer loss — which the tests
    bound. Codec: :mod:`prisma_migrator_spark.llm.jpeg`."""
    import hashlib

    from prisma_migrator_spark.llm.jpeg import encode_jpeg

    h = int(hashlib.md5(seed_text.encode()).hexdigest()[:8], 16)
    rows = []
    for y in range(height):
        row = []
        for x in range(width):
            r = (x * 255 // max(width - 1, 1)) ^ (h & 0xFF)
            g = (y * 255 // max(height - 1, 1)) ^ ((h >> 8) & 0xFF)
            b = (doc_id * 37 + x * y) % 256
            row.append((r & 0xFF, g & 0xFF, b & 0xFF))
        rows.append(row)
    return encode_jpeg(rows, quality=quality)


def attach_jpeg_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    width: int = 16, height: int = 16, quality: int = 90,
) -> DataFrame:
    """JPEG variant of ``attach_bmp_payload``: a real baseline JPEG
    per row, encoded inside Arrow batches."""
    return _per_row(
        df, lambda i, t: synthesize_jpeg(i, t or "", width, height, quality),
        [id_col, text_col], "payload binary", [id_col],
    )


def parse_jpeg_metadata(with_payload: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL JPEG decode, stdlib-only: full baseline pipeline (marker
    walk, canonical Huffman, dequantize, IDCT, YCbCr->RGB — see
    :mod:`prisma_migrator_spark.llm.jpeg`), then per-channel means +
    BT.601 luma from the decoded pixels. Emits ``BMP_META_SCHEMA``
    (bpp = 24) like the BMP/PNG parsers, so downstream stages stay
    format-agnostic. Malformed/progressive/subsampled payloads yield
    NULL-metadata rows, never task failures."""
    from prisma_migrator_spark.llm.jpeg import decode_jpeg

    def parse_one(b: bytes):
        width, height, rows = decode_jpeg(b)
        sr = sg = sb = 0
        for row in rows:
            for r, g, bl in row:
                sr += r
                sg += g
                sb += bl
        return _image_meta(width, height, 24, sr, sg, sb)

    return _per_row(with_payload, parse_one, ["payload"], BMP_META_SCHEMA, [id_col])


# --- AVI: the REAL video modality (stdlib-only, multi-frame RIFF) -----


def synthesize_avi(
    doc_id: int,
    seed_text: str,
    width: int = 16,
    height: int = 16,
    n_frames: int = 8,
    fps: int = 10,
) -> bytes:
    """Deterministic uncompressed AVI bytes — a real, spec-valid video
    container (RIFF 'AVI ' → LIST hdrl [avih + LIST strl [strh 'vids'
    /'DIB ' + strf BITMAPINFOHEADER] ] → LIST movi ['00db' raw-DIB
    frames] → idx1 index) any player with a raw-DIB path opens.
    Frame ``i``'s pixel rows come from the SAME generator as
    ``synthesize_bmp(doc_id, f"{seed}|f{i}")`` — byte-identical, the
    cross-format pin. Pure stdlib ``struct``: like WAV/BMP/PNG, the
    container layer needs no codec; only lossy compression would."""
    return avi_wrap(
        [
            _bgr_pixel_rows(doc_id, f"{seed_text}|f{i}", width, height)
            for i in range(n_frames)
        ],
        width,
        height,
        fps,
    )


def avi_wrap(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Wrap raw-DIB frames (bottom-up padded BGR, one ``bytes`` per
    frame) in a spec-valid AVI container — the container layer of
    :func:`synthesize_avi`, factored out so variant corpora
    (:func:`attach_video_variant_payload`) can wrap ARBITRARY frame
    sequences, the way :func:`bmp_wrap`/:func:`pcm16_wav` serve the
    image/audio families."""
    import struct

    n_frames = len(frames)
    frame_sz = len(frames[0]) if frames else 0

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_sz,
        2835, 2835, 0, 0,
    )
    strh = (
        b"vids" + b"DIB "
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n_frames,
                      frame_sz, 0, 0)
        + struct.pack("<hhhh", 0, 0, width, height)
    )
    avih = struct.pack(
        "<IIIIIIIIII", 1_000_000 // max(fps, 1), frame_sz * fps, 0, 0x10,
        n_frames, 0, 1, frame_sz, width, height,
    ) + b"\x00" * 16
    hdrl = lst(
        b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    )
    movi_chunks, offsets = [], []
    off = 4  # idx1 offsets are relative to the 'movi' fourcc position
    for f in frames:
        offsets.append(off)
        ck = chunk(b"00db", f)
        movi_chunks.append(ck)
        off += len(ck)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00db" + struct.pack("<III", 0x10, o, frame_sz) for o in offsets
        ),
    )
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def attach_avi_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    width: int = 16, height: int = 16, n_frames: int = 8,
) -> DataFrame:
    """Video variant of ``attach_wav_payload``: a real AVI per row."""
    return _per_row(
        df, lambda i, t: synthesize_avi(i, t or "", width, height, n_frames),
        [id_col, text_col], "payload binary", [id_col],
    )


def parse_avi(b: bytes):
    """REAL container decode: RIFF walk (LIST descent for hdrl/movi),
    avih for (width, height, n_frames), strf for depth/compression,
    and frame location via the ``idx1`` index — each entry's offset is
    resolved against the movi position and VALIDATED against the
    chunk id actually found there (falling back to a movi walk when
    the index is absent or lies, as real-world AVIs sometimes do).
    Only uncompressed 24-bit 'vids' streams are in scope. Returns
    ``(width, height, n_frames, [frame_bytes, ...])`` or ``None``.

    Truncation rule (same contract the WAV parser learned): any chunk
    whose declared size overruns the blob makes the whole payload
    malformed -> ``None``, never stats over partial frames."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    width = height = n_frames = None
    bpp = compression = None
    movi_pos = None  # position of the 'movi' fourcc in b
    movi_end = None
    idx = None

    def subchunks(lo: int, hi: int):
        off = lo
        while off + 8 <= hi:
            cid = b[off : off + 4]
            (sz,) = struct.unpack("<I", b[off + 4 : off + 8])
            if off + 8 + sz > hi:
                yield cid, -1, -1  # truncated sentinel
                return
            yield cid, off + 8, off + 8 + sz
            off += 8 + sz + (sz & 1)

    for cid, lo, hi in subchunks(12, len(b)):
        if lo < 0:
            return None
        if cid == b"LIST":
            ltype = b[lo : lo + 4]
            if ltype == b"hdrl":
                for c2, l2, h2 in subchunks(lo + 4, hi):
                    if l2 < 0:
                        return None
                    if c2 == b"avih" and h2 - l2 >= 40:
                        (_, _, _, _, n_frames, _, _, _, width, height
                         ) = struct.unpack("<IIIIIIIIII", b[l2 : l2 + 40])
                    elif c2 == b"LIST" and b[l2 : l2 + 4] == b"strl":
                        for c3, l3, h3 in subchunks(l2 + 4, h2):
                            if l3 < 0:
                                return None
                            if c3 == b"strf" and h3 - l3 >= 20:
                                (_, _, _, _, bpp, compression) = struct.unpack(
                                    "<IiiHHI", b[l3 : l3 + 20]
                                )
            elif ltype == b"movi":
                movi_pos, movi_end = lo, hi
        elif cid == b"idx1":
            idx = (lo, hi)
    if None in (width, height, n_frames, movi_pos):
        return None
    if bpp != 24 or compression != 0 or width <= 0 or height <= 0:
        return None
    frames: list[bytes] = []
    stride = ((width * 3 + 3) & ~3) * height
    if idx is not None:
        lo, hi = idx
        ok = True
        for e in range(lo, hi - 15, 16):
            ckid, _flags, off, sz = struct.unpack(
                "<4sIII", b[e : e + 16]
            )
            if ckid != b"00db":
                continue
            pos = movi_pos + off  # offset from the 'movi' fourcc
            if b[pos : pos + 4] != ckid or pos + 8 + sz > len(b):
                ok = False
                break
            frames.append(b[pos + 8 : pos + 8 + sz])
        if ok and len(frames) == n_frames:
            if any(len(f) != stride for f in frames):
                return None
            return width, height, n_frames, frames
        frames = []  # index lied -> fall back to the walk
    for cid, lo, hi in subchunks(movi_pos + 4, movi_end):
        if lo < 0:
            return None
        if cid == b"00db":
            frames.append(b[lo:hi])
    if len(frames) != n_frames or any(len(f) != stride for f in frames):
        return None
    return width, height, n_frames, frames


FRAME_SCHEMA = (
    "frame_idx int, n_frames int, width int, height int, frame binary"
)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL frame sampling for AVI payloads: one output row per
    sampled frame (``mapInPandas`` fan-out — batch in, multiple rows
    out, the stage shape a libav decoder uses). Frames are located
    via the container's ``idx1`` index (walk fallback), sampled at
    evenly spaced indices over the stream length, and each emitted as
    a standalone 24-bit BMP (``bmp_wrap``) so any downstream image
    stage — ``parse_bmp_metadata``, ``resize_bmp_payloads`` — applies
    to video frames unchanged.

    Fault isolation: malformed/truncated payloads emit ZERO rows for
    that id (a per-frame NULL row has no meaning), never a task
    failure."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    parsed = parse_avi(bytes(payload))
                except Exception:
                    parsed = None
                if not parsed:
                    continue
                w, h, total, frames = parsed
                k = min(n_frames, total)
                idxs = sorted({
                    (j * (total - 1)) // (k - 1) if k > 1 else 0
                    for j in range(k)
                })
                for fi in idxs:
                    rows.append(
                        (int(i), fi, total, w, h, bmp_wrap(frames[fi], w, h))
                    )
            cols = list(zip(*rows)) if rows else [[]] * 6
            yield pd.DataFrame(
                {
                    id_col: pd.array(cols[0], dtype="int64"),
                    "frame_idx": pd.array(cols[1], dtype="int32"),
                    "n_frames": pd.array(cols[2], dtype="int32"),
                    "width": pd.array(cols[3], dtype="int32"),
                    "height": pd.array(cols[4], dtype="int32"),
                    "frame": pd.array(cols[5], dtype="object"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        run, f"{id_col} bigint, {FRAME_SCHEMA}"
    )


# --- perceptual hashing (image near-dup dedup) ------------------------
#
# DCT pHash (the classic perceptual hash, as in the pHash library /
# ImageHash): decode -> grayscale -> box-resample to 32x32 -> 2D
# DCT-II -> keep the top-left 8x8 low-frequency block -> threshold
# each coefficient against the block median -> 64-bit signature.
# Near-duplicate images (re-encodes across containers, mild resizes,
# small quality loss) agree on low-frequency structure, so their
# signatures sit within a few Hamming bits; distinct images are
# ~random (expected distance 32). Pairing is the SAME banded Hamming
# self-join as text SimHash (llm/dedup.hamming_band_pairs) — the
# image family reuses the audited Σ bucket² machinery rather than
# growing its own.

_PHASH_N = 32  # resample side; DCT runs over the 32x32 grayscale


def _phash_dct_basis():
    """Orthonormal DCT-II basis matrix for N=32, built once per
    interpreter (executors build their own copy inside the UDF)."""
    import math

    import numpy as np

    n = _PHASH_N
    c = np.zeros((n, n))
    for u in range(n):
        scale = (1.0 / n) ** 0.5 if u == 0 else (2.0 / n) ** 0.5
        for x in range(n):
            c[u, x] = scale * math.cos((2 * x + 1) * u * math.pi / (2 * n))
    return c


_PHASH_BASIS = None


def phash64(payload: bytes) -> str:
    """64-bit DCT perceptual hash of any supported image payload
    (BMP/PNG/JPEG via the :func:`image_pixels` sniffing dispatch),
    returned as a 64-char '0'/'1' string — the same bit-string shape
    as ``llm/dedup.simhash``, so the banded Hamming join is shared.
    Raises ``ValueError`` on non-image payloads (callers
    NULL-isolate per row, like every decode stage here)."""
    import numpy as np

    global _PHASH_BASIS
    if _PHASH_BASIS is None:
        _PHASH_BASIS = _phash_dct_basis()
    w, h, rows = image_pixels(payload)
    px = np.asarray(rows, dtype=np.float64)
    gray = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    n = _PHASH_N
    # box-resample to n x n: mean over each source block (degenerates
    # to nearest-neighbor replication when upscaling). Vectorized via
    # add.reduceat — a repeated boundary (upscale) yields the single
    # row/col gray[yb[i]], exactly the [y0, y0+1) block the original
    # per-block loop took (the loop measured 4.4 ms of the 7.2 ms
    # hash and DNF'd the video family's sf1 run on resample alone).
    yb = np.linspace(0, h, n + 1).astype(int)
    xb = np.linspace(0, w, n + 1).astype(int)
    sums = np.add.reduceat(
        np.add.reduceat(gray, yb[:-1], axis=0), xb[:-1], axis=1
    )
    counts = (
        np.maximum(np.diff(yb), 1)[:, None] * np.maximum(np.diff(xb), 1)
    )
    grid = sums / counts
    d = _PHASH_BASIS @ grid @ _PHASH_BASIS.T
    low = d[:8, :8].ravel()
    med = float(np.median(low))
    return "".join("1" if v > med else "0" for v in low)


def image_phash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched pHash stage: ``(id, payload)`` -> ``(id, phash)``
    via :func:`_per_row` — decode + DCT are per-row Python compute
    (the justified UDF shape for binary media; no built-in expresses
    a codec), batched through Arrow, embarrassingly parallel, zero
    shuffle. Undecodable payloads are DROPPED (their NULL hash is
    filtered out: a corrupt image can't be near-anything), never task
    failures."""
    return _per_row(
        df, phash64, [payload_col], "phash string", [id_col]
    ).where(F.col("phash").isNotNull())


def pattern_rows(
    group: int, width: int = 32, height: int = 32, grid: int = 8
) -> list[list[tuple[int, int, int]]]:
    """Deterministic SMOOTH test image: a ``grid x grid`` md5-random
    cell mosaic upsampled to ``width x height`` — low-frequency-
    dominated content, which is what photographs look like to a
    perceptual hash. (The gradient+moire recipe of
    :func:`synthesize_bmp` is adversarial for pHash by construction:
    its ``(doc_id*37 + x*y) % 256`` term is pure high-frequency noise
    that resampling destroys — measured intra-group Hamming up to 40
    of 64. An 8x8 mosaic puts one random value under each retained
    DCT coefficient: measured intra-group max 2 bits across
    BMP/PNG/JPEG-q90/24px-resize variants vs inter-group min 16.)"""
    import hashlib

    cells = [
        [
            tuple(hashlib.md5(f"img:{group}:{cy}:{cx}".encode()).digest()[:3])
            for cx in range(grid)
        ]
        for cy in range(grid)
    ]
    return [
        [cells[y * grid // height][x * grid // width] for x in range(width)]
        for y in range(height)
    ]


def rows_to_dib(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Top-down (r, g, b) rows -> raw DIB bytes (bottom-up BGR with
    4-byte row padding, per spec) — the pixel payload shared by the
    BMP container (:func:`bmp_wrap`) and AVI frames
    (:func:`avi_wrap`)."""
    height, width = len(rows), len(rows[0])
    pad = (-(width * 3)) % 4
    return b"".join(
        bytes(v for (r, g, b) in rows[y] for v in (b, g, r)) + b"\x00" * pad
        for y in range(height - 1, -1, -1)
    )


def rows_to_bmp(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Top-down (r, g, b) rows -> 24-bit BMP bytes — the encode
    counterpart of :func:`bmp_pixels`, composing :func:`rows_to_dib`
    with :func:`bmp_wrap`."""
    return bmp_wrap(rows_to_dib(rows), len(rows[0]), len(rows))


def attach_image_variant_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    group_size: int = 4,
    width: int = 32,
    height: int = 32,
    resize_to: int = 24,
    jpeg_quality: int = 90,
) -> DataFrame:
    """Near-duplicate image corpus: every ``group_size`` consecutive
    ids share ONE smooth source image (:func:`pattern_rows` keyed on
    ``id // group_size``), each id carrying a different real variant
    of it — the constructed ground truth for perceptual-hash dedup,
    with the variants a crawl actually serves:

    - variant 0: the source as 24-bit BMP
    - variant 1: the SAME pixels re-containered as PNG (lossless)
    - variant 2: JPEG re-encode at ``jpeg_quality`` (lossy)
    - variant 3: nearest-neighbor resize to ``resize_to`` px (BMP)

    Synthesis runs inside Arrow batches (:func:`_per_row`), like every
    attach stage here; group membership is ``id``-derived so the
    corpus is deterministic at any scale factor."""
    from prisma_migrator_spark.llm.jpeg import encode_jpeg

    def _make(i: int) -> bytes:
        rows = pattern_rows(i // group_size, width, height)
        variant = i % group_size
        if variant == 1:
            return encode_png(rows)
        if variant == 2:
            return encode_jpeg(rows, quality=jpeg_quality)
        bmp = rows_to_bmp(rows)
        if variant == 3:
            return resize_bmp(bmp, resize_to, resize_to)
        return bmp

    return _per_row(df, _make, [id_col], "payload binary", [id_col])


# --- audio fingerprinting (near-dup dedup, r7) -------------------------
#
# The audio member of the dedup family, completing the modality set:
# a crawl's audio shows up re-encoded (requantized), re-leveled
# (amplitude-scaled), resampled, and silence-padded — byte hashing
# sees none of it. Fingerprint = normalized spectral ENVELOPE: Hann
# window -> rFFT power -> 64 linear bands over 100-3900 Hz (band
# edges in Hz, so a sample-rate change maps the same content to the
# same bands) -> normalize by total energy (amplitude-invariant) ->
# bit b = band share above the mean. Near-dup variants measured <= 4
# Hamming bits apart, distinct sources >= 12 (24-tone mosaic corpus,
# 125 groups x 5 variants) — the same margins-then-band-join shape as
# image pHash, and the SAME banded join (llm/dedup.hamming_band_pairs).


def pcm16_wav(rate: int, samples: list[int]) -> bytes:
    """Wrap mono 16-bit PCM samples in a minimal RIFF/WAVE container
    (the encode counterpart of the `parse_wav_metadata` walk)."""
    import struct

    frames = struct.pack(f"<{len(samples)}h", *samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(frames))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(frames))
        + frames
    )


def wav_samples(payload: bytes) -> tuple[int, list[int]]:
    """Decode a PCM16 WAV payload to (rate, mono samples) — channel-
    averaged for multi-channel input. Same RIFF chunk walk as
    `parse_wav_metadata` (word-aligned skips, truncation check);
    raises ``ValueError`` on anything that is not integer PCM16."""
    import struct

    b = payload
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt_body = data_body = None
    off = 12
    while off + 8 <= len(b):
        cid = b[off : off + 4]
        (sz,) = struct.unpack("<I", b[off + 4 : off + 8])
        body = b[off + 8 : off + 8 + sz]
        if cid in (b"fmt ", b"data") and len(body) < sz:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            data_body = body
        off += 8 + sz + (sz & 1)
    if fmt_body is None or data_body is None or len(fmt_body) < 16:
        raise ValueError("missing fmt/data chunk")
    tag, n_ch, rate, _br, _al, bits = struct.unpack("<HHIIHH", fmt_body[:16])
    if tag == 0xFFFE and len(fmt_body) >= 26:
        (tag,) = struct.unpack("<H", fmt_body[24:26])
    if tag != 1 or bits != 16 or n_ch == 0 or rate == 0:
        raise ValueError("only integer PCM16 supported")
    n = len(data_body) // 2 // n_ch
    flat = struct.unpack(f"<{n * n_ch}h", data_body[: n * n_ch * 2])
    if n_ch == 1:
        return rate, list(flat)
    return rate, [
        sum(flat[i * n_ch : (i + 1) * n_ch]) // n_ch for i in range(n)
    ]


_AFP_BANDS = 64
_AFP_LO, _AFP_HI = 100.0, 3900.0


def afp64(payload: bytes) -> str:
    """64-bit spectral-envelope audio fingerprint of a PCM16 WAV,
    returned as a '0'/'1' string — the same signature shape as
    `phash64`/`simhash`, so the banded Hamming join is shared.
    Raises ``ValueError`` on non-audio payloads."""
    import numpy as np

    rate, samples = wav_samples(payload)
    x = np.asarray(samples, dtype=np.float64)
    if len(x) < 8:
        raise ValueError("clip too short to fingerprint")
    x = x * np.hanning(len(x))  # leakage control: tones stay in-band
    mag = np.abs(np.fft.rfft(x)) ** 2
    freqs = np.fft.rfftfreq(len(x), 1.0 / rate)
    edges = np.linspace(_AFP_LO, _AFP_HI, _AFP_BANDS + 1)
    e = np.array(
        [
            mag[(freqs >= edges[b]) & (freqs < edges[b + 1])].sum()
            for b in range(_AFP_BANDS)
        ]
    )
    e = e / (e.sum() or 1.0)
    mean = float(e.mean())
    return "".join("1" if v > mean else "0" for v in e)


def audio_fingerprint(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched fingerprint stage: ``(id, payload)`` ->
    ``(id, afp)``; undecodable payloads are DROPPED (fault
    isolation), mirroring `image_phash`."""
    return _per_row(
        df, afp64, [payload_col], "afp string", [id_col]
    ).where(F.col("afp").isNotNull())


def synthesize_tone_mosaic(
    group: int,
    rate: int = 8000,
    n: int = 1600,
    scale: float = 1.0,
    quant_bits: int = 16,
    pad: int = 0,
    n_tones: int = 24,
) -> bytes:
    """Deterministic broadband test clip: a 24-tone md5 'spectral
    mosaic' (random freqs 150-3350 Hz, amplitudes, phases per group)
    — the audio analog of `pattern_rows`: a single synthesized tone
    is spectrally sparse and collides across groups; 24 tones spread
    energy so the 64-band envelope is distinctive (measured
    inter-group Hamming >= 12 across 125 groups)."""
    import hashlib
    import math

    import numpy as np

    ps = []
    for t in range(n_tones):
        h = hashlib.md5(f"afp:{group}:{t}".encode()).digest()
        ps.append(
            (
                150.0 + (int.from_bytes(h[:2], "big") % 3200),
                0.3 + (h[2] / 255.0) * 0.7,
                (h[3] / 255.0) * 2 * math.pi,
            )
        )
    # vectorized synthesis: the per-sample math.sin loop measured
    # ~30ms/clip and DNF'd the sf10 scale run on CORPUS GENERATION
    # alone (the dedup operator was never the bottleneck)
    t = np.arange(n, dtype=np.float64) / rate
    x = np.zeros(n, dtype=np.float64)
    for f, a, ph in ps:
        x += a * np.sin(2 * math.pi * f * t + ph)
    peak = float(np.max(np.abs(x))) or 1.0
    x = x / peak * (12000.0 * scale)
    if quant_bits == 8:  # requantize through 8 bits and back
        x = np.round(x / 256.0) * 256.0
    samples = np.clip(x.astype(np.int64), -32768, 32767)
    if pad:
        samples = np.concatenate(
            [np.zeros(pad, np.int64), samples, np.zeros(pad, np.int64)]
        )
    return pcm16_wav(rate, [int(v) for v in samples])


def attach_audio_variant_payload(
    df: DataFrame, id_col: str = "doc_id", group_size: int = 5
) -> DataFrame:
    """Near-duplicate audio corpus: every ``group_size`` consecutive
    ids share one tone mosaic (keyed on ``id // group_size``), each
    id carrying a real transformation of it — the audio ground truth
    mirroring `attach_image_variant_payload`:

    - variant 0: the source clip (8 kHz, 0.2 s)
    - variant 1: re-leveled to 30% amplitude
    - variant 2: requantized through 8 bits
    - variant 3: resynthesized at 16 kHz (same Hz content)
    - variant 4: silence-padded both ends
    """
    def _make(i: int) -> bytes:
        g, v = i // group_size, i % group_size
        if v == 1:
            return synthesize_tone_mosaic(g, scale=0.3)
        if v == 2:
            return synthesize_tone_mosaic(g, quant_bits=8)
        if v == 3:
            return synthesize_tone_mosaic(g, rate=16000, n=3200)
        if v == 4:
            return synthesize_tone_mosaic(g, pad=400)
        return synthesize_tone_mosaic(g)

    return _per_row(df, _make, [id_col], "payload binary", [id_col])


# --- video fingerprinting (near-dup dedup, r7) --------------------------
#
# The VIDEO member of the dedup family - the fourth and last modality
# on the shared Hamming machinery (text SimHash, image pHash, audio
# spectral envelope). A crawl's video near-dups are the same footage
# re-containered at a different frame rate, played back reversed or
# re-cut, spatially resized, or brightness-regraded - byte hashing
# sees none of it. Fingerprint = per-frame DCT pHash (the SAME
# `phash64` the image family uses, over each decoded frame) pooled by
# PER-BIT MAJORITY VOTE into one 64-bit temporal signature:
#
# - frame-rate changes (each frame duplicated k x), reordering, and
#   reversal leave every bit's vote FRACTION unchanged -> the pooled
#   hash is EXACTLY equal (0 bits), not merely close;
# - spatial resize and linear brightness re-levels are absorbed by
#   the per-frame pHash (box resample + median threshold), so votes
#   shift by at most the per-frame drift;
# - distinct sources vote from independent per-frame hashes ->
#   ~random signatures (expected Hamming 32).
#
# Pairing is the SAME banded join (`llm/dedup.hamming_band_pairs`).

_VHASH_MAX_FRAMES = 32


def vhash64(payload: bytes) -> str:
    """64-bit temporal video fingerprint of an AVI payload, returned
    as a '0'/'1' string - the signature shape shared with
    ``simhash``/``phash64``/``afp64`` so the banded Hamming join is
    one audited plan across all four modalities. Per-frame
    :func:`phash64` bits are pooled by per-bit majority vote (ties
    round to '1'; vote fractions are preserved by frame duplication,
    so the rounding is deterministic and duplication-invariant).
    Videos longer than ``_VHASH_MAX_FRAMES`` vote over evenly
    sampled frames - the same even-index sampling as
    :func:`sample_frames`, and the one dial that trades exact
    frame-duplication invariance for bounded per-row compute on long
    clips. Raises ``ValueError`` on non-video payloads (callers drop
    per row, like every decode stage here)."""
    parsed = parse_avi(payload)
    if not parsed:
        raise ValueError("not a decodable AVI payload")
    w, h, _total, frames = parsed
    if not frames:
        raise ValueError("video has no frames")
    if len(frames) > _VHASH_MAX_FRAMES:
        k, last = _VHASH_MAX_FRAMES, len(frames) - 1
        frames = [frames[i] for i in sorted({
            (j * last) // (k - 1) for j in range(k)
        })]
    votes = [0] * 64
    for fr in frames:
        for j, c in enumerate(phash64(bmp_wrap(fr, w, h))):
            votes[j] += c == "1"
    n = len(frames)
    return "".join("1" if 2 * v >= n else "0" for v in votes)


def video_phash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched fingerprint stage: ``(id, payload)`` ->
    ``(id, vhash)``; undecodable payloads are DROPPED (fault
    isolation), mirroring :func:`image_phash` /
    :func:`audio_fingerprint`."""
    return _per_row(
        df, vhash64, [payload_col], "vhash string", [id_col]
    ).where(F.col("vhash").isNotNull())


def synthesize_mosaic_avi(
    group: int,
    n_frames: int = 6,
    size: int = 32,
    frame_dup: int = 1,
    reverse: bool = False,
    scale: float = 1.0,
) -> bytes:
    """Deterministic SMOOTH test video: ``n_frames`` distinct
    :func:`pattern_rows` mosaics (keyed on ``group`` and the frame
    index) wrapped by :func:`avi_wrap` - the video analog of
    :func:`pattern_rows`/:func:`synthesize_tone_mosaic`:
    low-frequency content a perceptual hash keys on, per-group-random
    so distinct groups separate. The knobs are the real-world
    transforms the fingerprint must absorb: ``frame_dup`` repeats
    each frame (a frame-rate change), ``reverse`` flips playback
    order, ``size`` re-renders spatially, ``scale`` re-levels
    brightness."""
    rows_per_frame = [
        pattern_rows(group * 131 + f, size, size) for f in range(n_frames)
    ]
    if scale != 1.0:
        rows_per_frame = [
            [[tuple(min(255, int(round(v * scale))) for v in px)
              for px in row] for row in rows]
            for rows in rows_per_frame
        ]
    frames = [rows_to_dib(rows) for rows in rows_per_frame
              for _ in range(frame_dup)]
    if reverse:
        frames = frames[::-1]
    return avi_wrap(frames, size, size)


def attach_video_variant_payload(
    df: DataFrame, id_col: str = "doc_id", group_size: int = 5
) -> DataFrame:
    """Near-duplicate video corpus: every ``group_size`` consecutive
    ids share one frame-mosaic source (keyed on ``id // group_size``),
    each id carrying a real transformation of it - the video ground
    truth mirroring :func:`attach_image_variant_payload`:

    - variant 0: the source clip (6 frames, 32px)
    - variant 1: frame-doubled (12 frames - a 2x frame-rate change)
    - variant 2: played back REVERSED
    - variant 3: spatially re-rendered at 48px
    - variant 4: brightness re-leveled to 70%
    """
    def _make(i: int) -> bytes:
        g, v = i // group_size, i % group_size
        if v == 1:
            return synthesize_mosaic_avi(g, frame_dup=2)
        if v == 2:
            return synthesize_mosaic_avi(g, reverse=True)
        if v == 3:
            return synthesize_mosaic_avi(g, size=48)
        if v == 4:
            return synthesize_mosaic_avi(g, scale=0.7)
        return synthesize_mosaic_avi(g)

    return _per_row(df, _make, [id_col], "payload binary", [id_col])
