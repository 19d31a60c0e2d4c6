"""Oracle-predictable media fixtures, built entirely JVM-side.

Every generator here assembles valid payloads (PPM, PNG, JPEG, WAV, FLAC,
MP4, AVI, text, WARC) with column expressions only, so the Python decoders
in ``woe_monotonic_binning_spark.operators.multimodal`` and
``woe_monotonic_binning_spark.sources.warc`` cannot cancel a mirrored
construction bug, and each payload's decoded values are closed-form SQL
arithmetic in the row id.  ``queries_catalog.py`` (the certified
``q_multimodal_stats`` / ``q_dedup_lines`` sections), the tests and
``tools/skew_smoke.py`` import them from here; they are test fixtures, not
part of the library.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from woe_monotonic_binning_spark.operators.multimodal import _crc8, _crc16


def synthetic_ppm_media(
    docs: DataFrame, id_col: str = "doc_id", width: int = 4, height: int = 2
) -> DataFrame:
    """Valid binary-PPM payloads built ENTIRELY JVM-side (hex/unhex —
    no Python in the construction): every pixel of row ``id`` is the
    constant triple ``(id%256, id*7%256, id*13%256)``, so the decoded
    channel sums are exactly ``width*height*channel`` — the
    oracle-predictable fixture that certifies ``decode_image`` end to
    end (the q_multimodal_stats 'pixels' section)."""
    r = F.pmod(F.col(id_col), F.lit(256)).cast("int")
    g = F.pmod(F.col(id_col) * 7, F.lit(256)).cast("int")
    b = F.pmod(F.col(id_col) * 13, F.lit(256)).cast("int")
    triple_hex = F.concat(
        F.lpad(F.hex(r), 2, "0"), F.lpad(F.hex(g), 2, "0"), F.lpad(F.hex(b), 2, "0")
    )
    content = F.concat(
        F.encode(F.lit(f"P6\n{width} {height}\n255\n"), "utf-8"),
        F.unhex(F.repeat(triple_hex, width * height)),
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_png_media(
    docs: DataFrame, id_col: str = "doc_id", width: int = 4, height: int = 2
) -> DataFrame:
    """Valid (modulo zeroed checksums) 8-bit RGB PNG payloads built
    ENTIRELY JVM-side — the PNG twin of ``synthetic_ppm_media`` and the
    certification fixture for the ``decode_image`` PNG path: every pixel
    of image ``id`` is the constant triple ``(id%256, id*7%256,
    id*13%256)``, so the decoded channel sums are exactly
    ``width*height*channel`` — SQL-predictable arithmetic.

    The IDAT stream is a single STORED (uncompressed) DEFLATE block, which
    needs no compressor: zlib header + ``01`` (BFINAL, BTYPE=00) + LEN /
    NLEN + the raw scanlines (filter byte 0 per row) — all spelled as hex
    and assembled with ``concat``/``repeat``/``unhex`` column expressions,
    no Python in the construction (so the Python decoder cannot cancel a
    mirrored construction bug).  Chunk CRCs and the adler32 trailer are
    zeroed — ``_parse_png`` deliberately never verifies checksums.  The
    filtered (Sub/Up/Average/Paeth) decode paths are pinned separately by
    hand-assembled golden bytes in tests/test_operators.py."""
    raw_len = height * (1 + 3 * width)
    if raw_len > 0xFFFF:
        raise ValueError(
            "synthetic_png_media: raster exceeds one stored DEFLATE block "
            f"({raw_len} > 65535 bytes); shrink width/height"
        )
    ihdr_hex = (
        "0000000d" "49484452"
        + f"{width:08x}{height:08x}"
        + "0802000000"  # depth 8, color 2 (RGB), non-interlaced
        + "00000000"  # zeroed CRC
    )
    idat_len = raw_len + 11  # zlib hdr (2) + stored hdr (5) + raw + adler (4)
    prefix_hex = (
        "89504e470d0a1a0a"  # PNG signature
        + ihdr_hex
        + f"{idat_len:08x}" + "49444154"  # IDAT length + type
        + "7801"  # zlib header
        + "01"  # BFINAL=1, BTYPE=00 (stored)
        + raw_len.to_bytes(2, "little").hex()
        + (raw_len ^ 0xFFFF).to_bytes(2, "little").hex()
    )
    suffix_hex = (
        "00000000"  # zeroed adler32
        + "00000000"  # zeroed IDAT CRC
        + "00000000" "49454e44" "00000000"  # empty IEND
    )
    r = F.pmod(F.col(id_col), F.lit(256)).cast("int")
    g = F.pmod(F.col(id_col) * 7, F.lit(256)).cast("int")
    b = F.pmod(F.col(id_col) * 13, F.lit(256)).cast("int")
    triple_hex = F.concat(
        F.lpad(F.hex(r), 2, "0"), F.lpad(F.hex(g), 2, "0"), F.lpad(F.hex(b), 2, "0")
    )
    row_hex = F.concat(F.lit("00"), F.repeat(triple_hex, width))
    content = F.unhex(
        F.concat(F.lit(prefix_hex), F.repeat(row_hex, height), F.lit(suffix_hex))
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_png_interlaced_media(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Valid (modulo zeroed checksums) ADAM7-INTERLACED 4x2 RGB PNG
    payloads built ENTIRELY JVM-side — certifies the round-13 interlace
    path end to end (q_multimodal_stats 'png_i' section).

    Same constant per-id triple as ``synthetic_png_media``, but the IDAT
    raster is laid out in Adam7 pass order: for 4x2 only passes 1 (1x1),
    4 (1x1), 6 (2x1) and 7 (4x1) are non-empty — four filter-0 scanlines
    of 1/1/2/4 pixels (28 raw bytes).  Channel sums stay
    ``8 * channel``; sums are permutation-invariant, so pass PLACEMENT is
    pinned separately by the varying-pixel Adam7 unit test — this
    section certifies the pass-structure parse (per-pass dims, scanline
    consumption, full-coverage scatter) against the same arithmetic
    oracle as the progressive fixture."""
    raw_len = 28
    ihdr_hex = (
        "0000000d" "49484452"
        + f"{4:08x}{2:08x}"
        + "0802000001"  # depth 8, color 2 (RGB), ADAM7 interlaced
        + "00000000"
    )
    idat_len = raw_len + 11
    prefix_hex = (
        "89504e470d0a1a0a"
        + ihdr_hex
        + f"{idat_len:08x}" + "49444154"
        + "7801" + "01"
        + raw_len.to_bytes(2, "little").hex()
        + (raw_len ^ 0xFFFF).to_bytes(2, "little").hex()
    )
    suffix_hex = "00000000" + "00000000" + "00000000" "49454e44" "00000000"
    r = F.pmod(F.col(id_col), F.lit(256)).cast("int")
    g = F.pmod(F.col(id_col) * 7, F.lit(256)).cast("int")
    b = F.pmod(F.col(id_col) * 13, F.lit(256)).cast("int")
    t = F.concat(
        F.lpad(F.hex(r), 2, "0"), F.lpad(F.hex(g), 2, "0"), F.lpad(F.hex(b), 2, "0")
    )
    # pass 1 (1px) | pass 4 (1px) | pass 6 (2px) | pass 7 (4px)
    raster_hex = F.concat(
        F.lit("00"), t,
        F.lit("00"), t,
        F.lit("00"), F.repeat(t, 2),
        F.lit("00"), F.repeat(t, 4),
    )
    content = F.unhex(F.concat(F.lit(prefix_hex), raster_hex, F.lit(suffix_hex)))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(4).cast("int").alias("width"),
            F.lit(2).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


#: the fixed 3-entry palette synthetic_png_palette_media writes: entry k is
#: (PALETTE_R[k], PALETTE_G[k], PALETTE_B[k]).  Channel values differ per
#: entry AND per channel, so an index-offset bug or a channel swap both
#: shift the decoded sums (the certification arithmetic lives in
#: queries_catalog.q_multimodal_stats's 'palette' oracle section).
_PALETTE = [(10, 5, 20), (50, 85, 80), (90, 165, 140)]


def synthetic_png_palette_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Valid (modulo zeroed checksums) 8-bit PALETTE PNG payloads (color
    type 3) built ENTIRELY JVM-side — the type-3 sibling of
    ``synthetic_png_media`` and the certification fixture for the
    round-12 PLTE expansion path (round-11 verdict item 3).

    Fixed 4x2 raster; the PLTE holds the three ``_PALETTE`` entries and
    pixel ``x`` of image ``id`` carries index ``(id + x) % 3`` — over a
    4-pixel row that is every palette entry once plus entry ``id % 3``
    again, so the decoded channel sums are exact SQL arithmetic in
    ``id % 3``: ``sum_r = 2 * (sum(PALETTE_R) + PALETTE_R[id % 3])`` and
    likewise per channel.  Indices VARY across the row, so the oracle
    only matches if the decoder expands each index through the right
    entry — a constant-index fixture could not see an index-offset bug.
    The IDAT stream is the same stored-DEFLATE construction (hex +
    ``concat``/``unhex`` column expressions, no Python) with zeroed
    checksums."""
    width, height = 4, 2
    raw_len = height * (1 + width)  # filter byte + 1 index byte per pixel
    plte_hex = "".join(f"{r:02x}{g:02x}{b:02x}" for r, g, b in _PALETTE)
    ihdr_hex = (
        "0000000d" "49484452"
        + f"{width:08x}{height:08x}"
        + "0803000000"  # depth 8, color 3 (palette), non-interlaced
        + "00000000"  # zeroed CRC
    )
    plte_chunk_hex = (
        f"{len(_PALETTE) * 3:08x}" + "504c5445" + plte_hex + "00000000"
    )
    idat_len = raw_len + 11  # zlib hdr (2) + stored hdr (5) + raw + adler (4)
    prefix_hex = (
        "89504e470d0a1a0a"
        + ihdr_hex
        + plte_chunk_hex
        + f"{idat_len:08x}" + "49444154"
        + "7801"  # zlib header
        + "01"  # BFINAL=1, BTYPE=00 (stored)
        + raw_len.to_bytes(2, "little").hex()
        + (raw_len ^ 0xFFFF).to_bytes(2, "little").hex()
    )
    suffix_hex = (
        "00000000"  # zeroed adler32
        + "00000000"  # zeroed IDAT CRC
        + "00000000" "49454e44" "00000000"  # empty IEND
    )
    idx_hex = [
        F.lpad(F.hex(F.pmod(F.col(id_col) + x, F.lit(3)).cast("int")), 2, "0")
        for x in range(width)
    ]
    row_hex = F.concat(F.lit("00"), *idx_hex)
    content = F.unhex(
        F.concat(F.lit(prefix_hex), F.repeat(row_hex, height), F.lit(suffix_hex))
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _jpeg_fixture_prefix_hex(width: int = 16) -> str:
    """Everything before the 2-byte entropy segment of the closed-form
    two-block grayscale JPEG fixture (shared by ``synthetic_jpeg_media``
    and the MJPEG-in-AVI fixture, so the recipes cannot drift)."""
    return (
        "ffd8"  # SOI
        + "ffdb0043" + "00" + "08" * 64  # DQT: table 0, all 8s
        + "ffc0000b" + "08" + "0008" + f"{width:04x}" + "01" + "011100"  # SOF0
        + "ffc40015" + "00" + "0002" + "00" * 14 + "0501"  # DHT DC
        + "ffc40014" + "10" + "01" + "00" * 15 + "00"  # DHT AC: "0"=EOB
        + "ffda0008" + "01" + "0100" + "003f00"  # SOS
    )


def synthetic_jpeg_media(
    docs: DataFrame, id_col: str = "doc_id", width: int = 16
) -> DataFrame:
    """Valid baseline-JPEG payloads built ENTIRELY JVM-side — the
    oracle-predictable fixture certifying ``_parse_jpeg`` end to end
    (q_multimodal_stats 'jpeg' section).

    Construction: a 16x8 grayscale SOF0 image — two horizontally adjacent
    8x8 MCUs — with a flat quantization table of 8s and custom canonical
    Huffman tables (DC: two 2-bit codes, "00"=category 5 / "01"=category
    1; AC: the 1-bit EOB), so the whole entropy-coded segment is exactly
    TWO bytes, both closed-form in the row id:

    - block 1: code "00" + 5 magnitude bits of ``dc1 = 16 + id % 16`` +
      EOB "0" = 8 bits, i.e. the byte ``dc1 * 2`` (always < 0xFF — no
      byte stuffing needed);
    - block 2: code "01" + magnitude bit "1" (DC diff +1) + EOB "0" +
      4 pad "1"s = the constant byte 0x6F.

    A DC-only block dequantizes to ``dc * q00 = dc * 8`` and the IDCT of
    a DC-only 8x8 is flat ``S00 / 8``, so after the +128 level shift
    block 1 decodes to 64 pixels of ``128 + dc1`` and block 2 (predictor
    + 1) to 64 pixels of ``129 + dc1`` — grayscale replicates to r=g=b,
    making every channel sum exactly ``64 * (257 + 2*dc1)``.  This
    exercises the marker walk, both Huffman classes, DC prediction
    across MCUs, magnitude extension, dequantization, IDCT and the
    level shift with an integer-exact oracle.

    ``width`` (round 14) declares a SOF width of 9..16 over the same
    two-block entropy data, turning the fixture into the
    decode-then-crop twin: the frame still carries two full 8x8 blocks,
    but only ``width - 8`` columns of block 2 survive the crop, so sums
    become ``64*(128+dc1) + (width-8)*8*(129+dc1)`` — certifying the
    non-MCU-multiple path (the 'jpeg_crop' section)."""
    if not 9 <= width <= 16:
        raise ValueError("synthetic_jpeg_media: width must be in 9..16")
    prefix_hex = _jpeg_fixture_prefix_hex(width)
    dc1 = (F.pmod(F.col(id_col), F.lit(16)) + 16).cast("int")
    byte1 = F.lpad(F.hex(dc1 * 2), 2, "0")
    content = F.unhex(
        F.concat(F.lit(prefix_hex), byte1, F.lit("6f"), F.lit("ffd9"))
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.lit(width).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_jpeg_exif_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The baseline two-block grayscale fixture with an APP1 Exif segment
    carrying orientation ``1 + id % 8`` — certifies the round-14 TIFF
    orientation parse end to end (q_multimodal_stats 'jpeg_exif'
    section): the orientation column is closed-form in the row id while
    the decoded sums stay the baseline ``64*(257+2*dc1)`` (decode
    REPORTS the tag on the unrotated raster; ``resize_image`` applies
    it — raster placement is pinned by the varying-pixel unit tests).

    APP1 layout (little-endian TIFF, 32-byte payload): ``Exif\\0\\0`` +
    ``II*\\0`` + IFD0 offset 8 + one entry (tag 0x0112, SHORT, count 1,
    value in the first two bytes of the value field) + next-IFD 0."""
    app1_pre = (
        "ffe10022"  # APP1, length 34
        + "457869660000"  # 'Exif\0\0'
        + "49492a0008000000"  # 'II', 42, IFD0 at offset 8
        + "0100"  # 1 entry
        + "1201" + "0300" + "01000000"  # tag 0x0112, SHORT, count 1
    )
    app1_post = "00" + "0000" + "00000000"  # value pad + next-IFD 0
    body_hex = (
        "ffdb0043" + "00" + "08" * 64
        + "ffc0000b" + "08" + "0008" + "0010" + "01" + "011100"
        + "ffc40015" + "00" + "0002" + "00" * 14 + "0501"
        + "ffc40014" + "10" + "01" + "00" * 15 + "00"
        + "ffda0008" + "01" + "0100" + "003f00"
    )
    orient = (F.pmod(F.col(id_col), F.lit(8)) + 1).cast("int")
    dc1 = (F.pmod(F.col(id_col), F.lit(16)) + 16).cast("int")
    byte1 = F.lpad(F.hex(dc1 * 2), 2, "0")
    content = F.unhex(
        F.concat(
            F.lit("ffd8" + app1_pre),
            F.lpad(F.hex(orient), 2, "0"),
            F.lit(app1_post + body_hex),
            byte1, F.lit("6f"), F.lit("ffd9"),
        )
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.lit(16).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_jpeg_422_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Valid 4:2:2 COLOR baseline-JPEG payloads built ENTIRELY JVM-side —
    certifies the 2x1 luma sampling path (horizontal-only chroma
    upsampling), the one subsampled geometry the 4:4:4 and 4:2:0
    fixtures cannot reach (q_multimodal_stats 'jpeg_422' section,
    round-14 verdict item 2).

    One 16x8 MCU: two horizontally adjacent DC-only luma blocks (Y =
    ``128 + dc1`` with ``dc1 = 16 + id % 16``; block 2 codes a zero diff
    via the category-0 code) plus one Cb (+1 -> flat 129) and one Cr
    (-1 -> flat 127) block.  With the shared DC table "00"=cat 5 /
    "01"=cat 1 / "10"=cat 0 the entropy segment is THREE bytes, two of
    them constant: ``[dc1 << 1, 0x8C, 0x9F]`` ("00"+5 DC bits+EOB |
    "10"+EOB | "01"+"1"+EOB | "01"+"0"+EOB | 5 pad "1"s).

    Same mid-interval chroma offsets as the 4:2:0 fixture: every pixel
    decodes to exactly ``(Y - 1, Y, Y + 2)``, so channel sums are
    ``128*(Y-1) / 128*Y / 128*(Y+2)`` — integer-exact SQL arithmetic."""
    prefix_hex = (
        "ffd8"
        + "ffdb0043" + "00" + "08" * 64
        + "ffc00011" + "08" + "0008" + "0010" + "03"  # SOF0 16x8, 3 comps
        + "012100" + "021100" + "031100"  # Y 2x1, Cb 1x1, Cr 1x1
        + "ffc40016" + "00" + "0003" + "00" * 14 + "050100"  # DC cat5/cat1/cat0
        + "ffc40014" + "10" + "01" + "00" * 15 + "00"  # AC: "0"=EOB
        + "ffda000c" + "03" + "0100" + "0200" + "0300" + "003f00"
    )
    dc1 = (F.pmod(F.col(id_col), F.lit(16)) + 16).cast("int")
    byte1 = F.lpad(F.hex(dc1 * 2), 2, "0")
    content = F.unhex(
        F.concat(F.lit(prefix_hex), byte1, F.lit("8c9f"), F.lit("ffd9"))
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.lit(16).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_jpeg_420_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Valid 4:2:0 COLOR baseline-JPEG payloads built ENTIRELY JVM-side —
    certifies the full color path (interleaved multi-component MCU
    decode, 2x2 luma sampling, chroma upsampling, YCbCr->RGB) end to end
    (q_multimodal_stats 'jpeg_420' section).

    One 16x16 MCU: four DC-only luma blocks (Y = ``128 + dc1`` with
    ``dc1 = 16 + id % 16``; blocks 2-4 code zero diffs via a category-0
    Huffman code) plus one Cb (+1 -> flat 129) and one Cr (-1 -> flat
    127) block.  The DC table "00"=cat 5 / "01"=cat 1 / "10"=cat 0 makes
    the whole entropy segment FOUR bytes, three of them constant:
    ``[dc1 << 1, 0x92, 0x32, 0x00]``.

    With chroma offsets (+1, -1) the JFIF conversion lands mid-interval
    (no rint ties): every pixel decodes to exactly
    ``(Y - 1, Y, Y + 2)``, so channel sums are ``256*(Y-1) / 256*Y /
    256*(Y+2)`` — integer-exact SQL arithmetic pinning the subsampled
    color path, which the grayscale fixtures cannot reach."""
    prefix_hex = (
        "ffd8"
        + "ffdb0043" + "00" + "08" * 64
        + "ffc00011" + "08" + "0010" + "0010" + "03"  # SOF0 16x16, 3 comps
        + "012200" + "021100" + "031100"  # Y 2x2, Cb 1x1, Cr 1x1
        + "ffc40016" + "00" + "0003" + "00" * 14 + "050100"  # DC cat5/cat1/cat0
        + "ffc40014" + "10" + "01" + "00" * 15 + "00"  # AC: "0"=EOB
        + "ffda000c" + "03" + "0100" + "0200" + "0300" + "003f00"
    )
    dc1 = (F.pmod(F.col(id_col), F.lit(16)) + 16).cast("int")
    byte1 = F.lpad(F.hex(dc1 * 2), 2, "0")
    content = F.unhex(
        F.concat(F.lit(prefix_hex), byte1, F.lit("923200"), F.lit("ffd9"))
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.lit(16).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_jpeg_progressive_media(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Valid PROGRESSIVE (SOF2) JPEG payloads built ENTIRELY JVM-side —
    certifies the round-13 successive-approximation decode path end to
    end (q_multimodal_stats 'jpeg_prog' section).

    Same 16x8 grayscale two-MCU shape as ``synthetic_jpeg_media``, but
    the DC values arrive across TWO scans the way libjpeg's progressive
    script sends them: scan 1 codes the diffs of ``dc >> 1`` (Al=1,
    custom canonical DC table "00"=category 4 / "01"=category 1), scan 2
    refines with one low bit per block (Ah=1, Al=0).  With ``dc1 = 16 +
    id % 16`` and ``dc2 = dc1 + 2`` every scan byte is closed-form:

    - scan 1 = ``[((dc1 >> 1) << 2) | 1, 0x80]`` ("00" + 4 magnitude
      bits + "01" + "1", zero-padded — trailing pad bits are never read);
    - scan 2 = ``0xC0`` when dc1 is odd else ``0x00`` (both blocks share
      the same low bit since dc2 - dc1 = 2).

    Decoded: block 1 flat ``128 + dc1``, block 2 flat ``130 + dc1`` —
    channel sums exactly ``64 * (258 + 2*dc1)``, pinning DC-first
    shifted-domain prediction AND the refinement OR across both MCUs
    with an integer-exact oracle."""
    prefix_hex = (
        "ffd8"
        + "ffdb0043" + "00" + "08" * 64
        + "ffc2000b" + "08" + "0008" + "0010" + "01" + "011100"  # SOF2 16x8 gray
        + "ffc40015" + "00" + "0002" + "00" * 14 + "0401"  # DC: "00"=cat4,"01"=cat1
    )
    sos1_hex = "ffda0008" + "01" + "0100" + "000001"  # Ss=0 Se=0 Ah=0 Al=1
    sos2_hex = "ffda0008" + "01" + "0100" + "000010"  # Ss=0 Se=0 Ah=1 Al=0
    dc1 = (F.pmod(F.col(id_col), F.lit(16)) + 16).cast("int")
    b1 = F.lpad(F.hex((dc1 / 2).cast("int") * 4 + 1), 2, "0")
    refine = F.when(F.pmod(dc1, F.lit(2)) == 1, F.lit("c0")).otherwise(F.lit("00"))
    content = F.unhex(
        F.concat(
            F.lit(prefix_hex),
            F.lit(sos1_hex), b1, F.lit("80"),
            F.lit(sos2_hex), refine,
            F.lit("ffd9"),
        )
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.lit(16).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_wav_media(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = 8,
    sample_rate: int = 8000,
) -> DataFrame:
    """Valid mono PCM16 WAV payloads built ENTIRELY JVM-side (RIFF has no
    checksums, so unlike PNG nothing needs zeroing): every sample of
    payload ``id`` is the constant value ``id % 20000`` (non-negative, so
    the little-endian int16 hex is plain arithmetic), making the decoded
    ``sum_pcm`` exactly ``n_frames * (id % 20000)`` — the
    oracle-predictable fixture certifying ``decode_audio`` end to end."""
    data_len = n_frames * 2
    hdr_hex = (
        "52494646"  # 'RIFF'
        + (36 + data_len).to_bytes(4, "little").hex()
        + "57415645"  # 'WAVE'
        + "666d7420" + "10000000"  # 'fmt ', length 16
        + "0100" + "0100"  # PCM, mono
        + sample_rate.to_bytes(4, "little").hex()
        + (sample_rate * 2).to_bytes(4, "little").hex()  # byte rate
        + "0200" + "1000"  # block align 2, 16 bits
        + "64617461"  # 'data'
        + data_len.to_bytes(4, "little").hex()
    )
    v = F.pmod(F.col(id_col), F.lit(20000)).cast("int")
    lo = F.lpad(F.hex(F.pmod(v, F.lit(256))), 2, "0")
    hi = F.lpad(F.hex((v / 256).cast("int")), 2, "0")
    sample_hex = F.concat(lo, hi)  # little-endian int16
    content = F.unhex(F.concat(F.lit(hdr_hex), F.repeat(sample_hex, n_frames)))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("audio").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(n_frames * 1000 // sample_rate).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_flac_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Valid native-FLAC payloads built ENTIRELY JVM-side — the
    oracle-predictable fixture certifying ``_parse_flac`` end to end
    (q_multimodal_stats 'flac' section, round-14 verdict item 4).

    Construction: mono 16-bit 8000 Hz, one 192-sample frame holding a
    single CONSTANT subframe whose value is ``1000 + 37 * (id % 16)`` —
    so ``sum_pcm = 192 * value`` is closed-form SQL arithmetic.  Every
    byte except the 2-byte sample value and the 2-byte frame CRC-16 is
    constant: the frame header (and therefore its CRC-8) does not depend
    on the id, and the CRC-16 over the 16 possible frames is a 16-entry
    deterministic lookup computed once here and emitted as a CASE chain
    — FLAC, unlike RIFF, carries real checksums, and the decoder
    verifies them, so the fixture must satisfy them."""
    blocksize = 192  # blocksize code 1 in the constant frame header
    streaminfo = (
        bytes([0x80, 0, 0, 34])  # last metadata block, STREAMINFO, len 34
        + blocksize.to_bytes(2, "big") * 2  # min/max blocksize
        + b"\x00\x00\x00" * 2  # min/max framesize unknown
        + bytes([0x01, 0xF4, 0x00, 0xF0])  # 8000 Hz, mono, 16 bps, hi total
        + blocksize.to_bytes(4, "big")  # total samples (low 32)
        + b"\x00" * 16  # unset MD5
    )
    # frame header: sync/fixed, blocksize 192 (code 1), 8 kHz (code 4),
    # mono, 16-bit (code 4), frame number 0 -> then its CRC-8
    fh = bytes([0xFF, 0xF8, 0x14, 0x08, 0x00])
    fh += bytes([_crc8(fh)])
    prefix = b"fLaC" + streaminfo + fh + b"\x00"  # + CONSTANT subframe hdr
    # 16-entry CRC-16 lookup over the only varying bytes
    crcs = {
        k: _crc16(fh + b"\x00" + (1000 + 37 * k).to_bytes(2, "big"))
        for k in range(16)
    }
    k = F.pmod(F.col(id_col), F.lit(16)).cast("int")
    value = (k * 37 + 1000).cast("int")
    value_hex = F.lpad(F.hex(value), 4, "0")
    crc_hex = F.lit(f"{crcs[15]:04x}")
    for kk in range(14, -1, -1):
        crc_hex = F.when(k == kk, F.lit(f"{crcs[kk]:04x}")).otherwise(crc_hex)
    content = F.unhex(
        F.concat(F.lit(prefix.hex()), value_hex, crc_hex)
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("audio").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("audio/flac").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(blocksize * 1000 // 8000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_flac_lpc_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """LPC twin of ``synthetic_flac_media`` — certifies the round-14 LPC
    subframe path end to end (q_multimodal_stats 'flac_lpc' section).

    One 16-sample frame holding an order-2 LPC subframe with quantized
    coefficients (2, -1), shift 0, and an all-zero Rice residual at
    parameter 0: the recurrence ``x[i] = 2*x[i-1] - x[i-2]`` is linear
    extrapolation, so two equal warmup samples ``v = 2000 + 41*(id%16)``
    reproduce a flat signal and ``sum_pcm = 16 * v`` stays closed-form
    SQL arithmetic — while the decode exercises the LPC header,
    coefficient/shift reads, the prediction recurrence and the unary
    Rice path that the CONSTANT fixture cannot reach.  Only the 4 warmup
    bytes and the CRC-16 (16-entry precomputed lookup) vary per id."""
    blocksize = 16
    streaminfo = (
        bytes([0x80, 0, 0, 34])
        + blocksize.to_bytes(2, "big") * 2
        + b"\x00\x00\x00" * 2
        + bytes([0x01, 0xF4, 0x00, 0xF0])
        + blocksize.to_bytes(4, "big")
        + b"\x00" * 16
    )
    # frame header: blocksize code 6 (8-bit n-1 follows the number),
    # 8 kHz, mono, 16-bit, frame 0, blocksize-1 = 15
    fh = bytes([0xFF, 0xF8, 0x64, 0x08, 0x00, 0x0F])
    fh += bytes([_crc8(fh)])
    # subframe tail after the 2 warmup samples: precision-1=3, shift 0,
    # coefs 2 / -1 (4-bit signed), residual method 0, partition order 0,
    # rice param 0, 14 zero residuals (a '1' bit each), zero-padded
    tail_bits = ("0011" + "00000" + "0010" + "1111"
                 + "00" + "0000" + "0000" + "1" * 14)
    tail_bits += "0" * (-len(tail_bits) % 8)
    tail = bytes(
        int(tail_bits[i : i + 8], 2) for i in range(0, len(tail_bits), 8)
    )
    # subframe header 0x42: pad 0, type 100001 (LPC order 2), no wasted
    crcs = {
        k: _crc16(fh + b"\x42" + (2000 + 41 * k).to_bytes(2, "big") * 2 + tail)
        for k in range(16)
    }
    k = F.pmod(F.col(id_col), F.lit(16)).cast("int")
    v_hex = F.lpad(F.hex((k * 41 + 2000).cast("int")), 4, "0")
    crc_hex = F.lit(f"{crcs[15]:04x}")
    for kk in range(14, -1, -1):
        crc_hex = F.when(k == kk, F.lit(f"{crcs[kk]:04x}")).otherwise(crc_hex)
    content = F.unhex(
        F.concat(
            F.lit((b"fLaC" + streaminfo + fh + b"\x42").hex()),
            v_hex, v_hex, F.lit(tail.hex()), crc_hex,
        )
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("audio").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("audio/flac").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(blocksize * 1000 // 8000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_mp4_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Minimal-but-valid ISO BMFF payloads built ENTIRELY JVM-side (the
    container has no checksums): ftyp + moov(mvhd + trak(tkhd)) with
    timescale 1000 and duration ``5000 + id % 97`` — so the probed
    duration_ms is closed-form — and 320x240 16.16 track dims."""
    dur = (F.pmod(F.col(id_col), F.lit(97)) + 5000).cast("int")
    ftyp = b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00"
    mvhd_pre = (
        b"\x00\x00\x00\x6cmvhd" + b"\x00\x00\x00\x00"  # v0
        + b"\x00" * 8  # creation/modification
        + (1000).to_bytes(4, "big")  # timescale
    )
    mvhd_post = b"\x00" * 80  # rate..next_track (zeros are fine for a probe)
    tkhd = (
        b"\x00\x00\x00\x5ctkhd" + b"\x00\x00\x00\x07"
        + b"\x00" * 72  # creation..matrix zeros; width at body+76 (v0)
        + (320 << 16).to_bytes(4, "big") + (240 << 16).to_bytes(4, "big")
    )
    trak = (len(tkhd) + 8).to_bytes(4, "big") + b"trak" + tkhd
    moov_len = 8 + len(mvhd_pre) + 4 + len(mvhd_post) + len(trak)
    moov_hdr = moov_len.to_bytes(4, "big") + b"moov"
    content = F.unhex(
        F.concat(
            F.lit((ftyp + moov_hdr + mvhd_pre).hex()),
            F.lpad(F.hex(dur), 8, "0"),
            F.lit((mvhd_post + trak).hex()),
        )
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("video").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(320).cast("int").alias("width"),
            F.lit(240).cast("int").alias("height"),
            dur.alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_avi_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Minimal-but-valid RIFF/AVI header payloads built ENTIRELY
    JVM-side: avih declares 25 fps (40,000 us/frame) and
    ``100 + id % 50`` frames, so the probed duration_ms is exactly
    ``4000 + 40 * (id % 50)``; 320x240."""
    frames = (F.pmod(F.col(id_col), F.lit(50)) + 100).cast("int")
    avih_pre = (
        b"avih" + (56).to_bytes(4, "little")
        + (40000).to_bytes(4, "little")  # usec/frame
        + b"\x00" * 12  # maxbytes/padding/flags
    )
    avih_post = (
        b"\x00" * 12  # initial frames / streams / bufsize
        + (320).to_bytes(4, "little") + (240).to_bytes(4, "little")
        + b"\x00" * 16
    )
    hdrl_len = 4 + len(avih_pre) + 4 + len(avih_post)
    lst = b"LIST" + hdrl_len.to_bytes(4, "little") + b"hdrl"
    riff_len = 4 + len(lst) + hdrl_len - 4
    riff = b"RIFF" + riff_len.to_bytes(4, "little") + b"AVI "
    # dwTotalFrames is little-endian: byte-swap the hex of the int
    lo = F.lpad(F.hex(F.pmod(frames, F.lit(256))), 2, "0")
    hi = F.lpad(F.hex((frames / 256).cast("int")), 2, "0")
    content = F.unhex(
        F.concat(
            F.lit((riff + lst + avih_pre).hex()),
            lo, hi, F.lit("0000"),
            F.lit(avih_post.hex()),
        )
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("video").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("video/avi").alias("mime"),
            F.lit(320).cast("int").alias("width"),
            F.lit(240).cast("int").alias("height"),
            ((frames * 40000) / 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_avi_mjpeg_media(
    docs: DataFrame, id_col: str = "doc_id", n_frames: int = 3
) -> DataFrame:
    """Valid MJPEG-in-AVI payloads built ENTIRELY JVM-side — the
    oracle-predictable fixture certifying ``decode_frames`` end to end
    (q_multimodal_stats 'frames' section, round 15): a RIFF/AVI with a
    real avih header (40,000 us/frame => 25 fps, 16x8) and a ``movi``
    LIST of ``n_frames`` '00dc' chunks, each a complete closed-form
    two-block grayscale JPEG (the ``synthetic_jpeg_media`` recipe via
    the shared ``_jpeg_fixture_prefix_hex``).  Frame ``f`` of row ``id``
    carries ``dc1 = 16 + (id + f) % 16``, so its decoded channel sums
    are exactly ``64 * (257 + 2*dc1)`` and its timestamp ``40 * f`` ms —
    pure column arithmetic for the DuckDB twin."""
    if not 1 <= n_frames <= 16:
        raise ValueError("synthetic_avi_mjpeg_media: n_frames must be 1..16")
    prefix_hex = _jpeg_fixture_prefix_hex(16)
    jpeg_len = len(prefix_hex) // 2 + 4  # + entropy(2) + EOI(2)
    pad = jpeg_len & 1
    chunk_hex_head = "30306463" + jpeg_len.to_bytes(4, "little").hex()  # '00dc'
    avih = (
        b"avih" + (56).to_bytes(4, "little")
        + (40000).to_bytes(4, "little")  # usec/frame
        + b"\x00" * 12  # maxbytes / padding / flags
        + n_frames.to_bytes(4, "little")
        + b"\x00" * 12  # initial frames / streams / bufsize
        + (16).to_bytes(4, "little") + (8).to_bytes(4, "little")
        + b"\x00" * 16
    )
    hdrl = b"LIST" + (4 + len(avih)).to_bytes(4, "little") + b"hdrl" + avih
    movi_payload_len = 4 + n_frames * (8 + jpeg_len + pad)
    movi_head = b"LIST" + movi_payload_len.to_bytes(4, "little") + b"movi"
    riff_len = 4 + len(hdrl) + 8 + movi_payload_len
    head_hex = (
        b"RIFF" + riff_len.to_bytes(4, "little") + b"AVI "
    ).hex() + hdrl.hex() + movi_head.hex()
    parts = [F.lit(head_hex)]
    for f in range(n_frames):
        dc1 = (F.pmod(F.col(id_col) + f, F.lit(16)) + 16).cast("int")
        parts.append(F.lit(chunk_hex_head + prefix_hex))
        parts.append(F.lpad(F.hex(dc1 * 2), 2, "0"))
        parts.append(F.lit("6fffd9" + "00" * pad))
    content = F.unhex(F.concat(*parts))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("video").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("video/avi").alias("mime"),
            F.lit(16).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(n_frames * 40).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_text_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Mixed-encoding text payloads built ENTIRELY JVM-side — the
    oracle-predictable fixture certifying ``decode_text`` end to end
    (q_multimodal_stats 'text' section): encoding family cycles with
    ``id % 9`` — plain UTF-8, UTF-8 + BOM, UTF-16 LE + BOM, UTF-16 BE +
    BOM, bare high bytes (0xE9 is invalid UTF-8, so the fallback must
    fire), a REJECT payload (UTF-16 BOM + odd byte count), and the
    round-16 shapes: windows-1252 curly quotes (0x93/0x94 — undefined
    in a latin-1-only world view, U+201C/U+201D under the cp1252
    fallback), a latin-1 Content-Type hint over a byte where latin-1
    and cp1252 DISAGREE (0x93 -> U+0093 control, pinning that the hint
    is honored over the fallback chain and that iso-8859-1 is NOT
    conflated with windows-1252), and an aliased bare hint ('UTF8').
    Round 17 extends the cycle to ``id % 11`` with the META PRESCAN
    shapes: 9 = an http-equiv <meta> declaring ISO-8859-1 over the
    0x93 disagreement byte with NO transport hint (the sniffer must
    find and honor it — the cp1252 fallback would give U+201C, the
    meta gives U+0093), 10 = a LYING <meta charset="utf-8"> over the
    same invalid-UTF-8 byte (the declared decode fails, the chain
    degrades to windows-1252 — lie tolerance certified in-band).
    The ``charset_hint`` column carries the per-row header value (NULL
    for unhinted rows).  Every logical text is closed-form in the id,
    so the oracle recomputes the decoded md5 as pure string SQL."""
    k = F.pmod(F.col(id_col), F.lit(11))
    i = F.col(id_col).cast("string")
    utf8 = F.concat(F.lit("plain "), i, F.lit(" café"))
    bom8 = F.concat(F.lit("bom "), i, F.lit(" café"))
    u16 = F.concat(F.lit("wide "), i)
    lat = F.concat(F.lit("latin "), i)
    curl = F.concat(F.lit("curl "), i)
    hint_t = F.concat(F.lit("hint "), i)
    alias_t = F.concat(F.lit("alias "), i, F.lit(" café"))
    meta_t = F.concat(
        F.lit('<meta http-equiv="Content-Type" '
              'content="text/html; charset=ISO-8859-1">meta '), i,
    )
    lie_t = F.concat(F.lit('<meta charset="utf-8">lie '), i)
    content = (
        F.when(k == 0, F.encode(utf8, "UTF-8"))
        .when(k == 1, F.concat(F.unhex(F.lit("EFBBBF")), F.encode(bom8, "UTF-8")))
        .when(k == 2, F.concat(F.unhex(F.lit("FFFE")), F.encode(u16, "UTF-16LE")))
        .when(k == 3, F.concat(F.unhex(F.lit("FEFF")), F.encode(u16, "UTF-16BE")))
        .when(k == 4, F.concat(F.encode(lat, "UTF-8"), F.unhex(F.lit("E9"))))
        .when(k == 5, F.unhex(F.lit("FFFE41")))  # BOM + odd body: reject
        .when(k == 6, F.concat(F.encode(curl, "UTF-8"), F.unhex(F.lit("9394"))))
        .when(k == 7, F.concat(F.encode(hint_t, "UTF-8"), F.unhex(F.lit("93"))))
        .when(k == 8, F.encode(alias_t, "UTF-8"))
        .when(k == 9, F.concat(F.encode(meta_t, "UTF-8"), F.unhex(F.lit("93"))))
        .otherwise(F.concat(F.encode(lie_t, "UTF-8"), F.unhex(F.lit("93"))))
    )
    hint = (
        F.when(k == 7, F.lit("text/html; charset=ISO-8859-1"))
        .when(k == 8, F.lit("UTF8"))
        .cast("string")
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("text").alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
        hint.alias("charset_hint"),
    )


def synthetic_gradient_ppm_media(
    docs: DataFrame,
    id_col: str = "doc_id",
    width: int = 9,
    height: int = 8,
    dup_every: int | None = None,
    seed_col: str | None = None,
) -> DataFrame:
    """Gradient PPM payloads built ENTIRELY JVM-side — the dHash
    certification fixture (q_multimodal_stats 'dhash' section): pixel
    (x, y) of row ``id`` is the constant-channel value
    ``(seed*31 + x*17 + y*7) % 256`` with ``seed = id`` (or
    ``id - id % dup_every``, planting groups of byte-identical images
    for duplicate-count oracles; or the caller's ``seed_col`` — the
    skew smoke keys it on a content digest so a hot duplicate cluster
    becomes one hot identical image).  At the default 9x8 the dHash
    pooling grid is the identity, so every hash bit is the closed-form
    comparison the oracle recomputes as pure SQL."""
    if seed_col is not None:
        seed = F.col(seed_col)
    elif dup_every is not None:
        seed = F.col(id_col) - F.pmod(F.col(id_col), F.lit(dup_every))
    else:
        seed = F.col(id_col)
    pieces = [F.encode(F.lit(f"P6\n{width} {height}\n255\n"), "utf-8")]
    hex_parts = []
    for y in range(height):
        for x in range(width):
            v = F.pmod(seed * 31 + F.lit(x * 17 + y * 7), F.lit(256)).cast(
                "int"
            )
            hex_parts.append(F.repeat(F.lpad(F.hex(v), 2, "0"), 3))
    pieces.append(F.unhex(F.concat(*hex_parts)))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(*pieces).alias("content"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_tone_wav_media(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = 130,
    dup_every: int | None = None,
    seed_col: str | None = None,
) -> DataFrame:
    """Varying-tone mono PCM16 WAV payloads built ENTIRELY JVM-side —
    the audio-hash certification fixture (q_multimodal_stats 'ahash'
    section): sample t of row ``id`` is
    ``((seed*31 + t*17) % 4001) - 2000`` with ``seed = id`` / grouped /
    ``seed_col`` exactly as in :func:`synthetic_gradient_ppm_media`.
    At the default 130 samples every one of the 65 hash windows covers
    EXACTLY two samples, so each energy is a two-term closed form the
    oracle recomputes as pure SQL.  (The constant-sample
    ``synthetic_wav_media`` stays the decode-sums fixture — a constant
    signal has an all-zero difference hash, useless for pinning bits.)"""
    data_len = n_frames * 2
    hdr_hex = (
        "52494646"
        + (36 + data_len).to_bytes(4, "little").hex()
        + "57415645"
        + "666d7420" + "10000000"
        + "0100" + "0100"
        + (8000).to_bytes(4, "little").hex()
        + (16000).to_bytes(4, "little").hex()
        + "0200" + "1000"
        + "64617461"
        + data_len.to_bytes(4, "little").hex()
    )
    if seed_col is not None:
        seed = F.col(seed_col)
    elif dup_every is not None:
        seed = F.col(id_col) - F.pmod(F.col(id_col), F.lit(dup_every))
    else:
        seed = F.col(id_col)
    parts = [F.lit(hdr_hex)]
    for t in range(n_frames):
        val = F.pmod(seed * 31 + F.lit(17 * t), F.lit(4001)) - F.lit(2000)
        u = F.pmod(val, F.lit(65536)).cast("int")  # two's-complement int16
        lo = F.lpad(F.hex(F.pmod(u, F.lit(256))), 2, "0")
        hi = F.lpad(F.hex((u / 256).cast("int")), 2, "0")
        parts.append(F.concat(lo, hi))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("audio").alias("kind"),
        F.unhex(F.concat(*parts)).alias("content"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(n_frames * 1000 // 8000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def synthetic_warc_blobs(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One closed-form single-record WARC blob per row, built ENTIRELY
    JVM-side — the oracle-predictable fixture certifying the record
    walk + HTTP body decoding end to end (the q_dedup_lines 'warc'
    section; also the skew-smoke arm).  Body framing rotates on
    ``id % 4``: 0 plain, 1 ``Transfer-Encoding: chunked`` (two real
    hex-size chunks), 2 ``Content-Encoding: gzip`` — a VALID gzip
    member assembled in SQL from a stored-mode deflate block +
    ``F.crc32`` + ISIZE, so ``gzip.decompress`` verifies every byte —
    3 raw-stream deflate (the zlib-fallback path).  Every variant
    decodes back to the same closed-form ``'warc body <id> café'``
    bytes.  Returns ``(id_col, content binary)``."""

    def byte(c):  # one byte (binary) from an int column in 0..255
        return F.encode(F.char(c), "ISO-8859-1")

    def le16(c):  # little-endian uint16
        return F.concat(byte(c % 256), byte(F.floor(c / 256).cast("long")))

    did = F.col(id_col)
    uri = F.concat(
        F.lit("http://w"), F.pmod(did, F.lit(7)).cast("string"),
        F.lit(".example.org/p/"), did.cast("string"),
    )
    ctype = F.lit("text/plain; charset=UTF-8")
    variant = F.pmod(did, F.lit(4))
    body = F.encode(
        F.concat(F.lit("warc body "), did.cast("string"), F.lit(" café")),
        "UTF-8",
    )
    blen = F.octet_length(body)
    # raw DEFLATE of body as one stored (uncompressed) block:
    # BFINAL|BTYPE byte 0x01, LEN le16, NLEN = LEN ^ 0xFFFF le16, bytes
    deflate = F.concat(
        F.lit(b"\x01"), le16(blen), le16(65535 - blen), body
    )
    crc = F.crc32(body)
    gz = F.concat(
        F.lit(b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\x03"),
        deflate,
        byte(crc % 256),
        byte(F.floor(crc / 256).cast("long") % 256),
        byte(F.floor(crc / 65536).cast("long") % 256),
        byte(F.floor(crc / 16777216).cast("long") % 256),
        le16(blen), F.lit(b"\x00\x00"),  # ISIZE (blen < 65536)
    )
    # chunked framing: 'warc body ' (10 bytes, size line 'a') + the rest
    part2 = F.encode(
        F.concat(did.cast("string"), F.lit(" café")), "UTF-8"
    )
    chunked = F.concat(
        F.encode(F.lit("a\r\n"), "UTF-8"),
        F.encode(F.lit("warc body "), "UTF-8"),
        F.encode(F.lit("\r\n"), "UTF-8"),
        F.encode(
            F.concat(F.lower(F.hex(F.octet_length(part2))), F.lit("\r\n")),
            "UTF-8",
        ),
        part2,
        F.encode(F.lit("\r\n0\r\n\r\n"), "UTF-8"),
    )
    extra_hdr = (
        F.when(variant == 1, F.lit("Transfer-Encoding: chunked\r\n"))
        .when(variant == 2, F.lit("Content-Encoding: gzip\r\n"))
        .when(variant == 3, F.lit("Content-Encoding: deflate\r\n"))
        .otherwise(F.lit(""))
    )
    wire_body = (
        F.when(variant == 1, chunked)
        .when(variant == 2, gz)
        .when(variant == 3, deflate)
        .otherwise(body)
    )
    block = F.concat(
        F.encode(
            F.concat(F.lit("HTTP/1.1 200 OK\r\nContent-Type: "), ctype,
                     F.lit("\r\n"), extra_hdr, F.lit("\r\n")),
            "UTF-8",
        ),
        wire_body,
    )
    blob = F.concat(
        F.encode(
            F.concat(
                F.lit("WARC/1.0\r\nWARC-Type: response\r\n"
                      "WARC-Target-URI: "), uri,
                F.lit("\r\nContent-Length: "),
                F.octet_length(block).cast("string"),
                F.lit("\r\n\r\n"),
            ),
            "UTF-8",
        ),
        block,
        F.encode(F.lit("\r\n\r\n"), "UTF-8"),
    )
    return docs.select(did.alias(id_col), blob.alias("content"))
