"""Multimodal column operators [north-star]: image/audio/video payloads as
opaque ``binary`` columns with typed metadata, processed via Arrow-batched
Pandas UDFs (``mapInPandas``).

The container has no image/audio libraries, so the *decode* step is a
deterministic fake (documented below) — but every piece of Spark-side
plumbing is real and oracle-checked: binary column construction, schema
declaration, mapInPandas batch iteration, per-batch vectorized numpy work,
and downstream relational composition.

Scale design: mapInPandas streams Arrow batches — constant memory per task
regardless of partition size; binary payloads never pass through Python
row-at-a-time. Real codecs (PIL/ffmpeg) drop into ``fake_decode_batch``
without touching the plan shape. Functions that genuinely need the absent
libraries raise NotImplementedError (see ``decode_image_real``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StructField, StructType,
)

from ..catalog import load
from ..registry import query

#: Output schema of the fake decoder — what a real image decode would
#: produce (dims + payload stats), declared explicitly (no inference).
DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("checksum16", LongType()),
])


def binary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with an opaque binary payload column (utf-8 text bytes
    standing in for an encoded image).

    NULL-text docs are dropped here (r12 content-stress: encode(NULL)
    is a NULL payload, and one NULL detonated len(None) inside
    _flat_batch — killing the whole Arrow batch instead of costing its
    own row). The contract — no text → no payload → nothing to decode —
    is stated once here and as ``WHERE text IS NOT NULL`` in every
    codec oracle."""
    d = load(spark, sf_dir, "documents")
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", "source", "n_chars",
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def _flat_batch(payloads) -> tuple:
    """Concatenate a batch's variable-length payloads into ONE uint8
    buffer + per-payload (start, length) offsets — the layout Arrow
    already stores binary columns in, so every downstream kernel is pure
    numpy over the flat buffer (no per-row Python). Returns
    (buf_int64, starts, lens); buf has one zero pad byte so segment
    stops may equal the data length."""
    import numpy as np

    seq = payloads.to_numpy() if hasattr(payloads, "to_numpy") else payloads
    lens = np.fromiter((len(b) for b in seq), dtype=np.int64, count=len(seq))
    buf = np.frombuffer(b"".join(seq) + b"\x00", dtype=np.uint8)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return buf.astype(np.int64), starts, lens


#: DuckDB fragment: UTF-8 byte length of ``text`` — the length of the
#: payload every codec kernel actually consumes (binary_docs encodes
#: text as utf-8). Character length(text) only coincides on pure-ASCII
#: corpora, the fixture-satisfied assumption the r12 content-stress
#: proxy exposed (CJK/emoji/ß documents diverged every codec oracle).
BLEN_SQL = "octet_length(encode(text))"


def utf8_byte_sql(pos0: str, hx: str = "hex(encode(text))") -> str:
    """DuckDB fragment: the 0-based UTF-8 BYTE of ``text`` at ``pos0``.

    DuckDB has no blob-subscript-to-int primitive, so the byte is read
    out of the hex dump: byte k = hex pair at chars 2k+1..2k+2, parsed
    via the '0x'-prefixed integer cast. ``hx`` lets oracles that walk
    many positions precompute ``hex(encode(text))`` once in a CTE."""
    return f"('0x' || substr({hx}, 2 * ({pos0}) + 1, 2))::BIGINT"


def cyclic_utf8_byte_sql(var: str = "m") -> str:
    """DuckDB fragment: CYCLIC UTF-8 text byte at 0-based position
    ``var`` (byte = payload byte var mod blen). Callers must guard the
    empty payload (``BLEN_SQL = 0``) — mod-by-zero is NULL in DuckDB."""
    return utf8_byte_sql(f"({var}) % {BLEN_SQL}")


def cyclic_text_sum_sql(n_expr: str) -> str:
    """DuckDB fragment: sum of the first ``n_expr`` CYCLIC text bytes
    (byte k = text byte k mod len) — the pixel/sample rule every real
    codec in this family encodes with. ONE definition shared by the
    BMP/PPM/PNG/GIF oracles so the contract (including the empty-text
    guard: the kernels zero-fill an empty payload's plane, while an
    unguarded k % len is a mod-by-zero NULL in DuckDB) cannot silently
    diverge between copies — the exact drift the r5 advice pass had to
    fix twice.

    r12 content-stress fix: 'byte' now really means UTF-8 byte. The
    old ``ascii(substring(text, ...))`` form summed character
    CODEPOINTS cycled over CHARACTER length — identical on the
    all-ASCII fixtures, wrong on any multi-byte document (the kernels
    consume ``encode(text, 'utf-8')`` bytes; a codec has no notion of
    characters)."""
    return (f"CASE WHEN {BLEN_SQL} = 0 THEN 0 ELSE "
            f"COALESCE(list_sum(list_transform("
            f"generate_series(0, ({n_expr}) - 1), "
            f"k -> {cyclic_utf8_byte_sql('k')})), 0) END")


def phash_sql() -> str:
    """DuckDB fragment: the dHash hi/lo CTE chain (cyclic 8×9 pixel
    grid, neighbor-compare bit packing into two 32-bit halves) — ONE
    definition shared by the q_multimodal_phash and
    q_multimodal_phash_pairs oracles (r8 review: the ~20-line CTE was
    copy-pasted between them, the exact drift cyclic_text_sum_sql
    exists to prevent). Yields CTEs ``px`` and ``h``; ``h`` has columns
    (doc_id, phash_hi, phash_lo)."""
    def half(lo_k: int, hi_k: int, shift: str) -> str:
        a = utf8_byte_sql("((k // 8) * 9 + (k % 8)) % len", hx="hx")
        b = utf8_byte_sql("((k // 8) * 9 + (k % 8) + 1) % len", hx="hx")
        return (
            f"CAST(list_sum(list_transform(generate_series({lo_k}, {hi_k}), "
            f"k -> CASE WHEN {a} < {b} "
            f"THEN 1 << {shift} ELSE 0 END)) AS BIGINT)")

    return f"""
        px AS (
            SELECT doc_id, {BLEN_SQL} AS len, hex(encode(text)) AS hx
            FROM documents WHERE {BLEN_SQL} > 0
        ),
        h AS (
            SELECT doc_id,
                   {half(0, 31, "k")} AS phash_lo,
                   {half(32, 63, "(k - 32)")} AS phash_hi
            FROM px
        )"""


def _segment_sums(buf, starts, stops):
    """Vectorized per-segment byte sums over the flat buffer:
    np.add.reduceat on interleaved [start0, stop0, start1, ...] indices,
    keeping the even slots (odd slots are the inter-segment gaps).
    Empty segments (stop == start) are masked to 0 (reduceat would emit
    buf[start] for them)."""
    import numpy as np

    if len(starts) == 0:
        return np.zeros(0, dtype=np.int64)
    idx = np.empty(2 * len(starts), dtype=np.int64)
    idx[0::2] = starts
    idx[1::2] = stops
    sums = np.add.reduceat(buf, idx)[0::2]
    return np.where(stops > starts, sums, 0)


def _fanout(counts):
    """Per-doc 1→N expansion indices: (doc_idx, rank) where ``doc_idx``
    repeats each doc's index for its count and ``rank`` is the 0-based
    within-doc slot. ONE implementation of the repeat/cumsum/arange
    idiom (r9 review: it was copy-pasted in three kernels — frame
    sampling, energy windows, scene cuts — where an off-by-one fix in
    one copy would silently miss the others)."""
    import numpy as np

    total = int(counts.sum())
    doc_idx = np.repeat(np.arange(len(counts)), counts)
    first = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    rank = np.arange(total, dtype=np.int64) - np.repeat(first, counts)
    return doc_idx, rank


def fused_round_trip(encode_batch, decode_batch):
    """Chain an encode kernel into a decode kernel INSIDE one Python
    stage: ``decode(encode(batches))`` streaming batch by batch.

    The codec round-trip queries originally planned as TWO chained
    mapInPandas stages; that shape demands two Python workers per task,
    and the round-7 bench forensics showed the extra worker wave is
    fragile — a 32-process fork + import storm can land inside whichever
    codec query draws fresh workers (measured: the GIF round trip at
    0.85 s fused vs 3-12 s chained in a long bench session, with the
    slow tasks' workers all < 2 s old and their CPU time tiny). One
    fused stage also halves the Arrow transfers: the intermediate
    encoded files never cross the JVM boundary. The individual kernels
    stay exported and unit-tested; only the query-level composition
    fuses."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from decode_batch(encode_batch(batches))
    return kernel


def fake_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for an image decode, vectorized per Arrow
    batch over the flat payload buffer (no per-row Python): width/height
    derived from payload size/content, checksum over the first 16 bytes.
    A real codec replaces only this function."""
    import numpy as np

    for pdf in batches:
        buf, starts, lens = _flat_batch(pdf["payload"])
        heights = np.where(lens > 0, buf[starts], 0)
        checksum16 = _segment_sums(buf, starts, starts + np.minimum(lens, 16))
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "n_bytes": lens,
            "width": (lens % 640).astype("int32"),
            "height": heights.astype("int32"),
            "checksum16": checksum16,
        })


def decode_image_real(payload: bytes) -> "object":
    """Dependency-free real decode dispatch. BASELINE JPEG — grayscale,
    4:4:4, and MCU-interleaved 4:2:0 color (the dominant real-world
    layout) — is decoded for real since round 7:
    ``multimodal_jpeg._jpeg_parse`` (marker walk, Huffman, per-component
    DC prediction/dequant, IDCT, subsampled-plane crop), returning
    (width, height, [plane per component], per-component (h, v)
    sampling factors). The rest of the real codec
    family is live beside it: BMP (below), PPM (pipeline_ext5), RIFF/
    WAVE PCM (pipeline_ext), PNG (multimodal_png: zlib inflate + all
    five filter inverses), GIF (multimodal_gif: full variable-width
    LZW). A JPEG-magic payload that fails the parse raises ValueError
    (corrupt data or a layout outside the decoder's scope — progressive,
    arithmetic, or exotic samplings — are indistinguishable without
    PIL/opencv and neither is a caller bug this function can repair).
    EVERY other magic raises NotImplementedError — including
    PNG/GIF/BMP/PPM/WAV, whose in-repo decoders live in their own
    modules with their own parse contracts and are NOT routed through
    this dispatch (pinned by tests/test_entry.py; this function is the
    documented third-party-codec boundary, not a universal decoder),
    as well as formats with no decoder here at all (WebP/AVIF)."""
    if payload[:2] == b"\xff\xd8":
        from .multimodal_jpeg import _jpeg_parse

        parsed = _jpeg_parse(bytes(payload))
        if parsed is not None:
            return parsed
        raise ValueError(
            "JPEG payload did not decode: either a corrupt/truncated "
            "stream, or a layout outside the dependency-free decoder's "
            "scope (progressive/arithmetic coding or samplings beyond "
            "grayscale, 4:4:4, and 4:2:0 need PIL/opencv, absent here)")
    raise NotImplementedError(
        "WebP/AVIF codecs are not installed in this environment; the "
        "dependency-free real-codec family covers BMP/PPM/WAV/PNG/GIF/"
        "baseline-JPEG (gray + 4:2:0 color) — see multimodal_png.py / "
        "multimodal_gif.py / multimodal_jpeg.py for the compressed ones"
    )


# --- Real dependency-free codec: uncompressed 24-bit BMP ------------------
#
# The encode kernel builds byte-genuine BMP files (BITMAPFILEHEADER +
# BITMAPINFOHEADER, BI_RGB, bottom-up row order, rows padded to 4-byte
# strides) whose pixel bytes come from the document's text bytes taken
# cyclically; the decode kernel parses them the way any BMP reader does:
# magic check, little-endian header fields, signed height (negative =
# top-down), pixel-array offset, stride walk skipping pad bytes. Pad
# bytes are written as 0xAB, so any stride/orientation mistake changes
# the checked sums. Three size classes by doc_id % 3, each with a
# non-trivial pad width, keep the parse honest while staying fully
# vectorized (one numpy pass per class per Arrow batch — never per-row
# Python).

_BMP_DIMS = ((15, 6), (22, 9), (33, 12))  # (width, height) by doc_id % 3
_BMP_PAD = 0xAB
_BMP_HDR = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)

BMP_DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("bmp_ok", BooleanType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("bpp", IntegerType()),
    StructField("row0_sum", LongType()),
    StructField("pixel_sum", LongType()),
])


def _bmp_header(width: int, height: int, stride: int) -> "object":
    """The 54 header bytes for one size class (BI_RGB 24-bit,
    bottom-up), as a uint8 array."""
    import struct

    import numpy as np

    size = _BMP_HDR + stride * height
    hdr = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", size, 0, 0, _BMP_HDR,
        40, width, height, 1, 24, 0, stride * height, 2835, 2835, 0, 0,
    )
    return np.frombuffer(hdr, dtype=np.uint8)


def bmp_encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, payload=text bytes) → (doc_id, payload=real BMP bytes).

    Pixel rule: image-row-major pixel byte k = text_byte[k mod len(text)];
    rows are stored bottom-up (image row 0 is the LAST stored row), pad
    bytes 0xAB — both facts the decoder must get right for the oracle
    sums to match."""
    import numpy as np

    for pdf in batches:
        buf, starts, lens = _flat_batch(pdf["payload"])
        doc_id = pdf["doc_id"].to_numpy()
        out: list = [None] * len(doc_id)
        cls = doc_id % len(_BMP_DIMS)
        for c, (w, h) in enumerate(_BMP_DIMS):
            sel = np.nonzero(cls == c)[0]
            if len(sel) == 0:
                continue
            row_bytes = w * 3
            stride = (row_bytes + 3) // 4 * 4
            k = np.arange(h * row_bytes, dtype=np.int64)
            # guard: an empty payload has no bytes to cycle — modulo by
            # max(len,1) avoids int-mod-by-zero, and the explicit zero
            # mask below keeps it from aliasing the NEXT doc's bytes in
            # the flat buffer (its start == the next start)
            idx = starts[sel][:, None] + (
                k[None, :] % np.maximum(lens[sel], 1)[:, None])
            pix = buf[idx].astype(np.uint8)
            pix[lens[sel] == 0] = 0
            pix = pix.reshape(len(sel), h, row_bytes)
            area = np.full((len(sel), h, stride), _BMP_PAD, dtype=np.uint8)
            area[:, :, :row_bytes] = pix[:, ::-1, :]   # bottom-up storage
            hdr = np.broadcast_to(_bmp_header(w, h, stride),
                                  (len(sel), _BMP_HDR))
            files = np.concatenate(
                [hdr, area.reshape(len(sel), h * stride)], axis=1)
            for j, i in enumerate(sel):
                out[i] = files[j].tobytes()
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})


def bmp_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real BMP parse, vectorized over the flat payload buffer: magic +
    format checks, little-endian field extraction, SIGNED height
    (negative = top-down row order), stride arithmetic from bpp, and
    per-row padded walks for the pixel sums. Handles any uncompressed
    24-bit BMP, not just this module's encoder output
    (tests/test_multimodal_bmp.py decodes hand-written fixtures)."""
    import numpy as np

    for pdf in batches:
        buf, starts, lens = _flat_batch(pdf["payload"])
        # guard pad: when EVERY payload in the batch is shorter than a
        # header, base=0 field gathers below would index past the flat
        # buffer; the has_hdr mask discards whatever the pad returns
        buf = np.concatenate([buf, np.zeros(_BMP_HDR, dtype=np.int64)])
        n = len(starts)

        # header-present guard first so field gathers stay in-bounds
        has_hdr = lens >= _BMP_HDR
        base = np.where(has_hdr, starts, 0)

        def u16(off):
            return buf[base + off] | (buf[base + off + 1] << 8)

        def u32(off):
            return (buf[base + off] | (buf[base + off + 1] << 8)
                    | (buf[base + off + 2] << 16)
                    | (buf[base + off + 3] << 24))

        pix_off = u32(10)
        width = u32(18)
        h_signed = (u32(22) + (1 << 31)) % (1 << 32) - (1 << 31)
        topdown = h_signed < 0
        height = np.abs(h_signed)
        bpp = u16(28)
        compression = u32(30)
        # sane-dimension clamps keep the arithmetic below overflow-free
        # even on garbage payloads (a real decoder rejects these too)
        ok = (has_hdr & (buf[base] == 0x42)
              & (buf[base + 1] == 0x4D) & (bpp == 24)
              & (compression == 0) & (width > 0) & (width < (1 << 16))
              & (height > 0) & (height < (1 << 16))
              & (pix_off >= _BMP_HDR) & (pix_off < (1 << 24)))
        row_bytes = np.where(ok, (width * bpp + 7) // 8, 0)
        stride = (row_bytes + 3) // 4 * 4
        ok &= lens >= pix_off + stride * height
        h_eff = np.where(ok, height, 0)
        row_bytes = np.where(ok, row_bytes, 0)

        # all stored rows of all valid docs: per-row (start, stop) segments
        total = int(h_eff.sum())
        row_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(h_eff, out=row_off[1:])
        pixel_sum = np.zeros(n, dtype=np.int64)
        if total:
            rep = np.repeat(np.arange(n), h_eff)        # doc of each row
            ri = np.arange(total, dtype=np.int64) - row_off[rep]
            row_start = starts[rep] + pix_off[rep] + ri * stride[rep]
            row_sums = _segment_sums(buf, row_start,
                                     row_start + row_bytes[rep])
            # reduceat only over docs that OWN rows: their row_off values
            # are strictly increasing and < total, so no segment is ever
            # clamped or split. (Clamping zero-row docs' offsets to
            # total-1 instead would truncate the PRECEDING doc's segment
            # whenever a valid file is followed by an invalid one in the
            # same batch.)
            nz = h_eff > 0
            pixel_sum[nz] = np.add.reduceat(row_sums, row_off[:-1][nz])

        # image row 0: last stored row when bottom-up, first when top-down
        r0 = np.where(topdown, 0, height - 1)
        r0_start = np.where(ok, starts + pix_off + r0 * stride, 0)
        row0_sum = _segment_sums(buf, r0_start, r0_start + row_bytes)

        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "bmp_ok": ok.astype(bool),
            "n_bytes": lens,
            "width": width.astype("int32"),
            "height": height.astype("int32"),
            "bpp": bpp.astype("int32"),
            "row0_sum": np.where(ok, row0_sum, 0),
            "pixel_sum": np.where(ok, pixel_sum, 0),
        })


# --- Real dependency-free codec #2: binary PPM (P6) -----------------------
#
# PPM exercises the OTHER half of real-format parsing the fixed-layout BMP
# cannot: a VARIABLE-LENGTH ASCII header — magic "P6", then width, height
# and maxval as decimal tokens separated by arbitrary whitespace runs, with
# '#'-to-newline comments allowed wherever whitespace is, then exactly one
# whitespace byte before the raw RGB plane (no row padding — the stride
# hazard belongs to BMP; the tokenizer hazard belongs here). The decoder is
# a vectorized per-byte state machine over the first _PPM_SCAN bytes of
# every payload in the Arrow batch (numpy column sweeps — never per-row
# Python), so a batch of n files parses in O(_PPM_SCAN) passes of O(n).
# Size class 2's encoder header embeds a comment line, so comment handling
# is exercised by the oracle-checked path, not only by fixtures.

_PPM_DIMS = ((17, 7), (24, 10), (31, 13))  # (width, height) by doc_id % 3
_PPM_HEADERS = (b"P6\n17 7\n255\n", b"P6\n24 10\n255\n",
                b"P6\n# x\n31 13\n255\n")
_PPM_SCAN = 64  # header must terminate within this prefix

PPM_DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("ppm_ok", BooleanType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("maxval", IntegerType()),
    StructField("header_len", IntegerType()),
    StructField("row0_sum", LongType()),
    StructField("pixel_sum", LongType()),
])


def ppm_encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, payload=text bytes) → (doc_id, payload=real P6 PPM bytes).

    Pixel rule: RGB-plane byte k = text_byte[k mod len(text)], row-major
    top-down (P6 stores rows first-to-last, unpadded). Class 2's header
    carries a '# x' comment line the decoder must skip."""
    import numpy as np

    for pdf in batches:
        buf, starts, lens = _flat_batch(pdf["payload"])
        doc_id = pdf["doc_id"].to_numpy()
        out: list = [None] * len(doc_id)
        cls = doc_id % len(_PPM_DIMS)
        for c, (w, h) in enumerate(_PPM_DIMS):
            sel = np.nonzero(cls == c)[0]
            if len(sel) == 0:
                continue
            hdr = np.frombuffer(_PPM_HEADERS[c], dtype=np.uint8)
            k = np.arange(w * h * 3, dtype=np.int64)
            # empty-payload guard: see bmp_encode_batch
            idx = starts[sel][:, None] + (
                k[None, :] % np.maximum(lens[sel], 1)[:, None])
            pix = buf[idx].astype(np.uint8)
            pix[lens[sel] == 0] = 0
            files = np.concatenate(
                [np.broadcast_to(hdr, (len(sel), len(hdr))), pix], axis=1)
            for j, i in enumerate(sel):
                out[i] = files[j].tobytes()
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})


def ppm_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real P6 parse, vectorized: magic check, then a per-byte state
    machine (numpy column sweep across the batch) tokenizing width /
    height / maxval through arbitrary whitespace runs and '#'-comments,
    locating the single post-maxval whitespace that starts the RGB
    plane. Handles any single-byte-maxval P6, not just this module's
    encoder output (tests/test_multimodal_ppm.py decodes hand-written
    fixtures with CRLF runs, comments, and garbage)."""
    import numpy as np

    ws = (0x20, 0x09, 0x0A, 0x0D, 0x0B, 0x0C)

    for pdf in batches:
        buf, starts, lens = _flat_batch(pdf["payload"])
        n = len(starts)
        # (n, SCAN) matrix of header-prefix bytes; out-of-range → 0 pad
        buf2 = np.concatenate([buf, np.zeros(_PPM_SCAN, dtype=np.int64)])
        col = np.arange(_PPM_SCAN, dtype=np.int64)
        inrange = col[None, :] < lens[:, None]
        mat = buf2[np.where(inrange, starts[:, None] + col[None, :],
                            len(buf2) - 1)]

        magic = (lens >= 2) & (mat[:, 0] == 0x50) & (mat[:, 1] == 0x36)
        cur = np.zeros(n, dtype=np.int64)
        started = np.zeros(n, dtype=bool)
        in_comment = np.zeros(n, dtype=bool)
        ncomplete = np.zeros(n, dtype=np.int64)
        vals = np.zeros((n, 3), dtype=np.int64)
        data_off = np.full(n, -1, dtype=np.int64)
        bad = np.zeros(n, dtype=bool)
        for j in range(2, _PPM_SCAN):
            c = mat[:, j]
            live = (data_off < 0) & ~bad & magic
            if not live.any():
                break
            isws = np.isin(c, ws)
            isdig = (c >= 0x30) & (c <= 0x39)
            ishash = c == 0x23
            # comment bytes are skipped wholesale; newline ends the comment
            skip = live & in_comment
            in_comment = np.where(skip & (c == 0x0A), False, in_comment)
            proc = live & ~skip
            d = proc & isdig
            cur = np.where(d, cur * 10 + (c - 0x30), cur)
            # overflow guard: a token longer than ~10 digits would wrap
            # int64 after enough columns and could alias to a small
            # "valid" dimension — reject as soon as the value exceeds any
            # legal field (dims/maxval are all < 2^16), long before wrap
            bad |= d & (cur > 1_000_000_000)
            end_tok = proc & isws & started
            for t in range(3):
                m = end_tok & (ncomplete == t)
                vals[m, t] = cur[m]
            ncomplete = np.where(end_tok, ncomplete + 1, ncomplete)
            # the whitespace byte completing token 3 IS the single
            # separator before the RGB plane
            data_off = np.where(end_tok & (ncomplete == 3), j + 1, data_off)
            started = np.where(end_tok, False, np.where(d, True, started))
            cur = np.where(end_tok, 0, cur)
            in_comment = np.where(proc & ishash & ~started, True, in_comment)
            # '#' inside a number, or any byte that is not whitespace /
            # digit / comment-start, is malformed
            bad |= proc & ((ishash & started)
                           | (~isws & ~isdig & ~ishash))

        width, height, maxval = vals[:, 0], vals[:, 1], vals[:, 2]
        ok = (magic & ~bad & (data_off >= 0)
              & (width > 0) & (width < (1 << 16))
              & (height > 0) & (height < (1 << 16))
              & (maxval > 0) & (maxval < 256))     # single-byte samples
        row_bytes = np.where(ok, width * 3, 0)
        plane = np.where(ok, row_bytes * height, 0)
        off = np.where(ok, data_off, 0)
        ok &= lens >= off + plane
        plane = np.where(ok, plane, 0)
        row_bytes = np.where(ok, row_bytes, 0)
        p0 = starts + np.where(ok, off, 0)
        row0_sum = _segment_sums(buf, p0, p0 + row_bytes)
        pixel_sum = _segment_sums(buf, p0, p0 + plane)

        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "ppm_ok": ok.astype(bool),
            "n_bytes": lens,
            "width": width.astype("int32"),
            "height": height.astype("int32"),
            "maxval": maxval.astype("int32"),
            "header_len": np.where(ok, off, 0).astype("int32"),
            "row0_sum": np.where(ok, row0_sum, 0),
            "pixel_sum": np.where(ok, pixel_sum, 0),
        })


@query(
    "q_multimodal_meta",
    oracle="""
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               AVG(n_chars) AS avg_chars,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM documents
        GROUP BY lang, source
    """,
    tags=("multimodal",),
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over the multimodal table: stats on the
    payload-size column grouped by lang×source."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.avg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q_multimodal_decode",
    oracle=f"""
        SELECT doc_id,
               CAST({BLEN_SQL} AS BIGINT) AS n_bytes,
               CAST({BLEN_SQL} % 640 AS INT) AS width,
               CAST(CASE WHEN {BLEN_SQL} = 0 THEN 0
                    ELSE {utf8_byte_sql('0')} END AS INT) AS height,
               CAST(COALESCE(list_sum(list_transform(
                       generate_series(0, least(16, {BLEN_SQL}) - 1),
                       k -> {utf8_byte_sql('k')})), 0) AS BIGINT)
                   AS checksum16
        FROM documents WHERE text IS NOT NULL
    """,
    tags=("multimodal",),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode pipeline: encode → mapInPandas(fake codec) → typed
    rows. The oracle recomputes the fake codec's arithmetic in SQL over
    UTF-8 BYTES (r12: the old char-codepoint form only agreed on
    all-ASCII fixtures), proving the Arrow round-trip is lossless
    and the batch plumbing correct."""
    return binary_docs(spark, sf_dir).select("doc_id", "payload") \
        .mapInPandas(fake_decode_batch, schema=DECODE_SCHEMA)


# Oracle mirror of the BMP round trip: per size class, the file layout is
# fully determined (54-byte header + padded strides), and every pixel byte
# is text byte (k mod len) — so width/height/sizes are CASE arithmetic and
# the pixel sums are explicit cyclic byte sums over the ascii text.
def _bmp_oracle() -> str:
    w = "CASE doc_id % 3 WHEN 0 THEN 15 WHEN 1 THEN 22 ELSE 33 END"
    h = "CASE doc_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 9 ELSE 12 END"
    stride = "CASE doc_id % 3 WHEN 0 THEN 48 WHEN 1 THEN 68 ELSE 100 END"
    return f"""
        SELECT doc_id,
               TRUE AS bmp_ok,
               CAST(54 + ({stride}) * ({h}) AS BIGINT) AS n_bytes,
               CAST({w} AS INT) AS width,
               CAST({h} AS INT) AS height,
               24 AS bpp,
               CAST({cyclic_text_sum_sql(f"({w}) * 3")} AS BIGINT)
                   AS row0_sum,
               CAST({cyclic_text_sum_sql(f"({w}) * 3 * ({h})")} AS BIGINT)
                   AS pixel_sum
        FROM documents WHERE text IS NOT NULL
    """


@query("q_multimodal_decode_bmp", oracle=_bmp_oracle(), tags=("multimodal",))
def q_multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-format decode: encode each document into a genuine
    uncompressed 24-bit BMP (``bmp_encode_batch``), then parse it back
    with the dependency-free BMP decoder (``bmp_decode_batch`` — magic,
    little-endian headers, signed height, padded-stride pixel walk).

    The DuckDB oracle recomputes every output column from first
    principles (file-layout arithmetic + cyclic text-byte sums), so a
    hash match proves the decoder really parsed the format: any
    stride, orientation, or offset mistake shifts the sums. Both
    kernels are vectorized Arrow-batch passes — numpy over a flat byte
    buffer, no per-row Python — FUSED into one mapInPandas stage (see
    fused_round_trip: one Python worker per task, encoded bytes never
    re-cross the JVM boundary)."""
    return binary_docs(spark, sf_dir).select("doc_id", "payload") \
        .mapInPandas(fused_round_trip(bmp_encode_batch, bmp_decode_batch),
                     schema=BMP_DECODE_SCHEMA)


@query(
    "q_multimodal_join",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents WHERE text IS NOT NULL
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(m.n_bytes) AS BIGINT) AS total_bytes
        FROM documents d JOIN m USING (doc_id)
        GROUP BY lang
    """,
    tags=("multimodal",),
)
def q_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded metadata joined back to the source table and aggregated —
    the relational-composition half of the multimodal story (decode output
    is a first-class DataFrame)."""
    decoded = q_multimodal_decode(spark, sf_dir).select("doc_id", "n_bytes")
    d = load(spark, sf_dir, "documents")
    return (
        d.join(decoded, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


_FRAME = 64      # bytes per fake "video frame"
_SAMPLE_EVERY = 4


@query(
    "q_multimodal_frame_sample",
    oracle=f"""
        WITH f AS (
            SELECT doc_id, {BLEN_SQL} AS n_bytes,
                   hex(encode(text)) AS hx,
                   unnest(generate_series(
                       0, CAST(ceil({BLEN_SQL} / 64.0)
                               AS INT) - 1)) AS frame_no
            FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
               CAST(least(64, n_bytes - frame_no * 64) AS INT) AS frame_bytes,
               CAST(list_sum(list_transform(
                       generate_series(frame_no * 64,
                                       least(n_bytes, frame_no * 64 + 64) - 1),
                       i -> {utf8_byte_sql('i', hx='hx')})) AS BIGINT)
                   AS frame_sum
        FROM f
        WHERE frame_no % 4 = 0
    """,
    tags=("multimodal",),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a binary 'video' payload: split into 64-byte
    frames, keep every 4th, emit one row per sampled frame — the 1→N
    mapInPandas shape (decode fan-out), vectorized per Arrow batch. The
    oracle recomputes the frame arithmetic in SQL over the ascii bytes.
    At scale the payload column streams through Arrow in bounded batches;
    fan-out factor is payload_size/(frame·stride), known per row."""

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            buf, starts, lens = _flat_batch(pdf["payload"])
            doc_ids = pdf["doc_id"].to_numpy()
            n_frames = -(-lens // _FRAME)                   # ceil
            n_sampled = -(-n_frames // _SAMPLE_EVERY)
            # expand to one slot per sampled frame, all in numpy
            # (_fanout: doc_idx repeats each doc for its sampled-frame
            # count; frame_no is the within-doc rank × stride)
            doc_idx, rank = _fanout(n_sampled)
            frame_no = rank * _SAMPLE_EVERY
            f_start = starts[doc_idx] + frame_no * _FRAME
            f_stop = np.minimum(f_start + _FRAME, starts[doc_idx] + lens[doc_idx])
            yield pd.DataFrame({
                "doc_id": pd.Series(doc_ids[doc_idx], dtype="int64"),
                "frame_no": pd.Series(frame_no, dtype="int32"),
                "frame_bytes": pd.Series(f_stop - f_start, dtype="int32"),
                "frame_sum": pd.Series(
                    _segment_sums(buf, f_start, f_stop), dtype="int64"),
            })

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame_bytes", IntegerType()),
        StructField("frame_sum", LongType()),
    ])
    return binary_docs(spark, sf_dir).select("doc_id", "payload") \
        .mapInPandas(sample_frames, schema=schema)


@query(
    "q_multimodal_resize",
    oracle=f"""
        SELECT doc_id,
               CAST({BLEN_SQL} % 640 AS INT) AS width,
               CAST(CASE WHEN {BLEN_SQL} = 0 THEN 0
                    ELSE {utf8_byte_sql('0')} END AS INT) AS height,
               CAST(({BLEN_SQL} % 640) // 2 AS INT) AS out_w,
               CAST(CASE WHEN {BLEN_SQL} = 0 THEN 0
                    ELSE {utf8_byte_sql('0')} END // 2 AS INT) AS out_h
        FROM documents WHERE text IS NOT NULL
    """,
    tags=("multimodal",),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: decode dims → target dims (half resolution).
    The real resampling kernel would run in the same mapInPandas batch
    (numpy slice-stride or a codec); here the dimension arithmetic and
    schema contract are the tested surface."""
    decoded = q_multimodal_decode(spark, sf_dir)
    return decoded.select(
        "doc_id", "width", "height",
        (F.col("width") / 2).cast("int").alias("out_w"),
        (F.col("height") / 2).cast("int").alias("out_h"),
    )


_WIN = 256       # PCM samples per energy window


@query(
    "q_multimodal_audio_energy",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, {BLEN_SQL} AS n_bytes,
                   hex(encode(text)) AS hx,
                   unnest(generate_series(
                       0, CAST(ceil({BLEN_SQL} / 256.0)
                               AS INT) - 1)) AS win_no
            FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, CAST(win_no AS INT) AS win_no,
               CAST(least(256, n_bytes - win_no * 256) AS INT) AS n_samples,
               CAST(list_sum(list_transform(
                       generate_series(win_no * 256,
                                       least(n_bytes, win_no * 256 + 256) - 1),
                       i -> ({utf8_byte_sql('i', hx='hx')} - 128)
                            * ({utf8_byte_sql('i', hx='hx')} - 128)))
                    AS BIGINT) AS energy
        FROM w
    """,
    tags=("multimodal", "audio"),
)
def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction plumbing: interpret the opaque payload as
    8-bit PCM samples and emit per-window signal energy (sum of squared
    centered samples over non-overlapping 256-sample windows) — the
    windowed-DSP twin of q_multimodal_frame_sample's fan-out shape. A
    real audio pipeline swaps the byte interpretation for a codec frame
    iterator; the Spark surface (binary column → mapInPandas 1→N fan-out
    → typed rows) is identical.

    Kernel: ONE vectorized pass — center and square the whole flat Arrow
    buffer, then np.add.reduceat over window boundaries; no per-row or
    per-window Python. The oracle recomputes the same arithmetic over
    UTF-8 bytes in SQL (r12: byte domain, not char codepoints).
    """

    def energy_windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            buf, starts, lens = _flat_batch(pdf["payload"])
            sq = (buf - 128) ** 2
            doc_ids = pdf["doc_id"].to_numpy()
            n_win = -(-lens // _WIN)                        # ceil
            doc_idx, win_no = _fanout(n_win)
            w_start = starts[doc_idx] + win_no * _WIN
            w_stop = np.minimum(w_start + _WIN,
                                starts[doc_idx] + lens[doc_idx])
            yield pd.DataFrame({
                "doc_id": pd.Series(doc_ids[doc_idx], dtype="int64"),
                "win_no": pd.Series(win_no, dtype="int32"),
                "n_samples": pd.Series(w_stop - w_start, dtype="int32"),
                "energy": pd.Series(
                    _segment_sums(sq, w_start, w_stop), dtype="int64"),
            })

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("win_no", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("energy", LongType()),
    ])
    return binary_docs(spark, sf_dir).select("doc_id", "payload") \
        .mapInPandas(energy_windows, schema=schema)


PHASH_SCHEMA = "doc_id long, phash_hi long, phash_lo long"


def phash_batch(batches):
    """dHash (difference hash) over the fake-decoded 8×9 'pixel' grid:
    pixel(r, c) = payload byte at (r·9 + c) mod len, bit(r, c) =
    pixel(r, c) < pixel(r, c+1) — 64 bits packed as two 32-bit halves.
    One vectorized gather + compare per Arrow batch; no per-row Python."""
    import numpy as np

    pos = np.arange(72, dtype=np.int64)           # 8 rows × 9 cols
    for pdf in batches:
        buf, starts, lens = _flat_batch(pdf["payload"])
        # empty-payload guard (query path filters them; the kernel must
        # still not mod-by-zero as a reusable function): hash = 0
        idx = starts[:, None] + (pos[None, :] % np.maximum(lens, 1)[:, None])
        px = buf[idx].reshape(len(pdf), 8, 9).astype(np.int16)
        px[lens == 0] = 0
        bits = (px[:, :, :8] < px[:, :, 1:]).reshape(len(pdf), 64)
        k = np.arange(32, dtype=np.int64)
        lo = (bits[:, :32] * (1 << k)).sum(axis=1)
        hi = (bits[:, 32:] * (1 << k)).sum(axis=1)
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "phash_hi": hi.astype("int64"),
            "phash_lo": lo.astype("int64"),
        })


@query(
    "q_multimodal_phash",
    oracle=f"""
        WITH {phash_sql()}
        SELECT doc_id, phash_hi, phash_lo,
               CAST(COUNT(*) OVER (PARTITION BY phash_hi, phash_lo)
                    AS BIGINT) AS n_bucket
        FROM h
    """,
    tags=("multimodal", "dedup", "similarity"),
)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual hash (dHash) over the decoded image grid — the
    image-near-dup primitive joining the multimodal and dedup families:
    visually-similar images differ in few hash bits, so exact-bucket
    counts (emitted here) catch exact perceptual dups and a banded
    Hamming join (q_dedup_simhash's scheme, applied to phash_hi/lo as
    two 32-bit bands) catches near-dups at scale.

    The 'pixels' come from the fake codec's byte grid (real codec =
    documented swap-in, multimodal.py:108); the oracle recomputes the
    same byte arithmetic in SQL, so the Arrow gather/compare/pack kernel
    is value-checked end-to-end.

    Scale shape: one vectorized mapInPandas pass (gather + compare per
    Arrow batch), then ONE shuffle for the bucket-count window. 64 bits
    ride as two BIGINT halves (a single signed 64-bit column would
    overflow at bit 63 on the SQL side).
    """
    b = binary_docs(spark, sf_dir).filter(F.col("n_chars") > 0)
    hashed = b.select("doc_id", "payload").mapInPandas(
        phash_batch, schema=PHASH_SCHEMA)
    w = Window.partitionBy("phash_hi", "phash_lo")
    return hashed.select(
        "doc_id", "phash_hi", "phash_lo",
        F.count(F.lit(1)).over(w).cast("long").alias("n_bucket"),
    )


_CUT_THRESH = 640  # |frame_sum(i) − frame_sum(i−1)| above this = scene cut


@query(
    "q_multimodal_scenecut",
    oracle=f"""
        WITH f AS (
            SELECT doc_id, {BLEN_SQL} AS n_bytes,
                   hex(encode(text)) AS hx,
                   unnest(generate_series(
                       0, CAST(ceil({BLEN_SQL} / 64.0)
                               AS INT) - 1)) AS frame_no
            FROM documents WHERE text IS NOT NULL),
        sums AS (
            SELECT doc_id, frame_no,
                   list_sum(list_transform(
                       generate_series(frame_no * 64,
                                       least(n_bytes, frame_no * 64 + 64) - 1),
                       i -> {utf8_byte_sql('i', hx='hx')})) AS s
            FROM f),
        d2 AS (
            SELECT doc_id, frame_no, s,
                   lag(s) OVER (PARTITION BY doc_id ORDER BY frame_no)
                       AS prev_s
            FROM sums)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(SUM(CASE WHEN prev_s IS NOT NULL
                             AND abs(s - prev_s) > {_CUT_THRESH}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
        FROM d2 GROUP BY doc_id
    """,
    tags=("multimodal", "video"),
)
def q_multimodal_scenecut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the binary 'video' payload: adjacent
    64-byte frames whose intensity sums differ by more than a threshold —
    the shot-boundary pass a video-training pipeline runs before frame
    sampling (keep one keyframe per shot, not per stride). Real decoder
    = the documented swap-in; the frame-differencing kernel and its
    N-frames→1-row aggregation shape are the tested surface.

    DETERMINISM: frame sums are exact BIGINT byte sums; the cut
    predicate is integer comparison.

    Scale shape: ONE vectorized mapInPandas pass per Arrow batch —
    np.add.reduceat for every frame sum, np.diff + threshold + bincount
    for per-doc cut counts, all inside the kernel (the N-frame fan-out
    never materializes as rows; contrast q_multimodal_frame_sample which
    emits the expansion on purpose). No shuffle at all: the kernel
    emits one row per doc.
    """

    def scenecuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            buf, starts, lens = _flat_batch(pdf["payload"])
            n_frames = -(-lens // _FRAME)
            doc_idx, rank = _fanout(n_frames)
            f_start = starts[doc_idx] + rank * _FRAME
            f_stop = np.minimum(f_start + _FRAME,
                                starts[doc_idx] + lens[doc_idx])
            sums = _segment_sums(buf, f_start, f_stop)
            diffs = np.abs(np.diff(sums))
            same_doc = doc_idx[1:] == doc_idx[:-1]
            cuts = np.bincount(doc_idx[1:][same_doc],
                               weights=(diffs[same_doc] > _CUT_THRESH),
                               minlength=len(lens))
            # frame-less (empty-payload) docs emit NO row — the oracle's
            # GROUP BY over the frame expansion drops them, as do the
            # sibling frame queries (r8 review fix; latent until the
            # corpus carries an empty text)
            keep = n_frames > 0
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[keep],
                "n_frames": pd.Series(n_frames[keep], dtype="int64"),
                "n_cuts": pd.Series(cuts[keep].astype("int64"),
                                    dtype="int64"),
            })

    # doc_id+payload only (r9 review: Spark cannot column-prune through
    # mapInPandas, so unselected lang/source/n_chars were scanned and
    # Arrow-serialized into every Python worker — the bmp/phash sites'
    # existing discipline, now applied to all four kernel queries)
    return binary_docs(spark, sf_dir).select("doc_id", "payload") \
        .mapInPandas(scenecuts,
                     schema="doc_id long, n_frames long, n_cuts long")


_PHASH_HAM_T = 8  # near-dup threshold: ≤ 8 of 64 bits differ


@query(
    "q_multimodal_phash_pairs",
    oracle=f"""
        WITH {phash_sql()}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.phash_hi, b.phash_hi))
                    + bit_count(xor(a.phash_lo, b.phash_lo)) AS INT)
                   AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash_hi, b.phash_hi))
              + bit_count(xor(a.phash_lo, b.phash_lo)) <= {_PHASH_HAM_T}
    """,
    tags=("multimodal", "dedup", "approx"),
)
def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup PAIRS: documents whose perceptual hashes differ in
    ≤ 8 (_PHASH_HAM_T) of 64 bits, mined by the radius-EXACT pigeonhole
    band scheme (9 chunks over the 64 bits: ≤ 8 differing bits ⇒ at
    least one chunk identical), then exact Hamming verification — the
    same chunk machinery as q_dedup_simhash_pairs (llm_dedup.
    simhash_pairs, total_bits=64), which also dedups candidates with
    the first-zero-chunk predicate instead of a dropDuplicates shuffle.

    The ORACLE is the brute-force all-pairs Hamming scan (independent,
    quadratic, fine at oracle scale): matching it certifies BOTH
    precision (exact verify) and recall (the pigeonhole guarantee — an
    earlier 2 × 32-bit-half variant missed a pair at sf0.1 whose 8
    differing bits split 4/4 across the halves; the sweep caught it).

    Scale shape: ONE shuffle keyed on (chunk_id, chunk value) for
    candidate mining (same posture as MinHash-LSH), exact verify on the
    candidate set only — never all-pairs. Radius 8 over 64 bits is an
    intrinsically permissive curve (7-bit chunks ⇒ coarse buckets);
    web-scale corpora move to the Manku block-pair tables at the same
    threshold, or tighten the radius.
    """
    from .llm_dedup import simhash_pairs
    from .materialize import persist

    # TRACKED persist (r9 review): simhash_pairs references the
    # signature frame 4-5 times (distinct build, both join sides, the
    # verify), and with an unpersisted input the corpus-wide phash
    # mapInPandas kernel re-executed per reference (measured: 8
    # MapInPandas nodes in the executed plan) — q_dedup_simhash_pairs
    # avoids this only because its signatures come from a
    # materialize.shared frame.
    sigs = persist(q_multimodal_phash(spark, sf_dir).select(
        "doc_id",
        # one 64-bit signature: (x >> sh) & mask extracts chunks
        # correctly under arithmetic shift even when bit 63 makes the
        # long negative
        F.expr("shiftleft(phash_hi, 32) | phash_lo").alias("simhash"),
    ))
    return simhash_pairs(sigs, max_hamming=_PHASH_HAM_T,
                         n_chunks=_PHASH_HAM_T + 1, total_bits=64)
