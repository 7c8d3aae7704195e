"""Multimodal (image/audio/video) column operators.

Media payloads are opaque ``binary`` columns with typed metadata; this
module gives them the pipeline surface a 100 TB training-data build needs:

* **mime sniffing** from magic bytes — pure JVM when-chain over the hex
  prefix, scales as a projection;
* **payload stats** (byte size, hex/base64 bridges) — built-in expressions;
* **container-header parsing** (PNG IHDR width/height) — JVM expressions:
  big-endian ints are four hex chars away from ``conv``;
* **decode plumbing** via Arrow-batched ``mapInPandas`` — the schema and
  batching are real, and so is the decode: :func:`decode_pixels` uses
  Pillow when installed, else a pure-stdlib baseline-PNG decoder (zlib
  inflate + scanline unfilter, all five filter types), with NULL rows for
  undecodable payloads; :func:`decode_meta` does the cheap header parse.

The synthetic-payload builder (:func:`synth_payload`) exists so the suite
can manufacture deterministic binary fixtures from the ``documents`` table
identically in Spark and the DuckDB oracle (generator fragments at the
bottom share the same constants).

Reference parity note: the reference crate has no binary/media operators;
this module is part of the driver-mandated training-data-pipeline extras.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: magic prefixes, hex-uppercase, with the byte offset they start at (1-based)
#: mime -> (offset, hex_prefix)
MAGICS: dict[str, tuple[int, str]] = {
    "image/png": (1, "89504E470D0A1A0A"),
    "image/jpeg": (1, "FFD8FF"),
    "image/gif": (1, "474946383961"),
    "audio/wav": (9, "57415645"),  # 'WAVE' after 'RIFF' + 4-byte size
    "video/mp4": (5, "66747970"),  # 'ftyp' after 4-byte box size
}

_RIFF_HEX = "52494646"  # 'RIFF'

#: PNG layout: 8 magic + 4 chunk-len + 4 'IHDR', then width/height (4 BE each)
PNG_WIDTH_OFFSET = 17
PNG_HEIGHT_OFFSET = 21
PNG_HEADER_BYTES = 29


def _hex_at(payload_hex: Column, byte_offset: int, n_bytes: int) -> Column:
    return F.substring(payload_hex, (byte_offset - 1) * 2 + 1, n_bytes * 2)


def sniff_mime(payload: Column) -> Column:
    """Magic-byte mime detection; unknown prefixes -> 'application/octet-stream'.

    One upper-hex projection per row, then a constant when-chain — stays in
    whole-stage codegen, no Python.
    """
    h = F.upper(F.hex(payload))
    expr = F.lit("application/octet-stream")
    # build the chain in reverse so earlier (more specific) magics win
    for mime, (off, prefix) in reversed(list(MAGICS.items())):
        cond = _hex_at(h, off, len(prefix) // 2) == F.lit(prefix)
        if mime == "audio/wav":
            cond = cond & (_hex_at(h, 1, 4) == F.lit(_RIFF_HEX))
        expr = F.when(cond, F.lit(mime)).otherwise(expr)
    return expr


def payload_size(payload: Column) -> Column:
    """Byte length of the payload (octet_length)."""
    return F.octet_length(payload)


def to_base64(payload: Column) -> Column:
    """Standard base64 of the payload — the text-safe transport bridge."""
    return F.base64(payload)


def from_base64(s: Column) -> Column:
    return F.unbase64(s)


def _be_uint(payload_hex: Column, byte_offset: int, n_bytes: int) -> Column:
    return F.conv(_hex_at(payload_hex, byte_offset, n_bytes), 16, 10).cast("long")


def png_width(payload: Column) -> Column:
    """IHDR width of a PNG payload (NULL semantics left to the caller —
    apply after a mime filter)."""
    return _be_uint(F.upper(F.hex(payload)), PNG_WIDTH_OFFSET, 4)


def png_height(payload: Column) -> Column:
    return _be_uint(F.upper(F.hex(payload)), PNG_HEIGHT_OFFSET, 4)


# ---------------------------------------------------------------------------
# synthetic payload fixture (shared Spark/DuckDB)
# ---------------------------------------------------------------------------


def _int_be4(c: Column) -> Column:
    """4-byte big-endian encoding of a non-negative int column."""
    return F.unhex(F.lpad(F.hex(c), 8, "0"))


def synth_payload(
    doc_id: Column, n_chars: Column, text: Column
) -> Column:
    """Deterministic binary payload: container header chosen by
    ``doc_id % 4`` (png / jpeg / wav / raw), body = utf-8 text bytes.

    PNG rows carry a real IHDR prefix with width = n_chars % 640 + 1 and
    height = doc_id % 480 + 1, so header parsing is meaningful.
    """
    body = F.encode(text, "UTF-8")
    width = (n_chars % 640 + 1).cast("long")
    height = (doc_id % 480 + 1).cast("long")
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")),
        _int_be4(width),
        _int_be4(height),
        F.unhex(F.lit("0806000000")),
        body,
    )
    jpeg = F.concat(F.unhex(F.lit("FFD8FFE0")), body)
    wav = F.concat(F.unhex(F.lit(_RIFF_HEX + "00000000" + "57415645")), body)
    return (
        F.when(doc_id % 4 == 0, png)
        .when(doc_id % 4 == 1, jpeg)
        .when(doc_id % 4 == 2, wav)
        .otherwise(body)
    )


# ---------------------------------------------------------------------------
# decode plumbing (Arrow-batched mapInPandas)
# ---------------------------------------------------------------------------

DECODE_META_SCHEMA = (
    "doc_id bigint, mime string, width bigint, height bigint, n_bytes bigint"
)

_MAGIC_BYTES = {
    mime: (off, bytes.fromhex(prefix)) for mime, (off, prefix) in MAGICS.items()
}


def _sniff_py(b: bytes) -> str:
    for mime, (off, magic) in _MAGIC_BYTES.items():
        if b[off - 1 : off - 1 + len(magic)] == magic:
            if mime == "audio/wav" and b[:4] != b"RIFF":
                continue
            return mime
    return "application/octet-stream"


def decode_meta(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Header metadata via ``mapInPandas`` — the real decode *plumbing*
    (Arrow batch transfer, pandas iteration, fixed output schema) with a
    genuine pure-Python container-header parse (PNG IHDR dims).

    Use this shape for actual pixel/sample decoding once imaging libraries
    are available; per-batch cost is O(batch) with zero JVM round-trips
    inside a batch.
    """
    import pandas as pd

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads = pdf[payload_col]
            mimes, widths, heights, sizes = [], [], [], []
            for b in payloads:
                b = bytes(b)
                mime = _sniff_py(b)
                mimes.append(mime)
                if mime == "image/png" and len(b) >= PNG_HEADER_BYTES - 5:
                    widths.append(int.from_bytes(b[16:20], "big"))
                    heights.append(int.from_bytes(b[20:24], "big"))
                else:
                    widths.append(None)
                    heights.append(None)
                sizes.append(len(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "mime": mimes,
                    "width": pd.array(widths, dtype="Int64"),
                    "height": pd.array(heights, dtype="Int64"),
                    "n_bytes": sizes,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(parse, DECODE_META_SCHEMA)


#: frame-sampling geometry: FRAME_BYTES window every FRAME_STRIDE bytes,
#: at most MAX_FRAMES frames per payload
FRAME_BYTES = 32
FRAME_STRIDE = 64
MAX_FRAMES = 4

FRAME_SAMPLE_SCHEMA = (
    "doc_id bigint, frame_idx int, byte_offset bigint, frame_md5 string"
)


def frame_sample(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Deterministic frame sampling over a media payload — the
    video/audio analog of :func:`decode_meta`: every ``FRAME_STRIDE``
    bytes a ``FRAME_BYTES`` window is cut (up to ``MAX_FRAMES``), each
    identified by its md5.  A real video pipeline replaces the byte
    window with a container-aware frame decode at the same offsets; the
    Arrow batching, output schema, and offset arithmetic here are the
    production plumbing, and the md5s make the sampling itself
    oracle-verifiable byte-for-byte.
    """
    import hashlib

    import pandas as pd

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, idxs, offs, hashes = [], [], [], []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(b)
                for i in range(MAX_FRAMES):
                    off = i * FRAME_STRIDE
                    if off + FRAME_BYTES > len(b):
                        break
                    ids.append(did)
                    idxs.append(i)
                    offs.append(off)
                    # identity = md5 of the UPPERCASE hex of the frame bytes
                    # (DuckDB's md5 only hashes VARCHAR, and hex() is upper)
                    hashes.append(
                        hashlib.md5(
                            b[off : off + FRAME_BYTES].hex().upper().encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "byte_offset": pd.array(offs, dtype="int64"),
                    "frame_md5": pd.array(hashes, dtype="object"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(sample, FRAME_SAMPLE_SCHEMA)


def frame_sample_sql(payload_expr: str = "payload") -> str:
    """DuckDB mirror of :func:`frame_sample` over a BLOB expression
    (1-based substring; byte_offset stays 0-based like the Python)."""
    return f"""
SELECT doc_id, (g.i - 1)::INT AS frame_idx,
       ((g.i - 1) * {FRAME_STRIDE})::BIGINT AS byte_offset,
       md5(substr(hex({payload_expr}), (g.i - 1) * {FRAME_STRIDE} * 2 + 1,
                  {FRAME_BYTES * 2})) AS frame_md5
FROM p, generate_series(1, {MAX_FRAMES}) g(i)
WHERE (g.i - 1) * {FRAME_STRIDE} + {FRAME_BYTES} <= octet_length({payload_expr})
"""


def _png_decode_py(b: bytes):
    """Pure-stdlib PNG pixel decode (zlib inflate + scanline unfilter).

    Supports the baseline subset the pipeline fixtures use: 8-bit depth,
    non-interlaced, gray / gray+alpha / RGB / RGBA.  Returns
    ``(pixels, [h, w, channels])`` with pixels as row-major floats in
    0..255, or ``None`` for non-PNG / unsupported payloads.  All five
    scanline filter types (None/Sub/Up/Average/Paeth) are implemented —
    this is a real decode, not a header peek; only exotic formats (16-bit,
    palette, interlaced) fall back to the optional-Pillow path.
    """
    import struct
    import zlib

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if depth != 8 or interlace != 0 or channels is None or not w or not h:
        return None
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) < h * (stride + 1):
        return None
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _row in range(h):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
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
                up = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            return None
        out += line
        prev = line
    return [float(v) for v in out], [int(h), int(w), int(channels)]


DECODE_PIXELS_SCHEMA = "doc_id bigint, shape array<int>, pixels array<float>"


def decode_pixels(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Pixel decode over binary payloads via the same Arrow-batched
    ``mapInPandas`` plumbing as :func:`decode_meta`: yields
    ``(doc_id, shape [h, w, channels], pixels row-major float 0..255)``,
    with NULL shape/pixels for payloads that aren't decodable images.

    Decoder resolution order (per executor, import-gated — no hard
    dependency): Pillow if installed (any format it reads), else the
    pure-stdlib baseline-PNG decoder :func:`_png_decode_py` (zlib
    inflate + all five scanline filters).  The environment ships no
    imaging library, so the stdlib path is the one the pytest fixtures
    exercise end-to-end against PNGs they encode themselves; non-PNG
    formats without Pillow come back NULL rather than raising — the
    100 TB contract is per-row decode failure tolerance, not job abort.
    """
    import pandas as pd

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        try:
            from PIL import Image  # optional dependency
            import io

            def _decode(b: bytes):
                try:
                    img = Image.open(io.BytesIO(b))
                    import numpy as np

                    arr = np.asarray(img, dtype="float32")
                    if arr.ndim == 2:
                        arr = arr[:, :, None]
                    h, w, c = arr.shape
                    return [float(v) for v in arr.reshape(-1)], [h, w, c]
                except Exception:
                    return _png_decode_py(b)

        except ImportError:

            def _decode(b: bytes):
                return _png_decode_py(b)

        for pdf in batches:
            ids, shapes, pixels = [], [], []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                res = _decode(bytes(b))
                ids.append(did)
                if res is None:
                    shapes.append(None)
                    pixels.append(None)
                else:
                    px, shape = res
                    shapes.append(shape)
                    pixels.append(px)
            yield pd.DataFrame(
                {"doc_id": ids, "shape": shapes, "pixels": pixels}
            )

    return df.select(id_col, payload_col).mapInPandas(
        decode, DECODE_PIXELS_SCHEMA
    )


# ---------------------------------------------------------------------------
# DuckDB oracle fragments — same constants, hex-string formulation
# ---------------------------------------------------------------------------


def synth_payload_sql() -> str:
    """DuckDB expression producing the identical payload BLOB from
    (doc_id, n_chars, text)."""
    be4 = "unhex(lpad(upper(to_hex({v})), 8, '0'))"
    w = be4.format(v="(n_chars % 640 + 1)")
    h = be4.format(v="(doc_id % 480 + 1)")
    return f"""
CASE doc_id % 4
  WHEN 0 THEN unhex('89504E470D0A1A0A0000000D49484452') || {w} || {h}
              || unhex('0806000000') || encode(text)
  WHEN 1 THEN unhex('FFD8FFE0') || encode(text)
  WHEN 2 THEN unhex('{_RIFF_HEX}0000000057415645') || encode(text)
  ELSE encode(text)
END
"""


def sniff_mime_sql(payload_expr: str = "payload") -> str:
    """DuckDB when-chain over upper(hex(payload)) mirroring sniff_mime."""
    h = f"upper(hex({payload_expr}))"
    branches = []
    for mime, (off, prefix) in MAGICS.items():
        cond = f"substr({h}, {(off - 1) * 2 + 1}, {len(prefix)}) = '{prefix}'"
        if mime == "audio/wav":
            cond += f" AND substr({h}, 1, 8) = '{_RIFF_HEX}'"
        branches.append(f"WHEN {cond} THEN '{mime}'")
    return (
        "CASE " + " ".join(branches) + " ELSE 'application/octet-stream' END"
    )


def png_dims_sql(payload_expr: str = "payload") -> tuple[str, str]:
    h = f"upper(hex({payload_expr}))"
    w = f"('0x' || substr({h}, {(PNG_WIDTH_OFFSET - 1) * 2 + 1}, 8))::BIGINT"
    ht = f"('0x' || substr({h}, {(PNG_HEIGHT_OFFSET - 1) * 2 + 1}, 8))::BIGINT"
    return w, ht


# ---------------------------------------------------------------------------
# perceptual hashing (dHash) over decoded pixels
# ---------------------------------------------------------------------------

DHASH_SIZE = 8  # 8x9 grayscale downsample -> 64 gradient bits


def dhash64(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """(id, dhash) — 64-bit difference hash (the classic perceptual
    image fingerprint: grayscale, downsample to 8 rows x 9 columns by
    nearest-neighbor, one bit per horizontal gradient) computed from
    :func:`decode_pixels` output.  The DECODE is the only Python
    (Arrow-batched mapInPandas); the grayscale reduction, sampling grid,
    and bit packing are pure JVM array expressions over the
    (shape, pixels) row — the same split the rest of the multimodal
    family uses.  Undecodable payloads yield NULL hashes (per-row
    failure tolerance, never job abort).

    dHash is translation-sensitive but robust to re-encoding, scaling,
    and small pixel noise — the image sibling of SimHash: near-duplicate
    images land within a few bits of Hamming distance.
    """
    n = DHASH_SIZE
    px = decode_pixels(df, payload_col, id_col)

    def gray(row_e: str, col_e: str) -> str:
        # channel-mean at original-image (row, col); pixels row-major
        return (
            f"(aggregate(sequence(0, s.ch - 1), CAST(0.0 AS DOUBLE),"
            f" (acc, k) -> acc + element_at(pixels,"
            f" CAST(((({row_e}) * s.w + ({col_e})) * s.ch) + k + 1 AS INT)))"
            f" / CAST(s.ch AS DOUBLE))"
        )

    # bit index i = r * n + c; nearest-neighbor sample grid over 8x9
    sr = f"((i DIV {n}) * s.h DIV {n})"
    sca = f"((i % {n}) * s.w DIV {n + 1})"
    scb = f"(((i % {n}) + 1) * s.w DIV {n + 1})"
    bit = f"CASE WHEN {gray(sr, sca)} > {gray(sr, scb)} THEN 1 ELSE 0 END"
    hash_expr = (
        f"aggregate(sequence(0, {n * n - 1}), CAST(0 AS BIGINT),"
        f" (hacc, i) -> hacc"
        f" + shiftleft(CAST({bit} AS BIGINT), CAST(i AS INT)))"
    )
    # bind the int dims once via a 1-element transform (the bind_once
    # trick: s.h/s.w/s.ch resolve inside the lambda, pixels from the row)
    full = (
        "element_at(transform(array(struct("
        "CAST(element_at(shape, 1) AS INT) AS h,"
        "CAST(element_at(shape, 2) AS INT) AS w,"
        "CAST(element_at(shape, 3) AS INT) AS ch)), s -> "
        + hash_expr
        + "), 1)"
    )
    return px.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("shape").isNotNull(), F.expr(full)).alias("dhash"),
    )


def dhash_pairs(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 6,
) -> DataFrame:
    """(id_a, id_b, hamming) image near-duplicate pairs: dHash
    fingerprints banded into EIGHT 8-bit bands, candidates from the
    band equi-join (any pair within Hamming <= 7 is GUARANTEED to agree
    on at least one band — pigeonhole over 8 bands), then exact popcount
    verify at ``max_hamming``.  The image twin of the SimHash banded
    text pipeline: never all-pairs, candidates only."""
    hashed = dhash64(df, payload_col, id_col).where(
        F.col("dhash").isNotNull()
    )
    bands = hashed.select(
        "id",
        "dhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 7), b -> struct(b AS band,"
                " CAST(shiftright(dhash, b * 8) & 255 AS INT) AS key))"
            )
        ).alias("bk"),
    ).select("id", "dhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.select(
        F.col("id").alias("id_a"), F.col("dhash").alias("h_a"), "band", "key"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("dhash").alias("h_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.expr("h_a ^ h_b")).cast("int")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) — storage-style dedup for binary payloads
# ---------------------------------------------------------------------------

#: CDC parameters: boundary test window (bytes) and modulus — a byte
#: position ends a chunk when the rolling fingerprint of the trailing
#: window is ≡ 0 (mod CDC_MOD), giving ~CDC_MOD-byte expected chunks.
CDC_WINDOW = 8
CDC_MOD = 64


def cdc_chunks_sql(payload_expr: str = "payload", id_expr: str = "doc_id") -> str:
    """DuckDB fragment producing the identical ``(id, chunk_hash,
    chunk_bytes)`` rows from a relation ``p`` exposing ``{payload_expr}``
    — the independent oracle of :func:`cdc_chunks_np`, written as list
    expressions over the hex string (same boundary taps, same md5 over
    the UPPERCASE-hex chunk, same whole-payload fallback)."""
    w, m = CDC_WINDOW, CDC_MOD
    tap = "(bt[i] * 131 + bt[i - 3] * 31 + bt[i - 7] * 7)"
    return f"""
hx AS (
  SELECT {id_expr} AS id, hex({payload_expr}) AS h,
         (length(hex({payload_expr})) / 2)::INT AS n
  FROM p
),
ba AS (
  SELECT id, h, n,
         list_transform(generate_series(1, n),
                        i -> ('0x' || substr(h, i * 2 - 1, 2))::INT) AS bt
  FROM hx
),
bd AS (
  SELECT id, h,
         CASE WHEN list_contains(rule, n) THEN rule
              ELSE list_append(rule, n) END AS b
  FROM (
    SELECT id, h, n,
           list_filter(generate_series({w}, n),
                       i -> {tap} % {m} = 0) AS rule
    FROM ba
  )
),
chunk AS (
  SELECT id,
         md5(substr(h, coalesce(b[j - 1], 0) * 2 + 1,
                    (b[j] - coalesce(b[j - 1], 0)) * 2)) AS chunk_hash,
         (b[j] - coalesce(b[j - 1], 0))::BIGINT AS chunk_bytes
  FROM bd, unnest(generate_series(1, len(b))) AS t(j)
)"""


def cdc_chunks_np(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Content-defined chunking over a binary column: split each payload
    at content-determined boundaries, returning one row per chunk ``(id,
    *keep_cols, chunk_hash, chunk_bytes)`` — ``keep_cols`` pass through
    the Python node untouched, so a consumer grouping chunks by a payload
    attribute (mime, source) never has to join back to the payloads.

    The storage-dedup classic (Muthitacharoen et al. 2001, LBFS): unlike
    fixed-size blocks, an insertion near the start of a payload shifts
    only the chunks it touches — identical trailing content still lands
    in identical chunks, so cross-document chunk dedup finds shared
    binary content that offset-based blocking misses.

    Boundary rule: 1-based byte position ``i >= CDC_WINDOW`` ends a chunk
    when three byte taps of the trailing window (``i``, ``i-3``, ``i-7``)
    mixed with fixed odd multipliers are ≡ 0 (mod ``CDC_MOD``) — an
    integer-only gear-hash stand-in that DuckDB replays bit-exactly
    (:func:`cdc_chunks_sql`).  The final byte is always a boundary, so
    chunks tile the payload exactly; payloads shorter than the window
    form one whole-payload chunk, and a NULL payload yields no rows.

    Runs per Arrow batch (guide §4.2) with NumPy byte taps; everything
    is integer arithmetic on byte values plus md5 over the exact
    UPPERCASE-hex chunk substring, so the rows are bit-identical to the
    DuckDB fragment (pytest pins this)."""
    import hashlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            ids, keeps, hashes, sizes = [], [[] for _ in keep_cols], [], []
            for row_i, payload in enumerate(pdf[payload_col]):
                if payload is None:
                    # NULL payload: no rows, as hex(NULL) gives the
                    # oracle no chunks (ADVICE r10 item 1)
                    continue
                b = bytes(payload)
                n = len(b)
                h = b.hex().upper()
                bts = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                if n >= CDC_WINDOW:
                    # 1-based boundary i in [CDC_WINDOW, n] where the
                    # three byte taps (i, i-3, i-7) hit 0 mod CDC_MOD
                    tap = (
                        bts[CDC_WINDOW - 1 :] * 131
                        + bts[CDC_WINDOW - 4 : n - 3] * 31
                        + bts[: n - CDC_WINDOW + 1] * 7
                    )
                    rule = np.flatnonzero(tap % CDC_MOD == 0) + CDC_WINDOW
                    bounds = (
                        rule
                        if len(rule) and rule[-1] == n
                        else np.concatenate([rule, [n]])
                    )
                else:
                    bounds = np.array([n])
                did = pdf["id"].iloc[row_i]
                prev = 0
                for e in bounds:
                    e = int(e)
                    ids.append(did)
                    for kc, col in zip(keeps, keep_cols):
                        kc.append(pdf[col].iloc[row_i])
                    hashes.append(
                        hashlib.md5(
                            h[prev * 2 : e * 2].encode()
                        ).hexdigest()
                    )
                    sizes.append(e - prev)
                    prev = e
            out = {"id": ids}
            for col, kc in zip(keep_cols, keeps):
                out[col] = kc
            out["chunk_hash"] = hashes
            out["chunk_bytes"] = sizes
            yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )
    from ..sources.catalog import widen_for_compute  # noqa: PLC0415

    return widen_for_compute(
        df.select(F.col(id_col).alias("id"), *keep_cols, payload_col)
    ).mapInPandas(
        run,
        f"id bigint{keep_schema}, chunk_hash string, chunk_bytes bigint",
    )


def byte_histogram_np(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-payload exact byte histogram ``(id, *keep_cols, n, b, c)``
    via one ``np.bincount`` per payload — the counts are the identical
    integers the explode->groupBy plan produced, but ≤256 rows per
    payload cross the boundary instead of one row per BYTE, and the
    per-byte ``conv(substring(hex))`` work disappears.  Float work
    (the nano-snapped c·ln(c/n) entropy terms) stays in the JVM."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            ids, keeps, ns, bs, cs = [], [[] for _ in keep_cols], [], [], []
            for row_i, payload in enumerate(pdf[payload_col]):
                if payload is None:
                    # NULL payload contributes no histogram rows (the
                    # JVM explode path's semantics); ADVICE r10 item 1
                    continue
                b = bytes(payload)
                hist = np.bincount(
                    np.frombuffer(b, dtype=np.uint8), minlength=0
                )
                nz = np.flatnonzero(hist)
                did = pdf[id_col].iloc[row_i]
                for v in nz:
                    ids.append(did)
                    for kc, col in zip(keeps, keep_cols):
                        kc.append(pdf[col].iloc[row_i])
                    ns.append(len(b))
                    bs.append(int(v))
                    cs.append(int(hist[v]))
            out = {id_col: ids}
            for col, kc in zip(keep_cols, keeps):
                out[col] = kc
            out["n"] = ns
            out["b"] = bs
            out["c"] = cs
            yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )
    from ..sources.catalog import widen_for_compute  # noqa: PLC0415

    return widen_for_compute(
        df.select(id_col, *keep_cols, payload_col)
    ).mapInPandas(
        run,
        f"{id_col} bigint{keep_schema}, n bigint, b bigint, c bigint",
    )
