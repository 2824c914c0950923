"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata (driver-mandated extension; BASELINE.json north star).

The reference has no media pipeline (SURVEY.md §1.1 — warehouse types only),
so this layer is designed Spark-first for a 100 TB training-data pipeline:

- media payloads are **opaque binary columns** + a typed metadata struct;
  Parquet stores them page-compressed and Spark never materializes a payload
  until a UDF touches the row (column pruning keeps metadata-only queries
  payload-free — verify with ``ReadSchema`` in ``.explain``);
- plan-level operators (frame sampling, audio chunking) are **pure JVM
  explode/sequence** — no Python in the hot path, whole-stage codegen'd;
- decode / feature-extraction crosses the Arrow boundary ONCE per batch via
  ``mapInPandas``; the pixel decode itself is a deterministic fake
  (``_fake_pixel_stats``) so the batch shape, schema, and partitioning are
  real and value-verified against the oracle.

Deploy-time decode hook: the ``_fake_pixel_stats(bytes(p))`` call inside
``image_feature_extract``'s ``extract`` is the one line a deployment replaces
with a real decoder (e.g. PIL) returning the same ``(mean, std)`` pair.

The pure-Python decoders below (``decode_bmp``/``decode_png``/
``decode_jpeg``/``decode_tiff`` behind ``_decode_image_real``, plus
``decode_wav``, ``parse_mp3`` and ``parse_mp4``) are reached by no
registered query; they are kept as a tested library surface.

The test corpus has no binary column, so the manifest derives one
deterministically from ``documents.text`` (UTF-8 encode) — at production
scale this is the column a crawler would have written.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query
from ..sources.tables import load_table

FPS = 4  # deterministic synthetic frame rate for the video plan
CHUNK_S = 10  # audio chunk length in seconds


def media_type(doc_id: Column) -> Column:
    """Deterministic modality assignment for the synthetic corpus."""
    return (
        F.when(doc_id % 3 == 0, "image")
        .when(doc_id % 3 == 1, "audio")
        .otherwise("video")
    )


def media_manifest_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest with the *payload*: binary column + typed metadata.

    ``payload`` is real binary (``encode(text)``); width/height/duration/
    n_frames are arithmetic on doc_id so every engine derives identical
    metadata. Partitioning note: at 100 TB you'd write this
    ``partitionBy(media_type)`` so modality-specific pipelines prune."""
    d = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    return d.select(
        doc_id,
        media_type(doc_id).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (F.lit(64) + (doc_id % 16) * 32).cast("int").alias("width"),
            (F.lit(64) + (doc_id % 12) * 32).cast("int").alias("height"),
            (F.lit(1) + doc_id % 60).cast("double").alias("duration_s"),
            ((F.lit(1) + doc_id % 60) * FPS).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


MANIFEST_ORACLE = """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS payload_md5,
  CAST(64 + (doc_id % 16) * 32 AS INT) AS width,
  CAST(64 + (doc_id % 12) * 32 AS INT) AS height,
  CAST(1 + doc_id % 60 AS DOUBLE) AS duration_s
FROM documents
"""


@query("media_manifest", oracle=MANIFEST_ORACLE, bench=True)
def media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest projection: payload stays binary internally; the oracle-facing
    row carries size + md5 (engines render raw bytes differently, hashes
    identically — Spark md5(binary) == DuckDB md5(utf8 text))."""
    m = media_manifest_df(spark, sf_dir)
    return m.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_s").alias("duration_s"),
    )


FRAME_ORACLE = f"""
SELECT doc_id,
  unnest(range(0, CAST((1 + doc_id % 60) * {FPS} AS BIGINT), {FPS})) AS frame_idx,
  CAST(unnest(range(0, CAST((1 + doc_id % 60) * {FPS} AS BIGINT), {FPS})) AS DOUBLE)
    / {FPS} AS frame_ts_s
FROM documents WHERE doc_id % 3 = 2
"""


@query("video_frame_sample_plan", oracle=FRAME_ORACLE)
def video_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling *plan*: one row per sampled frame (every FPS-th frame
    = 1 frame/sec), pure sequence+explode — the decode stub joins this plan
    to payload batches. Explode is narrow (no shuffle): each input row fans
    out inside its partition, so the plan scales with video count."""
    m = media_manifest_df(spark, sf_dir).where(F.col("media_type") == "video")
    idx = F.explode(
        F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(FPS))
    ).alias("frame_idx")
    return m.select("doc_id", idx).select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        (F.col("frame_idx").cast("double") / FPS).alias("frame_ts_s"),
    )


CHUNK_ORACLE = f"""
SELECT doc_id,
  unnest(range(0, CAST(ceil((1 + doc_id % 60) / {CHUNK_S}.0) AS BIGINT))) AS chunk_idx,
  CAST(unnest(range(0, CAST(ceil((1 + doc_id % 60) / {CHUNK_S}.0) AS BIGINT))) * {CHUNK_S} AS DOUBLE) AS chunk_start_s,
  LEAST(CAST(1 + doc_id % 60 AS DOUBLE),
        CAST((unnest(range(0, CAST(ceil((1 + doc_id % 60) / {CHUNK_S}.0) AS BIGINT))) + 1) * {CHUNK_S} AS DOUBLE)) AS chunk_end_s
FROM documents WHERE doc_id % 3 = 1
"""


@query("audio_chunk_plan", oracle=CHUNK_ORACLE)
def audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plan: fixed 10 s windows over each clip's duration,
    last chunk clamped to the clip end. Same narrow explode shape as the
    frame plan."""
    m = media_manifest_df(spark, sf_dir).where(F.col("media_type") == "audio")
    n_chunks = F.ceil(F.col("meta.duration_s") / CHUNK_S).cast("bigint")
    row = m.select(
        "doc_id",
        F.col("meta.duration_s").alias("duration_s"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("chunk_idx"),
    )
    return row.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * CHUNK_S).cast("double").alias("chunk_start_s"),
        F.least(
            F.col("duration_s"), ((F.col("chunk_idx") + 1) * CHUNK_S).cast("double")
        ).alias("chunk_end_s"),
    )


# --- decode / feature-extraction stubs (Arrow boundary) ----------------------


def decode_bmp(payload: bytes):
    """REAL image decode for uncompressed 24-bit BMP — pure numpy, no
    external codec. Parses the BITMAPFILEHEADER/BITMAPINFOHEADER, strips
    the 4-byte row padding, flips the bottom-up row order, and returns an
    (H, W, 3) uint8 array in RGB. Compressed formats (JPEG/PNG) stay
    behind the PIL gate in _decode_image_real — this covers the
    uncompressed interchange format end-to-end in-container."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 34:
        raise ValueError(
            f"BMP header truncated: {len(payload)} bytes, need >= 34"
        )
    data_off = struct.unpack_from("<I", payload, 10)[0]
    # biHeight is SIGNED: negative means top-down row order (legal BMP)
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP (got bpp={bpp}, "
                         f"compression={compression})")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"invalid BMP dimensions {width}x{height}")
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if data_off + row_bytes * height > len(payload):
        raise ValueError(
            f"BMP pixel data truncated: needs {row_bytes * height} bytes at "
            f"offset {data_off}, payload is {len(payload)}"
        )
    raw = np.frombuffer(payload, np.uint8, count=row_bytes * height,
                        offset=data_off)
    rows = raw.reshape(height, row_bytes)[:, : width * 3]
    img = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR→RGB
    if not top_down:
        img = img[::-1]  # bottom-up storage → flip to natural order
    return np.ascontiguousarray(img)


_PNG_ADAM7 = [  # (x_start, y_start, x_step, y_step) per pass
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_defilter(raw, height: int, rowbytes: int, bpp: int):
    """Reverse the per-row PNG filters (None/Sub/Up/Average/Paeth, spec
    §9) over ``height`` rows of ``rowbytes`` filtered bytes each.
    ``bpp`` is the filter's byte offset (max(1, bytes per pixel)).
    Returns an (height, rowbytes) uint8 array."""
    import numpy as np

    rows = raw.reshape(height, rowbytes + 1)
    out = np.zeros((height, rowbytes), np.uint8)
    prev = np.zeros(rowbytes, np.uint8)
    for y in range(height):
        ftype, row = int(rows[y, 0]), rows[y, 1:].copy()
        if ftype == 0:  # None
            recon = row
        elif ftype == 1:  # Sub: + left → modular cumsum along x per lane
            if rowbytes % bpp:
                row = np.concatenate(
                    [row, np.zeros(bpp - rowbytes % bpp, np.uint8)])
            recon = np.add.accumulate(
                row.reshape(-1, bpp), axis=0, dtype=np.uint8
            ).reshape(-1)[:rowbytes]
        elif ftype == 2:  # Up: + above (uint8 wrap is the spec's mod 256)
            recon = row + prev
        elif ftype in (3, 4):  # Average / Paeth: sequential along x.
            # The left-pixel recurrence forces a serial pass; plain Python
            # ints over list buffers run ~10× faster than per-element
            # numpy scalar indexing here (at deploy scale compressed decode
            # routes through a native codec anyway — this keeps the
            # pure-python path usable for real images, not just fixtures).
            r = row.tolist()
            p = prev.tolist()
            if ftype == 3:
                for i in range(rowbytes):
                    a = r[i - bpp] if i >= bpp else 0
                    r[i] = (r[i] + ((a + p[i]) >> 1)) & 0xFF
            else:
                for i in range(rowbytes):
                    a = r[i - bpp] if i >= bpp else 0
                    b = p[i]
                    c = p[i - bpp] if i >= bpp else 0
                    pa = abs(b - c)
                    pb = abs(a - c)
                    pc = abs(a + b - 2 * c)
                    pred = (a if pa <= pb and pa <= pc
                            else (b if pb <= pc else c))
                    r[i] = (r[i] + pred) & 0xFF
            recon = np.asarray(r, np.uint8)
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = recon
        prev = out[y]
    return out


def _png_rows_to_samples(rows, width: int, channels: int, depth: int):
    """Defiltered row bytes → (height, width, channels) uint16 samples
    (sub-byte depths unpack MSB-first; 16-bit is big-endian)."""
    import numpy as np

    height = rows.shape[0]
    if depth == 8:
        return rows[:, :width * channels].reshape(
            height, width, channels).astype(np.uint16)
    if depth == 16:
        flat = rows[:, :width * channels * 2].reshape(
            height, width * channels, 2).astype(np.uint16)
        return ((flat[..., 0] << 8) | flat[..., 1]).reshape(
            height, width, channels)
    bits = np.unpackbits(rows, axis=1)  # MSB-first, spec bit order
    idx = np.arange(width * channels)
    sel = bits[:, (idx[:, None] * depth + np.arange(depth)).reshape(-1)]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    samples = sel.reshape(height, width * channels, depth).astype(
        np.uint16) @ weights
    return samples.reshape(height, width, channels)


def decode_png(payload: bytes):
    """REAL image decode for PNG — stdlib zlib + numpy, no external
    codec. Walks the chunk stream (IHDR/PLTE/tRNS/IDAT/IEND), inflates
    the concatenated IDAT bodies with a bounded inflater, reverses the
    per-row filters (spec §9), and returns an (H, W, C) uint8 array.
    Full variant coverage: bit depths 1/2/4/8/16, all five color types
    (gray, RGB, palette — with tRNS expanding to RGBA — gray+alpha,
    RGBA), and Adam7 interlacing (seven independently filtered
    sub-images reassembled on the pass grid). Sub-byte gray samples
    scale to 8-bit per the spec (255/(2^d-1)); 16-bit samples take the
    high byte. Hostile payloads (IDAT bombs, truncated streams, absurd
    dimensions, missing PLTE) raise ValueError before any large
    allocation."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    plte = trns = None
    while pos + 8 <= len(payload):
        size, ctype = struct.unpack_from(">I4s", payload, pos)
        body = pos + 8
        if body + size > len(payload):
            raise ValueError(f"PNG chunk {ctype!r} overruns the payload")
        if ctype == b"IHDR":
            if size < 13:
                raise ValueError(f"PNG IHDR chunk truncated ({size} bytes)")
            ihdr = struct.unpack_from(">IIBBBBB", payload, body)
        elif ctype == b"PLTE":
            plte = payload[body:body + size]
        elif ctype == b"tRNS":
            trns = payload[body:body + size]
        elif ctype == b"IDAT":
            idat += payload[body:body + size]
        elif ctype == b"IEND":
            break
        pos = body + size + 4  # skip the CRC
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    legal_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                    4: (8, 16), 6: (8, 16)}
    if channels is None or comp != 0 or filt != 0 \
            or depth not in legal_depths[color_type]:
        raise ValueError(
            f"invalid PNG depth/color combination (depth={depth}, "
            f"color_type={color_type})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if width <= 0 or height <= 0 or width * height > _JPEG_MAX_PIXELS:
        raise ValueError(f"invalid PNG dimensions {width}x{height}")
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG is missing its PLTE chunk")

    if interlace == 0:
        passes = [(0, 0, 1, 1)]
    else:
        passes = _PNG_ADAM7
    dims = []
    expected = 0
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        rb = (pw * channels * depth + 7) // 8
        dims.append((pw, ph, rb))
        if pw and ph:
            expected += ph * (rb + 1)
    # bounded inflate: a crafted IDAT can expand a few KB into tens of
    # GB, so never materialize more than the dimensions declare (+1 byte
    # to detect overflow) — the bomb fails HERE, not in an executor OOM
    inflater = zlib.decompressobj()
    try:
        inflated = inflater.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT stream is not valid zlib: {exc}") from exc
    if len(inflated) > expected or inflater.unconsumed_tail:
        raise ValueError(
            f"PNG pixel stream inflates past the {expected} bytes its "
            f"declared {width}x{height}x{channels} dimensions allow"
        )
    raw = np.frombuffer(inflated, np.uint8)
    if raw.size != expected:
        raise ValueError(
            f"PNG pixel stream is {raw.size} bytes, expected {expected}"
        )

    bpp = max(1, channels * depth // 8)
    grid = np.zeros((height, width, channels), np.uint16)
    at = 0
    for (x0, y0, dx, dy), (pw, ph, rb) in zip(passes, dims):
        if not pw or not ph:
            continue
        rows = _png_defilter(raw[at:at + ph * (rb + 1)], ph, rb, bpp)
        at += ph * (rb + 1)
        grid[y0::dy, x0::dx] = _png_rows_to_samples(rows, pw, channels,
                                                    depth)

    if color_type == 3:  # palette lookup (+ tRNS alpha → RGBA)
        pal = np.frombuffer(plte, np.uint8)
        pal = pal[: len(pal) - len(pal) % 3].reshape(-1, 3)
        idx = grid[..., 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of PLTE range")
        rgb = pal[idx]
        if trns is None:
            return np.ascontiguousarray(rgb)
        alpha = np.full(len(pal), 255, np.uint8)
        alpha[: min(len(trns), len(pal))] = np.frombuffer(
            trns[: len(pal)], np.uint8)
        return np.ascontiguousarray(np.dstack([rgb, alpha[idx]]))
    if depth == 16:
        return np.ascontiguousarray((grid >> 8).astype(np.uint8))
    if depth < 8:  # sub-byte gray: linear expansion per the spec
        scale = 255 // ((1 << depth) - 1)
        return np.ascontiguousarray((grid * scale).astype(np.uint8))
    return np.ascontiguousarray(grid.astype(np.uint8))


def _tiff_lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF-variant LZW (spec §13): MSB-first code packing, Clear=256,
    EOI=257, 9→12-bit codes with the EARLY size change (the code width
    grows one code before the table fills — TIFF's historical quirk).
    Output is capped at ``max_out`` so a crafted strip cannot balloon."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    prev = b""
    acc = accbits = pos = 0
    code_size = 9

    def read_code() -> int:
        nonlocal acc, accbits, pos
        while accbits < code_size:
            if pos >= len(data):
                raise ValueError("TIFF LZW stream truncated")
            acc = (acc << 8) | data[pos]
            pos += 1
            accbits += 8
        accbits -= code_size
        code = (acc >> accbits) & ((1 << code_size) - 1)
        acc &= (1 << accbits) - 1
        return code

    started = False
    while True:
        code = read_code()
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            code_size = 9
            code = read_code()
            if code == EOI:
                break
            if code >= 256:
                raise ValueError("TIFF LZW: invalid code after Clear")
            prev = table[code]
            out += prev
            started = True
        else:
            if not started:
                raise ValueError("TIFF LZW stream must start with Clear")
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError("TIFF LZW code out of range")
            out += entry
            table.append(prev + entry[:1])
            prev = entry
        if len(out) > max_out:
            raise ValueError(
                f"TIFF LZW strip inflates past its declared {max_out} bytes"
            )
        # early change: width grows when the NEXT append would hit 2^size
        if len(table) >= (1 << code_size) - 1 and code_size < 12:
            code_size += 1
    return bytes(out)


def _tiff_packbits_decode(data: bytes, max_out: int) -> bytes:
    """Apple PackBits RLE (TIFF spec §9): n in 0..127 copies n+1
    literals, n in -127..-1 repeats the next byte 1-n times, -128 is a
    no-op. Output capped at ``max_out``."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < max_out:
        n = data[i] - 256 if data[i] >= 128 else data[i]
        i += 1
        if n >= 0:
            if i + n + 1 > len(data):
                raise ValueError("TIFF PackBits literal run truncated")
            out += data[i:i + n + 1]
            i += n + 1
        elif n != -128:
            if i >= len(data):
                raise ValueError("TIFF PackBits repeat run truncated")
            out += bytes([data[i]]) * (1 - n)
            i += 1
    if len(out) > max_out:
        raise ValueError(
            f"TIFF PackBits strip inflates past its declared {max_out} bytes"
        )
    return bytes(out)


def _tiff_inflate(data: bytes, max_out: int) -> bytes:
    """Deflate-in-TIFF (codes 8 / 32946): bounded zlib inflate — a bomb
    fails HERE, not in an executor OOM (same contract as decode_png)."""
    import zlib

    inflater = zlib.decompressobj()
    try:
        out = inflater.decompress(data, max_out + 1)
    except zlib.error as exc:
        raise ValueError(f"TIFF deflate strip is not valid zlib: {exc}") \
            from exc
    if len(out) > max_out or inflater.unconsumed_tail:
        raise ValueError(
            f"TIFF deflate strip inflates past its declared {max_out} bytes"
        )
    return out


def _jpeg_sof_dims(stream: bytes):
    """(height, width) from a JPEG stream's SOF0/SOF2 header — a cheap
    marker walk so JPEG-in-TIFF can refuse a strip whose declared frame
    exceeds its slot BEFORE decode_jpeg spends the IDCT work (a tiny
    container must not amplify into an arbitrarily large decode)."""
    import struct

    pos = 2
    while pos + 4 <= len(stream):
        if stream[pos] != 0xFF:
            raise ValueError("TIFF JPEG strip: marker expected")
        marker = stream[pos + 1]
        # mirror decode_jpeg's walk exactly: any stream it accepts must
        # pass this pre-check too (T.81 B.1.1.2 fill bytes, standalone
        # TEM/RSTn markers)
        if marker == 0xFF:  # fill byte before a marker
            pos += 1
            continue
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone TEM/RSTn
            pos += 2
            continue
        if marker in (0xC0, 0xC2):  # SOF0 / SOF2
            if pos + 9 > len(stream):
                break
            h, w = struct.unpack_from(">HH", stream, pos + 5)
            return h, w
        if marker == 0xD8:  # nested SOI (spliced tables)
            pos += 2
            continue
        if marker == 0xDA:  # SOS before any SOF: malformed
            break
        ln = struct.unpack_from(">H", stream, pos + 2)[0]
        pos += 2 + ln
    raise ValueError("TIFF JPEG strip has no SOF0/SOF2 frame header")


def decode_tiff(payload: bytes):
    """REAL image decode for baseline TIFF — pure stdlib struct/zlib +
    numpy. Both byte orders (II/MM), 8-bit grayscale/RGB/RGBA, chunky
    layout, multi-strip; compression none/LZW/Deflate/PackBits (1, 5,
    8/32946, 32773 — pinned bit-exact against libtiff-written files in
    tests/test_multimodal.py) with the horizontal-differencing predictor
    (tag 317 = 2). New-style JPEG-in-TIFF (compression 7, TechNote 2) is
    decoded by delegating each strip — spliced with tag-347 JPEGTables
    when the strips are abbreviated — to the in-repo decode_jpeg, and is
    pinned differentially against direct decode_jpeg of the identical
    streams in tests/test_multimodal.py. Returns (H, W, C) uint8 with
    C=1/3/4. Old-style JPEG (compression 6), planar layout, tiled
    layout, palette, and >8-bit samples are rejected with a clear error;
    hostile payloads (bad offsets, dimension bombs, truncated or
    ballooning strips) raise ValueError before any large allocation."""
    import struct

    import numpy as np

    if payload[:4] == b"II*\x00":
        endian = "<"
    elif payload[:4] == b"MM\x00*":
        endian = ">"
    else:
        raise ValueError("not a TIFF payload")
    if len(payload) < 8:
        raise ValueError("TIFF header truncated")
    ifd_off = struct.unpack_from(endian + "I", payload, 4)[0]
    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF IFD offset overruns the payload")
    n = struct.unpack_from(endian + "H", payload, ifd_off)[0]
    if ifd_off + 2 + 12 * n > len(payload):
        raise ValueError("TIFF IFD truncated")
    type_size = {1: 1, 3: 2, 4: 4}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    tags: dict[int, list] = {}
    jpeg_tables_raw = None
    jpeg_tables_oversize = None
    for i in range(n):
        at = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(endian + "HHI", payload, at)
        if typ == 7:
            # type 7 = UNDEFINED (raw bytes). ONLY tag 347 JPEGTables is
            # consumed; every other UNDEFINED tag (ICC profile, XMP,
            # Photoshop blobs) is skipped exactly as before — decodable
            # files with truncated ancillary blobs must stay decodable,
            # and a megabyte ICC profile must not be unpacked per byte
            if tag != 347 or cnt == 0:
                continue
            if cnt > 1 << 20:
                # a plausible JPEGTables blob is a few hundred bytes; a
                # multi-MB one is hostile or corrupt. Remember the count
                # and fail with a CLEAR diagnostic iff this file is
                # comp-7 (comp is parsed after the tag loop) — silently
                # treating it as absent would send abbreviated strips
                # into decode_jpeg to die with a misleading Huffman error
                jpeg_tables_oversize = cnt
                continue
            off = (at + 8 if cnt <= 4
                   else struct.unpack_from(endian + "I", payload, at + 8)[0])
            if off + cnt > len(payload):
                raise ValueError("TIFF tag 347 data overruns the payload")
            jpeg_tables_raw = bytes(payload[off:off + cnt])
            continue
        sz = type_size.get(typ)
        if sz is None or cnt == 0 or cnt > 1 << 20:
            continue  # RATIONAL/ASCII/absurd-count tags: not needed here
        total = sz * cnt
        off = (at + 8 if total <= 4
               else struct.unpack_from(endian + "I", payload, at + 8)[0])
        if off + total > len(payload):
            raise ValueError(f"TIFF tag {tag} data overruns the payload")
        tags[tag] = list(
            struct.unpack_from(endian + type_fmt[typ] * cnt, payload, off)
        )

    def first(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    width, height = first(256), first(257)
    if not width or not height:
        raise ValueError("TIFF missing ImageWidth/ImageLength")
    # same 64 Mpx bomb cap as JPEG/PNG/BMP
    if width * height > _JPEG_MAX_PIXELS:
        raise ValueError(f"TIFF dimensions {width}x{height} out of bounds")
    comp = first(259, 1)
    if comp not in (1, 5, 8, 32946, 32773, 7):
        raise ValueError(
            f"unsupported TIFF compression {comp} (none/LZW/Deflate/"
            f"PackBits/JPEG decode natively)"
        )
    predictor = first(317, 1)
    if predictor not in (1, 2) or (comp == 7 and predictor != 1):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    spp = first(277, 1)
    if spp not in (1, 3, 4) or (comp == 7 and spp == 4):
        raise ValueError(f"unsupported TIFF samples-per-pixel {spp}")
    bps = tags.get(258, [8] * spp)
    if any(b != 8 for b in bps):
        raise ValueError(f"only 8-bit TIFF samples (got {bps})")
    photo = first(262)
    # BlackIsZero gray / RGB; new-style JPEG strips (comp 7) must be
    # gray (1) or YCbCr (6) — decode_jpeg emits RGB from YCbCr. RGB-coded
    # JPEG strips (photometric 2 + comp 7, legal per TechNote 2) are
    # REJECTED rather than run through the decoder's unconditional
    # YCbCr→RGB rotation, which would silently corrupt their colors —
    # decode exactly or refuse, never decode wrong
    if photo not in ((1, 6) if comp == 7 else (1, 2)):
        raise ValueError(f"only grayscale/RGB TIFF (photometric={photo})")
    # tag 347 JPEGTables (TechNote 2 "abbreviated streams"): a
    # SOI..tables..EOI stream whose DQT/DHT apply to every strip
    if comp == 7 and jpeg_tables_oversize is not None:
        raise ValueError(
            f"TIFF JPEGTables too large ({jpeg_tables_oversize} bytes)"
        )
    jpeg_tables = jpeg_tables_raw if comp == 7 else None
    if jpeg_tables is not None and not (
        len(jpeg_tables) >= 4
        and jpeg_tables[:2] == b"\xff\xd8"
        and jpeg_tables[-2:] == b"\xff\xd9"
    ):
        raise ValueError("TIFF JPEGTables is not an SOI..EOI stream")
    if first(284, 1) != 1:
        raise ValueError("only chunky (PlanarConfiguration=1) TIFF")
    if 322 in tags or 324 in tags:
        raise ValueError("tiled TIFF layout is not supported")
    offs, counts = tags.get(273), tags.get(279)
    if not offs or not counts or len(offs) != len(counts):
        raise ValueError("TIFF missing/mismatched strip offsets")
    rows_per_strip = first(278, height) or height
    stride = width * spp
    data = bytearray()
    need = stride * height
    for i, (o, c) in enumerate(zip(offs, counts)):
        if o + c > len(payload):
            raise ValueError("TIFF strip overruns the payload")
        n_rows = min(rows_per_strip, height - i * rows_per_strip)
        if n_rows <= 0:
            break
        expected = n_rows * stride
        raw = payload[o:o + c]
        if comp == 1:
            chunk = raw[:expected]
        elif comp == 5:
            chunk = _tiff_lzw_decode(raw, expected)
        elif comp == 32773:
            chunk = _tiff_packbits_decode(raw, expected)
        elif comp == 7:
            # new-style JPEG-in-TIFF: each strip is a standalone JPEG
            # stream, optionally abbreviated (tables live in tag 347);
            # splice tables-EOI + strip-SOI into one full stream and
            # delegate to the in-repo baseline/progressive decoder, which
            # enforces its own truncation/bomb caps
            if raw[:2] != b"\xff\xd8":
                raise ValueError(f"TIFF JPEG strip {i} missing SOI")
            full = jpeg_tables[:-2] + raw[2:] if jpeg_tables else raw
            # bound the DECLARED frame to its slot (± MCU padding: vmax≤2
            # → up to 15 pad rows) BEFORE decoding: otherwise a 64-pixel
            # container pointing every strip at one 64 Mpx JPEG amplifies
            # a few-hundred-KB payload into 2^20 × 64 Mpx of IDCT work
            sof_h, sof_w = _jpeg_sof_dims(full)
            if sof_w != width or not n_rows <= sof_h <= n_rows + 15:
                raise ValueError(
                    f"TIFF JPEG strip {i} declares {sof_h}x{sof_w}, "
                    f"expected {n_rows}(+pad)x{width}"
                )
            strip_img = decode_jpeg(full)
            if (strip_img.shape[1] != width
                    or strip_img.shape[0] < n_rows
                    or strip_img.shape[2] != spp):
                raise ValueError(
                    f"TIFF JPEG strip {i} decodes to "
                    f"{strip_img.shape}, expected >= ({n_rows}, {width}, "
                    f"{spp})"
                )
            chunk = strip_img[:n_rows].tobytes()
        else:  # 8 / 32946: zip-in-TIFF (Adobe + legacy code points)
            chunk = _tiff_inflate(raw, expected)
        if len(chunk) < expected:
            raise ValueError(
                f"TIFF strip {i} decodes to {len(chunk)} bytes, "
                f"expected {expected}"
            )
        data += chunk[:expected]
        if len(data) >= need:
            break
    if len(data) < need:
        raise ValueError(f"TIFF pixel data truncated: {len(data)} < {need}")
    img = np.frombuffer(bytes(data[:need]), np.uint8).reshape(
        height, width, spp)
    if predictor == 2:  # horizontal differencing: rows are per-channel
        # deltas off the left neighbor; invert with a wrapping cumsum
        img = np.add.accumulate(img, axis=1, dtype=np.uint8)
    return np.ascontiguousarray(img)


# IMA ADPCM tables (IMA Recommended Practices / WAV fmt 0x11)
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]


def _g711_ulaw_to_int16(u):
    """Exact G.711 µ-law expansion (the audioop/ITU table formula)."""
    import numpy as np

    u = (~u.astype(np.int64)) & 0xFF
    sign = u & 0x80
    mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    return np.where(sign != 0, -mag, mag).astype(np.int16)


def _g711_alaw_to_int16(a):
    """Exact G.711 A-law expansion."""
    import numpy as np

    a = a.astype(np.int64) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    # A-law: a SET sign bit means positive (the inverse of µ-law)
    return np.where(sign != 0, mag, -mag).astype(np.int16)


def _ima_adpcm_blocks(data: bytes, n_ch: int, block_align: int,
                      spb: int):
    """IMA ADPCM (WAV fmt 0x11) block decode: per-channel 4-byte header
    (seed sample + step index), then channel-interleaved 4-byte nibble
    groups, LOW nibble first. Exact integer recurrence per the IMA
    tables above."""
    import struct

    import numpy as np

    out: list[list[int]] = [[] for _ in range(n_ch)]
    for at in range(0, len(data) - block_align + 1, block_align):
        preds, idxs = [], []
        for c in range(n_ch):
            p, i, _ = struct.unpack_from("<hBB", data, at + 4 * c)
            if i > 88:
                raise ValueError(f"IMA ADPCM step index {i} out of range")
            preds.append(p)
            idxs.append(i)
            out[c].append(p)  # header seed IS the block's first sample
        body = data[at + 4 * n_ch: at + block_align]
        # channel-interleaved 4-byte groups → per-channel nibble streams
        groups = np.frombuffer(body, np.uint8).reshape(-1, n_ch, 4)
        for c in range(n_ch):
            stream = groups[:, c, :].reshape(-1)
            nibs = np.empty(stream.size * 2, np.uint8)
            nibs[0::2] = stream & 0x0F  # low nibble = earlier sample
            nibs[1::2] = stream >> 4
            pred, idx = preds[c], idxs[c]
            sink = out[c]
            for n in nibs[: spb - 1]:
                step = _IMA_STEPS[idx]
                diff = step >> 3
                if n & 1:
                    diff += step >> 2
                if n & 2:
                    diff += step >> 1
                if n & 4:
                    diff += step
                pred = pred - diff if n & 8 else pred + diff
                pred = -32768 if pred < -32768 else (
                    32767 if pred > 32767 else pred)
                sink.append(pred)
                idx += _IMA_INDEX[n & 7]
                idx = 0 if idx < 0 else (88 if idx > 88 else idx)
    n = min(len(ch) for ch in out)
    arr = np.empty((n, n_ch), np.int16)
    for c in range(n_ch):
        arr[:, c] = out[c][:n]
    return arr


def decode_wav(payload: bytes):
    """REAL audio decode for WAV — pure numpy RIFF parsing. Returns
    (sample_rate, n_channels, samples) with samples shaped (n_frames,
    n_channels) as int16. Formats: PCM 8/16/24/32-bit (fmt 1), IEEE
    float32 (fmt 3), G.711 A-law/µ-law (fmt 6/7 — exact ITU expansion,
    pinned against audioop), and IMA ADPCM (fmt 0x11, block decode with
    the exact integer recurrence). Wider samples fold to int16 by
    keeping the top 16 bits; floats clip-scale. Perceptual codecs
    (MP3/AAC) remain gated on an external decoder for SAMPLE access;
    ``parse_mp3`` extracts MP3 duration/bitrate metadata in-container
    without decoding."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, n_ch, bits, data = 12, None, None, None, None
    fmt = block_align = spb = None
    while pos + 8 <= len(payload):
        chunk_id, size = payload[pos:pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = pos + 8
        if chunk_id == b"fmt ":
            if size < 16 or body + 16 > len(payload):
                raise ValueError(
                    f"WAV fmt chunk truncated ({size} declared bytes, "
                    f"{len(payload) - body} remain)"
                )
            fmt, n_ch, rate = struct.unpack_from("<HHI", payload, body)
            block_align = struct.unpack_from("<H", payload, body + 12)[0]
            bits = struct.unpack_from("<H", payload, body + 14)[0]
            legal = {1: (8, 16, 24, 32), 3: (32,), 6: (8,), 7: (8,),
                     17: (4,)}
            if fmt not in legal or bits not in legal[fmt]:
                raise ValueError(
                    f"unsupported WAV format (fmt={fmt}, bits={bits}); "
                    f"PCM/float/G.711/IMA-ADPCM decode natively"
                )
            if n_ch < 1:
                raise ValueError(f"invalid WAV channel count {n_ch}")
            if fmt == 17:
                if size < 20 or body + 20 > len(payload):
                    raise ValueError("IMA ADPCM fmt extension missing")
                spb = struct.unpack_from("<H", payload, body + 18)[0]
                min_align = 4 * n_ch + ((spb - 1 + 1) // 2) * n_ch
                if spb < 1 or block_align < 4 * n_ch \
                        or block_align < min_align:
                    raise ValueError(
                        f"IMA ADPCM block geometry invalid (align="
                        f"{block_align}, samples_per_block={spb})"
                    )
        elif chunk_id == b"data":
            if body + size > len(payload):
                raise ValueError(
                    f"WAV data chunk declares {size} bytes but only "
                    f"{len(payload) - body} remain in the payload"
                )
            data = payload[body:body + size]
        pos = body + size + (size & 1)  # chunks pad to even offsets
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if fmt == 17:
        samples = _ima_adpcm_blocks(data, n_ch, block_align, spb)
        return rate, n_ch, samples
    width = bits // 8
    frame = width * n_ch
    if len(data) % frame:
        raise ValueError(
            f"WAV data chunk truncated mid-frame: {len(data)} bytes is not "
            f"a multiple of the {frame}-byte frame ({n_ch} ch × "
            f"{bits}-bit)"
        )
    if fmt == 6:
        flat = _g711_alaw_to_int16(np.frombuffer(data, np.uint8))
    elif fmt == 7:
        flat = _g711_ulaw_to_int16(np.frombuffer(data, np.uint8))
    elif fmt == 3:
        f32 = np.frombuffer(data, "<f4")
        flat = (np.clip(f32, -1.0, 1.0) * 32767.0).astype(np.int16)
    elif bits == 8:
        flat = ((np.frombuffer(data, np.uint8).astype(np.int16) - 128)
                << 8)
    elif bits == 16:
        flat = np.frombuffer(data, "<i2")
    elif bits == 24:
        raw = np.frombuffer(data, np.uint8).reshape(-1, 3)
        flat = ((raw[:, 2].astype(np.int32) << 24
                 | raw[:, 1].astype(np.int32) << 16
                 | raw[:, 0].astype(np.int32) << 8) >> 16).astype(np.int16)
    else:  # 32-bit PCM
        flat = (np.frombuffer(data, "<i4") >> 16).astype(np.int16)
    samples = flat.reshape(-1, n_ch)
    return rate, n_ch, samples


_MP3_BITRATES_V1L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                      160, 192, 224, 256, 320]
_MP3_BITRATES_V2L3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
                      96, 112, 128, 144, 160]
_MP3_RATES_V1 = [44100, 48000, 32000]


def parse_mp3(payload: bytes) -> dict:
    """MP3 (MPEG-1/2/2.5 Layer III) FRAME-HEADER parse — duration,
    sample rate, channel count, frame count, and average bitrate WITHOUT
    decoding any audio (the metadata `audio_chunk_plan` windows on).
    Walks every frame header (each is 4 bytes + a size formula), so VBR
    streams get an exact duration, not a first-frame estimate. Skips a
    leading ID3v2 tag and a trailing ID3v1 'TAG' block; a truncated final
    frame is tolerated (not counted). Free-format bitrate, Layer I/II,
    and sync garbage raise ValueError (the hardened decoder contract:
    parse or ValueError, nothing else)."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        # ID3v2: 4 syncsafe size bytes after version+flags
        size = 0
        for b in payload[6:10]:
            if b & 0x80:
                raise ValueError("malformed ID3v2 syncsafe size")
            size = (size << 7) | b
        pos = 10 + size
    n_frames = 0
    total_samples = 0
    kbps_sum = 0
    rate = channels = None
    while pos + 4 <= len(payload):
        if payload[pos:pos + 3] == b"TAG":  # ID3v1 footer
            break
        h = int.from_bytes(payload[pos:pos + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            if n_frames:
                break  # trailing junk after the last full frame
            raise ValueError("not an MP3 payload (no frame sync)")
        version = (h >> 19) & 0x3   # 0=V2.5, 2=V2, 3=V1 (1 reserved)
        layer = (h >> 17) & 0x3     # 1=Layer III
        if version == 1:
            raise ValueError("reserved MPEG version in MP3 frame header")
        if layer != 1:
            raise ValueError(
                f"only Layer III supported (layer bits {layer})")
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 0x3
        pad = (h >> 9) & 0x1
        mode = (h >> 6) & 0x3
        if br_idx in (0, 15):
            raise ValueError("free-format/invalid MP3 bitrate")
        if sr_idx == 3:
            raise ValueError("reserved MP3 sample-rate index")
        if version == 3:  # MPEG-1
            kbps = _MP3_BITRATES_V1L3[br_idx]
            sr = _MP3_RATES_V1[sr_idx]
            spf = 1152
        else:  # MPEG-2 (v==2) halves, MPEG-2.5 (v==0) quarters the rate
            kbps = _MP3_BITRATES_V2L3[br_idx]
            sr = _MP3_RATES_V1[sr_idx] // (2 if version == 2 else 4)
            spf = 576
        if rate is None:
            rate, channels = sr, (1 if mode == 3 else 2)
        elif sr != rate:
            raise ValueError("MP3 sample rate changes mid-stream")
        frame_len = spf // 8 * kbps * 1000 // sr + pad
        if frame_len < 4:
            raise ValueError("MP3 frame length underflow")
        if pos + frame_len > len(payload):
            break  # truncated final frame: not counted
        n_frames += 1
        total_samples += spf
        kbps_sum += kbps
        pos += frame_len
    if not n_frames:
        raise ValueError("MP3 payload holds no complete frame")
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_frames": n_frames,
        "duration_s": total_samples / rate,
        "avg_bitrate_kbps": kbps_sum / n_frames,
    }


def parse_mp4(payload: bytes) -> dict:
    """MP4/M4A (ISO BMFF) BOX-header parse — container duration, track
    count, per-track handler types, and the first video track's coded
    dimensions WITHOUT decoding any media (the metadata
    `video_frame_sample_plan` / `audio_chunk_plan` window on). Walks the
    box tree (moov → mvhd / trak → tkhd + mdia.hdlr), handles 64-bit
    largesize boxes and version-1 mvhd/tkhd. Parse or ValueError,
    nothing else (the hardened decoder contract); streams with the moov
    after a huge mdat parse fine — only headers are touched."""
    if len(payload) < 8 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF (MP4/M4A) payload (missing ftyp)")

    def boxes(buf, pos, end):
        """Yield (type, body_start, body_end) for sibling boxes."""
        while pos + 8 <= end:
            size = int.from_bytes(buf[pos:pos + 4], "big")
            btype = buf[pos + 4:pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    raise ValueError("MP4 largesize box header truncated")
                size = int.from_bytes(buf[pos + 8:pos + 16], "big")
                body = pos + 16
            elif size == 0:  # box extends to end of enclosing scope
                size = end - pos
            if size < body - pos or pos + size > end:
                raise ValueError(
                    f"MP4 box {btype!r} overruns its container")
            yield btype, body, pos + size
            pos += size

    duration_s = None
    tracks = []
    video_wh = None
    for btype, body, bend in boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, cbody, cend in boxes(payload, body, bend):
            if ctype == b"mvhd":
                if cbody + 4 > cend:
                    raise ValueError("MP4 mvhd truncated")
                ver = payload[cbody]
                if ver == 1:
                    if cbody + 32 > cend:
                        raise ValueError("MP4 mvhd v1 truncated")
                    scale = int.from_bytes(payload[cbody + 20:cbody + 24], "big")
                    dur = int.from_bytes(payload[cbody + 24:cbody + 32], "big")
                else:
                    if cbody + 20 > cend:
                        raise ValueError("MP4 mvhd v0 truncated")
                    scale = int.from_bytes(payload[cbody + 12:cbody + 16], "big")
                    dur = int.from_bytes(payload[cbody + 16:cbody + 20], "big")
                if not scale:
                    raise ValueError("MP4 mvhd timescale is zero")
                duration_s = dur / scale
            elif ctype == b"trak":
                handler = None
                wh = None
                for t, tb, te in boxes(payload, cbody, cend):
                    if t == b"tkhd" and te - tb >= 4:
                        ver = payload[tb]
                        # width/height: last 8 bytes, 16.16 fixed point
                        if te - tb >= (96 if ver == 1 else 84):
                            at = te - 8
                            w = int.from_bytes(payload[at:at + 4], "big") >> 16
                            h = int.from_bytes(payload[at + 4:at + 8], "big") >> 16
                            if w and h:
                                wh = (w, h)
                    elif t == b"mdia":
                        for m, mb, me in boxes(payload, tb, te):
                            if m == b"hdlr" and me - mb >= 12:
                                handler = payload[mb + 8:mb + 12].decode(
                                    "ascii", "replace")
                tracks.append(handler or "unkn")
                if handler == "vide" and wh and video_wh is None:
                    video_wh = wh
    if duration_s is None:
        raise ValueError("MP4 payload has no moov/mvhd (no duration)")
    return {
        "duration_s": duration_s,
        "n_tracks": len(tracks),
        "track_handlers": tracks,
        "video_width": video_wh[0] if video_wh else None,
        "video_height": video_wh[1] if video_wh else None,
    }


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_JPEG_MAX_PIXELS = 1 << 26  # 64 Mpx cap: a crafted SOF0 must not OOM an
# executor. Shared by the numpy-vectorized legs (JPEG/PNG/BMP/TIFF)


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment: un-stuffs
    0xFF00, surfaces RSTn markers (resync points), stops at any other
    marker. All underruns raise ValueError (truncated payload)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf, self.pos = buf, pos
        self.bits, self.nbits = 0, 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise ValueError("JPEG entropy stream truncated at a marker")
        if self.pos >= len(self.buf):
            raise ValueError("JPEG entropy stream truncated")
        b = self.buf[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.buf):
                raise ValueError("JPEG entropy stream ends inside a marker")
            nxt = self.buf[self.pos]
            if nxt == 0x00:
                self.pos += 1  # byte-stuffed literal 0xFF
            else:
                # runs of 0xFF are spec-legal FILL bytes before a marker
                # (ITU T.81 B.1.1.2): skip to the first non-0xFF byte,
                # which is the marker code (a trailing 0x00 means the
                # last 0xFF was a stuffed literal after fill padding)
                while nxt == 0xFF:
                    self.pos += 1
                    if self.pos >= len(self.buf):
                        raise ValueError(
                            "JPEG entropy stream ends inside a marker")
                    nxt = self.buf[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed literal 0xFF after fill bytes
                else:
                    self.marker = nxt
                    self.pos += 1
                    raise ValueError(
                        "JPEG entropy stream truncated at a marker")
        self.bits = (self.bits << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_to_rst(self, expect: int) -> None:
        """Byte-align and consume the next RSTn marker (restart interval)."""
        self.bits, self.nbits = 0, 0
        if self.marker is None:
            while self.pos + 1 < len(self.buf):
                if (self.buf[self.pos] == 0xFF
                        and self.buf[self.pos + 1]
                        not in (0x00, 0xFF)):  # 0xFF = fill byte, skip
                    self.marker = self.buf[self.pos + 1]
                    self.pos += 2
                    break
                self.pos += 1
        if self.marker != 0xD0 + expect:
            raise ValueError(
                f"JPEG restart marker RST{expect} missing (got "
                f"{self.marker:#x})" if self.marker is not None
                else f"JPEG restart marker RST{expect} missing"
            )
        self.marker = None


def _jpeg_huff_decode(reader: _JpegBitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code (corrupt entropy stream)")


def _jpeg_extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def decode_jpeg(payload: bytes):
    """REAL image decode for BASELINE (SOF0) and PROGRESSIVE (SOF2)
    huffman JPEG (ITU T.81, 8-bit) — pure numpy, no external codec.
    Parses DQT/DHT/SOF/DRI/SOS, huffman-decodes the entropy stream (byte
    un-stuffing + RSTn restart intervals), dequantizes, inverse-zigzags,
    applies an exact float64 2-D IDCT per 8×8 block, box-upsamples
    subsampled chroma (4:2:0 / 4:2:2 / 4:4:4), converts JFIF YCbCr→RGB,
    and returns an (H, W, 3) — or (H, W, 1) grayscale — uint8 array.
    Progressive scans (Annex G: spectral selection, successive
    approximation, DC/AC first+refine, EOB runs) accumulate into
    per-component coefficient planes and assemble once at EOI.
    Arithmetic-coded, hierarchical, lossless, and >8-bit JPEGs are
    rejected with a clear error. Hostile payloads (truncated segments,
    dimension bombs, invalid huffman codes) raise ValueError before any
    large allocation."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> {(len, code): sym}
    frame = None  # (H, W, [(comp_id, h, v, tq), ...])
    restart_interval = 0
    progressive = False
    coef_state = None  # progressive: per-component coefficient planes
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:  # EOI (standalone)
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            pos += 2
            continue
        if pos + 4 > len(payload):
            break
        size = struct.unpack_from(">H", payload, pos + 2)[0]
        body, end = pos + 4, pos + 2 + size
        if size < 2 or end > len(payload):
            raise ValueError(f"JPEG segment {marker:#x} overruns the payload")
        if marker == 0xDB:  # DQT
            p = body
            while p < end:
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                p += 1
                n = 64 * (2 if pq else 1)
                if p + n > end:
                    raise ValueError("JPEG DQT table truncated")
                vals = (np.frombuffer(payload, ">u2", 64, p) if pq
                        else np.frombuffer(payload, np.uint8, 64, p))
                tbl = np.zeros(64, np.int32)
                tbl[_JPEG_ZIGZAG] = vals
                qt[tq] = tbl.reshape(8, 8)
                p += n
        elif marker == 0xC4:  # DHT
            p = body
            while p + 17 <= end:
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                counts = payload[p + 1:p + 17]
                p += 17
                nsyms = sum(counts)
                if p + nsyms > end:
                    raise ValueError("JPEG DHT table truncated")
                table, code, k = {}, 0, p
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = payload[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc, th)] = table
                p += nsyms
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, body)
            if prec != 8:
                raise ValueError(f"only 8-bit JPEG (precision={prec})")
            if ncomp not in (1, 3):
                raise ValueError(f"only gray/YCbCr JPEG ({ncomp} components)")
            if not (0 < h and 0 < w) or h * w > _JPEG_MAX_PIXELS:
                raise ValueError(f"JPEG dimensions {w}x{h} out of bounds")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(
                    ">BBB", payload, body + 6 + 3 * i)
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"invalid JPEG sampling {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            # the box upsampler uses integer repeat(max/this), so every
            # component's factors must divide the maxima — legal-but-rare
            # combos like 3x1 beside 4x1 get a clear refusal here instead
            # of an opaque shape mismatch at stack time
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            for _, hi, vi, _ in comps:
                if hmax % hi or vmax % vi:
                    raise ValueError(
                        f"unsupported JPEG sampling {hi}x{vi} "
                        f"(not a divisor of max {hmax}x{vmax})"
                    )
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0) / progressive (SOF2) huffman JPEG; "
                f"got SOF{marker - 0xC0}"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", payload, body)[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF0/SOF2")
            ns = payload[body]
            if body + 1 + 2 * ns + 3 > end:
                raise ValueError("JPEG SOS header truncated")
            scan = {}
            scan_order = []
            for i in range(ns):
                cs = payload[body + 1 + 2 * i]
                td_ta = payload[body + 2 + 2 * i]
                scan[cs] = (td_ta >> 4, td_ta & 0x0F)
                scan_order.append(cs)
            if not progressive:
                return _jpeg_decode_scan(
                    payload, end, frame, scan, qt, huff, restart_interval)
            # progressive: Ss/Se/Ah/Al select the spectral band and bit
            # plane this scan refines; coefficients accumulate across
            # scans and the image assembles once at EOI
            ss = payload[body + 1 + 2 * ns]
            se = payload[body + 2 + 2 * ns]
            ah_al = payload[body + 3 + 2 * ns]
            if coef_state is None:
                coef_state = _jpeg_prog_state(frame)
            pos = _jpeg_prog_scan(
                payload, end, frame, scan, scan_order,
                (ss, se, ah_al >> 4, ah_al & 0x0F),
                huff, restart_interval, coef_state,
            )
            continue
        pos = end
    if progressive and coef_state is not None:
        return _jpeg_prog_finish(frame, qt, coef_state)
    raise ValueError("JPEG has no SOS segment (truncated before the scan)")


def _jpeg_decode_scan(payload, data_pos, frame, scan, qt, huff,
                      restart_interval):
    import numpy as np

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # orthonormal DCT-II basis; IDCT(block) = T.T @ coefs @ T in float64
    u = np.arange(8)
    T = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2
    T[0] /= np.sqrt(2)

    planes, meta = {}, []
    for cid, hi, vi, tq in comps:
        if tq not in qt:
            raise ValueError(f"JPEG component {cid} references missing "
                             f"quant table {tq}")
        if cid not in scan:
            raise ValueError(f"JPEG scan is missing component {cid}")
        td, ta = scan[cid]
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError(f"JPEG component {cid} references missing "
                             f"huffman table (dc={td}, ac={ta})")
        planes[cid] = np.zeros((mcus_y * vi * 8, mcus_x * hi * 8), np.float64)
        meta.append((cid, hi, vi, qt[tq], huff[(0, td)], huff[(1, ta)]))

    reader = _JpegBitReader(payload, data_pos)
    pred = {cid: 0 for cid, *_ in meta}
    rst_count = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            reader.sync_to_rst(rst_count % 8)
            rst_count += 1
            pred = {cid: 0 for cid in pred}
        my, mx = divmod(m, mcus_x)
        for cid, hi, vi, q, dc_tbl, ac_tbl in meta:
            for by in range(vi):
                for bx in range(hi):
                    zz = np.zeros(64, np.int32)
                    s = _jpeg_huff_decode(reader, dc_tbl)
                    if s > 11:
                        raise ValueError(f"invalid JPEG DC category {s}")
                    pred[cid] += _jpeg_extend(reader.receive(s), s)
                    zz[0] = pred[cid]
                    k = 1
                    while k < 64:
                        rs = _jpeg_huff_decode(reader, ac_tbl)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:  # ZRL: sixteen zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC run overflows the block")
                        zz[k] = _jpeg_extend(reader.receive(s), s)
                        k += 1
                    coefs = np.zeros(64, np.float64)
                    coefs[_JPEG_ZIGZAG] = zz
                    block = T.T @ (coefs.reshape(8, 8) * q) @ T + 128.0
                    y0 = (my * vi + by) * 8
                    x0 = (mx * hi + bx) * 8
                    planes[cid][y0:y0 + 8, x0:x0 + 8] = block

    return _jpeg_assemble(planes, meta, hmax, vmax, h, w)


def _jpeg_assemble(planes, comps, hmax, vmax, h, w):
    """Box-upsample subsampled planes, crop to the frame, convert JFIF
    YCbCr→RGB (3 components) or return grayscale (1). Shared by the
    baseline and progressive paths."""
    import numpy as np

    out = []
    for cid, hi, vi, *_ in comps:
        plane = planes[cid]
        if hi < hmax or vi < vmax:  # box upsample to full resolution
            plane = plane.repeat(vmax // vi, axis=0).repeat(hmax // hi, axis=1)
        out.append(plane[:h, :w])
    if len(out) == 1:
        gray = np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr,
         y - 0.344136 * cb - 0.714136 * cr,
         y + 1.772 * cb],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _jpeg_prog_state(frame):
    """Persistent progressive-decode state: one int32 coefficient plane
    per component, ZIGZAG-ordered per block, padded to the interleaved
    MCU grid (non-interleaved scans cover only the true block counts in
    ``dims``). Coefficients accumulate across scans; _jpeg_prog_finish
    dequantizes and IDCTs once at EOI."""
    import numpy as np

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    state = {"mcus_x": mcus_x, "mcus_y": mcus_y, "coefs": {}, "dims": {}}
    for cid, hi, vi, _tq in comps:
        comp_w = (w * hi + hmax - 1) // hmax
        comp_h = (h * vi + vmax - 1) // vmax
        state["coefs"][cid] = np.zeros(
            (mcus_y * vi, mcus_x * hi, 64), np.int32
        )
        state["dims"][cid] = ((comp_w + 7) // 8, (comp_h + 7) // 8)
    return state


def _jpeg_prog_scan(payload, data_pos, frame, scan, scan_order, band,
                    huff, restart_interval, state):
    """Decode ONE progressive scan (ITU T.81 Annex G, huffman path) into
    the persistent coefficient planes: DC first/refine (interleaved or
    single-component), AC first/refine (single-component, EOB-run +
    successive-approximation correction bits). Returns the payload
    offset of the next marker after the scan's entropy segment."""
    ss, se, ah, al = band
    if not (0 <= ss <= se <= 63) or al > 13 or ah > 14:
        raise ValueError(
            f"invalid JPEG progressive band Ss={ss} Se={se} Ah={ah} Al={al}"
        )
    comp_by_id = {c[0]: c for c in frame[2]}
    for cs in scan_order:
        if cs not in comp_by_id:
            raise ValueError(f"JPEG scan references unknown component {cs}")
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("JPEG progressive DC scan must have Se=0")
    if not is_dc and len(scan_order) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    reader = _JpegBitReader(payload, data_pos)
    mcus_x = state["mcus_x"]

    if is_dc:
        _jpeg_prog_dc(reader, scan, scan_order, comp_by_id, state,
                      ah, al, huff, restart_interval, mcus_x)
    else:
        _jpeg_prog_ac(reader, scan, scan_order[0], state,
                      ss, se, ah, al, huff, restart_interval)

    # remaining bits in the current byte are padding; the next segment
    # starts at the first marker at/after the reader's byte position
    # (skip stuffed 0xFF00 and any stray RSTn)
    p = reader.pos - (2 if reader.marker is not None else 0)
    while p + 1 < len(payload):
        # 0xFF 0xFF is a FILL byte run (T.81 B.1.1.2), not a marker —
        # advance to the LAST 0xFF of the run so payload[p+1] is the code
        if payload[p] == 0xFF and payload[p + 1] not in (0x00, 0xFF) \
                and not (0xD0 <= payload[p + 1] <= 0xD7):
            return p
        p += 1
    return len(payload)


def _jpeg_prog_dc(reader, scan, scan_order, comp_by_id, state,
                  ah, al, huff, restart_interval, mcus_x):
    pred = {cs: 0 for cs in scan_order}
    dc_tbl = {}
    for cs in scan_order:
        td = scan[cs][0]
        if ah == 0:
            if (0, td) not in huff:
                raise ValueError(f"JPEG scan references missing DC table {td}")
            dc_tbl[cs] = huff[(0, td)]

    def one_block(blk, cs):
        if ah == 0:  # first pass: ordinary DPCM, scaled down by Al
            s = _jpeg_huff_decode(reader, dc_tbl[cs])
            if s > 11:
                raise ValueError(f"invalid JPEG DC category {s}")
            pred[cs] += _jpeg_extend(reader.receive(s), s)
            blk[0] = pred[cs] << al
        else:  # refinement: one correction bit per block
            blk[0] |= reader.read_bit() << al

    interleaved = len(scan_order) > 1
    if interleaved:
        nunits = mcus_x * state["mcus_y"]
    else:
        bw, bh = state["dims"][scan_order[0]]
        nunits = bw * bh
    rst = 0
    for u in range(nunits):
        if restart_interval and u and u % restart_interval == 0:
            reader.sync_to_rst(rst % 8)
            rst += 1
            pred = dict.fromkeys(pred, 0)
        if interleaved:
            my, mx = divmod(u, mcus_x)
            for cs in scan_order:
                _, hi, vi, _ = comp_by_id[cs]
                coefs = state["coefs"][cs]
                for by in range(vi):
                    for bx in range(hi):
                        one_block(coefs[my * vi + by, mx * hi + bx], cs)
        else:
            cs = scan_order[0]
            by, bx = divmod(u, bw)
            one_block(state["coefs"][cs][by, bx], cs)


def _jpeg_prog_ac(reader, scan, cs, state, ss, se, ah, al,
                  huff, restart_interval):
    ta = scan[cs][1]
    ac_tbl = huff.get((1, ta))
    if ac_tbl is None:
        raise ValueError(f"JPEG scan references missing AC table {ta}")
    coefs = state["coefs"][cs]
    bw, bh = state["dims"][cs]
    p1, m1 = 1 << al, -(1 << al)
    eobrun = 0
    rst = 0
    for u in range(bw * bh):
        if restart_interval and u and u % restart_interval == 0:
            reader.sync_to_rst(rst % 8)
            rst += 1
            eobrun = 0
        by, bx = divmod(u, bw)
        blk = coefs[by, bx]
        if ah == 0:  # first pass for this band
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _jpeg_huff_decode(reader, ac_tbl)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1  # EOBn: run of (1<<r)+bits blocks
                    if r:
                        eobrun += reader.receive(r)
                    break
                k += r
                if k > se:
                    raise ValueError("JPEG progressive AC run overflows band")
                blk[k] = _jpeg_extend(reader.receive(s), s) << al
                k += 1
        else:  # refinement: correction bits (T.81 G.1.2.3 / jdphuff shape)
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = _jpeg_huff_decode(reader, ac_tbl)
                    r, s = rs >> 4, rs & 0x0F
                    newval = 0
                    if s:
                        if s != 1:
                            raise ValueError("invalid JPEG AC refine size")
                        newval = p1 if reader.read_bit() else m1
                    elif r != 15:
                        # the run INCLUDES the current block — its tail
                        # corrections below consume the first unit
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.receive(r)
                        break
                    # advance over r zero-history coefficients, appending
                    # correction bits to every nonzero one passed
                    while k <= se:
                        if blk[k] != 0:
                            if reader.read_bit() and not (blk[k] & p1):
                                blk[k] += p1 if blk[k] >= 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if s and k <= se:
                        blk[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:  # EOB run: corrections only, no new coefs
                    if blk[k] != 0:
                        if reader.read_bit() and not (blk[k] & p1):
                            blk[k] += p1 if blk[k] >= 0 else m1
                    k += 1
                eobrun -= 1


def _jpeg_prog_finish(frame, qt, state):
    """Dequantize + inverse-zigzag + IDCT every accumulated coefficient
    block (vectorized einsum over all blocks at once) and assemble."""
    import numpy as np

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    u8 = np.arange(8)
    T = np.cos((2 * u8[None, :] + 1) * u8[:, None] * np.pi / 16) / 2
    T[0] /= np.sqrt(2)
    planes = {}
    for cid, hi, vi, tq in comps:
        if tq not in qt:
            raise ValueError(
                f"JPEG component {cid} references missing quant table {tq}"
            )
        zz = state["coefs"][cid]  # (bh_pad, bw_pad, 64) zigzag order
        bh_pad, bw_pad, _ = zz.shape
        nat = np.zeros(zz.shape, np.float64)
        nat[..., _JPEG_ZIGZAG] = zz
        blocks = nat.reshape(bh_pad, bw_pad, 8, 8) * qt[tq]
        out = np.einsum("ji,abjk,kl->abil", T, blocks, T) + 128.0
        planes[cid] = out.transpose(0, 2, 1, 3).reshape(bh_pad * 8, bw_pad * 8)
    return _jpeg_assemble(planes, comps, hmax, vmax, h, w)


def _decode_image_real(payload: bytes, width: int, height: int):
    """The real decode path. Uncompressed 24-bit BMP (decode_bmp), 8-bit
    full-variant PNG (decode_png, stdlib zlib), baseline + progressive
    huffman JPEG (decode_jpeg) and TIFF incl. LZW/Deflate/PackBits/JPEG
    strips (decode_tiff) decode IN-CONTAINER with a nearest-neighbor
    resize; every other format is gated behind pillow."""
    img = None
    if payload[:2] == b"BM":
        img = decode_bmp(payload)
    elif payload[:8] == b"\x89PNG\r\n\x1a\n":
        img = decode_png(payload)
    elif payload[:2] == b"\xff\xd8":
        img = decode_jpeg(payload)
    elif payload[:4] in (b"II*\x00", b"MM\x00*"):
        img = decode_tiff(payload)
    if img is not None:
        import numpy as np

        h, w = img.shape[:2]
        ys = (np.arange(height) * h // height).clip(0, h - 1)
        xs = (np.arange(width) * w // width).clip(0, w - 1)
        return img[ys][:, xs]
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - container has no PIL
        raise NotImplementedError(
            "remaining exotic image formats require pillow; deterministic "
            "fake used instead (BMP, TIFF incl. LZW/Deflate/PackBits/JPEG "
            "strips, 8-bit PNG and baseline/progressive JPEG decode "
            "natively: decode_bmp/decode_tiff/decode_png/decode_jpeg)"
        ) from exc
    raise NotImplementedError("real decode wired at deploy time")


def _fake_pixel_stats(payload: bytes) -> tuple[float, float]:
    """Deterministic stand-in for decoded-pixel statistics: byte-value mean
    and population std of the payload.

    Computed from EXACT integer moments (s1=Σb, s2=Σb²) and then combined
    with the same double-arithmetic shape the SQL oracle uses — for payloads
    under ~1 MB both moments are < 2^53, every intermediate is exactly
    representable, and the two engines produce bit-identical doubles, which
    is what lets the Arrow boundary be value-hash-verified."""
    import math

    n = len(payload)
    if n == 0:
        return 0.0, 0.0
    s1 = sum(payload)
    s2 = sum(b * b for b in payload)
    mean = s1 / n
    var = (float(s2) - float(s1) * float(s1) / n) / n
    # math.sqrt, NOT `** 0.5`: pow(x, 0.5) routes through libm pow, which
    # is allowed to (and measured to, 13/16667 sf1 docs) mis-round by one
    # ULP relative to IEEE sqrt — the hardware-correctly-rounded sqrt is
    # what every SQL engine's SQRT computes, so it is the portable one
    return float(mean), math.sqrt(max(var, 0.0))


IMAGE_FEATURE_ORACLE = """
WITH imgs AS (
  SELECT doc_id, text,
    CAST(64 + (doc_id % 16) * 32 AS INT) AS width,
    CAST(64 + (doc_id % 12) * 32 AS INT) AS height
  FROM documents WHERE doc_id % 3 = 0
), chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM imgs
), moments AS (
  SELECT doc_id, COUNT(*) AS n,
         SUM(ord(ch)) AS s1, SUM(ord(ch) * ord(ch)) AS s2
  FROM chars GROUP BY doc_id
)
SELECT i.doc_id, i.width, i.height,
  CAST(m.s1 AS DOUBLE) / m.n AS mean_intensity,
  SQRT(GREATEST((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n) / m.n, 0.0))
    AS std_intensity,
  CAST(i.width AS DOUBLE) / i.height AS aspect_ratio
FROM imgs i JOIN moments m ON m.doc_id = i.doc_id
"""


@query("image_feature_extract", oracle=IMAGE_FEATURE_ORACLE)
def image_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-style decode→feature batch: mapInPandas over (payload, meta) — one
    Arrow batch per ~10k rows, model/decoder initialized once per batch
    iterator (not per row).

    Oracle-paired: the deterministic byte-stat fake (``_fake_pixel_stats``,
    the stand-in for pixel statistics and the call a deployment replaces
    with a real decoder) is itself SQL-expressible, so the whole Arrow
    round-trip — schema, batching, column alignment — is value-verified
    against DuckDB, not just row-counted. The corpus is ASCII, so byte
    values equal character ordinals on the oracle side."""
    import pandas as pd

    m = media_manifest_df(spark, sf_dir).where(F.col("media_type") == "image")
    src = m.select(
        "doc_id",
        "payload",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [_fake_pixel_stats(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "mean_intensity": [s[0] for s in stats],
                    "std_intensity": [s[1] for s in stats],
                    "aspect_ratio": pdf["width"] / pdf["height"],
                }
            )
            yield out

    schema = (
        "doc_id bigint, width int, height int, mean_intensity double, "
        "std_intensity double, aspect_ratio double"
    )
    return src.mapInPandas(extract, schema)
