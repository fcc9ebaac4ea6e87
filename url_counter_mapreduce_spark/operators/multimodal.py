"""Multimodal column plumbing (driver north star): image/audio/video are
opaque ``binary`` columns with typed metadata; decode / feature-extraction
run as Arrow-batched Python over ``mapInPandas``.

The container has no image/audio libraries, so decode works from the
PUBLIC container formats directly: PNG IHDR, RIFF/WAVE chunk walk, and
GIF87a/89a block structure are parsed with stdlib struct-unpack (full
pixel decode falls back to PIL behind an import-try, else a clearly
labeled deterministic fake). The Spark-side plumbing is real and tested:
binary column handling, mapInPandas schema contract, Arrow batch shape,
partition-preserving metadata extraction.

Since the testdata has no binary table, the binary payload is derived
in-engine (utf-8 bytes of documents.text) — deterministic, so the metadata
query still gets an exact DuckDB oracle (octet_length/sha256 agree with
Python's len/hashlib over the same bytes).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ledger
from ..tables import load_table

META_SCHEMA = "doc_id long, n_bytes long, digest string, decode_status string"
DECODE_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, "
    "sample_rate int, n_channels int, decode_status string"
)


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text as an opaque binary payload column."""
    # NB: deliberately NOT spread(): fanning 5k small blobs across 32
    # Python workers costs more in worker startup than it buys (measured
    # 0.7s → 2.7s); at real multimodal scale the input splits already
    # provide parallelism.
    # coalesce: a NULL-text doc is an EMPTY blob, not a NULL payload — the
    # Arrow batch reaching Python must never hold None bytes (len/sha256
    # crash; degenerate-corpus battery)
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload")
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction over a binary column via mapInPandas:
    byte length + content digest per blob. Arrow moves the binary batches;
    Python touches each blob once. This is the shape of EXIF/container-header
    extraction at 100 TB: embarrassingly parallel, no shuffle."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "digest": pdf["payload"].map(lambda b: hashlib.sha256(b).hexdigest()),
                    "decode_status": "stub",
                }
            )

    return _payloads(spark, sf_dir).mapInPandas(extract, schema=META_SCHEMA)


def png_bytes(width: int, height: int) -> bytes:
    """Minimal VALID 8-bit grayscale PNG (public spec: signature + IHDR +
    zlib IDAT + IEND, CRC-correct chunks) — built with stdlib only; the
    container ships no codec libraries."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def wav_bytes(sample_rate: int, n_channels: int, n_frames: int) -> bytes:
    """Minimal VALID 16-bit PCM WAV (RIFF/WAVE + fmt + silent data)."""
    import struct

    block_align = n_channels * 2
    data = bytes(n_frames * block_align)
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align, block_align, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_png(blob: bytes):
    """(width, height, n_frames) from a PNG's IHDR, or None if the bytes
    are not a PNG — struct-unpack of the container header, no codecs."""
    import struct

    if len(blob) < 24 or blob[:8] != b"\x89PNG\r\n\x1a\n" or blob[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", blob[16:24])
    return int(w), int(h), 1


def parse_wav(blob: bytes):
    """(sample_rate, n_channels, n_audio_frames) from a WAV's fmt/data
    chunks (RIFF walk), or None if the bytes are not a WAV."""
    import struct

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    pos, rate, chans, block, nframes = 12, None, None, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        if cid == b"fmt " and size >= 16:
            if pos + 24 > len(blob):  # truncated fmt chunk: malformed, not a crash
                return None
            _fmt, chans, rate, _br, block, _bits = struct.unpack(
                "<HHIIHH", blob[pos + 8 : pos + 24]
            )
        elif cid == b"data" and block:
            nframes = size // block
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if rate is None or nframes is None:
        return None
    return int(rate), int(chans), int(nframes)


def decode_blobs(payloads: DataFrame) -> DataFrame:
    """Decode an opaque (doc_id, payload binary) frame to typed media
    metadata via mapInPandas — the real schema/batching/per-blob-Python
    plumbing of a decode stage.

    Per blob, in order: PNG header parse (status 'png'), WAV header parse
    (status 'wav') — both stdlib struct-unpack of the real container
    formats, no codec libraries needed; then PIL if importable (status
    'pil', full image decode); else a deterministic fake derived from the
    blob's sha256 (status 'fake'). Audio rows carry (sample_rate,
    n_channels) and use n_frames for AUDIO frames (data bytes /
    block_align); image rows leave the audio fields NULL.

    NB: the closure is deliberately self-contained (imports + helpers
    inside) so cloudpickle ships it by value — executors' Python workers
    need no access to this package on their sys.path.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl
        import io as _io
        import struct as _st

        try:
            from PIL import Image  # type: ignore
        except ImportError:
            Image = None

        def p_png(blob):
            if len(blob) < 24 or blob[:8] != b"\x89PNG\r\n\x1a\n" or blob[12:16] != b"IHDR":
                return None
            w, h = _st.unpack(">II", blob[16:24])
            return int(w), int(h), 1

        def p_wav(blob):
            if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
                return None
            pos, rate, chans, block, nframes = 12, None, None, None, None
            while pos + 8 <= len(blob):
                cid = blob[pos : pos + 4]
                (size,) = _st.unpack("<I", blob[pos + 4 : pos + 8])
                if cid == b"fmt " and size >= 16:
                    if pos + 24 > len(blob):  # truncated fmt chunk
                        return None
                    _f, chans, rate, _b, block, _bt = _st.unpack("<HHIIHH", blob[pos + 8 : pos + 24])
                elif cid == b"data" and block:
                    nframes = size // block
                pos += 8 + size + (size & 1)
            if rate is None or nframes is None:
                return None
            return int(rate), int(chans), int(nframes)

        def decode_one(blob: bytes) -> tuple:
            blob = bytes(blob)
            png = p_png(blob)
            if png is not None:
                w, h, nf = png
                return w, h, nf, None, None, "png"
            wav = p_wav(blob)
            if wav is not None:
                rate, chans, nf = wav
                return None, None, nf, rate, chans, "wav"
            if Image is not None:
                try:
                    with Image.open(_io.BytesIO(blob)) as im:
                        return im.width, im.height, getattr(im, "n_frames", 1), None, None, "pil"
                except Exception:
                    pass  # not an image (or truncated) → deterministic fake
            d = _hl.sha256(blob).digest()
            return 64 + d[0] % 192, 64 + d[1] % 192, 1 + d[2] % 30, None, None, "fake"

        for pdf in batches:
            dims = pdf["payload"].map(decode_one)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.array([t[0] for t in dims], dtype="Int32"),
                    "height": pd.array([t[1] for t in dims], dtype="Int32"),
                    "n_frames": pd.array([t[2] for t in dims], dtype="Int32"),
                    "sample_rate": pd.array([t[3] for t in dims], dtype="Int32"),
                    "n_channels": pd.array([t[4] for t in dims], dtype="Int32"),
                    "decode_status": [t[5] for t in dims],
                }
            )

    return payloads.mapInPandas(decode, schema=DECODE_SCHEMA)


def synth_media_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic VALID media containers keyed on doc_id — even ids
    become PNGs (width 16 + id % 240, height 16 + 3·id % 240), odd ids
     16-bit WAVs (rate 8000 + 1000·(id % 8), channels 1 + (id⌊/2⌋ % 2),
    frames 100 + id % 900). The formulas are the contract the DuckDB
    oracle replays — the parse stage must recover exactly these values
    from the container HEADERS, so a generator/parser endianness or
    layout bug breaks the oracle, not just a unit test."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _st
        import zlib as _zl

        def chunk(typ, data):
            body = typ + data
            return _st.pack(">I", len(data)) + body + _st.pack(">I", _zl.crc32(body) & 0xFFFFFFFF)

        def png(w, h):
            ihdr = _st.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            raw = b"".join(b"\x00" + bytes(w) for _ in range(h))
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _zl.compress(raw))
                + chunk(b"IEND", b"")
            )

        def wav(rate, chans, nframes):
            block = chans * 2
            data = bytes(nframes * block)
            fmt = _st.pack("<HHIIHH", 1, chans, rate, rate * block, block, 16)
            body = (
                b"WAVE" + b"fmt " + _st.pack("<I", len(fmt)) + fmt
                + b"data" + _st.pack("<I", len(data)) + data
            )
            return b"RIFF" + _st.pack("<I", len(body)) + body

        def make(doc_id: int) -> bytes:
            if doc_id % 2 == 0:
                return png(16 + doc_id % 240, 16 + (doc_id * 3) % 240)
            return wav(8000 + 1000 * (doc_id % 8), 1 + (doc_id // 2) % 2, 100 + doc_id % 900)

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(lambda i: make(int(i)))}
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-decode stage over synthesized VALID PNG/WAV containers (the
    testdata has no binary table and the container no codec libs, so the
    blobs are built in-engine from the public container specs — see
    synth_media_payloads). The decode is a REAL header parse: PNG IHDR /
    RIFF-WAVE chunk walk via struct-unpack. Exact DuckDB oracle: the
    parsed (width, height, n_frames, sample_rate, n_channels) must equal
    the generator formulas applied to doc_id."""
    return decode_blobs(synth_media_payloads(spark, sf_dir))


def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup over the binary payload column — the
    first dedup pass every image/audio corpus runs (identical bytes ⇒
    identical asset; perceptual near-dup comes after, on decoded
    features). Unlike the metadata/decode stages, this needs NO Python at
    all: sha2 over binary and the per-digest min-id window are JVM
    expressions, so the dedup of a 100 TB blob corpus is one shuffle on
    the 32-byte digest with whole-stage codegen end-to-end. Returns every
    blob with its digest, byte size, canonical (min) doc_id, and an
    is_canonical keep flag; exact DuckDB oracle (sha256 over the same
    bytes)."""
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
    )
    w = Window.partitionBy("digest")
    return (
        p.select(
            "doc_id",
            F.expr("CAST(octet_length(payload) AS BIGINT)").alias("n_bytes"),
            F.sha2("payload", 256).alias("digest"),
        )
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))
    )


FRAMES_SCHEMA = (
    "doc_id long, frame_idx int, byte_offset long, "
    "frame_left int, frame_top int, width int, height int"
)

# GIF generator formulas (the contract the DuckDB oracle replays):
# all frames of a doc share one (w, h); frames tile with small offsets.
GIF_W = "8 + doc_id % 9"  # 8..16
GIF_H = "8 + (doc_id * 3) % 9"  # 8..16
GIF_NFRAMES = "1 + doc_id % 5"  # 1..5


def gif_bytes(width: int, height: int, n_frames: int) -> bytes:
    """Minimal VALID multi-frame GIF89a (public spec: header + logical
    screen descriptor + 2-entry global color table, then per frame a
    graphic-control extension, an image descriptor, and a REAL LZW pixel
    stream — fixed 8-bit codes with min-code-size 7, a clear code before
    every 125-pixel run so the code table never grows — ending in the
    0x3B trailer). Stdlib-only; every byte position is a closed-form
    function of (width, height, frame index), which is what gives the
    frame sampler an exact SQL oracle on offsets."""
    import struct

    out = bytearray(b"GIF89a")
    # logical screen 4px larger than the frames so the tiled left/top
    # offsets (0..3) keep every frame inside the screen (spec requirement)
    out += struct.pack("<HH", width + 4, height + 4)
    out += bytes((0x80, 0, 0))  # GCT present, size field 0 → 2 entries
    out += bytes((0, 0, 0, 255, 255, 255))  # 2-entry global color table
    npix = width * height
    # LZW stream: min code size 7 → 8-bit codes, clear=0x80, EOI=0x81;
    # emit a clear before each 125-pixel group so code values stay < 256
    codes = bytearray()
    for start in range(0, npix, 125):
        codes.append(0x80)
        codes += bytes(min(125, npix - start))  # pixel index 0 literals
    codes.append(0x81)
    for i in range(n_frames):
        out += bytes((0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00))  # GCE
        out += b"\x2c" + struct.pack(
            "<HHHH", i % 4, (2 * i) % 4, width, height
        ) + b"\x00"  # image descriptor, no local color table
        out += bytes((7,))  # LZW minimum code size
        for start in range(0, len(codes), 255):
            block = codes[start : start + 255]
            out += bytes((len(block),)) + block
        out += b"\x00"  # block terminator
    out += b"\x3b"
    return bytes(out)


def parse_gif(blob: bytes):
    """[(byte_offset, left, top, width, height)] for every image
    descriptor in a GIF87a/89a stream, or None if the bytes are not a
    GIF — a pure block-structure walk (skip color tables by their size
    fields, skip extension and pixel sub-blocks by their length bytes),
    no LZW decode. byte_offset is the position of the 0x2C descriptor."""
    import struct

    if len(blob) < 13 or blob[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = blob[10]
    pos = 13
    if packed & 0x80:  # global color table: 3 * 2^(size+1) bytes
        pos += 3 * (2 << (packed & 0x07))
    frames = []
    while pos < len(blob):
        b = blob[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label byte, then sub-blocks
            pos += 2
            while pos < len(blob) and blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1  # terminator
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(blob):
                return None
            left, top, w, h = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
            frames.append((pos, int(left), int(top), int(w), int(h)))
            ipacked = blob[pos + 9]
            pos += 10
            if ipacked & 0x80:  # local color table
                pos += 3 * (2 << (ipacked & 0x07))
            pos += 1  # LZW minimum code size
            while pos < len(blob) and blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1  # terminator
        else:
            return None  # malformed stream
    return frames


def synth_gif_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-frame GIF89a per doc_id (dims/frame-count from
    the GIF_* formulas) — the video-like blob corpus for the frame
    sampler, built in-engine because the testdata ships no binary table
    and the container no codec libs."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["doc_id"].map(
                        lambda i: gif_bytes(
                            8 + int(i) % 9, 8 + (int(i) * 3) % 9, 1 + int(i) % 5
                        )
                    ),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-like blobs: the 1→N mapInPandas shape
    (each input row expands to a variable number of frame rows). The
    blobs are REAL multi-frame GIF89a containers (synth_gif_payloads)
    and the sampler a REAL GIF block walk (parse_gif) recovering each
    frame's byte offset and geometry from container structure alone —
    exact DuckDB oracle: the generator's closed-form offset/geometry
    formulas replayed in SQL. A seek-based video keyframe sampler slots
    in behind the identical schema and batch contract."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_idx", "byte_offset", "frame_left",
                "frame_top", "width", "height",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                for idx, (off, left, top, w, h) in enumerate(parse_gif(bytes(blob)) or []):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["byte_offset"].append(off)
                    rows["frame_left"].append(left)
                    rows["frame_top"].append(top)
                    rows["width"].append(w)
                    rows["height"].append(h)
            yield pd.DataFrame(rows)

    return synth_gif_payloads(spark, sf_dir).mapInPandas(sample, schema=FRAMES_SCHEMA)


def synth_jpeg_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRUCTURALLY-VALID JPEG marker streams keyed on
    doc_id (JPEG/JFIF public spec, ITU T.81): SOI, APP0/JFIF, DQT, a
    frame header — baseline SOF0 normally, progressive SOF2 when
    doc_id % 3 = 0 — DHT, SOS with a minimal entropy segment, EOI.
    Formula contract (what the parser must recover from the MARKERS):
    width 16 + id % 1000, height 16 + 3·id % 1000, components
    1 + 2·(id % 2) (grayscale or YCbCr), progressive iff id % 3 = 0."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _st

        def seg(marker: int, data: bytes) -> bytes:
            return _st.pack(">BBH", 0xFF, marker, len(data) + 2) + data

        def jpeg(doc_id: int) -> bytes:
            w = 16 + doc_id % 1000
            h = 16 + (doc_id * 3) % 1000
            ncomp = 1 + 2 * (doc_id % 2)
            sof_marker = 0xC2 if doc_id % 3 == 0 else 0xC0
            app0 = b"JFIF\x00" + _st.pack(">BBBHHBB", 1, 2, 0, 72, 72, 0, 0)
            dqt = b"\x00" + bytes(64)
            comps = b"".join(
                _st.pack(">BBB", i + 1, 0x11, 0) for i in range(ncomp)
            )
            sof = _st.pack(">BHHB", 8, h, w, ncomp) + comps
            dht = b"\x00" + bytes(16) + b""
            sos = _st.pack(">B", ncomp) + b"".join(
                _st.pack(">BB", i + 1, 0) for i in range(ncomp)
            ) + _st.pack(">BBB", 0, 63, 0)
            return (
                b"\xff\xd8"  # SOI
                + seg(0xE0, app0)
                + seg(0xDB, dqt)
                + seg(sof_marker, sof)
                + seg(0xC4, dht)
                + seg(0xDA, sos)
                + b"\x00"  # minimal entropy byte
                + b"\xff\xd9"  # EOI
            )

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(lambda i: jpeg(int(i)))}
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def parse_jpeg(blob: bytes):
    """(width, height, n_components, progressive, n_segments) from a JPEG
    marker walk — reads segment lengths and the SOF0/SOF2 frame header,
    no entropy decoding. None if the bytes are not a JPEG."""
    import struct as _st

    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        return None
    i, n_seg = 2, 0
    width = height = ncomp = None
    progressive = False
    while i + 4 <= len(blob):
        if blob[i] != 0xFF:
            break
        marker = blob[i + 1]
        if marker == 0xD9:  # EOI
            break
        (length,) = _st.unpack(">H", blob[i + 2 : i + 4])
        n_seg += 1
        if marker in (0xC0, 0xC2) and i + 4 + 6 <= len(blob):
            _prec, height, width, ncomp = _st.unpack(">BHHB", blob[i + 4 : i + 10])
            progressive = marker == 0xC2
        if marker == 0xDA:
            break  # entropy data follows; fixture streams end at EOI
        i += 2 + length
    if width is None:
        return None
    return width, height, ncomp, progressive, n_seg


def multimodal_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG frame-header extraction over synthesized structurally-valid
    marker streams (see synth_jpeg_payloads) — the third real container
    walk beside PNG/IHDR+GIF and RIFF/WAVE: segment-length hopping to
    SOF0/SOF2, dimensions + component count + progressive flag from the
    frame header. Arrow-batched mapInPandas (the per-blob Python shape);
    exact DuckDB oracle = the generator formulas on doc_id."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse_jpeg(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [p[0] if p else None for p in parsed],
                    "height": [p[1] if p else None for p in parsed],
                    "n_components": [p[2] if p else None for p in parsed],
                    "progressive": [p[3] if p else None for p in parsed],
                    "n_segments": [p[4] if p else None for p in parsed],
                }
            )

    return synth_jpeg_payloads(spark, sf_dir).mapInPandas(
        extract,
        schema=(
            "doc_id long, width int, height int, n_components int,"
            " progressive boolean, n_segments int"
        ),
    )


# --- MP4 / ISO-BMFF (ISO/IEC 14496-12, the public MPEG-4 container
# spec): the VIDEO leg of the multimodal battery, beside PNG/GIF/JPEG
# (image) and RIFF/WAVE (audio). Generator formula contract on doc_id:
MP4_TIMESCALE = "600 + (doc_id % 5) * 150"  # movie timescale, 600..1200
MP4_DURATION = "1 + (doc_id * 37) % 90000"  # duration in timescale ticks
MP4_NEXT_TRACK = "1 + doc_id % 3"
MP4_BRAND = "CASE WHEN doc_id % 4 = 0 THEN 'mp42' ELSE 'isom' END"


def mp4_bytes(timescale: int, duration: int, next_track: int, brand: str) -> bytes:
    """Minimal structurally-valid ISO-BMFF stream: ftyp (major brand +
    two compatible brands), a free box, and moov containing a version-0
    mvhd with the movie timescale/duration/next-track-id fields."""
    import struct as _st

    def box(btype: bytes, payload: bytes) -> bytes:
        return _st.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", brand.encode() + _st.pack(">I", 0) + b"isomiso2")
    free = box(b"free", b"\x00" * 6)
    mvhd = box(
        b"mvhd",
        _st.pack(">B3x", 0)  # version 0, flags 0
        + _st.pack(">II", 0, 0)  # creation/modification time
        + _st.pack(">II", timescale, duration)
        + _st.pack(">i", 0x00010000)  # rate 1.0
        + _st.pack(">h", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + _st.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # pre_defined
        + _st.pack(">I", next_track),
    )
    return ftyp + free + box(b"moov", mvhd)


def parse_mp4(blob: bytes):
    """(major_brand, timescale, duration, next_track_id, n_boxes) from a
    top-level box walk + moov/mvhd descent — size/type hopping only, no
    sample decoding. None if the stream is not ISO-BMFF."""
    import struct as _st

    if len(blob) < 16 or blob[4:8] != b"ftyp":
        return None
    i, n_boxes = 0, 0
    brand = None
    timescale = duration = next_track = None
    while i + 8 <= len(blob):
        (size,) = _st.unpack(">I", blob[i : i + 4])
        btype = blob[i + 4 : i + 8]
        if size < 8 or i + size > len(blob):
            return None
        n_boxes += 1
        if btype == b"ftyp":
            brand = blob[i + 8 : i + 12].decode("ascii", "replace")
        elif btype == b"moov":
            j = i + 8
            while j + 8 <= i + size:
                (csize,) = _st.unpack(">I", blob[j : j + 4])
                # csize must keep the child inside moov: a crafted size
                # that runs past the parent is truncation, not a box
                if csize < 8 or j + csize > i + size:
                    break
                if blob[j + 4 : j + 8] == b"mvhd":
                    # a v0 mvhd payload spans j+8 .. j+108 and must lie
                    # inside the mvhd box ITSELF: a short mvhd (csize <
                    # 108) followed by sibling boxes inside a roomy moov
                    # would otherwise have sibling bytes parsed as
                    # timescale/duration/next_track — reject it
                    if csize < 108 or j + 108 > i + size:
                        return None
                    if blob[j + 8] == 0:
                        timescale, duration = _st.unpack(">II", blob[j + 20 : j + 28])
                        (next_track,) = _st.unpack(">I", blob[j + 104 : j + 108])
                j += csize
        i += size
    if brand is None or timescale is None:
        return None
    return brand, timescale, duration, next_track, n_boxes


def synth_mp4_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ISO-BMFF payloads keyed on doc_id per the
    MP4_* formula contract — Arrow-batched synthesis (mapInPandas), the
    same shape a real pipeline uses to fetch blob columns."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def gen(doc_id: int) -> bytes:
            ts = 600 + (doc_id % 5) * 150
            dur = 1 + (doc_id * 37) % 90000
            nt = 1 + doc_id % 3
            brand = "mp42" if doc_id % 4 == 0 else "isom"
            return mp4_bytes(ts, dur, nt, brand)

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(lambda i: gen(int(i)))}
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 movie-header extraction over synthesized structurally-valid
    ISO-BMFF streams — the video leg completing the image/audio/video
    container battery: top-level size/type box hopping, moov descent,
    mvhd timescale/duration/next-track fields, plus the derived
    duration_ms = (duration·1000) div timescale (exact integer floor —
    both operands non-negative, so Spark div and DuckDB // agree).
    Arrow-batched mapInPandas; exact DuckDB oracle = the MP4_* generator
    formulas on doc_id."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse_mp4(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "major_brand": [p[0] if p else None for p in parsed],
                    "timescale": [p[1] if p else None for p in parsed],
                    "duration_ticks": [p[2] if p else None for p in parsed],
                    "next_track_id": [p[3] if p else None for p in parsed],
                    "n_boxes": [p[4] if p else None for p in parsed],
                }
            )

    meta = synth_mp4_payloads(spark, sf_dir).mapInPandas(
        extract,
        schema=(
            "doc_id long, major_brand string, timescale int,"
            " duration_ticks int, next_track_id int, n_boxes int"
        ),
    )
    return meta.withColumn(
        "duration_ms",
        F.expr("(CAST(duration_ticks AS BIGINT) * 1000) div timescale"),
    )


# --------------------------------------------------------------------------
# Audio PCM leg: non-silent square-wave WAVs and sample-level feature
# extraction (peak, energy, zero-crossing rate) — the audio twin of the
# PNG/GIF/JPEG/MP4 container battery, one level deeper than header parsing:
# the features come from the DECODED samples, not the chunk headers, while
# the square-wave synthesis keeps every feature closed-form on doc_id so
# the DuckDB oracle replays them exactly.
# --------------------------------------------------------------------------

# doc_id-keyed synthesis formulas (SQL-expressible; Python mirrors below)
PCM_RATE = "8000 + (doc_id % 8) * 1000"  # sample rate, 8k..15k
PCM_AMP = "1000 + (doc_id % 7) * 2000"  # square amplitude, 1k..13k
PCM_HALF = "2 + doc_id % 6"  # samples per half-period, 2..7
PCM_N = "64 + (doc_id * 13) % 400"  # sample count, 64..463
PCM_OFF = "(doc_id % 5) * 100"  # DC offset, 0..400


def wav_pcm_bytes(rate: int, n: int, amp: int, half: int, off: int) -> bytes:
    """Valid mono 16-bit PCM WAV carrying an offset square wave:
    s[k] = off + amp if (k div half) even else off - amp."""
    import struct

    samples = bytearray()
    for k in range(n):
        s = off + (amp if (k // half) % 2 == 0 else -amp)
        samples += struct.pack("<h", s)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + bytes(samples)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_pcm_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic square-wave WAV payloads keyed on doc_id per the
    PCM_* formula contract (Arrow-batched mapInPandas synthesis)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def gen(doc_id: int) -> bytes:
            return wav_pcm_bytes(
                8000 + (doc_id % 8) * 1000,
                64 + (doc_id * 13) % 400,
                1000 + (doc_id % 7) * 2000,
                2 + doc_id % 6,
                (doc_id % 5) * 100,
            )

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": pdf["doc_id"].map(lambda i: gen(int(i)))}
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def pcm_features(blob: bytes):
    """(rate, n_samples, peak, sum_sq, zero_crossings) from a mono 16-bit
    WAV's decoded samples (RIFF walk to fmt/data, then numpy over the raw
    PCM), or None if the bytes are not such a WAV."""
    import struct

    import numpy as np

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    pos, rate, data = 12, None, None
    while pos + 8 <= len(blob):
        typ, size = blob[pos:pos + 4], struct.unpack("<I", blob[pos + 4:pos + 8])[0]
        payload = blob[pos + 8:pos + 8 + size]
        if len(payload) < size:
            # chunk header promises more bytes than the buffer holds:
            # truncated input is malformed, not a struct.error crash
            return None
        if typ == b"fmt " and size >= 16:
            _fmt, chans, rate = struct.unpack("<HHI", payload[:8])
            if _fmt != 1 or chans != 1:
                return None
        elif typ == b"data":
            data = payload
        pos += 8 + size + (size & 1)
    if rate is None or data is None or len(data) % 2 != 0:
        return None
    s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    if s.size == 0:
        return (int(rate), 0, 0, 0, 0)
    zc = int(np.count_nonzero(s[:-1] * s[1:] < 0))
    return (int(rate), int(s.size), int(np.abs(s).max()), int((s * s).sum()), zc)


def multimodal_wav_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-level PCM feature extraction over synthesized non-silent
    WAVs: decode the int16 stream and emit sample_rate, n_samples, peak
    amplitude, exact energy Σs² (BIGINT), zero-crossing count, and RMS —
    the audio quality/filter features (clipping detection = peak at
    full-scale; silence gating = energy near 0; pitch proxy = crossing
    rate) a multimodal curation pass computes per clip.

    mapInPandas + numpy over the Arrow batch is the right shape for
    per-blob decode at 100 TB: no shuffle (doc-partitioned map), vectorized
    per batch, output a fixed narrow schema. RMS = sqrt(sum_sq/n) is
    evaluated JVM-side on the exact integers (IEEE sqrt is correctly
    rounded, so both engines agree bit-for-bit under stable_round).

    Oracle: the PCM_* synthesis formulas replayed closed-form on doc_id —
    peak = off+amp, positive-sample count from whole/partial periods,
    energy n_pos·(off+amp)² + n_neg·(off−amp)², crossings = (n−1) div
    half."""
    from ..functions.vector import stable_round

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [pcm_features(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [f[0] if f else None for f in feats],
                    "n_samples": [f[1] if f else None for f in feats],
                    "peak": [f[2] if f else None for f in feats],
                    "sum_sq": [f[3] if f else None for f in feats],
                    "zero_crossings": [f[4] if f else None for f in feats],
                }
            )

    meta = synth_pcm_payloads(spark, sf_dir).mapInPandas(
        extract,
        schema=(
            "doc_id long, sample_rate int, n_samples long, peak long,"
            " sum_sq long, zero_crossings long"
        ),
    )
    return meta.withColumn(
        "rms",
        F.expr(
            "CASE WHEN n_samples > 0 THEN "
            + stable_round("sqrt(CAST(sum_sq AS DOUBLE) / n_samples)", 6)
            + " ELSE NULL END"
        ),
    )


# --------------------------------------------------------------------------
# Perceptual image dedup: dHash fingerprints + banded Hamming pairs
# --------------------------------------------------------------------------
#
# Pattern-PNG generator formulas (the contract the DuckDB oracle replays
# closed-form — same discipline as synth_media_payloads: the Spark side
# must recover these values from ACTUAL DECODED PIXELS, so a decode or
# fingerprint bug breaks the oracle, not just a unit test):
#   g       = doc_id div 4              (4 docs per perceptual group)
#   W, H    = 18 + g % 5, 16 + g % 3    (per-group image size)
#   cell c  = by*9 + bx over a 9x8 grid; pixel boundaries bx*W//9, by*H//8
#   p(g,c)  = xorshift-multiply finalizer, all closed-form BIGINT ops:
#               v  = (((g % 59999)*72 + c) * 2654435761) % 2^32
#               v ^= v >> 16 ; v = (v * 40503) % 2^32 ; p = (v >> 15) & 1
#             (max product ~1.7e14 << BIGINT, exact in both engines).
#             Two simpler mixes were measured and REJECTED: a polynomial
#             mod a small prime collapses to g mod that prime (97
#             distinct patterns → thousands of cross-group dup pairs),
#             and a single multiplicative hash keeps affine structure —
#             group pairs whose Δ·MUL mod 2^32 is small get phase-
#             shifted, near-identical bit patterns. With the finalizer:
#             0 cross-group matches over 1250 groups (simulated), and
#             the variant edit's distance is ≤ 2 bits.
#   variant: docs with doc_id % 4 == 3 flip p at cell c* = g % 72
#             (a LOCAL edit: flips at most 2 dHash bits)
#   pixel   = 64 + 128*p + doc_id % 7   (global brightness offset —
#             dHash is invariant to it by construction; max 198, no clamp)
#   dHash bit i (i = by*8 + bx, bx 0..7): [mean(cell right) > mean(cell)]
#   fp_lo/fp_hi: bits 0..31 / 32..63 as two NONNEGATIVE 32-bit halves
#             (a single BIGINT would go negative at bit 63 and the two
#             engines print signed/unsigned differently)
PHASH_GROUP = 4
PHASH_MOD = 59999
PHASH_MUL = 2654435761
HAMMING_T = 4


def _fp_cache(spark: SparkSession) -> ledger.Family:
    """The "perceptual-fp" ledger family: (sf_dir, modality) -> persisted
    fingerprint frame. Every perceptual consumer (pair join, cluster
    resolution, cross-modal consensus) shares ONE synth+decode pass per
    corpus, as the dedup signature table does for text."""
    return ledger.of(spark).family("perceptual-fp", max_entries=6)


def _phash_p(g: int, c: int) -> int:
    v = (((g % PHASH_MOD) * 72 + c) * PHASH_MUL) % 4294967296
    v ^= v >> 16
    v = (v * 40503) % 4294967296
    return (v >> 15) & 1


def pattern_png_bytes(doc_id: int) -> bytes:
    """Deterministic patterned grayscale PNG for doc_id (formulas above)."""
    import struct
    import zlib

    g = doc_id // PHASH_GROUP
    w, h = 18 + g % 5, 16 + g % 3
    flip = g % 72 if doc_id % PHASH_GROUP == 3 else -1
    off = doc_id % 7
    xb = [bx * w // 9 for bx in range(10)]
    yb = [by * h // 8 for by in range(9)]
    rows = []
    for y in range(h):
        by = next(i for i in range(8) if yb[i] <= y < yb[i + 1])
        row = bytearray(w)
        for bx in range(9):
            c = by * 9 + bx
            p = _phash_p(g, c)
            if c == flip:
                p = 1 - p
            row[xb[bx] : xb[bx + 1]] = bytes([64 + 128 * p + off]) * (xb[bx + 1] - xb[bx])
        rows.append(b"\x00" + bytes(row))

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )


def synth_pattern_png_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patterned-PNG corpus keyed on doc_id: groups of PHASH_GROUP docs
    share a block pattern; within a group, docs differ by a global
    brightness offset (perceptually identical) and one doc carries a
    single-cell local edit (perceptually NEAR-identical) — the three
    regimes a perceptual dedup must separate from cross-group images."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["doc_id"].map(lambda i: pattern_png_bytes(int(i))),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def dhash_from_png(blob: bytes):
    """(width, height, fp_hi, fp_lo) — REAL pixel decode: zlib-decompress
    the IDAT stream, strip the per-row filter bytes (filter 0), block-
    average to a 9x8 grid with integer floor boundaries (the standard
    dHash downsample), then compare horizontally adjacent cell means.
    Returns None for non-PNG / unsupported (filtered) pixel streams."""
    import struct
    import zlib

    import numpy as np

    if len(blob) < 24 or blob[:8] != b"\x89PNG\r\n\x1a\n" or blob[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", blob[16:24])
    # walk chunks for the IDAT payload (single IDAT in our containers, but
    # concatenate defensively — the spec allows splitting)
    pos, idat = 8, b""
    while pos + 8 <= len(blob):
        (size,) = struct.unpack(">I", blob[pos : pos + 4])
        typ = blob[pos + 4 : pos + 8]
        if typ == b"IDAT":
            idat += blob[pos + 8 : pos + 8 + size]
        if typ == b"IEND":
            break
        pos += 12 + size
    raw = zlib.decompress(idat)
    if len(raw) != h * (w + 1):
        return None
    px = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    if px[:, 0].any():  # only filter type 0 is decoded here
        return None
    img = px[:, 1:].astype(np.float64)
    xb = [bx * w // 9 for bx in range(10)]
    yb = [by * h // 8 for by in range(9)]
    means = [
        [img[yb[by] : yb[by + 1], xb[bx] : xb[bx + 1]].mean() for bx in range(9)]
        for by in range(8)
    ]
    lo = hi = 0
    for by in range(8):
        for bx in range(8):
            if means[by][bx + 1] > means[by][bx]:
                i = by * 8 + bx
                if i < 32:
                    lo |= 1 << i
                else:
                    hi |= 1 << (i - 32)
    return int(w), int(h), hi, lo


def _banded_hamming_pairs(
    fp: DataFrame, bucket_cap: "int | str | None", name: str
) -> DataFrame:
    """Shared banded-Hamming candidate join over a (doc_id, fp_hi, fp_lo)
    fingerprint frame: 4x16-bit bands -> equi-join candidates -> exact
    bit_count(xor) distance filtered at HAMMING_T. Pigeonhole guarantees
    a shared band for any distance <= 3, so recall on the generators'
    in-group edits (<= 2 flipped bits) is exactly 1. Band buckets are
    skew-guarded: a corpus of near-identical assets makes one bucket
    corpus-deep, the LSH mega-bucket pathology (docs/SCALE.md §11.10)."""
    bands = fp.select(
        "doc_id",
        "fp_hi",
        "fp_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.expr("fp_lo & 65535").alias("key")),
                F.struct(F.lit(1).alias("band"), F.expr("(fp_lo >> 16) & 65535").alias("key")),
                F.struct(F.lit(2).alias("band"), F.expr("fp_hi & 65535").alias("key")),
                F.struct(F.lit(3).alias("band"), F.expr("(fp_hi >> 16) & 65535").alias("key")),
            )
        ).alias("bk"),
    ).select("doc_id", "fp_hi", "fp_lo", "bk.band", "bk.key")
    if bucket_cap == "auto":
        from .skew_guard import AUTO_BUCKET_CAP, resolve_cap

        bucket_cap = resolve_cap(
            bucket_cap,
            bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n")),
            "n",
            AUTO_BUCKET_CAP,
            name=name,
            policy="drop-bucket",  # the _bn filter drops oversized buckets whole
            cache_key=(name, fp.semanticHash()),
        )
    if bucket_cap is not None:
        from pyspark.sql.window import Window as _W

        wcap = _W.partitionBy("band", "key")
        bands = (
            bands.withColumn("_bn", F.count(F.lit(1)).over(wcap))
            .filter(F.col("_bn") <= bucket_cap)
            .drop("_bn")
        )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(
                "CAST(bit_count(a.fp_hi ^ b.fp_hi) + bit_count(a.fp_lo ^ b.fp_lo) AS BIGINT)"
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= HAMMING_T)
    )


def image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual fingerprint stage: decode every patterned PNG's pixels
    and emit its 64-bit dHash as two nonnegative 32-bit halves. The
    DuckDB oracle replays the generator's closed form bit-for-bit, so the
    WHOLE pixel path — container walk, inflate, filter strip, block
    means, comparisons, bit packing — must be exact. Scale shape: one
    shuffle-free mapInPandas over the blob column (numpy per Arrow
    batch); at 100 TB this is the embarrassingly parallel stage before
    the banded join."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [dhash_from_png(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f[0] if f else None for f in feats],
                    "height": [f[1] if f else None for f in feats],
                    "fp_hi": [f[2] if f else None for f in feats],
                    "fp_lo": [f[3] if f else None for f in feats],
                }
            )

    return _fp_cache(spark).get_or_build(
        (sf_dir, "image"),
        lambda: synth_pattern_png_payloads(spark, sf_dir).mapInPandas(
            extract,
            schema="doc_id long, width int, height int, fp_hi long, fp_lo long",
        ),
    )


def dedup_image_dhash_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: "int | str | None" = "auto"
) -> DataFrame:
    """Perceptual near-duplicate image pairs: banded Hamming join over the
    dHash fingerprints — the image twin of dedup_simhash_pairs, never
    all-pairs. The 64-bit fingerprint splits into 4x16-bit bands; two
    images are CANDIDATES iff they collide on at least one band
    (guaranteed for Hamming distance <= 3 by pigeonhole, and the
    generator's in-group edits flip at most 2 bits), then the exact
    distance bit_count(xor) filters at HAMMING_T. Everything after the
    fingerprint stage is JVM-side codegen: explode to (band, key), one
    equi-join shuffle keyed by 16-bit band values, xor + bit_count.

    The oracle replays the SAME band-candidate rule (not brute force), so
    the result is exact by construction, not recall-approximate.

    Measured vs brute-force all-pairs (tools/bench_variants.py, sf0.1,
    N=5,000): brute 0.29 s vs banded 0.45 s — at this N, 12.5M cheap
    xor/bit_count comparisons beat the band explode + join overhead, and
    both produce identical pairs. Banding ships anyway because brute is
    O(N²): the same arithmetic rate puts 50k docs at ~30 s and 5M docs at
    ~12.5T comparisons, while the banded join's cost tracks candidate
    volume (group-sized buckets, §11.11). The crossover sits around
    N≈10⁴–10⁵ — below it, use brute if you must; above it, banding is the
    only plan that finishes.
    ``bucket_cap`` (default "auto") applies the measured skew-guard
    trigger to the band buckets — a corpus of near-identical images makes
    one band bucket corpus-deep, the same pathology as the LSH mega-
    bucket (docs/SCALE.md §11.10); off at oracle scale."""
    return _banded_hamming_pairs(
        image_dhash(spark, sf_dir).select("doc_id", "fp_hi", "fp_lo"),
        bucket_cap,
        name="dhash-band",
    )


def image_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image CLUSTERS: transitive closure over the banded
    dHash pairs, every image labeled with its cluster representative
    (min doc_id) plus the cluster size and an is_canonical keep flag —
    the operator an image-dedup pipeline actually deletes from, exactly
    like dedup_groups for text. Reuses graph.connected_components (driver
    union-find under the measured edge gate, pointer-halved label
    propagation above it); singletons label themselves via the left-join
    pattern, never a node collect."""
    return _perceptual_groups(
        spark,
        sf_dir,
        image_dhash(spark, sf_dir).select("doc_id"),
        dedup_image_dhash_pairs(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Perceptual AUDIO dedup: energy-envelope fingerprints over decoded PCM
# --------------------------------------------------------------------------
#
# Envelope-WAV generator formulas (the oracle contract — the Spark side
# recovers the bits from DECODED int16 samples):
#   g        = doc_id div 4; member m = doc_id % 4
#   SEG(g)   = 20 + g % 9 samples per segment, AUDIO_N_SEG = 64 segments
#   level(s) = 100 or 300 by p(g,s), where p is the xorshift-multiply
#              finalizer over k = (g % 59999) * 97 + s (the dHash mix
#              with an audio-domain stride)
#   gain     = 1 + m for m in 0..2 (perceptually identical: a uniform
#              gain preserves every envelope comparison); m = 3 is the
#              variant at gain 1 with level FLIPPED at segment g % 64
#              (a local edit: flips at most 2 envelope bits)
#   samples  = per segment, alternating +amp/−amp (|sample| constant =
#              level·gain; max 900 << int16), mono 16-bit, rate 8000
#   fp bit s (s = 0..62) = [Σ|samples(seg s+1)| > Σ|samples(seg s)|]
#              — 63 bits packed fp_lo = bits 0..31, fp_hi = bits 32..62
AUDIO_GROUP = 4
AUDIO_N_SEG = 64
AUDIO_RATE = 8000
AUDIO_LOW, AUDIO_HIGH = 100, 300


def _audio_p(g: int, s: int) -> int:
    v = (((g % PHASH_MOD) * 97 + s) * PHASH_MUL) % 4294967296
    v ^= v >> 16
    v = (v * 40503) % 4294967296
    return (v >> 15) & 1


def envelope_wav_bytes(doc_id: int) -> bytes:
    """Deterministic segmented square-wave WAV for doc_id (formulas above)."""
    import struct

    g, m = doc_id // AUDIO_GROUP, doc_id % AUDIO_GROUP
    seg = 20 + g % 9
    gain = 1 + m if m < 3 else 1
    flip = g % AUDIO_N_SEG if m == 3 else -1
    out = bytearray()
    for s in range(AUDIO_N_SEG):
        p = _audio_p(g, s)
        if s == flip:
            p = 1 - p
        amp = (AUDIO_HIGH if p else AUDIO_LOW) * gain
        for i in range(seg):
            out += struct.pack("<h", amp if i % 2 == 0 else -amp)
    data = bytes(out)
    fmt = struct.pack("<HHIIHH", 1, 1, AUDIO_RATE, AUDIO_RATE * 2, 2, 16)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_envelope_wav_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope-WAV corpus keyed on doc_id: groups of AUDIO_GROUP clips
    share a loudness envelope; siblings differ by uniform gain
    (perceptually identical), one clip per group carries a one-segment
    local edit (perceptually near-identical)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["doc_id"].map(lambda i: envelope_wav_bytes(int(i))),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def envelope_fp_from_wav(blob: bytes):
    """(sample_rate, n_samples, fp_hi, fp_lo) — REAL sample decode: RIFF
    walk to the mono 16-bit PCM, split into AUDIO_N_SEG equal segments,
    compare adjacent segments' exact integer Σ|sample| (gain-invariant by
    construction). None for non-WAV / non-divisible streams."""
    import struct

    import numpy as np

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    pos, rate, data = 12, None, None
    while pos + 8 <= len(blob):
        typ = blob[pos : pos + 4]
        (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        payload = blob[pos + 8 : pos + 8 + size]
        if len(payload) < size:
            return None
        if typ == b"fmt " and size >= 16:
            _f, chans, rate = struct.unpack("<HHI", payload[:8])
            if _f != 1 or chans != 1:
                return None
        elif typ == b"data":
            data = payload
        pos += 8 + size + (size & 1)
    if rate is None or data is None or len(data) % 2 != 0:
        return None
    s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    if s.size == 0 or s.size % AUDIO_N_SEG != 0:
        return None
    sums = np.abs(s).reshape(AUDIO_N_SEG, -1).sum(axis=1)
    lo = hi = 0
    for i in range(AUDIO_N_SEG - 1):
        if sums[i + 1] > sums[i]:
            if i < 32:
                lo |= 1 << i
            else:
                hi |= 1 << (i - 32)
    return int(rate), int(s.size), hi, lo


def audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio fingerprint stage: decode every envelope-WAV's
    PCM samples and emit the 63-bit loudness-envelope hash as two
    nonnegative halves — a chromaprint-shaped pipeline with an exactly
    replayable contract (the DuckDB oracle recomputes the generator's
    closed form; the Spark side must land on identical bits from the
    decoded int16 stream). Shuffle-free mapInPandas + numpy, the same
    100 TB shape as image_dhash."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [envelope_fp_from_wav(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [f[0] if f else None for f in feats],
                    "n_samples": [f[1] if f else None for f in feats],
                    "fp_hi": [f[2] if f else None for f in feats],
                    "fp_lo": [f[3] if f else None for f in feats],
                }
            )

    return _fp_cache(spark).get_or_build(
        (sf_dir, "audio"),
        lambda: synth_envelope_wav_payloads(spark, sf_dir).mapInPandas(
            extract,
            schema="doc_id long, sample_rate int, n_samples long, fp_hi long, fp_lo long",
        ),
    )


def dedup_audio_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: "int | str | None" = "auto"
) -> DataFrame:
    """Perceptual near-duplicate audio pairs: the banded Hamming join over
    envelope fingerprints — same candidate discipline as
    dedup_image_dhash_pairs (4x16-bit bands, exact bit_count(xor) verify
    at HAMMING_T, skew-guarded buckets, oracle replays the band rule)."""
    return _banded_hamming_pairs(
        audio_fingerprint(spark, sf_dir).select("doc_id", "fp_hi", "fp_lo"),
        bucket_cap,
        name="audio-band",
    )


# --------------------------------------------------------------------------
# Perceptual VIDEO dedup: per-keyframe dHash over REAL LZW-decoded frames
# --------------------------------------------------------------------------
#
# Patterned-GIF generator formulas (the oracle contract):
#   g        = doc_id div 4; member m = doc_id % 4
#   frames   = VIDEO_FRAMES = 4 keyframes per clip
#   W, H     = 18 + g % 5, 16 + g % 3 (the dHash grid geometry)
#   cell pattern per frame: p over k = (((g % 59999)*4 + f)*72 + c)
#            through the xorshift-multiply finalizer (max k ~1.7e7,
#            products << BIGINT)
#   levels   = 30 / 90 + (doc_id % 7) global brightness offset — values
#            stay < 128 so every pixel is a single 7-bit LZW literal
#   variant  (m = 3): frame f* = g % 4 gets cell c* = g % 72 flipped —
#            at most 2 dHash bits of ONE keyframe change; the other 3
#            keyframe hashes stay identical
#   pixels ride a 128-entry grayscale GCT (palette[i] = (i,i,i)), so the
#   decoded color index maps through the palette to the luminance the
#   fingerprint block-averages
VIDEO_FRAMES = 4
VIDEO_LOW, VIDEO_HIGH = 30, 90
# videos match when they share at least this many keyframe hashes (of 4):
# 3 keeps the variant (one edited keyframe) while cross-group clips share 0
VIDEO_MATCH_MIN = 3


def _video_p(g: int, f: int, c: int) -> int:
    v = ((((g % PHASH_MOD) * VIDEO_FRAMES + f) * 72 + c) * PHASH_MUL) % 4294967296
    v ^= v >> 16
    v = (v * 40503) % 4294967296
    return (v >> 15) & 1


def _lzw_literal_stream(pixels: bytes) -> bytes:
    """GIF LZW stream (min code size 7) encoding each pixel as its own
    8-bit literal code, with a clear code before every 125-pixel run so
    the decoder's table never grows past the 8-bit width — the gif_bytes
    discipline, generalized from all-zero pixels to arbitrary values
    < 128."""
    codes = bytearray()
    for start in range(0, len(pixels), 125):
        codes.append(0x80)
        codes += pixels[start : start + 125]
    codes.append(0x81)
    return bytes(codes)


def pattern_gif_bytes(doc_id: int) -> bytes:
    """Deterministic patterned multi-frame GIF89a for doc_id."""
    import struct

    g, m = doc_id // PHASH_GROUP, doc_id % PHASH_GROUP
    w, h = 18 + g % 5, 16 + g % 3
    off = doc_id % 7
    flip_f = g % VIDEO_FRAMES if m == 3 else -1
    flip_c = g % 72
    xb = [bx * w // 9 for bx in range(10)]
    yb = [by * h // 8 for by in range(9)]

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w + 4, h + 4)
    out += bytes((0x80 | 0x06, 0, 0))  # GCT present, size 6 → 128 entries
    out += bytes(v for i in range(128) for v in (i, i, i))  # grayscale GCT
    for f in range(VIDEO_FRAMES):
        pix = bytearray(w * h)
        for by in range(8):
            for bx in range(9):
                c = by * 9 + bx
                p = _video_p(g, f, c)
                if f == flip_f and c == flip_c:
                    p = 1 - p
                val = (VIDEO_HIGH if p else VIDEO_LOW) + off
                for y in range(yb[by], yb[by + 1]):
                    row = y * w
                    for x in range(xb[bx], xb[bx + 1]):
                        pix[row + x] = val
        out += bytes((0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00))
        out += b"\x2c" + struct.pack("<HHHH", f % 4, (2 * f) % 4, w, h) + b"\x00"
        out += bytes((7,))
        codes = _lzw_literal_stream(bytes(pix))
        for start in range(0, len(codes), 255):
            block = codes[start : start + 255]
            out += bytes((len(block),)) + block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def synth_pattern_gif_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patterned multi-frame GIF corpus keyed on doc_id (contract above)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["doc_id"].map(lambda i: pattern_gif_bytes(int(i))),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int):
    """General GIF LZW decode (variable code width, growing string table,
    clear/EOI handling — LZW as published in the GIF89a spec, not just
    the literal subset our generator emits). Returns the pixel-index
    bytes or None on a malformed stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out[:n_pixels]) if len(out) >= n_pixels else None
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                return None  # code beyond table: corrupt stream
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return bytes(out[:n_pixels]) if len(out) >= n_pixels else None


def keyframe_dhashes_from_gif(blob: bytes):
    """[(frame_idx, fp_hi, fp_lo)] — REAL frame decode: walk the GIF block
    structure, LZW-decode every frame's pixel indices, map them through
    the global color table to luminance, block-average to the 9x8 dHash
    grid. None if the bytes are not a GIF with a global color table, or
    are truncated anywhere (every read is bounds-guarded — a cut blob
    returns the frames decoded so far or None, never raises: ADVICE
    r10)."""
    import struct

    import numpy as np

    if len(blob) < 13 or blob[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = blob[10]
    if not packed & 0x80:
        return None
    pos = 13
    n_gct = 2 << (packed & 0x07)
    if pos + 3 * n_gct > len(blob):  # truncated global color table
        return None
    palette = [blob[pos + 3 * i] for i in range(n_gct)]  # grayscale: R = luma
    pos += 3 * n_gct
    frames = []
    idx = 0
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x3B:
            break
        if b0 == 0x21:  # extension
            pos += 2
            while pos < len(blob) and blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            return None
        # descriptor (10 bytes incl. the 0x2C introducer) + min-code-size
        # byte must both be present — mirror parse_gif's truncation guard
        if pos + 11 > len(blob):
            return None
        _l, _t, w, h = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
        if blob[pos + 9] & 0x80:  # local color table unsupported here
            return None
        pos += 10
        mcs = blob[pos]
        pos += 1
        stream = bytearray()
        while pos < len(blob) and blob[pos] != 0:
            n = blob[pos]
            stream += blob[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1
        pix = _lzw_decode(bytes(stream), mcs, w * h)
        if pix is None:
            return None
        luma = np.array([palette[i] for i in pix], dtype=np.float64).reshape(h, w)
        xb = [bx * w // 9 for bx in range(10)]
        yb = [by * h // 8 for by in range(9)]
        means = [
            [luma[yb[by] : yb[by + 1], xb[bx] : xb[bx + 1]].mean() for bx in range(9)]
            for by in range(8)
        ]
        lo = hi = 0
        for by in range(8):
            for bx in range(8):
                if means[by][bx + 1] > means[by][bx]:
                    i = by * 8 + bx
                    if i < 32:
                        lo |= 1 << i
                    else:
                        hi |= 1 << (i - 32)
        frames.append((idx, hi, lo))
        idx += 1
    return frames or None


def video_keyframe_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-keyframe perceptual fingerprints: one row per (doc_id,
    frame_idx) with the frame's dHash halves, decoded from a REAL GIF LZW
    pixel stream (general variable-width decoder, not just the literal
    subset the generator emits) through the global color table. The
    oracle replays the generator closed form per (doc, frame), so the
    whole chain — block walk, LZW, palette mapping, block means — must be
    exact. Shuffle-free mapInPandas; frames explode rows 4x but stay in
    the same task."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fids, his, los = [], [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                for fidx, hi, lo in keyframe_dhashes_from_gif(bytes(blob)) or []:
                    ids.append(doc_id)
                    fids.append(fidx)
                    his.append(hi)
                    los.append(lo)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fids, "fp_hi": his, "fp_lo": los}
            )

    return _fp_cache(spark).get_or_build(
        (sf_dir, "video"),
        lambda: synth_pattern_gif_payloads(spark, sf_dir).mapInPandas(
            extract, schema="doc_id long, frame_idx int, fp_hi long, fp_lo long"
        ),
    )


def dedup_video_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs by shared keyframes: two clips are
    CANDIDATES iff some keyframe hash collides exactly (the frame hash IS
    the band — one equi-join shuffle keyed by (fp_hi, fp_lo), never
    all-pairs), and MATCH when they share >= VIDEO_MATCH_MIN of their
    keyframes — the edited-copy rule: a re-encode with one replaced
    keyframe still matches on the other three, while cross-group clips
    share none. Output (doc_a, doc_b, n_shared) over distinct frame
    hashes; exact oracle replays the same join."""
    fp = video_keyframe_dhash(spark, sf_dir).select(
        "doc_id", "fp_hi", "fp_lo"
    ).distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hi") == F.col("b.fp_hi"))
            & (F.col("a.fp_lo") == F.col("b.fp_lo"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= VIDEO_MATCH_MIN)
    )


def multimodal_dup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal duplicate consensus: one verdict per candidate asset
    pair, voting across the three perceptual detectors (image dHash,
    audio envelope, video keyframes). A pair is a CONSENSUS duplicate
    when at least two modalities flag it — the curation rule that keeps
    single-modality false positives (a coincidental envelope match) out
    of the delete queue while catching re-encodes that slip one detector.

    Plan shape: three already-banded pair sets (each one equi-join
    shuffle, never all-pairs) full-outer-joined on the pair key — the
    joins are pair-cardinality, tiny relative to the corpus. Exact
    oracle: the three pair oracles composed with the same FULL JOINs and
    vote arithmetic."""
    img = dedup_image_dhash_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("image_dup")
    )
    aud = dedup_audio_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("audio_dup")
    )
    vid = dedup_video_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(True).alias("video_dup")
    )
    out = (
        img.join(aud, ["doc_a", "doc_b"], "full_outer")
        .join(vid, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("image_dup", F.lit(False)).alias("image_dup"),
            F.coalesce("audio_dup", F.lit(False)).alias("audio_dup"),
            F.coalesce("video_dup", F.lit(False)).alias("video_dup"),
        )
        .withColumn(
            "n_modalities",
            (
                F.col("image_dup").cast("int")
                + F.col("audio_dup").cast("int")
                + F.col("video_dup").cast("int")
            ).cast("long"),
        )
    )
    return out.withColumn("consensus_dup", F.col("n_modalities") >= 2)


def _perceptual_groups(
    spark: SparkSession, sf_dir: str, fps: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Shared cluster resolution for the perceptual families: transitive
    closure over a pair set via graph.connected_components (driver
    union-find under the measured edge gate, pointer-halved propagation
    above it; singletons label themselves by left join), plus cluster
    size and the is_canonical keep flag."""
    from pyspark.sql.window import Window

    from .graph import connected_components

    labels = connected_components(fps, pairs.select("doc_a", "doc_b"))
    w = Window.partitionBy("group_id")
    return (
        labels.withColumn("n_members", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("is_canonical", F.col("doc_id") == F.col("group_id"))
        .select("doc_id", "group_id", "n_members", "is_canonical")
    )


def audio_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio CLUSTERS: transitive closure over the banded
    envelope pairs — the delete-from operator for the audio corpus,
    mirroring image_dedup_groups (same shared resolution helper)."""
    return _perceptual_groups(
        spark,
        sf_dir,
        audio_fingerprint(spark, sf_dir).select("doc_id"),
        dedup_audio_pairs(spark, sf_dir),
    )


def video_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual video CLUSTERS: transitive closure over the
    shared-keyframe pairs — the delete-from operator for the video
    corpus, mirroring image_dedup_groups (same shared resolution
    helper)."""
    return _perceptual_groups(
        spark,
        sf_dir,
        video_keyframe_dhash(spark, sf_dir).select("doc_id").distinct(),
        dedup_video_pairs(spark, sf_dir),
    )
