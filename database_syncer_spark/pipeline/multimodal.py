"""Multimodal column plumbing (SURVEY.md §2 B11 multimodal_columns).

Pattern for 100-TB multimodal corpora: media payloads are opaque
``binary`` columns with typed metadata columns beside them; every decode /
feature extraction is one Arrow-batched ``map_arrow`` pass
(:func:`map_files`) so each Python worker sees a columnar batch of
payloads (never one row at a time), and partitioning/pruning stay fully
Spark-native because the payload is just another column.

The container has no image/audio codecs, so the real decoder is a
clearly-marked stub (NotImplementedError) and the default pipeline uses a
deterministic byte-level feature extractor — the Spark-side plumbing
(schema, batching, UDF signature) is identical to what a real decoder
would use.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from database_syncer_spark.arrow_map import map_arrow

DECODED_SCHEMA = "doc_id bigint, n_bytes int, payload_md5 string, header_hex string"


def attach_binary_payload(documents: DataFrame) -> DataFrame:
    """Materialize an opaque binary column (utf-8 bytes of text here; an
    image/audio blob in production — the engine treats both identically)."""
    return documents.withColumn("payload", F.encode("text", "utf-8"))


def map_files(files: DataFrame, col: str, schema: str,
              rows: Callable[[bytes], Iterable[tuple]]) -> DataFrame:
    """The one per-file decode pass: ``rows(data)`` turns one file's bytes
    (``files``' binary column ``col``) into its output tuples, in
    ``schema``'s column order after ``doc_id``, through
    :func:`~database_syncer_spark.arrow_map.map_arrow` over (doc_id,
    ``col``): an empty result is typed as declared, and a value that
    does not fit its column raises a ``ValueError`` naming the column.
    A decoder's ``ValueError`` fails the task the same way."""
    out = StructType.fromDDL(schema)

    def decode(batches):
        for b in batches:
            got = [(doc_id, *r)
                   for doc_id, data in zip(b.column("doc_id").to_pylist(),
                                           b.column(col).to_pylist())
                   for r in rows(data)]
            yield list(zip(*got)) or [()] * len(out)

    return map_arrow(files.select("doc_id", col), out, decode)


def decode_media(payload: bytes) -> dict:
    """Remaining un-implemented decode surface — now down to
    progressive JPEG (SOF2 spectral selection / successive
    approximation) and MDCT-transform audio/video (MP3/AAC/H.26x),
    whose codecs live in libraries this container does not have.
    Everything else decodes FOR REAL: parse_image_header (PNG/GIF/JPEG
    dimensions), parse_media_header (WAV/RIFF audio metadata,
    MP4/ISO-BMFF movie metadata), decode_png_pixels (zlib inflate + all
    five scanline filters), decode_gif_pixels (variable-width LZW),
    decode_wav_samples (PCM), and jpeg.decode_jpeg_pixels (BASELINE
    JPEG: generic DQT/DHT parse, Huffman entropy decode, dequantize,
    numpy IDCT, 4:2:0 upsampling, YCbCr->RGB). The distributed plumbing
    in extract_features works unchanged once the rest is implemented."""
    raise NotImplementedError(
        "progressive-JPEG and MDCT codecs not available in this "
        "environment; baseline-JPEG pixels: jpeg.decode_jpeg_pixels / "
        "pixel_stats; PNG pixels: decode_png_pixels; GIF pixels: "
        "decode_gif_pixels; PCM samples: decode_wav_samples; "
        "container metadata: parse_image_header / parse_media_header")


# --- real image-container header decode (no codec library needed) ----------
#
# A 100-TB image corpus's first pipeline stage is rarely "decode pixels";
# it is "read the container header": dimensions, format routing, corrupt-
# file quarantine. All three dominant containers expose dimensions in
# their first bytes by SPEC — PNG's IHDR chunk (first chunk, mandatory,
# big-endian u32s), GIF's logical screen descriptor (little-endian u16s),
# JPEG's SOF segment (scan the marker stream, big-endian u16s) — so the
# decode is pure byte arithmetic, exactly implementable here.

#: JPEG start-of-frame markers that carry dimensions (C0-CF minus the
#: non-SOF C4/C8/CC: DHT, JPG extension, DAC)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_image_header(data: bytes) -> tuple[str, int, int]:
    """(format, width, height) from the leading bytes of a PNG, GIF or
    JPEG file — a REAL parser (works on files from any encoder), pure
    Python over the container structure, no codec library.

    Raises ValueError on anything unrecognized or structurally corrupt:
    in the pipeline that routes the file to quarantine instead of
    propagating a silent (0, 0)."""
    if data[:8] == _PNG_SIG:
        # first chunk must be IHDR (spec §5.6); verify its CRC so a
        # truncated/corrupt header quarantines rather than mis-sizes
        if len(data) < 33 or data[12:16] != b"IHDR":
            raise ValueError("corrupt PNG: missing IHDR")
        import zlib

        if zlib.crc32(data[12:29]) != int.from_bytes(data[29:33], "big"):
            raise ValueError("corrupt PNG: IHDR CRC mismatch")
        return ("png", int.from_bytes(data[16:20], "big"),
                int.from_bytes(data[20:24], "big"))
    if data[:6] in (b"GIF87a", b"GIF89a"):
        if len(data) < 10:
            raise ValueError("corrupt GIF: truncated screen descriptor")
        return ("gif", int.from_bytes(data[6:8], "little"),
                int.from_bytes(data[8:10], "little"))
    if data[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        while i + 4 <= len(data):
            if data[i] != 0xFF:
                raise ValueError(f"corrupt JPEG: bad marker at {i}")
            marker = data[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in _JPEG_SOF:
                if i + 9 > len(data):
                    raise ValueError("corrupt JPEG: truncated SOF")
                return ("jpeg", int.from_bytes(data[i + 7:i + 9], "big"),
                        int.from_bytes(data[i + 5:i + 7], "big"))
            if 0xD0 <= marker <= 0xD9 or marker == 0x01:
                i += 2  # standalone marker, no length field
                continue
            i += 2 + int.from_bytes(data[i + 2:i + 4], "big")
        raise ValueError("corrupt JPEG: no SOF before EOF")
    raise ValueError(f"unrecognized image container: {data[:8].hex()}")


def synth_image(fmt: str, width: int, height: int,
                total_bytes: int) -> bytes:
    """Deterministic spec-valid image file of exactly ``total_bytes``:
    a real header carrying (width, height) + deterministic body bytes.
    The staged-fixture generator for the image-dims key — the parser
    above does NOT get to share code with it (encode is struct-pack,
    decode is the scanner), so a decode bug can't cancel out."""
    if fmt == "png":
        import struct
        import zlib

        ihdr = b"IHDR" + struct.pack(">IIBBBBB", width, height, 8, 2,
                                     0, 0, 0)
        head = (_PNG_SIG + struct.pack(">I", 13) + ihdr
                + struct.pack(">I", zlib.crc32(ihdr)))
        tail = b"\x00\x00\x00\x00IEND\xaeB`\x82"
    elif fmt == "gif":
        head = (b"GIF89a" + width.to_bytes(2, "little")
                + height.to_bytes(2, "little") + b"\x70\x00\x00")
        tail = b"\x3b"
    elif fmt == "jpeg":
        com = b"synthetic fixture"
        sof = (b"\xff\xc0" + (8 + 3 * 3).to_bytes(2, "big") + b"\x08"
               + height.to_bytes(2, "big") + width.to_bytes(2, "big")
               + b"\x03" + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01")
        head = (b"\xff\xd8"                                   # SOI
                + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00"     # APP0
                + b"\x00\x01\x00\x01\x00\x00"
                + b"\xff\xfe" + (2 + len(com)).to_bytes(2, "big") + com
                + sof
                + b"\xff\xda\x00\x08\x01\x01\x00\x00?\x00")   # SOS
        tail = b"\xff\xd9"
    else:
        raise ValueError(f"unknown format {fmt!r}")
    pad = total_bytes - len(head) - len(tail)
    if pad < 0:
        raise ValueError(f"total_bytes {total_bytes} < header size")
    # deterministic body, 0xFF-free so a JPEG scan can't misread it
    body = bytes((width * 251 + height * 241 + i * 31) % 251
                 for i in range(pad))
    return head + body + tail


IMAGE_DIMS_SCHEMA = ("doc_id bigint, format string, width int, "
                     "height int, n_bytes int")


def decode_image_headers(binary_files: DataFrame) -> DataFrame:
    """Distributed image-header decode over a ``binaryFile`` scan: one
    parse_image_header call per file through :func:`map_files` — the
    real-decoder shape with zero codec deps. Input contract: (doc_id,
    content) columns."""
    return map_files(binary_files, "content", IMAGE_DIMS_SCHEMA,
                     lambda data: [(*parse_image_header(data), len(data))])


# --- real audio/video container metadata (no codec library needed) ---------
#
# Same principle as the image headers: the metadata a media pipeline
# needs for routing, sharding and quarantine lives in the CONTAINER
# structure, not the encoded stream. WAV keeps it in the RIFF `fmt `/
# `data` chunks (little-endian); MP4 keeps it in the `moov/mvhd` box
# (big-endian, ISO 14496-12) plus one `trak` box per stream. Both are
# pure byte arithmetic; only decoding actual samples needs a codec.

def parse_media_header(data: bytes) -> tuple[str, int, int, int]:
    """(container, duration_ms, sample_rate, n_tracks) from the bytes of
    a WAV or MP4 file — a REAL parser over the container structure, no
    codec library. For WAV, ``sample_rate`` is the PCM rate and
    ``n_tracks`` the channel count; for MP4, ``sample_rate`` is the mvhd
    timescale (units/second) and ``n_tracks`` the number of trak boxes.

    Raises ValueError on anything unrecognized or structurally corrupt —
    quarantine routing, never a silent zero."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        fmt = None
        data_size = None
        i = 12
        while i + 8 <= len(data):
            cid = data[i:i + 4]
            csize = int.from_bytes(data[i + 4:i + 8], "little")
            if cid == b"fmt ":
                if csize < 16 or i + 8 + 16 > len(data):
                    raise ValueError("corrupt WAV: truncated fmt chunk")
                p = i + 8
                fmt = {
                    "channels": int.from_bytes(data[p + 2:p + 4], "little"),
                    "sample_rate": int.from_bytes(data[p + 4:p + 8],
                                                  "little"),
                    "block_align": int.from_bytes(data[p + 12:p + 14],
                                                  "little"),
                }
            elif cid == b"data":
                if i + 8 + csize > len(data):
                    raise ValueError(
                        f"corrupt WAV: data chunk declares {csize} bytes, "
                        f"only {len(data) - i - 8} present")
                data_size = csize
            i += 8 + csize + (csize & 1)  # RIFF pads odd chunks
        if fmt is None or data_size is None:
            raise ValueError("corrupt WAV: missing fmt/data chunk")
        if not fmt["sample_rate"] or not fmt["block_align"]:
            raise ValueError("corrupt WAV: zero rate/block align")
        if not fmt["channels"]:
            raise ValueError("corrupt WAV: zero channel count")
        n_samples = data_size // fmt["block_align"]
        return ("wav", n_samples * 1000 // fmt["sample_rate"],
                fmt["sample_rate"], fmt["channels"])
    if len(data) >= 12 and data[4:8] == b"ftyp":
        mvhd = None
        n_traks = 0
        for btype, body, end in _iter_boxes(data, 0, len(data)):
            if btype != b"moov":
                continue
            for ctype, cbody, cend in _iter_boxes(data, body, end):
                if ctype == b"trak":
                    n_traks += 1
                elif ctype == b"mvhd":
                    mvhd = _read_mvhd_like(data, cbody, cend, "mvhd")
        if mvhd is None:
            raise ValueError("corrupt MP4: no moov/mvhd box")
        if not mvhd[0]:
            raise ValueError("corrupt MP4: zero mvhd timescale")
        return ("mp4", mvhd[1] * 1000 // mvhd[0], mvhd[0], n_traks)
    raise ValueError(f"unrecognized media container: {data[:12].hex()}")


def _iter_boxes(data: bytes, lo: int, hi: int):
    """Walk ISO-BMFF boxes in data[lo:hi] — the ONE box-size/largesize/
    bounds implementation both the flat (parse_media_header) and nested
    (parse_mp4_tracks) walks ride, so a bounds fix can't miss one."""
    i = lo
    while i + 8 <= hi:
        size = int.from_bytes(data[i:i + 4], "big")
        btype = data[i + 4:i + 8]
        body = i + 8
        if size == 1:  # 64-bit largesize follows
            if i + 16 > hi:
                raise ValueError(f"corrupt MP4: truncated largesize at {i}")
            size = int.from_bytes(data[i + 8:i + 16], "big")
            body = i + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = hi - i
        if size < 8 or i + size > hi:
            raise ValueError(f"corrupt MP4: bad box size at {i}")
        yield btype, body, i + size
        i += size


def _read_mvhd_like(data: bytes, body: int, end: int,
                    name: str) -> tuple[int, int]:
    """(timescale, duration) from an mvhd/mdhd box BODY, with the box
    required to actually contain the fields it claims — an undersized
    box quarantines (ValueError) instead of silently reading the
    sibling box's bytes as a timescale."""
    if end - body < 4:
        raise ValueError(f"corrupt MP4: truncated {name} box")
    version = data[body]
    need = 32 if version == 1 else 20
    if end - body < need:
        raise ValueError(
            f"corrupt MP4: {name} v{version} box too small "
            f"({end - body} < {need} bytes)")
    if version == 1:
        return (int.from_bytes(data[body + 20:body + 24], "big"),
                int.from_bytes(data[body + 24:body + 32], "big"))
    return (int.from_bytes(data[body + 12:body + 16], "big"),
            int.from_bytes(data[body + 16:body + 20], "big"))


def synth_wav(sample_rate: int, channels: int, n_samples: int) -> bytes:
    """Deterministic spec-valid 16-bit PCM WAV (RIFF/WAVE + fmt + data).
    Encoder is struct-pack; the parser above is a chunk scanner — no
    shared code, so a decode bug can't cancel out."""
    import struct

    block = channels * 2
    data_size = n_samples * block
    body = bytes((sample_rate + channels * 7 + i * 13) % 256
                 for i in range(data_size))
    return (b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + struct.pack("<HHIIHH", 1, channels, sample_rate,
                          sample_rate * block, block, 16)
            + b"data" + data_size.to_bytes(4, "little") + body)


def synth_mp4(timescale: int, duration_units: int, n_traks: int,
              total_bytes: int) -> bytes:
    """Deterministic spec-valid MP4 skeleton of exactly ``total_bytes``:
    ftyp + moov(mvhd v0 + n_traks × trak(tkhd + mdia(mdhd + hdlr))) +
    mdat padding. Per-track media metadata is arithmetic in the track
    index: mdhd timescale 1000 + 500·t, mdhd duration
    duration_units·(t + 1), handler alternates vide/soun."""
    def box(btype: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    ftyp = box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isommp42")
    mvhd = box(b"mvhd", bytes(4)                       # version 0 + flags
               + bytes(8)                              # ctime, mtime
               + timescale.to_bytes(4, "big")
               + duration_units.to_bytes(4, "big")
               + (0x00010000).to_bytes(4, "big")       # rate 1.0
               + (0x0100).to_bytes(2, "big")           # volume 1.0
               + bytes(10)                             # reserved
               + (0x00010000).to_bytes(4, "big") + bytes(12)   # identity
               + (0x00010000).to_bytes(4, "big") + bytes(12)   # matrix
               + (0x40000000).to_bytes(4, "big")
               + bytes(24)                             # pre_defined
               + (n_traks + 1).to_bytes(4, "big"))     # next_track_ID

    def trak(t: int) -> bytes:
        tkhd = box(b"tkhd", bytes(3) + b"\x07"         # v0, enabled
                   + bytes(8)                          # ctime, mtime
                   + (t + 1).to_bytes(4, "big")        # track_ID
                   + bytes(4)                          # reserved
                   + duration_units.to_bytes(4, "big")
                   + bytes(60))                        # layer..matrix..wh
        mdhd = box(b"mdhd", bytes(4)                   # v0 + flags
                   + bytes(8)                          # ctime, mtime
                   + (1000 + 500 * t).to_bytes(4, "big")
                   + (duration_units * (t + 1) % (1 << 32))
                   .to_bytes(4, "big")   # u32 field per spec
                   + b"\x55\xc4"                       # lang 'und'
                   + bytes(2))                         # pre_defined
        hdlr = box(b"hdlr", bytes(4) + bytes(4)
                   + (b"vide" if t % 2 == 0 else b"soun")
                   + bytes(12) + b"\x00")              # empty NUL name
        return box(b"trak", tkhd + box(b"mdia", mdhd + hdlr))

    head = ftyp + box(b"moov", mvhd + b"".join(trak(t)
                                               for t in range(n_traks)))
    pad = total_bytes - len(head) - 8
    if pad < 0:
        raise ValueError(f"total_bytes {total_bytes} < skeleton size")
    mdat = box(b"mdat", bytes((timescale + duration_units + i * 31) % 256
                              for i in range(pad)))
    return head + mdat


def parse_mp4_tracks(data: bytes) -> list[tuple[int, str, int, int]]:
    """Per-track media metadata from an MP4: one (track_id, handler,
    media_timescale, media_duration) per trak box, via the nested
    moov → trak → {tkhd, mdia → {mdhd, hdlr}} walk — the box-tree
    recursion production metadata extractors actually run (the flat
    parse_media_header walk only counts traks). mdhd v0/v1 both
    handled; structural corruption raises ValueError."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an MP4: missing ftyp")

    out = []
    for btype, body, end in _iter_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for ctype, cbody, cend in _iter_boxes(data, body, end):
            if ctype != b"trak":
                continue
            track_id = handler = None
            ts_dur = None
            for t2, b2, e2 in _iter_boxes(data, cbody, cend):
                if t2 == b"tkhd":
                    v = data[b2] if e2 > b2 else None
                    off = b2 + (4 + 16 if v else 4 + 8)
                    if v is None or off + 4 > e2:
                        raise ValueError("corrupt MP4: truncated tkhd")
                    track_id = int.from_bytes(data[off:off + 4], "big")
                elif t2 == b"mdia":
                    for t3, b3, e3 in _iter_boxes(data, b2, e2):
                        if t3 == b"mdhd":
                            ts_dur = _read_mvhd_like(data, b3, e3, "mdhd")
                        elif t3 == b"hdlr":
                            if e3 - b3 < 12:
                                raise ValueError(
                                    "corrupt MP4: truncated hdlr")
                            handler = data[b3 + 8:b3 + 12].decode(
                                "ascii", "replace")
            if track_id is None or handler is None or ts_dur is None:
                raise ValueError(
                    "corrupt MP4: trak missing tkhd/mdhd/hdlr")
            if not ts_dur[0]:
                raise ValueError("corrupt MP4: zero mdhd timescale")
            out.append((track_id, handler, ts_dur[0], ts_dur[1]))
    if not out:
        raise ValueError("corrupt MP4: no trak boxes under moov")
    return out


#: media_timescale is BIGINT: mdhd carries a u32 timescale. track_id
#: stays int, so a legal u32 track_ID above 2^31 - 1 raises in map_files.
TRACK_META_SCHEMA = ("doc_id bigint, track_id int, handler string, "
                     "media_timescale bigint, duration_ms bigint")


def decode_track_meta(binary_files: DataFrame) -> DataFrame:
    """Distributed per-track MP4 metadata through :func:`map_files`: one
    nested box walk per file, one output row per track. A u32 track_ID
    above 2^31 - 1 raises instead of wrapping into the int column.
    Input contract: (doc_id, content)."""
    return map_files(
        binary_files, "content", TRACK_META_SCHEMA,
        lambda data: [(tid, handler, ts, dur * 1000 // ts)
                      for tid, handler, ts, dur in parse_mp4_tracks(data)])


# --- real PNG PIXEL decode (stdlib zlib only — no codec library) -----------
#
# PNG is the one mainstream image format whose pixel data needs no codec
# library: IDAT is zlib-compressed scanlines, each prefixed by one of
# five spec-defined byte filters (None/Sub/Up/Average/Paeth, RFC 2083
# §6). Python ships zlib, so a REAL pixel decode — filters and all — is
# pure byte arithmetic here. The stub below (decode_media) now covers
# only JPEG/GIF pixels and audio/video samples, whose entropy coders
# genuinely need codec libraries.

def _paeth(a: int, b: int, c: int) -> int:
    # the spec predictor (RFC 2083 §6.6): nearest of left/up/up-left
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_pixels(data: bytes) -> tuple[int, int, bytes]:
    """(width, height, raw RGB bytes) from an 8-bit truecolor PNG — a
    REAL pixel decoder: chunk walk, multi-IDAT zlib inflate, per-row
    unfilter across all five filter types. Raises ValueError on
    structural corruption (quarantine, never garbage pixels)."""
    fmt, width, height = parse_image_header(data)
    if fmt != "png":
        raise ValueError(f"not a PNG: {fmt}")
    if data[24] != 8 or data[25] != 2:
        raise ValueError("decoder covers 8-bit truecolor (IHDR 8,2) only")
    import zlib

    idat = bytearray()
    i = 8
    while i + 8 <= len(data):
        clen = int.from_bytes(data[i:i + 4], "big")
        ctype = data[i + 4:i + 8]
        if ctype == b"IDAT":
            idat += data[i + 8:i + 8 + clen]
        if ctype == b"IEND":
            break
        i += 12 + clen  # len + type + payload + crc
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG: IDAT inflate failed ({exc})")
    stride = width * 3
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"corrupt PNG: {len(raw)} filtered bytes for {width}x{height}")
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if ftype == 1:    # Sub
            for x in range(3, stride):
                line[x] = (line[x] + line[x - 3]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = line[x - 3] if x >= 3 else 0
                line[x] = (line[x] + (left + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = line[x - 3] if x >= 3 else 0
                ul = prev[x - 3] if x >= 3 else 0
                line[x] = (line[x] + _paeth(left, prev[x], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"corrupt PNG: unknown filter {ftype} row {y}")
        out += line
        prev = bytes(line)
    return width, height, bytes(out)


def synth_png_rgb(width: int, height: int) -> bytes:
    """Deterministic REAL 8-bit truecolor PNG: pixel channel value =
    (x·7 + y·13 + c·31) mod 251, rows filtered with type y mod 5 (so a
    decoder must implement ALL five filters to reconstruct), scanlines
    zlib-compressed into IDAT. Encoder filters FORWARD; the decoder
    above unfilters — inverse operations, no shared code path."""
    import struct
    import zlib

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", zlib.crc32(ctype + payload)))

    stride = width * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = bytes(((x // 3) * 7 + y * 13 + (x % 3) * 31) % 251
                     for x in range(stride))
        ftype = y % 5
        f = bytearray(line)
        if ftype == 1:
            for x in range(stride - 1, 2, -1):
                f[x] = (f[x] - line[x - 3]) & 0xFF
        elif ftype == 2:
            for x in range(stride):
                f[x] = (f[x] - prev[x]) & 0xFF
        elif ftype == 3:
            for x in range(stride):
                left = line[x - 3] if x >= 3 else 0
                f[x] = (f[x] - (left + prev[x]) // 2) & 0xFF
        elif ftype == 4:
            for x in range(stride):
                left = line[x - 3] if x >= 3 else 0
                ul = prev[x - 3] if x >= 3 else 0
                f[x] = (f[x] - _paeth(left, prev[x], ul)) & 0xFF
        raw += bytes([ftype]) + bytes(f)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


# --- real GIF PIXEL decode (pure-Python LZW — no codec library) -------------
#
# GIF's image data is LZW with a variable code width (GIF89a spec
# appendix F): 9..12-bit codes packed LSB-first into 255-byte
# sub-blocks, CLEAR/EOI control codes, table growth one entry per code.
# That is a fully-specified algorithm, not a library dependency — so
# like PNG above, GIF pixels decode for real here. The synth side runs
# an actual LZW COMPRESSOR (not literal-spam), so fixtures exercise
# multi-character codes, width growth 9→12, the 4096-entry reset, and
# the KwKwK special case the spec calls out.

def _gif_lzw_decode(data: bytes, min_code: int) -> bytes:
    """LZW decompress a GIF code stream (already de-sub-blocked)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code + 1
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while True:
        if bitpos + width > total_bits:
            raise ValueError("corrupt GIF: code stream ran out before EOI")
        byte0 = bitpos // 8
        chunk = int.from_bytes(data[byte0:byte0 + 3], "little")
        code = (chunk >> (bitpos % 8)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table) or code >= clear:
                raise ValueError(f"corrupt GIF: first code {code} not literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):       # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt GIF: code {code} beyond table")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def decode_gif_pixels(data: bytes) -> tuple[int, int, bytes]:
    """(width, height, raw RGB bytes) from a GIF with a global color
    table — a REAL decoder: screen/image descriptors, GCT palette
    lookup, sub-block reassembly, full variable-width LZW
    (_gif_lzw_decode). Covers the single-image, non-interlaced,
    GCT-only shape; anything else quarantines with ValueError."""
    fmt, width, height = parse_image_header(data)
    if fmt != "gif":
        raise ValueError(f"not a GIF: {fmt}")
    if len(data) < 13:
        raise ValueError("corrupt GIF: truncated header")
    flags = data[10]
    if not flags & 0x80:
        raise ValueError("decoder covers global-color-table GIFs only")
    gct_n = 2 << (flags & 0x07)
    i = 13
    palette = data[i:i + gct_n * 3]
    if len(palette) < gct_n * 3:
        raise ValueError("corrupt GIF: truncated global color table")
    i += gct_n * 3

    def sub_blocks(j: int) -> tuple[bytearray, int]:
        # reassemble length-prefixed sub-blocks; truncation quarantines
        out = bytearray()
        while True:
            if j >= len(data):
                raise ValueError("corrupt GIF: truncated sub-block chain")
            n = data[j]
            if n == 0:
                return out, j + 1
            if j + 1 + n > len(data):
                raise ValueError("corrupt GIF: truncated sub-block body")
            out += data[j + 1:j + 1 + n]
            j += 1 + n

    while i < len(data):
        b = data[i]
        if b == 0x21:                  # extension: label + sub-blocks
            _, i = sub_blocks(i + 2)
        elif b == 0x2C:                # image descriptor
            if i + 11 > len(data):
                raise ValueError("corrupt GIF: truncated image descriptor")
            if data[i + 9] & 0xC0:
                raise ValueError(
                    "decoder covers non-interlaced GCT images only")
            iw = int.from_bytes(data[i + 5:i + 7], "little")
            ih = int.from_bytes(data[i + 7:i + 9], "little")
            min_code = data[i + 10]
            stream, i = sub_blocks(i + 11)
            idx = _gif_lzw_decode(bytes(stream), min_code)
            if len(idx) != iw * ih:
                raise ValueError(
                    f"corrupt GIF: {len(idx)} pixels for {iw}x{ih}")
            out = bytearray()
            for k in idx:
                if k >= gct_n:
                    raise ValueError(f"corrupt GIF: index {k} outside GCT")
                out += palette[k * 3:k * 3 + 3]
            return iw, ih, bytes(out)
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"corrupt GIF: unknown block 0x{b:02x} at {i}")
    raise ValueError("corrupt GIF: no image descriptor before trailer")


def synth_gif_lzw(width: int, height: int,
                  indices: bytes | None = None) -> bytes:
    """Deterministic REAL GIF89a: palette entry k = (k, 3k mod 256,
    7k mod 256), pixel index at (x,y) = (5x + 11y) mod 251 (or the
    caller's ``indices`` — property tests feed adversarial patterns
    like constant runs, the classic KwKwK trigger), image data produced
    by an actual LZW COMPRESSOR (dictionary build, variable code width,
    4096-entry CLEAR reset) bit-packed LSB-first into 255-byte
    sub-blocks. Compressor and decompressor share only the spec
    constants."""
    if indices is None:
        indices = bytes((5 * x + 11 * y) % 251
                        for y in range(height) for x in range(width))
    if len(indices) != width * height:
        raise ValueError("indices length != width*height")
    min_code = 8
    clear, eoi = 1 << min_code, (1 << min_code) + 1

    codes: list[tuple[int, int]] = []   # (code, width-at-emission)
    table: dict[bytes, int] = {bytes([i]): i for i in range(1 << min_code)}
    next_code, width_bits = eoi + 1, min_code + 1
    codes.append((clear, width_bits))
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        codes.append((table[w], width_bits))
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code > (1 << width_bits) and width_bits < 12:
                width_bits += 1
        else:                           # table full: reset mid-stream
            codes.append((clear, width_bits))
            table = {bytes([i]): i for i in range(1 << min_code)}
            next_code, width_bits = eoi + 1, min_code + 1
        w = bytes([k])
    if w:
        codes.append((table[w], width_bits))
    codes.append((eoi, width_bits))

    acc = n_bits = 0
    packed = bytearray()
    for code, wd in codes:
        acc |= code << n_bits
        n_bits += wd
        while n_bits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
    if n_bits:
        packed.append(acc & 0xFF)

    gct = bytes(v for k in range(256)
                for v in (k, (3 * k) % 256, (7 * k) % 256))
    head = (b"GIF89a" + width.to_bytes(2, "little")
            + height.to_bytes(2, "little") + b"\xf7\x00\x00" + gct
            + b"\x2c" + bytes(4) + width.to_bytes(2, "little")
            + height.to_bytes(2, "little") + b"\x00"
            + bytes([min_code]))
    blocks = b"".join(bytes([len(packed[i:i + 255])]) + packed[i:i + 255]
                      for i in range(0, len(packed), 255))
    return head + blocks + b"\x00\x3b"


PIXEL_STATS_SCHEMA = ("doc_id bigint, width int, height int, "
                      "sum_r bigint, sum_g bigint, sum_b bigint, "
                      "n_px bigint")


def pixel_stats(binary_files: DataFrame,
                decoder: Callable[[bytes], tuple[int, int, bytes]]
                ) -> DataFrame:
    """Distributed pixel statistics over a binaryFile scan through
    :func:`map_files`: one full pixel decode per file via ``decoder``
    (decode_png_pixels / decode_gif_pixels / jpeg.decode_jpeg_pixels),
    exact per-channel sums (the feature-extraction shape — swap the
    stats for a resize/embed once the payload is real imagery). Input
    contract: (doc_id, content)."""
    def stats(data: bytes) -> list[tuple]:
        w, h, px = decoder(data)
        return [(w, h, sum(px[0::3]), sum(px[1::3]), sum(px[2::3]), w * h)]

    return map_files(binary_files, "content", PIXEL_STATS_SCHEMA, stats)


# --- real WAV PCM sample decode (no codec library) --------------------------
#
# PCM WAV's "decode" is the raw sample read the container already
# stores: little-endian int16 frames, channels interleaved. Like
# PNG/GIF pixels above, that is byte arithmetic — only transform-coded
# audio (MDCT families) needs a codec library.

def decode_wav_samples(data: bytes) -> tuple[int, int, list[bytes]]:
    """(sample_rate, n_samples, per-channel raw int16 LE bytes) from a
    16-bit PCM WAV — a REAL sample reader: chunk scan via the fmt/data
    layout parse_media_header validates, then channel de-interleave.
    Raises ValueError on structural corruption or non-16-bit-PCM."""
    container, _, sample_rate, channels = parse_media_header(data)
    if container != "wav":
        raise ValueError(f"not a WAV: {container}")
    i = 12
    fmt_code = bits = None
    body = None
    while i + 8 <= len(data):
        cid = data[i:i + 4]
        csize = int.from_bytes(data[i + 4:i + 8], "little")
        if cid == b"fmt ":
            fmt_code = int.from_bytes(data[i + 8:i + 10], "little")
            bits = int.from_bytes(data[i + 22:i + 24], "little")
        elif cid == b"data":
            body = data[i + 8:i + 8 + csize]
            if len(body) < csize:
                raise ValueError(
                    f"corrupt WAV: data chunk declares {csize} bytes, "
                    f"{len(body)} present")
        i += 8 + csize + (csize & 1)
    if fmt_code != 1 or bits != 16:
        raise ValueError(
            f"decoder covers 16-bit PCM only (fmt {fmt_code}, {bits}-bit)")
    import numpy as np

    frame = channels * 2
    n_samples = len(body) // frame
    # vectorized de-interleave: reshape (n_samples, channels), column
    # slice per channel — frombuffer/tobytes never byte-swap, so the
    # little-endian sample bytes survive regardless of host endianness
    # (the per-sample Python join this replaces bounded the measured
    # WAV throughput)
    arr = np.frombuffer(body[:n_samples * frame],
                        dtype="<i2").reshape(-1, channels)
    per_channel = [arr[:, c].tobytes() for c in range(channels)]
    return sample_rate, n_samples, per_channel


AUDIO_STATS_SCHEMA = ("doc_id bigint, sample_rate int, n_channels int, "
                      "n_samples bigint, sum_ch0 bigint, min_ch0 int, "
                      "max_ch0 int")


def wav_sample_stats(binary_files: DataFrame) -> DataFrame:
    """Distributed PCM sample statistics over a binaryFile scan through
    :func:`map_files`: one full sample decode per file via
    decode_wav_samples, numpy int16 reduction of channel 0 (the
    feature-extraction shape — swap the stats for resample/embed once
    the payload is real audio). Input contract: (doc_id, content)."""
    def stats(data: bytes) -> list[tuple]:
        import numpy as np

        rate, n, chans = decode_wav_samples(data)
        ch0 = np.frombuffer(chans[0], dtype="<i2")
        # an empty data chunk has no min/max: NULL, and a sum of 0
        lo, hi = (int(ch0.min()), int(ch0.max())) if n else (None, None)
        return [(rate, len(chans), n, int(ch0.sum(dtype=np.int64)), lo, hi)]

    return map_files(binary_files, "content", AUDIO_STATS_SCHEMA, stats)


#: duration_ms is BIGINT deliberately: 2^31 ms is only ~24.8 days, and a
#: structurally-valid mvhd can carry u32 duration units over a small
#: timescale (duration_ms up to ~2^41); sample_rate is BIGINT because for
#: MP4 it is the mvhd timescale, a u32. An int column would make
#: map_files raise on exactly the inputs the parser must survive.
MEDIA_META_SCHEMA = ("doc_id bigint, container string, duration_ms bigint, "
                     "sample_rate bigint, n_tracks int, n_bytes int")


def decode_media_headers(binary_files: DataFrame) -> DataFrame:
    """Distributed audio/video container-metadata decode over a
    ``binaryFile`` scan: one parse_media_header call per file through
    :func:`map_files`. Input contract: (doc_id, content) columns."""
    return map_files(binary_files, "content", MEDIA_META_SCHEMA,
                     lambda data: [(*parse_media_header(data), len(data))])


def extract_features(with_payload: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads through :func:`map_files`:
    the worker receives Arrow batches of (doc_id, payload) and emits
    fixed-schema features. Swap the body for decode_media + numpy once
    codecs exist."""
    return map_files(
        with_payload, "payload", DECODED_SCHEMA,
        lambda data: [(len(data), hashlib.md5(data).hexdigest(),
                       data[:4].hex())])


FRAME_SCHEMA = ("doc_id bigint, frame_id int, byte_offset int, "
                "n_frame_bytes int, frame_md5 string")
#: frame_sample's frame size in bytes and its sampling stride.
_FRAME_BYTES, _FRAME_STRIDE = 64, 3


def frame_sample(with_payload: DataFrame) -> DataFrame:
    """Frame sampling over binary payloads — the video-pipeline shape
    (decode container -> sample every Nth frame -> per-frame feature)
    with the codec stubbed: a "frame" is a fixed-size byte window of the
    payload, sampling keeps every _FRAME_STRIDE-th frame, and the
    per-frame feature is its md5. The Spark-side plumbing is exactly
    what a real ffmpeg-backed sampler uses: one :func:`map_files` pass
    over (doc_id, payload), frame fan-out INSIDE the worker (no row
    explosion before the Python crossing), fixed output schema.

    Scale: doc-local, zero shuffles; output rows ~
    len/(_FRAME_BYTES·_FRAME_STRIDE) per doc. The DuckDB oracle
    recomputes frames from the TEXT the payload encodes — byte-exact
    because the fixture text is ASCII (one byte per char); a non-ASCII
    corpus would fail parity loudly, not silently."""
    frame_bytes, stride = _FRAME_BYTES, _FRAME_STRIDE

    def frames(data: bytes) -> list[tuple]:
        out = []
        for f in range(0, -(-len(data) // frame_bytes), stride):
            chunk = data[f * frame_bytes:(f + 1) * frame_bytes]
            out.append((f, f * frame_bytes, len(chunk),
                        hashlib.md5(chunk).hexdigest()))
        return out

    return map_files(with_payload.where(F.length("payload") > 0),
                     "payload", FRAME_SCHEMA, frames)


def check_dim_count(embeddings: DataFrame) -> tuple[int, int]:
    """Probe AND validate: (dim, row count) of the ``embedding`` column
    after one cheap aggregate proves every row agrees (min(size) ==
    max(size)). A ragged or NULL-bearing corpus raises here, at
    plan-build time, before any vector kernel runs (the kernels raise
    too, but only once a task reaches the bad row). One size-only
    columnar scan, no data movement; the count comes from the same
    scan, so callers that size LSH blocking from N (pipeline/dedup.py)
    pay no second job."""
    col = "embedding"
    row = embeddings.select(
        F.min(F.size(col)).alias("lo"), F.max(F.size(col)).alias("hi"),
        F.count(F.lit(1)).alias("n"), F.count(col).alias("nn")).first()
    if row is None or row["lo"] is None:
        raise ValueError(f"cannot probe embedding dim from column {col!r}")
    if row["n"] != row["nn"]:
        # min/max(size) skip NULLs, so without this a NULL-bearing corpus
        # would pass validation.
        raise ValueError(
            f"column {col!r} has {row['n'] - row['nn']} NULL embedding "
            f"rows (of {row['n']})")
    if row["lo"] != row["hi"] or row["lo"] <= 0:
        raise ValueError(
            f"ragged embedding dim in column {col!r}: "
            f"size ranges {row['lo']}..{row['hi']}")
    return int(row["lo"]), int(row["n"])


def multimodal_join(documents: DataFrame, embeddings: DataFrame,
                    dim: int) -> DataFrame:
    """Mixed text + vector + scalar table: documents ⋈ embeddings with
    the vector column's width and L2 norm (the :func:`vector.with_norm`
    kernel). ``dim`` is the corpus width (pass
    ``check_dim_count(embeddings)[0]``); the kernel raises ``ValueError``
    on a NULL embedding or one of another width instead of yielding a
    wrong norm."""
    from database_syncer_spark.pipeline import vector as V

    joined = documents.join(
        embeddings, documents.doc_id == embeddings.vec_id, "inner")
    cols = joined.select("doc_id", "lang", "label",
                         F.length("text").alias("text_len"), "embedding")
    return V.with_norm(cols, "embedding", dim, "nrm").select(
        "doc_id", "lang", "label", "text_len",
        F.size("embedding").alias("dim"),
        F.round("nrm", 6).alias("l2_norm"))
