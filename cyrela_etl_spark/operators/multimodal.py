"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct. The Spark-side machinery — schema, Arrow batch shape, partitioning,
``mapInPandas`` signatures — is real and tested. The decode step parses
REAL container headers for formats that need no codec library — BMP, PNG
and GIF (dimensions), JPEG (dimensions via the SOFn marker walk),
RIFF/WAV (sample rate, channel count, frame count, duration), and
MPEG-1 Layer III / MP3 (ID3v2 skip + frame-chain walk) — as
pure-Python byte parsing; payloads in any other container fall back to a
deterministic hash-derived stub (this environment ships no image/av
codecs), or ``NotImplementedError`` in strict mode.

At scale: binary payloads dominate partition size, so ``maxPartitionBytes``
/ explicit repartition must target bytes not rows; metadata-only operations
never deserialize payloads (column pruning keeps the binary column out of
the scan entirely when unreferenced — verified in tests via the physical
plan's ReadSchema).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "doc_id long, n_bytes long, content_hash string, media_kind string, "
    "width int, height int, n_frames int, sample_rate int, duration_ms long"
)


# ---------------------------------------------------------------------------
# Real container builders + header parsers (pure Python, no codec deps).
# ---------------------------------------------------------------------------
def make_bmp(width: int, height: int) -> bytes:
    """A valid minimal 24-bpp BITMAPINFOHEADER .bmp: 54-byte header + rows
    padded to 4 bytes. Pixel data is a deterministic gradient."""
    row = ((width * 3 + 3) // 4) * 4
    data_size = row * height
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + data_size, 0, 0, 54,
        40, width, height, 1, 24, 0, data_size, 2835, 2835, 0, 0,
    )
    import numpy as np

    xs = np.arange(width, dtype=np.int64)
    ys = np.arange(height, dtype=np.int64)[:, None]
    px = np.zeros((height, row), dtype=np.uint8)
    px[:, 0 : 3 * width : 3] = (xs * 7) & 0xFF
    px[:, 1 : 3 * width : 3] = (ys * 13) & 0xFF
    px[:, 2 : 3 * width : 3] = (xs ^ ys) & 0xFF
    return header + px.tobytes()


def make_wav(sample_rate: int, n_samples: int, channels: int = 1, bits: int = 16) -> bytes:
    """A valid minimal RIFF/WAVE PCM file: 44-byte header + sine-free
    deterministic sawtooth samples."""
    block_align = channels * bits // 8
    data_size = n_samples * block_align
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + data_size, b"WAVE", b"fmt ", 16,
        1, channels, sample_rate, sample_rate * block_align, block_align, bits,
        b"data", data_size,
    )
    import numpy as np

    i = np.arange(n_samples * channels, dtype=np.int64)
    samples = ((i * 257) % 65536 - 32768).astype("<i2")
    return header + samples.tobytes()


def make_jpeg(width: int, height: int, entropy_len: int) -> bytes:
    """A structurally-valid baseline JFIF/JPEG: SOI, APP0(JFIF), DQT,
    SOF0 carrying the real dimensions, two minimal DHTs, SOS, then
    ``entropy_len`` stuffed entropy bytes (0xFF-free, so no marker is
    forged) and EOI. Header-walking tools (and lazy decoders reading
    only SOF for dimensions) open it; the entropy stream is deterministic
    filler, not a real scan — this container ships no JPEG codec to
    produce one. Total size = JPEG_OVERHEAD_BYTES + entropy_len."""
    app0 = struct.pack(">2sH5sBBBHHBB", b"\xff\xe0", 16, b"JFIF\x00", 1, 1, 0, 1, 1, 0, 0)
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes((i * 7 + 3) % 255 + 1 for i in range(64))
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 17, 8, height, width, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    # one DC + one AC huffman table, each declaring a single 1-bit code
    # (length 20 = 2 length bytes + class/id + 16 counts + 1 symbol)
    dht = b"".join(
        b"\xff\xc4" + struct.pack(">H", 20) + bytes([cls]) + bytes([1] + [0] * 15) + b"\x00"
        for cls in (0x00, 0x10)
    )
    sos = b"\xff\xda" + struct.pack(">H", 12) + bytes([3, 1, 0, 2, 0x11, 3, 0x11, 0, 0x3F, 0])
    entropy = bytes((i * 31 + 5) % 255 for i in range(entropy_len))  # never 0xFF
    return b"\xff\xd8" + app0 + dqt + sof0 + dht + sos + entropy + b"\xff\xd9"


# SOI(2)+APP0(18)+DQT(69)+SOF0(19)+DHT(22*2)+SOS(14)+EOI(2); pinned by test
JPEG_OVERHEAD_BYTES = 2 + 18 + 69 + 19 + 44 + 14 + 2


def make_gif(width: int, height: int) -> bytes:
    """A minimal valid GIF89a: 6-byte signature, logical-screen
    descriptor carrying the real dimensions (little-endian u16s), no
    global color table, one image descriptor with a 2-entry local table
    and a 1-byte LZW stub, then the 0x3B trailer. Header-reading tools
    get the dimensions; there is no real LZW stream (no codec shipped).
    Total size = GIF_OVERHEAD_BYTES, dimension-independent."""
    screen = struct.pack("<HH", width, height) + bytes([0x00, 0x00, 0x00])
    img = (
        b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + bytes([0x80])
        + bytes([0, 0, 0, 255, 255, 255])  # 2-entry local color table
        + bytes([0x02, 0x01, 0x44, 0x00])  # LZW min code size + 1-byte stub
    )
    return b"GIF89a" + screen + img + b"\x3b"


# sig(6)+screen(7)+imgdesc(10)+lct(6)+lzw stub(4)+trailer(1); pinned by test
GIF_OVERHEAD_BYTES = 6 + 7 + 10 + 6 + 4 + 1


def parse_gif_header(b: bytes) -> dict | None:
    """(width, height) from a GIF87a/GIF89a logical screen descriptor
    (little-endian u16s at offsets 6/8 per the spec), None if not a GIF."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack_from("<HH", b, 6)
    return {"width": w, "height": h}

# SOF0..SOF15 carry frame dimensions; C4/C8/CC are DHT/JPG/DAC, not SOFs.
_SOF_MARKERS = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def parse_jpeg_header(b: bytes) -> dict | None:
    """(width, height) from a JPEG by walking its marker segments to the
    first SOFn (the frame header: precision, height, width, components —
    big-endian per the spec), None if not a JPEG. Stops at SOS/EOI: past
    SOS lies entropy data, which may legally contain anything."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None  # desynced: not a marker where one must be
        marker = b[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS before any SOF
            return None
        if 0xD0 <= marker <= 0xD7 or marker in (0x01, 0xFF):  # standalone/fill
            pos += 2
            continue
        size = struct.unpack_from(">H", b, pos + 2)[0]
        if marker in _SOF_MARKERS:
            if pos + 10 > len(b):
                return None
            height, width = struct.unpack_from(">HH", b, pos + 5)
            return {"width": width, "height": height}
        pos += 2 + size
    return None


def parse_bmp_header(b: bytes) -> dict | None:
    """(width, height) from a BITMAPINFOHEADER .bmp, None if not a BMP.
    Height may be negative (top-down rows) — reported as magnitude."""
    if len(b) < 26 or b[:2] != b"BM":
        return None
    width, height = struct.unpack_from("<ii", b, 18)
    return {"width": abs(width), "height": abs(height)}


def parse_png_header(b: bytes) -> dict | None:
    """(width, height) from a PNG signature + IHDR chunk (big-endian,
    fixed offsets 16/20 per the PNG spec), None if not a PNG."""
    if len(b) < 24 or b[:8] != b"\x89PNG\r\n\x1a\n" or b[12:16] != b"IHDR":
        return None
    width, height = struct.unpack_from(">II", b, 16)
    return {"width": width, "height": height}


# MPEG-1 Layer III side tables (ISO/IEC 11172-3): bitrate index 1..14 in
# kbps and sample-rate index 0..2 in Hz. Index 0/15 bitrates are
# free/forbidden and never synthesized.
MP3_BITRATES_KBPS = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
MP3_SAMPLE_RATES = [44100, 48000, 32000]
MP3_SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III granule pair


def make_mp3(sr_idx: int, br_idx: int, n_frames: int, tag_size: int = 0) -> bytes:
    """A structurally-valid MPEG-1 Layer III stream: an ID3v2.3 tag of
    ``tag_size`` payload bytes (syncsafe length, as real encoders write),
    then ``n_frames`` frames each with a spec-correct 4-byte header
    (sync, version=MPEG1, layer=III, bitrate/sample-rate indices, mono)
    and 0xFF-free deterministic filler to the exact frame length
    144·bitrate/sample_rate (padding bit 0). Header walkers (and this
    module's parser) read it; there is no real Huffman data (no codec
    shipped)."""
    assert 1 <= br_idx <= 14 and 0 <= sr_idx <= 2 and tag_size < 128
    tag = b"ID3" + bytes([3, 0, 0, 0, 0, 0, tag_size])
    tag += bytes((i * 17 + 1) % 255 for i in range(tag_size))  # never 0xFF
    sr = MP3_SAMPLE_RATES[sr_idx]
    frame_len = 144 * MP3_BITRATES_KBPS[br_idx] * 1000 // sr
    header = bytes(
        [0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0xC4]  # mono, original
    )
    body = bytes((i * 29 + 7) % 255 for i in range(frame_len - 4))  # never 0xFF
    return tag + (header + body) * n_frames


def parse_mp3_header(b: bytes) -> dict | None:
    """(sample_rate, bitrate_kbps, n_frames, duration_ms) from an MPEG-1
    Layer III stream: skip a leading ID3v2 tag (syncsafe 28-bit length),
    validate the first frame header's sync/version/layer bits, read the
    bitrate and sample-rate indices from the side tables, then WALK the
    frame chain (each header re-validated, length recomputed with its own
    padding bit) counting frames — the honest parse, not size division.
    None if the bytes are not an MPEG-1 Layer III stream."""
    pos = 0
    if len(b) >= 10 and b[:3] == b"ID3":
        syncsafe = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
        pos = 10 + syncsafe
    first = None
    n_frames = 0
    while pos + 4 <= len(b):
        if b[pos] != 0xFF or (b[pos + 1] & 0xE0) != 0xE0:
            return None  # desynced mid-chain (or no frame at all)
        version = (b[pos + 1] >> 3) & 0x3
        layer = (b[pos + 1] >> 1) & 0x3
        if version != 0x3 or layer != 0x1:  # MPEG-1, Layer III only
            return None
        br_idx = (b[pos + 2] >> 4) & 0xF
        sr_idx = (b[pos + 2] >> 2) & 0x3
        padding = (b[pos + 2] >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            return None
        sr = MP3_SAMPLE_RATES[sr_idx]
        if first is None:
            first = (sr, MP3_BITRATES_KBPS[br_idx])
        n_frames += 1
        pos += 144 * MP3_BITRATES_KBPS[br_idx] * 1000 // sr + padding
    if first is None or pos != len(b):
        return None  # trailing garbage is not a clean frame chain
    return {
        "sample_rate": first[0],
        "bitrate_kbps": first[1],
        "n_frames": n_frames,
        "duration_ms": n_frames * MP3_SAMPLES_PER_FRAME * 1000 // first[0],
    }


def parse_wav_header(b: bytes) -> dict | None:
    """(sample_rate, channels, n_frames, duration_ms) from a RIFF/WAVE
    file by walking its chunk list, None if not a WAV."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt " and pos + 24 <= len(b):
            _, channels, sample_rate = struct.unpack_from("<HHI", b, pos + 8)
            block_align = struct.unpack_from("<H", b, pos + 20)[0]
            fmt = (channels, sample_rate, block_align)
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_size is None or fmt[2] == 0 or fmt[1] == 0:
        return None
    channels, sample_rate, block_align = fmt
    n_frames = data_size // block_align
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // sample_rate,
    }


def binarize_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a binary-payload table from a text column (the test stand-in
    for reading real media bytes): (doc_id, payload binary, media_type)."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
    )


def synthesize_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real-container test media keyed on ``doc_id % 4``:
    0 → 24-bpp BMP, 1 → 16-bit mono PCM WAV, 2 → baseline JFIF/JPEG,
    3 → GIF89a — all parameters (dimensions, sample rate, entropy
    length) derived from the id. Every byte is a container an external
    header parser could open — this is the generator the media-decode
    oracle predicts arithmetically."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads, kinds = [], []
            for i in ids:
                i = int(i)
                if i % 4 == 0:
                    payloads.append(make_bmp(1 + i % 64, 1 + (i // 64) % 64))
                    kinds.append("image/bmp")
                elif i % 4 == 1:
                    payloads.append(make_wav(8000 + (i % 8) * 1000, 1 + i % 1000))
                    kinds.append("audio/wav")
                elif i % 4 == 2:
                    w, h = 1 + i % 200, 1 + (i // 200) % 200
                    payloads.append(make_jpeg(w, h, entropy_len=w * h // 8))
                    kinds.append("image/jpeg")
                else:
                    payloads.append(make_gif(1 + i % 320, 1 + (i // 320) % 320))
                    kinds.append("image/gif")
            yield pd.DataFrame({"doc_id": ids, "payload": payloads, "media_type": kinds})

    return df.select(id_col).mapInPandas(
        synth, schema="doc_id long, payload binary, media_type string"
    )


def synthesize_mp3(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic MP3 test audio keyed on ``doc_id``: sample-rate index
    id%3, bitrate index 1+id%14, 1+id%8 frames, ID3v2 tag of id%128
    payload bytes — every stream a frame chain an external MP3 tool could
    walk (no Huffman data; no codec shipped). The mp3-decode oracle
    predicts every parsed field arithmetically from the id."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [
                make_mp3(
                    sr_idx=int(i) % 3,
                    br_idx=1 + int(i) % 14,
                    n_frames=1 + int(i) % 8,
                    tag_size=int(i) % 128,
                )
                for i in ids
            ]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": payloads, "media_type": ["audio/mpeg"] * len(ids)}
            )

    return df.select(id_col).mapInPandas(
        synth, schema="doc_id long, payload binary, media_type string"
    )


def extract_media_meta(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """Decode / feature-extract media payloads via Arrow-batched
    ``mapInPandas``.

    Per batch: byte length + md5 content hash (true properties of any
    payload), then a REAL header parse for BMP/PNG/JPEG/GIF (width/height —
    JPEG via the SOFn marker walk) and RIFF/WAV and MP3 (sample_rate,
    n_frames, duration_ms) containers — pure byte parsing, no codec
    library.
    Payloads in other containers get hash-derived stub dimensions
    (media_kind='unknown') so tests are stable, or — with
    ``strict=True`` — raise NotImplementedError (the behavior a
    codec-equipped production build replaces).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_bytes", "content_hash", "media_kind",
                "width", "height", "n_frames", "sample_rate", "duration_ms",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                h = hashlib.md5(p).hexdigest()
                row = {"doc_id": doc_id, "n_bytes": len(p), "content_hash": h,
                       "width": None, "height": None, "n_frames": None,
                       "sample_rate": None, "duration_ms": None}
                if (bmp := parse_bmp_header(p)) is not None:
                    row.update(media_kind="bmp", n_frames=1, **bmp)
                elif (png := parse_png_header(p)) is not None:
                    row.update(media_kind="png", n_frames=1, **png)
                elif (jpg := parse_jpeg_header(p)) is not None:
                    row.update(media_kind="jpeg", n_frames=1, **jpg)
                elif (gif := parse_gif_header(p)) is not None:
                    row.update(media_kind="gif", n_frames=1, **gif)
                elif (wav := parse_wav_header(p)) is not None:
                    row.update(
                        media_kind="wav",
                        sample_rate=wav["sample_rate"],
                        n_frames=wav["n_frames"],
                        duration_ms=wav["duration_ms"],
                    )
                elif (mp3 := parse_mp3_header(p)) is not None:
                    row.update(
                        media_kind="mp3",
                        sample_rate=mp3["sample_rate"],
                        n_frames=mp3["n_frames"],
                        duration_ms=mp3["duration_ms"],
                    )
                elif strict:
                    raise NotImplementedError(
                        "media decode beyond BMP/PNG/JPEG/GIF/WAV/MP3 headers "
                        "requires an image/audio codec; not available in this "
                        "environment"
                    )
                else:
                    row.update(
                        media_kind="unknown",
                        width=16 + int(h[:2], 16),
                        height=16 + int(h[2:4], 16),
                        n_frames=1,
                    )
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(out["doc_id"], dtype="int64"),
                    "n_bytes": pd.array(out["n_bytes"], dtype="int64"),
                    "content_hash": out["content_hash"],
                    "media_kind": out["media_kind"],
                    # pandas nullable ints → Arrow ints with nulls (a plain
                    # float64 column would trip non-finite→int conversion)
                    "width": pd.array(out["width"], dtype="Int32"),
                    "height": pd.array(out["height"], dtype="Int32"),
                    "n_frames": pd.array(out["n_frames"], dtype="Int32"),
                    "sample_rate": pd.array(out["sample_rate"], dtype="Int32"),
                    "duration_ms": pd.array(out["duration_ms"], dtype="Int64"),
                }
            )

    return binary_df.mapInPandas(extract, schema=MEDIA_META_SCHEMA)


def byte_histogram(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL feature extraction over opaque payloads (no codec needed): the
    16-bin high-nibble byte histogram — the classic cheap content-type /
    entropy signal (text, compressed and media bytes have very different
    nibble profiles). Arrow-batched numpy bincount per batch; output is one
    (doc_id, nibble, n) row per non-empty bin — long form so downstream
    aggregation/classification is relational.
    """
    import numpy as np

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nibbles, counts = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8) >> 4
                c = np.bincount(arr, minlength=16)
                nz = np.nonzero(c)[0]
                ids.extend([doc_id] * len(nz))
                nibbles.extend(nz.tolist())
                counts.extend(c[nz].tolist())
            yield pd.DataFrame({"doc_id": ids, "nibble": nibbles, "n": counts})

    return binary_df.mapInPandas(hist, schema="doc_id long, nibble int, n long")


def sample_frames(binary_df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sampling plumbing: explode each payload into (doc_id,
    frame_index, frame_bytes) keeping every ``every_n``-th frame. The
    "frames" are fixed-size byte slices (stub for a video demuxer); the
    partitioning/explode shape matches what a real decoder version needs.
    """
    frame_size = 64

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_index": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = max(1, len(payload) // frame_size)
                for i in range(0, n, every_n):
                    rows["doc_id"].append(doc_id)
                    rows["frame_index"].append(i)
                    rows["frame_bytes"].append(bytes(payload[i * frame_size : (i + 1) * frame_size]))
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(sample, schema="doc_id long, frame_index int, frame_bytes binary")
