"""Multimodal columns (SURVEY §2.9 extensions): image/audio/video
payloads as opaque ``binary`` columns with typed metadata, and the
decode / feature-extract / frame-sample stages a training-data
pipeline runs over them.

Spark-first design:

- a media row is ``(key, payload: binary, meta: struct<mime, n_bytes,
  checksum>)`` — the payload never deserializes JVM-side; metadata and
  integrity checks are column algebra (length / sha2 on binary);
- CPU-heavy per-item decoding is an Arrow-batched ``mapInPandas``
  stage: whole partitions stream through pandas in batches, so the
  Python boundary is crossed per-batch, not per-row. At 100 TB the
  same function runs unchanged — parallelism comes from input splits;
- frame/window sampling is pure column algebra (sequence + explode),
  no Python.

Codec status: WAV (RIFF/PCM), BMP, PNG, and MP4 are all decoded FOR
REAL — ``fabricate_media`` emits genuine RIFF/BMP/PNG/ISO-BMFF byte
streams (PNG IDAT is a true zlib stream built with the stdlib; the MP4
is a complete ftyp/moov/mvhd/trak/tkhd/mdia/mdhd box tree with a
genuine stbl sample table — stsd/stts/stsz/stco — plus mdat) and
``decode_media`` parses the actual containers (RIFF chunk walk,
BITMAPINFOHEADER, PNG chunk walk with CRC verification + full zlib
inflate + scanline check, ISO-BMFF box walk handling 32/64-bit and
to-end box sizes), with a closed-form DuckDB oracle proving
decode(fabricate(x)) recovers the parameters
(queries/multimodal_q.py:multimodal_real_decode). No codec stubs
remain; mp4 SAMPLE decoding stops at the seek plan —
``mp4_sample_offsets`` resolves stsz/stsc/stco/stss (incl. genuine
multi-chunk run-length maps and keyframe sync flags) to exact
per-sample byte ranges (what a
range-read stage fetches from a multi-GB mdat), while
entropy-decoding the fetched video frames stays out of scope —
container metadata and read plans are what the manifest/feature
pipeline consumes. Audio goes one level deeper than metadata:
``audio_energy_windows`` decodes the actual PCM (RIFF walk →
interleaved int16) and reduces fixed 50-frame windows to exact
integer energy/peak/silence statistics inside the Arrow batch. The
Spark-side plumbing — schema, Arrow batching, UDF signature,
partition behavior — is identical for every format.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: output schema of the feature-extraction stage
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
    ]
)

MIME_BY_MOD = {0: "image/png", 1: "audio/wav", 2: "video/mp4"}


def attach_payload(docs: DataFrame) -> DataFrame:
    """Fabricate the media table from the documents fixture: the utf-8
    bytes stand in for real image/audio payloads (same opaque-binary
    handling), mime assigned deterministically by key."""
    payload = F.encode(F.col("text"), "UTF-8")
    mime = F.element_at(
        F.array(*[F.lit(m) for m in MIME_BY_MOD.values()]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            mime.alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("checksum"),
        ).alias("meta"),
    )


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction: the REAL container decode
    (``decode_media``) projected to the training-pipeline feature
    columns. Audio rows report channel count with null dimensions;
    image rows report width/height/channels; video rows report the
    container's track dimensions with null channel count. Input must
    carry ``(doc_id, mime, payload)`` real media bytes
    (``fabricate_media`` output shape)."""
    return decode_media(media).select(
        "doc_id", "mime", "n_bytes", "width", "height", "n_channels"
    )


# ---------------------------------------------------------------------------
# real codecs: WAV (RIFF/PCM) + BMP + PNG + MP4 (ISO-BMFF) — pure-Python
# container parsing (stdlib zlib for PNG), no external libraries.
# Fabrication parameters are closed-form in doc_id so a SQL oracle can
# verify that decoding the real bytes recovers them.

WAV_RATE = 8000
WAV_BITS = 16
BMP_BPP = 24
PNG_BIT_DEPTH = 8  # 8-bit RGB (color type 2) → 3 channels
MP4_TIMESCALE = 90000  # movie timescale (ticks/s), the video convention

#: decode output schema (wav rows: width/height null; bmp rows:
#: sample_rate/n_samples null)
MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("bit_depth", IntegerType()),
    ]
)

_FAB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def _wav_bytes(doc_id: int) -> bytes:
    """A complete, valid RIFF/WAVE PCM file. Parameters are closed-form
    in doc_id (the oracle recomputes them): channels =
    1 + (doc_id // 4) % 2 (alternates mono/stereo across the wav rows
    of the %4 mime rotation, where every wav doc_id ≡ 0 mod 4),
    n_samples = 100 + doc_id % 500, rate 8000 Hz, 16-bit."""
    import struct

    n_ch = 1 + (doc_id // 4) % 2
    n_samples = 100 + doc_id % 500
    block_align = n_ch * WAV_BITS // 8
    data_size = n_samples * block_align
    samples = bytearray()
    for i in range(n_samples * n_ch):
        samples += struct.pack("<h", (doc_id * 31 + i * 7) % 65536 - 32768)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, n_ch, WAV_RATE, WAV_RATE * block_align, block_align, WAV_BITS
        )
        + b"data"
        + struct.pack("<I", data_size)
        + bytes(samples)
    )


def _bmp_bytes(doc_id: int) -> bytes:
    """A complete, valid 24-bit BMP (BITMAPINFOHEADER). width =
    16 + doc_id % 32, height = 16 + (7 * doc_id) % 32."""
    import struct

    w = 16 + doc_id % 32
    h = 16 + (7 * doc_id) % 32
    stride = (3 * w + 3) // 4 * 4  # rows pad to 4 bytes
    img_size = stride * h
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, BMP_BPP, 0, img_size, 2835, 2835, 0, 0)
    )
    pixels = bytes((doc_id + i) % 256 for i in range(img_size))
    return header + pixels


def _png_bytes(doc_id: int) -> bytes:
    """A complete, valid PNG: signature, IHDR (8-bit RGB, color type 2),
    one IDAT holding a genuine zlib stream of the filter-prefixed
    scanlines, IEND — every chunk carries its real CRC32. width =
    16 + doc_id % 32, height = 16 + (11 * doc_id) % 32.

    The zlib stream uses level=0 (stored blocks) so the compressed size
    is closed-form for the oracle: raw scanlines L = h·(1 + 3w) bytes
    fit one stored block (L ≤ 6674 < 65535), giving a stream of
    2 (zlib hdr) + 5 (block hdr) + L + 4 (adler32) bytes and a file of
    exactly 68 + L bytes. The stream is still a real DEFLATE stream the
    decoder must inflate — stored blocks are a first-class block type,
    not a shortcut."""
    import struct
    import zlib

    w = 16 + doc_id % 32
    h = 16 + (11 * doc_id) % 32
    raw = bytearray()
    for r in range(h):
        raw.append(0)  # per-scanline filter byte: 0 = None
        base = doc_id + r * 3 * w
        raw += bytes((base + i) % 256 for i in range(3 * w))
    comp = zlib.compressobj(level=0)
    idat = comp.compress(bytes(raw)) + comp.flush()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, PNG_BIT_DEPTH, 2, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


#: Fixed sample-table geometry of the fabricated MP4s: 8 uniform-size
#: samples, a genuine stss sync-sample table marking samples 1 and
#: 5 (1-based) as keyframes — the seek plan a frame-sampler consumes
#: carries is_sync per sample — and a genuine single-entry edit list
#: (trak → edts → elst, inserted between tkhd and mdia) whose
#: media_time trims (doc_id % 3) sample-durations off the front of the
#: presentation (the encoder-priming-trim shape; every third doc gets
#: the identity edit media_time=0). The edts subtree is 36 fixed bytes
#: (elst v0, one entry), so every post-tkhd offset sits 36 bytes past
#: where it would be without an edit list. Single-chunk variant (mp4
#: doc_id % 8 == 3): stsd/stts/stss/stsz/stco, data starts at byte 452
#: (ftyp 24 + moov 420 + mdat header 8), file exactly 516 + 8·(doc_id % 16)
#: bytes. Multi-chunk variant (doc_id % 8 == 7): a genuine stsc
#: run-length map splits the samples 5+3 across two chunks with a
#: 16-byte unreferenced gap between them (spec-legal mdat padding —
#: the second chunk's position can ONLY come from stco, never from
#: cumulative sizes), moov grows by exactly 44 bytes (stsc 40 + one
#: extra stco entry 4), so chunk 1 starts at 496 and the file is
#: exactly 576 + 8·(doc_id % 16) bytes. Uniform sizes + fixed box
#: sizes keep BOTH variants closed-form in doc_id.
MP4_N_SAMPLES = 8
MP4_CHUNK_OFFSET = 452
MP4_MC_CHUNK_OFFSET = 496  # 452 + the 44-byte moov growth
MP4_MC_SPLIT = (5, 3)  # stsc run lengths: chunk 1 holds 5 samples, chunk 2 holds 3
MP4_MC_GAP = 16  # unreferenced bytes between the two chunks inside mdat
MP4_SYNC_SAMPLES = (1, 5)  # stss entries, 1-based sample numbers


def _mp4_bytes(doc_id: int) -> bytes:
    """A complete, valid ISO-BMFF (MP4) file: ftyp('isom') +
    moov(mvhd + trak(tkhd + mdia(mdhd + minf(stbl)))) + mdat, where the
    sample table is genuine: stsd, stts (two runs summing exactly to
    the media duration), stss (sync samples 1 and 5 — the keyframes a
    frame-sampler seeks), stsz (8 uniform samples of 8 + doc_id % 16
    bytes), stco (one chunk at file offset 452) — plus a genuine
    single-entry elst edit list in trak→edts trimming
    (doc_id % 3)·delta ticks off the presentation start — and, for the
    multi-chunk variant (doc_id % 8 == 7), a real stsc run-length map
    distributing those samples 5+3 over two stco chunks separated by a
    16-byte unreferenced gap. Every box carries its real big-endian
    size; tkhd width/height are genuine 16.16 fixed point. Parameters
    are closed-form in doc_id: width = 16 + doc_id % 32, height =
    16 + (13·doc_id) % 32, duration = 1000 + doc_id % 9000 ticks at the
    90 kHz movie timescale, sample size 8 + doc_id % 16. All header
    boxes are fixed-size (ftyp 24; moov 420 single-chunk / 464
    multi-chunk), so the file is exactly 516 + 8·(doc_id % 16) bytes
    single-chunk and 576 + 8·(doc_id % 16) multi-chunk — the closed
    forms the oracles check."""
    import struct

    w = 16 + doc_id % 32
    h = 16 + (13 * doc_id) % 32
    duration = 1000 + doc_id % 9000
    sample_size = 8 + doc_id % 16
    multi_chunk = doc_id % 8 == 7
    n_data = MP4_N_SAMPLES * sample_size + (MP4_MC_GAP if multi_chunk else 0)
    matrix = struct.pack(
        ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
    )  # unity transform

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    # mvhd v0: ver/flags, creation, modification, timescale, duration,
    # rate 1.0, volume 1.0, 10 reserved bytes, matrix, 24 pre_defined,
    # next_track_ID — 100-byte payload
    mvhd = box(
        b"mvhd",
        struct.pack(">IIIII", 0, 0, 0, MP4_TIMESCALE, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + matrix
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    # tkhd v0 (flags=3: enabled+in-movie): track 1, 16.16 dimensions —
    # 84-byte payload
    tkhd = box(
        b"tkhd",
        struct.pack(">IIIIII", 3, 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + matrix
        + struct.pack(">II", w << 16, h << 16),
    )
    # mdhd v0: media timescale/duration + language 'und' — 24-byte payload
    mdhd = box(
        b"mdhd",
        struct.pack(">IIIII", 0, 0, 0, MP4_TIMESCALE, duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    # edts→elst v0, ONE entry: presentation covers the media from
    # media_time = (doc_id % 3)·delta onward at rate 1.0 — the standard
    # encoder-priming trim; doc_id % 3 == 0 is the identity edit
    media_time = (doc_id % 3) * (duration // MP4_N_SAMPLES)
    edts = box(
        b"edts",
        box(
            b"elst",
            struct.pack(">II", 0, 1)
            + struct.pack(">IiHH", duration - media_time, media_time, 1, 0),
        ),
    )
    # sample table, all fixed-size boxes:
    # stsd with no entries (16 B) — the fixture carries no codec config;
    # stts as two runs that sum EXACTLY to the media duration (32 B);
    # stsz uniform → no per-sample table (20 B); stco one chunk (20 B)
    delta = duration // MP4_N_SAMPLES
    stsd = box(b"stsd", struct.pack(">II", 0, 0))
    stts = box(
        b"stts",
        struct.pack(
            ">IIIIII",
            0,
            2,
            MP4_N_SAMPLES - 1,
            delta,
            1,
            duration - (MP4_N_SAMPLES - 1) * delta,
        ),
    )
    stss = box(
        b"stss",
        struct.pack(">II", 0, len(MP4_SYNC_SAMPLES))
        + struct.pack(f">{len(MP4_SYNC_SAMPLES)}I", *MP4_SYNC_SAMPLES),
    )
    stsz = box(b"stsz", struct.pack(">III", 0, sample_size, MP4_N_SAMPLES))
    if multi_chunk:
        # stsc: two runs (first_chunk, samples_per_chunk, desc_index) —
        # a REAL run-length map, not one uniform run, so the walk's
        # run-expansion logic is genuinely exercised
        stsc = box(
            b"stsc",
            struct.pack(">II", 0, 2)
            + struct.pack(">III", 1, MP4_MC_SPLIT[0], 1)
            + struct.pack(">III", 2, MP4_MC_SPLIT[1], 1),
        )
        chunk2 = MP4_MC_CHUNK_OFFSET + MP4_MC_SPLIT[0] * sample_size + MP4_MC_GAP
        stco = box(
            b"stco", struct.pack(">IIII", 0, 2, MP4_MC_CHUNK_OFFSET, chunk2)
        )
        stbl = box(b"stbl", stsd + stts + stss + stsc + stsz + stco)
    else:
        stco = box(b"stco", struct.pack(">III", 0, 1, MP4_CHUNK_OFFSET))
        stbl = box(b"stbl", stsd + stts + stss + stsz + stco)
    mdia = box(b"mdia", mdhd + box(b"minf", stbl))
    mdat = box(b"mdat", bytes((doc_id + i) % 256 for i in range(n_data)))
    return ftyp + box(b"moov", mvhd + box(b"trak", tkhd + edts + mdia)) + mdat


def fabricate_media(docs: DataFrame) -> DataFrame:
    """Fabricate REAL media bytes per doc by doc_id % 4: 0 → PCM WAV,
    1 → 24-bit BMP, 2 → 8-bit RGB PNG, 3 → ISO-BMFF MP4. mapInPandas
    because binary packing is not column algebra — this is the fixture
    generator, not the hot path.

    The explicit-width repartition is load-bearing: the input is a
    doc_id-only frame (bytes-per-row ~8) whose upstream exchange AQE
    coalesces BY INPUT SIZE — at sf10 the whole 125 k-file fabricate +
    decode pipeline was landing on 2 tasks while 30 cores idled
    (SCALE.md, audio decade; AQE sizes partitions by shuffle bytes and
    cannot see per-row compute cost). A user-numbered repartition is
    exempt from AQE coalescing, so the codec stage gets
    deterministic width at every scale — and it must be the COLUMN-LESS
    round-robin form: ``repartition(n, "doc_id")`` reproduces the
    hashpartitioning(doc_id, n) the callers' upstream dedup exchange
    already provides, so the optimizer removes it as redundant and AQE
    coalesces the surviving ENSURE_REQUIREMENTS exchange right back to
    2 tasks (observed before this fix). The REAL corpus path
    (decode_media over stored payloads) never needs this — there the
    input bytes ARE the payloads, and byte-proportional splits
    parallelize naturally."""
    sc = docs.sparkSession.sparkContext
    flat = docs.select("doc_id").repartition(sc.defaultParallelism)
    builders = {0: _wav_bytes, 1: _bmp_bytes, 2: _png_bytes, 3: _mp4_bytes}
    mimes = {0: "audio/wav", 1: "image/bmp", 2: "image/png", 3: "video/mp4"}

    def build(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "mime": [mimes[int(i) % 4] for i in ids],
                    "payload": [builders[int(i) % 4](int(i)) for i in ids],
                }
            )

    return flat.mapInPandas(build, _FAB_SCHEMA)


def decode_media(media: DataFrame) -> DataFrame:
    """REAL decode of the binary payloads: walks RIFF chunks for WAV
    (never assumes the canonical 44-byte layout), reads the
    BITMAPINFOHEADER for BMP, for PNG walks the chunk stream verifying
    each CRC32, inflates the IDAT zlib stream, and checks the
    decompressed scanlines (filter bytes + exact stride·height size),
    and for MP4 walks the ISO-BMFF box tree (32-bit, 64-bit `largesize`
    and size-0 to-end boxes all handled) pulling timescale/duration
    from mvhd and 16.16 track dimensions from tkhd — genuine decodes,
    not header peeks. Arrow-batched mapInPandas — the payload crosses
    to Python per batch; parsing is O(payload) per item.
    MP4 rows map (sample_rate, n_samples) to the container's natural
    rate/count pair: movie timescale in ticks/s and duration in ticks.
    Parity anchor: the reference treats attachments as opaque passthrough
    (`PodioApiWrapper.py` has no media decode) — this is the §2.9
    multimodal extension."""

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [
                _decode_one(doc_id, mime, bytes(payload))
                for doc_id, mime, payload in zip(pdf["doc_id"], pdf["mime"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return media.mapInPandas(extract, MEDIA_SCHEMA)


def _parse_wav(b: bytes):
    import struct

    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE", "not a RIFF/WAVE stream"
    pos, n_ch, rate, bits, data_size = 12, None, None, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            _, n_ch, rate, _, block, bits = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    n_samples = data_size // (n_ch * bits // 8)
    return n_ch, rate, bits, n_samples


def _parse_bmp(b: bytes):
    import struct

    assert b[:2] == b"BM", "not a BMP stream"
    w, h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    return w, abs(h), bpp


def _parse_png(b: bytes):
    import struct
    import zlib

    assert b[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG stream"
    pos, dims, idat = 8, None, bytearray()
    while pos + 12 <= len(b):
        size = struct.unpack_from(">I", b, pos)[0]
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + size]
        crc = struct.unpack_from(">I", b, pos + 8 + size)[0]
        assert crc == zlib.crc32(ctype + data) & 0xFFFFFFFF, "PNG chunk CRC mismatch"
        if ctype == b"IHDR":
            dims = struct.unpack_from(">IIBB", data, 0)  # w, h, depth, color
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + size
    w, h, depth, color_type = dims
    n_ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(bytes(idat))  # real inflate, adler32-checked
    stride = 1 + w * n_ch * depth // 8
    assert len(raw) == stride * h, "decompressed scanline size mismatch"
    assert all(raw[r * stride] <= 4 for r in range(h)), "invalid PNG filter byte"
    return w, h, n_ch, depth


def _mp4_boxes(b: bytes, start: int, end: int):
    """Yield (type, payload_start, box_end) for each ISO-BMFF box in
    [start, end): 32-bit sizes, 64-bit `largesize` (size == 1), and
    to-end (size == 0) are all spec forms."""
    import struct

    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", b, pos)[0]
        btype = b[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            size = struct.unpack_from(">Q", b, pos + 8)[0]
            hdr = 16
        elif size == 0:
            size = end - pos
        assert size >= hdr and pos + size <= end, "corrupt mp4 box size"
        yield btype, pos + hdr, pos + size
        pos += size


def _parse_mp4(b: bytes):
    import struct

    assert len(b) >= 12 and b[4:8] == b"ftyp", "not an ISO-BMFF stream"
    timescale = duration = w = h = None
    for btype, s, e in _mp4_boxes(b, 0, len(b)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _mp4_boxes(b, s, e):
            if ctype == b"mvhd":
                if b[cs] == 1:  # version 1: 64-bit times
                    timescale = struct.unpack_from(">I", b, cs + 20)[0]
                    duration = struct.unpack_from(">Q", b, cs + 24)[0]
                else:
                    timescale, duration = struct.unpack_from(">II", b, cs + 12)
            elif ctype == b"trak":
                for t2, s2, _ in _mp4_boxes(b, cs, ce):
                    if t2 == b"tkhd":
                        # width/height trail the fixed v0/v1 header
                        off = s2 + (88 if b[s2] == 1 else 76)
                        wfix, hfix = struct.unpack_from(">II", b, off)
                        w, h = wfix >> 16, hfix >> 16
    assert timescale is not None and w is not None, "mp4 missing mvhd/tkhd"
    return w, h, timescale, duration


def _parse_mp4_samples(b: bytes):
    """Walk moov→trak→mdia→minf→stbl and resolve the sample table to
    per-sample (offset, size, is_sync) triples: stsz supplies sizes
    (uniform ``sample_size`` or the v0 per-sample table), stco/co64
    supply chunk base offsets (32- and 64-bit spec forms), the stsc
    run-length map assigns samples to chunks — each stsc entry
    (first_chunk, samples_per_chunk) applies from its first_chunk until
    the next entry's, and samples lay out back-to-back WITHIN their
    chunk only (offset = chunk base + cumulative sizes inside that
    chunk; chunk positions come exclusively from stco — chunks may be
    separated by unreferenced mdat bytes) — stss flags the sync
    samples (keyframes) a frame-sampler can decode from; per spec, an
    ABSENT stss means every sample is sync. stts decode deltas give
    each sample its media decode time, and the trak-level edts→elst
    edit list (when present) maps that to the PRESENTATION timeline:
    the supported shape is the ubiquitous single non-empty edit at
    rate 1.0 (the encoder-priming trim) — pt_ticks = decode_time −
    media_time, and a sample whose decode time precedes media_time is
    pre-roll (presented=False: fetched for decoder warm-up, never
    shown). An ABSENT elst is the identity edit per spec. Multiple
    edits, empty edits (media_time −1), dwell rates, and elst v1 are
    real spec shapes this walk does NOT model — it refuses them loudly
    rather than emit a wrong timeline. With no stsc box every
    sample sits in the first chunk, which is only well-defined for a
    single-chunk stco — a multi-chunk file missing its stsc is corrupt
    and fails loudly."""
    import struct

    assert len(b) >= 12 and b[4:8] == b"ftyp", "not an ISO-BMFF stream"
    sizes: list[int] | None = None
    chunk_offsets: list[int] = []
    stsc_runs: list[tuple[int, int]] = []  # (first_chunk 1-based, samples_per_chunk)
    stts_runs: list[tuple[int, int]] = []  # (sample_count, delta_ticks)
    sync_samples: set[int] | None = None  # 1-based; None = no stss = all sync
    media_time = 0  # elst presentation origin; 0 = identity edit

    def walk_edts(s: int, e: int) -> None:
        nonlocal media_time
        for btype, cs, ce in _mp4_boxes(b, s, e):
            if btype != b"elst":
                continue
            version = b[cs]
            assert version == 0, f"elst v{version} (64-bit) not modeled — refusing"
            (count,) = struct.unpack_from(">I", b, cs + 4)
            assert count == 1, (
                f"elst with {count} edits — only the single-edit priming-trim "
                "shape is modeled; refusing rather than emit a wrong timeline"
            )
            _seg_dur, mt, rate_int, rate_frac = struct.unpack_from(">IiHH", b, cs + 8)
            assert mt >= 0, "empty edit (media_time -1) not modeled — refusing"
            assert (rate_int, rate_frac) == (1, 0), "dwell/slow-motion edit rates not modeled"
            media_time = mt

    def walk_stbl(s: int, e: int) -> None:
        nonlocal sizes, chunk_offsets, stsc_runs, stts_runs, sync_samples
        for btype, cs, ce in _mp4_boxes(b, s, e):
            if btype == b"stts":
                (count,) = struct.unpack_from(">I", b, cs + 4)
                stts_runs = [
                    struct.unpack_from(">II", b, cs + 8 + 8 * i) for i in range(count)
                ]
            elif btype == b"stss":
                (count,) = struct.unpack_from(">I", b, cs + 4)
                sync_samples = set(struct.unpack_from(f">{count}I", b, cs + 8))
            elif btype == b"stsz":
                uniform, count = struct.unpack_from(">II", b, cs + 4)
                if uniform:
                    sizes = [uniform] * count
                else:
                    sizes = list(struct.unpack_from(f">{count}I", b, cs + 12))
            elif btype == b"stco":
                (count,) = struct.unpack_from(">I", b, cs + 4)
                chunk_offsets = list(struct.unpack_from(f">{count}I", b, cs + 8))
            elif btype == b"co64":
                (count,) = struct.unpack_from(">I", b, cs + 4)
                chunk_offsets = list(struct.unpack_from(f">{count}Q", b, cs + 8))
            elif btype == b"stsc":
                (count,) = struct.unpack_from(">I", b, cs + 4)
                stsc_runs = [
                    struct.unpack_from(">II", b, cs + 8 + 12 * i)  # desc idx unused
                    for i in range(count)
                ]

    for btype, s, e in _mp4_boxes(b, 0, len(b)):
        if btype != b"moov":
            continue
        for t1, s1, e1 in _mp4_boxes(b, s, e):
            if t1 != b"trak":
                continue
            for t2, s2, e2 in _mp4_boxes(b, s1, e1):
                if t2 == b"edts":
                    walk_edts(s2, e2)
                if t2 != b"mdia":
                    continue
                for t3, s3, e3 in _mp4_boxes(b, s2, e2):
                    if t3 != b"minf":
                        continue
                    for t4, s4, e4 in _mp4_boxes(b, s3, e3):
                        if t4 == b"stbl":
                            walk_stbl(s4, e4)
    assert sizes is not None and chunk_offsets, "mp4 missing stsz/stco"
    assert stts_runs, "mp4 missing stts — decode times undefined"
    # expand stts: decode_time(i) = sum of the deltas of samples 0..i-1
    decode_times: list[int] = []
    t = 0
    for count, delta_ticks in stts_runs:
        for _ in range(count):
            decode_times.append(t)
            t += delta_ticks
    assert len(decode_times) >= len(sizes), "stts covers fewer samples than stsz"
    if not stsc_runs:
        # no chunk map: only meaningful when there is exactly one chunk
        assert len(chunk_offsets) == 1, (
            f"multi-chunk mp4 ({len(chunk_offsets)} chunks) without the "
            "stsc run-length map that places samples — corrupt sample table"
        )
        stsc_runs = [(1, len(sizes))]
    assert all(fc >= 1 for fc, _ in stsc_runs) and [
        fc for fc, _ in stsc_runs
    ] == sorted({fc for fc, _ in stsc_runs}), "stsc first_chunk not increasing"
    # expand the run-length map: run i covers chunks
    # [first_chunk_i, first_chunk_{i+1}) at samples_per_chunk_i each
    out, sample_idx = [], 0
    n = len(sizes)
    for run, (first_chunk, per_chunk) in enumerate(stsc_runs):
        last_chunk = (
            stsc_runs[run + 1][0] - 1
            if run + 1 < len(stsc_runs)
            else len(chunk_offsets)
        )
        for chunk in range(first_chunk, last_chunk + 1):
            assert chunk <= len(chunk_offsets), "stsc names a chunk past stco"
            pos = chunk_offsets[chunk - 1]
            for _ in range(per_chunk):
                if sample_idx >= n:
                    break  # the final run may overshoot the sample count
                size = sizes[sample_idx]
                assert pos + size <= len(b), "sample table points past end of file"
                is_sync = sync_samples is None or (sample_idx + 1) in sync_samples
                dt = decode_times[sample_idx]
                out.append(
                    (sample_idx, pos, size, is_sync, dt - media_time, dt >= media_time)
                )
                pos += size
                sample_idx += 1
    assert sample_idx == n, (
        f"stsc chunk map places {sample_idx} of {n} samples — corrupt sample table"
    )
    return out


#: per-sample seek plan produced by mp4_sample_offsets
MP4_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_idx", IntegerType()),
        StructField("byte_offset", LongType()),
        StructField("sample_size", IntegerType()),
        StructField("is_sync", BooleanType()),
        # edit-list presentation view: pt_ticks = decode time − elst
        # media_time (negative ⇒ trimmed pre-roll); presented = the
        # sample's own time survives the initial trim
        StructField("pt_ticks", LongType()),
        StructField("presented", BooleanType()),
    ]
)


def mp4_sample_offsets(media: DataFrame) -> DataFrame:
    """The MP4 counterpart of frame_offsets: instead of a synthetic
    fixed-stride grid, the seek plan comes from the container's own
    sample table (stsz sizes, stco chunk bases, stsc run-length chunk
    map, stss sync flags — keyframes, where decoding can start; filter
    ``is_sync`` for the keyframe-only plan a real frame-sampler
    fetches) — one row per video
    sample with its exact byte offset and size, resolved without
    touching (let alone entropy-decoding) the sample payloads. This is
    how a real frame-sampling stage plans reads over video at scale:
    parse KBs of moov headers, then range-read just the wanted samples
    from the multi-GB mdat. Arrow-batched mapInPandas over the binary
    payloads; non-MP4 rows are filtered before Python."""

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [
                (int(doc_id), idx, off, size, is_sync, pt, shown)
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                for idx, off, size, is_sync, pt, shown in _parse_mp4_samples(
                    bytes(payload)
                )
            ]
            yield pd.DataFrame(
                rows, columns=[f.name for f in MP4_SAMPLE_SCHEMA.fields]
            )

    return media.filter(F.col("mime") == "video/mp4").mapInPandas(
        extract, MP4_SAMPLE_SCHEMA
    )


def _decode_one(doc_id, mime: str, b: bytes) -> tuple:
    """One MEDIA_SCHEMA row; raises on corrupt or unknown payloads
    (decode_media_quarantined catches and flags instead)."""
    if mime == "audio/wav":
        n_ch, rate, bits, n_samples = _parse_wav(b)
        return (doc_id, mime, len(b), None, None, n_ch, rate, n_samples, bits)
    if mime == "image/bmp":
        w, h, bpp = _parse_bmp(b)
        return (doc_id, mime, len(b), w, h, 3, None, None, bpp)
    if mime == "image/png":
        w, h, n_ch, depth = _parse_png(b)
        return (doc_id, mime, len(b), w, h, n_ch, None, None, depth)
    if mime == "video/mp4":
        w, h, rate, dur = _parse_mp4(b)
        return (doc_id, mime, len(b), w, h, None, rate, dur, None)
    raise ValueError(f"no codec for {mime!r}")


#: MEDIA_SCHEMA plus the quarantine flag
QUARANTINE_SCHEMA = StructType(
    MEDIA_SCHEMA.fields + [StructField("is_corrupt", BooleanType())]
)


def decode_media_quarantined(media: DataFrame) -> DataFrame:
    """decode_media's production shape: a corrupt payload yields a
    quarantine row (decode fields NULL, ``is_corrupt`` true) instead of
    failing the task — at 100 TB a single truncated file must cost one
    row, not the stage. Mirrors the reference's skip-and-flag path for
    unparseable fields (`PodioApiWrapper.py:91-94`, the "email CRM
    admin" TODO): quarantined rows stay queryable for exactly that
    re-drive loop. Same Arrow-batched mapInPandas shape as
    decode_media; the happy path runs the identical parsers."""

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, mime, payload in zip(pdf["doc_id"], pdf["mime"], pdf["payload"]):
                b = bytes(payload)
                try:
                    rows.append(_decode_one(doc_id, mime, b) + (False,))
                except Exception:
                    rows.append((doc_id, mime, len(b)) + (None,) * 6 + (True,))
            yield pd.DataFrame(rows, columns=[f.name for f in QUARANTINE_SCHEMA.fields])

    return media.mapInPandas(extract, QUARANTINE_SCHEMA)


#: chunk size of frame_offsets' sampling plan
FRAME_CHUNK_BYTES = 256


def frame_offsets(media: DataFrame) -> DataFrame:
    """Frame/window sampling plan: one row per ``FRAME_CHUNK_BYTES``
    chunk of the payload — sequence + posexplode column algebra, no
    Python. The real pipeline seeks these offsets inside the codec
    stage."""
    # explicit floor division: DuckDB's double→int CAST rounds while
    # Spark's truncates, so the oracle must see the same floor
    n_frames = F.floor(F.col("meta.n_bytes") / FRAME_CHUNK_BYTES).cast("int") + 1
    return media.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx", "_i"),
    ).select(
        "doc_id",
        "mime",
        "frame_idx",
        (F.col("frame_idx") * FRAME_CHUNK_BYTES).alias("byte_offset"),
    )


def payload_integrity(media: DataFrame) -> Column:
    """Integrity predicate: stored checksum matches the payload —
    the cheap corruption gate before any decode work."""
    return F.sha2(F.col("payload"), 256) == F.col("meta.checksum")


# ---------------------------------------------------------------------------
# audio analysis: per-window PCM energy / silence detection

AUDIO_WIN = 50  # frames per analysis window (6.25 ms at 8 kHz)
AUDIO_SILENCE_PEAK = 1024  # |sample| ceiling for the silence flag

#: output schema of the audio energy stage (one row per analysis
#: window, NOT per sample — the PCM never becomes Spark rows)
AUDIO_ENERGY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("win", IntegerType()),
        StructField("n_pcm", IntegerType()),
        StructField("energy_q", LongType()),
        StructField("peak_abs", IntegerType()),
        StructField("is_silence", BooleanType()),
    ]
)


def _wav_pcm(b: bytes):
    """RIFF chunk walk returning (n_channels, int16 interleaved PCM).
    Same traversal contract as _parse_wav (word-aligned chunks, no
    canonical-44-byte assumption), but materializes the sample data."""
    import struct

    import numpy as np

    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE", "not a RIFF/WAVE stream"
    pos, n_ch, bits, data = 12, None, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            _, n_ch, _rate, _, _block, bits = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data = b[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    assert n_ch and bits == 16 and data is not None, "unsupported PCM layout"
    return int(n_ch), np.frombuffer(data, dtype="<i2")


def audio_energy_windows(media: DataFrame) -> DataFrame:
    """Per-window audio energy over REAL WAV decode: each audio payload
    is parsed (RIFF walk), its interleaved int16 PCM split into
    AUDIO_WIN-frame windows, and each window reduced to exact integer
    statistics — Σ sample² (BIGINT, order-free), peak |sample|, and the
    silence flag a speech-corpus trimming stage gates on.

    Scale shape: one Arrow batch crossing per partition; the reduction
    happens INSIDE the batch (numpy reduceat over the contiguous
    window spans), so output is window-grain (~n_samples/50 rows per
    file), never sample-grain — at 100 TB the PCM stays out of the
    shuffle entirely. Window sums of int16² stay < 2⁵³ for any window
    under ~2⁴² frames, so the int64 arithmetic is exact."""

    def extract(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = [f.name for f in AUDIO_ENERGY_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_ch, pcm = _wav_pcm(bytes(payload))
                arr = pcm.astype(np.int64)
                if arr.size == 0:
                    continue
                span = AUDIO_WIN * n_ch  # one window = 50 contiguous frames
                starts = np.arange(0, arr.size, span)
                energy = np.add.reduceat(arr * arr, starts)
                peak = np.maximum.reduceat(np.abs(arr), starts)
                n_pcm = np.diff(np.append(starts, arr.size))
                for w in range(starts.size):
                    rows.append(
                        (
                            int(doc_id),
                            w,
                            int(n_pcm[w]),
                            int(energy[w]),
                            int(peak[w]),
                            bool(peak[w] < AUDIO_SILENCE_PEAK),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(extract, AUDIO_ENERGY_SCHEMA)
