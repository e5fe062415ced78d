"""Multimodal plumbing tests: Arrow batch shape through mapInPandas,
binary round trip, integrity gate, and independent validation of all
four fabricated container formats (WAV/BMP/PNG/MP4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crm_etl_pipeline_spark import multimodal
from crm_etl_pipeline_spark.io import table

SF_DIR = "/root/testdata/sf0.001"


def _media(spark):
    return multimodal.attach_payload(table(spark, SF_DIR, "documents"))


def test_payload_binary_roundtrip(spark):
    media = _media(spark)
    assert dict(media.dtypes)["payload"] == "binary"
    back = media.select("doc_id", F.decode("payload", "UTF-8").alias("text2"))
    orig = table(spark, SF_DIR, "documents").select("doc_id", "text")
    joined = back.join(orig, "doc_id")
    assert joined.filter(F.col("text2") != F.col("text")).count() == 0


def test_integrity_gate(spark):
    media = _media(spark)
    assert media.filter(~multimodal.payload_integrity(media)).count() == 0
    corrupted = media.withColumn(
        "payload", F.concat(F.col("payload"), F.lit(b"\x00"))
    )
    assert corrupted.filter(~multimodal.payload_integrity(corrupted)).count() == corrupted.count()


def test_feature_batch_shape(spark):
    """decode_features projects the real decode to the feature schema:
    audio rows carry channels with null dims, image rows carry real
    width/height from their container headers."""
    docs = table(spark, SF_DIR, "documents")
    feats = multimodal.decode_features(multimodal.fabricate_media(docs))
    assert [(f.name, f.dataType) for f in feats.schema.fields] == [
        (f.name, f.dataType) for f in multimodal.FEATURE_SCHEMA.fields
    ]
    rows = feats.collect()
    assert rows
    seen = set()
    for r in rows:
        seen.add(r.mime)
        if r.mime == "audio/wav":
            assert r.width is None and r.height is None
            assert r.n_channels == 1 + (r.doc_id // 4) % 2
        elif r.mime == "video/mp4":
            assert r.n_channels is None
            assert r.width == 16 + r.doc_id % 32
            assert r.height == 16 + (13 * r.doc_id) % 32
        else:
            assert r.n_channels == 3
            assert r.width == 16 + r.doc_id % 32
    assert seen == {"audio/wav", "image/bmp", "image/png", "video/mp4"}


def test_unknown_mime_raises(spark):
    """An unregistered mime must fail loudly, not pass through."""
    row = spark.createDataFrame(
        [(1, "application/pdf", bytearray(b"%PDF-1.4"))],
        "doc_id long, mime string, payload binary",
    )
    with pytest.raises(Exception, match="no codec"):
        multimodal.decode_media(row).collect()


def test_fabricated_mp4_is_valid():
    """MP4 sanity independent of our parser: box magics and closed-form
    fields at their FIXED offsets for the fabricated layout (ftyp 24 +
    moov hdr 8 → mvhd payload @40, trak→tkhd payload @156, edts @240,
    mdat box @444),
    plus the closed-form total length the oracle relies on.
    Single-chunk variants only (mp4 doc_id % 8 == 3) — the multi-chunk
    layout's offsets are pinned by test_fabricated_mp4_multi_chunk."""
    import struct

    from crm_etl_pipeline_spark import multimodal

    for doc_id in (3, 11, 19, 123, 347, 499):
        assert doc_id % 8 == 3  # single-chunk slots of the mp4 rotation
        b = multimodal._mp4_bytes(doc_id)
        assert len(b) == 516 + 8 * (doc_id % 16)
        assert b[4:8] == b"ftyp" and b[8:12] == b"isom"
        assert b[28:32] == b"moov" and b[36:40] == b"mvhd"
        ts, dur = struct.unpack_from(">II", b, 52)
        assert ts == multimodal.MP4_TIMESCALE
        assert dur == 1000 + doc_id % 9000
        wfix, hfix = struct.unpack_from(">II", b, 232)  # tkhd dims (16.16)
        assert wfix == (16 + doc_id % 32) << 16
        assert hfix == (16 + (13 * doc_id) % 32) << 16
        # elst at its fixed offset: edts @240, elst payload @256 —
        # one v0 entry whose media_time is the (doc_id % 3)·delta trim
        assert b[244:248] == b"edts" and b[252:256] == b"elst"
        assert struct.unpack_from(">I", b, 260)[0] == 1  # entry count
        _sd, mt, r_int, r_frac = struct.unpack_from(">IiHH", b, 264)
        assert mt == (doc_id % 3) * (dur // multimodal.MP4_N_SAMPLES)
        assert (r_int, r_frac) == (1, 0)
        mdat_size = struct.unpack_from(">I", b, 444)[0]
        assert b[448:452] == b"mdat"
        assert mdat_size == 8 + multimodal.MP4_N_SAMPLES * (8 + doc_id % 16)
        # the stts runs must sum exactly to the media duration
        # (stbl payload @332: stsd 16 B, then stts box @348 → entries @364)
        assert b[352:356] == b"stts"
        n1, d1, n2, d2 = struct.unpack_from(">IIII", b, 364)
        assert n1 * d1 + n2 * d2 == dur and n1 + n2 == multimodal.MP4_N_SAMPLES
        # stss follows stts → box @380, entries @396: sync samples 1 and 5
        assert b[384:388] == b"stss"
        assert struct.unpack_from(">I", b, 392)[0] == len(multimodal.MP4_SYNC_SAMPLES)
        assert struct.unpack_from(">2I", b, 396) == multimodal.MP4_SYNC_SAMPLES


def test_fabricated_mp4_multi_chunk():
    """The multi-chunk variant (mp4 doc_id % 8 == 7): closed-form total
    length 576 + 8·(doc_id % 16), a genuine 2-run stsc at its fixed
    offset (stbl payload @332: stsd 16 + stts 32 + stss 24 → stsc
    @404), two stco entries whose second base equals chunk1 + 5·size +
    GAP (the unreferenced-gap layout no cumulative-size walk can
    reproduce), and the same mvhd/tkhd closed forms at the single-chunk
    offsets (the 44-byte stsc growth is all inside stbl, after them)."""
    import struct

    from crm_etl_pipeline_spark import multimodal

    for doc_id in (7, 15, 127, 351, 495):
        assert doc_id % 8 == 7
        b = multimodal._mp4_bytes(doc_id)
        size = 8 + doc_id % 16
        assert len(b) == 576 + 8 * (doc_id % 16)
        assert b[4:8] == b"ftyp" and b[28:32] == b"moov"
        ts, dur = struct.unpack_from(">II", b, 52)
        assert ts == multimodal.MP4_TIMESCALE and dur == 1000 + doc_id % 9000
        wfix, hfix = struct.unpack_from(">II", b, 232)
        assert wfix == (16 + doc_id % 32) << 16
        assert hfix == (16 + (13 * doc_id) % 32) << 16
        # stss @380 (after stsd 16 + stts 32), then stsc @404
        assert b[384:388] == b"stss"
        assert struct.unpack_from(">2I", b, 396) == multimodal.MP4_SYNC_SAMPLES
        assert b[408:412] == b"stsc"
        n_ent = struct.unpack_from(">I", b, 416)[0]
        assert n_ent == 2
        fc1, spc1, _, fc2, spc2, _ = struct.unpack_from(">6I", b, 420)
        assert (fc1, spc1) == (1, multimodal.MP4_MC_SPLIT[0])
        assert (fc2, spc2) == (2, multimodal.MP4_MC_SPLIT[1])
        # stco follows stsc (40 → @444) + stsz (20) → box @464, entries @480
        assert b[468:472] == b"stco"
        c1, c2 = struct.unpack_from(">II", b, 480)
        assert c1 == multimodal.MP4_MC_CHUNK_OFFSET
        assert c2 == c1 + multimodal.MP4_MC_SPLIT[0] * size + multimodal.MP4_MC_GAP
        # mdat header right before chunk 1; payload runs to end of file
        assert b[c1 - 4 : c1] == b"mdat"
        assert c2 + multimodal.MP4_MC_SPLIT[1] * size == len(b)


def test_mp4_64bit_largesize_and_to_end_boxes(spark):
    """The box walk must handle the spec's other two size forms: a
    64-bit `largesize` (size == 1) and a to-end box (size == 0) — both
    legal on real files even though the fabricator emits 32-bit sizes."""
    import struct

    from crm_etl_pipeline_spark import multimodal

    b = multimodal._mp4_bytes(10)
    moov = b[24:444]
    # rewrite moov as a largesize box and make mdat run to end-of-file
    moov64 = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(moov[8:])) + moov[8:]
    mdat0 = struct.pack(">I", 0) + b"mdat" + b[452:]
    rewritten = b[:24] + moov64 + mdat0
    row = spark.createDataFrame(
        [(10, "video/mp4", bytearray(rewritten))],
        "doc_id long, mime string, payload binary",
    )
    out = multimodal.decode_media(row).collect()[0]
    assert out.width == 16 + 10 % 32 and out.sample_rate == multimodal.MP4_TIMESCALE


def test_mp4_sample_offsets_closed_form(spark):
    """Fabricate-then-resolve closed form for the sample-table walk:
    every mp4 doc yields exactly MP4_N_SAMPLES rows with size =
    8 + doc_id % 16. Single-chunk docs (doc_id % 8 == 3) lay out
    back-to-back from MP4_CHUNK_OFFSET; multi-chunk docs (doc_id % 8 ==
    7) follow the stsc 5+3 split across the two stco bases — samples
    5..7 land AFTER the 16-byte unreferenced gap, which a naive
    cumulative-size walk would place 16 bytes early."""
    from crm_etl_pipeline_spark import multimodal

    docs = table(spark, SF_DIR, "documents").limit(200)
    media = multimodal.fabricate_media(docs)
    plan = multimodal.mp4_sample_offsets(media).collect()
    assert plan
    by_doc: dict[int, list] = {}
    for r in plan:
        by_doc.setdefault(r.doc_id, []).append(r)
    n5, n3 = multimodal.MP4_MC_SPLIT
    saw_multi = saw_single = False
    for doc_id, rows in by_doc.items():
        assert doc_id % 4 == 3  # only the mp4 rows of the mime rotation
        size = 8 + doc_id % 16
        assert len(rows) == multimodal.MP4_N_SAMPLES
        rows = sorted(rows, key=lambda r: r.sample_idx)
        assert all(r.sample_size == size for r in rows)
        # stss closed form: samples 1 and 5 (1-based) are the keyframes
        assert [r.sample_idx for r in rows if r.is_sync] == [0, 4]
        # elst closed form: the single edit trims (doc_id % 3) sample
        # durations — pt_ticks = (i − doc_id % 3)·delta, pre-roll
        # samples flagged not-presented
        delta = (1000 + doc_id % 9000) // multimodal.MP4_N_SAMPLES
        for r in rows:
            assert r.pt_ticks == (r.sample_idx - doc_id % 3) * delta
            assert r.presented == (r.sample_idx >= doc_id % 3)
        if doc_id % 8 == 3:
            saw_single = True
            for r in rows:
                assert r.byte_offset == multimodal.MP4_CHUNK_OFFSET + r.sample_idx * size
            # the final sample ends exactly at end-of-file (single-chunk mdat)
            assert multimodal.MP4_CHUNK_OFFSET + multimodal.MP4_N_SAMPLES * size == 516 + 8 * (
                doc_id % 16
            )
        else:
            saw_multi = True
            c1 = multimodal.MP4_MC_CHUNK_OFFSET
            c2 = c1 + n5 * size + multimodal.MP4_MC_GAP
            for r in rows[:n5]:
                assert r.byte_offset == c1 + r.sample_idx * size
            for r in rows[n5:]:
                assert r.byte_offset == c2 + (r.sample_idx - n5) * size
            # the final sample ends exactly at end-of-file
            assert c2 + n3 * size == 576 + 8 * (doc_id % 16)
    assert saw_single and saw_multi


def test_mp4_sample_offsets_per_sample_stsz_and_co64(spark):
    """The walk must also handle the spec's variable-size form (stsz
    sample_size == 0 with a per-sample table) and 64-bit chunk offsets
    (co64): rewrite a fabricated file's stbl accordingly and expect the
    same seek plan."""
    import struct

    from crm_etl_pipeline_spark import multimodal

    doc_id = 11  # single-chunk slot: the rebuild keeps a one-chunk layout
    b = multimodal._mp4_bytes(doc_id)
    size = 8 + doc_id % 16
    n = multimodal.MP4_N_SAMPLES
    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    # variable stsz listing the uniform sizes explicitly + co64 chunk base
    stsz = box(
        b"stsz", struct.pack(">III", 0, 0, n) + struct.pack(f">{n}I", *([size] * n))
    )
    co64 = box(b"co64", struct.pack(">II", 0, 1) + struct.pack(">Q", multimodal.MP4_CHUNK_OFFSET))
    # rebuild: keep ftyp/mvhd/tkhd/mdhd, swap the stbl leaves
    stsd = box(b"stsd", struct.pack(">II", 0, 0))
    dur = 1000 + doc_id % 9000
    delta = dur // n
    stts = box(b"stts", struct.pack(">IIIIII", 0, 2, n - 1, delta, 1, dur - (n - 1) * delta))
    stbl = box(b"stbl", stsd + stts + stsz + co64)
    mvhd = b[32:140]
    tkhd = b[148:240]
    mdhd = b[284:316]  # shifted +36 past the edts subtree
    mdia = box(b"mdia", mdhd + box(b"minf", stbl))
    # the rebuilt trak drops edts — exercising the walk's absent-elst
    # identity-edit default
    moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
    # co64 still DECLARES the original chunk base (452); the rebuilt
    # moov is smaller, so pad the tail to keep the declared sample
    # ranges inside the file for the walk's bounds check
    rewritten = b[:24] + moov + b[444:] + b"\x00" * 64
    row = spark.createDataFrame(
        [(doc_id, "video/mp4", bytearray(rewritten))],
        "doc_id long, mime string, payload binary",
    )
    plan = sorted(
        multimodal.mp4_sample_offsets(row).collect(), key=lambda r: r.sample_idx
    )
    assert len(plan) == n
    assert all(r.is_sync for r in plan)  # rebuilt stbl has no stss → all sync
    # the plan follows the container's DECLARED chunk base (co64 still
    # points at the original base; the rewrite grew moov, which the walk must not care
    # about — it reads the declaration, not the byte layout around it)
    for i, r in enumerate(plan):
        assert r.sample_size == size
        assert r.byte_offset == multimodal.MP4_CHUNK_OFFSET + i * size


def _rebuild_mp4_with_stbl(doc_id: int, stbl_leaves: bytes) -> bytes:
    """Rebuild a SINGLE-CHUNK fabricated file (doc_id % 8 == 3) with a
    hand-written stbl — keeps ftyp/mvhd/tkhd/mdhd and the mdat bytes,
    drops the edts subtree (rebuilt files exercise the absent-elst
    identity-edit default), and swaps the sample table (the
    single-chunk layout's fixed offsets: mvhd 32:140, tkhd 148:240,
    mdhd 284:316 — past the 36-byte edts at 240 — and mdat from 444:
    moov is 420 bytes so mdat starts at 24 + 420 = 444, matching the
    b[444:] slice below)."""
    import struct

    from crm_etl_pipeline_spark import multimodal

    assert doc_id % 8 == 3
    b = multimodal._mp4_bytes(doc_id)

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    mdia = box(b"mdia", b[284:316] + box(b"minf", box(b"stbl", stbl_leaves)))
    moov = box(b"moov", b[32:140] + box(b"trak", b[148:240] + mdia))
    return b[:24] + moov + b[444:]


def test_mp4_multi_chunk_without_stsc_rejected():
    """stco with >1 entry and NO stsc leaves sample placement undefined
    — that is a corrupt sample table, not a decodable layout; the walk
    must refuse it loudly rather than guess a chunk assignment."""
    import struct

    import pytest

    from crm_etl_pipeline_spark import multimodal

    doc_id = 11
    size = 8 + doc_id % 16
    n = multimodal.MP4_N_SAMPLES

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    dur = 1000 + doc_id % 9000
    delta = dur // n
    leaves = (
        box(b"stsd", struct.pack(">II", 0, 0))
        + box(b"stts", struct.pack(">IIIIII", 0, 2, n - 1, delta, 1, dur - (n - 1) * delta))
        + box(b"stsz", struct.pack(">III", 0, size, n))
        + box(
            b"stco",
            struct.pack(">II", 0, 2)
            + struct.pack(
                ">II", multimodal.MP4_CHUNK_OFFSET, multimodal.MP4_CHUNK_OFFSET + 4 * size
            ),
        )
    )
    with pytest.raises(AssertionError, match="without the stsc"):
        multimodal._parse_mp4_samples(_rebuild_mp4_with_stbl(doc_id, leaves))


def test_mp4_stsc_run_spanning_multiple_chunks():
    """An stsc run applies to EVERY chunk from its first_chunk until
    the next run's — ONE entry (first_chunk=1, samples_per_chunk=2)
    must cover all four stco chunks, with per-chunk offsets restarting
    at each declared base. (The unreferenced-gap case — bases that
    cumulative sizes cannot reproduce — is pinned by the fabricated
    5+3 multi-chunk variant's tests.)"""
    import struct

    from crm_etl_pipeline_spark import multimodal

    doc_id = 11
    size = 8 + doc_id % 16
    n = multimodal.MP4_N_SAMPLES  # 8 samples → 4 chunks of 2

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    dur = 1000 + doc_id % 9000
    delta = dur // n

    def build(bases):
        leaves = (
            box(b"stsd", struct.pack(">II", 0, 0))
            + box(
                b"stts",
                struct.pack(">IIIIII", 0, 2, n - 1, delta, 1, dur - (n - 1) * delta),
            )
            + box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 2, 1))
            + box(b"stsz", struct.pack(">III", 0, size, n))
            + box(b"stco", struct.pack(">II", 0, 4) + struct.pack(">4I", *bases))
        )
        return _rebuild_mp4_with_stbl(doc_id, leaves)

    # probe once to find where mdat data starts in the rebuilt file,
    # then rebuild with four bases striding through it back-to-back
    probe = build([multimodal.MP4_CHUNK_OFFSET] * 4)
    data_start = probe.index(b"mdat") + 4
    bases = [data_start + c * 2 * size for c in range(4)]
    plan = multimodal._parse_mp4_samples(build(bases))
    assert [idx for idx, *_ in plan] == list(range(n))
    for idx, off, sz, is_sync, pt, shown in plan:
        assert sz == size
        assert is_sync  # no stss in the rebuilt stbl → per spec, all sync
        assert shown and pt == idx * delta  # no elst → identity edit
        chunk, within = divmod(idx, 2)
        assert off == bases[chunk] + within * size


def test_quarantine_zero_byte_and_truncated_blobs(spark):
    """The quarantine decoder's claim on the sweep's mutated fixtures:
    zero-byte payloads, bare magic numbers, truncated headers, and
    plain garbage each cost ONE flagged row — never the task — while a
    healthy payload in the same batch still decodes through the real
    parser."""
    healthy = multimodal._wav_bytes(4)  # doc_id 4 → audio/wav slot
    bad = [
        (100, "audio/wav", b""),                      # zero-byte
        (101, "image/bmp", b"BM"),                    # magic only
        (102, "image/png", b"\x89PNG\r\n\x1a\n"),     # signature, no chunks
        (103, "video/mp4", b"\x00\x00\x00\x08ftyp"),  # 8-byte ISO-BMFF stub
        (104, "audio/wav", healthy[:10]),             # truncated header
        (105, "image/png", b"\xde\xad\xbe\xef" * 8),  # garbage
    ]
    rows = spark.createDataFrame(
        [(4, "audio/wav", bytearray(healthy))]
        + [(i, m, bytearray(p)) for i, m, p in bad],
        "doc_id long, mime string, payload binary",
    )
    out = {r.doc_id: r for r in multimodal.decode_media_quarantined(rows).collect()}
    assert len(out) == 7
    assert not out[4].is_corrupt and out[4].n_bytes == len(healthy)
    for doc_id, _, payload in bad:
        r = out[doc_id]
        assert r.is_corrupt, f"doc {doc_id} should be quarantined"
        assert r.n_bytes == len(payload)
        assert r.width is None and r.height is None


def test_frame_offsets_cover_payload(spark):
    media = _media(spark)
    frames = multimodal.frame_offsets(media)
    agg = frames.groupBy("doc_id").agg(
        F.max("byte_offset").alias("last_off"), F.count(F.lit(1)).alias("n")
    )
    joined = agg.join(media.select("doc_id", F.col("meta.n_bytes").alias("nb")), "doc_id")
    # last chunk starts within the payload; one chunk per 256 bytes (+1)
    assert joined.filter(F.col("last_off") > F.col("nb")).count() == 0
    assert joined.filter(F.col("n") != (F.col("nb") / 256).cast("int") + 1).count() == 0


def test_fabricated_wav_opens_with_stdlib():
    """The fabricated payloads are REAL media files: the standard
    library's wave module (an independent RIFF parser) must open them
    and report the same parameters our decoder extracts."""
    import io
    import wave

    from crm_etl_pipeline_spark import multimodal

    for doc_id in (0, 4, 8, 12, 100, 496):
        with wave.open(io.BytesIO(multimodal._wav_bytes(doc_id))) as w:
            assert w.getnchannels() == 1 + (doc_id // 4) % 2
            assert w.getframerate() == multimodal.WAV_RATE
            assert w.getsampwidth() == multimodal.WAV_BITS // 8
            assert w.getnframes() == 100 + doc_id % 500


def test_fabricated_png_is_valid():
    """PNG sanity independent of our parser: signature, IHDR dims at
    their fixed offsets, closed-form file length (68 + scanline bytes —
    the stored-block zlib framing the oracle relies on), and the IDAT
    stream inflates to exactly the filter-prefixed scanlines."""
    import struct
    import zlib

    from crm_etl_pipeline_spark import multimodal

    for doc_id in (2, 5, 8, 32, 101, 497):
        b = multimodal._png_bytes(doc_id)
        w, h = 16 + doc_id % 32, 16 + (11 * doc_id) % 32
        scan = h * (1 + 3 * w)
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        assert struct.unpack_from(">II", b, 16) == (w, h)  # IHDR data @16
        assert len(b) == 68 + scan
        idat_len = struct.unpack_from(">I", b, 33)[0]  # IDAT follows IHDR @33
        assert b[37:41] == b"IDAT" and idat_len == scan + 11
        raw = zlib.decompress(b[41 : 41 + idat_len])
        assert len(raw) == scan and raw[0] == 0
        assert raw[1] == doc_id % 256  # first pixel byte is closed-form too


def test_fabricated_bmp_header_is_valid():
    """BMP sanity independent of our parser: magic, declared file size
    equals actual length, pixel offset 54, positive dims, 24 bpp."""
    import struct

    from crm_etl_pipeline_spark import multimodal

    for doc_id in (1, 3, 5, 31, 99, 499):
        b = multimodal._bmp_bytes(doc_id)
        assert b[:2] == b"BM"
        size, _, _, offset = struct.unpack_from("<IHHI", b, 2)
        assert size == len(b) and offset == 54
        w, h = struct.unpack_from("<ii", b, 18)
        assert w == 16 + doc_id % 32 and h == 16 + (7 * doc_id) % 32
        assert struct.unpack_from("<H", b, 28)[0] == 24
        stride = (3 * w + 3) // 4 * 4
        assert len(b) == 54 + stride * h


def test_audio_energy_windows_against_stdlib_decode():
    """The window reduction must agree with an independent decode: the
    stdlib wave module reads the PCM, pure Python computes each
    window's Σ sample² / peak — and the numpy reduceat path in
    multimodal._wav_pcm + audio_energy_windows must match it exactly.
    Checked off-Spark at the function level for a mono and a stereo
    doc, covering the ragged final window."""
    import io
    import struct
    import wave

    import numpy as np

    from crm_etl_pipeline_spark import multimodal

    for doc_id in (8, 4):  # mono, stereo
        b = multimodal._wav_bytes(doc_id)
        n_ch, pcm = multimodal._wav_pcm(b)
        with wave.open(io.BytesIO(b)) as w:
            assert n_ch == w.getnchannels()
            raw = w.readframes(w.getnframes())
        ref = struct.unpack(f"<{len(raw) // 2}h", raw)
        assert list(pcm) == list(ref)
        span = multimodal.AUDIO_WIN * n_ch
        arr = np.asarray(ref, dtype=np.int64)
        expected = [
            (
                int((arr[i : i + span] ** 2).sum()),
                int(np.abs(arr[i : i + span]).max()),
                len(arr[i : i + span]),
            )
            for i in range(0, arr.size, span)
        ]
        starts = np.arange(0, arr.size, span)
        got_e = np.add.reduceat(arr * arr, starts)
        got_p = np.maximum.reduceat(np.abs(arr), starts)
        got_n = np.diff(np.append(starts, arr.size))
        assert [(int(e), int(p), int(n)) for e, p, n in zip(got_e, got_p, got_n)] == expected
        # the last window is ragged unless 50 | n_samples
        n_samples = 100 + doc_id % 500
        assert got_n[-1] == (n_samples % multimodal.AUDIO_WIN or multimodal.AUDIO_WIN) * n_ch


def test_mime_rotation_pinned_for_pushdown(spark):
    """Round-15 ADVICE: audio_energy_windows / multimodal_mp4_seek_plan
    push pmod(doc_id, 4) == {0, 3} below fabrication, duplicating
    fabricate_media's Python ``int(i) % 4`` mime rotation at a
    distance. Pin the rotation (1) directly — fabricated mimes for
    doc_ids 0..7 must follow the %4 table — and (2) behaviorally: both
    single-mime queries must return rows at sf0.001 (a reordered
    rotation would silently fabricate the wrong subset and the JVM-side
    mime gate would mask it as an EMPTY result, never an error)."""
    from crm_etl_pipeline_spark.registry import REGISTRY

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    got = {
        r.doc_id: r.mime
        for r in multimodal.fabricate_media(docs).select("doc_id", "mime").collect()
    }
    rotation = {0: "audio/wav", 1: "image/bmp", 2: "image/png", 3: "video/mp4"}
    assert got == {i: rotation[i % 4] for i in range(8)}
    assert REGISTRY["audio_energy_windows"].fn(spark, SF_DIR).limit(1).count() == 1
    assert REGISTRY["multimodal_mp4_seek_plan"].fn(spark, SF_DIR).limit(1).count() == 1
