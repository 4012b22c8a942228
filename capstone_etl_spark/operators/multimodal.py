"""Multimodal (binary) column operators.

Design for image/audio/video at 100 TB: media are opaque `binary`
columns with typed metadata alongside (media_type, n_bytes, …); decode
and feature-extraction run as Arrow-batched pandas over `mapInPandas`
(one Python worker per partition, whole record-batches per call —
never row-at-a-time), while everything computable from bytes without a
codec (sizes, fingerprints, magic sniffing, chunking arithmetic) stays
expression-native in whole-stage codegen.

Decode is REAL for all three media types: `decode_image` uses PIL when
installed (optional import), else a stdlib header parse reading true
dimensions from PNG/GIF/JPEG headers; `decode_audio` parses RIFF/WAV
headers via the stdlib `wave` module (channels, sample rate, duration);
`decode_video` walks ISO-BMFF (MP4/MOV) boxes to mvhd/tkhd for
dimensions and duration. All are header-only — no sample data is
decompressed. Payloads no path recognizes (including the gate's
synthetic magic+text payloads) fall back to a deterministic fake decode
(`_fake_meta`) whose arithmetic the SQL oracle mirrors, so the pipeline
is hash-checked end to end with or without codecs, and real media bytes
get real metadata.

The test corpus has no binary column either: `with_binary_payload`
synthesizes one deterministically (4-byte type magic + utf-8 text
bytes), which both engines can reproduce, making even the
pandas-backed operators hash-checkable against DuckDB.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capstone_etl_spark.functions.text import tokenize_sql
from capstone_etl_spark.session import cached
from capstone_etl_spark.sources.tables import load_table

MEDIA_TYPES = ("image", "audio", "video")
MAGIC = {"image": "IMG0", "audio": "AUD0", "video": "VID0"}
FRAME_BYTES = 1000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, media_type, payload binary) — deterministic opaque
    payload: 4-byte magic (by media type, cycled doc_id % 3) + the
    utf-8 text bytes. Stands in for real blobs; at scale this column
    is read straight from parquet/lance, never synthesized."""
    mt = F.element_at(F.array(*[F.lit(t) for t in MEDIA_TYPES]), (F.col("doc_id") % 3 + 1).cast("int"))
    magic = F.element_at(
        F.array(*[F.lit(MAGIC[t]) for t in MEDIA_TYPES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        F.concat(F.encode(magic, "utf-8"), F.encode("text", "utf-8")).alias("payload"),
    )


# ------------------------------------------------- expression-native ops

def binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level stats entirely in codegen: size, md5 fingerprint,
    magic-byte sniff, frame count arithmetic. No Python anywhere."""
    b = with_binary_payload(_docs(spark, sf_dir))
    return b.select(
        "doc_id",
        "media_type",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("fingerprint"),
        F.hex(F.substring("payload", 1, 4)).alias("magic_hex"),
        F.ceil(F.length("payload") / F.lit(FRAME_BYTES)).cast("long").alias("n_frames"),
    )


_PAYLOAD_SQL = """
  SELECT doc_id,
         ['image','audio','video'][(doc_id % 3)::INT + 1] AS media_type,
         ['IMG0','AUD0','VID0'][(doc_id % 3)::INT + 1] || text AS payload
  FROM documents
"""

# Oracle byte discipline: the Spark payload is BINARY (utf-8 bytes), so
# every size in the oracles is strlen() — DuckDB's BYTE length of a
# VARCHAR — never length(), which counts CHARACTERS and diverges on the
# first multibyte document (caught by the r5 degenerate-corpus sweep).
BINARY_STATS_SQL = f"""
WITH p AS ({_PAYLOAD_SQL})
SELECT doc_id, media_type,
       CAST(strlen(payload) AS BIGINT) AS n_bytes,
       md5(payload) AS fingerprint,
       upper(hex(substr(payload, 1, 4))) AS magic_hex,
       CAST(ceil(strlen(payload) / {FRAME_BYTES}.0) AS BIGINT) AS n_frames
FROM p
"""


def media_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level content dedup across binary payloads: every payload
    is cut into fixed FRAME_BYTES chunks, each chunk fingerprinted,
    and the per-media-type duplicate ratio reported — the storage-
    dedup/near-copy signal a video/audio corpus pipeline runs before
    expensive decode (identical frames decode once). Chunking is
    offset arithmetic + substring, hashing is md5 — all whole-stage
    codegen, zero Python; one shuffle on media_type after the
    map-side distinct aggregation."""
    b = with_binary_payload(_docs(spark, sf_dir))
    nf = F.ceil(F.length("payload") / F.lit(FRAME_BYTES)).cast("int")
    # Frame fingerprint CONTRACT: md5 of the LOWER-HEX encoding of the
    # byte frame — not of the raw bytes — because DuckDB's hash
    # functions accept VARCHAR only, and slicing the hex string by
    # 2·FRAME_BYTES chars IS byte-exact slicing for arbitrary (incl.
    # multibyte) payloads. Same identity properties, engine-portable.
    frames = b.select(
        "doc_id",
        "media_type",
        F.lower(F.hex("payload")).alias("hexp"),
        nf.alias("nf"),
    ).select(
        "doc_id",
        "media_type",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("nf")),
                lambda i: F.md5(
                    F.col("hexp").substr(
                        (i - 1) * F.lit(2 * FRAME_BYTES) + 1, F.lit(2 * FRAME_BYTES)
                    )
                ),
            )
        ).alias("frame_hash"),
    )
    return (
        frames.groupBy("media_type")
        .agg(
            F.countDistinct("doc_id").alias("n_payloads"),
            F.count("*").alias("n_frames"),
            F.countDistinct("frame_hash").alias("n_distinct_frames"),
            (
                F.lit(1.0)
                - F.countDistinct("frame_hash").cast("double") / F.count("*")
            ).alias("dup_ratio"),
        )
        .orderBy("media_type")
    )


MEDIA_FRAME_DEDUP_SQL = f"""
WITH p AS ({_PAYLOAD_SQL}),
frames AS (
  SELECT doc_id, media_type,
         md5(substr(lower(hex(payload)),
                    CAST((i - 1) * {2 * FRAME_BYTES} + 1 AS INT), {2 * FRAME_BYTES})) AS frame_hash
  FROM p, LATERAL (
    SELECT unnest(range(1, CAST(ceil(strlen(payload) / {FRAME_BYTES}.0) AS BIGINT) + 1)) AS i
  ) r
)
SELECT media_type,
       COUNT(DISTINCT doc_id) AS n_payloads,
       COUNT(*) AS n_frames,
       COUNT(DISTINCT frame_hash) AS n_distinct_frames,
       1.0 - CAST(COUNT(DISTINCT frame_hash) AS DOUBLE) / COUNT(*) AS dup_ratio
FROM frames GROUP BY media_type ORDER BY media_type
"""


# -------------------------------------------------------------- decode
#
# Two real paths + one deterministic fallback, tried in order:
#   1. PIL, when installed (full codec surface — every format PIL
#      reads; header-lazy, so dimension extraction never decompresses
#      pixel data);
#   2. stdlib header parse for PNG / GIF / JPEG — dimensions live in
#      fixed header fields (PNG IHDR, GIF logical-screen descriptor,
#      JPEG SOFn marker), no codec needed;
#   3. the deterministic fake (_fake_meta) for payloads neither path
#      recognizes — which includes the gate's synthetic magic+text
#      payloads, so the DuckDB oracle stays exact with or without PIL.

try:  # optional codec — absent in this container, used when deployed with it
    from PIL import Image as _PIL_Image  # type: ignore
except ImportError:  # pragma: no cover - exercised via the header path
    _PIL_Image = None

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG start-of-frame markers that carry dimensions (all SOFn except
# DHT/JPG/DAC which reuse the 0xC range: C4, C8, CC).
_JPEG_SOF = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}


def _header_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) from format headers alone — PNG/GIF/JPEG."""
    if payload[:8] == _PNG_SIG and len(payload) >= 24:
        w, h = struct.unpack(">II", payload[16:24])
        return int(w), int(h)
    if payload[:4] == b"GIF8" and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return int(w), int(h)
    if payload[:2] == b"\xff\xd8":  # JPEG: walk markers to the first SOFn
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker in _JPEG_SOF:
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return int(w), int(h)
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
    raise NotImplementedError("unrecognized image format (no codec for it here)")


def decode_image(payload: bytes) -> tuple[int, int]:
    """REAL image decode to (width, height): PIL when available, else
    stdlib header parsing. Raises NotImplementedError only when the
    bytes match no path — callers fall back to the deterministic fake
    so pipelines never fail on junk bytes."""
    if _PIL_Image is not None:
        import io

        try:
            with _PIL_Image.open(io.BytesIO(payload)) as im:
                return int(im.width), int(im.height)
        except Exception:
            pass  # not PIL-readable; the header parse may still know it
    return _header_dims(payload)


def decode_audio(payload: bytes) -> tuple[int, int, int]:
    """REAL audio header decode → (n_channels, sample_rate_hz,
    duration_ms) for RIFF/WAV via the stdlib `wave` module — frame
    count and rate live in the header, no sample data is read. Raises
    NotImplementedError for anything that isn't a parseable WAV."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            rate = w.getframerate()
            frames = w.getnframes()
            if rate <= 0:
                raise NotImplementedError("WAV with zero frame rate")
            return w.getnchannels(), rate, int(frames * 1000 // rate)
    except (wave.Error, EOFError, struct.error) as e:
        raise NotImplementedError(f"unrecognized audio format: {e}") from e


def _iter_boxes(data: bytes, start: int, end: int):
    """Minimal ISO-BMFF (MP4) box walk: yields (type, body_start,
    body_end) for each box in [start, end)."""
    i = start
    while i + 8 <= end:
        size, btype = struct.unpack(">I4s", data[i : i + 8])
        if size < 8:
            break
        yield btype, i + 8, min(i + size, end)
        i += size


def decode_video(payload: bytes) -> tuple[int, int, int]:
    """REAL video header decode → (width, height, duration_ms) for
    ISO-BMFF (MP4/MOV): walks top-level boxes to moov, reads mvhd
    (timescale + duration) and the first tkhd (16.16 fixed-point
    width/height). Header-only — never touches sample data. Raises
    NotImplementedError for non-BMFF bytes."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise NotImplementedError("unrecognized video format (no ftyp box)")
    width = height = duration_ms = -1
    for btype, bs, be in _iter_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _iter_boxes(payload, bs, be):
            if ctype == b"mvhd" and ce - cs >= 20 and payload[cs] == 0:
                timescale, dur = struct.unpack(">II", payload[cs + 12 : cs + 20])
                if timescale > 0:
                    duration_ms = int(dur * 1000 // timescale)
            elif ctype == b"trak" and width < 0:
                for ttype, ts, te in _iter_boxes(payload, cs, ce):
                    if ttype == b"tkhd" and te - ts >= 84 and payload[ts] == 0:
                        w_fp, h_fp = struct.unpack(">II", payload[ts + 76 : ts + 84])
                        width, height = w_fp >> 16, h_fp >> 16
                        break
    if width < 0 or duration_ms < 0:
        raise NotImplementedError("BMFF file without mvhd/tkhd headers")
    return width, height, duration_ms


def _fake_meta(payload: bytes, media_type: str) -> tuple[int, int, int]:
    """Deterministic stand-in for decode: (width, height, duration_ms)
    derived from the payload's md5 — same arithmetic the SQL oracle
    reproduces, so the pandas path is hash-checked end to end."""
    h = hashlib.md5(payload).hexdigest()
    width = 16 + int(h[:2], 16) % 240
    height = 16 + int(h[2:4], 16) % 240
    duration = (len(payload) * 8) if media_type != "image" else 0
    return width, height, duration


def _meta(payload: bytes, media_type: str) -> tuple[int, int, int]:
    """Real header decode first for every media type — images
    (PIL/PNG/GIF/JPEG → width, height, 0), audio (WAV → channels,
    sample_rate, duration_ms — the two spatial slots carry the audio
    geometry), video (MP4 → width, height, duration_ms) — with the
    deterministic fake for synthetic / unrecognized payloads (the
    gate's magic+text payloads always take that oracle-mirrored path)."""
    try:
        if media_type == "image":
            w, h = decode_image(payload)
            return w, h, 0
        if media_type == "audio":
            return decode_audio(payload)
        if media_type == "video":
            return decode_video(payload)
    except NotImplementedError:
        pass
    return _fake_meta(payload, media_type)


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-shaped metadata extraction over mapInPandas: Arrow batches
    of (doc_id, media_type, payload) → (doc_id, media_type, width,
    height, duration_ms, n_bytes). Real image payloads (PNG/GIF/JPEG,
    or anything PIL reads when installed) get true dimensions; the
    gate's synthetic payloads take the oracle-mirrored fake path."""
    b = with_binary_payload(_docs(spark, sf_dir))
    return b.mapInPandas(extract_meta, META_SCHEMA)


META_SCHEMA = (
    "doc_id long, media_type string, width long, height long, "
    "duration_ms long, n_bytes long"
)


def extract_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The mapInPandas decode stage, module-level so any (doc_id,
    media_type, payload) frame — synthetic or real bytes — runs the
    identical code path."""
    for pdf in batches:
        metas = [_meta(p, m) for p, m in zip(pdf["payload"], pdf["media_type"])]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "width": [m[0] for m in metas],
                "height": [m[1] for m in metas],
                "duration_ms": [m[2] for m in metas],
                "n_bytes": [len(p) for p in pdf["payload"]],
            }
        )


MEDIA_METADATA_SQL = f"""
WITH p AS ({_PAYLOAD_SQL})
SELECT doc_id, media_type,
       CAST(16 + ('0x' || substr(md5(payload), 1, 2))::BIGINT % 240 AS BIGINT) AS width,
       CAST(16 + ('0x' || substr(md5(payload), 3, 2))::BIGINT % 240 AS BIGINT) AS height,
       CAST(CASE WHEN media_type = 'image' THEN 0 ELSE strlen(payload) * 8 END AS BIGINT) AS duration_ms,
       CAST(strlen(payload) AS BIGINT) AS n_bytes
FROM p
"""


def frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over mapInPandas: chunk each payload into
    FRAME_BYTES frames, emit per-frame fingerprints — the shape of a
    video frame-extraction stage (1 input row → N output rows inside
    one Arrow batch)."""
    b = with_binary_payload(_docs(spark, sf_dir))
    schema = "doc_id long, frame_idx long, frame_bytes long, frame_md5 string"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # frame_md5 follows the module's portable fingerprint contract:
        # md5 of the LOWER-HEX encoding of the byte frame (bytes.hex()
        # is lowercase), identical to the SQL side's hex-slice hash —
        # DuckDB can only hash VARCHAR, and hex-string slicing is
        # byte-exact for multibyte payloads.
        for pdf in batches:
            ids, idxs, sizes, digests = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = math.ceil(len(payload) / FRAME_BYTES)
                for i in range(n):
                    chunk = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    ids.append(doc_id)
                    idxs.append(i)
                    sizes.append(len(chunk))
                    digests.append(hashlib.md5(chunk.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": sizes, "frame_md5": digests}
            )

    return b.mapInPandas(sample, schema)


FRAME_SAMPLES_SQL = f"""
WITH p AS ({_PAYLOAD_SQL}),
frames AS (
  SELECT doc_id, i AS frame_idx,
         substr(lower(hex(payload)), (i * {2 * FRAME_BYTES} + 1)::INT, {2 * FRAME_BYTES}) AS chunk_hex
  FROM p CROSS JOIN LATERAL (
    SELECT unnest(range(0, CAST(ceil(strlen(payload) / {FRAME_BYTES}.0) AS BIGINT))) AS i
  ) g
)
SELECT doc_id, frame_idx,
       CAST(length(chunk_hex) // 2 AS BIGINT) AS frame_bytes,
       md5(chunk_hex) AS frame_md5
FROM frames
"""


RESIZE_MAX = 64  # longest-side target for the thumbnail stage


def pil_resize_digest(payload: bytes, tw: int, th: int) -> str | None:
    """The REAL pixel path (used by media_resize(real_pixels=True)):
    fully decode the payload with PIL, resample to (tw, th), and
    fingerprint the resized RGBA pixel buffer. Returns None when PIL
    is absent or cannot FULLY load the bytes (header-only synthetic
    payloads, junk) — callers fall back to the deterministic
    (payload, geometry) fingerprint so a batch never fails on
    undecodable bytes. Pixel-buffer md5, not re-encoded-file md5:
    encoder settings vary across PIL builds, raw RGBA does not."""
    if _PIL_Image is None:
        return None
    import io

    try:
        with _PIL_Image.open(io.BytesIO(payload)) as im:
            im.load()  # force full pixel decode, not just the header
            resized = im.resize((tw, th))
            return hashlib.md5(resized.convert("RGBA").tobytes()).hexdigest()
    except Exception:
        return None


def media_resize(spark: SparkSession, sf_dir: str, real_pixels: bool = False) -> DataFrame:
    """The RESIZE stage of an image/video preprocessing pipeline,
    plumbing-real: decode dims (same `_meta` path as multimodal_meta —
    real headers when recognized, oracle-mirrored fake otherwise),
    compute the aspect-preserving thumbnail geometry in pure integer
    arithmetic (target = dim·RESIZE_MAX // max(w, h), floored, min 1),
    and emit a deterministic content hash of (payload, target dims) —
    the identity a downstream cache/dedup keys resized artifacts by.
    Audio rows are excluded (their two geometry slots carry
    channels/sample-rate; resampling is a different op).

    The DEFAULT pixel resample is the deterministic stub (a hash over
    truly resampled bytes could never be oracle-checked, and the
    registered query must stay oracle-exact with or without codecs
    installed). `real_pixels=True` switches the fingerprint source to
    the REAL PIL resample (pil_resize_digest: full decode →
    im.resize((tw, th)) → RGBA-buffer md5) inside the same mapInPandas
    batch loop, falling back per-payload to the deterministic
    fingerprint for bytes PIL cannot fully load — schema, partitioning,
    batch shape and geometry arithmetic are identical on both paths
    (tests/test_multimodal.py pins the real path's geometry contract
    when PIL is installed and the loud ImportError when not).

    Scale: map-only (mapInPandas, one Arrow batch per partition), no
    shuffle, output one row per image/video payload."""
    if real_pixels and _PIL_Image is None:
        raise ImportError(
            "media_resize(real_pixels=True) needs PIL installed; "
            "the default fingerprint path runs without it"
        )
    b = with_binary_payload(_docs(spark, sf_dir)).filter(
        F.col("media_type") != "audio"
    )
    schema = (
        "doc_id long, media_type string, width long, height long, "
        "target_w long, target_h long, resized_md5 string"
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, mt, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                raw = bytes(payload)
                w, h, _dur = _meta(raw, mt)
                mx = max(w, h)
                if mx <= RESIZE_MAX:
                    tw, th = w, h
                else:
                    tw = max(1, w * RESIZE_MAX // mx)
                    th = max(1, h * RESIZE_MAX // mx)
                digest = None
                if real_pixels:
                    digest = pil_resize_digest(raw, tw, th)
                if digest is None:
                    digest = hashlib.md5(raw + f":{tw}:{th}".encode()).hexdigest()
                out.append((int(doc_id), mt, w, h, tw, th, digest))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "media_type",
                    "width",
                    "height",
                    "target_w",
                    "target_h",
                    "resized_md5",
                ],
            )

    return b.mapInPandas(resize, schema)


MEDIA_RESIZE_SQL = f"""
WITH p AS ({_PAYLOAD_SQL}),
meta AS (
  SELECT doc_id, media_type, payload,
         CAST(16 + ('0x' || substr(md5(payload), 1, 2))::BIGINT % 240 AS BIGINT) AS width,
         CAST(16 + ('0x' || substr(md5(payload), 3, 2))::BIGINT % 240 AS BIGINT) AS height
  FROM p WHERE media_type <> 'audio'
), geo AS (
  SELECT doc_id, media_type, payload, width, height,
         CASE WHEN greatest(width, height) <= {RESIZE_MAX} THEN width
              ELSE greatest(1, width * {RESIZE_MAX} // greatest(width, height)) END AS target_w,
         CASE WHEN greatest(width, height) <= {RESIZE_MAX} THEN height
              ELSE greatest(1, height * {RESIZE_MAX} // greatest(width, height)) END AS target_h
  FROM meta
)
SELECT doc_id, media_type, width, height,
       CAST(target_w AS BIGINT) AS target_w,
       CAST(target_h AS BIGINT) AS target_h,
       md5(payload || ':' || target_w::VARCHAR || ':' || target_h::VARCHAR) AS resized_md5
FROM geo
"""


RESAMPLE_RATE_HZ = 16000  # target rate for the audio-ingest stage

try:  # stdlib PCM resampler — present through 3.12, removed in 3.13
    import audioop as _audioop  # noqa: N813
except ImportError:  # pragma: no cover - future interpreters
    _audioop = None


def wav_resample_digest(payload: bytes, target_rate: int) -> str | None:
    """The REAL sample path (audio_resample(real_samples=True)): fully
    read a WAV's PCM frames with the stdlib `wave` module, rate-convert
    with audioop.ratecv (linear interpolation, stateless single call),
    and fingerprint the resampled PCM buffer. Returns None when the
    bytes aren't a fully-readable PCM WAV or the resampler is absent —
    callers fall back to the deterministic (payload, rate) fingerprint
    so a batch never fails on undecodable bytes. PCM-buffer md5, not
    re-encoded-file md5 (the resize-path discipline: container
    encoders vary, raw buffers do not)."""
    if _audioop is None:
        return None
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            rate = w.getframerate()
            if rate <= 0:
                return None
            frames = w.readframes(w.getnframes())
            converted, _state = _audioop.ratecv(
                frames, w.getsampwidth(), w.getnchannels(), rate, target_rate, None
            )
            return hashlib.md5(converted).hexdigest()
    except Exception:
        return None


def audio_resample(spark: SparkSession, sf_dir: str, real_samples: bool = False) -> DataFrame:
    """The RESAMPLE stage of an audio preprocessing pipeline — the
    audio twin of media_resize: decode the audio geometry (real WAV
    headers when recognized, the oracle-mirrored fake otherwise —
    same `_meta` path as multimodal_meta, whose two spatial slots
    carry channels / sample rate for audio), derive the exact-integer
    sample accounting at the RESAMPLE_RATE_HZ target
    (est_samples = rate · duration_ms // 1000), and emit the
    deterministic content identity a downstream cache/dedup keys
    resampled artifacts by. Image/video rows are excluded (their
    geometry slots carry pixels; resizing is media_resize's job).

    The DEFAULT fingerprint is the deterministic (payload, target
    rate) hash so the registered query stays oracle-exact on any
    corpus. `real_samples=True` swaps the fingerprint source for the
    REAL stdlib resample (wav_resample_digest: wave read →
    audioop.ratecv → PCM-buffer md5) inside the same mapInPandas batch
    loop, falling back per-payload for bytes that aren't fully-readable
    PCM WAV — unlike the PIL image path, this real path is
    stdlib-only, so the suite exercises it unconditionally
    (tests/test_multimodal.py).

    Scale: map-only (mapInPandas, one Arrow batch per partition), no
    shuffle, one row per audio payload."""
    if real_samples and _audioop is None:
        raise ImportError(
            "audio_resample(real_samples=True) needs the stdlib audioop "
            "module (removed in Python 3.13); the default fingerprint "
            "path runs without it"
        )
    b = with_binary_payload(_docs(spark, sf_dir)).filter(
        F.col("media_type") == "audio"
    )
    schema = (
        "doc_id long, n_channels long, sample_rate_hz long, duration_ms long, "
        "target_rate_hz long, est_samples_in long, est_samples_out long, "
        "resampled_md5 string"
    )

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                ch, rate, dur = _meta(raw, "audio")
                s_in = rate * dur // 1000
                s_out = RESAMPLE_RATE_HZ * dur // 1000
                digest = None
                if real_samples:
                    digest = wav_resample_digest(raw, RESAMPLE_RATE_HZ)
                if digest is None:
                    digest = hashlib.md5(
                        raw + f":{RESAMPLE_RATE_HZ}".encode()
                    ).hexdigest()
                out.append(
                    (int(doc_id), ch, rate, dur, RESAMPLE_RATE_HZ, s_in, s_out, digest)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_channels",
                    "sample_rate_hz",
                    "duration_ms",
                    "target_rate_hz",
                    "est_samples_in",
                    "est_samples_out",
                    "resampled_md5",
                ],
            )

    return b.mapInPandas(resample, schema)


AUDIO_RESAMPLE_SQL = f"""
WITH p AS ({_PAYLOAD_SQL})
SELECT doc_id,
       CAST(16 + ('0x' || substr(md5(payload), 1, 2))::BIGINT % 240 AS BIGINT) AS n_channels,
       CAST(16 + ('0x' || substr(md5(payload), 3, 2))::BIGINT % 240 AS BIGINT) AS sample_rate_hz,
       CAST(strlen(payload) * 8 AS BIGINT) AS duration_ms,
       CAST({RESAMPLE_RATE_HZ} AS BIGINT) AS target_rate_hz,
       CAST((16 + ('0x' || substr(md5(payload), 3, 2))::BIGINT % 240) * (strlen(payload) * 8) // 1000 AS BIGINT) AS est_samples_in,
       CAST({RESAMPLE_RATE_HZ} * (strlen(payload) * 8) // 1000 AS BIGINT) AS est_samples_out,
       md5(payload || ':{RESAMPLE_RATE_HZ}') AS resampled_md5
FROM p WHERE media_type = 'audio'
"""


PHASH_CELLS = 64     # aHash grid: 64 cells -> 64-bit fingerprint
PHASH_HAM_MAX = 3    # <= 3 flipped bits: pigeonhole over 4 blocks is EXACT


def media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs for image payloads — the
    classic average-hash (aHash) image-dedup primitive, plumbing-real
    over the deterministic fake decode (payload bytes AS the grayscale
    pixel stream, the multimodal house doctrine: a real decoder drops
    into the byte-value expression without touching the pipeline):
    each payload's bytes partition into 64 equal cells, a cell's bit
    is 1 iff its mean byte value ≥ the payload mean — compared by
    exact integer cross-multiplication (cell_sum·n ≥ tot·cell_cnt),
    never a float division — packed 32 bits per word (DuckDB's checked
    shift, bloom_membership's rule). Candidate pairs come from a
    16-bit-block pigeonhole equi-join (simhash's blocking): with 4
    blocks, any pair within PHASH_HAM_MAX=3 bits shares ≥1 untouched
    block, so recall at the threshold is EXACT, not probabilistic.

    100 TB: the fingerprint build is map-shaped (per-byte explode →
    two bounded aggs keyed on doc_id); the only pair work is the
    block-bucket equi-join — never all-pairs — and the verify is two
    xor+popcounts per candidate."""
    b = with_binary_payload(_docs(spark, sf_dir)).filter(
        F.col("media_type") == "image"
    )
    hexed = b.select(
        "doc_id",
        F.lower(F.hex("payload")).alias("hexp"),
        F.length("payload").cast("long").alias("n"),
    )
    positions = hexed.select(
        "doc_id",
        "n",
        "hexp",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n") - 1)).alias("pos"),
    )
    byteval = F.expr(
        "CAST(conv(substring(hexp, CAST(pos * 2 + 1 AS INT), 2), 16, 10) AS BIGINT)"
    )
    cells = (
        positions.select(
            "doc_id",
            F.expr(f"(pos * {PHASH_CELLS}) div n").alias("cell"),
            byteval.alias("v"),
        )
        .groupBy("doc_id", "cell")
        .agg(F.sum("v").alias("cell_sum"), F.count("*").alias("cell_cnt"))
    )
    totals = cells.groupBy("doc_id").agg(
        F.sum("cell_sum").alias("tot"), F.sum("cell_cnt").alias("nb")
    )
    bits = cells.join(totals, "doc_id").select(
        "doc_id",
        "cell",
        (F.col("cell_sum") * F.col("nb") >= F.col("tot") * F.col("cell_cnt"))
        .cast("long")
        .alias("bit"),
    )
    words = cached(
        bits.groupBy("doc_id").agg(
            F.sum(
                F.when(F.col("cell") < 32, F.expr("shiftleft(bit, CAST(cell AS INT))"))
                .otherwise(F.lit(0).cast("long"))
            ).cast("long").alias("w0"),
            F.sum(
                F.when(
                    F.col("cell") >= 32,
                    F.expr("shiftleft(bit, CAST(cell - 32 AS INT))"),
                ).otherwise(F.lit(0).cast("long"))
            ).cast("long").alias("w1"),
        )
    )
    blk = words.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bi"), (F.col("w0") % 65536).alias("bv")),
                F.struct(F.lit(1).alias("bi"), F.shiftright("w0", 16).alias("bv")),
                F.struct(F.lit(2).alias("bi"), (F.col("w1") % 65536).alias("bv")),
                F.struct(F.lit(3).alias("bi"), F.shiftright("w1", 16).alias("bv")),
            )
        ).alias("b"),
    ).select("doc_id", "b.bi", "b.bv")
    cand = (
        blk.alias("a")
        .join(
            blk.alias("c"),
            (F.col("a.bi") == F.col("c.bi"))
            & (F.col("a.bv") == F.col("c.bv"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .distinct()
    )
    wa = words.select(
        F.col("doc_id").alias("doc_a"), F.col("w0").alias("w0a"), F.col("w1").alias("w1a")
    )
    wb = words.select(
        F.col("doc_id").alias("doc_b"), F.col("w0").alias("w0b"), F.col("w1").alias("w1b")
    )
    ham = (
        F.bit_count(F.col("w0a").bitwiseXOR(F.col("w0b")))
        + F.bit_count(F.col("w1a").bitwiseXOR(F.col("w1b")))
    ).cast("long")
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_HAM_MAX)
    )


MEDIA_PHASH_DEDUP_SQL = f"""
WITH p AS ({_PAYLOAD_SQL}),
img AS (
  SELECT doc_id, lower(hex(payload)) AS hexp, CAST(strlen(payload) AS BIGINT) AS n
  FROM p WHERE media_type = 'image'
), bytes AS (
  SELECT doc_id, (pos * {PHASH_CELLS}) // n AS cell,
         ('0x' || substr(hexp, CAST(pos * 2 + 1 AS INT), 2))::BIGINT AS v
  FROM img, LATERAL (SELECT unnest(range(0, n)) AS pos) r
), cells AS (
  SELECT doc_id, cell, SUM(v) AS cell_sum, COUNT(*) AS cell_cnt
  FROM bytes GROUP BY 1, 2
), totals AS (
  SELECT doc_id, SUM(cell_sum) AS tot, SUM(cell_cnt) AS nb FROM cells GROUP BY 1
), bits AS (
  SELECT c.doc_id, c.cell,
         CASE WHEN c.cell_sum * t.nb >= t.tot * c.cell_cnt
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM cells c JOIN totals t USING (doc_id)
), words AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN cell < 32 THEN bit << CAST(cell AS INT) ELSE 0 END) AS BIGINT) AS w0,
         CAST(SUM(CASE WHEN cell >= 32 THEN bit << CAST(cell - 32 AS INT) ELSE 0 END) AS BIGINT) AS w1
  FROM bits GROUP BY 1
), blk AS (
  SELECT doc_id, 0 AS bi, w0 % 65536 AS bv FROM words
  UNION ALL SELECT doc_id, 1, w0 >> 16 FROM words
  UNION ALL SELECT doc_id, 2, w1 % 65536 FROM words
  UNION ALL SELECT doc_id, 3, w1 >> 16 FROM words
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM blk a JOIN blk c ON c.bi = a.bi AND c.bv = a.bv AND a.doc_id < c.doc_id
)
SELECT k.doc_a, k.doc_b,
       CAST(bit_count(xor(wa.w0, wb.w0)) + bit_count(xor(wa.w1, wb.w1)) AS BIGINT) AS hamming
FROM cand k
JOIN words wa ON wa.doc_id = k.doc_a
JOIN words wb ON wb.doc_id = k.doc_b
WHERE bit_count(xor(wa.w0, wb.w0)) + bit_count(xor(wa.w1, wb.w1)) <= {PHASH_HAM_MAX}
"""


# -------------------- image-caption pair admission (CLIP/LAION shape)

CAP_MIN_TOK = 5
CAP_MAX_TOK = 77          # CLIP text-encoder context
CAP_MIN_DIM = 32
CAP_MAX_ASPECT = 3.0


def multimodal_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, width, height, n_caption_tokens, lang, keep_caption,
    keep_image, keep) — the image-text PAIR admission filter a
    CLIP-style multimodal training build runs (the LAION recipe):
    caption gates (5–77 tokens — the text-encoder context bound) and
    image gates (min dimension ≥ 32, aspect ratio ≤ 3) over every
    image-typed record, with its caption taken from the paired text.

    Scale plan: the payload relation is FILTERED to the image third
    BEFORE the mapInPandas decode (scan fraction 1/3, decode cost only
    on rows that need it); caption statistics are JVM-side expression
    work on the documents scan; one uniform doc_id join marries the
    two sides. Real image bytes get true header dimensions, the
    gate's synthetic payloads take the oracle-mirrored fake path
    (media_metadata's discipline)."""
    from capstone_etl_spark.functions.text import tokenize

    docs = _docs(spark, sf_dir)
    meta = (
        with_binary_payload(docs)
        .filter(F.col("media_type") == "image")
        .mapInPandas(extract_meta, META_SCHEMA)
    )
    caps = docs.select(
        "doc_id", "lang", F.size(tokenize("text")).cast("long").alias("n_caption_tokens")
    )
    j = meta.join(caps, "doc_id")
    keep_caption = (F.col("n_caption_tokens") >= CAP_MIN_TOK) & (
        F.col("n_caption_tokens") <= CAP_MAX_TOK
    )
    keep_image = (F.least("width", "height") >= CAP_MIN_DIM) & (
        F.greatest("width", "height").cast("double")
        / F.least("width", "height")
        <= CAP_MAX_ASPECT
    )
    return j.select(
        "doc_id",
        "width",
        "height",
        "n_caption_tokens",
        "lang",
        keep_caption.cast("int").alias("keep_caption"),
        keep_image.cast("int").alias("keep_image"),
        (keep_caption & keep_image).cast("int").alias("keep"),
    )


MULTIMODAL_CAPTION_PAIRS_SQL = f"""
WITH p AS ({_PAYLOAD_SQL}),
meta AS (
  SELECT doc_id,
         CAST(16 + ('0x' || substr(md5(payload), 1, 2))::BIGINT % 240 AS BIGINT) AS width,
         CAST(16 + ('0x' || substr(md5(payload), 3, 2))::BIGINT % 240 AS BIGINT) AS height
  FROM p WHERE media_type = 'image'
), caps AS (
  SELECT doc_id, lang,
         CAST(len({tokenize_sql()}) AS BIGINT) AS n_caption_tokens
  FROM documents
)
SELECT m.doc_id, m.width, m.height, c.n_caption_tokens, c.lang,
       CAST(c.n_caption_tokens BETWEEN {CAP_MIN_TOK} AND {CAP_MAX_TOK} AS INT) AS keep_caption,
       CAST(LEAST(m.width, m.height) >= {CAP_MIN_DIM}
            AND CAST(GREATEST(m.width, m.height) AS DOUBLE) / LEAST(m.width, m.height)
                <= {CAP_MAX_ASPECT} AS INT) AS keep_image,
       CAST((c.n_caption_tokens BETWEEN {CAP_MIN_TOK} AND {CAP_MAX_TOK})
            AND LEAST(m.width, m.height) >= {CAP_MIN_DIM}
            AND CAST(GREATEST(m.width, m.height) AS DOUBLE) / LEAST(m.width, m.height)
                <= {CAP_MAX_ASPECT} AS INT) AS keep
FROM meta m JOIN caps c USING (doc_id)
"""


QUERIES = {
    "multimodal_stats": binary_stats,
    "multimodal_meta": media_metadata,
    "multimodal_frames": frame_samples,
    "multimodal_frame_dedup": media_frame_dedup,
    "multimodal_resize": media_resize,
    "multimodal_audio_resample": audio_resample,
    "multimodal_phash_dedup": media_phash_dedup,
    "multimodal_caption_pairs": multimodal_caption_pairs,
}

ORACLE_SQL = {
    "multimodal_stats": BINARY_STATS_SQL,
    "multimodal_meta": MEDIA_METADATA_SQL,
    "multimodal_frames": FRAME_SAMPLES_SQL,
    "multimodal_frame_dedup": MEDIA_FRAME_DEDUP_SQL,
    "multimodal_resize": MEDIA_RESIZE_SQL,
    "multimodal_audio_resample": AUDIO_RESAMPLE_SQL,
    "multimodal_phash_dedup": MEDIA_PHASH_DEDUP_SQL,
    "multimodal_caption_pairs": MULTIMODAL_CAPTION_PAIRS_SQL,
}
