"""Multimodal-column operators: opaque ``binary`` payloads + typed metadata.

Design for image/audio/video at 100 TB: payloads travel as parquet
``binary`` columns partitioned by content hash; decode / feature-extract /
resize / frame-sample run as Arrow-batched ``mapInPandas`` stages (one
Python worker per partition, zero driver involvement).

All decode paths are REAL stdlib work — no imaging library needed:
``multimodal_meta``/``multimodal_decode`` parse actual PNG/BMP/WAV
headers with ``struct``/``zlib`` (the synth payloads are fully valid
files and the parse stages see only bytes), and ``multimodal_resize``
does pixel-level resampling.  Schema contract, partitioning, UDF
signature, and Arrow batch shape are all oracle-tested.  A production
deployment swaps the stdlib parsers for an imaging/av library inside
the same mapInPandas stage functions — the Spark-side plumbing is
format-agnostic.

The binary payload is synthesized from ``documents.text`` (utf-8 bytes) so
the pipeline runs on driver testdata; a real deployment points the reader
at real media bytes with the same schema.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from dataforge_core_spark.operators._store import stored
from dataforge_core_spark.session import free_local_checkpoint, session_key
from dataforge_core_spark.sources.readers import read_table

META_SCHEMA = (
    "doc_id bigint, source_bytes int, source_md5 string, fmt string, "
    "width int, height int, channels int, sample_rate int"
)

FRAME_SCHEMA = "doc_id bigint, frame_no int, frame_md5 string"


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, payload binary).  encode() is JVM-side."""
    df = read_table(spark, f"{sf_dir}/documents.parquet")
    return df.selectExpr("doc_id", "encode(text, 'utf-8') AS payload")


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract over media payloads via Arrow-batched mapInPandas:
    source-side stats (byte count, md5) plus REAL parsed dimensions from
    the same stdlib header parsers ``multimodal_decode`` uses — synth and
    parse fused into one Python pass (generator-to-generator, no second
    Arrow round-trip)."""
    synth = media_synth_fn()
    dec = media_decode_fn()

    def extract(batches):
        import hashlib

        for pdf in batches:
            parsed = next(dec(synth([pdf])))
            parsed.insert(
                1,
                "source_bytes",
                pdf["text"]
                .map(lambda t: len(t.encode("utf-8")))
                .astype("int32")
                .values,
            )
            parsed.insert(
                2,
                "source_md5",
                pdf["text"]
                .map(lambda t: hashlib.md5(t.encode("utf-8")).hexdigest())
                .values,
            )
            yield parsed

    df = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return df.mapInPandas(extract, META_SCHEMA)


_META_ORACLE = """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CAST(doc_id % 3 AS INTEGER) AS kind, md5(text) AS m
  FROM documents
)
SELECT doc_id,
       CAST(n AS INTEGER) AS source_bytes,
       m AS source_md5,
       CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS fmt,
       CASE kind WHEN 0 THEN CAST(n % 64 + 1 AS INTEGER)
                 WHEN 1 THEN CAST(n % 16 + 1 AS INTEGER) END AS width,
       CASE kind WHEN 0 THEN CAST(n % 48 + 1 AS INTEGER)
                 WHEN 1 THEN CAST(n % 8 + 1 AS INTEGER) END AS height,
       CASE WHEN kind = 2 THEN CAST(n % 2 + 1 AS INTEGER) END AS channels,
       CASE WHEN kind = 2
            THEN CAST(8000 + (n % 8) * 1000 AS INTEGER) END AS sample_rate
FROM d
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: each payload yields (n_bytes mod 4) + 1 frames —
    a flatMap-shaped mapInPandas (rows out != rows in), the shape a real
    video frame sampler has."""
    import pandas as pd

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in batches:
            out_doc, out_no, out_md5 = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) % 4 + 1
                for i in range(n_frames):
                    out_doc.append(doc_id)
                    out_no.append(i)
                    out_md5.append(
                        hashlib.md5(payload + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "frame_no": pd.Series(out_no, dtype="int32"),
                    "frame_md5": out_md5,
                }
            )

    return _payloads(spark, sf_dir).mapInPandas(sample, FRAME_SCHEMA)


_FRAME_ORACLE = """
SELECT d.doc_id,
       CAST(f.i AS INTEGER) AS frame_no,
       md5(d.text || CAST(f.i AS VARCHAR)) AS frame_md5
FROM documents d,
     LATERAL (SELECT unnest(generate_series(0,
              octet_length(encode(d.text)) % 4)) AS i) f
"""


# ---------------------------------------------------------------------------
# REAL decode path (no imaging library needed): PNG / BMP / WAV headers
# are fixed binary layouts parseable with stdlib ``struct``/``zlib``.
# The synth stage emits fully valid tiny files (PNG with CRC-correct
# IHDR/IDAT/IEND, BMP with BITMAPINFOHEADER + pixel array, WAV with
# RIFF/fmt/data chunks); the decode stage sees ONLY bytes and extracts
# dimensions / channels / sample rate by parsing the headers — the same
# two-stage mapInPandas shape a real media pipeline has, with the decode
# no longer stubbed.
#
# Both stage functions are built by factories returning *nested* closures
# (cloudpickle serializes nested functions by value, so workers need
# neither this repo on sys.path nor any library beyond the stdlib), and
# the factories are module-level so tests can unit-drive the exact
# functions the pipeline ships.
# ---------------------------------------------------------------------------

DECODE_SCHEMA = (
    "doc_id bigint, fmt string, width int, height int, "
    "channels int, sample_rate int"
)


def media_synth_fn():
    """mapInPandas stage: (doc_id, text) -> (doc_id, payload binary)."""

    def synth(batches):
        import struct
        import zlib

        import pandas as pd

        def png(w: int, h: int) -> bytes:
            ihdr = b"IHDR" + struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            raw = b"".join(b"\x00" + b"\x00\x00\x00" * w for _ in range(h))
            idat = b"IDAT" + zlib.compress(raw)
            iend = b"IEND"
            out = [b"\x89PNG\r\n\x1a\n"]
            for chunk in (ihdr, idat, iend):
                out.append(struct.pack(">I", len(chunk) - 4))
                out.append(chunk)
                out.append(struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF))
            return b"".join(out)

        def bmp(w: int, h: int) -> bytes:
            row = (w * 3 + 3) // 4 * 4
            pix = (b"\x00" * row) * h
            info = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
            )
            header = struct.pack(
                "<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40
            )
            return header + info + pix

        def wav(channels: int, rate: int) -> bytes:
            data = b"\x00\x00" * channels * 8  # 8 silent 16-bit frames
            fmt = struct.pack(
                "<HHIIHH", 1, channels, rate, rate * channels * 2,
                channels * 2, 16,
            )
            return (
                struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
                + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
                + struct.pack("<4sI", b"data", len(data)) + data
            )

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text.encode("utf-8"))
                kind = int(doc_id) % 3
                if kind == 0:
                    payloads.append(png(n % 64 + 1, n % 48 + 1))
                elif kind == 1:
                    payloads.append(bmp(n % 16 + 1, n % 8 + 1))
                else:
                    payloads.append(wav(n % 2 + 1, 8000 + (n % 8) * 1000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return synth


def media_decode_fn():
    """mapInPandas stage: (doc_id, payload) -> parsed header metadata.

    Pure-stdlib parsers: PNG signature + IHDR (CRC-checked), BMP
    BITMAPINFOHEADER, WAV RIFF/fmt chunk walk.  Unrecognized or corrupt
    payloads yield fmt='unknown' with NULL fields (error rows, not a
    failed job — at 100 TB a decode stage must tolerate bad bytes)."""

    def decode(batches):
        import struct
        import zlib

        import pandas as pd

        def parse(b: bytes):
            try:
                if b[:8] == b"\x89PNG\r\n\x1a\n":
                    (ln,) = struct.unpack(">I", b[8:12])
                    chunk = b[12 : 16 + ln]
                    (crc,) = struct.unpack(">I", b[16 + ln : 20 + ln])
                    if chunk[:4] != b"IHDR" or ln != 13:
                        return ("unknown", None, None, None, None)
                    if zlib.crc32(chunk) & 0xFFFFFFFF != crc:
                        return ("unknown", None, None, None, None)
                    w, h = struct.unpack(">II", chunk[4:12])
                    return ("png", w, h, None, None)
                if b[:2] == b"BM":
                    w, h = struct.unpack("<ii", b[18:26])
                    return ("bmp", w, abs(h), None, None)
                if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                    off = 12
                    while off + 8 <= len(b):
                        cid, ln = struct.unpack("<4sI", b[off : off + 8])
                        if cid == b"fmt ":
                            _, ch, rate = struct.unpack(
                                "<HHI", b[off + 8 : off + 16]
                            )
                            return ("wav", None, None, ch, rate)
                        off += 8 + ln + (ln & 1)
                return ("unknown", None, None, None, None)
            except (struct.error, IndexError):
                return ("unknown", None, None, None, None)

        for pdf in batches:
            rows = [parse(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": [r[0] for r in rows],
                    "width": pd.array([r[1] for r in rows], dtype="Int32"),
                    "height": pd.array([r[2] for r in rows], dtype="Int32"),
                    "channels": pd.array([r[3] for r in rows], dtype="Int32"),
                    "sample_rate": pd.array(
                        [r[4] for r in rows], dtype="Int32"
                    ),
                }
            )

    return decode


def media_resize_fn(max_w: int = 16, max_h: int = 16, max_rate: int = 4000):
    """mapInPandas stage: (doc_id, payload) -> (doc_id, payload resized).

    REAL pixel/sample work in pure stdlib: PNG IDAT zlib-decompress +
    filter-0 unfilter + nearest-neighbor resample + re-encode with
    correct CRCs; BMP pixel-array nearest-neighbor resample with 4-byte
    row padding; WAV nearest-neighbor frame decimation to ``max_rate``.
    Images fit within (max_w, max_h) preserving aspect ratio, never
    upscaled: scale = min(1, max_w/w, max_h/h), out = max(1, int(dim *
    scale)) — the oracle reproduces this arithmetic in SQL.  Unparseable
    payloads pass through untouched (error rows, not failed jobs)."""

    def resize(batches):
        import struct
        import zlib

        import pandas as pd

        def fit(w: int, h: int) -> tuple[int, int]:
            s = min(1.0, max_w / w, max_h / h)
            return max(1, int(w * s)), max(1, int(h * s))

        def png(b: bytes) -> bytes:
            (ln,) = struct.unpack(">I", b[8:12])
            ihdr = b[12 : 16 + ln]
            if ihdr[:4] != b"IHDR":
                return b
            w, h = struct.unpack(">II", ihdr[4:12])
            bit_depth, color = ihdr[12], ihdr[13]
            if bit_depth != 8 or color != 2:  # 8-bit RGB only
                return b
            off, idat = 8, b""
            while off + 8 <= len(b):
                (cl,) = struct.unpack(">I", b[off : off + 4])
                if b[off + 4 : off + 8] == b"IDAT":
                    idat += b[off + 8 : off + 8 + cl]
                off += 12 + cl
            raw = zlib.decompress(idat)
            stride = 1 + 3 * w
            rows = []
            for y in range(h):
                row = raw[y * stride : (y + 1) * stride]
                if row[0] != 0:  # only filter type 0 (what synth writes)
                    return b
                rows.append(row[1:])
            ow, oh = fit(w, h)
            out_rows = []
            for oy in range(oh):
                src = rows[oy * h // oh]
                r = bytearray(b"\x00")
                for ox in range(ow):
                    sx = 3 * (ox * w // ow)
                    r += src[sx : sx + 3]
                out_rows.append(bytes(r))
            new_ihdr = b"IHDR" + struct.pack(
                ">IIBBBBB", ow, oh, 8, 2, 0, 0, 0
            )
            new_idat = b"IDAT" + zlib.compress(b"".join(out_rows))
            out = [b"\x89PNG\r\n\x1a\n"]
            for chunk in (new_ihdr, new_idat, b"IEND"):
                out.append(struct.pack(">I", len(chunk) - 4))
                out.append(chunk)
                out.append(
                    struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
                )
            return b"".join(out)

        def bmp(b: bytes) -> bytes:
            (data_off,) = struct.unpack("<I", b[10:14])
            w, h = struct.unpack("<ii", b[18:26])
            (bpp,) = struct.unpack("<H", b[28:30])
            if bpp != 24 or h <= 0:
                return b
            stride = (w * 3 + 3) // 4 * 4
            ow, oh = fit(w, h)
            ostride = (ow * 3 + 3) // 4 * 4
            pix = bytearray()
            for oy in range(oh):
                sy = oy * h // oh  # rows are bottom-up; NN map is symmetric
                row = bytearray()
                for ox in range(ow):
                    sx = 3 * (ox * w // ow)
                    s = data_off + sy * stride + sx
                    row += b[s : s + 3]
                row += b"\x00" * (ostride - len(row))
                pix += row
            info = struct.pack(
                "<IiiHHIIiiII", 40, ow, oh, 1, 24, 0, len(pix), 2835, 2835,
                0, 0,
            )
            header = struct.pack(
                "<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40
            )
            return header + info + bytes(pix)

        def wav(b: bytes) -> bytes:
            off = 12
            fmt_off = data_off = None
            while off + 8 <= len(b):
                cid, ln = struct.unpack("<4sI", b[off : off + 8])
                if cid == b"fmt ":
                    fmt_off, fmt_len = off, ln
                elif cid == b"data":
                    data_off, data_len = off, ln
                off += 8 + ln + (ln & 1)
            if fmt_off is None or data_off is None:
                return b
            _, ch, rate = struct.unpack(
                "<HHI", b[fmt_off + 8 : fmt_off + 16]
            )
            out_rate = min(rate, max_rate)
            frame = ch * 2  # 16-bit PCM
            data = b[data_off + 8 : data_off + 8 + data_len]
            n = len(data) // frame
            n_out = max(1, n * out_rate // rate) if n else 0
            out_data = b"".join(
                data[(i * rate // out_rate) * frame :][:frame]
                for i in range(n_out)
            )
            new_fmt = struct.pack(
                "<HHIIHH", 1, ch, out_rate, out_rate * frame, frame, 16
            )
            return (
                struct.pack(
                    "<4sI4s",
                    b"RIFF",
                    4 + 8 + len(new_fmt) + 8 + len(out_data),
                    b"WAVE",
                )
                + struct.pack("<4sI", b"fmt ", len(new_fmt))
                + new_fmt
                + struct.pack("<4sI", b"data", len(out_data))
                + out_data
            )

        def one(b: bytes) -> bytes:
            try:
                if b[:8] == b"\x89PNG\r\n\x1a\n":
                    return png(b)
                if b[:2] == b"BM":
                    return bmp(b)
                if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                    return wav(b)
            except (struct.error, IndexError, zlib.error, ValueError):
                pass
            return b

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [one(b) for b in pdf["payload"]],
                }
            )

    return resize


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synth -> resize -> decode, all FUSED into one mapInPandas pass:
    the decode stage parses the RESIZED binary headers, so the emitted
    dimensions prove the resize stage wrote valid files with the
    arithmetic the oracle reproduces (fit-within-box, aspect-preserving,
    no upscale; WAV decimated to <=4 kHz)."""

    def fused(*stages):
        def fn(batches):
            for s in stages:
                batches = s(batches)
            return batches

        return fn

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return docs.mapInPandas(
        fused(media_synth_fn(), media_resize_fn(), media_decode_fn()),
        DECODE_SCHEMA,
    )


_RESIZE_ORACLE = """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CAST(doc_id % 3 AS INTEGER) AS kind
  FROM documents
),
dims AS (
  SELECT doc_id, kind,
         CASE kind WHEN 0 THEN n % 64 + 1 WHEN 1 THEN n % 16 + 1 END AS w,
         CASE kind WHEN 0 THEN n % 48 + 1 WHEN 1 THEN n % 8 + 1 END AS h,
         CASE WHEN kind = 2 THEN n % 2 + 1 END AS ch,
         CASE WHEN kind = 2 THEN 8000 + (n % 8) * 1000 END AS rate
  FROM d
),
scaled AS (
  SELECT doc_id, kind, ch, rate,
         LEAST(1.0, 16.0 / w, 16.0 / h) AS s, w, h
  FROM dims
)
SELECT doc_id,
       CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS fmt,
       CASE WHEN kind IN (0, 1)
            THEN CAST(GREATEST(1, CAST(FLOOR(w * s) AS INTEGER)) AS INTEGER)
       END AS width,
       CASE WHEN kind IN (0, 1)
            THEN CAST(GREATEST(1, CAST(FLOOR(h * s) AS INTEGER)) AS INTEGER)
       END AS height,
       CAST(ch AS INTEGER) AS channels,
       -- DuckDB LEAST ignores NULLs (would turn non-wav rows into 4000)
       CASE WHEN kind = 2
            THEN CAST(LEAST(rate, 4000) AS INTEGER) END AS sample_rate
FROM scaled
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize valid media payloads, then decode them back by parsing
    the binary headers — the decode stage operates on bytes alone.

    Both stages are Iterator[pdf] -> Iterator[pdf], so they FUSE into one
    mapInPandas pass: the intermediate payload batches flow generator-to-
    generator inside a single Python worker instead of round-tripping
    through Arrow twice (2x serialization saved; was the r3 perf
    regression when the driver regenerated larger documents).  A real
    deployment reading stored media runs media_decode_fn alone."""

    def fused(synth, decode):
        def fn(batches):
            return decode(synth(batches))

        return fn

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return docs.mapInPandas(
        fused(media_synth_fn(), media_decode_fn()), DECODE_SCHEMA
    )


_DECODE_ORACLE = """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CAST(doc_id % 3 AS INTEGER) AS kind
  FROM documents
)
SELECT doc_id,
       CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS fmt,
       CASE kind WHEN 0 THEN CAST(n % 64 + 1 AS INTEGER)
                 WHEN 1 THEN CAST(n % 16 + 1 AS INTEGER) END AS width,
       CASE kind WHEN 0 THEN CAST(n % 48 + 1 AS INTEGER)
                 WHEN 1 THEN CAST(n % 8 + 1 AS INTEGER) END AS height,
       CASE WHEN kind = 2 THEN CAST(n % 2 + 1 AS INTEGER) END AS channels,
       CASE WHEN kind = 2
            THEN CAST(8000 + (n % 8) * 1000 AS INTEGER) END AS sample_rate
FROM d
"""


# ---------------------------------------------------------------------------
# Audio feature extraction: a deterministic int16 waveform (samples are
# a pure function of doc_id, so the oracle can recompute them in SQL),
# packed into a REAL RIFF/WAVE file by the synth stage, then parsed back
# by the feature stage — struct-level chunk walk, int16 unpack, integer
# sum-of-abs ("loudness") and sign-change zero-crossing count.  Every
# output is an exact integer, so the feature math is oracle-verified
# end-to-end through the binary round-trip.  Same fused single-pass
# mapInPandas shape as the other media rows.
# ---------------------------------------------------------------------------

AUDIO_N_FRAMES = 16
AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, sample_rate int, n_frames int, "
    "sum_abs bigint, zero_crossings int"
)


def audio_synth_fn():
    """mapInPandas stage: (doc_id, text) -> deterministic-waveform WAV."""

    def synth(batches):
        import struct

        import pandas as pd

        def wav(doc_id: int, n: int) -> bytes:
            rate = 8000 + (n % 8) * 1000
            samples = [
                ((doc_id * 31 + i * 7919) % 65536) - 32768
                for i in range(AUDIO_N_FRAMES)
            ]
            data = b"".join(struct.pack("<h", s) for s in samples)
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            return (
                struct.pack(
                    "<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data),
                    b"WAVE",
                )
                + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
                + struct.pack("<4sI", b"data", len(data)) + data
            )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        wav(int(d), len(t.encode("utf-8")))
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return synth


def audio_features_fn():
    """mapInPandas stage: (doc_id, payload) -> integer audio features."""

    def feats(batches):
        import struct

        import pandas as pd

        def parse(b: bytes):
            if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                return None
            pos, rate, data = 12, None, None
            while pos + 8 <= len(b):
                cid = b[pos:pos + 4]
                (ln,) = struct.unpack("<I", b[pos + 4:pos + 8])
                body = b[pos + 8:pos + 8 + ln]
                if cid == b"fmt ":
                    rate = struct.unpack("<HHIIHH", body[:16])[2]
                elif cid == b"data":
                    data = body
                pos += 8 + ln + (ln % 2)
            if rate is None or data is None:
                return None
            n = len(data) // 2
            ss = struct.unpack(f"<{n}h", data[: 2 * n])
            sum_abs = sum(abs(s) for s in ss)
            zc = sum(1 for a, b2 in zip(ss, ss[1:]) if a * b2 < 0)
            return rate, n, sum_abs, zc

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = parse(bytes(payload))
                rows.append(
                    (int(doc_id), *(p if p else (None, None, None, None)))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_frames",
                    "sum_abs", "zero_crossings",
                ],
            )

    return feats


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synth -> feature-extract fused into one mapInPandas pass."""

    def fused(*stages):
        def fn(batches):
            for s in stages:
                batches = s(batches)
            return batches

        return fn

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return docs.mapInPandas(
        fused(audio_synth_fn(), audio_features_fn()), AUDIO_FEATURES_SCHEMA
    )


_AUDIO_FEATURES_ORACLE = f"""
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
s AS (
  SELECT doc_id, i,
         ((doc_id * 31 + i * 7919) % 65536) - 32768 AS v
  FROM d, unnest(generate_series(0, {AUDIO_N_FRAMES - 1})) AS u(i)
),
z AS (
  SELECT doc_id, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
),
agg AS (
  SELECT doc_id,
         SUM(ABS(v)) AS sum_abs,
         COUNT(CASE WHEN pv * v < 0 THEN 1 END) AS zc
  FROM z GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(8000 + (d.n % 8) * 1000 AS INTEGER) AS sample_rate,
       CAST({AUDIO_N_FRAMES} AS INTEGER) AS n_frames,
       CAST(a.sum_abs AS BIGINT) AS sum_abs,
       CAST(a.zc AS INTEGER) AS zero_crossings
FROM d JOIN agg a ON d.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# ViT-style patch extraction: a deterministic 16x16 24-bit BMP (pixel
# value (x*7 + y*13 + doc_id) % 256 in all three channels — a pure
# function of position and doc, so the oracle recomputes it in SQL),
# packed into a REAL bottom-up BMP by the synth stage, then split into
# the 2x2 grid of 8x8 patches by the patch stage — byte-offset
# arithmetic over the pixel array, exactly what a ViT/image-encoder
# pre-processing stage does before embedding.  Integer-only per-patch
# stats, oracle-verified through the binary round-trip (a row-order or
# stride bug anywhere breaks the sums).  Same fused single-pass
# mapInPandas shape as the other media rows.
# ---------------------------------------------------------------------------

PATCH_IMG = 16  # synthesized image side (pixels)
PATCH_SIDE = 8  # patch side -> a 2x2 grid
PATCHES_SCHEMA = (
    "doc_id bigint, patch_x int, patch_y int, "
    "px_sum bigint, px_min int, px_max int"
)


def image_synth_fn():
    """mapInPandas stage: (doc_id) -> (doc_id, payload 16x16 BMP)."""

    def synth(batches):
        import struct

        import pandas as pd

        w = h = PATCH_IMG
        stride = (w * 3 + 3) // 4 * 4

        def bmp(doc_id: int) -> bytes:
            pix = bytearray()
            for sy in range(h):  # stored bottom-up
                y = h - 1 - sy
                row = bytearray()
                for x in range(w):
                    v = (x * 7 + y * 13 + doc_id) % 256
                    row += bytes((v, v, v))
                row += b"\x00" * (stride - len(row))
                pix += row
            info = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835,
                0, 0,
            )
            header = struct.pack(
                "<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40
            )
            return header + info + bytes(pix)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [bmp(int(d)) for d in pdf["doc_id"]],
                }
            )

    return synth


def image_patch_fn():
    """mapInPandas stage: (doc_id, payload) -> per-8x8-patch stats."""

    def patches(batches):
        import struct

        import pandas as pd

        def parse(doc_id: int, b: bytes):
            (data_off,) = struct.unpack("<I", b[10:14])
            w, h = struct.unpack("<ii", b[18:26])
            stride = (w * 3 + 3) // 4 * 4
            out = []
            for py in range(h // PATCH_SIDE):
                for px in range(w // PATCH_SIDE):
                    vals = []
                    for y in range(py * PATCH_SIDE, (py + 1) * PATCH_SIDE):
                        sy = h - 1 - y  # bottom-up rows
                        base = data_off + sy * stride
                        for x in range(
                            px * PATCH_SIDE, (px + 1) * PATCH_SIDE
                        ):
                            vals.append(b[base + x * 3])
                    out.append(
                        (doc_id, px, py, sum(vals), min(vals), max(vals))
                    )
            return out

        for pdf in batches:
            rows = [
                r
                for doc_id, b in zip(pdf["doc_id"], pdf["payload"])
                for r in parse(int(doc_id), b)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": [r[0] for r in rows],
                    "patch_x": pd.array(
                        [r[1] for r in rows], dtype="Int32"
                    ),
                    "patch_y": pd.array(
                        [r[2] for r in rows], dtype="Int32"
                    ),
                    "px_sum": [r[3] for r in rows],
                    "px_min": pd.array(
                        [r[4] for r in rows], dtype="Int32"
                    ),
                    "px_max": pd.array(
                        [r[5] for r in rows], dtype="Int32"
                    ),
                }
            )

    return patches


def multimodal_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synth BMP -> 8x8 patch grid stats, fused into one Python pass."""

    def fused(synth, patch):
        def fn(batches):
            return patch(synth(batches))

        return fn

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(
        fused(image_synth_fn(), image_patch_fn()), PATCHES_SCHEMA
    )


_PATCHES_ORACLE = f"""
WITH px AS (
  SELECT d.doc_id, x.x, y.y,
         (x.x * 7 + y.y * 13 + d.doc_id) % 256 AS v
  FROM documents d,
       (SELECT unnest(generate_series(0, {PATCH_IMG - 1})) AS x) x,
       (SELECT unnest(generate_series(0, {PATCH_IMG - 1})) AS y) y
)
SELECT doc_id,
       CAST(x // {PATCH_SIDE} AS INTEGER) AS patch_x,
       CAST(y // {PATCH_SIDE} AS INTEGER) AS patch_y,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(MIN(v) AS INTEGER) AS px_min,
       CAST(MAX(v) AS INTEGER) AS px_max
FROM px
GROUP BY doc_id, x // {PATCH_SIDE}, y // {PATCH_SIDE}
"""


# ---------------------------------------------------------------------------
# VAD-style audio segmentation: frame the decoded waveform, gate frames
# on integer energy, and emit maximal runs of voiced frames — the
# speech-segmentation primitive an audio-training pipeline runs before
# transcription/embedding (only voiced segments are worth GPU time).
# The Python stage parses the REAL WAV byte layout (a header-offset bug
# breaks every energy); the oracle recomputes the waveform formula and
# finds the same runs with the gaps-and-islands construction.  All
# integers end to end.  Scan-side Python pass, zero shuffles.
# ---------------------------------------------------------------------------

VAD_FRAME = 4  # samples per frame
VAD_THRESH = 65_536  # integer energy gate (sum |s| per frame)


def audio_vad_fn():
    """mapInPandas stage: (doc_id, payload WAV) -> voiced segments."""

    def vad(batches):
        import struct

        import pandas as pd

        def segments(doc_id: int, b: bytes):
            n = AUDIO_N_FRAMES
            samples = struct.unpack(f"<{n}h", b[44:44 + 2 * n])
            voiced = []
            for f in range(n // VAD_FRAME):
                e = sum(
                    abs(s)
                    for s in samples[f * VAD_FRAME:(f + 1) * VAD_FRAME]
                )
                voiced.append((f, e) if e > VAD_THRESH else None)
            out, run = [], []
            for item in voiced + [None]:
                if item is not None:
                    run.append(item)
                elif run:
                    out.append(
                        (
                            doc_id,
                            run[0][0],
                            run[-1][0],
                            sum(e for _, e in run),
                        )
                    )
                    run = []
            return [
                (doc_id, i + 1, s, t, e)
                for i, (doc_id, s, t, e) in enumerate(out)
            ]

        for pdf in batches:
            rows = [
                r
                for d, b in zip(pdf["doc_id"], pdf["payload"])
                for r in segments(int(d), b)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": [r[0] for r in rows],
                    "seg_id": pd.array(
                        [r[1] for r in rows], dtype="Int32"
                    ),
                    "start_frame": pd.array(
                        [r[2] for r in rows], dtype="Int32"
                    ),
                    "end_frame": pd.array(
                        [r[3] for r in rows], dtype="Int32"
                    ),
                    "energy": [r[4] for r in rows],
                }
            )

    return vad


def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synth WAV -> voiced-segment table, one fused Python pass."""

    def fused(batches):
        return audio_vad_fn()(audio_synth_fn()(batches))

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return docs.mapInPandas(
        fused,
        "doc_id bigint, seg_id int, start_frame int, "
        "end_frame int, energy bigint",
    )


_AUDIO_VAD_ORACLE = f"""
WITH s AS (
  SELECT doc_id, i,
         ((doc_id * 31 + i * 7919) % 65536) - 32768 AS v
  FROM documents,
       unnest(generate_series(0, {AUDIO_N_FRAMES - 1})) AS u(i)
),
fr AS (
  SELECT doc_id, i // {VAD_FRAME} AS f, SUM(ABS(v)) AS e
  FROM s GROUP BY doc_id, i // {VAD_FRAME}
),
voiced AS (
  SELECT doc_id, f, e,
         f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
  FROM fr WHERE e > {VAD_THRESH}
),
seg AS (
  SELECT doc_id, MIN(f) AS start_frame, MAX(f) AS end_frame,
         CAST(SUM(e) AS BIGINT) AS energy
  FROM voiced GROUP BY doc_id, grp
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY start_frame) AS INTEGER) AS seg_id,
       CAST(start_frame AS INTEGER) AS start_frame,
       CAST(end_frame AS INTEGER) AS end_frame,
       energy
FROM seg
"""


# ---------------------------------------------------------------------------
# Perceptual image hash (dHash) — the image-dedup primitive: downsample
# the decoded image to an 8x8 grid of block sums and emit one bit per
# horizontally-adjacent pair (right > left), packed into a 56-bit
# integer.  Identical-looking images collide on the hash, so the
# group-count column IS the near-duplicate-image report — the visual
# sibling of dedup_exact's text hash-groupBy.
#
# The hash rides the same REAL BMP byte round-trip as multimodal_patches
# (synth -> parse fused in one Arrow pass); the oracle recomputes the
# pixel function, block sums and bit packing in pure integer SQL, so a
# stride/row-order/bit-order bug anywhere in the byte path breaks the
# match.  Scale shape: scan-side Python stage (no shuffle), then ONE
# groupBy-sized shuffle on the 56-bit hash — the dedup join key a 100 TB
# image corpus would bucket its store by.
# ---------------------------------------------------------------------------

PHASH_GRID = 8  # downsample grid side (blocks)
_PHASH_BLOCK = PATCH_IMG // PHASH_GRID  # pixels per block side


def image_phash_fn():
    """mapInPandas stage: (doc_id, payload) -> (doc_id, phash)."""

    def phash(batches):
        import struct

        import pandas as pd

        g, blk = PHASH_GRID, _PHASH_BLOCK

        def one(b: bytes) -> int:
            (data_off,) = struct.unpack("<I", b[10:14])
            w, h = struct.unpack("<ii", b[18:26])
            stride = (w * 3 + 3) // 4 * 4
            sums = [[0] * g for _ in range(g)]
            for y in range(h):
                sy = h - 1 - y  # bottom-up rows
                base = data_off + sy * stride
                for x in range(w):
                    sums[y // blk][x // blk] += b[base + x * 3]
            out = 0
            for by in range(g):
                for bx in range(g - 1):
                    if sums[by][bx + 1] > sums[by][bx]:
                        out |= 1 << (by * (g - 1) + bx)
            return out

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [one(b) for b in pdf["payload"]],
                }
            )

    return phash


@stored("multimodal_phash_index")
def _phash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (doc_id, phash) relation — the stored image-hash
    index.  The Python decode+hash pass runs ONCE per (session, sf);
    the group-count lane and the banded near-dup lane both serve from
    the checkpointed frame (at 100 TB the image decode is the dominant
    cost, so every consumer must ride one pass over the bytes)."""
    return _hash_index(spark, sf_dir, PHASH)


def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash per image + duplicate-group size, served from the
    checkpointed hash index (one fused Python pass per session)."""
    return _dup_groups(spark, sf_dir, PHASH)


def _phash_h_ctes() -> str:
    """px/blk/bits/h — the DuckDB dHash re-derivation, the ONE
    definition all three phash oracles (group count, near-dup report,
    streaming gate) inline."""
    return f"""px AS (
  SELECT d.doc_id, x.x, y.y,
         (x.x * 7 + y.y * 13 + d.doc_id) % 256 AS v
  FROM documents d,
       (SELECT unnest(generate_series(0, {PATCH_IMG - 1})) AS x) x,
       (SELECT unnest(generate_series(0, {PATCH_IMG - 1})) AS y) y
),
blk AS (
  SELECT doc_id, x // {_PHASH_BLOCK} AS bx, y // {_PHASH_BLOCK} AS by,
         SUM(v) AS s
  FROM px GROUP BY doc_id, x // {_PHASH_BLOCK}, y // {_PHASH_BLOCK}
),
bits AS (
  SELECT a.doc_id,
         CAST(CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS BIGINT)
           << (a.by * {PHASH_GRID - 1} + a.bx) AS bit
  FROM blk a
  JOIN blk b ON b.doc_id = a.doc_id AND b.by = a.by AND b.bx = a.bx + 1
  WHERE a.bx < {PHASH_GRID - 1}
),
h AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS phash
      FROM bits GROUP BY doc_id)"""


_PHASH_ORACLE = f"""
WITH {_phash_h_ctes()}
SELECT doc_id, phash, COUNT(*) OVER (PARTITION BY phash) AS n_dups FROM h
"""


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate report — image dedup at scale.  The
# 56-bit dHash is banded into PHASH_BANDS 14-bit blocks (pigeonhole:
# two hashes within PHASH_HAMMING_MAX = PHASH_BANDS - 1 differing bits
# MUST agree on at least one whole block), candidates meet behind a
# plain equi-join on (block#, block value) and are verified with one
# xor+popcount.  Oversized buckets (the synthetic corpus is extremely
# self-similar: images differ by a scalar pixel offset, so block values
# concentrate) are salted into deterministic doc_id-residue groups —
# the same skew guard as simhash._pairs_sql / dedup.MAX_BAND_BUCKET,
# applied identically in the DuckDB oracle.
#
# Output is the per-image near-dup REPORT, not the raw pair table: one
# row per image with its distinct near-neighbor count, the minimum
# hamming distance seen, and the canonical nearest neighbor
# (min hamming, then min doc_id) — the bounded-size artifact an image
# dedup pass feeds to its keep/drop policy.  Scale shape: one Python
# decode pass (checkpointed index), one band-keyed equi-join, one
# doc-keyed aggregate; candidate fan-out is capped by the salt guard.
# ---------------------------------------------------------------------------

PHASH_BITS = PHASH_GRID * (PHASH_GRID - 1)  # 56
PHASH_BANDS = 4
_PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS  # 14
_PHASH_BAND_MASK = (1 << _PHASH_BAND_BITS) - 1
PHASH_HAMMING_MAX = PHASH_BANDS - 1  # pigeonhole-guaranteed recall
MAX_PHASH_BUCKET = 1000


@dataclass(frozen=True)
class HashFamily:
    """One media-hash family of the near-dup lanes (image dHash, audio
    fingerprint): the hash column, the pigeonhole banding (``bands``
    blocks of ``band_bits`` bits, exact up to ``ham_max`` differing
    bits), the default bucket cap, the two mapInPandas stages that
    synthesize and hash a document, and the family's stored indexes
    (hash index, salted band table, corpus probe index), which are
    thin ``@stored`` wrappers over the shared builders below."""

    col: str
    bands: int
    band_bits: int
    ham_max: int
    cap: int
    synth: Callable
    hasher: Callable
    index: Callable[[SparkSession, str], DataFrame]
    salted: Callable[..., DataFrame]
    probe: Callable[[SparkSession, str], tuple[str, DataFrame]]

    def blocks(self) -> str:
        return _hash_blocks_expr(self.col, self.bands, self.band_bits)

    def hash_fn(self):
        """The fused synth+hash stage: (doc_id) -> (doc_id, <col>)."""
        synth, h = self.synth(), self.hasher()

        def fused(batches):
            return h(synth(batches))

        return fused


def _hash_index(
    spark: SparkSession, sf_dir: str, fam: HashFamily
) -> DataFrame:
    docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    hashed = docs.mapInPandas(
        fam.hash_fn(), f"doc_id bigint, {fam.col} bigint"
    )
    return hashed.localCheckpoint(eager=True)


def _dup_groups(
    spark: SparkSession, sf_dir: str, fam: HashFamily
) -> DataFrame:
    """The stored hash index plus each hash's exact-duplicate group
    size."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    return fam.index(spark, sf_dir).withColumn(
        "n_dups", F.count("*").over(Window.partitionBy(fam.col))
    )


def _hash_blocks_expr(
    col: str = "phash",
    bands: int = PHASH_BANDS,
    band_bits: int = _PHASH_BAND_BITS,
) -> str:
    """Spark band-value elements (one shift/mask per band) — shared by
    the near-dup bodies, the probe index and the streaming gate; the
    audio-fingerprint lanes reuse it with their own layout."""
    mask = (1 << band_bits) - 1
    return ", ".join(
        f"(shiftright({col}, {band_bits * i}) & {mask})"
        for i in range(bands)
    )


def _hash_pairs_ctes(
    dialect: str,
    src: str,
    cap: int,
    col: str = "phash",
    bands: int = PHASH_BANDS,
    band_bits: int = _PHASH_BAND_BITS,
    ham_max: int = PHASH_HAMMING_MAX,
) -> str:
    """bands/heavy/salted/pairs — the banded + salted + verified pair
    generation over any (doc_id, <hash col>) relation ``src``, shared
    by the image report, the cluster lane and the audio-fingerprint
    report (pigeonhole: two hashes within ``ham_max`` = bands - 1
    differing bits MUST agree on at least one whole block)."""
    salted = _hash_salted_ctes(dialect, src, cap, col, bands, band_bits)
    return f"{salted},\n{_hash_pairs_cte(dialect, 'salted', col, ham_max)}"


def _hash_salted_ctes(
    dialect: str, src: str, cap: int, col: str, bands: int, band_bits: int
) -> str:
    """bands/heavy/salted: every hash's blocks, heavy buckets salted
    into ceil(n/cap) doc_id residue groups."""
    mask = (1 << band_bits) - 1
    if dialect == "spark":
        band = (
            f"SELECT doc_id, {col},"
            f" posexplode(array("
            f"{_hash_blocks_expr(col, bands, band_bits)})) AS (bno, blk)"
            f" FROM {src}"
        )
    else:
        band = " UNION ALL ".join(
            f"SELECT doc_id, {col}, {i} AS bno,"
            f" ({col} >> {band_bits * i}) & {mask}"
            f" AS blk FROM {src}"
            for i in range(bands)
        )
    return f"""bands AS ({band}),
heavy AS (
  SELECT bno, blk,
         CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {cap}) AS BIGINT) AS nsalt
  FROM bands GROUP BY bno, blk HAVING COUNT(*) > {cap}
),
salted AS (
  SELECT b.doc_id, b.{col}, b.bno, b.blk,
         b.doc_id % COALESCE(hv.nsalt, 1) AS salt
  FROM bands b LEFT JOIN heavy hv ON b.bno = hv.bno AND b.blk = hv.blk
)"""


def _hash_pairs_cte(dialect: str, salted: str, col: str, ham_max: int) -> str:
    """``pairs`` (doc_a, doc_b, hamming): the verified near pairs of a
    salted band table — the oracles' inline ``salted`` CTE or the
    Spark lanes' stored one (_salted_hash_bands)."""
    if dialect == "spark":
        ham = f"CAST(bit_count(a.{col} ^ b.{col}) AS INT)"
    else:
        ham = f"CAST(bit_count(xor(a.{col}, b.{col})) AS INTEGER)"
    return f"""pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         {ham} AS hamming
  FROM {salted} a JOIN {salted} b
    ON a.bno = b.bno AND a.blk = b.blk AND a.salt = b.salt
       AND a.doc_id < b.doc_id
  WHERE {ham} <= {ham_max}
)"""


def _neardup_tail(
    dialect: str,
    salted: str,
    src: str,
    col: str,
    ham_max: int,
    hint: str = "",
) -> str:
    """pairs/sym/agg and the per-document report of the media near-dup
    lanes — one tail for the DuckDB oracles (inline salted CTE) and the
    Spark lanes (the stored salted band table)."""
    return f"""{_hash_pairs_cte(dialect, salted, col, ham_max)},
sym AS (
  SELECT doc_a AS doc_id, doc_b AS nb, hamming FROM pairs
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS nb, hamming FROM pairs
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near,
         MIN(hamming) AS min_hamming,
         -- (min hamming, then min doc_id): hamming <= 60 packs into
         -- the top bits (60 * 2^57 < 2^63) and doc_id < 2^57 fills the
         -- rest — the full bigint doc_id range a 100 TB corpus uses,
         -- unlike a decimal multiplier that silently reorders past 1e9
         MIN_BY(nb, CAST(hamming AS BIGINT) * {1 << 57} + nb) AS nearest
  FROM sym GROUP BY doc_id
)
SELECT {hint}s.doc_id, s.{col},
       COALESCE(a.n_near, 0) AS n_near,
       a.min_hamming, a.nearest
FROM {src} s LEFT JOIN agg a ON s.doc_id = a.doc_id
"""


def _check_hash_ham(ham_max: int, bands: int) -> None:
    """The two media near-dup radius guards, shared by the Spark lanes
    and the oracle body.

    The banding's pigeonhole guarantee (every pair within ham_max
    differing bits shares at least one whole block) holds only for
    ham_max <= bands - 1: the report is EXACT below that bound and
    silently banded-recall above it, so the dial rejects widening —
    a wider radius needs more bands (a different index), not a
    bigger threshold on this one (r14 dial).

    The MIN_BY key packs (hamming, doc_id) into one bigint as
    hamming * 2^57 + doc_id; that total order is only correct while
    the largest packed value stays below 2^63 (doc_id < 2^57 is the
    data contract).  Enforced on the parameter instead of implied in a
    comment, so a future ham_max > 63 layout fails loudly rather than
    silently reordering 'nearest' (r12 advice).  ValueError, not
    assert: the guards must survive ``python -O`` (r13 advice)."""
    if not 0 <= ham_max <= bands - 1:
        raise ValueError(
            f"ham_max={ham_max} outside [0, {bands - 1}]: the "
            f"{bands}-band pigeonhole guarantee caps the exact "
            "near-dup radius at bands - 1"
        )
    if ham_max * (1 << 57) + (1 << 57) >= 2**63:
        raise ValueError(
            f"ham_max={ham_max} overflows the (hamming, doc_id) bigint "
            "packing; raise the shift or repack before widening the band"
        )


def _hash_neardup_body(
    dialect: str,
    src: str,
    cap: int,
    col: str = "phash",
    bands: int = PHASH_BANDS,
    band_bits: int = _PHASH_BAND_BITS,
    ham_max: int = PHASH_HAMMING_MAX,
) -> str:
    """Shared band/salt/join/aggregate SQL over any (doc_id, <hash>)
    relation ``src`` — the DuckDB oracles pass the recomputed ``h``
    CTE and the constructive test a planted literal table; the Spark
    lanes run this body's tail (_neardup_tail) over the stored salted
    band table (_hash_neardup_served), with the same guards
    (_check_hash_ham)."""
    _check_hash_ham(ham_max, bands)
    return f"""
{_hash_salted_ctes(dialect, src, cap, col, bands, band_bits)},
{_neardup_tail(dialect, "salted", src, col, ham_max)}"""


def _phash_neardup_body(dialect: str, src: str, cap: int) -> str:
    return _hash_neardup_body(dialect, src, cap)


def _hash_probe_index(
    spark: SparkSession, sf_dir: str, fam: HashFamily
) -> tuple[str, DataFrame]:
    """Checkpointed CORPUS-side band table (bno, blk, c<col>) for the
    streaming media gates — corpus docs only (the dedup_incremental
    doc_id split), per-bucket membership rn-capped at the family's cap
    like the minhash probe index (stream_near_dedup's corpb), so an
    incoming document probes at most bands * cap candidates."""
    from dataforge_core_spark.operators.dedup import INCR_MOD, INCR_NEW_GE
    c = fam.col
    tag = abs(hash((session_key(spark), sf_dir))) % 10**8
    view = f"{c}_src_{tag}"
    fam.index(spark, sf_dir).createOrReplaceTempView(view)
    df = spark.sql(
        f"""
        SELECT bno, blk, c{c} FROM (
          SELECT bno, blk, {c} AS c{c},
                 ROW_NUMBER() OVER (PARTITION BY bno, blk
                      ORDER BY doc_id) AS rn
          FROM (
            SELECT doc_id, {c},
                   posexplode(array({fam.blocks()})) AS (bno, blk)
            FROM {view}
            WHERE doc_id % {INCR_MOD} < {INCR_NEW_GE}
          ) b
        ) t WHERE rn <= {fam.cap}
        """
    ).localCheckpoint(eager=True)
    name = f"{c}_probe_{tag}"
    df.createOrReplaceTempView(name)
    return name, df


@stored("phash_probe_index")
def _phash_probe_stored(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame]:
    return _hash_probe_index(spark, sf_dir, PHASH)


def _salted_hash_bands(
    spark: SparkSession, sf_dir: str, fam: HashFamily, cap: int
) -> DataFrame:
    """Checkpointed banded+salted media-hash table — the stored LSH
    band table of the image/audio hash index (the treatment
    simhash._salted_bands already has).  The near-dup self-join
    references it on BOTH sides; left as a derived frame, the explode
    + heavy-key aggregate + broadcast-salt chain executed twice per
    query (~0.4s of each lane at sf0.1).  Built once per
    (session, sf, hash, cap); at 100 TB this is the written LSH table
    a media-dedup deployment probes."""
    from pyspark.sql import functions as F

    bands = fam.index(spark, sf_dir).selectExpr(
        "doc_id",
        fam.col,
        f"posexplode(array({fam.blocks()})) AS (bno, blk)",
    )
    heavy = (
        bands.groupBy("bno", "blk")
        .count()
        .filter(F.col("count") > cap)
        .select(
            "bno", "blk", F.ceil(F.col("count") / cap).alias("nsalt")
        )
    )
    salted = bands.join(
        F.broadcast(heavy), ["bno", "blk"], "left"
    ).select(
        "bno",
        "blk",
        "doc_id",
        fam.col,
        F.expr("doc_id % coalesce(nsalt, 1)").alias("salt"),
    )
    return salted.localCheckpoint(eager=True)


@stored("phash_salted_bands")
def _phash_salted_bands(
    spark: SparkSession, sf_dir: str, cap: int = MAX_PHASH_BUCKET
) -> DataFrame:
    return _salted_hash_bands(spark, sf_dir, PHASH, cap)


def _hash_neardup_served(
    spark: SparkSession,
    sf_dir: str,
    fam: HashFamily,
    max_bucket: int | None,
    ham_max: int | None,
) -> DataFrame:
    """Spark side of the two media near-dup lanes: validate the dial
    (same guards as the oracle body), then run the oracle body's tail
    (_neardup_tail) over the stored salted band table — the band
    construction is what the checkpoint already paid."""
    cap = fam.cap if max_bucket is None else max_bucket
    ham = fam.ham_max if ham_max is None else ham_max
    _check_hash_ham(ham, fam.bands)
    col = fam.col
    tag = abs(hash((session_key(spark), sf_dir, col, cap))) % 10**8
    salted_view = f"{col}_salted_{tag}"
    src_view = f"{col}_idx_{tag}"
    fam.salted(spark, sf_dir, cap).createOrReplaceTempView(salted_view)
    fam.index(spark, sf_dir).createOrReplaceTempView(src_view)
    return spark.sql(
        "WITH "
        + _neardup_tail(
            "spark", salted_view, src_view, col, ham, "/*+ SHUFFLE_HASH(a) */ "
        )
    )


def multimodal_phash_neardup(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int | None = None,
    ham_max: int | None = None,
) -> DataFrame:
    """Per-image near-duplicate report via banded dHash LSH, served
    from the STORED salted band table (r14 — see _salted_hash_bands).

    ``ham_max`` (r14 dial) tightens the near-dup radius below the
    pigeonhole-exact default of ``PHASH_BANDS - 1`` differing bits —
    the strictness knob a media-dedup pipeline sweeps; values above
    the band count's exactness bound are rejected (see
    ``_check_hash_ham``)."""
    return _hash_neardup_served(spark, sf_dir, PHASH, max_bucket, ham_max)


def _phash_neardup_oracle(
    max_bucket: int | None = None, ham_max: int | None = None
) -> str:
    cap = MAX_PHASH_BUCKET if max_bucket is None else max_bucket
    ham = PHASH_HAMMING_MAX if ham_max is None else ham_max
    return f"""
WITH {_phash_h_ctes()},
{_hash_neardup_body('duck', 'h', cap, ham_max=ham)}
"""


def _hash_clusters(
    spark: SparkSession, sf_dir: str, fam: HashFamily
) -> DataFrame:
    """Connected components over a family's near-dup graph, run in
    hash space (see multimodal_phash_clusters); cluster_id = min doc_id
    over the component's documents."""
    from pyspark.sql import functions as F

    from dataforge_core_spark.operators.dedup import _cc_min_label
    c = fam.col
    view = f"{c}_cl_{abs(hash((session_key(spark), sf_dir))) % 10**8}"
    fam.index(spark, sf_dir).createOrReplaceTempView(view)
    hsrc = f"(SELECT DISTINCT {c} AS doc_id, {c} FROM {view})"
    pairs_ctes = _hash_pairs_ctes(
        "spark", hsrc, fam.cap, c, fam.bands, fam.band_bits, fam.ham_max
    )
    pairs = spark.sql(f"WITH {pairs_ctes} SELECT doc_a, doc_b FROM pairs")
    labels = _cc_min_label(pairs)[0]
    docs = fam.index(spark, sf_dir)
    # hash -> component root (min hash), then min doc_id per root;
    # the finished doc-level frame is the cached artifact (the
    # rooted relation is referenced twice below)
    rooted = docs.join(
        labels, docs[c] == labels.doc_id, "left"
    ).select(
        docs.doc_id.alias("d"),
        F.coalesce("cluster_id", docs[c]).alias("root"),
    )
    out = (
        rooted.join(
            rooted.groupBy("root").agg(
                F.min("d").alias("cluster_id")
            ),
            "root",
        )
        .select(F.col("d").alias("doc_id"), "cluster_id")
        .localCheckpoint(eager=True)
    )
    free_local_checkpoint(labels)  # folded into the checkpoint above
    return out


@stored("phash_cluster_labels")
def multimodal_phash_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Image duplicate CLUSTERS: connected components over the phash
    near-dup graph, run in HASH SPACE — identical images (same 56-bit
    hash) collapse to one node BEFORE the CC, so the propagation works
    on distinct hashes, not documents (this corpus has ~138k exact-dup
    doc pairs at sf0.1 that would otherwise all be CC edges; the
    hash-level graph is ~30x smaller and the design holds at 100 TB,
    where exact-dup multiplicity only grows).  Same min-label
    machinery as the text/embedding cluster lanes; cluster_id = min
    doc_id over the component's documents, singletons map to
    themselves.  Hash-level banding reuses _hash_pairs_ctes with the
    hash value as the node id (the salt guard keys on it
    deterministically).  Labels cached per (session, sf)."""
    return _hash_clusters(spark, sf_dir, PHASH)


# declared after its stored wrappers, which read it when called
PHASH = HashFamily(
    "phash", PHASH_BANDS, _PHASH_BAND_BITS, PHASH_HAMMING_MAX,
    MAX_PHASH_BUCKET, image_synth_fn, image_phash_fn,
    _phash_df, _phash_salted_bands, _phash_probe_stored,
)


def _phash_clusters_oracle() -> str:
    hsrc = "(SELECT DISTINCT phash AS doc_id, phash FROM h)"
    return f"""
WITH RECURSIVE {_phash_h_ctes()},
{_hash_pairs_ctes('duck', hsrc, MAX_PHASH_BUCKET)},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT DISTINCT phash AS node, phash AS lab FROM h
  UNION
  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
hroot AS (SELECT node, MIN(lab) AS root FROM reach GROUP BY node),
rooted AS (
  SELECT d.doc_id AS d, r.root FROM h d JOIN hroot r ON d.phash = r.node
)
SELECT a.d AS doc_id, m.cluster_id
FROM rooted a
JOIN (SELECT root, MIN(d) AS cluster_id FROM rooted GROUP BY root) m
  ON m.root = a.root
"""


# ---------------------------------------------------------------------------
# Aspect-ratio bucketing (the SDXL-style batching strategy for image
# training): group images by w/h ratio band so a batch pads to its
# bucket's max dims instead of a global max.  The report is the
# decision artifact — per bucket: image count, batch dims (bucket max),
# and padding waste in exact integer ppm (wasted pixels / batch
# pixels).  Dimensions come from the REAL header-parsed meta pass;
# everything after is one small groupBy over integer columns.
# ---------------------------------------------------------------------------

# w/h ratio bands in ppm: tall < 3:4 <= portrait < 1:1 <= square
# (exact) < landscape <= 4:3 < wide
_ASPECT_CASE = """CASE
  WHEN ratio_ppm < 750000 THEN 'tall'
  WHEN ratio_ppm < 1000000 THEN 'portrait'
  WHEN ratio_ppm = 1000000 THEN 'square'
  WHEN ratio_ppm <= 1333333 THEN 'landscape'
  ELSE 'wide' END"""


def multimodal_aspect_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-aspect-bucket image count, batch dims, padding waste (ppm)."""
    meta = multimodal_meta(spark, sf_dir)
    meta.createOrReplaceTempView("mm_meta")
    return spark.sql(
        f"""
        WITH img AS (
          SELECT width, height,
                 (1000000 * CAST(width AS BIGINT)) DIV height AS ratio_ppm
          FROM mm_meta WHERE width IS NOT NULL
        ),
        b AS (SELECT {_ASPECT_CASE} AS bucket, width, height FROM img),
        g AS (
          SELECT bucket, COUNT(*) AS n_images,
                 MAX(width) AS batch_w, MAX(height) AS batch_h,
                 SUM(CAST(width AS BIGINT) * height) AS px
          FROM b GROUP BY bucket
        )
        SELECT bucket, n_images, batch_w, batch_h,
               CAST((1000000 * (n_images * CAST(batch_w AS BIGINT)
                                * batch_h - px))
                    DIV (n_images * CAST(batch_w AS BIGINT) * batch_h)
                 AS BIGINT) AS waste_ppm
        FROM g
        """
    )


_ASPECT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CAST(doc_id % 3 AS INTEGER) AS kind
  FROM documents
),
img AS (
  SELECT CASE kind WHEN 0 THEN CAST(n % 64 + 1 AS INTEGER)
                   WHEN 1 THEN CAST(n % 16 + 1 AS INTEGER) END AS width,
         CASE kind WHEN 0 THEN CAST(n % 48 + 1 AS INTEGER)
                   WHEN 1 THEN CAST(n % 8 + 1 AS INTEGER) END AS height
  FROM d WHERE kind IN (0, 1)
),
r AS (
  SELECT width, height,
         (1000000 * CAST(width AS BIGINT)) // height AS ratio_ppm
  FROM img
),
b AS (SELECT {_ASPECT_CASE} AS bucket, width, height FROM r),
g AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_images,
         MAX(width) AS batch_w, MAX(height) AS batch_h,
         CAST(SUM(CAST(width AS BIGINT) * height) AS BIGINT) AS px
  FROM b GROUP BY bucket
)
SELECT bucket, n_images, batch_w, batch_h,
       CAST((1000000 * (n_images * CAST(batch_w AS BIGINT) * batch_h - px))
            // (n_images * CAST(batch_w AS BIGINT) * batch_h)
         AS BIGINT) AS waste_ppm
FROM g
"""


# ---------------------------------------------------------------------------
# Acoustic fingerprint + audio near-dup — the AUDIO members of the
# cross-modal near-dup family (text minhash, embedding cosine, image
# dHash, now audio): a sign-of-derivative fingerprint (the core
# primitive of the Shazam/Chromaprint family: 1 bit per step, "did the
# signal rise?") over a deterministic synthetic waveform, banded into
# AFP_BANDS pigeonhole blocks exactly like the image hash.
#
# The synthetic corpus plants audio near-dups by construction: docs
# share a base track per trio (content key ck = doc_id - doc_id % 3,
# samples a multiplicative ramp (ck * 7919 * (i+1)) % 65536 whose
# slope ck*7919 mod 2^16 varies richly across trios), and each trio
# member corrupts ONE sample at a member-specific position (+24000,
# the "click/dropout" a fingerprint must survive).  One corrupted
# sample flips at most the two adjacent delta-sign bits, so trio pairs
# sit within hamming 4 of each other — AFP_BANDS = 5 x 12-bit blocks
# pigeonhole-guarantee recall at AFP_HAMMING_MAX = 4.  Small-slope
# tracks produce near-constant fingerprints (few wraps), concentrating
# band values — the salt/cap guard handles them like the image lane.
#
# The Spark side goes through the REAL binary boundary: synth packs a
# RIFF/WAVE file per doc, the fingerprint stage parses it back
# (chunk walk + int16 unpack) — one fused Arrow pass, checkpointed as
# the stored fingerprint index.  The DuckDB oracle re-derives the
# closed form in SQL, so the whole round-trip is value-verified.
# ---------------------------------------------------------------------------

AFP_N_SAMPLES = 61
AFP_BITS = AFP_N_SAMPLES - 1  # 60 delta-sign bits
AFP_BANDS = 5
_AFP_BAND_BITS = AFP_BITS // AFP_BANDS  # 12
AFP_HAMMING_MAX = AFP_BANDS - 1  # pigeonhole-guaranteed recall
MAX_AFP_BUCKET = 1000
_AFP_PERTURB = 24000
_AFP_RATE = 8000


def afp_synth_fn():
    """mapInPandas stage: (doc_id) -> trio-track WAV with one
    member-specific corrupted sample (see section comment)."""

    def synth(batches):
        import struct

        import pandas as pd

        def wav(doc_id: int) -> bytes:
            ck = doc_id - (doc_id % 3)
            p = 1 + (doc_id % 3) * 19  # corrupted sample: 1 / 20 / 39
            samples = []
            # ck reduced mod 2^16 BEFORE the multiply: identical value
            # (modular arithmetic) and the int64 oracle twin then
            # cannot overflow at any bigint doc_id (r12 review fix)
            ck16 = ck % 65536
            for i in range(AFP_N_SAMPLES):
                v = (ck16 * 7919 * (i + 1)) % 65536
                if i == p:
                    v = (v + _AFP_PERTURB) % 65536
                samples.append(v - 32768)
            data = b"".join(struct.pack("<h", s) for s in samples)
            fmt = struct.pack(
                "<HHIIHH", 1, 1, _AFP_RATE, _AFP_RATE * 2, 2, 16
            )
            return (
                struct.pack(
                    "<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data),
                    b"WAVE",
                )
                + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
                + struct.pack("<4sI", b"data", len(data)) + data
            )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    return synth


def afp_fp_fn():
    """mapInPandas stage: (doc_id, payload WAV) -> 60-bit delta-sign
    fingerprint (bit i = sample[i+1] > sample[i])."""

    def fp(batches):
        import struct

        import pandas as pd

        def parse(b: bytes):
            if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                return None
            pos, data = 12, None
            while pos + 8 <= len(b):
                cid = b[pos:pos + 4]
                (ln,) = struct.unpack("<I", b[pos + 4:pos + 8])
                if cid == b"data":
                    data = b[pos + 8:pos + 8 + ln]
                pos += 8 + ln + (ln % 2)
            if data is None:
                return None
            n = len(data) // 2
            ss = struct.unpack(f"<{n}h", data[: 2 * n])
            out = 0
            for i in range(len(ss) - 1):
                if ss[i + 1] > ss[i]:
                    out |= 1 << i
            return out

        for pdf in batches:
            rows = [
                (int(d), parse(bytes(p)))
                for d, p in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "afp"])

    return fp


@stored("audio_afp_index")
def _afp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (doc_id, afp) relation — the stored audio
    fingerprint index (one fused synth+parse+fingerprint Arrow pass
    per session, like the image hash index)."""
    return _hash_index(spark, sf_dir, AFP)


@stored("afp_salted_bands")
def _afp_salted_bands(
    spark: SparkSession, sf_dir: str, cap: int = MAX_AFP_BUCKET
) -> DataFrame:
    return _salted_hash_bands(spark, sf_dir, AFP, cap)


def multimodal_audio_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Acoustic fingerprint per doc + exact-duplicate group size,
    served from the checkpointed fingerprint index."""
    return _dup_groups(spark, sf_dir, AFP)


def _afp_h_ctes() -> str:
    """DuckDB re-derivation of the fingerprint closed form — the ONE
    definition both audio-fingerprint oracles inline."""
    return f"""asv AS (
  SELECT d.doc_id, u.i,
         -- ck reduced mod 2^16 before the multiply: value-identical,
         -- and the product stays <= 65535*7919*61 ~ 3.2e13 — no int64
         -- overflow at any bigint doc_id (r12 review fix; the Python
         -- synth applies the same reduction)
         (((d.doc_id - (d.doc_id % 3)) % 65536) * 7919 * (u.i + 1))
           % 65536
           + CASE WHEN u.i = 1 + (d.doc_id % 3) * 19
                  THEN {_AFP_PERTURB} ELSE 0 END AS vr
  FROM documents d,
       unnest(generate_series(0, {AFP_N_SAMPLES - 1})) AS u(i)
),
asn AS (SELECT doc_id, i, vr % 65536 AS v FROM asv),
abit AS (
  SELECT a.doc_id,
         CAST(CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS BIGINT)
           << a.i AS bit
  FROM asn a
  JOIN asn b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  WHERE a.i < {AFP_BITS}
),
h AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS afp
      FROM abit GROUP BY doc_id)"""


_AFP_ORACLE = f"""
WITH {_afp_h_ctes()}
SELECT doc_id, afp, COUNT(*) OVER (PARTITION BY afp) AS n_dups FROM h
"""


def multimodal_audio_neardup(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int | None = None,
    ham_max: int | None = None,
) -> DataFrame:
    """Per-track near-duplicate report via the banded acoustic
    fingerprint, served from the STORED salted band table — same
    output contract as multimodal_phash_neardup (n_near, min_hamming,
    canonical nearest) over the audio hash; same ``ham_max``
    strictness dial (exact up to AFP_BANDS - 1)."""
    return _hash_neardup_served(spark, sf_dir, AFP, max_bucket, ham_max)


def _afp_neardup_oracle(
    max_bucket: int | None = None, ham_max: int | None = None
) -> str:
    cap = MAX_AFP_BUCKET if max_bucket is None else max_bucket
    ham = AFP_HAMMING_MAX if ham_max is None else ham_max
    return f"""
WITH {_afp_h_ctes()},
{_hash_neardup_body('duck', 'h', cap, 'afp', AFP_BANDS,
                    _AFP_BAND_BITS, ham)}
"""


@stored("afp_probe_index")
def _afp_probe_stored(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame]:
    return _hash_probe_index(spark, sf_dir, AFP)


@stored("afp_cluster_labels")
def multimodal_audio_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio duplicate CLUSTERS: connected components over the
    fingerprint near-dup graph, run in HASH SPACE exactly like
    multimodal_phash_clusters (identical fingerprints collapse to one
    node before the CC; cluster_id = min doc_id over the component's
    documents; singletons map to themselves).  Measured structure at
    sf0.1: 1443 distinct fingerprints, 86 components, largest 219 —
    similarity chains along the slope continuum merge, but no giant
    component swallows the corpus, so the artifact stays
    informative."""
    return _hash_clusters(spark, sf_dir, AFP)


AFP = HashFamily(
    "afp", AFP_BANDS, _AFP_BAND_BITS, AFP_HAMMING_MAX,
    MAX_AFP_BUCKET, afp_synth_fn, afp_fp_fn,
    _afp_df, _afp_salted_bands, _afp_probe_stored,
)


def _afp_clusters_oracle() -> str:
    hsrc = "(SELECT DISTINCT afp AS doc_id, afp FROM h)"
    return f"""
WITH RECURSIVE {_afp_h_ctes()},
{_hash_pairs_ctes('duck', hsrc, MAX_AFP_BUCKET, 'afp', AFP_BANDS,
                  _AFP_BAND_BITS, AFP_HAMMING_MAX)},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT DISTINCT afp AS node, afp AS lab FROM h
  UNION
  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
hroot AS (SELECT node, MIN(lab) AS root FROM reach GROUP BY node),
rooted AS (
  SELECT d.doc_id AS d, r.root FROM h d JOIN hroot r ON d.afp = r.node
)
SELECT a.d AS doc_id, m.cluster_id
FROM rooted a
JOIN (SELECT root, MIN(d) AS cluster_id FROM rooted GROUP BY root) m
  ON m.root = a.root
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "multimodal_phash": multimodal_phash,
        "multimodal_audio_fingerprint": multimodal_audio_fingerprint,
        "multimodal_audio_neardup": multimodal_audio_neardup,
        "multimodal_audio_clusters": multimodal_audio_clusters,
        "multimodal_phash_neardup": multimodal_phash_neardup,
        "multimodal_phash_clusters": multimodal_phash_clusters,
        "multimodal_aspect_buckets": multimodal_aspect_buckets,
        "multimodal_audio_vad": multimodal_audio_vad,
        "multimodal_patches": multimodal_patches,
        "multimodal_audio_features": multimodal_audio_features,
        "multimodal_meta": multimodal_meta,
        "multimodal_frame_sample": multimodal_frame_sample,
        "multimodal_decode": multimodal_decode,
        "multimodal_resize": multimodal_resize,
    }


def oracles() -> dict[str, str]:
    return {
        "multimodal_phash": _PHASH_ORACLE,
        "multimodal_audio_fingerprint": _AFP_ORACLE,
        "multimodal_audio_neardup": _afp_neardup_oracle(),
        "multimodal_audio_clusters": _afp_clusters_oracle(),
        "multimodal_phash_neardup": _phash_neardup_oracle(),
        "multimodal_phash_clusters": _phash_clusters_oracle(),
        "multimodal_aspect_buckets": _ASPECT_ORACLE,
        "multimodal_audio_vad": _AUDIO_VAD_ORACLE,
        "multimodal_patches": _PATCHES_ORACLE,
        "multimodal_audio_features": _AUDIO_FEATURES_ORACLE,
        "multimodal_meta": _META_ORACLE,
        "multimodal_frame_sample": _FRAME_ORACLE,
        "multimodal_decode": _DECODE_ORACLE,
        "multimodal_resize": _RESIZE_ORACLE,
    }
