"""Multimodal columns: image/audio/video as opaque `binary` payloads +
typed metadata, with decode / feature-extract / resize / frame-sample
as Arrow-batched Pandas UDFs over `mapInPandas`.

The image/audio codec LIBRARIES are not in this container, so
compressed-format decode is out of reach — but `decode_image` is a
REAL decoder for the uncompressed formats that need none (PPM P6,
24-bit BMP: header parse + stride math in numpy), and the fake-feature
stubs remain for the codec-shaped steps. The Spark-side plumbing is
real and tested throughout:
binary column schema, metadata struct, mapInPandas batch iteration,
and the partitioning contract (payloads never shuffle unless the
caller asks; feature extraction is a narrow map over Arrow batches).

At 100 TB: payload columns dominate bytes, so every transform prunes
them as early as possible (`drop("payload")` right after features are
derived), and `spark.sql.files.maxPartitionBytes` bounds the per-task
Arrow batch footprint.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, format string, feat array<double>"
)


def as_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap a table into the multimodal layout: (id, payload binary,
    meta struct). The synthetic documents' text stands in for an
    encoded media blob."""
    return docs.select(
        "doc_id",
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.lit("fake/raw").alias("format"),
            F.octet_length(F.col(text_col).cast("binary")).alias("n_bytes"),
            F.col("lang").alias("tag"),
        ).alias("meta"),
    )


def decode_image(payload: bytes):
    """Decode an UNCOMPRESSED image payload — PPM (P6, binary) or BMP
    (24-bit, BI_RGB) — into an (h, w, 3) uint8 numpy array. These two
    formats need no codec library (header parse + stride math only),
    which closes the one family gap the sandbox's missing PIL/libvips
    left open; a compressed format (JPEG/PNG) would swap this function
    for the library call with the same contract.

    PPM P6: ``P6 <ws> width <ws> height <ws> maxval <single-ws> raw
    RGB``, ``#`` comments allowed between tokens. BMP: 'BM' magic,
    pixel-array offset at byte 10, width/height at 18/22 (positive
    height = bottom-up rows), 24 bpp, BI_RGB only; rows padded to 4
    bytes, stored BGR → reordered to RGB."""
    import numpy as np

    if payload[:2] == b"P6":
        # every scan loop is bounded by len(payload): a truncated header
        # (b'P6 3') or a '#' comment with no trailing newline ends in
        # int(b'') -> ValueError, never in a loop on b''[0:1]
        pos = 2
        vals: list[int] = []
        while len(vals) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            vals.append(int(payload[start:pos]))
        pos += 1  # the single whitespace byte before the raster
        w, h, maxval = vals
        if maxval > 255:
            raise ValueError("16-bit PPM not supported")
        need = w * h * 3
        raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
        return raster.reshape(h, w, 3).copy()

    if payload[:2] == b"BM":
        def _u32(o):
            return int.from_bytes(payload[o : o + 4], "little")

        def _i32(o):
            return int.from_bytes(payload[o : o + 4], "little", signed=True)

        data_off = _u32(10)
        w, h_raw = _i32(18), _i32(22)
        bpp = int.from_bytes(payload[28:30], "little")
        compression = _u32(30)
        if bpp != 24 or compression != 0:
            raise ValueError(f"only 24-bit BI_RGB BMP supported, got bpp={bpp}")
        h, bottom_up = abs(h_raw), h_raw > 0
        stride = ((w * 3 + 3) // 4) * 4
        raster = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        if bottom_up:
            raster = raster[::-1]
        return raster[:, :, ::-1].copy()  # BGR -> RGB

    raise ValueError("unsupported image format (need PPM P6 or 24-bit BMP)")


DECODE_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def decode_image_stats(mm: DataFrame) -> DataFrame:
    """Decode every payload (PPM/BMP via decode_image) and emit exact
    INTEGER per-channel byte sums + dimensions — the decode leg of an
    image-curation pipeline (dims filter, brightness stats) with a
    value-certifiable output: all-integer, so the Arrow path is
    oracle-able byte-for-byte (the multimodal_features ascii-replay
    recipe). Narrow mapInPandas, payload pruned from the output,
    undecodable payloads dropped (curation semantics: quarantine)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def rows(doc_id, payload):
            if payload is None:
                return None
            try:
                img = decode_image(bytes(payload))
            except Exception:  # quarantine: any undecodable payload
                return None
            sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            return (
                doc_id,
                img.shape[1],
                img.shape[0],
                3,
                int(sums[0]),
                int(sums[1]),
                int(sums[2]),
            )

        for pdf in batches:
            out = [
                r
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                if (r := rows(doc_id, payload)) is not None
            ]
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "channels",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                ],
            )

    return mm.select("doc_id", "payload").mapInPandas(
        stats, DECODE_STATS_SCHEMA
    )


def extract_features(mm: DataFrame) -> DataFrame:
    """Feature extraction over Arrow batches via mapInPandas — the real
    codec call would replace the fake feature fn. Narrow operation: no
    shuffle, payload pruned from the output."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fake_features(payload, n=4):
            if payload is None or len(payload) == 0:
                return [0.0] * n
            total = len(payload)
            return [
                float(total),
                float(payload[0]),
                float(payload[-1]),
                float(sum(payload[:: max(1, total // 64)]) % 997),
            ]

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(
                        lambda b: 0 if b is None else len(b)
                    ),
                    "format": pdf["meta"].map(lambda m: m["format"]),
                    "feat": pdf["payload"].map(fake_features),
                }
            )

    return mm.mapInPandas(extract, FEATURE_SCHEMA)


def frame_sample(mm: DataFrame, every_n_bytes: int = 256) -> DataFrame:
    """'Frame sampling' stub: emit one row per fixed-size chunk of the
    payload (the video analog: one row per sampled frame). Built-ins
    only — the chunk indexing happens JVM-side; a real codec would
    decode the chunk in a follow-up mapInPandas."""
    n_frames = F.ceil(F.col("meta.n_bytes") / F.lit(every_n_bytes)).cast("int")
    return (
        mm.withColumn("frame_id", F.explode(F.sequence(F.lit(0), n_frames - 1)))
        .select(
            "doc_id",
            "frame_id",
            F.substring(
                F.col("payload").cast("string"),
                F.col("frame_id") * every_n_bytes + 1,
                every_n_bytes,
            ).alias("frame_payload"),
        )
    )


RESIZE_SCHEMA = (
    "doc_id bigint, out_h int, out_w int, checksum bigint, resized binary"
)


def resize_nearest(
    mm: DataFrame, src_width: int = 64, out_h: int = 16, out_w: int = 16
) -> DataFrame:
    """Nearest-neighbor resize over the opaque payload interpreted as a
    single-channel 8-bit raster: row width `src_width`, height =
    n_bytes // src_width (ragged tail dropped), source index pure
    integer floor math src_y = (y*H)//out_h, src_x = (x*src_width)//out_w
    — the thumbnail/normalize step an image-curation pipeline runs
    before embedding. A real decoder (PIL/libvips, absent here) would
    replace the raw-raster interpretation; the Spark contract is real:
    vectorized numpy fancy-indexing over Arrow batches (mapInPandas),
    narrow (zero shuffles), payload pruned to a fixed out_h·out_w
    thumbnail + an exact positional checksum
    Σ byte(p)·((p mod 97)+1) — all integer, so the whole Arrow path is
    certifiable BY VALUE via the ascii(substr) DuckDB replay
    (multimodal_features recipe; payloads are ASCII so char positions
    == byte positions). Payloads shorter than one row emit nothing."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        w_src, oh, ow = src_width, out_h, out_w
        weights = (np.arange(oh * ow, dtype=np.int64) % 97) + 1
        xs = (np.arange(ow, dtype=np.int64) * w_src) // ow

        def rows(doc_id, payload):
            if payload is None or len(payload) < w_src:
                return None
            b = np.frombuffer(payload, dtype=np.uint8)
            h = len(b) // w_src
            img = b[: h * w_src].reshape(h, w_src)
            ys = (np.arange(oh, dtype=np.int64) * h) // oh
            out = img[ys][:, xs]
            flat = out.reshape(-1).astype(np.int64)
            return doc_id, oh, ow, int((flat * weights).sum()), out.tobytes()

        for pdf in batches:
            out = [
                r
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                if (r := rows(doc_id, payload)) is not None
            ]
            yield pd.DataFrame(
                out, columns=["doc_id", "out_h", "out_w", "checksum", "resized"]
            )

    return mm.select("doc_id", "payload").mapInPandas(resize, RESIZE_SCHEMA)


AUDIO_ENERGY_SCHEMA = "doc_id bigint, frame_id int, n_samples int, energy bigint"


def audio_frame_energy(mm: DataFrame, frame_bytes: int = 128) -> DataFrame:
    """Audio-shaped feature extraction: treat the payload as 8-bit PCM
    and emit per-frame energy Σ(sample−128)² — the silence/activity
    detector every audio-curation pipeline runs first (drop silent
    spans before the expensive ASR/codec stage). A real decoder would
    replace the PCM interpretation; the Spark-side contract is real:
    vectorized numpy over Arrow batches (mapInPandas), payload pruned
    from the output, zero shuffles.

    Energy is an exact INTEGER (each term ≤ 128², frames of k bytes sum
    to ≤ k·2^14 — no float summation anywhere), so the whole Arrow path
    is certifiable BY VALUE against an ascii(substr)-replica oracle
    (the multimodal_features recipe: the synthetic payloads are ASCII,
    so char positions == byte positions in both engines)."""

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        k = frame_bytes

        def rows(doc_id, payload):
            if payload is None or len(payload) == 0:
                return
            b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            for f in range(0, (len(b) + k - 1) // k):
                seg = b[f * k : (f + 1) * k] - 128
                yield doc_id, f, len(seg), int((seg * seg).sum())

        for pdf in batches:
            out = [
                r
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                for r in rows(doc_id, payload)
            ]
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_id", "n_samples", "energy"]
            )

    return mm.select("doc_id", "payload").mapInPandas(
        energies, AUDIO_ENERGY_SCHEMA
    )


SHOT_SCHEMA = (
    "doc_id bigint, frame_id int, sad bigint, is_boundary int"
)


def video_shot_boundaries(
    mm: DataFrame, frame_bytes: int = 128, mad_threshold: int = 28
) -> DataFrame:
    """Video-shaped shot-boundary detection: treat the payload as a
    sequence of fixed-size frames and emit, for every consecutive
    FULL-frame pair, the sum of absolute per-byte differences (SAD)
    and a boundary flag SAD > frame_bytes·mad_threshold — the classic
    frame-differencing cut detector a video-curation pipeline runs
    before the expensive codec/scene stage. A real decoder would
    replace the raw-frame interpretation; the Spark contract is real:
    vectorized numpy over Arrow batches (mapInPandas), payload pruned,
    zero shuffles, and the math is exact INTEGER arithmetic so the
    whole Arrow path is certifiable BY VALUE via the DuckDB
    ascii(substr) replay (the audio_frame_energy recipe; ragged tail
    frames are excluded so both engines see the same pair set)."""

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        fb, th = frame_bytes, mad_threshold

        def rows(doc_id, payload):
            if payload is None:
                return
            b = np.frombuffer(payload, dtype=np.uint8)
            nf = len(b) // fb
            if nf < 2:
                return
            fr = b[: nf * fb].reshape(nf, fb).astype(np.int64)
            sads = np.abs(fr[1:] - fr[:-1]).sum(axis=1)
            for k, sad in enumerate(sads, start=1):
                yield (doc_id, k, int(sad), int(sad > fb * th))

        for pdf in batches:
            out = [
                r
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                for r in rows(doc_id, payload)
            ]
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_id", "sad", "is_boundary"]
            )

    return mm.select("doc_id", "payload").mapInPandas(detect, SHOT_SCHEMA)
