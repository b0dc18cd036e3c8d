"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side machinery here is real and tested — schema, batching,
partition sizing, UDF signatures. Decoding is REAL for the raw container
of every modality — AUDIO/WAV (``decode_wav_features``, stdlib ``wave`` +
numpy), IMAGE/PPM (``decode_ppm_features`` + byte-level ``resize_ppm``,
pure numpy), VIDEO/Y4M (``extract_y4m_frames``, pure numpy) — no external
deps. Compressed formats decoded for real too: PNG (stdlib zlib DEFLATE
+ numpy defiltering), GIF (full LZW expansion), baseline JPEG (T.81
Huffman + dequant + IDCT), Motion-JPEG video in RIFF/AVI containers
(``extract_avi_mjpeg_frames``), G.711 mu-law AU audio (ITU-T expansion),
IMA-ADPCM WAV audio (adaptive-differential expansion), and MPEG-1 Audio
Layers I, II and III (spec-exact bitstreams + PR-MDCT filterbank
stand-in — see the MP1/MP2/MP3 section notes; the Layer III decoder
covers the conforming subset its encoder emits and loudly rejects the
big-value Huffman tables / short blocks), and H.264/AVC for a declared
Constrained-Baseline intra subset (real Annex-B NAL / exp-Golomb /
SPS-PPS-slice machinery): I_PCM macroblocks bit-exact, CAVLC-coded
Intra_16x16 luma with the clause 9.2 coefficient decode, 8.3.3
prediction and 8.5 inverse transform, and CAVLC-coded Intra_4x4 with
ALL NINE clause 8.3.1.2 prediction modes (per-block mode prediction,
top-right sample substitution, Table 9-4 CBP). Outside that subset —
inter/P slices, CABAC — streams are loudly rejected, never mis-decoded (see
the H.264 section note). The generic ``decode_stub`` remains for codecs with NO
implementation (it raises ``NotImplementedError`` unless ``fake=True``,
which produces a deterministic fake derived from the bytes, keeping
pipelines end-to-end testable); swapping in PIL/ffmpeg later changes
ONE function body and nothing about the distributed plan.

Every decoder takes ``on_error`` ("raise" default / "skip"): a web-scale
corpus ALWAYS contains corrupt blobs, and one undecodable byte string
must not fail a 10⁶-task job — skip mode drops the blob (or, for the
frame extractors, the frames from the corruption point on) instead of
raising, while the strict default keeps fail-fast semantics for curated
inputs and for the hash gates. Exception: the MPEG audio legs (MP1/MP2)
are self-synchronizing sync-scan parsers — undecodable bytes simply
yield no frames and the row is dropped, the codec family's native skip
semantics (a garbage prefix before a valid stream still decodes).

Scale notes: media blobs are large → ``maxRecordsPerBatch`` should be
lowered for these stages (Arrow batches of ~64 MB, not 10k rows), and
blob columns kept OUT of shuffle keys — all operators here shuffle only
ids/metadata, never bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Canonical multimodal record schema: the blob plus typed metadata.
MEDIA_SCHEMA = (
    "media_id bigint, kind string, content binary, "
    "mime string, width int, height int, duration_ms int"
)

FEATURE_SCHEMA = "media_id bigint, kind string, n_bytes bigint, feature array<float>"


def _stage_worker(row, schema: str, on_error: str = "raise"):
    """Build the ``mapInPandas`` worker every decode stage runs: it loops
    over the ``(media_id, content)`` Arrow batches, calls ``row(bytes)``
    per blob and emits one output row per tuple ``row`` yields, prefixed
    with the blob's ``media_id``; ``schema`` names the output columns.

    ``on_error="skip"`` drops what a raising blob had not yet yielded, so
    ``row``'s shape sets the skip semantics: a list drops the whole blob,
    a generator keeps the rows it yielded before the error. Rows go
    through ``pd.DataFrame(rows, columns=...)``, so an all-skipped or
    empty batch still has object-typed columns, which Arrow converts to
    ``array<...>`` (an empty ``[]`` column would be float64).

    A nested closure, like the parser factories: the worker pickles BY
    VALUE, since Python workers cannot import vrod_spark."""
    cols = [field.split()[0] for field in schema.split(",")]
    strict = on_error != "skip"

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    for values in row(bytes(content)):
                        rows.append((media_id, *values))
                except Exception:
                    if strict:
                        raise
            yield pd.DataFrame(rows, columns=cols)

    return work


def _stage(media: DataFrame, row, schema: str, on_error: str) -> DataFrame:
    """One Arrow-batched stage over ``media``: see :func:`_stage_worker`."""
    return media.mapInPandas(_stage_worker(row, schema, on_error), schema)


def decode_stub(content: bytes, kind: str, *, fake: bool = False) -> dict:
    """Decode a media blob → {width, height, n_channels, ...}.

    STUB: real decoding needs PIL/ffmpeg/torchaudio (not in this
    container). With ``fake=True`` returns a deterministic stand-in
    derived from the byte content, keeping every downstream stage
    testable."""
    if not fake:
        raise NotImplementedError(
            "media decoding requires image/audio libraries not present in "
            "this environment; pass fake=True for the deterministic stub"
        )
    n = len(content or b"")
    return {
        "width": (n % 640) + 1,
        "height": ((n * 7) % 480) + 1,
        "n_channels": 3 if kind == "image" else 1,
    }


def extract_features(
    media: DataFrame, *, dim: int = 8, fake_decode: bool = True
) -> DataFrame:
    """Per-blob feature extraction over ``mapInPandas`` — the canonical
    multimodal stage shape: binary in, fixed-width float vector out,
    processed in Arrow batches with zero driver involvement."""

    # The worker closure must be SELF-CONTAINED: calling the module-level
    # decode_stub would make cloudpickle serialize it by reference and
    # require vrod_spark on every worker's import path (breaks when the
    # driver runs outside the repo — caught by a /tmp driver simulation).
    fake = fake_decode

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def decode_local(content: bytes, kind: str) -> dict:
            if not fake:
                raise NotImplementedError(
                    "media decoding requires image/audio libraries not present "
                    "in this environment; pass fake_decode=True for the stub"
                )
            m = len(content or b"")
            return {
                "width": (m % 640) + 1,
                "height": ((m * 7) % 480) + 1,
                "n_channels": 3 if kind == "image" else 1,
            }

        for pdf in batches:
            feats, sizes = [], []
            for content, kind in zip(pdf["content"], pdf["kind"]):
                meta = decode_local(content, kind)
                b = np.frombuffer(content or b"\x00", dtype=np.uint8)
                # Deterministic per-blob feature: byte-histogram moments.
                chunks = np.array_split(b.astype(np.float64), dim)
                feat = np.array(
                    [c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32
                ) / 255.0
                feat[0] += meta["n_channels"] * 0.0  # metadata is available here
                feats.append(feat.tolist())
                sizes.append(len(content or b""))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": sizes,
                    "feature": feats,
                }
            )

    return media.mapInPandas(extract, FEATURE_SCHEMA)


def resize_plan(media: DataFrame, *, max_px: int = 256) -> DataFrame:
    """Resize planning (metadata-only — no bytes shuffled): compute output
    dimensions per record with built-in expressions; the byte-level resize
    itself belongs in the same mapInPandas stage as decode."""
    scale = F.least(
        F.lit(max_px) / F.greatest(F.col("width"), F.lit(1)),
        F.lit(max_px) / F.greatest(F.col("height"), F.lit(1)),
        F.lit(1.0),
    )
    return media.select(
        "media_id",
        "kind",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("out_width"),
        F.round(F.col("height") * scale).cast("int").alias("out_height"),
    )


def sample_frames(media: DataFrame, *, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled
    timestamp (sequence + explode — no Python, no bytes moved)."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ms"),
        )
    )


AUDIO_SCHEMA = (
    "media_id bigint, sample_rate int, n_frames bigint, "
    "duration_ms int, band_energy array<float>"
)


def _band_energy_stage(
    media: DataFrame, decode, n_bands: int, on_error: str
) -> DataFrame:
    """AUDIO_SCHEMA stage of the WAV, ADPCM and MPEG legs: ``decode(bytes)
    -> (rate, n_frames, mono pcm)``, and the features are ``n_bands``
    spectral band energies (log-magnitude rFFT averaged into equal bands
    — the classic cheap audio fingerprint)."""

    def row(b: bytes):
        import numpy as np

        rate, nframes, pcm = decode(b)
        chunks = np.array_split(np.log1p(np.abs(np.fft.rfft(pcm))), n_bands)
        energy = np.array([c.mean() if len(c) else 0.0 for c in chunks],
                          dtype=np.float32)
        return [(rate, nframes, int(nframes * 1000 / max(rate, 1)),
                 energy.tolist())]

    return _stage(media, row, AUDIO_SCHEMA, on_error)


def decode_wav_features(
    media: DataFrame, *, n_bands: int = 8, on_error: str = "raise"
) -> DataFrame:
    """REAL audio decoding — no stub: RIFF/WAV PCM blobs are parsed with
    the stdlib ``wave`` module and numpy (both always present), producing
    sample rate, frame count, duration, and ``n_bands`` spectral band
    energies (log-magnitude rFFT averaged into equal bands — the
    classic cheap audio fingerprint).

    Same scale shape as every multimodal stage: Arrow-batched
    ``mapInPandas``, bytes never shuffled, one output row per blob. Image
    decoding sits beside this in the same plumbing (PPM/PNG/GIF/JPEG,
    Y4M/AVI-MJPEG); IMA-ADPCM WAV rides the same parser with a real
    compressed codec.

    Decoded by ``wave``, not ``_wav_parser``: 8-bit samples stay uncentred
    and the frame count is the header's, as this operator always
    reported them."""

    def decode(b: bytes):
        import io
        import wave

        import numpy as np

        with wave.open(io.BytesIO(b), "rb") as w:
            rate, nframes = w.getframerate(), w.getnframes()
            sampwidth, nchan = w.getsampwidth(), w.getnchannels()
            raw = w.readframes(nframes)
        dtype = {1: np.uint8, 2: np.int16, 4: np.int32}[sampwidth]
        pcm = np.frombuffer(raw, dtype=dtype).astype(np.float64)
        if nchan > 1:
            pcm = pcm.reshape(-1, nchan).mean(axis=1)
        return rate, nframes, pcm

    return _band_energy_stage(media, decode, n_bands, on_error)


def make_wav_bytes(
    freq_hz: float, *, seconds: float = 0.25, rate: int = 8000, bits=16
) -> bytes:
    """Synthesize a mono PCM WAV of a sine tone (test/demo helper —
    deterministic, stdlib-only). ``bits``: 8 (unsigned), 16, 24, 32
    integer PCM, or ``"f32"`` for IEEE-float (format tag 3, hand-built
    RIFF header — stdlib ``wave`` only writes integer PCM)."""
    import io
    import struct
    import wave

    import numpy as np

    t = np.arange(int(rate * seconds)) / rate
    tone = np.sin(2 * np.pi * freq_hz * t)
    if bits == "f32":
        f = (tone * 0.61).astype("<f4")
        data = f.tobytes()
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, rate, rate * 4, 4, 32)
            + b"data" + struct.pack("<I", len(data))
        )
        return hdr + data
    if bits == 8:
        pcm = (tone * 78 + 128).astype(np.uint8).tobytes()
        width = 1
    elif bits == 16:
        pcm = (tone * 20000).astype("<i2").tobytes()
        width = 2
    elif bits == 24:
        v = (tone * 5_000_000).astype(np.int32)
        b3 = np.empty((v.size, 3), dtype=np.uint8)
        b3[:, 0] = v & 0xFF
        b3[:, 1] = (v >> 8) & 0xFF
        b3[:, 2] = (v >> 16) & 0xFF
        pcm = b3.tobytes()
        width = 3
    elif bits == 32:
        pcm = (tone * 1_300_000_000).astype("<i4").tobytes()
        width = 4
    else:
        raise ValueError(f"unsupported bits {bits!r}")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(pcm)
    return buf.getvalue()


IMAGE_SCHEMA = (
    "media_id bigint, width int, height int, n_pixels bigint, "
    "mean_r double, mean_g double, mean_b double"
)


def _ppm_parser():
    """Self-contained P6 parser closure (pickled by value, like
    ``_jpeg_decoder``): ``parse_ppm(bytes) -> (w, h, uint8 (h, w, 3) rgb,
    maxval)``."""

    def parse_ppm(b: bytes):
        import numpy as np

        # P6 header: magic, width, height, maxval — whitespace/comment
        # separated, then one whitespace byte, then raw RGB.
        tokens, i, n = [], 0, len(b)
        while len(tokens) < 4 and i < n:
            while i < n and b[i : i + 1].isspace():
                i += 1
            if b[i : i + 1] == b"#":  # comment to EOL
                while i < n and b[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < n and not b[j : j + 1].isspace():
                j += 1
            tokens.append(b[i:j])
            i = j
        if not tokens or tokens[0] != b"P6":
            raise ValueError("not a binary PPM (P6) blob")
        w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
        i += 1  # single whitespace after maxval
        px = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=i)
        return w, h, px.reshape(h, w, 3), maxval

    return parse_ppm


def _image_stage(media: DataFrame, fmt: str, on_error: str) -> DataFrame:
    """IMAGE_SCHEMA stage of the PPM/PNG/GIF/JPEG legs: dimensions and
    channel means of the first decoded frame."""
    decode_image, rgb_means = _image_decoder()

    def row(b: bytes):
        _, w, h, frames = decode_image(b, fmt)
        return [(w, h, w * h, *rgb_means(frames[0]))]

    return _stage(media, row, IMAGE_SCHEMA, on_error)


def decode_ppm_features(media: DataFrame, *, on_error: str = "raise") -> DataFrame:
    """REAL image decoding for binary PPM (P6) blobs — pure numpy header
    parse + raw RGB plane reads, no codec library. Emits dimensions and
    per-channel means (the cheap image-statistics stage every multimodal
    pipeline starts with). See decode_png_features / decode_jpeg_features
    for the real compressed-codec paths; PPM proves the identical
    plumbing carries a raw decoder."""
    return _image_stage(media, "ppm", on_error)


def make_ppm_bytes(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Synthesize a solid-color binary PPM (test/demo helper)."""
    import numpy as np

    header = f"P6\n{width} {height}\n255\n".encode()
    px = np.tile(np.array(rgb, dtype=np.uint8), (height, width, 1))
    return header + px.tobytes()


RESIZED_SCHEMA = (
    "media_id bigint, width int, height int, out_width int, out_height int, "
    "content binary"
)


def resize_ppm(
    media: DataFrame, *, max_px: int = 256, on_error: str = "raise"
) -> DataFrame:
    """REAL byte-level image resize for binary PPM blobs: decode (pure
    numpy), nearest-neighbor downscale to fit ``max_px``, re-encode PPM.
    The byte-transform companion to :func:`resize_plan` (which computes
    target dimensions as metadata-only expressions) — blobs stay inside
    their mapInPandas task, nothing but ids/metadata ever shuffles."""
    parse_ppm = _ppm_parser()
    cap = max_px

    def row(b: bytes):
        import numpy as np

        w, h, img, _maxval = parse_ppm(b)
        scale = min(cap / max(w, 1), cap / max(h, 1), 1.0)
        ow, oh = max(int(round(w * scale)), 1), max(int(round(h * scale)), 1)
        # Nearest-neighbor index maps (deterministic, no filtering).
        ys = (np.arange(oh) * (h / oh)).astype(int).clip(0, h - 1)
        xs = (np.arange(ow) * (w / ow)).astype(int).clip(0, w - 1)
        small = img[ys][:, xs]
        blob = f"P6\n{ow} {oh}\n255\n".encode() + small.tobytes()
        return [(w, h, ow, oh, bytearray(blob))]

    return _stage(media, row, RESIZED_SCHEMA, on_error)


VIDEO_FRAME_SCHEMA = (
    "media_id bigint, frame_idx int, width int, height int, mean_luma double"
)


def extract_y4m_frames(
    media: DataFrame, *, every_n: int = 1, on_error: str = "raise"
) -> DataFrame:
    """REAL video frame extraction for Y4M (yuv4mpeg2) blobs — a plain
    ASCII header (``YUV4MPEG2 W.. H.. F..``) followed by ``FRAME`` records
    of raw 4:2:0 YUV planes, parseable with pure numpy. Emits every
    ``every_n``-th frame's dimensions and mean luma (the cheap
    shot-boundary / brightness signal). One output row per sampled frame,
    one-to-many via mapInPandas — the UDTF shape; blobs never shuffle.

    Completes the multimodal trifecta: audio (WAV), image (PPM), and
    video (Y4M) all decode for REAL with stdlib+numpy; see
    extract_avi_mjpeg_frames for the compressed-video path."""
    step = max(int(every_n), 1)
    parse_y4m = _y4m_parser()

    def row(b: bytes):
        # A generator: in skip mode the frames parsed before a corruption
        # point still emit (every frame parse_y4m yields precedes its
        # raise).
        for idx, w, h, luma in parse_y4m(b):
            if idx % step == 0:
                yield idx, w, h, luma

    return _stage(media, row, VIDEO_FRAME_SCHEMA, on_error)


def _y4m_parser():
    """Self-contained Y4M parser closure — a GENERATOR yielding
    ``(frame_idx, w, h, mean_luma)`` per frame, raising at the corruption
    point (frames yielded before it stand, the skip-mode contract)."""

    def parse_y4m(b: bytes):
        import numpy as np

        nl = b.index(b"\n")
        header = b[:nl].decode("ascii").split()
        if header[0] != "YUV4MPEG2":
            raise ValueError("not a YUV4MPEG2 blob")
        params = {p[0]: p[1:] for p in header[1:]}
        w, h = int(params["W"]), int(params["H"])
        frame_bytes = w * h * 3 // 2  # 4:2:0
        pos, idx = nl + 1, 0
        while pos < len(b):
            fnl = b.index(b"\n", pos)
            if not b[pos:fnl].startswith(b"FRAME"):
                raise ValueError("malformed FRAME header")
            y = np.frombuffer(b, dtype=np.uint8, count=w * h, offset=fnl + 1)
            yield idx, w, h, round(float(y.mean()) / 255, 6)
            pos = fnl + 1 + frame_bytes
            idx += 1

    return parse_y4m


def make_y4m_bytes(width: int, height: int, lumas: list[int]) -> bytes:
    """Synthesize a Y4M clip of solid-luma frames (test/demo helper)."""
    import numpy as np

    parts = [f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420\n".encode()]
    for luma in lumas:
        y = np.full(width * height, luma, dtype=np.uint8)
        uv = np.full(width * height // 2, 128, dtype=np.uint8)
        parts.append(b"FRAME\n" + y.tobytes() + uv.tobytes())
    return b"".join(parts)


#: Adam7 interlace pass origins/steps (PNG spec 8.2): (x0, y0, dx, dy).
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_filter_rows(px3, filter_type: int) -> bytearray:
    """Apply one PNG scanline filter to every row of an (h, w, 3) uint8
    sub-image, returning the filter-byte-prefixed scanline stream (the
    per-pass unit of serialization — interlaced images restart the
    ``prior`` row at each pass exactly as this helper does)."""
    import numpy as np

    h, w = px3.shape[0], px3.shape[1]
    raw = px3.reshape(h, w * 3).astype(np.int16)
    prior = np.zeros(w * 3, dtype=np.int16)
    left = np.zeros(w * 3, dtype=np.int16)
    scanlines = bytearray()
    for y in range(h):
        row = raw[y]
        left[3:] = row[:-3]
        left[:3] = 0
        if filter_type == 0:
            out = row
        elif filter_type == 1:
            out = row - left
        elif filter_type == 2:
            out = row - prior
        elif filter_type == 3:
            out = row - (left + prior) // 2
        elif filter_type == 4:
            pl = np.zeros(w * 3, dtype=np.int16)
            pl[3:] = prior[:-3]
            p = left + prior - pl
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - pl)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, pl))
            out = row - pred
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
        scanlines.append(filter_type)
        scanlines.extend((out % 256).astype(np.uint8).tobytes())
        prior = row
    return scanlines


def make_png_bytes(
    width: int, height: int, rgb: tuple[int, int, int] | None = None,
    *, pixels=None, filter_type: int = 0, interlace: bool = False,
) -> bytes:
    """Synthesize a real 8-bit RGB PNG (stdlib zlib, no codec library) —
    solid ``rgb`` color or an explicit ``pixels`` array (h×w×3 uint8).
    ``filter_type`` applies that PNG scanline filter (0=None, 1=Sub, 2=Up,
    3=Average, 4=Paeth) to every row, so tests can exercise each
    defiltering path of the decoder. ``interlace`` serializes the seven
    Adam7 passes (each pass an independently-filtered reduced image)."""
    import struct
    import zlib

    import numpy as np

    if pixels is None:
        pixels = np.tile(np.array(rgb, dtype=np.uint8), (height, width, 1))
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[0], px.shape[1]
    if interlace:
        scanlines = bytearray()
        for x0, y0, dx, dy in _PNG_ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                scanlines += _png_filter_rows(sub, filter_type)
    else:
        scanlines = _png_filter_rows(px, filter_type)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)  # 8-bit RGB
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + chunk(b"IEND", b"")
    )


def decode_png_features(media: DataFrame, *, on_error: str = "raise") -> DataFrame:
    """REAL PNG decoding for 8-bit RGB blobs incl. Adam7 interlace — stdlib zlib
    inflate + numpy defiltering (all five scanline filters), no codec
    library. Same mapInPandas plumbing and IMAGE_SCHEMA as the PPM
    decoder: blobs are decoded where they sit, never shuffled. PNG is
    pure DEFLATE + per-row prediction, which the stdlib covers; see
    decode_jpeg_features for the T.81 path and extract_h264_frames for
    the H.264 I_PCM subset."""
    return _image_stage(media, "png", on_error)


def _png_parser():
    """Self-contained PNG (8-bit RGB, sequential or Adam7-interlaced) parser closure:
    ``parse_png(bytes) -> (w, h, float64 img in [0,1])``."""

    def parse_png(b: bytes):
        import struct
        import zlib

        import numpy as np

        if b[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG blob")
        i, n = 8, len(b)
        w = h = None
        interlace = 0
        idat = bytearray()
        while i + 8 <= n:
            (length,) = struct.unpack(">I", b[i : i + 4])
            tag = b[i + 4 : i + 8]
            data = b[i + 8 : i + 8 + length]
            i += 12 + length  # len + tag + data + crc
            if tag == b"IHDR":
                w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if (depth, ctype, comp, filt) != (8, 2, 0, 0) or interlace > 1:
                    raise ValueError(
                        "only 8-bit RGB PNGs are supported "
                        f"(got depth={depth} color={ctype} interlace={interlace})"
                    )
            elif tag == b"IDAT":
                idat.extend(data)
            elif tag == b"IEND":
                break
        raw = zlib.decompress(bytes(idat))

        def defilter(pw, ph, off):
            """Defilter ``ph`` scanlines of ``pw`` RGB pixels starting at
            byte ``off`` of the decompressed stream; returns
            (rows (ph, pw*3) uint8, next offset). The ``prior`` row
            resets here — each Adam7 pass is an independent image."""
            stride = pw * 3
            rows = np.zeros((ph, stride), dtype=np.uint8)
            prior = np.zeros(stride, dtype=np.int32)
            for y in range(ph):
                ft = raw[off]
                line = np.frombuffer(
                    raw, dtype=np.uint8, count=stride, offset=off + 1
                ).astype(np.int32)
                off += stride + 1
                if ft == 0:
                    rec = line
                elif ft == 2:
                    rec = (line + prior) % 256
                elif ft in (1, 3, 4):
                    # Left-dependent filters are sequential in x; process
                    # pixel-by-pixel (3-byte steps) with vectorized channels.
                    rec = np.zeros(stride, dtype=np.int32)
                    for x in range(0, stride, 3):
                        left = rec[x - 3 : x] if x else np.zeros(3, dtype=np.int32)
                        up = prior[x : x + 3]
                        ul = prior[x - 3 : x] if x else np.zeros(3, dtype=np.int32)
                        if ft == 1:
                            pred = left
                        elif ft == 3:
                            pred = (left + up) // 2
                        else:
                            p = left + up - ul
                            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
                            pred = np.where(
                                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                            )
                        rec[x : x + 3] = (line[x : x + 3] + pred) % 256
                else:
                    raise ValueError(f"unknown PNG filter byte {ft}")
                rows[y] = rec.astype(np.uint8)
                prior = rec
            return rows, off

        if interlace:
            # Adam7: seven independently-filtered reduced images, merged
            # back onto the full-resolution grid (PNG spec 8.2).
            img = np.zeros((h, w, 3), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy in _PNG_ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                rows, off = defilter(pw, ph, off)
                img[y0::dy, x0::dx] = rows.reshape(ph, pw, 3)
            return w, h, img.astype(np.float64) / 255.0
        rows, _ = defilter(w, h, 0)
        return w, h, rows.reshape(h, w, 3).astype(np.float64) / 255.0

    return parse_png


def make_au_bytes(
    freq_hz: float, *, sample_rate: int = 8000, n_frames: int = 2000,
    law: str = "mu",
) -> bytes:
    """Synthesize a Sun AU (.au) file carrying a G.711-COMPRESSED sine
    tone — the companding codec telephony uses (8-bit log-quantized
    samples for ~14-bit dynamic range). ``law="mu"`` (AU encoding 1) or
    ``law="a"`` (AU encoding 27); both encoders are the ITU-T G.711
    reference algorithms in numpy."""
    import struct

    import numpy as np

    t = np.arange(n_frames, dtype=np.float64) / sample_rate
    pcm = (np.sin(2 * np.pi * freq_hz * t) * 32000).astype(np.int32)
    if law == "mu":
        # G.711 μ-law compression: sign + log-segment quantization.
        MU_BIAS, MU_CLIP = 0x84, 32635
        sign = np.where(pcm < 0, 0x80, 0)
        mag = np.minimum(np.abs(pcm), MU_CLIP) + MU_BIAS
        exp = (np.floor(np.log2(mag)) - 7).clip(0, 7).astype(np.int32)
        mantissa = (mag >> (exp + 3)) & 0x0F
        enc_bytes = ((~(sign | (exp << 4) | mantissa)) & 0xFF).astype(np.uint8)
        encoding = 1
    elif law == "a":
        # G.711 A-law compression (CCITT reference linear2alaw shape):
        # 13-bit magnitude, 8 log segments, XOR masking.
        pos = pcm >= 0
        mask = np.where(pos, 0xD5, 0x55)
        mag13 = np.where(pos, pcm, -pcm - 1) >> 3
        seg_end = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF])
        seg = np.searchsorted(seg_end, np.minimum(mag13, 0xFFF), side="left")
        shift = np.where(seg < 2, 1, seg)
        aval = (seg << 4) | ((mag13 >> shift) & 0x0F)
        enc_bytes = (aval ^ mask).astype(np.uint8)
        encoding = 27
    else:
        raise ValueError(f"unknown G.711 law {law!r}")
    # AU header: magic, data offset, data size, encoding, sample rate,
    # channels — all big-endian.
    header = struct.pack(
        ">4sIIIII", b".snd", 24, n_frames, encoding, sample_rate, 1
    )
    return header + enc_bytes.tobytes()


def decode_au_features(
    media: DataFrame, *, n_bands: int = 8, on_error: str = "raise"
) -> DataFrame:
    """REAL compressed-audio decoding — Sun AU containers holding G.711
    μ-law data are expanded back to linear PCM with the ITU-T inverse
    formula (pure numpy, no codec library) and reduced to the same
    AUDIO_SCHEMA features as the WAV path (rFFT band energies). Layer
    III/AAC stay stubbed (psychoacoustic codecs are out of honest
    scope; MPEG-1 Layer I is real — see the MP1 section); μ-law
    proves a genuinely lossy-compressed audio format decodes through the
    identical mapInPandas plumbing."""
    parse_au = _au_parser()

    def row(b: bytes):
        import numpy as np

        rate, samples = parse_au(b)
        spec = np.abs(np.fft.rfft(samples)) ** 2
        energy = [float(np.sqrt(c.mean())) for c in np.array_split(spec, n_bands)]
        return [(int(rate), len(samples), int(len(samples) * 1000 / rate),
                 [round(e, 6) for e in energy])]

    return _stage(media, row, AUDIO_SCHEMA, on_error)


def _au_parser():
    """Self-contained Sun AU / G.711 mu-law parser closure:
    ``parse_au(bytes) -> (rate, float64 pcm in [-1,1])``."""

    def parse_au(b: bytes):
        import struct

        import numpy as np

        magic, offset, size, enc, rate, chans = struct.unpack(">4sIIIII", b[:24])
        if magic != b".snd":
            raise ValueError("not an AU blob")
        if enc not in (1, 27) or chans != 1:
            raise ValueError(
                f"only mono G.711 mu-law/A-law AU supported (enc={enc})"
            )
        u = np.frombuffer(b, dtype=np.uint8, offset=offset, count=size).astype(
            np.int32  # the expansion shifts exceed uint8 range
        )
        if enc == 1:
            # ITU-T G.711 mu-law expansion.
            u = (~u) & 0xFF
            sign = u & 0x80
            exp = (u >> 4) & 0x07
            mantissa = u & 0x0F
            mag = (((mantissa << 3) + 0x84) << exp) - 0x84
            pcm = np.where(sign != 0, -mag, mag).astype(np.float64) / 32768.0
            return rate, pcm
        # ITU-T G.711 A-law expansion (AU encoding 27): XOR 0x55 masking,
        # segment/mantissa log quantization; sign bit SET means positive.
        a = u ^ 0x55
        mant = (a & 0x0F) << 4
        seg = (a >> 4) & 0x07
        mag = np.where(
            seg == 0,
            mant + 8,
            np.left_shift(mant + 0x108, np.maximum(seg - 1, 0)),
        )
        pcm = np.where((a & 0x80) != 0, mag, -mag).astype(np.float64) / 32768.0
        return rate, pcm

    return parse_au


def _gif_lzw_encode(idx, min_code: int) -> bytearray:
    """Literal-code LZW, LSB-first, mirroring the decoder's dictionary
    exactly: the decoder appends a table entry per received code EXCEPT
    the first after a CLEAR, and widens its read size when the table
    fills the current width — so the encoder widens at the same points
    and resets well before the 12-bit ceiling."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width_bits = min_code + 1
    emit(clear, width_bits)
    table_size, first = eoi + 1, True
    for p in idx:
        emit(int(p), width_bits)
        if first:
            first = False
        else:
            table_size += 1
            if table_size == (1 << width_bits) and width_bits < 12:
                width_bits += 1
        if table_size >= 4000:
            emit(clear, width_bits)
            width_bits, table_size, first = min_code + 1, eoi + 1, True
    emit(eoi, width_bits)
    if nbits:
        out.append(acc & 0xFF)
    return out


def make_gif_bytes(
    width: int, height: int, rgb: tuple[int, int, int] | None = None, *, pixels=None
) -> bytes:
    """Synthesize a real GIF89a (LZW-compressed, global palette) — solid
    ``rgb`` or an explicit ``pixels`` h×w×3 uint8 array (palettized to its
    distinct colors; ≤256 distinct required). The LZW encoder emits
    literal codes with periodic CLEARs (valid, modestly-compressed LZW) —
    the decoder exercises the full growing-dictionary path regardless."""
    import struct

    import numpy as np

    if pixels is None:
        pixels = np.tile(np.array(rgb, dtype=np.uint8), (height, width, 1))
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[0], px.shape[1]
    flat = px.reshape(-1, 3)
    palette, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("make_gif_bytes supports ≤256 distinct colors")
    # Palette size must be a power of two ≥ 2.
    psize = max(2, 1 << int(np.ceil(np.log2(len(palette)))))
    table = np.zeros((psize, 3), dtype=np.uint8)
    table[: len(palette)] = palette
    pbits = int(np.log2(psize))

    min_code = max(2, pbits)
    out = _gif_lzw_encode(idx, min_code)

    data = bytearray()
    data += b"GIF89a"
    data += struct.pack("<HHBBB", w, h, 0x80 | (pbits - 1) | ((pbits - 1) << 4), 0, 0)
    data += table.tobytes()
    data += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)  # image descriptor
    data.append(min_code)
    for i in range(0, len(out), 255):  # data sub-blocks
        block = out[i : i + 255]
        data.append(len(block))
        data += block
    data += b"\x00\x3b"  # block terminator + trailer
    return bytes(data)


def make_gif_anim_bytes(
    width: int, height: int, frames, *, loop: int | None = 0
) -> bytes:
    """Synthesize a real ANIMATED GIF89a. ``frames`` entries are either
    full-canvas h×w×3 uint8 arrays or dicts::

        {"pixels": patch(h'×w'×3), "x": 0, "y": 0, "disposal": 0,
         "transparent": (r, g, b) | None, "delay_cs": 4,
         "interlace": False}

    Every frame carries a LOCAL color table (exercising the per-image
    palette path); a Graphic Control Extension precedes each frame with
    its disposal method / transparency / delay; ``interlace`` writes the
    frame's rows in the four-pass interlace order with the interlace
    flag set. ``loop`` adds the NETSCAPE2.0 looping extension (None to
    omit). The global palette is [black, white] with background 0."""
    import struct

    import numpy as np

    data = bytearray()
    data += b"GIF89a"
    # Global palette: 2 entries (black background, white), bg index 0.
    data += struct.pack("<HHBBB", width, height, 0x80 | 0x00, 0, 0)
    data += bytes([0, 0, 0, 255, 255, 255])
    if loop is not None:
        data += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop) + b"\x00"
    passes = ((0, 8), (4, 8), (2, 4), (1, 2))
    for entry in frames:
        if isinstance(entry, dict):
            px = np.asarray(entry["pixels"], dtype=np.uint8)
            x0, y0 = int(entry.get("x", 0)), int(entry.get("y", 0))
            disposal = int(entry.get("disposal", 0))
            transparent = entry.get("transparent")
            delay = int(entry.get("delay_cs", 4))
            interlace = bool(entry.get("interlace", False))
        else:
            px = np.asarray(entry, dtype=np.uint8)
            x0 = y0 = 0
            disposal, transparent, delay, interlace = 0, None, 4, False
        ih, iw = px.shape[0], px.shape[1]
        if y0 + ih > height or x0 + iw > width:
            raise ValueError("frame rect exceeds the logical screen")
        flat = px.reshape(-1, 3)
        palette, idx = np.unique(flat, axis=0, return_inverse=True)
        t_index = None
        if transparent is not None:
            t_rgb = np.asarray(transparent, dtype=np.uint8)
            hit = np.nonzero((palette == t_rgb).all(axis=1))[0]
            t_index = int(hit[0]) if hit.size else len(palette)
            if not hit.size:
                palette = np.vstack([palette, t_rgb])
        if len(palette) > 256:
            raise ValueError("make_gif_anim_bytes supports <=256 colors/frame")
        psize = max(2, 1 << int(np.ceil(np.log2(len(palette)))))
        table = np.zeros((psize, 3), dtype=np.uint8)
        table[: len(palette)] = palette
        pbits = int(np.log2(psize))
        # Graphic Control Extension for this frame.
        packed = (disposal & 0x07) << 2 | (1 if t_index is not None else 0)
        data += struct.pack(
            "<BBBBHB", 0x21, 0xF9, 4, packed, delay, t_index or 0
        ) + b"\x00"
        iflags = 0x80 | (0x40 if interlace else 0) | (pbits - 1)
        data += struct.pack("<BHHHHB", 0x2C, x0, y0, iw, ih, iflags)
        data += table.tobytes()
        rows = idx.reshape(ih, iw)
        if interlace:
            order = [r for first, stepr in passes for r in range(first, ih, stepr)]
            rows = rows[order]
        min_code = max(2, pbits)
        out = _gif_lzw_encode(rows.reshape(-1), min_code)
        data.append(min_code)
        for i in range(0, len(out), 255):
            block = out[i : i + 255]
            data.append(len(block))
            data += block
        data += b"\x00"
    data += b"\x3b"
    return bytes(data)


def decode_gif_features(media: DataFrame, *, on_error: str = "raise") -> DataFrame:
    """REAL GIF decoding — full LZW expansion (growing dictionary, CLEAR/
    EOI handling, LSB-first variable-width codes) + global-palette lookup,
    pure Python/numpy. Same IMAGE_SCHEMA/mapInPandas plumbing as PPM/PNG."""
    return _image_stage(media, "gif", on_error)


def _gif_frames_parser():
    """Self-contained ANIMATED-GIF parser closure — the full GIF89a
    frame machinery: Graphic Control Extensions (disposal methods 0-3,
    transparency, delay), multiple image descriptors with sub-rectangle
    placement, LOCAL color tables, interlaced images (four-pass row
    order), and full LZW expansion per frame. Returns
    ``parse(bytes) -> (w, h, [composed float64 canvas in [0,1] per
    frame])`` — each entry is the full canvas AS DISPLAYED after that
    frame renders (composition semantics per GIF89a: disposal 2 restores
    the frame rect to the background color, 3 to the prior canvas;
    transparent-index pixels leave the canvas unchanged)."""

    def lzw_expand(min_code: int, stream: bytes) -> bytearray:
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        table = [bytes([c]) for c in range(1 << min_code)] + [b"", b""]
        width_bits = min_code + 1
        acc = nbits = pos = 0
        prev = None
        out = bytearray()
        while True:
            while nbits < width_bits and pos < len(stream):
                acc |= stream[pos] << nbits
                nbits += 8
                pos += 1
            if nbits < width_bits:
                break
            code = acc & ((1 << width_bits) - 1)
            acc >>= width_bits
            nbits -= width_bits
            if code == clear:
                table = table[: (1 << min_code) + 2]
                width_bits = min_code + 1
                prev = None
                continue
            if code == eoi:
                break
            if code < len(table):
                entry = table[code]
                if prev is not None:
                    table.append(prev + entry[:1])
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"corrupt LZW stream (code {code})")
            out += entry
            prev = entry
            if len(table) == (1 << width_bits) and width_bits < 12:
                width_bits += 1
        return out

    #: Interlace passes (GIF89a appendix E): (first row, row step).
    passes = ((0, 8), (4, 8), (2, 4), (1, 2))

    def parse(b: bytes):
        import struct

        import numpy as np

        if b[:6] not in (b"GIF89a", b"GIF87a"):
            raise ValueError("not a GIF blob")
        w, h, flags, bg, _ar = struct.unpack("<HHBBB", b[6:13])
        i = 13
        gpal = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gpal = np.frombuffer(b, dtype=np.uint8, count=n * 3, offset=i)
            gpal = gpal.reshape(n, 3)
            i += n * 3
        bg_rgb = (
            gpal[bg].astype(np.uint8)
            if gpal is not None and bg < len(gpal)
            else np.zeros(3, dtype=np.uint8)
        )
        canvas = np.tile(bg_rgb, (h, w, 1))
        frames = []
        # Pending Graphic Control Extension state (applies to next image).
        disposal, transparent = 0, None
        while i < len(b):
            block = b[i]
            if block == 0x3B:  # trailer
                break
            if block == 0x21:  # extension
                label = b[i + 1]
                i += 2
                if label == 0xF9 and b[i] == 4:  # Graphic Control Ext
                    packed = b[i + 1]
                    disposal = (packed >> 2) & 0x07
                    transparent = b[i + 4] if packed & 1 else None
                while b[i]:
                    i += b[i] + 1
                i += 1
                continue
            if block != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{block:02x}")
            x0, y0, iw, ih, iflags = struct.unpack("<HHHHB", b[i + 1 : i + 10])
            i += 10
            pal = gpal
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(b, dtype=np.uint8, count=n * 3, offset=i)
                pal = pal.reshape(n, 3)
                i += n * 3
            if pal is None:
                raise ValueError("GIF image with no color table")
            min_code = b[i]
            i += 1
            stream = bytearray()
            while b[i]:
                stream += b[i + 1 : i + 1 + b[i]]
                i += b[i] + 1
            i += 1  # block terminator
            out = lzw_expand(min_code, bytes(stream))
            idx = np.frombuffer(bytes(out[: iw * ih]), dtype=np.uint8)
            if idx.size < iw * ih:
                raise ValueError("truncated GIF image data")
            idx = idx.reshape(ih, iw)
            if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
                de = np.empty_like(idx)
                src = 0
                for first, stepr in passes:
                    rows = range(first, ih, stepr)
                    for r in rows:
                        de[r] = idx[src]
                        src += 1
                idx = de
            saved = canvas[y0 : y0 + ih, x0 : x0 + iw].copy()
            rgb = pal[np.clip(idx, 0, len(pal) - 1)]
            if transparent is not None:
                opaque = idx != transparent
                region = canvas[y0 : y0 + ih, x0 : x0 + iw]
                region[opaque] = rgb[opaque]
            else:
                canvas[y0 : y0 + ih, x0 : x0 + iw] = rgb
            frames.append(canvas.astype(np.float64) / 255.0)
            # Prepare the canvas for the NEXT frame per the disposal.
            if disposal == 2:
                canvas[y0 : y0 + ih, x0 : x0 + iw] = bg_rgb
            elif disposal == 3:
                canvas[y0 : y0 + ih, x0 : x0 + iw] = saved
            disposal, transparent = 0, None
        if not frames:
            raise ValueError("no GIF image data")
        return w, h, frames

    return parse


# ---------------------------------------------------------------------------
# JPEG (baseline DCT, ITU-T T.81) — REAL codec, pure stdlib + numpy.
# The reference treats media as opaque payloads; this gives vRod-on-Spark a
# genuine decode path for the most common image format on the web, the same
# way PNG (zlib+defilter) and GIF (LZW) were done. Encoder synthesizes
# spec-valid baseline JFIF files (4:4:4 or 4:2:0, optional restart
# markers) for fixtures; decoder is a general baseline decoder: marker
# parse, DQT (8/16-bit), DHT canonical Huffman, SOF0/SOF1, restart
# intervals, per-component sampling factors, dequant + 8x8 IDCT +
# upsample + YCbCr->RGB. H.264 is covered by its own I_PCM-subset leg.
# ---------------------------------------------------------------------------

def _jpeg_zigzag() -> list[int]:
    """Zigzag scan order (T.81 Figure 5): raster index for each of the 64
    zigzag positions, generated rather than hand-typed."""
    order = []
    for d in range(15):
        cells = [(y, d - y) for y in range(8) if 0 <= d - y < 8]
        if d % 2 == 0:
            cells.reverse()
        order.extend(y * 8 + x for y, x in cells)
    return order


# Standard Huffman tables from T.81 Annex K.3 (public spec): (BITS, HUFFVAL).
_JPEG_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_JPEG_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_JPEG_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA],
)
_JPEG_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
     0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
     0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
     0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
     0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
     0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
     0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
     0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
     0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA],
)


def _jpeg_huff_codes(bits: list[int], values: list[int]) -> dict:
    """Canonical Huffman code assignment (T.81 Annex C): value -> (code, len)."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_dct_matrix():
    import math

    import numpy as np

    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    t = 0.5 * np.cos((2 * x + 1) * u * math.pi / 16)
    t[0, :] *= 1.0 / math.sqrt(2.0)
    return t  # FDCT: T @ B @ T.T ; IDCT: T.T @ C @ T


def make_jpeg_bytes(
    width: int,
    height: int,
    rgb: tuple[int, int, int] | None = None,
    *,
    pixels=None,
    subsampling: str = "444",
    quant: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Synthesize a REAL baseline JFIF file (SOI/APP0/DQT/SOF0/DHT/[DRI]/
    SOS/EOI) — solid ``rgb`` or explicit ``pixels`` (h*w*3 uint8).
    ``subsampling`` is '444' or '420'; ``quant`` fills both quant tables
    uniformly (1 = near-lossless, so solid colors roundtrip exactly);
    ``restart_interval`` emits DRI + RSTn markers so decoders exercise
    restart resync. Entropy coding uses the Annex K.3 standard tables."""
    import struct

    import numpy as np

    if pixels is None:
        pixels = np.tile(np.array(rgb, dtype=np.uint8), (height, width, 1))
    px = np.asarray(pixels, dtype=np.uint8).astype(np.float64)
    h, w = px.shape[0], px.shape[1]
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    # JFIF YCbCr (full-range, ITU-R BT.601 coefficients). The inner
    # round-to-6-decimals snap (here and at the quantizer below) makes
    # the integer rounding immune to ulp-level float drift across
    # numpy/BLAS/libm versions: a coefficient that lands within 1e-7 of
    # an X.5 boundary would otherwise flip the quantized value — and the
    # gate's pinned channel means — when the library stack changes.
    planes = [
        np.clip(np.round(np.round(0.299 * r + 0.587 * g + 0.114 * b, 6)), 0, 255),
        np.clip(np.round(np.round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b, 6)), 0, 255),
        np.clip(np.round(np.round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b, 6)), 0, 255),
    ]
    if subsampling == "444":
        samp = [(1, 1), (1, 1), (1, 1)]
    elif subsampling == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
        for ci in (1, 2):
            p = planes[ci]
            ph = (p.shape[0] + 1) // 2 * 2
            pw = (p.shape[1] + 1) // 2 * 2
            padded = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
            planes[ci] = np.round(
                padded.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            )
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # Pad every component plane to its full MCU-grid extent (edge replicate).
    comp_planes = []
    for (sh, sv), p in zip(samp, planes):
        th, tw = mcus_y * sv * 8, mcus_x * sh * 8
        comp_planes.append(
            np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")
        )

    zz = np.array(_jpeg_zigzag())
    t_mat = _jpeg_dct_matrix()
    qtab = np.full(64, int(quant), dtype=np.int32)
    dc_codes = [_jpeg_huff_codes(*_JPEG_DC_LUM), _jpeg_huff_codes(*_JPEG_DC_CHR)]
    ac_codes = [_jpeg_huff_codes(*_JPEG_AC_LUM), _jpeg_huff_codes(*_JPEG_AC_CHR)]

    out = bytearray()
    acc = [0, 0]  # bit accumulator: value, nbits

    def put_bits(value: int, length: int) -> None:
        if length == 0:
            return
        acc[0] = (acc[0] << length) | (value & ((1 << length) - 1))
        acc[1] += length
        while acc[1] >= 8:
            byte = (acc[0] >> (acc[1] - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # byte stuffing
            acc[1] -= 8
            acc[0] &= (1 << acc[1]) - 1

    def flush_bits() -> None:
        if acc[1]:
            put_bits((1 << (8 - acc[1])) - 1, 8 - acc[1])  # pad with 1s

    def encode_block(block, tsel: int, pred: int) -> int:
        coef = t_mat @ (block - 128.0) @ t_mat.T
        # Snap before the quantizer's round — see the YCbCr note above.
        q = np.round(
            np.round(coef.reshape(64) / qtab.reshape(8, 8).reshape(64), 6)
        ).astype(np.int64)
        zig = q[zz]
        # Baseline caps AC magnitude at 1023 (category <= 10; the Annex K AC
        # tables have no category-11 entries) — worst-case blocks at quant=1
        # can exceed it, so clamp rather than KeyError.
        np.clip(zig[1:], -1023, 1023, out=zig[1:])
        dc = int(zig[0])
        diff = dc - pred
        s = abs(diff).bit_length()
        code, ln = dc_codes[tsel][s]
        put_bits(code, ln)
        if s:
            put_bits(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        last_nz = int(np.max(np.nonzero(zig)[0])) if np.any(zig[1:]) else 0
        for k in range(1, last_nz + 1):
            v = int(zig[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[tsel][0xF0]
                put_bits(code, ln)
                run -= 16
            s = abs(v).bit_length()
            code, ln = ac_codes[tsel][(run << 4) | s]
            put_bits(code, ln)
            put_bits(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[tsel][0x00]
            put_bits(code, ln)
        return dc

    # --- headers -----------------------------------------------------------
    hdr = bytearray(b"\xFF\xD8")  # SOI
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    hdr += b"\xFF\xE0" + struct.pack(">H", 2 + len(app0)) + app0
    zz_q = bytes(int(qtab[0]) for _ in range(64))  # uniform → zigzag order moot
    hdr += b"\xFF\xDB" + struct.pack(">H", 2 + 2 * 65) + b"\x00" + zz_q + b"\x01" + zz_q
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (sh, sv) in zip((1, 2, 3), samp):
        sof += struct.pack(">BBB", cid, (sh << 4) | sv, 0 if cid == 1 else 1)
    hdr += b"\xFF\xC0" + struct.pack(">H", 2 + len(sof)) + sof
    for tclass, tid, (bits, vals) in (
        (0, 0, _JPEG_DC_LUM), (1, 0, _JPEG_AC_LUM),
        (0, 1, _JPEG_DC_CHR), (1, 1, _JPEG_AC_CHR),
    ):
        body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
        hdr += b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        hdr += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
    sos = b"\x03" + bytes((1, 0x00, 2, 0x11, 3, 0x11)) + b"\x00\x3F\x00"
    hdr += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos

    # --- entropy-coded scan -------------------------------------------------
    preds = [0, 0, 0]
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            n_mcu = my * mcus_x + mx
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                flush_bits()
                out.append(0xFF)
                out.append(0xD0 + (rst % 8))
                rst += 1
                preds = [0, 0, 0]
            for ci, (sh, sv) in enumerate(samp):
                tsel = 0 if ci == 0 else 1
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = comp_planes[ci][y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = encode_block(block, tsel, preds[ci])
    flush_bits()
    return bytes(hdr) + bytes(out) + b"\xFF\xD9"


def _jpeg_decoder():
    """Build a self-contained baseline-JPEG parser: marker walk (APPn/COM
    skipped, 0xFF fill bytes tolerated), DQT (8/16-bit), DHT canonical
    Huffman, SOF0/SOF1, DRI + RSTn restart resync, 4:4:4 and 4:2:0
    sampling, byte-unstuffed entropy scan, dequant + orthonormal 8x8 IDCT,
    nearest chroma upsample, BT.601 YCbCr->RGB. Returned as a NESTED
    function so consumers (JPEG feature decode, AVI/MJPEG frame extract)
    capture it in their worker closures and it pickles BY VALUE — workers
    cannot import vrod_spark (driver sys.path is not inherited)."""
    import math
    import struct

    import numpy as np

    zigzag = []
    for d in range(15):
        cells = [(y, d - y) for y in range(8) if 0 <= d - y < 8]
        if d % 2 == 0:
            cells.reverse()
        zigzag.extend(y * 8 + x for y, x in cells)
    zigzag = np.array(zigzag)

    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    t_mat = 0.5 * np.cos((2 * x + 1) * u * math.pi / 16)
    t_mat[0, :] *= 1.0 / math.sqrt(2.0)


    def parse_jpeg(b: bytes):
        if b[:2] != b"\xFF\xD8":
            raise ValueError("not a JPEG blob (missing SOI)")
        qtabs: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], dict] = {}  # (class, id) -> {(len, code): val}
        comps = []  # [id, sh, sv, qsel] per component
        w = h = None
        restart_interval = 0
        i, n = 2, len(b)
        scan_comps = None
        while i + 2 <= n:
            if b[i] != 0xFF:
                raise ValueError(f"marker expected at {i}")
            # T.81 B.1.1.2: markers may be preceded by any number of
            # 0xFF fill bytes — skip to the marker byte proper.
            j = i + 1
            while j < n and b[j] == 0xFF:
                j += 1
            if j >= n:
                break
            marker = b[j]
            i = j + 1
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                continue  # TEM/RSTn/SOI/EOI: standalone, no length field
            if i + 2 > n:
                raise ValueError("truncated JPEG (marker segment length)")
            (seglen,) = struct.unpack(">H", b[i : i + 2])
            data = b[i + 2 : i + seglen]
            i += seglen
            if marker == 0xDB:  # DQT
                j = 0
                while j < len(data):
                    pq, tq = data[j] >> 4, data[j] & 0x0F
                    j += 1
                    if pq:
                        vals = np.frombuffer(
                            data[j : j + 128], dtype=">u2"
                        ).astype(np.int32)
                        j += 128
                    else:
                        vals = np.frombuffer(
                            data[j : j + 64], dtype=np.uint8
                        ).astype(np.int32)
                        j += 64
                    raster = np.zeros(64, dtype=np.int32)
                    raster[zigzag] = vals  # stored in zigzag order
                    qtabs[tq] = raster
            elif marker == 0xC4:  # DHT
                j = 0
                while j < len(data):
                    tc, th = data[j] >> 4, data[j] & 0x0F
                    bits = list(data[j + 1 : j + 17])
                    j += 17
                    table, code = {}, 0
                    for length in range(1, 17):
                        for _ in range(bits[length - 1]):
                            table[(length, code)] = data[j]
                            j += 1
                            code += 1
                        code <<= 1
                    huff[(tc, th)] = table
            elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline
                prec, h, w, nc = struct.unpack(">BHHB", data[:6])
                if prec != 8:
                    raise ValueError("only 8-bit precision supported")
                comps = []
                for c in range(nc):
                    cid, sf, qsel = data[6 + 3 * c : 9 + 3 * c]
                    comps.append([cid, sf >> 4, sf & 0x0F, qsel])
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                            0xCD, 0xCE, 0xCF):
                raise ValueError("only baseline (SOF0/SOF1) JPEG supported")
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", data[:2])
            elif marker == 0xDA:  # SOS — entropy data follows
                ns = data[0]
                scan_comps = []
                for c in range(ns):
                    cid, tsel = data[1 + 2 * c], data[2 + 2 * c]
                    scan_comps.append((cid, tsel >> 4, tsel & 0x0F))
                break
            # APPn / COM / others: skipped via seglen
        if scan_comps is None or w is None:
            raise ValueError("truncated JPEG (no SOS/SOF)")

        # Byte-unstuff the entropy scan, split on RSTn, stop at EOI.
        segments, cur = [], bytearray()
        while i < n:
            byte = b[i]
            if byte == 0xFF:
                nxt = b[i + 1] if i + 1 < n else 0xD9
                if nxt == 0x00:
                    cur.append(0xFF)
                    i += 2
                elif 0xD0 <= nxt <= 0xD7:
                    segments.append(bytes(cur))
                    cur = bytearray()
                    i += 2
                elif nxt == 0xD9:
                    break
                elif nxt == 0xFF:
                    i += 1  # fill byte; the next 0xFF starts the marker
                else:
                    raise ValueError(f"unexpected marker {nxt:#x} in scan")
            else:
                cur.append(byte)
                i += 1
        segments.append(bytes(cur))

        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-h // (8 * vmax))
        planes = {
            c[0]: np.zeros((mcus_y * c[2] * 8, mcus_x * c[1] * 8))
            for c in comps
        }
        by_id = {c[0]: c for c in comps}

        seg_idx = 0
        bits_data = segments[0]
        bitpos = 0

        def read_bit() -> int:
            nonlocal bitpos
            byte_i, off = bitpos >> 3, bitpos & 7
            if byte_i >= len(bits_data):
                # A well-formed scan never reads past its (1-padded)
                # final byte; starvation means truncation — fail loudly
                # rather than decode silent garbage.
                raise ValueError("truncated entropy-coded segment")
            bitpos += 1
            return (bits_data[byte_i] >> (7 - off)) & 1

        def read_huff(table) -> int:
            code, length = 0, 0
            while length < 17:
                code = (code << 1) | read_bit()
                length += 1
                v = table.get((length, code))
                if v is not None:
                    return v
            raise ValueError("invalid Huffman code in scan")

        def receive_extend(s: int) -> int:
            if s == 0:
                return 0
            v = 0
            for _ in range(s):
                v = (v << 1) | read_bit()
            return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

        preds = {c[0]: 0 for c in comps}
        mcu_in_seg = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_in_seg == restart_interval:
                    if seg_idx + 1 >= len(segments):
                        raise ValueError(
                            "missing RST marker: entropy segments ran short"
                        )
                    seg_idx += 1
                    bits_data = segments[seg_idx]
                    bitpos = 0
                    preds = {c[0]: 0 for c in comps}
                    mcu_in_seg = 0
                mcu_in_seg += 1
                for cid, dc_sel, ac_sel in scan_comps:
                    _, sh, sv, qsel = by_id[cid]
                    qtab = qtabs[qsel]
                    dc_tab = huff[(0, dc_sel)]
                    ac_tab = huff[(1, ac_sel)]
                    for by in range(sv):
                        for bx in range(sh):
                            zig = np.zeros(64, dtype=np.int64)
                            s = read_huff(dc_tab)
                            preds[cid] += receive_extend(s)
                            zig[0] = preds[cid]
                            k = 1
                            while k < 64:
                                rs = read_huff(ac_tab)
                                r, s = rs >> 4, rs & 0x0F
                                if s == 0:
                                    if r == 15:
                                        k += 16  # ZRL
                                        continue
                                    break  # EOB
                                k += r
                                zig[k] = receive_extend(s)
                                k += 1
                            coef = np.zeros(64, dtype=np.float64)
                            coef[zigzag] = zig * qtab[zigzag]
                            block = (
                                t_mat.T @ coef.reshape(8, 8) @ t_mat + 128.0
                            )
                            y0 = (my * sv + by) * 8
                            x0 = (mx * sh + bx) * 8
                            planes[cid][y0 : y0 + 8, x0 : x0 + 8] = block

        # Upsample to full grid (nearest), crop, YCbCr -> RGB.
        full = []
        for cid, sh, sv, _ in comps:
            p = planes[cid]
            p = np.repeat(np.repeat(p, vmax // sv, axis=0), hmax // sh, axis=1)
            full.append(p[:h, :w])
        if len(full) == 3:
            yy, cb, cr = full
            r = yy + 1.402 * (cr - 128.0)
            g = yy - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
            bb = yy + 1.772 * (cb - 128.0)
        else:  # grayscale
            r = g = bb = full[0]
        img = np.stack(
            # Snap to 6 decimals before the integer round: IDCT/IEEE noise
            # is ~1e-12, so a pixel within ulps of an X.5 boundary rounds
            # identically across numpy/BLAS versions (same guard as the
            # encoder's quantizer).
            [np.clip(np.round(np.round(ch, 6)), 0, 255) for ch in (r, g, bb)],
            axis=-1,
        ).astype(np.uint8)
        return w, h, img

    return parse_jpeg


def decode_jpeg_features(media: DataFrame, *, on_error: str = "raise") -> DataFrame:
    """REAL baseline JPEG (ITU-T T.81) decoding — pure stdlib + numpy, the
    same way PNG (zlib+defilter) and GIF (LZW) are done, closing the last
    image-format stub the reference's opaque-payload model would hit in
    practice. General baseline decoder: marker walk (APPn/COM skipped),
    DQT (8- and 16-bit), DHT canonical Huffman, SOF0/SOF1, DRI + RSTn
    restart resync, per-component sampling factors (4:4:4 and 4:2:0),
    byte-unstuffed entropy scan, dequant + orthonormal 8x8 IDCT, nearest
    chroma upsample, BT.601 full-range YCbCr->RGB. Emits the shared
    IMAGE_SCHEMA (dims + channel means) so the q51 gate hash-checks it
    beside PPM/PNG/GIF. H.264 has its own declared-subset decoder.

    Scale shape is identical to the other decoders: blobs decode where
    they sit inside Arrow batches; only ids + metadata ever shuffle."""
    return _image_stage(media, "jpeg", on_error)


# -- IMA ADPCM (DVI4) compressed audio ---------------------------------------
# A REAL lossy audio codec with an exact public spec (IMA ADPCM, WAV format
# tag 0x11): 16-bit PCM compressed 4:1 to 4-bit adaptive-differential
# nibbles. Complements G.711 mu-law (companding) with a predictive codec;
# MPEG-1 Layer I adds the subband-coding family (see the MP1 section);
# Layer III adds the Huffman/MDCT layer (see the MP3 section).

_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def make_wav_adpcm_bytes(
    freq_hz: float, *, seconds: float = 0.25, rate: int = 8000,
    block_align: int = 256,
) -> bytes:
    """Synthesize a mono IMA-ADPCM WAV (format tag 0x11) of a sine tone —
    a real 4-bit adaptive-differential encode of the 16-bit PCM, block
    header (predictor, step index) per ``block_align``-byte block."""
    import numpy as np

    t = np.arange(int(rate * seconds)) / rate
    pcm = (np.sin(2 * np.pi * freq_hz * t) * 20000).astype(np.int64)
    return encode_wav_adpcm(pcm, rate=rate, block_align=block_align)


def encode_wav_adpcm(
    pcm, *, rate: int = 8000, block_align: int = 256, with_reconstruction: bool = False
):
    """IMA-ADPCM-encode an arbitrary mono int16 waveform into a WAV blob
    (the quantization loop mirrors the decoder recurrence exactly).
    ``with_reconstruction=True`` also returns the encoder's own predicted
    waveform — a spec-conformant decoder must reproduce it EXACTLY, which
    is the codec-consistency property the tests pin."""
    import struct

    import numpy as np

    pcm = np.asarray(pcm, dtype=np.int64)
    recon: list[int] = []
    spb = (block_align - 4) * 2 + 1  # samples per block (mono)
    blocks = bytearray()
    pos = 0
    while pos < len(pcm):
        chunk = pcm[pos : pos + spb]
        pos += spb
        predictor = int(chunk[0])
        index = 0
        blocks += struct.pack("<hBB", predictor, index, 0)
        recon.append(predictor)
        nibbles = []
        for s in chunk[1:]:
            step = _IMA_STEP_TABLE[index]
            diff = int(s) - predictor
            code = 0
            if diff < 0:
                code = 8
                diff = -diff
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step // 2:
                code |= 2
                diff -= step // 2
            if diff >= step // 4:
                code |= 1
            # reconstruct exactly as the decoder will
            delta = step // 8
            if code & 4:
                delta += step
            if code & 2:
                delta += step // 2
            if code & 1:
                delta += step // 4
            predictor += -delta if code & 8 else delta
            predictor = max(-32768, min(32767, predictor))
            index = max(0, min(88, index + _IMA_INDEX_TABLE[code]))
            recon.append(predictor)
            nibbles.append(code)
        if len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
        # pad the final block to block_align
        used = 4 + len(nibbles) // 2
        blocks += b"\x00" * (block_align - used)
    n_samples = len(pcm)
    byte_rate = rate * block_align // spb
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, byte_rate, block_align, 4, 2, spb
    )
    fact = struct.pack("<I", n_samples)
    data = bytes(blocks)
    riff = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
    )
    # RIFF chunk size = bytes AFTER the size field = len("WAVE" + chunks).
    blob = b"RIFF" + struct.pack("<I", len(riff)) + riff
    if with_reconstruction:
        import numpy as _np

        return blob, _np.array(recon[: len(pcm)], dtype=_np.float64)
    return blob


def _wav_parser():
    """Self-contained RIFF/WAV parser handling PCM (tags 1 / 0xFFFE) and
    IMA ADPCM (tag 0x11) — returned as a nested function so worker
    closures capture it by value (workers cannot import vrod_spark).
    Yields (rate, n_frames, mono_float_pcm)."""
    import struct

    import numpy as np

    step_table = np.array(_IMA_STEP_TABLE, dtype=np.int64)
    index_table = np.array(_IMA_INDEX_TABLE, dtype=np.int64)

    def parse_wav(b: bytes):
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE blob")
        i, n = 12, len(b)
        fmt = data = None
        fact_samples = None
        while i + 8 <= n:
            tag = b[i : i + 4]
            (sz,) = struct.unpack("<I", b[i + 4 : i + 8])
            body = b[i + 8 : i + 8 + sz]
            i += 8 + sz + (sz & 1)
            if tag == b"fmt ":
                fmt = body
            elif tag == b"fact" and len(body) >= 4:
                (fact_samples,) = struct.unpack("<I", body[:4])
            elif tag == b"data":
                data = body
        if fmt is None or data is None:
            raise ValueError("truncated WAV (missing fmt/data)")
        wtag, nchan, rate, _brate, balign, bits = struct.unpack("<HHIIHH", fmt[:16])
        if wtag == 3:  # IEEE float PCM (format tag 3)
            fdtype = {32: "<f4", 64: "<f8"}.get(bits)
            if fdtype is None:
                raise ValueError(f"unsupported float WAV bit depth {bits}")
            # Float WAV is nominally in [-1, 1]; rescale to the int16
            # convention every other path uses so downstream features are
            # scale-comparable.
            pcm = np.frombuffer(data, dtype=fdtype).astype(np.float64) * 32768.0
            if nchan > 1:
                pcm = pcm.reshape(-1, nchan).mean(axis=1)
            return rate, len(pcm), pcm
        if wtag in (1, 0xFFFE):  # integer PCM
            if bits == 24:
                raw = np.frombuffer(data, dtype=np.uint8)
                raw = raw[: (raw.size // 3) * 3].reshape(-1, 3).astype(np.int32)
                val = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
                pcm = ((val ^ 0x800000) - 0x800000).astype(np.float64)
            else:
                dtype = {8: np.uint8, 16: np.int16, 32: np.int32}[bits]
                pcm = np.frombuffer(data, dtype=dtype).astype(np.float64)
            if bits == 8:
                # 8-bit WAV is UNSIGNED with midpoint 128 (RIFF spec);
                # center it so silence is 0.0 like the signed 16/32-bit
                # paths — otherwise a large spurious DC term skews band-0
                # energy relative to the other bit depths.
                pcm -= 128.0
            if nchan > 1:
                pcm = pcm.reshape(-1, nchan).mean(axis=1)
            return rate, len(pcm), pcm
        if wtag != 0x11:
            raise ValueError(f"unsupported WAV format tag {wtag:#x}")
        if nchan != 1:
            raise ValueError("IMA ADPCM decode: mono only")
        (spb,) = struct.unpack("<H", fmt[18:20]) if len(fmt) >= 20 else (
            (balign - 4) * 2 + 1,
        )
        out = []
        for off in range(0, len(data), balign):
            block = data[off : off + balign]
            if len(block) < 4:
                break
            predictor, index, _ = struct.unpack("<hBB", block[:4])
            out.append(predictor)
            packed = np.frombuffer(block[4:], dtype=np.uint8)
            codes = np.empty(packed.size * 2, dtype=np.int64)
            codes[0::2] = packed & 0x0F
            codes[1::2] = packed >> 4
            produced = 1
            for code in codes:
                if produced >= spb:
                    break
                step = int(step_table[index])
                delta = step >> 3
                if code & 4:
                    delta += step
                if code & 2:
                    delta += step >> 1
                if code & 1:
                    delta += step >> 2
                predictor += -delta if code & 8 else delta
                predictor = max(-32768, min(32767, predictor))
                index = max(0, min(88, index + int(index_table[code])))
                out.append(predictor)
                produced += 1
        pcm = np.array(out, dtype=np.float64)
        if fact_samples is not None:
            pcm = pcm[:fact_samples]
        return rate, len(pcm), pcm

    return parse_wav


def decode_adpcm_features(
    media: DataFrame, *, n_bands: int = 8, on_error: str = "raise"
) -> DataFrame:
    """REAL compressed-audio decoding for IMA-ADPCM WAV blobs (format tag
    0x11): 4-bit adaptive-differential nibbles expanded with the exact IMA
    reconstruction recurrence, then the same rFFT band-energy features as
    the PCM WAV path (AUDIO_SCHEMA). Per-blob work is linear in samples;
    blobs decode inside their Arrow batch, never shuffled."""
    decode_audio = _audio_decoder()

    def decode(b: bytes):
        _, rate, pcm = decode_audio(b, "adpcm")
        return rate, len(pcm), pcm

    return _band_energy_stage(media, decode, n_bands, on_error)


# -- AVI / Motion-JPEG video -------------------------------------------------


def make_avi_mjpeg_bytes(frames, *, fps: int = 25, quant: int = 1) -> bytes:
    """Synthesize a REAL AVI (RIFF) container carrying a Motion-JPEG video
    stream: each frame is a baseline JPEG from :func:`make_jpeg_bytes`
    inside a ``00dc`` movi chunk, with proper avih/strh/strf headers and
    an idx1 index. ``frames`` is a list of h*w*3 uint8 arrays (equal
    dims)."""
    import struct

    import numpy as np

    px = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = px[0].shape[0], px[0].shape[1]
    jpegs = [make_jpeg_bytes(0, 0, pixels=f, quant=quant) for f in px]

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def lst(listtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", listtype + body)

    us_per_frame = 1_000_000 // fps
    max_bytes = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, max_bytes * fps, 0, 0x10, len(jpegs), 0, 1, max_bytes,
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIiI4H", 0, 0, 0, 0, 1, fps, 0, len(jpegs),
                      max_bytes, -1, 0, 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00dc", j) for j in jpegs)
    movi = lst(b"movi", movi_body)
    idx_entries = []
    off = 4  # offsets are relative to the start of 'movi' listtype
    for j in jpegs:
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) & 1)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def extract_avi_mjpeg_frames(
    media: DataFrame, *, every_n: int = 1, on_error: str = "raise"
) -> DataFrame:
    """REAL compressed-video frame extraction: parse the AVI RIFF
    container, pull each ``..dc``/``..db`` Motion-JPEG frame out of the
    movi list, decode every ``every_n``-th one with the baseline T.81
    JPEG decoder (:func:`_jpeg_decoder` — the same codec the image path
    uses), and emit per-frame dimensions + BT.601 mean luma
    (VIDEO_FRAME_SCHEMA, one-to-many like the Y4M extractor). MJPEG is
    the pure-numpy compressed video path composing container parsing
    with the real JPEG codec; extract_h264_frames covers the H.264
    I_PCM subset. Blobs decode where they sit; only ids + per-frame metadata
    shuffle."""
    step = max(int(every_n), 1)
    parse_jpeg = _jpeg_decoder()
    mjpeg_frames = _avi_mjpeg_container()
    strict = on_error != "skip"

    def row(b: bytes):
        import numpy as np

        frames = mjpeg_frames(b)
        for idx in range(0, len(frames), step):
            # Skip mode drops only the undecodable frame, not the clip.
            try:
                w, h, img = parse_jpeg(frames[idx])
            except Exception:
                if strict:
                    raise
                continue
            rgb = img.astype(np.float64)
            luma = (
                0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
            ).mean()
            yield idx, w, h, round(float(luma) / 255, 6)

    return _stage(media, row, VIDEO_FRAME_SCHEMA, on_error)


MEL_SCHEMA = (
    "media_id bigint, sample_rate int, n_stft_frames int, n_mels int, "
    "dominant_band int, log_mel array<float>"
)


def mel_spectrogram_features(
    media: DataFrame,
    *,
    n_fft: int = 256,
    hop: int = 128,
    n_mels: int = 8,
    fmin: float = 0.0,
    fmax: float | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Log-mel spectrograms — THE input transform of audio models
    (wav2vec/Whisper-class pipelines train on exactly this): Hann-windowed
    STFT frames -> power spectrum -> triangular mel filterbank (HTK
    mel(f) = 2595 log10(1 + f/700)) -> log. Everything is closed-form
    numpy over the same ``_wav_parser`` the codec legs use (PCM and
    IMA-ADPCM blobs both work), emitted as one row per blob with the
    (n_stft_frames x n_mels) matrix flattened row-major — the shape a
    downstream training batch assembles without another shuffle.

    ``dominant_band`` (argmax of per-band energy summed over frames) is
    the integer summary the q51 gate pins: for a pure tone it is
    separated from the runner-up by orders of magnitude, so it is stable
    across numpy/FFT library versions, unlike raw float literals.

    Scale shape: Arrow-batched ``mapInPandas``; audio bytes never
    shuffle, only ids + the fixed-width feature rows."""
    if fmax is not None and fmax <= fmin:
        raise ValueError("fmax must exceed fmin")
    decode_audio = _audio_decoder()
    nf, hp, nm, f_lo, f_hi = int(n_fft), int(hop), int(n_mels), float(fmin), fmax

    def mel_bank(rate: int):
        import numpy as np

        hi = min(f_hi, rate / 2.0) if f_hi is not None else rate / 2.0

        def to_mel(f):
            return 2595.0 * np.log10(1.0 + np.asarray(f) / 700.0)

        def from_mel(m):
            return 700.0 * (10.0 ** (np.asarray(m) / 2595.0) - 1.0)

        pts = from_mel(np.linspace(to_mel(f_lo), to_mel(hi), nm + 2))
        bins = np.fft.rfftfreq(nf, d=1.0 / rate)
        bank = np.zeros((nm, len(bins)))
        for m in range(nm):
            left, center, right = pts[m], pts[m + 1], pts[m + 2]
            up = (bins - left) / max(center - left, 1e-12)
            down = (right - bins) / max(right - center, 1e-12)
            bank[m] = np.clip(np.minimum(up, down), 0.0, None)
        return bank

    def row(b: bytes):
        import numpy as np

        _, rate, pcm = decode_audio(b, "wav")
        if len(pcm) < nf:
            pcm = np.pad(pcm, (0, nf - len(pcm)))
        n_frames = 1 + (len(pcm) - nf) // hp
        idx = np.arange(nf)[None, :] + hp * np.arange(n_frames)[:, None]
        window = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(nf) / nf)
        power = np.abs(np.fft.rfft(pcm[idx] * window[None, :], axis=1)) ** 2
        mel = power @ mel_bank(rate).T
        return [(rate, n_frames, nm, int(np.argmax(mel.sum(axis=0))),
                 np.log1p(mel).astype(np.float32).reshape(-1).tolist())]

    return _stage(media, row, MEL_SCHEMA, on_error)


# -- H.264 / AVC (ITU-T H.264, Constrained Baseline, declared subset) --------
# The last video codec, implemented for a DECLARED CONFORMING SUBSET the
# same way the MPEG-audio legs declare theirs. Two macroblock kinds:
# - I_PCM (mb_type 25): raw 4:2:0 samples in the bitstream; clause
#   8.3.5 makes reconstruction bit-exact.
# - Intra_16x16 with DC prediction (mb_types 3/15): CAVLC-entropy-coded
#   quantized integer-transform luma residuals — the REAL compressed
#   path: clause 9.2 CAVLC (coeff_token / trailing-one signs / adaptive
#   level codes incl. both escapes / total_zeros / run_before, with
#   per-block nC contexts tracked across MBs), clause 8.5.12 inverse
#   4x4 integer transform + AC scaling, clause 8.6.2 luma-DC Hadamard +
#   scaling, clause 8.3.3 DC prediction from reconstructed neighbors.
#   The CAVLC tables are transcribed ONLY for the regions the declared
#   subset uses (0<=nC<2 class, TotalCoeff<=2, zerosLeft<=6) and the
#   encoder confines itself to them, falling back to I_PCM per
#   macroblock elsewhere — per-MB mode selection exactly as real
#   encoders do, so EVERY emitted stream is conformant. Solid-tone
#   frames round-trip bit-exactly through the compressed path (the
#   quantizer is exact for uniform residuals); streams shrink ~40x vs
#   I_PCM on smooth content.
# Deblocking is disabled per-slice (clause 7.4.3), which makes skipping
# the filter conformant, not a shortcut. Everything around the
# macroblocks is the real spec machinery parsed exactly: start-code
# scan, emulation-prevention (00 00 03) escaping/unescaping, exp-Golomb
# ue(v)/se(v), SPS (profile/level, pic-order-cnt, MB grid, frame
# cropping), PPS (CABAC flag, QP inits, deblock-control), IDR slice
# headers, per-MB qp deltas, more_rbsp_data() slice termination, MB
# raster placement across multiple slices. Third-party streams outside
# the subset (CABAC, predicted MBs, chroma residual, other VLC
# classes) are LOUDLY rejected (ValueError), never mis-decoded.
# Reference parity: vRod stores opaque media payloads; this leg models
# the video-decode stage of a multimodal pipeline over such blobs
# (BASELINE.json north star; no reference codec code exists).


# CAVLC tables (ITU-T H.264 clause 9.2), restricted to the regions the
# declared subset uses — every entry below is hand-checked against the
# spec tables and spot-pinned in pytest:
# - Table 9-5 coeff_token, 0 <= nC < 2 class ONLY (the encoder keeps
#   every block's context in this class; other classes are rejected).
# - Table 9-7 total_zeros for TotalCoeff 1 and 2 (the encoder caps
#   nonzero coefficients per 4x4 block at 2).
# - Table 9-10 run_before for zerosLeft 1..6 (the encoder confines
#   coefficients so no larger zerosLeft is ever coded).
# Codes are (bitstring) keyed by the decoded value.
_CAVLC_COEFF_TOKEN_NC02 = {
    # (TotalCoeff, TrailingOnes) -> bits
    (0, 0): "1",
    (1, 0): "000101", (1, 1): "01",
    (2, 0): "00000111", (2, 1): "000100", (2, 2): "001",
}
_CAVLC_TOTAL_ZEROS = {
    1: {0: "1", 1: "011", 2: "010", 3: "0011", 4: "0010", 5: "00011",
        6: "00010", 7: "000011", 8: "000010", 9: "0000011", 10: "0000010",
        11: "00000011", 12: "00000010", 13: "000000011", 14: "000000010",
        15: "000000001"},
    2: {0: "111", 1: "110", 2: "101", 3: "100", 4: "011", 5: "0101",
        6: "0100", 7: "0011", 8: "0010", 9: "00011", 10: "00010",
        11: "000011", 12: "000010", 13: "000001", 14: "000000"},
}
_CAVLC_RUN_BEFORE = {
    1: {0: "1", 1: "0"},
    2: {0: "1", 1: "01", 2: "00"},
    3: {0: "11", 1: "10", 2: "01", 3: "00"},
    4: {0: "11", 1: "10", 2: "01", 3: "001", 4: "000"},
    5: {0: "11", 1: "10", 2: "011", 3: "010", 4: "001", 5: "000"},
    6: {0: "11", 1: "000", 2: "001", 3: "011", 4: "010", 5: "101", 6: "100"},
}
#: 4x4 zigzag scan (clause 8.5.6, Figure 8-8): zigzag index -> raster.
_H264_ZIGZAG_4x4 = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]
#: Table 9-4: coded_block_pattern me(v) mapping for Intra_4x4 macroblocks
#: (codeNum -> cbp; cbp = CodedBlockPatternLuma + 16*Chroma).
_H264_CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]
_H264_CBP_INTRA_INV = {v: i for i, v in enumerate(_H264_CBP_INTRA)}
#: Dequant LevelScale V rows per qP%6 (Table in 8.5.12.2): entries for
#: the three position classes (corner / center / other).
_H264_V = [
    (10, 16, 13), (11, 18, 14), (13, 20, 16),
    (14, 23, 18), (16, 25, 20), (18, 29, 23),
]
#: Encoder multiplier MF rows per qP%6 (JM quantizer; non-normative).
_H264_MF = [
    (13107, 5243, 8066), (11916, 4660, 7490), (10082, 4194, 6554),
    (9362, 3647, 5825), (8192, 3355, 5243), (7282, 2893, 4559),
]


#: luma4x4BlkIdx of each (bx, by) 4x4-block position inside an MB
#: (clause 6.4.3 inverse scan — the quad/sub zig order).
_H264_BLK_IDX = {
    ((quad & 1) * 2 + (sub & 1), (quad >> 1) * 2 + (sub >> 1)): quad * 4 + sub
    for quad in range(4)
    for sub in range(4)
}


def _h264_i4_math():
    """Intra_4x4 prediction-support helpers (clause 6.4.3/6.4.9 block
    scan, top-right availability, neighbour gathering, mode gating),
    returned from ONE factory so every helper pickles BY VALUE into
    worker closures -- a module-level function serializes as an import
    reference and raises ModuleNotFoundError on workers that cannot
    import the repo (Python workers do not inherit the driver sys.path).
    Module-level names below stay for direct callers and tests; this
    factory is the single home of the invariant (the transform cluster
    uses the same pattern, _h264_transform_math)."""

    def _h264_pos_class(i: int, j: int) -> int:
        if (i % 2, j % 2) == (0, 0):
            return 0
        if (i % 2, j % 2) == (1, 1):
            return 1
        return 2



    def _h264_tr_available(gx, gy, blk_avail):
        """Whether the top-right 4x4 neighbour block (gx+1, gy-1) of block
        (gx, gy) is available (clause 6.4.9) AND already decoded when
        (gx, gy) is predicted — raster MB order, luma4x4BlkIdx scan inside
        an MB (clause 8.3.1.2 counts not-yet-decoded neighbours as
        unavailable, which excludes blkIdx 3/7/11/13/15's top-right)."""
        if not blk_avail(gx + 1, gy - 1):
            return False
        bx, by = gx % 4, gy % 4
        if by == 0:
            return True  # in the MB row above — always decoded earlier
        if bx == 3:
            return False  # in the right-neighbour MB — not yet decoded
        return _H264_BLK_IDX[(bx + 1, by - 1)] < _H264_BLK_IDX[(bx, by)]



    def _h264_i4_neighbors(buf, x0, y0, gx, gy, blk_avail):
        """Clause 8.3.1.2 reference-sample derivation for Intra_4x4
        prediction of the block whose top-left luma sample is (x0, y0) in
        ``buf``: returns ``(top, left, tl, top_ok, left_ok, tl_ok)`` where
        ``top`` is p[0..7, -1] — the top-right half substituted by p[3, -1]
        when the top-right block is unavailable or not yet decoded —
        ``left`` is p[-1, 0..3] and ``tl`` is the corner p[-1, -1].
        Unavailable samples are left zeroed; the availability flags gate
        which prediction modes may read them."""
        import numpy as np

        top_ok = blk_avail(gx, gy - 1)
        left_ok = blk_avail(gx - 1, gy)
        tl_ok = blk_avail(gx - 1, gy - 1)
        top = np.zeros(8, dtype=np.int64)
        left = np.zeros(4, dtype=np.int64)
        tl = 0
        if top_ok:
            top[0:4] = buf[y0 - 1, x0 : x0 + 4].astype(np.int64)
            if _h264_tr_available(gx, gy, blk_avail):
                top[4:8] = buf[y0 - 1, x0 + 4 : x0 + 8].astype(np.int64)
            else:
                top[4:8] = top[3]
        if left_ok:
            left[:] = buf[y0 : y0 + 4, x0 - 1].astype(np.int64)
        if tl_ok:
            tl = int(buf[y0 - 1, x0 - 1])
        return top, left, tl, top_ok, left_ok, tl_ok



    def _h264_i4_mode_ok(mode, top_ok, left_ok, tl_ok):
        """Clause 8.3.1.2.1-8.3.1.2.9 availability preconditions: which
        Intra_4x4 modes a conformant encoder may signal for a block with
        these neighbours (DC is always legal; it falls back internally)."""
        if mode == 2:
            return True
        if mode in (0, 3, 7):  # Vertical / Diagonal_Down_Left / Vertical_Left
            return top_ok
        if mode in (1, 8):  # Horizontal / Horizontal_Up
            return left_ok
        return top_ok and left_ok and tl_ok  # 4 DDR / 5 VR / 6 HD



    return _h264_pos_class, _h264_tr_available, _h264_i4_neighbors, _h264_i4_mode_ok


(_h264_pos_class, _h264_tr_available, _h264_i4_neighbors, _h264_i4_mode_ok) = _h264_i4_math()



def _h264_chroma_math():
    """Factory wrapper so the chroma-DC helper pickles BY VALUE into
    worker closures (a plain module-level function serializes as an
    import reference — `ModuleNotFoundError: vrod_spark` on workers
    that cannot import the repo; the verify-skill gotcha). The
    module-level name below stays for direct callers/tests."""

    def _h264_chroma_dc8(buf, mb_x, mb_y, has_left, has_top):
        """Clause 8.3.4 chroma DC prediction (intra_chroma_pred_mode 0)
        for one 8x8 4:2:0 chroma macroblock: per-4x4-quadrant means, the
        off-diagonal quadrants preferring their aligned edge (top-right
        quadrant averages the top samples when available, bottom-left the
        left samples)."""
        import numpy as np

        x0, y0 = mb_x * 8, mb_y * 8
        out = np.empty((8, 8), dtype=np.int64)
        top = buf[y0 - 1, x0 : x0 + 8].astype(np.int64) if has_top else None
        left = buf[y0 : y0 + 8, x0 - 1].astype(np.int64) if has_left else None
        for qy in (0, 4):
            for qx in (0, 4):
                t = top[qx : qx + 4] if has_top else None
                lf = left[qy : qy + 4] if has_left else None
                if qx == qy:  # main-diagonal quadrants: both edges
                    if t is not None and lf is not None:
                        v = (int(t.sum()) + int(lf.sum()) + 4) >> 3
                    elif t is not None:
                        v = (int(t.sum()) + 2) >> 2
                    elif lf is not None:
                        v = (int(lf.sum()) + 2) >> 2
                    else:
                        v = 128
                elif qx == 4:  # top-right quadrant: prefer the top edge
                    if t is not None:
                        v = (int(t.sum()) + 2) >> 2
                    elif lf is not None:
                        v = (int(lf.sum()) + 2) >> 2
                    else:
                        v = 128
                else:  # bottom-left quadrant: prefer the left edge
                    if lf is not None:
                        v = (int(lf.sum()) + 2) >> 2
                    elif t is not None:
                        v = (int(t.sum()) + 2) >> 2
                    else:
                        v = 128
                out[qy : qy + 4, qx : qx + 4] = v
        return out


    return _h264_chroma_dc8


#: By-value picklable instance (cloudpickle serializes nested
#: functions by value; module-level ones by import reference).
_h264_chroma_dc8 = _h264_chroma_math()


def _h264_pred4x4_math():
    """Factory wrapper: the Intra_4x4 prediction helper must pickle BY
    VALUE into worker closures (a module-level function serializes as an
    import reference -> ModuleNotFoundError on workers without the repo
    on sys.path). Module-level name below kept for direct callers."""

    def _h264_pred4x4(mode, top, left, tl, top_ok, left_ok, tl_ok):
        """Clause 8.3.1.2 Intra_4x4 sample prediction — ALL nine modes
        (8.3.1.2.1 Vertical .. 8.3.1.2.9 Horizontal_Up). Inputs are the
        reference samples from ``_h264_i4_neighbors``; both the encoder and
        the decoder call THIS function, so encoder-side reconstruction is
        sample-exactly the decoder's. A mode whose required reference
        samples are unavailable raises ValueError — a conformant stream
        never signals it (8.3.1.1), so outside-subset input is loudly
        rejected, never approximated."""
        import numpy as np

        if mode == 0:  # 8.3.1.2.1 Vertical
            if not top_ok:
                raise ValueError("Vertical Intra_4x4 without top neighbor")
            return np.tile(top[0:4], (4, 1))
        if mode == 1:  # 8.3.1.2.2 Horizontal
            if not left_ok:
                raise ValueError("Horizontal Intra_4x4 without left neighbor")
            return np.tile(left[:, None], (1, 4))
        if mode == 2:  # 8.3.1.2.3 DC — mean of available neighbours, else 128
            if top_ok and left_ok:
                v = (int(top[0:4].sum()) + int(left.sum()) + 4) >> 3
            elif top_ok:
                v = (int(top[0:4].sum()) + 2) >> 2
            elif left_ok:
                v = (int(left.sum()) + 2) >> 2
            else:
                v = 128
            return np.full((4, 4), v, dtype=np.int64)

        def pt(i):  # p[i, -1]; i == -1 is the corner p[-1, -1]
            return tl if i < 0 else int(top[i])

        def pl(i):  # p[-1, i]; i == -1 is the corner p[-1, -1]
            return tl if i < 0 else int(left[i])

        P = np.empty((4, 4), dtype=np.int64)
        if mode == 3:  # 8.3.1.2.4 Diagonal_Down_Left
            if not top_ok:
                raise ValueError("Diagonal_Down_Left Intra_4x4 without top neighbor")
            for y in range(4):
                for x in range(4):
                    if x == 3 and y == 3:
                        P[y, x] = (pt(6) + 3 * pt(7) + 2) >> 2
                    else:
                        P[y, x] = (
                            pt(x + y) + 2 * pt(x + y + 1) + pt(x + y + 2) + 2
                        ) >> 2
            return P
        if mode == 4:  # 8.3.1.2.5 Diagonal_Down_Right
            if not (top_ok and left_ok and tl_ok):
                raise ValueError(
                    "Diagonal_Down_Right Intra_4x4 without left/top/corner"
                )
            for y in range(4):
                for x in range(4):
                    if x > y:
                        P[y, x] = (
                            pt(x - y - 2) + 2 * pt(x - y - 1) + pt(x - y) + 2
                        ) >> 2
                    elif x < y:
                        P[y, x] = (
                            pl(y - x - 2) + 2 * pl(y - x - 1) + pl(y - x) + 2
                        ) >> 2
                    else:
                        P[y, x] = (pt(0) + 2 * tl + pl(0) + 2) >> 2
            return P
        if mode == 5:  # 8.3.1.2.6 Vertical_Right
            if not (top_ok and left_ok and tl_ok):
                raise ValueError("Vertical_Right Intra_4x4 without left/top/corner")
            for y in range(4):
                for x in range(4):
                    z = 2 * x - y
                    i = x - (y >> 1)
                    if z >= 0 and z % 2 == 0:
                        P[y, x] = (pt(i - 1) + pt(i) + 1) >> 1
                    elif z >= 0:
                        P[y, x] = (pt(i - 2) + 2 * pt(i - 1) + pt(i) + 2) >> 2
                    elif z == -1:
                        P[y, x] = (pl(0) + 2 * tl + pt(0) + 2) >> 2
                    else:  # z in (-2, -3): x == 0, y in (2, 3)
                        P[y, x] = (pl(y - 1) + 2 * pl(y - 2) + pl(y - 3) + 2) >> 2
            return P
        if mode == 6:  # 8.3.1.2.7 Horizontal_Down
            if not (top_ok and left_ok and tl_ok):
                raise ValueError(
                    "Horizontal_Down Intra_4x4 without left/top/corner"
                )
            for y in range(4):
                for x in range(4):
                    z = 2 * y - x
                    i = y - (x >> 1)
                    if z >= 0 and z % 2 == 0:
                        P[y, x] = (pl(i - 1) + pl(i) + 1) >> 1
                    elif z >= 0:
                        P[y, x] = (pl(i - 2) + 2 * pl(i - 1) + pl(i) + 2) >> 2
                    elif z == -1:
                        P[y, x] = (pl(0) + 2 * tl + pt(0) + 2) >> 2
                    else:  # z in (-2, -3): y == 0, x in (2, 3)
                        P[y, x] = (pt(x - 1) + 2 * pt(x - 2) + pt(x - 3) + 2) >> 2
            return P
        if mode == 7:  # 8.3.1.2.8 Vertical_Left
            if not top_ok:
                raise ValueError("Vertical_Left Intra_4x4 without top neighbor")
            for y in range(4):
                for x in range(4):
                    i = x + (y >> 1)
                    if y % 2 == 0:
                        P[y, x] = (pt(i) + pt(i + 1) + 1) >> 1
                    else:
                        P[y, x] = (pt(i) + 2 * pt(i + 1) + pt(i + 2) + 2) >> 2
            return P
        if mode == 8:  # 8.3.1.2.9 Horizontal_Up
            if not left_ok:
                raise ValueError("Horizontal_Up Intra_4x4 without left neighbor")
            for y in range(4):
                for x in range(4):
                    z = x + 2 * y
                    i = y + (x >> 1)
                    if z == 5:
                        P[y, x] = (pl(2) + 3 * pl(3) + 2) >> 2
                    elif z > 5:
                        P[y, x] = pl(3)
                    elif z % 2 == 0:
                        P[y, x] = (pl(i) + pl(i + 1) + 1) >> 1
                    else:
                        P[y, x] = (pl(i) + 2 * pl(i + 1) + pl(i + 2) + 2) >> 2
            return P
        raise ValueError(f"Intra_4x4 prediction mode {mode} out of range")


    return _h264_pred4x4


_h264_pred4x4 = _h264_pred4x4_math()


def _h264_transform_math():
    """Shared spec math for the Intra_16x16 path, returned as
    self-contained closures (the decoder closure captures them by value;
    the encoder uses the same functions so encoder-side reconstruction
    cannot drift from the decoder):

    - ``inv_transform_4x4(d)`` — clause 8.5.12.2 inverse integer
      transform incl. the final (x + 32) >> 6.
    - ``dequant_ac(c, qp, i, j)`` — clause 8.5.12.1 AC scaling.
    - ``dequant_dc16(f, qp)`` — clause 8.6.2 luma-DC scaling (applied
      AFTER the inverse Hadamard).
    - ``hadamard4(m)`` — the +-1 4x4 Hadamard (its own inverse up to
      scale), used forward (encoder) and inverse (decoder).
    - ``dc_pred16(recon, mb_x, mb_y)`` — clause 8.3.3.3 Intra_16x16 DC
      prediction from reconstructed neighbors.
    """
    import numpy as np

    V = [list(r) for r in _H264_V]
    zig = list(_H264_ZIGZAG_4x4)

    def pos_class(i, j):
        if (i % 2, j % 2) == (0, 0):
            return 0
        if (i % 2, j % 2) == (1, 1):
            return 1
        return 2

    def hadamard4(m):
        H = np.array(
            [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
            dtype=np.int64,
        )
        return H @ np.asarray(m, dtype=np.int64) @ H.T

    def dequant_ac(c, qp, i, j):
        ls = V[qp % 6][pos_class(i, j)]
        return int(c) * ls << (qp // 6)

    def dequant_dc16(f, qp):
        # Clause 8.6.2: the luma-DC scale is the 4x4 scale with an extra
        # >>2 absorbed (the Hadamard pair contributes a net x4), hence
        # the qP/6 - 2 shift. Verified by the end-to-end gain identity:
        # a uniform residual res gives level == res (JM quantizer) and
        # this scaling returns 64*res into the (x+32)>>6 core inverse.
        ls = V[qp % 6][0]
        f = int(f)
        if qp >= 12:
            return (f * ls) << (qp // 6 - 2)
        return (f * ls + (1 << (1 - qp // 6))) >> (2 - qp // 6)

    def inv_transform_4x4(d):
        d = np.asarray(d, dtype=np.int64)
        e = np.empty((4, 4), dtype=np.int64)
        # Horizontal (rows of d are i; operate on columns first per spec —
        # the transform is separable and symmetric, order is irrelevant
        # as long as both passes use the butterfly below).
        for i in range(4):
            a0 = d[i, 0] + d[i, 2]
            a1 = d[i, 0] - d[i, 2]
            a2 = (d[i, 1] >> 1) - d[i, 3]
            a3 = d[i, 1] + (d[i, 3] >> 1)
            e[i, 0] = a0 + a3
            e[i, 1] = a1 + a2
            e[i, 2] = a1 - a2
            e[i, 3] = a0 - a3
        r = np.empty((4, 4), dtype=np.int64)
        for j in range(4):
            a0 = e[0, j] + e[2, j]
            a1 = e[0, j] - e[2, j]
            a2 = (e[1, j] >> 1) - e[3, j]
            a3 = e[1, j] + (e[3, j] >> 1)
            r[0, j] = a0 + a3
            r[1, j] = a1 + a2
            r[2, j] = a1 - a2
            r[3, j] = a0 - a3
        return (r + 32) >> 6

    def dc_pred16(recon, mb_x, mb_y, has_left=None, has_top=None):
        # Callers decoding multi-slice pictures pass explicit
        # availability: per clause 6.4.9 a neighbor in a DIFFERENT slice
        # is unavailable even when its samples are reconstructed.
        x0, y0 = mb_x * 16, mb_y * 16
        if has_left is None:
            has_left = mb_x > 0
        if has_top is None:
            has_top = mb_y > 0
        if has_left and has_top:
            s = int(recon[y0 : y0 + 16, x0 - 1].sum()) + int(
                recon[y0 - 1, x0 : x0 + 16].sum()
            )
            return (s + 16) >> 5
        if has_left:
            return (int(recon[y0 : y0 + 16, x0 - 1].sum()) + 8) >> 4
        if has_top:
            return (int(recon[y0 - 1, x0 : x0 + 16].sum()) + 8) >> 4
        return 128

    def pred16(recon, mb_x, mb_y, mode, has_left, has_top, has_tl):
        """Clause 8.3.3 Intra_16x16 sample prediction, all four modes:
        0 Vertical / 1 Horizontal / 2 DC / 3 Plane. Returns the DC value
        (scalar) for mode 2, a 16x16 int64 array otherwise. A mode whose
        required neighbour samples are unavailable raises ValueError —
        conformant streams never signal it (8.3.3 constraint)."""
        x0, y0 = mb_x * 16, mb_y * 16
        if mode == 2:  # 8.3.3.3 DC — falls back internally
            return dc_pred16(recon, mb_x, mb_y, has_left=has_left, has_top=has_top)
        if mode == 0:  # 8.3.3.1 Vertical
            if not has_top:
                raise ValueError("Intra_16x16 Vertical without top MB")
            return np.tile(recon[y0 - 1, x0 : x0 + 16].astype(np.int64), (16, 1))
        if mode == 1:  # 8.3.3.2 Horizontal
            if not has_left:
                raise ValueError("Intra_16x16 Horizontal without left MB")
            return np.tile(
                recon[y0 : y0 + 16, x0 - 1].astype(np.int64)[:, None], (1, 16)
            )
        if mode != 3:
            raise ValueError(f"Intra_16x16 prediction mode {mode} out of range")
        # 8.3.3.4 Plane: least-squares-ish gradient from the border
        # samples; needs left + top + the corner p[-1, -1].
        if not (has_left and has_top and has_tl):
            raise ValueError("Intra_16x16 Plane without left/top/corner MBs")
        # Index 0 of each border vector is the corner p[-1, -1].
        top = recon[y0 - 1, x0 - 1 : x0 + 16].astype(np.int64)
        left = recon[y0 - 1 : y0 + 16, x0 - 1].astype(np.int64)
        hh = sum((i + 1) * (int(top[9 + i]) - int(top[7 - i])) for i in range(8))
        vv = sum((i + 1) * (int(left[9 + i]) - int(left[7 - i])) for i in range(8))
        a = 16 * (int(left[16]) + int(top[16]))  # p[-1,15] + p[15,-1]
        b = (5 * hh + 32) >> 6
        c = (5 * vv + 32) >> 6
        ys, xs = np.mgrid[0:16, 0:16]
        return np.clip((a + b * (xs - 7) + c * (ys - 7) + 16) >> 5, 0, 255)

    def recon_i16(dc_levels, ac_blocks, qp, pred):
        """Reconstruct one Intra_16x16 luma MB (clauses 8.5.10/8.5.12):
        ``dc_levels`` = 16 zigzag-ordered DC levels, ``ac_blocks`` =
        {(by, bx): 15 zigzag AC levels (scan positions 1..15)} (absent =
        all-zero), ``pred`` = the prediction — a scalar DC value or a
        16x16 sample array (V/H/Plane modes). Returns the 16x16 uint8
        block. Used by BOTH encoder and decoder so the encoder's
        neighbor reconstruction cannot drift."""
        pred = np.asarray(pred, dtype=np.int64)
        dc_arr = np.zeros((4, 4), dtype=np.int64)
        for k, lv in enumerate(dc_levels):
            dc_arr[zig[k] // 4, zig[k] % 4] = lv
        f = hadamard4(dc_arr)
        out = np.empty((16, 16), dtype=np.int64)
        for by in range(4):
            for bx in range(4):
                d = np.zeros((4, 4), dtype=np.int64)
                for k, lv in enumerate(ac_blocks.get((by, bx), ())):
                    if lv:
                        pos = zig[k + 1]
                        d[pos // 4, pos % 4] = dequant_ac(lv, qp, pos // 4, pos % 4)
                d[0, 0] = dequant_dc16(f[by, bx], qp)
                r = inv_transform_4x4(d)
                p_blk = (
                    pred
                    if pred.ndim == 0
                    else pred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4]
                )
                out[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = p_blk + r
        return np.clip(out, 0, 255).astype(np.uint8)

    #: coded luma4x4BlkIdx -> (bx, by): 8x8 quads TL,TR,BL,BR; within a
    #: quad the 4x4s in the same order (clause 6.4.3).
    blk_order = []
    for quad in range(4):
        for sub in range(4):
            blk_order.append(((quad & 1) * 2 + (sub & 1), (quad >> 1) * 2 + (sub >> 1)))

    return {
        "hadamard4": hadamard4,
        "dequant_ac": dequant_ac,
        "dequant_dc16": dequant_dc16,
        "inv_transform_4x4": inv_transform_4x4,
        "dc_pred16": dc_pred16,
        "pred16": pred16,
        "recon_i16": recon_i16,
        "blk_order": blk_order,
        "zigzag": zig,
    }


def _cavlc_encode_block(levels, max_coeffs, nc):
    """Encode one residual block's zigzag-ordered ``levels`` (list of
    ints, length ``max_coeffs``) as a CAVLC bitstring (clause 9.2),
    restricted to the declared subset: TotalCoeff <= 2 in an 0 <= nC < 2
    context, plus the TotalCoeff = 0 coeff_token of EVERY nC class
    (Table 9-5 heads: '1' / '11' / '1111' / FLC '000011') so a
    zero-residual block is codable in any context — without it, one
    I_PCM macroblock (nC = 16 neighbors) would force every adjacent
    exactly-predicted MB back to I_PCM too. Returns (bits, total_coeff)
    or None when the block falls outside the subset (caller falls back
    to I_PCM)."""
    nz = [(k, lv) for k, lv in enumerate(levels) if lv != 0]
    total = len(nz)
    if total == 0:
        if 0 <= nc < 2:
            return _CAVLC_COEFF_TOKEN_NC02[(0, 0)], 0
        if 2 <= nc < 4:
            return "11", 0
        if 4 <= nc < 8:
            return "1111", 0
        if nc >= 8:
            return "000011", 0
        return None  # negative (chroma-DC) contexts: outside the subset
    if not (0 <= nc < 2):
        return None
    if total > 2:
        return None
    # Trailing ones: |level| == 1 coefficients at the high-frequency end.
    t1 = 0
    for _k, lv in reversed(nz):
        if abs(lv) == 1 and t1 < 3:
            t1 += 1
        else:
            break
    bits = [_CAVLC_COEFF_TOKEN_NC02[(total, t1)]]
    # Trailing-one signs, highest frequency first.
    for _k, lv in list(reversed(nz))[:t1]:
        bits.append("0" if lv > 0 else "1")
    # Remaining levels, highest frequency first (clause 9.2.2.1). With
    # TotalCoeff <= 2 (< 11), suffixLength starts at 0.
    suffix_len = 0
    for idx, (_k, lv) in enumerate(list(reversed(nz))[t1:]):
        code = abs(lv) * 2 - 2 if lv > 0 else abs(lv) * 2 - 1
        if idx == 0 and t1 < 3:
            # The first non-trailing-one level lowers |level| by 1.
            code -= 2
        if suffix_len == 0:
            if code < 14:
                bits.append("0" * code + "1")
            elif code < 30:
                bits.append("0" * 14 + "1" + format(code - 14, "04b"))
            else:
                bits.append("0" * 15 + "1" + format(code - 30, "012b"))
        else:
            prefix = code >> suffix_len
            if prefix < 15:
                bits.append(
                    "0" * prefix + "1"
                    + format(code & ((1 << suffix_len) - 1), f"0{suffix_len}b")
                )
            else:
                bits.append("0" * 15 + "1" + format(code - (15 << suffix_len), "012b"))
        if suffix_len == 0:
            suffix_len = 1
        if abs(lv) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros: zeros before the last (highest-index) coefficient.
    if total < max_coeffs:
        total_zeros = nz[-1][0] + 1 - total
        bits.append(_CAVLC_TOTAL_ZEROS[total][total_zeros])
    else:
        total_zeros = 0
    # run_before for each coefficient except the lowest-frequency one.
    zeros_left = total_zeros
    runs = []
    prev = None
    for k, _lv in reversed(nz):
        if prev is not None:
            runs.append(prev - k - 1)
        prev = k
    # runs[i] is the zero-run before the i-th coefficient from the top;
    # the LAST coefficient's run is implied by zeros_left.
    for r in runs:
        if zeros_left == 0:
            break
        if zeros_left > 6:
            return None  # outside the declared run_before table region
        bits.append(_CAVLC_RUN_BEFORE[zeros_left][r])
        zeros_left -= r
    return "".join(bits), total


def make_h264_bytes(
    frames,
    *,
    width: int,
    height: int,
    chroma=(128, 128),
    mode: str = "pcm",
    qp: int = 26,
    mbs_per_slice: int | None = None,
    i4_modes=None,
    i16_modes=None,
) -> bytes:
    """Encode luma frames as an Annex-B H.264 stream of IDR pictures
    (Constrained Baseline). ``frames`` is a list of either scalar luma
    values (solid frames) or (height, width) uint8 planes; chroma is
    solid ``(cb, cr)``. Dimensions need not be multiples of 16 — the SPS
    carries frame cropping exactly as the spec prescribes.

    ``mode="pcm"``: every macroblock is I_PCM (raw samples, lossless).
    ``mode="cavlc"``: macroblocks are Intra_16x16 (DC prediction,
    CAVLC-entropy-coded quantized integer-transform residuals at ``qp``)
    wherever the residual fits the declared CAVLC subset (<= 2 nonzero
    coefficients per 4x4 block, contexts in the 0<=nC<2 VLC class,
    run_before within the zerosLeft<=6 tables); any macroblock outside
    it falls back to I_PCM — per-MB mode selection exactly as real
    encoders do, and every emitted stream is conformant.

    ``mbs_per_slice``: raster-order macroblocks per slice (default: the
    whole picture in one slice). Multi-slice pictures follow clause
    6.4.9 — CAVLC nC contexts and DC prediction treat neighbors in a
    different slice as unavailable, on BOTH encode and decode sides, so
    the stream stays conformant for third-party decoders.

    ``i4_modes``: for ``mode="i4x4"``, restrict the candidate clause
    8.3.1.2 prediction modes the per-block SAD selection may choose
    from (default: all nine, 0 Vertical .. 8 Horizontal_Up). Useful for
    emitting streams that exercise a specific mode. ``i16_modes``: the
    same for ``mode="cavlc"`` macroblocks (clause 8.3.3: 0 Vertical /
    1 Horizontal / 2 DC / 3 Plane; default all four)."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    if mode not in ("pcm", "cavlc", "i4x4"):
        raise ValueError(f"unknown mode {mode!r}")
    if not 0 <= qp <= 51:
        raise ValueError("qp out of range")
    i4_mode_set = tuple(range(9)) if i4_modes is None else tuple(i4_modes)
    if not i4_mode_set or not all(m in range(9) for m in i4_mode_set):
        raise ValueError("i4_modes must be a non-empty subset of 0..8")
    i16_mode_set = tuple(range(4)) if i16_modes is None else tuple(i16_modes)
    if not i16_mode_set or not all(m in range(4) for m in i16_mode_set):
        raise ValueError("i16_modes must be a non-empty subset of 0..3")
    mbs_w = -(-width // 16)
    mbs_h = -(-height // 16)
    pad_w, pad_h = mbs_w * 16, mbs_h * 16

    class W:
        def __init__(self):
            self.bits = []

        def u(self, value: int, n: int):
            for i in range(n - 1, -1, -1):
                self.bits.append((value >> i) & 1)

        def ue(self, v: int):
            code = v + 1
            n = code.bit_length()
            self.u(0, n - 1)
            self.u(code, n)

        def se(self, v: int):
            self.ue(2 * v - 1 if v > 0 else -2 * v)

        def align_zero(self):
            while len(self.bits) % 8:
                self.bits.append(0)

        def trailing(self):
            self.bits.append(1)  # rbsp_stop_one_bit
            self.align_zero()

        def bytes(self) -> bytes:
            assert len(self.bits) % 8 == 0
            out = bytearray()
            for i in range(0, len(self.bits), 8):
                byte = 0
                for b in self.bits[i : i + 8]:
                    byte = (byte << 1) | b
                out.append(byte)
            return bytes(out)

    def nal(nal_type: int, ref_idc: int, rbsp: bytes) -> bytes:
        # Emulation prevention: 00 00 -> insert 03 before any next byte
        # <= 03 (clause 7.4.1.1).
        ebsp = bytearray()
        zeros = 0
        for byte in rbsp:
            if zeros >= 2 and byte <= 3:
                ebsp.append(3)
                zeros = 0
            ebsp.append(byte)
            zeros = zeros + 1 if byte == 0 else 0
        return b"\x00\x00\x00\x01" + bytes([(ref_idc << 5) | nal_type]) + bytes(ebsp)

    # --- SPS (nal 7) ---
    w = W()
    w.u(66, 8)  # profile_idc: Baseline
    w.u(0b11000000, 8)  # constraint_set0/1, reserved zeros
    w.u(10, 8)  # level_idc 1.0
    w.ue(0)  # seq_parameter_set_id
    w.ue(0)  # log2_max_frame_num_minus4 -> 4 bits
    w.ue(2)  # pic_order_cnt_type: 2 (display order == decode order)
    w.ue(0)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(mbs_w - 1)
    w.ue(mbs_h - 1)
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(1, 1)  # direct_8x8_inference_flag
    crop = pad_w != width or pad_h != height
    w.u(1 if crop else 0, 1)
    if crop:
        # 4:2:0 frame coding: CropUnitX = CropUnitY = 2.
        w.ue(0)
        w.ue((pad_w - width) // 2)
        w.ue(0)
        w.ue((pad_h - height) // 2)
    w.u(0, 1)  # vui_parameters_present_flag
    w.trailing()
    out = bytearray(nal(7, 3, w.bytes()))

    # --- PPS (nal 8) ---
    w = W()
    w.ue(0)  # pic_parameter_set_id
    w.ue(0)  # seq_parameter_set_id
    w.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred_flag
    w.u(0, 2)  # weighted_bipred_idc
    w.se(qp - 26)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1, 1)  # deblocking_filter_control_present_flag
    w.u(0, 1)  # constrained_intra_pred_flag
    w.u(0, 1)  # redundant_pic_cnt_present_flag
    w.trailing()
    out += nal(8, 3, w.bytes())

    cb_v, cr_v = int(chroma[0]) & 0xFF, int(chroma[1]) & 0xFF
    math = _h264_transform_math()
    zig = math["zigzag"]
    blk_order = math["blk_order"]
    Cf = np.array(
        [[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
        dtype=np.int64,
    )
    qbits = 15 + qp // 6
    fq = (1 << qbits) // 3  # intra rounding offset (JM)
    mf = _H264_MF[qp % 6]

    def quant(v, mfv, bits, off):
        a = (abs(int(v)) * mfv + off) >> bits
        return a if v >= 0 else -a

    def nc_of(totals, gx, gy):
        left = totals.get((gx - 1, gy))
        top = totals.get((gx, gy - 1))
        if left is not None and top is not None:
            return (left + top + 1) >> 1
        if left is not None:
            return left
        if top is not None:
            return top
        return 0

    def write_pcm_mb(w, y, mb_x, mb_y):
        w.ue(25)  # mb_type: I_PCM
        w.align_zero()  # pcm_alignment_zero_bit
        for v in y[mb_y * 16 : mb_y * 16 + 16, mb_x * 16 : mb_x * 16 + 16].reshape(256):
            w.u(int(v), 8)
        for v in [cb_v] * 64 + [cr_v] * 64:
            w.u(v, 8)

    def try_cavlc_mb(
        y, recon, totals, mb_x, mb_y, has_left=None, has_top=None, has_tl=None
    ):
        """Return (bits_fn, new_totals, recon_mb) for an Intra_16x16
        macroblock — per-MB best of the available clause 8.3.3 modes
        (V/H/DC/Plane) by SAD — or None when any block leaves the
        declared CAVLC subset (caller writes I_PCM). ``has_left``/
        ``has_top``/``has_tl`` override neighbor availability for slice
        boundaries."""
        if has_left is None:
            has_left = mb_x > 0
        if has_top is None:
            has_top = mb_y > 0
        if has_tl is None:
            has_tl = mb_x > 0 and mb_y > 0
        src = y[
            mb_y * 16 : mb_y * 16 + 16, mb_x * 16 : mb_x * 16 + 16
        ].astype(np.int64)
        avail_of = {
            0: has_top,
            1: has_left,
            2: True,
            3: has_left and has_top and has_tl,
        }
        cands = [m for m in i16_mode_set if avail_of[m]]
        if not cands:
            return None
        best = None
        for cand in sorted(cands):
            p = np.asarray(
                math["pred16"](recon, mb_x, mb_y, cand, has_left, has_top, has_tl),
                dtype=np.int64,
            )
            sad = int(np.abs(src - p).sum())
            if best is None or sad < best[0]:
                best = (sad, cand, p)
        _, pred_mode, pred = best
        res = src - pred
        wmat = np.empty((4, 4, 4, 4), dtype=np.int64)
        for by in range(4):
            for bx in range(4):
                wmat[by, bx] = Cf @ res[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] @ Cf.T
        yd = math["hadamard4"](wmat[:, :, 0, 0])
        # DC quant: the un-halved Hadamard output carries an extra x2 vs
        # the JM convention (which halves it), so the shift is qbits+2
        # (JM: half-Hadamard >> qbits+1) with the offset scaled to match.
        dc_zig = [
            quant(yd[zig[k] // 4, zig[k] % 4], mf[0], qbits + 2, 4 * fq)
            for k in range(16)
        ]
        ac_zig = {}
        for by in range(4):
            for bx in range(4):
                lv = []
                for k in range(1, 16):
                    pos = zig[k]
                    cls = _h264_pos_class(pos // 4, pos % 4)
                    lv.append(quant(wmat[by, bx, pos // 4, pos % 4], mf[cls], qbits, fq))
                ac_zig[(by, bx)] = lv
        cbp_luma = 15 if any(any(v) for v in ac_zig.values()) else 0
        # CAVLC-encode with sequentially-updated contexts; collect the
        # new per-4x4 totals in a staging dict so an I_PCM fallback rolls
        # back cleanly.
        staged = {}
        enc_dc = _cavlc_encode_block(
            dc_zig, 16, nc_of(totals, mb_x * 4, mb_y * 4)
        )
        if enc_dc is None:
            return None
        parts = [enc_dc[0]]
        for bx, by in blk_order:
            gx, gy = mb_x * 4 + bx, mb_y * 4 + by
            if cbp_luma:
                merged = dict(totals)
                merged.update(staged)
                enc = _cavlc_encode_block(ac_zig[(by, bx)], 15, nc_of(merged, gx, gy))
                if enc is None:
                    return None
                parts.append(enc[0])
                staged[(gx, gy)] = enc[1]
            else:
                staged[(gx, gy)] = 0
        recon_mb = math["recon_i16"](dc_zig, ac_zig, qp, pred)

        def emit(w):
            # I_16x16 mb_type: 1 + predMode + 12*(cbp_luma==15), chroma 0
            w.ue(1 + pred_mode + (12 if cbp_luma else 0))
            w.ue(0)  # intra_chroma_pred_mode: DC
            w.se(0)  # mb_qp_delta
            for bits in parts:
                for ch in bits:
                    w.u(1 if ch == "1" else 0, 1)

        return emit, staged, recon_mb

    dequant_ac = math["dequant_ac"]
    inv_transform_4x4 = math["inv_transform_4x4"]

    def try_i4x4_mb(y, recon, totals, i4modes_enc, enc_mb_slice, slice_first, mb_x, mb_y):
        """Return (bits_fn, staged_totals, staged_modes) for an Intra_4x4
        macroblock (per-4x4 best of the candidate clause 8.3.1.2 modes
        by SAD), or
        None when any block's residual leaves the CAVLC subset (caller
        writes I_PCM; recon is rolled back). Reconstruction mirrors the
        decoder sample-for-sample so neighbor prediction cannot drift."""
        my, mx = mb_y * 16, mb_x * 16
        saved = recon[my : my + 16, mx : mx + 16].copy()
        staged_totals: dict = {}
        staged_modes: dict = {}
        mode_bits = []
        blk_bits = [""] * 16
        blk_tot = [0] * 16

        def avail(ngx, ngy):
            if ngx < 0 or ngy < 0:
                return False
            return enc_mb_slice.get((ngx // 4, ngy // 4)) == slice_first

        def mode_of(ngx, ngy):
            if (ngx, ngy) in staged_modes:
                return staged_modes[(ngx, ngy)]
            return i4modes_enc.get((ngx, ngy), 2)

        for k4 in range(16):
            bx, by = blk_order[k4]
            gx, gy = mb_x * 4 + bx, mb_y * 4 + by
            x0, y0 = mx + bx * 4, my + by * 4
            src = y[y0 : y0 + 4, x0 : x0 + 4].astype(np.int64)
            nbr = _h264_i4_neighbors(recon, x0, y0, gx, gy, avail)
            top_ok, left_ok, tl_ok = nbr[3], nbr[4], nbr[5]
            cands = [
                m
                for m in i4_mode_set
                if _h264_i4_mode_ok(m, top_ok, left_ok, tl_ok)
            ]
            best = None
            for m in sorted(cands):
                p = _h264_pred4x4(m, *nbr)
                sad = int(np.abs(src - p).sum())
                if best is None or sad < best[0]:
                    best = (sad, m, p)
            if best is None:
                recon[my : my + 16, mx : mx + 16] = saved
                return None
            _, m, p = best
            w4 = Cf @ (src - p) @ Cf.T
            lv = []
            for k2 in range(16):
                pos = zig[k2]
                cls = _h264_pos_class(pos // 4, pos % 4)
                lv.append(quant(w4[pos // 4, pos % 4], mf[cls], qbits, fq))
            merged = dict(totals)
            merged.update(staged_totals)
            enc = _cavlc_encode_block(lv, 16, nc_of(merged, gx, gy))
            if enc is None:
                recon[my : my + 16, mx : mx + 16] = saved
                return None
            blk_bits[k4], blk_tot[k4] = enc
            staged_totals[(gx, gy)] = enc[1]
            # Mode syntax BEFORE registering this block's mode.
            if not left_ok or not top_ok:
                pm = 2
            else:
                pm = min(mode_of(gx - 1, gy), mode_of(gx, gy - 1))
            if m == pm:
                mode_bits.append((1, None))
            else:
                mode_bits.append((0, m - (1 if m > pm else 0)))
            staged_modes[(gx, gy)] = m
            # Decoder-exact reconstruction (used by later blocks' pred).
            d = np.zeros((4, 4), dtype=np.int64)
            for ci, l in enumerate(lv):
                if l:
                    pos = zig[ci]
                    d[pos // 4, pos % 4] = dequant_ac(l, qp, pos // 4, pos % 4)
            recon[y0 : y0 + 4, x0 : x0 + 4] = np.clip(
                p + inv_transform_4x4(d), 0, 255
            ).astype(np.uint8)

        cbp_luma4 = 0
        for quad in range(4):
            if any(blk_tot[quad * 4 + j] for j in range(4)):
                cbp_luma4 |= 1 << quad

        def emit(w):
            w.ue(0)  # mb_type: I_NxN
            for flag, rem in mode_bits:
                w.u(flag, 1)
                if not flag:
                    w.u(rem, 3)
            w.ue(0)  # intra_chroma_pred_mode: DC
            w.ue(_H264_CBP_INTRA_INV[cbp_luma4])  # coded_block_pattern me(v)
            if cbp_luma4:
                w.se(0)  # mb_qp_delta
            for k4 in range(16):
                if cbp_luma4 & (1 << (k4 // 4)):
                    for ch in blk_bits[k4]:
                        w.u(1 if ch == "1" else 0, 1)

        return emit, staged_totals, staged_modes

    for f_idx, frame in enumerate(frames):
        if np.isscalar(frame):
            y = np.full((pad_h, pad_w), int(frame) & 0xFF, dtype=np.uint8)
        else:
            y = np.asarray(frame, dtype=np.uint8)
            if y.shape != (height, width):
                raise ValueError(f"frame {f_idx}: shape {y.shape} != ({height}, {width})")
            y = np.pad(y, ((0, pad_h - height), (0, pad_w - width)), mode="edge")
        # --- IDR slices (nal 5), raster MB order, one NAL per slice ---
        n_mbs = mbs_w * mbs_h
        step = n_mbs if not mbs_per_slice else max(1, int(mbs_per_slice))
        recon = np.zeros((pad_h, pad_w), dtype=np.uint8)
        i4modes_enc: dict = {}  # per-picture 4x4 pred modes (Intra_4x4 MBs)
        enc_mb_slice: dict = {}  # per-picture (mb_x, mb_y) -> slice id
        for slice_first in range(0, n_mbs, step):
            w = W()
            w.ue(slice_first)  # first_mb_in_slice
            w.ue(7)  # slice_type: I (all slices in picture)
            w.ue(0)  # pic_parameter_set_id
            w.u(0, 4)  # frame_num (log2_max_frame_num = 4); 0 for every IDR
            w.ue(f_idx % 2)  # idr_pic_id (same for all slices of a picture)
            w.u(0, 1)  # no_output_of_prior_pics_flag
            w.u(0, 1)  # long_term_reference_flag
            w.se(0)  # slice_qp_delta
            w.ue(1)  # disable_deblocking_filter_idc: 1 (filter off)
            # Slice-local nC contexts: a fresh totals dict makes every
            # other-slice neighbor None, exactly clause 6.4.9.
            totals: dict = {}
            for mb in range(slice_first, min(slice_first + step, n_mbs)):
                mb_y, mb_x = mb // mbs_w, mb % mbs_w
                # Registered first (mirrors the decoder): within-MB
                # neighbor blocks must count as same-slice.
                enc_mb_slice[(mb_x, mb_y)] = slice_first
                if mode == "cavlc":
                    attempt = try_cavlc_mb(
                        y,
                        recon,
                        totals,
                        mb_x,
                        mb_y,
                        has_left=mb_x > 0 and (mb - 1) >= slice_first,
                        has_top=mb_y > 0 and (mb - mbs_w) >= slice_first,
                        has_tl=mb_x > 0
                        and mb_y > 0
                        and (mb - mbs_w - 1) >= slice_first,
                    )
                elif mode == "i4x4":
                    attempt = try_i4x4_mb(
                        y, recon, totals, i4modes_enc, enc_mb_slice,
                        slice_first, mb_x, mb_y,
                    )
                else:
                    attempt = None
                if attempt is None:
                    write_pcm_mb(w, y, mb_x, mb_y)
                    for bx in range(4):
                        for by in range(4):
                            totals[(mb_x * 4 + bx, mb_y * 4 + by)] = 16
                    recon[mb_y * 16 : mb_y * 16 + 16, mb_x * 16 : mb_x * 16 + 16] = y[
                        mb_y * 16 : mb_y * 16 + 16, mb_x * 16 : mb_x * 16 + 16
                    ]
                elif mode == "i4x4":
                    emit, staged_totals, staged_modes = attempt
                    emit(w)
                    totals.update(staged_totals)
                    i4modes_enc.update(staged_modes)
                else:
                    emit, staged, recon_mb = attempt
                    emit(w)
                    totals.update(staged)
                    recon[
                        mb_y * 16 : mb_y * 16 + 16, mb_x * 16 : mb_x * 16 + 16
                    ] = recon_mb
            w.trailing()
            out += nal(5, 3, w.bytes())
    return bytes(out)


def _h264_decoder(with_chroma: bool = False):
    """Self-contained parser factory (same pickling contract as
    ``_jpeg_decoder``): returns ``parse(b) -> (width, height, [y_plane])``
    — or, with ``with_chroma``, ``(width, height, [(y, cb, cr)])`` with
    half-resolution 4:2:0 chroma planes — for Annex-B streams of the
    declared subset — I_PCM macroblocks (luma AND chroma samples
    bit-exact), CAVLC-coded Intra_16x16 (DC prediction, luma residual)
    and CAVLC-coded Intra_4x4 (all nine clause 8.3.1.2 prediction modes,
    per-block mode prediction, top-right sample substitution, Table 9-4
    CBP) with clause 8.3.4 DC-predicted chroma, contexts in the 0<=nC<2
    VLC class; anything outside (CABAC, predicted MBs, chroma residual,
    non-DC chroma prediction, other VLC table classes) raises
    ValueError, never mis-decodes."""
    math = _h264_transform_math()
    recon_i16 = math["recon_i16"]
    dc_pred16 = math["dc_pred16"]
    pred16 = math["pred16"]
    dequant_ac = math["dequant_ac"]
    inv_transform_4x4 = math["inv_transform_4x4"]
    zig = list(math["zigzag"])
    blk_order = list(math["blk_order"])
    cbp_intra = list(_H264_CBP_INTRA)
    ct_dec = {bits: key for key, bits in _CAVLC_COEFF_TOKEN_NC02.items()}
    tz_dec = {tc: {bits: v for v, bits in tab.items()} for tc, tab in _CAVLC_TOTAL_ZEROS.items()}
    rb_dec = {zl: {bits: v for v, bits in tab.items()} for zl, tab in _CAVLC_RUN_BEFORE.items()}

    def parse(b: bytes):
        import numpy as np

        # Split on 3- or 4-byte start codes.
        nals = []
        i, n = 0, len(b)
        starts = []
        while i + 3 <= n:
            if b[i] == 0 and b[i + 1] == 0 and b[i + 2] == 1:
                starts.append(i + 3)
                i += 3
            else:
                i += 1
        if not starts:
            raise ValueError("no H.264 start codes")
        for k, s in enumerate(starts):
            end = starts[k + 1] - 3 if k + 1 < len(starts) else n
            while end > s and b[end - 1] == 0:  # trailing zero bytes of next start code
                end -= 1
            nals.append(b[s:end])

        def unescape(ebsp: bytes) -> bytes:
            out = bytearray()
            zeros = 0
            i = 0
            while i < len(ebsp):
                byte = ebsp[i]
                if zeros >= 2 and byte == 3:
                    zeros = 0
                    i += 1
                    continue
                out.append(byte)
                zeros = zeros + 1 if byte == 0 else 0
                i += 1
            return bytes(out)

        class R:
            def __init__(self, data: bytes):
                self.d = data
                self.pos = 0  # bit position

            def u(self, n: int) -> int:
                v = 0
                for _ in range(n):
                    byte = self.d[self.pos >> 3]
                    v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
                    self.pos += 1
                return v

            def ue(self) -> int:
                zeros = 0
                while self.u(1) == 0:
                    zeros += 1
                    if zeros > 31:
                        raise ValueError("bad exp-Golomb code")
                return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

            def se(self) -> int:
                k = self.ue()
                return (k + 1) // 2 if k % 2 else -(k // 2)

            def align(self):
                while self.pos & 7:
                    if self.u(1):
                        raise ValueError("nonzero pcm alignment bit")

        sps = pps = None
        frames = []
        cur = None
        slice_idx = -1  # per-picture slice counter (clause 6.4.9 availability)
        mb_slice = {}  # (mb_x, mb_y) -> slice_idx that decoded it
        i4modes = {}  # (gx, gy) -> Intra_4x4 pred mode of that 4x4 block
        for nalu in nals:
            if not nalu:
                continue
            hdr = nalu[0]
            if hdr & 0x80:
                raise ValueError("forbidden_zero_bit set")
            ntype = hdr & 0x1F
            r = R(unescape(nalu[1:]))
            if ntype == 7:  # SPS
                profile = r.u(8)
                r.u(8)  # constraint flags + reserved
                r.u(8)  # level_idc
                r.ue()  # seq_parameter_set_id
                if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
                    raise ValueError("high-profile SPS outside declared subset")
                log2_mfn = r.ue() + 4
                poc_type = r.ue()
                if poc_type not in (0, 2):
                    raise ValueError("unsupported pic_order_cnt_type")
                if poc_type == 0:
                    r.ue()  # log2_max_pic_order_cnt_lsb_minus4
                r.ue()  # max_num_ref_frames
                r.u(1)
                mbs_w = r.ue() + 1
                mbs_h = r.ue() + 1
                if r.u(1) != 1:
                    raise ValueError("interlaced streams outside declared subset")
                r.u(1)  # direct_8x8_inference_flag
                crop = [0, 0, 0, 0]
                if r.u(1):
                    crop = [r.ue(), r.ue(), r.ue(), r.ue()]
                sps = {
                    "log2_mfn": log2_mfn,
                    "poc_type": poc_type,
                    "mbs_w": mbs_w,
                    "mbs_h": mbs_h,
                    "crop": crop,
                }
            elif ntype == 8:  # PPS
                r.ue()  # pic_parameter_set_id
                r.ue()  # seq_parameter_set_id
                if r.u(1):
                    raise ValueError("CABAC streams outside declared subset")
                r.u(1)
                if r.ue() != 0:
                    raise ValueError("slice groups outside declared subset")
                r.ue()
                r.ue()
                r.u(1)
                r.u(2)
                init_qp = 26 + r.se()  # pic_init_qp_minus26
                r.se()
                r.se()
                pps = {"deblock_ctl": r.u(1), "init_qp": init_qp}
                # constrained_intra_pred / redundant_pic_cnt flags ignored.
            elif ntype in (1, 5):  # slice (IDR or non-IDR)
                if sps is None or pps is None:
                    raise ValueError("slice before SPS/PPS")
                first_mb = r.ue()
                slice_type = r.ue()
                if slice_type not in (2, 7):
                    raise ValueError("non-I slice outside declared subset")
                r.ue()  # pic_parameter_set_id
                r.u(sps["log2_mfn"])  # frame_num
                if ntype == 5:
                    r.ue()  # idr_pic_id
                if sps["poc_type"] == 0:
                    raise ValueError("poc_type 0 slice header outside subset")
                if ntype == 5:
                    r.u(1)  # no_output_of_prior_pics_flag
                    r.u(1)  # long_term_reference_flag
                elif r.u(1):  # adaptive_ref_pic_marking_mode_flag
                    raise ValueError("adaptive ref marking outside subset")
                qp_cur = pps["init_qp"] + r.se()  # SliceQPy (7-4.3.3)
                if pps["deblock_ctl"]:
                    if r.ue() != 1:
                        raise ValueError(
                            "deblocking enabled — outside declared subset"
                        )
                mbs_w, mbs_h = sps["mbs_w"], sps["mbs_h"]
                if first_mb == 0 or cur is None:
                    cur = np.zeros((mbs_h * 16, mbs_w * 16), dtype=np.uint8)
                    cur_cb = np.full((mbs_h * 8, mbs_w * 8), 128, dtype=np.uint8)
                    cur_cr = np.full((mbs_h * 8, mbs_w * 8), 128, dtype=np.uint8)
                    frames.append((cur, cur_cb, cur_cr))
                    totals = {}
                    mb_slice = {}
                    i4modes = {}
                    slice_idx = 0
                else:
                    slice_idx += 1
                n_mbs = mbs_w * mbs_h
                mb = first_mb
                # more_rbsp_data(): bits remain beyond the rbsp stop bit
                # (the payload's LAST set bit) — the spec-correct slice
                # termination, clause 7.2.
                stop_pos = None
                for bi in range(len(r.d) - 1, -1, -1):
                    if r.d[bi]:
                        t = (r.d[bi] & -r.d[bi]).bit_length() - 1
                        stop_pos = bi * 8 + 7 - t
                        break
                if stop_pos is None:
                    raise ValueError("slice with no rbsp stop bit")

                def nc_of(gx, gy):
                    # A neighbor 4x4 block is available only when the MB
                    # that decoded it belongs to THIS slice (clause
                    # 6.4.9: cross-slice neighbors are unavailable, even
                    # with reconstructed samples sitting in `cur`).
                    def tot(ngx, ngy):
                        if mb_slice.get((ngx // 4, ngy // 4)) != slice_idx:
                            return None
                        return totals.get((ngx, ngy))

                    left = tot(gx - 1, gy)
                    top = tot(gx, gy - 1)
                    if left is not None and top is not None:
                        return (left + top + 1) >> 1
                    if left is not None:
                        return left
                    if top is not None:
                        return top
                    return 0

                def blk_avail(ngx, ngy):
                    """4x4-block availability (clause 6.4.9): in-frame
                    AND decoded by THIS slice."""
                    if ngx < 0 or ngy < 0:
                        return False
                    return mb_slice.get((ngx // 4, ngy // 4)) == slice_idx

                def pred_i4_mode(gx, gy):
                    """Clause 8.3.1.1 predIntra4x4PredMode: DC when
                    either neighbor block is unavailable; otherwise
                    min(modeA, modeB), a non-Intra_4x4 neighbor MB
                    counting as DC."""
                    if not blk_avail(gx - 1, gy) or not blk_avail(gx, gy - 1):
                        return 2
                    return min(
                        i4modes.get((gx - 1, gy), 2), i4modes.get((gx, gy - 1), 2)
                    )

                def pred_i4_samples(mode, x0, y0, gx, gy):
                    """Clause 8.3.1.2 sample prediction, all nine modes
                    via the shared predictor (the encoder reconstructs
                    with the same function, so neighbor samples cannot
                    drift between the two sides)."""
                    return _h264_pred4x4(
                        *((mode,) + _h264_i4_neighbors(
                            cur, x0, y0, gx, gy, blk_avail
                        ))
                    )

                def cavlc_block(max_coeffs, nc):
                    """Clause 9.2 residual block decode, restricted to
                    the declared table regions: the full nC<2 class,
                    plus the TotalCoeff=0 coeff_token of the higher nC
                    classes (Table 9-5: '11' / '1111' / FLC '000011') —
                    the codes a zero-residual block next to an I_PCM
                    neighbor carries."""
                    if nc >= 2:
                        expect = (
                            "000011" if nc >= 8 else "1111" if nc >= 4 else "11"
                        )
                        for ch in expect:
                            if r.u(1) != (1 if ch == "1" else 0):
                                raise ValueError(
                                    "nonzero CAVLC block in an nC>=2 "
                                    "context outside declared subset"
                                )
                        return [0] * max_coeffs, 0
                    if not 0 <= nc < 2:
                        raise ValueError(
                            "CAVLC context outside declared nC<2 subset"
                        )
                    bits = ""
                    token = None
                    for _ in range(16):
                        bits += "1" if r.u(1) else "0"
                        if bits in ct_dec:
                            token = ct_dec[bits]
                            break
                    if token is None:
                        raise ValueError(
                            "coeff_token outside declared subset tables"
                        )
                    total, t1 = token
                    if total == 0:
                        return [0] * max_coeffs, 0
                    levels = []  # highest frequency first
                    for _ in range(t1):
                        levels.append(-1 if r.u(1) else 1)
                    suffix_len = 0
                    for i in range(total - t1):
                        lp = 0
                        while r.u(1) == 0:
                            lp += 1
                            if lp > 30:
                                raise ValueError("bad level_prefix")
                        code = min(15, lp) << suffix_len
                        if suffix_len > 0 or lp >= 14:
                            sfx = suffix_len
                            if lp == 14 and suffix_len == 0:
                                sfx = 4
                            if lp >= 15:
                                sfx = lp - 3
                            if sfx:
                                code += r.u(sfx)
                        if lp >= 15 and suffix_len == 0:
                            code += 15
                        if lp >= 16:
                            code += (1 << (lp - 3)) - 4096
                        if i == 0 and t1 < 3:
                            code += 2
                        level = (code + 2) >> 1 if code % 2 == 0 else -((code + 1) >> 1)
                        levels.append(level)
                        if suffix_len == 0:
                            suffix_len = 1
                        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
                            suffix_len += 1
                    if total < max_coeffs:
                        tab = tz_dec.get(total)
                        if tab is None:
                            raise ValueError(
                                "TotalCoeff outside declared <=2 subset"
                            )
                        bits = ""
                        tz = None
                        for _ in range(10):
                            bits += "1" if r.u(1) else "0"
                            if bits in tab:
                                tz = tab[bits]
                                break
                        if tz is None:
                            raise ValueError("bad total_zeros code")
                    else:
                        tz = 0
                    runs = []
                    zeros_left = tz
                    for _i in range(total - 1):
                        if zeros_left == 0:
                            runs.append(0)
                            continue
                        tab = rb_dec.get(zeros_left)
                        if tab is None:
                            raise ValueError(
                                "run_before outside declared zerosLeft<=6 tables"
                            )
                        bits = ""
                        run = None
                        for _ in range(4):
                            bits += "1" if r.u(1) else "0"
                            if bits in tab:
                                run = tab[bits]
                                break
                        if run is None:
                            raise ValueError("bad run_before code")
                        runs.append(run)
                        zeros_left -= run
                    out = [0] * max_coeffs
                    idx = tz + total - 1
                    for i, lv in enumerate(levels):
                        out[idx] = lv
                        if i < total - 1:
                            idx -= 1 + runs[i]
                    return out, total

                while mb < n_mbs and r.pos < stop_pos:
                    mb_y, mb_x = mb // mbs_w, mb % mbs_w
                    my, mx = mb_y * 16, mb_x * 16
                    # Registered before any residual decode: nc_of must
                    # see the current MB's earlier 4x4 blocks as
                    # same-slice neighbors.
                    mb_slice[(mb_x, mb_y)] = slice_idx
                    mbt = r.ue()
                    if mbt == 25:  # I_PCM
                        r.align()
                        block = np.array(
                            [r.u(8) for _ in range(256)], dtype=np.uint8
                        ).reshape(16, 16)
                        cur[my : my + 16, mx : mx + 16] = block
                        cy, cx = mb_y * 8, mb_x * 8
                        for plane in (cur_cb, cur_cr):
                            plane[cy : cy + 8, cx : cx + 8] = np.array(
                                [r.u(8) for _ in range(64)], dtype=np.uint8
                            ).reshape(8, 8)
                        for bx in range(4):
                            for by in range(4):
                                totals[(mb_x * 4 + bx, mb_y * 4 + by)] = 16
                    elif 1 <= mbt <= 24:  # Intra_16x16
                        m = mbt - 1
                        pred_mode = m % 4
                        cbp_chroma = (m // 4) % 3
                        cbp_luma = 15 if m >= 12 else 0
                        if cbp_chroma != 0:
                            raise ValueError(
                                "chroma residual outside declared subset"
                            )
                        icpm = r.ue()
                        if icpm > 3:
                            raise ValueError("bad intra_chroma_pred_mode")
                        if icpm != 0:
                            raise ValueError(
                                "non-DC chroma prediction outside subset"
                            )
                        qp_cur = (qp_cur + r.se() + 52) % 52  # mb_qp_delta
                        dc_levels, _ = cavlc_block(
                            16, nc_of(mb_x * 4, mb_y * 4)
                        )
                        ac = {}
                        if cbp_luma:
                            for bx, by in blk_order:
                                gx, gy = mb_x * 4 + bx, mb_y * 4 + by
                                lv, tot = cavlc_block(15, nc_of(gx, gy))
                                ac[(by, bx)] = lv
                                totals[(gx, gy)] = tot
                        else:
                            for bx in range(4):
                                for by in range(4):
                                    totals[(mb_x * 4 + bx, mb_y * 4 + by)] = 0
                        pred = pred16(
                            cur,
                            mb_x,
                            mb_y,
                            pred_mode,
                            mb_slice.get((mb_x - 1, mb_y)) == slice_idx,
                            mb_slice.get((mb_x, mb_y - 1)) == slice_idx,
                            mb_slice.get((mb_x - 1, mb_y - 1)) == slice_idx,
                        )
                        cur[my : my + 16, mx : mx + 16] = recon_i16(
                            dc_levels, ac, qp_cur, pred
                        )
                        for plane in (cur_cb, cur_cr):
                            plane[
                                mb_y * 8 : mb_y * 8 + 8, mb_x * 8 : mb_x * 8 + 8
                            ] = np.clip(
                                _h264_chroma_dc8(
                                    plane,
                                    mb_x,
                                    mb_y,
                                    mb_slice.get((mb_x - 1, mb_y)) == slice_idx,
                                    mb_slice.get((mb_x, mb_y - 1)) == slice_idx,
                                ),
                                0,
                                255,
                            ).astype(np.uint8)
                    elif mbt == 0:  # I_NxN = Intra_4x4 (baseline: no 8x8)
                        # -- prediction modes, luma4x4BlkIdx order --
                        modes = []
                        for k4 in range(16):
                            bx, by = blk_order[k4]
                            gx, gy = mb_x * 4 + bx, mb_y * 4 + by
                            pm = pred_i4_mode(gx, gy)
                            if r.u(1):  # prev_intra4x4_pred_mode_flag
                                mode = pm
                            else:
                                rem = r.u(3)
                                mode = rem if rem < pm else rem + 1
                            i4modes[(gx, gy)] = mode
                            modes.append(mode)
                        icpm = r.ue()
                        if icpm > 3:
                            raise ValueError("bad intra_chroma_pred_mode")
                        if icpm != 0:
                            raise ValueError(
                                "non-DC chroma prediction outside subset"
                            )
                        cbp_code = r.ue()
                        if cbp_code >= 48:
                            raise ValueError("bad coded_block_pattern")
                        cbp = cbp_intra[cbp_code]
                        if cbp >> 4:
                            raise ValueError(
                                "chroma residual outside declared subset"
                            )
                        cbp_luma4 = cbp & 15
                        if cbp_luma4:  # mb_qp_delta only when cbp != 0
                            qp_cur = (qp_cur + r.se() + 52) % 52
                        coeffs = {}
                        for k4 in range(16):
                            bx, by = blk_order[k4]
                            gx, gy = mb_x * 4 + bx, mb_y * 4 + by
                            if cbp_luma4 & (1 << (k4 // 4)):
                                lv, tot = cavlc_block(16, nc_of(gx, gy))
                                coeffs[k4] = lv
                                totals[(gx, gy)] = tot
                            else:
                                totals[(gx, gy)] = 0
                        # Reconstruct in scan order: later blocks predict
                        # from earlier blocks' reconstructed samples.
                        for k4 in range(16):
                            bx, by = blk_order[k4]
                            gx, gy = mb_x * 4 + bx, mb_y * 4 + by
                            x0, y0 = mx + bx * 4, my + by * 4
                            pred = pred_i4_samples(modes[k4], x0, y0, gx, gy)
                            d = np.zeros((4, 4), dtype=np.int64)
                            for ci, lv in enumerate(coeffs.get(k4, ())):
                                if lv:
                                    pos = zig[ci]
                                    d[pos // 4, pos % 4] = dequant_ac(
                                        lv, qp_cur, pos // 4, pos % 4
                                    )
                            blk = pred + inv_transform_4x4(d)
                            cur[y0 : y0 + 4, x0 : x0 + 4] = np.clip(
                                blk, 0, 255
                            ).astype(np.uint8)
                        for plane in (cur_cb, cur_cr):
                            plane[
                                mb_y * 8 : mb_y * 8 + 8, mb_x * 8 : mb_x * 8 + 8
                            ] = np.clip(
                                _h264_chroma_dc8(
                                    plane,
                                    mb_x,
                                    mb_y,
                                    mb_slice.get((mb_x - 1, mb_y)) == slice_idx,
                                    mb_slice.get((mb_x, mb_y - 1)) == slice_idx,
                                ),
                                0,
                                255,
                            ).astype(np.uint8)
                    else:
                        raise ValueError(
                            f"mb_type {mbt} outside declared subset (non-I)"
                        )
                    mb += 1
            # other NAL types (SEI, AUD, filler) are legal — skipped.
        if sps is None or not frames:
            raise ValueError("no decodable picture")
        cl, cr_, ct, cb = sps["crop"]
        w = sps["mbs_w"] * 16 - 2 * (cl + cr_)
        h = sps["mbs_h"] * 16 - 2 * (ct + cb)
        if with_chroma:
            # 4:2:0 crop units are 2 luma samples = 1 chroma sample.
            return w, h, [
                (
                    y_[2 * ct : 2 * ct + h, 2 * cl : 2 * cl + w],
                    cb_[ct : ct + h // 2, cl : cl + w // 2],
                    cr_p[ct : ct + h // 2, cl : cl + w // 2],
                )
                for y_, cb_, cr_p in frames
            ]
        planes = [
            f[0][2 * ct : 2 * ct + h, 2 * cl : 2 * cl + w] for f in frames
        ]
        return w, h, planes

    return parse


def extract_h264_frames(
    media: DataFrame, *, every_n: int = 1, on_error: str = "raise"
) -> DataFrame:
    """REAL H.264 frame extraction for the declared I_PCM Constrained
    Baseline subset (see section note): per-frame dimensions + mean luma,
    the same VIDEO_FRAME_SCHEMA as the Y4M and AVI/MJPEG extractors.
    Blobs decode where they sit inside Arrow batches; only ids and
    per-frame metadata ever shuffle."""
    step = max(int(every_n), 1)
    parse_h264 = _h264_decoder()

    def row(b: bytes):
        w, h, planes = parse_h264(b)
        return [(idx, w, h, round(float(planes[idx].mean()) / 255, 6))
                for idx in range(0, len(planes), step)]

    return _stage(media, row, VIDEO_FRAME_SCHEMA, on_error)


def _media_sniffer():
    """Self-contained magic-byte format sniffer closure:
    ``sniff(bytes) -> format tag`` in {ppm, png, gif, jpeg, wav, adpcm,
    au, y4m, avi, h264, mp1, mp2, mp3}; raises ValueError on anything
    unrecognized. WAV PCM vs IMA-ADPCM is told apart by walking to the
    fmt chunk's format tag; the MPEG audio layer comes from the sync
    header's layer bits."""

    def sniff(b: bytes) -> str:
        import struct

        if b[:8] == b"\x89PNG\r\n\x1a\n":
            return "png"
        if b[:6] in (b"GIF89a", b"GIF87a"):
            return "gif"
        if b[:2] == b"\xff\xd8":
            return "jpeg"
        if b[:4] == b".snd":
            return "au"
        if b[:9] == b"YUV4MPEG2":
            return "y4m"
        if b[:2] == b"P6" and (len(b) < 3 or b[2:3].isspace()):
            return "ppm"
        if b[:4] == b"RIFF":
            if b[8:12] == b"AVI ":
                return "avi"
            if b[8:12] == b"WAVE":
                i = 12
                while i + 10 <= len(b):
                    tag = b[i : i + 4]
                    (sz,) = struct.unpack("<I", b[i + 4 : i + 8])
                    if tag == b"fmt ":
                        (wtag,) = struct.unpack("<H", b[i + 8 : i + 10])
                        return "adpcm" if wtag == 0x11 else "wav"
                    i += 8 + sz + (sz & 1)
                return "wav"
        if b[:4] == b"\x00\x00\x00\x01" or b[:3] == b"\x00\x00\x01":
            return "h264"
        if len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xF0) == 0xF0:
            layer = (b[1] >> 1) & 0x03
            if layer == 3:
                return "mp1"
            if layer == 2:
                return "mp2"
            if layer == 1:
                return "mp3"
        raise ValueError("unrecognized media format")

    return sniff


def sniff_media_format(b: bytes) -> str:
    """Driver-side convenience wrapper over :func:`_media_sniffer`."""
    return _media_sniffer()(b)


def _image_decoder():
    """Image dispatcher closures: ``decode_image(bytes, fmt=None) -> (fmt,
    w, h, frames)`` for ppm, png, gif and jpeg, sniffing ``fmt`` when it is
    not given (a given one skips the sniff, as the per-format operators
    always did). ``frames`` holds one RGB array per composed frame,
    several only for animated GIFs: float64 in [0, 1], except JPEG's
    uint8 samples. ``rgb_means(frame)`` gives the three channel means in
    [0, 1], rounded to 6 decimals (JPEG's divided by 255 after averaging,
    as its operators always computed them)."""
    sniff = _media_sniffer()
    parse_ppm, parse_png = _ppm_parser(), _png_parser()
    parse_gif, parse_jpeg = _gif_frames_parser(), _jpeg_decoder()

    def decode_image(b: bytes, fmt: str | None = None):
        import numpy as np

        fmt = fmt or sniff(b)
        if fmt == "ppm":
            w, h, px, maxval = parse_ppm(b)
            frames = [px.astype(np.float64) / maxval]
        elif fmt == "png":
            w, h, img = parse_png(b)
            frames = [img]
        elif fmt == "gif":
            w, h, frames = parse_gif(b)
        elif fmt == "jpeg":
            w, h, img = parse_jpeg(b)
            frames = [img]
        else:
            raise ValueError(f"not a decodable image format: {fmt!r}")
        return fmt, w, h, frames

    def rgb_means(frame):
        import numpy as np

        peak = 255.0 if frame.dtype == np.uint8 else 1.0
        means = np.asarray(frame, dtype=np.float64).mean(axis=(0, 1)) / peak
        return [round(float(m), 6) for m in means]

    return decode_image, rgb_means


def _audio_decoder():
    """Audio dispatcher closure: ``decode_audio(bytes, fmt=None) -> (fmt,
    rate, mono float64 pcm)`` for wav, adpcm (both through
    ``_wav_parser``), au, mp1, mp2 and mp3, sniffing ``fmt`` when it is
    not given. A given fmt skips the sniff, so an MPEG stream behind a
    garbage prefix still decodes (the sync-scan parsers find it). Raises
    ValueError on anything undecodable, an MPEG blob with no frames
    included."""
    sniff = _media_sniffer()
    parse_wav, parse_au = _wav_parser(), _au_parser()
    parse_mpeg = {"mp1": _mp1_parser(), "mp2": _mp2_parser(), "mp3": _mp3_parser()}

    def decode_audio(b: bytes, fmt: str | None = None):
        import numpy as np

        fmt = fmt or sniff(b)
        if fmt in ("wav", "adpcm"):
            rate, _n, pcm = parse_wav(b)
        elif fmt == "au":
            rate, pcm = parse_au(b)
        elif fmt in parse_mpeg:
            rate, pcm = parse_mpeg[fmt](b)
            if rate is None:
                raise ValueError(f"no decodable {fmt} frames")
        else:
            raise ValueError(f"not a decodable audio format: {fmt!r}")
        return fmt, int(rate), np.asarray(pcm, dtype=np.float64)

    return decode_audio


MEDIA_SUMMARY_SCHEMA = (
    "media_id bigint, format string, idx int, width int, height int, "
    "m1 double, m2 double, m3 double"
)


def decode_media(
    media: DataFrame, *, every_n: int = 1, on_error: str = "raise"
) -> DataFrame:
    """UNIVERSAL media decode — the operator a real mixed corpus needs:
    one binary column holding whatever formats the crawl produced, ONE
    Arrow-batched python stage that sniffs each blob's format from magic
    bytes and dispatches to the matching real decoder (the same parser
    closures the per-format operators use). A 13-format corpus decodes
    in one stage instead of 13 filtered passes — at 100 TB that is one
    scan and one python-stage setup instead of 13 of each, and no
    format column is required up front.

    Output (MEDIA_SUMMARY_SCHEMA): one row per blob — or per sampled
    frame for the video formats (``every_n``) — with the same summary
    semantics as the dedicated operators: audio rows carry
    (sample_rate, n_frames, duration_ms) in m1..m3, image rows channel
    means, video rows mean luma.

    ``on_error="skip"`` drops undecodable/unrecognized blobs whole; the
    dedicated frame extractors additionally keep frames parsed before a
    corruption point when that matters."""
    step = max(int(every_n), 1)
    sniff = _media_sniffer()
    decode_image, rgb_means = _image_decoder()
    decode_audio = _audio_decoder()
    parse_y4m, parse_jpeg = _y4m_parser(), _jpeg_decoder()
    mjpeg_frames = _avi_mjpeg_container()
    parse_h264 = _h264_decoder(with_chroma=True)

    def row(b: bytes):
        import numpy as np

        # A list, not a generator: skip mode drops the whole blob.
        fmt = sniff(b)
        if fmt in ("ppm", "png", "gif", "jpeg"):
            # Animated GIFs yield one row per sampled composed frame
            # (idx); every other image is one idx-0 row.
            _, w, h, frames = decode_image(b, fmt)
            return [(fmt, idx, w, h, *rgb_means(frames[idx]))
                    for idx in range(0, len(frames), step)]
        if fmt in ("wav", "adpcm", "au", "mp1", "mp2", "mp3"):
            _, rate, pcm = decode_audio(b, fmt)
            n = len(pcm)
            return [(fmt, 0, 0, 0, float(rate), float(n),
                     float(int(n * 1000 / max(rate, 1))))]
        if fmt == "y4m":
            return [(fmt, idx, w, h, luma, 0.0, 0.0)
                    for idx, w, h, luma in parse_y4m(b) if idx % step == 0]
        rows = []
        if fmt == "avi":
            frames = mjpeg_frames(b)
            for idx in range(0, len(frames), step):
                w, h, img = parse_jpeg(frames[idx])
                rgb = img.astype(np.float64)
                luma = (
                    0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
                    + 0.114 * rgb[..., 2]
                ).mean()
                rows.append((fmt, idx, w, h, round(float(luma) / 255, 6), 0.0, 0.0))
        else:  # h264 — full YUV: mean luma + mean Cb/Cr per frame
            w, h, planes = parse_h264(b)
            for idx in range(0, len(planes), step):
                y_, cb_, cr_p = planes[idx]
                rows.append((fmt, idx, w, h,
                             round(float(y_.mean()) / 255, 6),
                             round(float(cb_.mean()) / 255, 6),
                             round(float(cr_p.mean()) / 255, 6)))
        return rows

    return _stage(media, row, MEDIA_SUMMARY_SCHEMA, on_error)


def _avi_mjpeg_container():
    """Self-contained RIFF/AVI movi-chunk splitter closure:
    ``mjpeg_frames(bytes) -> [jpeg frame bytes]``."""

    def mjpeg_frames(b: bytes):
        import struct

        if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
            raise ValueError("not a RIFF/AVI blob")
        frames = []
        i = 12
        n = min(len(b), 8 + struct.unpack("<I", b[4:8])[0])
        while i + 8 <= n:
            tag = b[i : i + 4]
            (sz,) = struct.unpack("<I", b[i + 4 : i + 8])
            if tag == b"LIST" and b[i + 8 : i + 12] == b"movi":
                j, end = i + 12, i + 8 + sz
                while j + 8 <= end:
                    ctag = b[j : j + 4]
                    (csz,) = struct.unpack("<I", b[j + 4 : j + 8])
                    if ctag[2:4] in (b"dc", b"db") and csz:
                        frames.append(b[j + 8 : j + 8 + csz])
                    j += 8 + csz + (csz & 1)
            i += 8 + sz + (sz & 1)
        return frames

    return mjpeg_frames


# -- MPEG-1 Audio Layer I ("MP1") --------------------------------------------
# A REAL perceptual-audio-family codec leg: the bitstream layer is exact to
# ISO/IEC 11172-3 — frame header fields (syncword/ID/layer/bitrate index/
# sampling index/padding/mode), Layer I bit allocation (4-bit codes, nb =
# code + 1), the closed-form Table B.1 scalefactors sf[i] = 2^(1 - i/3),
# and the Layer I requantization  s = sf * (2^nb/(2^nb-1)) * (raw/2^(nb-1)
# - 1 + 2^(1-nb)).  The 32-band filterbank is a PERFECT-RECONSTRUCTION
# cosine-modulated (MDCT/Princen-Bradley, closed-form sine window) stand-in
# for the ISO pseudo-QMF: the spec's 512-tap Table-B.3 window is a numeric
# table with no closed form, so it cannot be honestly reproduced here; the
# MDCT bank keeps the exact 12x32-subband-sample frame structure and gives
# bit-exact roundtrips of our own encoder up to quantization (pytest pins
# >0.999 tone correlation and exact spectral peaks). Decoding third-party
# Layer I streams parses bit-exactly but reconstructs through the stand-in
# window (documented approximation). Layer III is implemented for a
# declared conforming subset (see the MP3 section), as is H.264 (the
# I_PCM Constrained-Baseline subset, see its section above).
# Reference parity: vRod stores/streams opaque media blobs; this leg models
# the decode stage of a multimodal training pipeline over such blobs.

_MP1_BITRATES = [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448]
_MP1_SRATES = [44100, 48000, 32000]


def _mp1_mdct_bank():
    """(32, 64) windowed MDCT kernel: analysis rows; synthesis is the
    transpose overlap-add of the same kernel (orthogonal, PR)."""
    import numpy as np

    n = np.arange(64)
    h = np.sin(np.pi * (n + 0.5) / 64)
    k = np.arange(32)[:, None]
    return (
        h[None, :]
        * np.cos(np.pi / 32 * (n[None, :] + 0.5 + 16) * (k + 0.5))
        * np.sqrt(2.0 / 32)
    )


def make_mp1_bytes(
    freq_hz: float,
    *,
    seconds: float = 0.24,
    rate: int = 32000,
    bitrate_kbps: int = 448,
    nb_bits: int = 10,
) -> bytes:
    """Encode a sine tone as an MPEG-1 Layer I mono stream (test/demo
    helper — deterministic, numpy-only). Frame syntax is spec-exact; the
    analysis filterbank is the PR MDCT bank (see module note above)."""
    import numpy as np

    sr_idx = _MP1_SRATES.index(rate)
    br_idx = _MP1_BITRATES.index(bitrate_kbps)
    frame_bytes = (12 * bitrate_kbps * 1000 // rate) * 4
    body_bits = frame_bytes * 8 - 32
    if 32 * 4 + 32 * 6 + 12 * 32 * nb_bits > body_bits:
        raise ValueError("nb_bits does not fit the Layer I frame at this bitrate")
    A = _mp1_mdct_bank()
    sf_tab = 2.0 ** (1.0 - np.arange(63) / 3.0)
    n_frames = max(1, int(rate * seconds) // 384)
    total = n_frames * 384
    t = np.arange(total + 64) / rate
    x = 0.3 * np.sin(2 * np.pi * freq_hz * t)
    nblk = n_frames * 12
    S = np.empty((nblk, 32))
    for m in range(nblk):
        S[m] = A @ x[m * 32 : m * 32 + 64]
    c = (1 << nb_bits) / ((1 << nb_bits) - 1.0)
    d = 2.0 ** (1 - nb_bits)
    half = 1 << (nb_bits - 1)
    alloc_code = nb_bits - 1

    out = bytearray()
    for f in range(n_frames):
        blk = S[f * 12 : (f + 1) * 12]
        smax = np.abs(blk).max(axis=0)
        # Smallest scalefactor >= the peak (side="right" - 1): picking the
        # first sf <= peak instead would make |sample/sf| reach 2^(1/3)
        # and clip the loudest samples of every frame at the quantizer.
        sf_idx = np.clip(np.searchsorted(-sf_tab, -smax, side="right") - 1, 0, 62)
        sf = sf_tab[sf_idx]
        raw = np.clip(
            np.round((blk / sf[None, :] / c - d + 1.0) * half), 0, (1 << nb_bits) - 1
        ).astype(np.int64)
        acc, nacc, buf = 0, 0, bytearray()

        def put(v: int, width: int) -> None:
            nonlocal acc, nacc
            acc = (acc << width) | (int(v) & ((1 << width) - 1))
            nacc += width
            while nacc >= 8:
                nacc -= 8
                buf.append((acc >> nacc) & 0xFF)

        put(0xFFF, 12)      # syncword
        put(1, 1)           # ID: MPEG-1
        put(0b11, 2)        # layer I
        put(1, 1)           # protection bit: no CRC
        put(br_idx, 4)
        put(sr_idx, 2)
        put(0, 1)           # padding
        put(0, 1)           # private
        put(0b11, 2)        # mode: single channel
        put(0, 2)           # mode extension
        put(0, 1)           # copyright
        put(1, 1)           # original
        put(0, 2)           # emphasis
        for sb in range(32):
            put(alloc_code, 4)
        for sb in range(32):
            put(int(sf_idx[sb]), 6)
        for s in range(12):
            for sb in range(32):
                put(int(raw[s, sb]), nb_bits)
        if nacc:
            put(0, 8 - nacc)
        buf.extend(b"\x00" * (frame_bytes - len(buf)))
        out.extend(buf)
    return bytes(out)


def _mp1_parser():
    """Self-contained Layer I parser closure (pickled by value into the
    Python workers — no vrod_spark import on the worker path). Returns
    ``parse_mp1(bytes) -> (rate, pcm float64) | (None, None)``."""

    def parse_mp1(b: bytes):
        import numpy as np

        bitrates = [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448]
        srates = [44100, 48000, 32000]
        sf_tab = 2.0 ** (1.0 - np.arange(63) / 3.0)
        n = np.arange(64)
        h = np.sin(np.pi * (n + 0.5) / 64)
        k = np.arange(32)[:, None]
        A = (
            h[None, :]
            * np.cos(np.pi / 32 * (n[None, :] + 0.5 + 16) * (k + 0.5))
            * np.sqrt(2.0 / 32)
        )
        data = np.frombuffer(bytes(b), dtype=np.uint8)
        pos, rate, frames = 0, None, []
        while pos + 4 <= len(data):
            if not (data[pos] == 0xFF and (data[pos + 1] & 0xF0) == 0xF0):
                pos += 1
                continue
            hdr = (
                (int(data[pos]) << 24)
                | (int(data[pos + 1]) << 16)
                | (int(data[pos + 2]) << 8)
                | int(data[pos + 3])
            )
            mpeg1 = (hdr >> 19) & 1
            layer = (hdr >> 17) & 3
            protection = (hdr >> 16) & 1
            br_idx = (hdr >> 12) & 0xF
            sr_idx = (hdr >> 10) & 3
            padding = (hdr >> 9) & 1
            mode = (hdr >> 6) & 3
            if mpeg1 != 1 or layer != 0b11 or br_idx in (0, 15) or sr_idx == 3:
                pos += 1
                continue
            rate = srates[sr_idx]
            frame_bytes = (12 * bitrates[br_idx] * 1000 // rate + padding) * 4
            frame = data[pos : pos + frame_bytes]
            if len(frame) < frame_bytes:
                break
            bits = np.unpackbits(frame)
            bp = 32 + (16 if protection == 0 else 0)
            nch = 1 if mode == 0b11 else 2

            def get(width: int) -> int:
                nonlocal bp
                v = 0
                for bit in bits[bp : bp + width]:
                    v = (v << 1) | int(bit)
                bp += width
                return v

            # Allocation, scalefactors and samples are SUBBAND-major in
            # the bitstream (ISO 11172-3 2.4.1.5: ``for sb: for ch:``) —
            # channel-major reading desynchronizes 2-channel frames
            # because scalefactor presence depends on the allocation.
            nb = [[0] * 32 for _ in range(nch)]
            for sb in range(32):
                for ch in range(nch):
                    a = get(4)
                    nb[ch][sb] = (a + 1) if 0 < a < 15 else 0
            # Scalefactor index 63 is forbidden by the spec (Table B.1 has
            # 63 entries, 0..62) but a corrupt/hostile stream can encode
            # it in the 6-bit field — clamp rather than crash.
            sfi = [[0] * 32 for _ in range(nch)]
            for sb in range(32):
                for ch in range(nch):
                    if nb[ch][sb]:
                        sfi[ch][sb] = min(get(6), 62)
            S = np.zeros((12, 32))
            for s in range(12):
                for sb in range(32):
                    for ch in range(nch):
                        w = nb[ch][sb]
                        if w == 0:
                            continue
                        raw = get(w)
                        c = (1 << w) / ((1 << w) - 1.0)
                        d = 2.0 ** (1 - w)
                        val = c * (raw / (1 << (w - 1)) - 1.0 + d) * sf_tab[sfi[ch][sb]]
                        S[s, sb] += val / nch
            frames.append(S)
            pos += frame_bytes
        if not frames:
            return None, None
        S = np.concatenate(frames, axis=0)
        contrib = S @ A
        y = np.zeros(len(S) * 32 + 64)
        for m in range(len(S)):
            y[m * 32 : m * 32 + 64] += contrib[m]
        return rate, y[: len(S) * 32]

    return parse_mp1


def decode_mp1_features(media: DataFrame, *, n_bands: int = 8) -> DataFrame:
    """REAL MPEG-1 Layer I audio decoding (bitstream exact; PR-MDCT
    filterbank stand-in — see module note): AUDIO_SCHEMA features exactly
    like the WAV/AU/ADPCM legs, so the q51 gate hash-checks the
    header-derived metadata (sample rate, decoded frame count, duration)
    and pytest pins spectral fidelity."""
    return _mpeg_stage(media, "mp1", n_bands)


def _mpeg_stage(media: DataFrame, fmt: str, n_bands: int) -> DataFrame:
    """AUDIO_SCHEMA stage of the MP1/MP2/MP3 legs. Their parsers are
    self-synchronizing sync scans, so the codec family's native skip
    semantics apply: a blob with no decodable frame is dropped, never
    raised."""
    decode_audio = _audio_decoder()

    def decode(b: bytes):
        _, rate, pcm = decode_audio(b, fmt)
        return rate, len(pcm), pcm

    return _band_energy_stage(media, decode, n_bands, "skip")


# -- MPEG-1 Audio Layer II ("MP2") -------------------------------------------
# The second REAL MPEG-1 audio layer (ISO/IEC 11172-3), completing the
# "Layer I/II feasible pure-numpy" plan. Relative to Layer I the frame
# carries 36 subband samples (12 granules x 3) instead of 12, and the
# bit allocation is TABLE-DRIVEN: Annex B Tables B.2a-d give, per
# subband, an allocation-field width (4/3/2 bits) and the list of
# quantizer step counts it indexes (3,5,7,9,15,...,65535); which table
# applies is a function of (sampling rate, bitrate per channel) per
# ISO 11172-3 2.4.2.3. Grouped quantizers (3/5/9 levels) pack 3
# consecutive samples into one 5/7/10-bit codeword (2.4.3.3.4:
# c = s0 + s1*L + s2*L^2). Scalefactors are the same closed-form Table
# B.1 as Layer I, but each subband carries up to three of them (one per
# 12-sample third) selected by a 2-bit scfsi field. Requantization per
# Table B.4 reduces to the closed form s'' = (2*raw + 1)/L - 1 (the
# spec's C*(s''' + D) with C = 2^g/L and D = 1 - (L-1)/2^g cancels to
# exactly this), then s = sf * s''. The synthesis filterbank is the same
# documented PR-MDCT stand-in as Layer I (the 512-tap Table-B.3 window
# has no closed form). Intensity joint-stereo frames (mode 01) are
# skipped as unsupported; mono, stereo and dual-channel decode. Layer
# III is the MP3 section below.
# Reference parity: vRod stores/streams opaque media blobs
# (src/utils/embeddings.rs models the payload side); this leg models the
# decode stage of a multimodal training pipeline over such blobs.

#: Layer II bitrate table (kbps), index 1..14; 0 = free format (skipped).
_MP2_BITRATES = [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384]

#: Quantizer step counts, Annex B (grouped: 3, 5, 9).
_MP2_QLEVELS = [3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
                8191, 16383, 32767, 65535]


def _mp2_alloc_rows():
    """The distinct per-subband allocation rows of Tables B.2a-d:
    (nbal, tuple of step counts per allocation code; code 0 = silent).
    Rows a0-a3 appear in the high-rate tables (B.2a sblimit 27 / B.2b
    sblimit 30), rows c0-c1 in the low-rate tables (B.2c sblimit 8 /
    B.2d sblimit 12)."""
    q = _MP2_QLEVELS
    row_a0 = (4, (0, q[0], q[2], q[4], q[5], q[6], q[7], q[8], q[9], q[10],
                  q[11], q[12], q[13], q[14], q[15], q[16]))   # SB 0-2
    row_a1 = (4, (0, q[0], q[1], q[2], q[3], q[4], q[5], q[6], q[7], q[8],
                  q[9], q[10], q[11], q[12], q[13], q[16]))    # SB 3-10
    row_a2 = (3, (0, q[0], q[1], q[2], q[3], q[4], q[5], q[16]))  # SB 11-22
    row_a3 = (2, (0, q[0], q[1], q[16]))                          # SB 23+
    row_c0 = (4, (0, q[0], q[1], q[3], q[4], q[5], q[6], q[7], q[8], q[9],
                  q[10], q[11], q[12], q[13], q[14], q[16]))   # SB 0-1 low-rate
    row_c1 = (3, (0, q[0], q[1], q[3], q[4], q[5], q[6], q[7]))  # SB 2+ low-rate
    return row_a0, row_a1, row_a2, row_a3, row_c0, row_c1


def _mp2_table(rate: int, bitrate_kbps: int, nch: int):
    """Resolve the Annex B allocation table per 2.4.2.3: returns
    (sblimit, [(nbal, levels) per subband]). Low bitrates per channel
    use B.2c (44.1/48 kHz) or B.2d (32 kHz); 56-80 kbps/ch always B.2a;
    96+ kbps/ch B.2b at 44.1/32 kHz and B.2a at 48 kHz."""
    a0, a1, a2, a3, c0, c1 = _mp2_alloc_rows()
    per_ch = bitrate_kbps // nch
    if per_ch <= 48:
        sblimit = 12 if rate == 32000 else 8
        rows = [c0] * 2 + [c1] * (sblimit - 2)
    else:
        sblimit = 27 if (per_ch <= 80 or rate == 48000) else 30
        rows = [a0] * 3 + [a1] * 8 + [a2] * 12 + [a3] * (sblimit - 23)
    return sblimit, rows


def make_mp2_bytes(
    freq_hz: float,
    *,
    seconds: float = 0.24,
    rate: int = 48000,
    bitrate_kbps: int = 192,
    coded_subbands: int = 11,
    channels: int = 1,
) -> bytes:
    """Encode a sine tone as an MPEG-1 Layer II stream (test/demo helper
    — deterministic, numpy-only; mono by default, ``channels=2`` writes
    a stereo frame with the tone duplicated in both channels, which pins
    the spec's subband-major field interleaving). Frame syntax is
    spec-exact (Table B.2a allocation at these defaults, scfsi=0,
    255-level 8-bit quantizers in the coded subbands); the analysis
    filterbank is the PR MDCT bank (see the MP1 section note)."""
    import numpy as np

    if channels not in (1, 2):
        raise ValueError("channels must be 1 or 2")
    sr_idx = _MP1_SRATES.index(rate)
    br_idx = _MP2_BITRATES.index(bitrate_kbps)
    sblimit, rows = _mp2_table(rate, bitrate_kbps, channels)
    coded = min(coded_subbands, sblimit)
    # 255-level ungrouped quantizer (8-bit codes) in every coded subband.
    alloc_codes = [rows[sb][1].index(255) for sb in range(coded)]
    frame_bytes = 144 * bitrate_kbps * 1000 // rate
    body_bits = frame_bytes * 8 - 32
    need = channels * (sum(rows[sb][0] for sb in range(sblimit))
                       + coded * (2 + 18) + coded * 36 * 8)
    if need > body_bits:
        raise ValueError("coded_subbands does not fit the frame at this bitrate")
    A = _mp1_mdct_bank()
    sf_tab = 2.0 ** (1.0 - np.arange(63) / 3.0)
    n_frames = max(1, int(rate * seconds) // 1152)
    nblk = n_frames * 36
    t = np.arange(nblk * 32 + 64) / rate
    x = 0.3 * np.sin(2 * np.pi * freq_hz * t)
    S = np.empty((nblk, 32))
    for m in range(nblk):
        S[m] = A @ x[m * 32 : m * 32 + 64]

    out = bytearray()
    for f in range(n_frames):
        blk = S[f * 36 : (f + 1) * 36]
        acc, nacc, buf = 0, 0, bytearray()

        def put(v: int, width: int) -> None:
            nonlocal acc, nacc
            acc = (acc << width) | (int(v) & ((1 << width) - 1))
            nacc += width
            while nacc >= 8:
                nacc -= 8
                buf.append((acc >> nacc) & 0xFF)

        put(0xFFF, 12)      # syncword
        put(1, 1)           # ID: MPEG-1
        put(0b10, 2)        # layer II
        put(1, 1)           # protection bit: no CRC
        put(br_idx, 4)
        put(sr_idx, 2)
        put(0, 1)           # padding
        put(0, 1)           # private
        put(0b11 if channels == 1 else 0b00, 2)  # single channel / stereo
        put(0, 2)           # mode extension
        put(0, 1)           # copyright
        put(1, 1)           # original
        put(0, 2)           # emphasis
        # All multi-channel fields are SUBBAND-major (2.4.1.6).
        for sb in range(sblimit):
            for _ch in range(channels):
                put(alloc_codes[sb] if sb < coded else 0, rows[sb][0])
        for _sb in range(coded):
            for _ch in range(channels):
                put(0, 2)   # scfsi = 0: three scalefactors per subband
        # Three scalefactors per coded subband, one per 12-sample third
        # (both channels carry the same signal, so the same indices).
        sf_idx = np.zeros((3, coded), dtype=np.int64)
        for p in range(3):
            smax = np.abs(blk[p * 12 : (p + 1) * 12, :coded]).max(axis=0)
            # Smallest scalefactor >= the peak — see the MP1 encoder note.
            sf_idx[p] = np.clip(
                np.searchsorted(-sf_tab, -smax, side="right") - 1, 0, 62
            )
        for sb in range(coded):
            for _ch in range(channels):
                for p in range(3):
                    put(int(sf_idx[p, sb]), 6)
        for gr in range(12):
            for sb in range(coded):
                for _ch in range(channels):
                    sf = sf_tab[sf_idx[gr // 4, sb]]
                    for s in range(3):
                        val = blk[gr * 3 + s, sb] / sf
                        # Invert s'' = (2*raw + 1)/L - 1.
                        raw = int(np.clip(round(((val + 1.0) * 255 - 1) / 2), 0, 254))
                        put(raw, 8)
        if nacc:
            put(0, 8 - nacc)
        buf.extend(b"\x00" * (frame_bytes - len(buf)))
        out.extend(buf)
    return bytes(out)


def _mp2_parser():
    """Self-contained Layer II parser closure (pickled by value into the
    Python workers — no vrod_spark import on the worker path). Returns
    ``parse_mp2(bytes) -> (rate, pcm float64) | (None, None)``."""

    def parse_mp2(b: bytes):
        import numpy as np

        bitrates = [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
                    320, 384]
        srates = [44100, 48000, 32000]
        q = [3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191,
             16383, 32767, 65535]
        row_a0 = (4, (0, q[0], q[2], q[4], q[5], q[6], q[7], q[8], q[9],
                      q[10], q[11], q[12], q[13], q[14], q[15], q[16]))
        row_a1 = (4, (0, q[0], q[1], q[2], q[3], q[4], q[5], q[6], q[7],
                      q[8], q[9], q[10], q[11], q[12], q[13], q[16]))
        row_a2 = (3, (0, q[0], q[1], q[2], q[3], q[4], q[5], q[16]))
        row_a3 = (2, (0, q[0], q[1], q[16]))
        row_c0 = (4, (0, q[0], q[1], q[3], q[4], q[5], q[6], q[7], q[8],
                      q[9], q[10], q[11], q[12], q[13], q[14], q[16]))
        row_c1 = (3, (0, q[0], q[1], q[3], q[4], q[5], q[6], q[7]))

        def table_for(rate, kbps, nch):
            per_ch = kbps // nch
            if per_ch <= 48:
                sblimit = 12 if rate == 32000 else 8
                return sblimit, [row_c0] * 2 + [row_c1] * (sblimit - 2)
            sblimit = 27 if (per_ch <= 80 or rate == 48000) else 30
            return sblimit, ([row_a0] * 3 + [row_a1] * 8 + [row_a2] * 12
                             + [row_a3] * (sblimit - 23))

        sf_tab = 2.0 ** (1.0 - np.arange(63) / 3.0)
        n = np.arange(64)
        h = np.sin(np.pi * (n + 0.5) / 64)
        k = np.arange(32)[:, None]
        A = (
            h[None, :]
            * np.cos(np.pi / 32 * (n[None, :] + 0.5 + 16) * (k + 0.5))
            * np.sqrt(2.0 / 32)
        )
        data = np.frombuffer(bytes(b), dtype=np.uint8)
        pos, rate, frames = 0, None, []
        while pos + 4 <= len(data):
            if not (data[pos] == 0xFF and (data[pos + 1] & 0xF0) == 0xF0):
                pos += 1
                continue
            hdr = (
                (int(data[pos]) << 24)
                | (int(data[pos + 1]) << 16)
                | (int(data[pos + 2]) << 8)
                | int(data[pos + 3])
            )
            mpeg1 = (hdr >> 19) & 1
            layer = (hdr >> 17) & 3
            protection = (hdr >> 16) & 1
            br_idx = (hdr >> 12) & 0xF
            sr_idx = (hdr >> 10) & 3
            padding = (hdr >> 9) & 1
            mode = (hdr >> 6) & 3
            # Layer II only; intensity joint stereo (mode 01) unsupported.
            if (mpeg1 != 1 or layer != 0b10 or br_idx in (0, 15)
                    or sr_idx == 3 or mode == 0b01):
                pos += 1
                continue
            rate = srates[sr_idx]
            kbps = bitrates[br_idx]
            frame_bytes = 144 * kbps * 1000 // rate + padding
            frame = data[pos : pos + frame_bytes]
            if len(frame) < frame_bytes:
                break
            nch = 1 if mode == 0b11 else 2
            sblimit, rows = table_for(rate, kbps, nch)
            bits = np.unpackbits(frame)
            bp = 32 + (16 if protection == 0 else 0)

            def get(width: int) -> int:
                nonlocal bp
                v = 0
                for bit in bits[bp : bp + width]:
                    v = (v << 1) | int(bit)
                bp += width
                return v

            levels = [[0] * sblimit for _ in range(nch)]
            for sb in range(sblimit):
                nbal, row = rows[sb]
                for ch in range(nch):
                    levels[ch][sb] = row[get(nbal)]
            # scfsi and scalefactors are SUBBAND-major in the bitstream
            # (ISO 11172-3 2.4.1.6: ``for sb: for ch:``) — channel-major
            # reading would desynchronize the bit cursor for every
            # 2-channel frame because the scalefactor count per (ch,sb)
            # depends on its scfsi value.
            scfsi = [[0] * sblimit for _ in range(nch)]
            for sb in range(sblimit):
                for ch in range(nch):
                    if levels[ch][sb]:
                        scfsi[ch][sb] = get(2)
            # Per-third scalefactors resolved through scfsi (2.4.2.7:
            # 0 -> abc, 1 -> aab, 2 -> aaa, 3 -> abb). Index 63 is
            # forbidden by Table B.1 — clamp, don't crash, on hostile
            # streams (same policy as the Layer I parser).
            sf = [[(1.0, 1.0, 1.0)] * sblimit for _ in range(nch)]
            for sb in range(sblimit):
                for ch in range(nch):
                    if not levels[ch][sb]:
                        continue
                    mode_sf = scfsi[ch][sb]
                    if mode_sf == 0:
                        a, b2, c = get(6), get(6), get(6)
                    elif mode_sf == 1:
                        a = get(6); b2 = a; c = get(6)
                    elif mode_sf == 2:
                        a = get(6); b2 = a; c = a
                    else:
                        a = get(6); b2 = get(6); c = b2
                    sf[ch][sb] = tuple(
                        sf_tab[min(i, 62)] for i in (a, b2, c)
                    )
            S = np.zeros((36, 32))
            for gr in range(12):
                for sb in range(sblimit):
                    for ch in range(nch):
                        L = levels[ch][sb]
                        if L == 0:
                            continue
                        scale = sf[ch][sb][gr // 4]
                        if L in (3, 5, 9):       # grouped codeword
                            width = {3: 5, 5: 7, 9: 10}[L]
                            c = get(width)
                            triple = (c % L, (c // L) % L, c // (L * L))
                        else:
                            nb = L.bit_length()
                            triple = (get(nb), get(nb), get(nb))
                        for s, raw in enumerate(triple):
                            val = ((2 * min(raw, L - 1) + 1) / L - 1.0) * scale
                            S[gr * 3 + s, sb] += val / nch
            frames.append(S)
            pos += frame_bytes
        if not frames:
            return None, None
        S = np.concatenate(frames, axis=0)
        contrib = S @ A
        y = np.zeros(len(S) * 32 + 64)
        for m in range(len(S)):
            y[m * 32 : m * 32 + 64] += contrib[m]
        return rate, y[: len(S) * 32]

    return parse_mp2


# -- MPEG-1 Audio Layer III ("MP3") ------------------------------------------
# The Huffman layer of the family. What is implemented is spec-exact to
# ISO/IEC 11172-3 for the subset a conforming encoder may legally emit and
# this module's encoder does emit: frame header, full side-info syntax
# (main_data_begin bit reservoir, scfsi, both granules, all per-granule
# fields), slen-table scalefactor parsing, Huffman big-value table 0 (the
# spec's all-zero table) and count1 table 1 (the fixed 4-bit complement
# codes), requantization 2^((global_gain-210)/4) * |is|^(4/3), the eight
# closed-form alias-reduction butterflies (Table B.9 coefficients), the
# 36-point IMDCT with sine window + overlap-add, frequency inversion, and
# the same PR-MDCT synthesis stand-in as Layers I/II. NOT implemented —
# loudly rejected, never approximated: the 32 variable-length big-value
# Huffman code tables and the short-block/mixed-block window path (pages
# of spec NUMERIC tables with no closed form — the same honesty rule as
# the Layer I Table-B.3 window), and INTENSITY joint stereo (MS joint
# stereo IS decoded: mode 01/mode_ext 2, the 2.4.3.4.9.2 matrix — the
# mono downmix is exactly M/sqrt2, pinned in pytest). Streams
# from arbitrary encoders therefore parse headers/side info exactly but
# decode only if they stay inside the subset; the pipeline's
# ``on_error="skip"`` tolerance treats the rest as undecodable blobs.

_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]


def make_mp3_bytes(
    freq_hz: float | None = None,
    *,
    seconds: float = 0.24,
    rate: int = 32000,
    bitrate_kbps: int = 96,
    global_gain: int = 210,
    lines: list[tuple[int, int]] | None = None,
    reservoir: bool = False,
    channels: int = 1,
    ms: bool = False,
) -> bytes:
    """Encode a spectrum as an MPEG-1 Layer III mono stream (test/demo
    helper — deterministic, numpy-only). The content is a set of planted
    spectral impulses, each carried in every granule and encoded entirely
    through the count1 region with table 1 (big_values = 0 — a legal
    conforming stream; table choice is the encoder's):

    - default: the single line nearest ``freq_hz``, snapped to an
      alias-safe bin (k ∈ {8, 9} of its subband, untouched by the
      boundary butterflies), sign +1 — after IMDCT + synthesis the
      dominant output frequency is that line's bin ≈ l·rate/1152;
    - ``lines=[(line_idx, ±1), ...]`` plants an arbitrary ±1 spectrum
      (0 ≤ line_idx < 576), exercising multi-nonzero quads and the
      per-nonzero sign-bit order of the count1 syntax.

    ``reservoir=True`` exercises the BIT RESERVOIR honestly: each
    frame's granule data is stored in the TAIL of the previous frame's
    main-data area and referenced via ``main_data_begin`` (frame 0 keeps
    its own at offset 0 and additionally hosts frame 1's). A conforming
    decoder must produce the identical waveform for both layouts.

    ``channels=2`` writes a stereo (mode 00) frame with the spectrum
    duplicated in both channels — 32-byte side info with the per-granule
    blocks in ``for gr: for ch:`` order and main data in
    gr0ch0/gr0ch1/gr1ch0/gr1ch1 order, pinning the spec's multichannel
    field interleaving (2.4.1.7)."""
    if channels not in (1, 2):
        raise ValueError("channels must be 1 or 2")
    if ms and channels != 2:
        raise ValueError("ms=True needs channels=2")
    sr_idx = _MP1_SRATES.index(rate)
    br_idx = _MP3_BITRATES.index(bitrate_kbps)
    frame_bytes = 144 * bitrate_kbps * 1000 // rate
    if lines is None:
        if freq_hz is None:
            raise ValueError("pass freq_hz or lines")
        # Nearest spectral line, snapped into the alias-safe middle of its
        # subband (bins 8/9 of 18): no butterfly pre-compensation needed.
        l_raw = int(round(freq_hz * 1152.0 / rate - 0.5))
        sb, k = max(0, min(31, l_raw // 18)), l_raw % 18
        k = 8 if k < 8 else (9 if k > 9 else k)
        lines = [(sb * 18 + k, 1)]
    line_map: dict[int, int] = {}
    for li, sign in lines:
        if not 0 <= int(li) < 576:
            raise ValueError(f"spectral line {li} out of range 0..575")
        line_map[int(li)] = 1 if sign >= 0 else -1
    if not line_map:
        raise ValueError("at least one spectral line is required")
    n_quads = max(line_map) // 4 + 1

    # Granule payload as (value, width) ops: per quad a 4-bit
    # bitwise-complement codeword, then one sign bit per nonzero
    # (v,w,x,y order; 1 = negative).
    gran_ops: list[tuple[int, int]] = []
    for q in range(n_quads):
        pattern, signs = 0, []
        for j in range(4):
            s = line_map.get(q * 4 + j)
            if s:
                pattern |= 1 << (3 - j)
                signs.append(0 if s > 0 else 1)
        gran_ops.append(((~pattern) & 0xF, 4))
        gran_ops.extend((sgn, 1) for sgn in signs)
    part23 = sum(w for _v, w in gran_ops)

    def pack(ops: list[tuple[int, int]]) -> bytes:
        acc = nacc = 0
        buf = bytearray()
        for v, width in ops:
            acc = (acc << width) | (int(v) & ((1 << width) - 1))
            nacc += width
            while nacc >= 8:
                nacc -= 8
                buf.append((acc >> nacc) & 0xFF)
        if nacc:
            buf.append((acc << (8 - nacc)) & 0xFF)
        return bytes(buf)

    # All channels carry the same spectrum: the payload is the granule
    # bits repeated per (gr, ch) in gr-major order (2.4.1.7). An MS
    # frame carries the spectrum in the MID channel only — the side
    # channel is a zero granule (part2_3_length 0).
    payload = pack(gran_ops * 2 if ms else gran_ops * (2 * channels))
    n_frames = max(1, int(rate * seconds) // 1152)
    si_bytes = 17 if channels == 1 else 32
    area_len = frame_bytes - 4 - si_bytes
    if len(payload) > area_len or (reservoir and 2 * len(payload) > area_len):
        raise ValueError("planted spectrum does not fit the frame at this bitrate")

    out = bytearray()
    for f in range(n_frames):
        ops: list[tuple[int, int]] = [
            (0xFFF, 12),   # syncword
            (1, 1),        # ID: MPEG-1
            (0b01, 2),     # layer III
            (1, 1),        # protection bit: no CRC
            (br_idx, 4),
            (sr_idx, 2),
            (0, 1),        # padding
            (0, 1),        # private
            # single channel / stereo / joint stereo (MS)
            (0b11 if channels == 1 else (0b01 if ms else 0b00), 2),
            (0b10 if ms else 0, 2),  # mode extension: MS on, intensity off
            (0, 1),        # copyright
            (1, 1),        # original
            (0, 2),        # emphasis
            # Side info (mono: 17 bytes; stereo: 32).
            (len(payload) if (reservoir and f > 0) else 0, 9),  # main_data_begin
            (0, 5 if channels == 1 else 3),        # private bits
            (0, 4 * channels),                     # scfsi: never shared
        ]
        for _gr in range(2):
            for _ch in range(channels):
                ops += [
                    # MS: the side channel is an empty granule.
                    (0 if (ms and _ch == 1) else part23, 12),  # part2_3_length
                    (0, 9),                # big_values
                    (int(global_gain), 8),
                    (0, 4),                # scalefac_compress: slen1 = slen2 = 0
                    (0, 1),                # window_switching: long blocks
                    (0, 15),               # table_select x3 (table 0: zeros)
                    (0, 4),                # region0_count
                    (0, 3),                # region1_count
                    (0, 1),                # preflag
                    (0, 1),                # scalefac_scale
                    (1, 1),                # count1table_select: table 1
                ]
        head = pack(ops)
        area = bytearray(area_len)
        if reservoir:
            # This frame's data lives in the PREVIOUS frame's tail; this
            # frame hosts the NEXT frame's data in its own tail. Frame 0
            # additionally keeps its own payload at offset 0.
            if f == 0:
                area[: len(payload)] = payload
            if f < n_frames - 1:
                area[area_len - len(payload) :] = payload
        else:
            area[: len(payload)] = payload
        out.extend(head + bytes(area))
    return bytes(out)


def _mp3_parser():
    """Self-contained Layer III parser closure (pickled by value into the
    Python workers). Returns ``parse_mp3(bytes) -> (rate, pcm float64) |
    (None, None)``. See the section note for the exact supported subset;
    frames outside it are skipped, never approximated."""

    def parse_mp3(b: bytes):
        import numpy as np

        bitrates = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                    256, 320]
        srates = [44100, 48000, 32000]
        # slen pairs per scalefac_compress (ISO 11172-3 2.4.2.7).
        slen = [(0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2),
                (1, 3), (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3),
                (4, 2), (4, 3)]
        # Table B.9 alias-reduction coefficients (closed form from ci).
        ci = np.array([-0.6, -0.535, -0.33, -0.185, -0.095, -0.041,
                       -0.0142, -0.0037])
        cs = 1.0 / np.sqrt(1.0 + ci * ci)
        ca = ci * cs
        # 36-point IMDCT basis + long sine window.
        i36 = np.arange(36)
        k18 = np.arange(18)
        imdct = np.cos(np.pi / 72.0 * (2 * i36[:, None] + 1 + 18) * (2 * k18[None, :] + 1))
        win = np.sin(np.pi / 36.0 * (i36 + 0.5))
        n = np.arange(64)
        h = np.sin(np.pi * (n + 0.5) / 64)
        kk = np.arange(32)[:, None]
        A = (
            h[None, :]
            * np.cos(np.pi / 32 * (n[None, :] + 0.5 + 16) * (kk + 0.5))
            * np.sqrt(2.0 / 32)
        )

        data = np.frombuffer(bytes(b), dtype=np.uint8)
        pos, rate = 0, None
        reservoir = bytearray()
        #: (main_data_begin, nch, per-(gr,ch) side info, reservoir offset)
        pending = []
        while pos + 4 <= len(data):
            if not (data[pos] == 0xFF and (data[pos + 1] & 0xF0) == 0xF0):
                pos += 1
                continue
            hdr = (
                (int(data[pos]) << 24)
                | (int(data[pos + 1]) << 16)
                | (int(data[pos + 2]) << 8)
                | int(data[pos + 3])
            )
            mpeg1 = (hdr >> 19) & 1
            layer = (hdr >> 17) & 3
            protection = (hdr >> 16) & 1
            br_idx = (hdr >> 12) & 0xF
            sr_idx = (hdr >> 10) & 3
            padding = (hdr >> 9) & 1
            mode = (hdr >> 6) & 3
            mode_ext = (hdr >> 4) & 3
            if mpeg1 != 1 or layer != 0b01 or br_idx in (0, 15) or sr_idx == 3:
                pos += 1
                continue
            if mode == 0b01 and mode_ext not in (0, 2):
                pos += 1
                continue  # intensity stereo: outside the subset (MS ok)
            rate = srates[sr_idx]
            frame_bytes = 144 * bitrates[br_idx] * 1000 // rate + padding
            frame = data[pos : pos + frame_bytes]
            if len(frame) < frame_bytes:
                break
            nch = 1 if mode == 0b11 else 2
            si_bytes = 17 if nch == 1 else 32
            off = 4 + (2 if protection == 0 else 0)
            if len(frame) < off + si_bytes:
                break
            sbits = np.unpackbits(frame[off : off + si_bytes])
            sp = 0

            def sget(width: int) -> int:
                nonlocal sp
                v = 0
                for bit in sbits[sp : sp + width]:
                    v = (v << 1) | int(bit)
                sp += width
                return v

            main_data_begin = sget(9)
            sget(5 if nch == 1 else 3)  # private bits
            scfsi = [[sget(1) for _ in range(4)] for _ch in range(nch)]
            gr_info = []
            for _gr in range(2):
                for _ch in range(nch):
                    gi = {
                        "part23": sget(12),
                        "big_values": sget(9),
                        "global_gain": sget(8),
                        "scalefac_compress": sget(4),
                        "window_switching": sget(1),
                    }
                    if gi["window_switching"]:
                        # block_type(2) + mixed(1) + 2x table_select(5)
                        # + 3x subblock_gain(3): parse to stay in sync,
                        # but short/mixed blocks are outside the subset.
                        gi["block_type"] = sget(2)
                        gi["mixed"] = sget(1)
                        gi["tables"] = [sget(5), sget(5)]
                        gi["subblock_gain"] = [sget(3) for _ in range(3)]
                        gi["region0"], gi["region1"] = 7, 13
                    else:
                        gi["tables"] = [sget(5), sget(5), sget(5)]
                        gi["region0"] = sget(4)
                        gi["region1"] = sget(3)
                    gi["preflag"] = sget(1)
                    gi["scalefac_scale"] = sget(1)
                    gi["count1table"] = sget(1)
                    gr_info.append(gi)
            md_start = len(reservoir) - main_data_begin
            reservoir.extend(frame[off + si_bytes : frame_bytes].tobytes())
            if md_start >= 0:
                pending.append(
                    (md_start, nch, scfsi, gr_info,
                     mode == 0b01 and mode_ext == 2)
                )
            pos += frame_bytes

        if not pending or rate is None:
            return None, None
        bits = np.unpackbits(np.frombuffer(bytes(reservoir), dtype=np.uint8))
        blocks = []          # (n_granules*18, 32) subband sample rows
        overlap = {}         # (ch, sb) -> 18-sample IMDCT overlap state
        for md_start, nch, scfsi, gr_info, ms in pending:
            bp = md_start * 8
            granules = []
            ok = True
            for gr in range(2):
                chans = []
                for ch in range(nch):
                    gi = gr_info[gr * nch + ch]
                    start = bp
                    end = start + gi["part23"]
                    if end > len(bits):
                        ok = False
                        break
                    # Scalefactor bits (slen-table exact). Outside-subset
                    # features reject the FRAME, not the stream.
                    if (
                        gi["window_switching"]
                        or any(t != 0 for t in gi["tables"])
                        or gi["big_values"] != 0
                        or gi["count1table"] != 1
                        or any(scfsi[ch])
                    ):
                        ok = False
                        break
                    s1, s2 = slen[gi["scalefac_compress"]]
                    cursor = start + 11 * s1 + 10 * s2  # 21 long-block sfbs
                    sf_nonzero = np.any(bits[start:cursor]) if cursor > start else False
                    if sf_nonzero:
                        ok = False  # applying sfbs needs Table B.8 — reject
                        break
                    x = np.zeros(576)
                    line = 0
                    while cursor + 4 <= end and line <= 572:
                        code = 0
                        for bit in bits[cursor : cursor + 4]:
                            code = (code << 1) | int(bit)
                        cursor += 4
                        quad = (~code) & 0xF
                        for j in range(4):
                            v = (quad >> (3 - j)) & 1
                            if v:
                                if cursor >= end:
                                    break
                                sign = int(bits[cursor])
                                cursor += 1
                                x[line + j] = -1.0 if sign else 1.0
                        line += 4
                    gain = 2.0 ** ((gi["global_gain"] - 210) / 4.0)
                    x *= gain  # |is|^(4/3) with is in {-1,0,1} is |is|
                    chans.append(x)
                    bp = end
                if not ok:
                    break
                granules.append(chans)
            if not ok:
                continue
            # Mono-downmix channel weights. MS joint stereo (ISO 11172-3
            # 2.4.3.4.9.2): L = (M+S)/sqrt2, R = (M-S)/sqrt2, so the
            # downmix (L+R)/2 is EXACTLY M/sqrt2 — the side channel
            # cancels (it is still fully parsed/synthesized so its
            # overlap state stays correct across mode changes).
            wt = [1.0 / np.sqrt(2.0), 0.0] if ms else [1.0 / nch] * nch
            for chans in granules:
                S = np.zeros((18, 32))
                for ch, x in enumerate(chans):
                    # Alias reduction: eight butterflies per boundary.
                    for sb in range(1, 32):
                        for i in range(8):
                            a = x[18 * sb - 1 - i]
                            bb = x[18 * sb + i]
                            x[18 * sb - 1 - i] = a * cs[i] - bb * ca[i]
                            x[18 * sb + i] = bb * cs[i] + a * ca[i]
                    for sb in range(32):
                        coeffs = x[sb * 18 : (sb + 1) * 18]
                        if not np.any(coeffs) and (ch, sb) not in overlap:
                            continue
                        y = (imdct @ coeffs) * win
                        prev = overlap.get((ch, sb), np.zeros(18))
                        S[:, sb] += (y[:18] + prev) * wt[ch]
                        overlap[(ch, sb)] = y[18:]
                # Frequency inversion: odd subbands, odd samples.
                S[1::2, 1::2] *= -1.0
                blocks.append(S)
        if not blocks:
            return None, None
        S = np.concatenate(blocks, axis=0)
        contrib = S @ A
        y = np.zeros(len(S) * 32 + 64)
        for m in range(len(S)):
            y[m * 32 : m * 32 + 64] += contrib[m]
        return rate, y[: len(S) * 32]

    return parse_mp3


def decode_mp3_features(media: DataFrame, *, n_bands: int = 8) -> DataFrame:
    """REAL MPEG-1 Layer III decoding for the conforming subset this
    module's encoder emits (see section note: full side-info syntax +
    bit reservoir, count1-table-1 Huffman, requantization, alias
    reduction, IMDCT, frequency inversion; big-value Huffman tables and
    short blocks are loudly outside the subset): AUDIO_SCHEMA features
    exactly like the WAV/AU/ADPCM/MP1/MP2 legs, so the q51 gate
    hash-checks the header-derived metadata and pytest pins spectral
    fidelity. Undecodable blobs are skipped, never raised."""
    return _mpeg_stage(media, "mp3", n_bands)


def decode_mp2_features(media: DataFrame, *, n_bands: int = 8) -> DataFrame:
    """REAL MPEG-1 Layer II audio decoding (bitstream exact — table-driven
    B.2a-d allocation, scfsi scalefactor sharing, grouped quantizers;
    PR-MDCT filterbank stand-in, see the MP1 section note): AUDIO_SCHEMA
    features exactly like the WAV/AU/ADPCM/MP1 legs, so the q51 gate
    hash-checks the header-derived metadata and pytest pins spectral
    fidelity. Undecodable blobs are skipped, never raised."""
    return _mpeg_stage(media, "mp2", n_bands)


DHASH_SCHEMA = "media_id bigint, format string, width int, height int, dhash long"


def image_dhash(
    media: DataFrame, *, on_error: str = "raise"
) -> DataFrame:
    """Perceptual difference-hash (dHash) over ANY decodable image blob
    — the image-modality member of the near-dup family: re-encodes of
    the same picture (PPM vs PNG of identical pixels decode to the same
    luma → the SAME 64-bit hash) and small global edits (brightness,
    contrast) land within a few Hamming bits, while distinct pictures
    sit ~32 bits apart. Compose with `operators/dedup.hamming64_pairs`
    (the pigeonhole band join SimHash uses) for corpus-scale candidate
    pairs — image dedup without an embedding model.

    Recipe (the published aHash/dHash scheme): sniff + decode via the
    shared parser closures (ppm/png/gif/jpeg; animated GIFs hash their
    FIRST composed frame), Rec.601 luma, nearest-neighbor resample to a
    9×8 grid, horizontal-gradient sign bits packed row-major MSB-first
    into one signed 64-bit value (Spark LONG, two's complement).

    One Arrow stage; blobs never shuffle — only (id, 8-byte hash) leaves
    the scan, so the downstream band join is O(rows), not O(bytes).
    """
    decode_image, _ = _image_decoder()

    def row(b: bytes):
        import numpy as np

        fmt, w, h, frames = decode_image(b)
        rgb = np.asarray(frames[0], dtype=np.float64)
        luma = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        # Nearest-neighbor resample to 9 cols x 8 rows (floor index —
        # deterministic, engine-independent, matches resize_ppm).
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(9) * w) // 9
        small = luma[np.ix_(ys, xs)]
        bits = (small[:, 1:] > small[:, :-1]).flatten()  # row-major, 64 bits
        val = 0
        for bit in bits:
            val = (val << 1) | int(bit)
        if val >= 1 << 63:
            val -= 1 << 64
        return [(fmt, w, h, val)]

    return _stage(media, row, DHASH_SCHEMA, on_error)


def select_keyframes(
    frames: DataFrame,
    *,
    id_col: str = "media_id",
    idx_col: str = "frame_idx",
    luma_col: str = "mean_luma",
    threshold: float = 0.05,
) -> DataFrame:
    """Scene-change keyframe selection over per-frame luma summaries —
    the frame-SAMPLING curation step that drops temporally-redundant
    frames before any expensive per-frame model runs: keep each video's
    first frame plus every frame whose mean luma moved more than
    ``threshold`` from the PREVIOUS frame (the classic shot-boundary
    heuristic over the signal `extract_y4m_frames` /
    `extract_avi_mjpeg_frames` / `decode_media` already emit).

    Pure relational composition: one lag window keyed by video id — the
    heavy decode stays in its upstream scan stage, and only per-frame
    summary rows (never pixel data) shuffle. A 10⁸-frame corpus pays one
    exchange of (id, idx, double). Returns the input rows that survive,
    plus ``scene_change`` (|Δluma| vs previous frame; NULL on frame 0).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(idx_col)
    delta = F.abs(F.col(luma_col) - F.lag(luma_col).over(w))
    return (
        frames.withColumn("scene_change", delta)
        .filter(F.col("scene_change").isNull() | (F.col("scene_change") > threshold))
    )


AUDIO_FP_SCHEMA = (
    "media_id bigint, format string, sample_rate int, n_frames bigint, fp long"
)


def audio_fingerprint(
    media: DataFrame, *, on_error: str = "raise"
) -> DataFrame:
    """Perceptual audio fingerprint — the audio-modality member of the
    near-dup family (text→SimHash, image→dHash, embedding→sign-LSH):
    one 64-bit signature per blob built from the SIGN of band-energy
    deltas (the Haitsma-Kalker scheme, reduced to an 8×9 time×band
    grid), so re-encodes, amplitude scaling, and mild noise land within
    a few Hamming bits while different recordings sit ~32 apart.
    Compose with `operators/dedup.hamming64_pairs` for corpus-scale
    candidate pairs.

    Works on any blob the audio parsers decode (PCM/float/ADPCM WAV,
    G.711 AU, MPEG-1 layers — via the sniffing dispatcher). Recipe:
    mono PCM → 8 equal time slices → per-slice rFFT → 9 log-spaced band
    energies → bit[t,b] = E[t,b+1] - E[t,b] > E[t-1,b+1] - E[t-1,b]
    (time-and-frequency difference, amplitude-invariant by
    construction); t=0 compares against a zero row. One Arrow stage;
    only (id, 8 bytes) ever shuffles.
    """
    decode_audio = _audio_decoder()

    def row(b: bytes):
        import numpy as np

        fmt, rate, pcm = decode_audio(b)
        n = len(pcm)
        if n < 16:
            raise ValueError("audio too short to fingerprint")
        slices = np.array_split(pcm, 8)
        bands = np.empty((8, 9), dtype=np.float64)
        for t, sl in enumerate(slices):
            spec = np.abs(np.fft.rfft(sl)) ** 2
            # 9 log-spaced bands over the positive spectrum (DC bin
            # excluded — it carries offset, not content).
            edges = np.unique(np.geomspace(1, len(spec) - 1, 10).astype(np.int64))
            while len(edges) < 10:  # tiny spectra: pad by extending
                edges = np.append(edges, edges[-1] + 1)
            for k in range(9):
                bands[t, k] = spec[edges[k]:max(edges[k + 1], edges[k] + 1)].sum()
        e = np.log1p(bands)
        fdiff = e[:, 1:] - e[:, :-1]              # 8 x 8 frequency deltas
        prev = np.vstack([np.zeros((1, 8)), fdiff[:-1]])
        bits = (fdiff > prev).flatten()           # 64 bits, row-major
        val = 0
        for bit in bits:
            val = (val << 1) | int(bit)
        if val >= 1 << 63:
            val -= 1 << 64
        return [(fmt, rate, n, val)]

    return _stage(media, row, AUDIO_FP_SCHEMA, on_error)
