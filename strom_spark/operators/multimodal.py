"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side design is real and tested — schema, partitioning, Arrow
batch shape, UDF signatures.  For decoding: :func:`wav_decode` is a
REAL stdlib-only PCM-WAV decoder (header + frames + audio features);
for formats that need native codecs (JPEG/MP4/...) this container has
no libraries, so ``decode_fn=None`` falls back to a deterministic
byte-statistics stand-in, clearly marked — pass a real decode_fn
(PIL/torchaudio/ffmpeg) in production, or ``strict=True`` to raise.

At 100 TB the constraints this module encodes:
  - media bytes travel as ``binary`` columns inside parquet — scanned
    lazily, column-pruned away unless the plan touches them;
  - decode/feature-extract runs in ``mapInPandas`` (Arrow batches,
    constant memory per batch, linear scan — no shuffle);
  - per-file batch memory is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — set it small for
    large blobs;
  - derived features (small, typed) should be written to their own
    table so downstream analytics never re-scan the blobs.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import pandas as pd

from pyspark.sql import functions as F

from ..component import Component
from ..flow import Flow
from ..functions import hamming as H

#: schema for a multimodal asset table
ASSET_SCHEMA = (
    "asset_id bigint, media_type string, content binary, "
    "width int, height int, duration_ms int, sample_rate int"
)

#: schema of extracted features
FEATURE_SCHEMA = (
    "asset_id bigint, media_type string, n_bytes bigint, "
    "content_hash string, feat array<double>"
)


def _fake_decode(content: bytes, media_type: str) -> list[float]:
    """Deterministic stand-in for a real decoder: 8 features derived
    from byte statistics.  NOT a real decode — replace via decode_fn."""
    if content is None or len(content) == 0:
        return [0.0] * 8
    arr = memoryview(content)
    n = len(arr)
    step = max(1, n // 64)
    sampled = bytes(arr[::step])[:64]
    s = sum(sampled)
    return [
        float(n),
        float(s % 997),
        float(sampled[0]),
        float(sampled[-1]),
        float(max(sampled)),
        float(min(sampled)),
        float(s / max(len(sampled), 1)),
        float(len(set(sampled))),
    ]


def wav_decode(content: bytes, media_type: str = "audio") -> list[float]:
    """REAL decoder for PCM WAV (RIFF) — stdlib-only (``wave`` +
    ``struct``), no native media libraries needed.  Parses the header
    and the PCM frames and returns 8 deterministic audio features:

    [n_channels, sample_rate, n_frames, duration_ms,
     peak_abs, mean, rms, zero_crossings]

    Supports 8-bit unsigned and 16-bit signed PCM (the two classic
    uncompressed encodings).  Raises on compressed/float WAV — at that
    point you genuinely need a native codec; pass your own decode_fn.
    """
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        nch = w.getnchannels()
        sw = w.getsampwidth()
        sr = w.getframerate()
        nf = w.getnframes()
        raw = w.readframes(nf)
    if sw == 2:
        samples = struct.unpack(f"<{len(raw) // 2}h", raw)
    elif sw == 1:
        samples = tuple(b - 128 for b in raw)
    else:
        raise ValueError(f"unsupported PCM sample width: {sw} bytes")
    n = len(samples)
    if n == 0:
        return [float(nch), float(sr), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    peak = float(max(abs(s) for s in samples))
    mean = sum(samples) / n
    rms = (sum(s * s for s in samples) / n) ** 0.5
    zc = sum(
        1 for i in range(1, n) if (samples[i - 1] >= 0) != (samples[i] >= 0)
    )
    return [
        float(nch),
        float(sr),
        float(nf),
        1000.0 * nf / sr,
        peak,
        mean,
        rms,
        float(zc),
    ]


def ppm_decode(content: bytes, media_type: str = "image") -> list[float]:
    """REAL decoder for PPM images (portable pixmap: P6 binary and P3
    ASCII) — stdlib-only, no native codecs.  Parses the header
    (including ``#`` comments) and the 8-bit RGB raster and returns 8
    deterministic image features:

    [width, height, maxval, n_pixels, mean_r, mean_g, mean_b,
     mean_luma]  (luma = 0.299 R + 0.587 G + 0.114 B)

    Raises on 16-bit rasters (maxval > 255) and other netpbm variants
    — pass a real decode_fn (PIL) for those in production.
    """
    width, height, maxval, vals = ppm_parse(content)
    n_px = width * height
    sr = sum(vals[0 : 3 * n_px : 3])
    sg = sum(vals[1 : 3 * n_px : 3])
    sb = sum(vals[2 : 3 * n_px : 3])
    mr, mg, mb = sr / n_px, sg / n_px, sb / n_px
    return [
        float(width),
        float(height),
        float(maxval),
        float(n_px),
        mr,
        mg,
        mb,
        0.299 * mr + 0.587 * mg + 0.114 * mb,
    ]


class MediaFeatures(Component):
    """Decode + feature-extract binary media via mapInPandas.

    ``decode_fn(content: bytes, media_type: str) -> list[float]``; when
    None, a deterministic byte-statistics fake is used (container has
    no media libs).  To make the stub explicit, ``strict=True`` raises
    NotImplementedError instead of faking.

    ``chunk`` bounds how many blobs one decode loop holds at once
    (re-slicing Arrow batches) — the per-component analog of the
    reference's per-operator ``chunk`` opt (``lib/gen_mix.ex:7``),
    for when a global Arrow batch size sized for row tables is too
    coarse for multi-MB media blobs.
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "asset_id",
        content_col: str = "content",
        media_type_col: str = "media_type",
        decode_fn: Callable[[bytes, str], list] | None = None,
        strict: bool = False,
        chunk: "int | None" = None,
        label: str | None = None,
    ):
        if chunk is not None and chunk < 1:
            raise ValueError(f"chunk must be >= 1 or None, got {chunk}")
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.content_col = content_col
        self.media_type_col = media_type_col
        self.decode_fn = decode_fn
        self.strict = strict
        self.chunk = chunk
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        df = flow[self.input]
        id_col, content_col, mt_col = self.id_col, self.content_col, self.media_type_col
        decode = self.decode_fn
        strict = self.strict
        if strict and decode is None:
            raise NotImplementedError(
                "no media decoder available in this environment; pass decode_fn="
            )
        if decode is None:
            decode = _fake_decode

        # hash/size computed JVM-side before Python — blobs enter Arrow
        # only for the decode itself.
        prepared = df.select(
            F.col(id_col).alias("asset_id"),
            F.col(mt_col).alias("media_type"),
            F.length(F.col(content_col)).cast("bigint").alias("n_bytes"),
            F.md5(F.col(content_col)).alias("content_hash"),
            F.col(content_col).alias("__content"),
        )

        from ..component import rechunk_batches

        chunk = self.chunk

        def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in rechunk_batches(batches, chunk):
                feats = [
                    decode(c, m)
                    for c, m in zip(pdf["__content"], pdf["media_type"])
                ]
                out = pdf.drop(columns="__content")
                out["feat"] = feats
                yield out

        out = prepared.mapInPandas(extract, schema=FEATURE_SCHEMA)
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


def ppm_parse(content: bytes):
    """Parse a P6/P3 PPM into (width, height, maxval, flat_raster) —
    shared by :func:`ppm_decode` consumers that need pixels, not
    features.  Raises ValueError on anything that isn't 8-bit PPM."""
    if not content or content[:1] != b"P" or content[1:2] not in (b"3", b"6"):
        raise ValueError("not a PPM (P3/P6) payload")
    binary = content[1:2] == b"6"
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(content):
            raise ValueError("truncated PPM header")
        c = content[pos : pos + 1]
        if c == b"#":
            nl = content.find(b"\n", pos)
            pos = len(content) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(content) and not content[end : end + 1].isspace():
                end += 1
            tokens.append(int(content[pos:end]))
            pos = end
    width, height, maxval = tokens
    if maxval > 255:
        raise ValueError(f"16-bit PPM (maxval={maxval}) not supported")
    if width <= 0 or height <= 0:
        # a 0-width header parses "cleanly" but every pixel operation
        # downstream (resize indexing, mean division) breaks on it
        raise ValueError(f"degenerate PPM dimensions {width}x{height}")
    n_px = width * height
    if binary:
        pos += 1
        raster = content[pos : pos + 3 * n_px]
        if len(raster) < 3 * n_px:
            raise ValueError("truncated PPM raster")
        flat = list(raster)
    else:
        flat = [int(t) for t in content[pos:].split()][: 3 * n_px]
        if len(flat) < 3 * n_px:
            raise ValueError("truncated PPM raster")
    return width, height, maxval, flat


def ppm_resize(content: bytes, target_w: int, target_h: int) -> bytes:
    """REAL nearest-neighbor resize for PPM images, emitted as P6 —
    numpy index arithmetic on the decoded raster, no native codecs.
    Deterministic: source pixel = floor(i * src / dst) per axis (the
    standard nearest-neighbor mapping)."""
    import numpy as np

    w, h, maxval, flat = ppm_parse(content)
    img = np.asarray(flat, dtype="uint8").reshape(h, w, 3)
    ys = (np.arange(target_h) * h) // target_h
    xs = (np.arange(target_w) * w) // target_w
    out = img[ys][:, xs]
    header = f"P6\n{target_w} {target_h}\n{maxval}\n".encode()
    return header + out.tobytes()


class MediaResize(Component):
    """Resize binary images via mapInPandas (Arrow batches, linear
    scan, no shuffle — blobs never leave their partition).

    ``resize_fn(content, w, h) -> bytes`` defaults to the REAL
    stdlib+numpy PPM path (:func:`ppm_resize`); payloads it cannot
    parse (JPEG/PNG need native codecs this container lacks) pass
    through unchanged with ``resized=false`` so the pipeline is honest
    about what it transformed — or raise with ``strict=True``.  Output:
    (asset_id, media_type, content, width, height, resized)."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        target_w: int,
        target_h: int,
        id_col: str = "asset_id",
        content_col: str = "content",
        media_type_col: str = "media_type",
        resize_fn: Callable[[bytes, int, int], bytes] | None = None,
        strict: bool = False,
        chunk: "int | None" = None,
        label: str | None = None,
    ):
        if target_w <= 0 or target_h <= 0:
            raise ValueError("target dimensions must be positive")
        if chunk is not None and chunk < 1:
            raise ValueError(f"chunk must be >= 1 or None, got {chunk}")
        self.input = input
        self.output = output or input
        self.target_w, self.target_h = int(target_w), int(target_h)
        self.id_col = id_col
        self.content_col = content_col
        self.media_type_col = media_type_col
        self.resize_fn = resize_fn
        self.strict = strict
        self.chunk = chunk
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from ..component import rechunk_batches

        df = flow[self.input]
        tw, th = self.target_w, self.target_h
        fn = self.resize_fn or ppm_resize
        strict = self.strict
        chunk = self.chunk

        prepared = df.select(
            F.col(self.id_col).alias("asset_id"),
            F.col(self.media_type_col).alias("media_type"),
            F.col(self.content_col).alias("__content"),
        )

        def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in rechunk_batches(batches, chunk):
                contents, flags = [], []
                for c in pdf["__content"]:
                    try:
                        contents.append(fn(c, tw, th))
                        flags.append(True)
                    except (ValueError, TypeError):
                        if strict:
                            raise
                        contents.append(c)
                        flags.append(False)
                yield pd.DataFrame(
                    {
                        "asset_id": pdf["asset_id"],
                        "media_type": pdf["media_type"],
                        "content": contents,
                        "width": [tw if f else None for f in flags],
                        "height": [th if f else None for f in flags],
                        "resized": flags,
                    }
                )

        # derive the id type from the input schema — a string-keyed
        # asset table must not hit an Arrow bigint cast error here
        id_type = df.schema[self.id_col].dataType.simpleString()
        out = prepared.mapInPandas(
            resize,
            schema=(
                f"asset_id {id_type}, media_type string, content binary, "
                "width int, height int, resized boolean"
            ),
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


def _fake_frames(content: bytes, n_frames: int) -> "list[bytes]":
    """Deterministic stand-in for a video frame decoder: slice the
    payload into n_frames equal byte chunks.  NOT real frames — the
    container has no video codecs; pass frame_fn=ffmpeg-backed decode
    in production."""
    if not content or n_frames <= 0:
        return []
    n = max(1, len(content) // n_frames)
    return [bytes(content[i * n : (i + 1) * n]) for i in range(n_frames)]


class FrameSample(Component):
    """Sample frames from binary video via mapInPandas — one OUTPUT ROW
    PER SAMPLED FRAME (the explode shape every frame pipeline needs),
    frame index and timestamp attached.

    ``frame_fn(content, n_frames) -> list[bytes]`` extracts evenly
    spaced frames; with None, a clearly-marked deterministic byte-chunk
    fake stands in (no video codecs in this container) — or
    ``strict=True`` raises NotImplementedError.  ``fps`` + the asset's
    ``duration_ms`` column give each sampled frame a timestamp:
    frame i of n spans [i, i+1) / n of the duration.

    At 100 TB: frames fan OUT of the blob scan (rows multiply by
    every_n), so the component is a linear mapInPandas with bounded
    Arrow batches and no shuffle; write sampled frames to their own
    table before any wide op touches them.  ``chunk`` bounds how many
    videos one sampling loop holds at once (per-component analog of
    the reference's ``chunk`` opt, ``lib/gen_mix.ex:7``) — with a
    k-frame fan-out per video, peak batch memory is
    chunk × k × frame_bytes."""

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        n_frames: int = 8,
        id_col: str = "asset_id",
        content_col: str = "content",
        duration_col: str = "duration_ms",
        frame_fn: "Callable[[bytes, int], list] | None" = None,
        strict: bool = False,
        chunk: "int | None" = None,
        label: str | None = None,
    ):
        if n_frames <= 0:
            raise ValueError("n_frames must be positive")
        if chunk is not None and chunk < 1:
            raise ValueError(f"chunk must be >= 1 or None, got {chunk}")
        self.input = input
        self.output = output or input
        self.n_frames = int(n_frames)
        self.id_col = id_col
        self.content_col = content_col
        self.duration_col = duration_col
        self.frame_fn = frame_fn
        self.strict = strict
        self.chunk = chunk
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from ..component import rechunk_batches

        df = flow[self.input]
        k = self.n_frames
        chunk = self.chunk
        fn = self.frame_fn
        if self.strict and fn is None:
            raise NotImplementedError(
                "no video frame decoder available in this environment; "
                "pass frame_fn="
            )
        if fn is None:
            fn = _fake_frames

        prepared = df.select(
            F.col(self.id_col).alias("asset_id"),
            F.col(self.duration_col).cast("bigint").alias("__dur"),
            F.col(self.content_col).alias("__content"),
        )

        def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in rechunk_batches(batches, chunk):
                ids, idxs, ts, frames = [], [], [], []
                for aid, dur, c in zip(
                    pdf["asset_id"], pdf["__dur"], pdf["__content"]
                ):
                    fs = fn(c, k)
                    n = len(fs)
                    # NULL bigints arrive from Arrow as NaN, not None —
                    # `is not None` alone lets int(NaN) blow up the task
                    has_dur = dur is not None and not pd.isna(dur)
                    for i, fr in enumerate(fs):
                        ids.append(aid)
                        idxs.append(i)
                        ts.append(int(dur) * i // n if has_dur and n else None)
                        frames.append(fr)
                yield pd.DataFrame(
                    {
                        "asset_id": ids,
                        "frame_idx": idxs,
                        "frame_ts_ms": ts,
                        "frame": frames,
                    }
                )

        id_type = df.schema[self.id_col].dataType.simpleString()
        out = prepared.mapInPandas(
            sample,
            schema=f"asset_id {id_type}, frame_idx int, frame_ts_ms bigint, frame binary",
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


def y4m_parse(content: bytes):
    """REAL parser for YUV4MPEG2 (.y4m) — the uncompressed video
    interchange format every ffmpeg pipeline can emit, stdlib-only.
    Returns (width, height, fps_num, fps_den, frames) where each frame
    is the raw planar YUV payload (Y plane first).  Supports C420*
    (default) and C444 chroma; raises on anything else, on missing
    W/H, on a corrupt FRAME marker, and on a truncated frame."""
    if not content or not content.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = content.find(b"\n")
    if nl < 0:
        raise ValueError("truncated Y4M stream header")
    w = h = None
    fps_num, fps_den = 25, 1
    chroma = "420jpeg"
    for p in content[9:nl].split():
        tag, val = p[:1], p[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            a, b = val.split(b":")
            fps_num, fps_den = int(a), int(b)
        elif tag == b"C":
            chroma = val.decode("ascii")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    # exact 8-bit variants only: C420p10/p12 (2 bytes/sample) and
    # C444alpha (4 planes) would silently compute the wrong frame size
    # and fail mid-stream with a misleading FRAME-marker error
    if chroma in ("420", "420jpeg", "420mpeg2", "420paldv"):
        if w % 2 or h % 2:
            raise ValueError(f"odd dimensions {w}x{h} invalid for C420")
        frame_size = w * h + 2 * ((w // 2) * (h // 2))
    elif chroma == "444":
        frame_size = 3 * w * h
    else:
        raise ValueError(f"unsupported Y4M chroma subsampling C{chroma}")
    frames = []
    pos = nl + 1
    while pos < len(content):
        if content[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt Y4M FRAME marker")
        fnl = content.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("truncated Y4M frame header")
        start = fnl + 1
        if start + frame_size > len(content):
            raise ValueError("truncated Y4M frame payload")
        frames.append(content[start : start + frame_size])
        pos = start + frame_size
    return w, h, fps_num, fps_den, frames


def y4m_frames(content: bytes, n_frames: int) -> list:
    """``frame_fn`` for :class:`FrameSample` backed by the REAL
    :func:`y4m_parse`: returns ``n_frames`` evenly spaced raw YUV
    frames (source index ``i * total // n_frames``), or every frame
    when the clip is shorter than the ask."""
    _, _, _, _, frames = y4m_parse(content)
    n = len(frames)
    if n == 0 or n_frames >= n:
        return frames
    return [frames[i * n // n_frames] for i in range(n_frames)]


def y4m_synth(asset_id: int) -> bytes:
    """Deterministic Y4M clip for an id, built so per-frame statistics
    have exact closed forms an external oracle can state:

      8x6 C420jpeg, 25 fps, total = 8 + (id % 5) frames;
      frame j's Y plane is the CONSTANT (id*7 + j*11) % 256, chroma
      planes constant 128 ⇒ mean luma of frame j = that constant,
      exactly.

    Used by the oracle-checked ``video_frame_stats`` query to certify
    the FrameSample explode + real Y4M decode end-to-end."""
    w, h = 8, 6
    total = 8 + (asset_id % 5)
    chroma = b"\x80" * (2 * ((w // 2) * (h // 2)))
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\n".encode("ascii")]
    for j in range(total):
        y = (asset_id * 7 + j * 11) % 256
        out.append(b"FRAME\n")
        out.append(bytes([y]) * (w * h) + chroma)
    return b"".join(out)


def bmp_decode(content: bytes, media_type: str = "image") -> list[float]:
    """REAL decoder for 24-bit uncompressed BMP (BI_RGB) — stdlib-only
    (``struct``).  Parses the BITMAPFILEHEADER/BITMAPINFOHEADER, honors
    the bottom-up row order and the 4-byte row stride padding, and
    returns 8 deterministic image features:

    [width, height, n_pixels, mean_r, mean_g, mean_b,
     topleft_luma, mean_luma]

    ``topleft_luma`` is the luma of the LOGICAL top-left pixel — BMP
    stores rows bottom-up, so this feature certifies the row flip (a
    decoder that forgets it reads the bottom-left pixel there); the
    stride padding is certified by any width not divisible by 4.
    Raises on other bit depths / compressions — pass a real decode_fn
    (PIL) for those in production.
    """
    import struct

    if not content or content[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(content) < 54:
        raise ValueError("truncated BMP header")
    (pixel_offset,) = struct.unpack_from("<I", content, 10)
    (hdr_size,) = struct.unpack_from("<I", content, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_raw, _planes, bpp, comp = struct.unpack_from("<iiHHI", content, 18)
    if bpp != 24 or comp != 0:
        raise ValueError(
            f"only 24-bit BI_RGB BMP supported (bpp={bpp}, compression={comp})"
        )
    bottom_up = h_raw > 0
    h = abs(h_raw)
    if w <= 0 or h == 0:
        raise ValueError(f"degenerate BMP dimensions {w}x{h_raw}")
    stride = (w * 3 + 3) & ~3
    if len(content) < pixel_offset + stride * h:
        raise ValueError("truncated BMP raster")
    sr = sg = sb = 0
    tl = (0, 0, 0)
    for y_out in range(h):  # logical top-to-bottom
        y_src = (h - 1 - y_out) if bottom_up else y_out
        base = pixel_offset + y_src * stride
        row = content[base : base + w * 3]
        sb += sum(row[0::3])
        sg += sum(row[1::3])
        sr += sum(row[2::3])
        if y_out == 0:
            tl = (row[2], row[1], row[0])  # stored as B,G,R
    n_px = w * h
    mr, mg, mb = sr / n_px, sg / n_px, sb / n_px
    return [
        float(w),
        float(h),
        float(n_px),
        mr,
        mg,
        mb,
        0.299 * tl[0] + 0.587 * tl[1] + 0.114 * tl[2],
        0.299 * mr + 0.587 * mg + 0.114 * mb,
    ]


def bmp_synth(asset_id: int) -> bytes:
    """Deterministic 24-bit BI_RGB BMP for an id, with gradients chosen
    so every :func:`bmp_decode` feature has an exact closed form an
    external oracle can state without decoding:

      width  = 5 + (id % 6)   (5..10 — most NOT divisible by 4, so the
                               row stride padding is exercised)
      height = 3 + (id % 4)
      pixel (x, y): R = x, G = id % 256, B = y   (x, y from the
      LOGICAL top-left; rows are stored bottom-up as the format
      requires, so a decoder that skips the flip reads B = height-1
      at the top-left)

    ⇒ mean_r = (w-1)/2, mean_g = id % 256, mean_b = (h-1)/2,
    topleft_luma = 0.587 * (id % 256) — all exact in IEEE doubles.
    Used by the oracle-checked ``bmp_features`` query."""
    import struct

    w = 5 + (asset_id % 6)
    h = 3 + (asset_id % 4)
    g = asset_id % 256
    pad = b"\x00" * ((-(w * 3)) % 4)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage order
        row = bytearray()
        for x in range(w):
            row += bytes((y, g, x))  # B, G, R
        rows.append(bytes(row) + pad)
    raster = b"".join(rows)
    pixel_offset = 14 + 40
    header = struct.pack(
        "<2sIHHI", b"BM", pixel_offset + len(raster), 0, 0, pixel_offset
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return header + info + raster


def wav_synth(asset_id: int) -> bytes:
    """Deterministic mono PCM-16 WAV for an id — a SQUARE wave chosen
    so every :func:`wav_decode` feature has an exact closed form an
    external oracle can state without decoding:

      nf        = 160 + (id % 50) * 2   frames (EVEN → mean is 0.0)
      amplitude = 1000 + (id % 20) * 100, samples alternate +A, -A
      sample_rate 8000 Hz, 1 channel

    ⇒ peak_abs = rms = A (|s| is constant and sqrt(A²) is exact in
    IEEE), mean = 0.0, zero_crossings = nf - 1, duration_ms = nf / 8
    (exact: /8 is a power of two).  Used by the oracle-checked
    ``audio_features`` query to certify the REAL stdlib WAV decode
    path end-to-end."""
    import io
    import struct
    import wave

    nf = 160 + (asset_id % 50) * 2
    amp = 1000 + (asset_id % 20) * 100
    frames = struct.pack(
        f"<{nf}h", *[amp if j % 2 == 0 else -amp for j in range(nf)]
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(frames)
    return buf.getvalue()


def synthetic_assets(spark, n: int = 100, seed: int = 7):
    """Deterministic synthetic asset table for tests (binary payloads
    derived from the id — no media libs involved)."""
    rows = []
    for i in range(n):
        media = ["image", "audio", "video"][i % 3]
        content = bytes(((i * 31 + j * seed) % 251) for j in range((i % 50) * 20 + 16))
        rows.append(
            {
                "asset_id": i,
                "media_type": media,
                "content": content,
                "width": 64 if media == "image" else None,
                "height": 64 if media == "image" else None,
                "duration_ms": 1000 * (i % 30) if media != "image" else None,
                "sample_rate": 16000 if media == "audio" else None,
            }
        )
    return spark.createDataFrame(rows, schema=ASSET_SCHEMA)


def bmp_phash(content: bytes, dim: int = 8) -> str:
    """Perceptual average-hash (aHash) of a 24-bit BI_RGB BMP — the
    classic image near-dup fingerprint: luma grid → ``dim×dim``
    nearest-neighbor resample → above-mean threshold → ``dim²`` bits.

    Every step is INTEGER arithmetic so the hash is exact and
    engine-portable: luma is scaled 1000× (``299·R + 587·G + 114·B``)
    and the threshold compares ``dim²·l > Σl`` — no float mean, no
    summation-order sensitivity, no rounding boundary (the properties
    the closed-form SQL oracle needs).  Returned as a ``dim²``-char
    '0'/'1' string (row-major) — portable and trivially groupable;
    pack into bigints via the SimHash block machinery when shuffle
    volume matters (a 64-char string is 8× a packed long — the
    ``image_phash_groups`` corpus shuffles hashes, not images, so the
    economy is already 5 orders of magnitude vs the blobs).

    Reuses :func:`bmp_decode`'s format handling (bottom-up row flip,
    4-byte stride padding); raises on non-BI_RGB inputs.
    """
    import struct

    if not content or content[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(content) < 54:
        raise ValueError("truncated BMP header")
    (pixel_offset,) = struct.unpack_from("<I", content, 10)
    w, h_raw, _planes, bpp, comp = struct.unpack_from("<iiHHI", content, 18)
    if bpp != 24 or comp != 0:
        raise ValueError("only 24-bit BI_RGB BMP supported")
    bottom_up = h_raw > 0
    h = abs(h_raw)
    if w <= 0 or h == 0:
        raise ValueError(f"degenerate BMP dimensions {w}x{h_raw}")
    stride = (w * 3 + 3) & ~3
    if len(content) < pixel_offset + stride * h:
        raise ValueError("truncated BMP raster")

    samples = []
    for j in range(dim):  # logical rows, top-down
        y = (j * h) // dim
        y_src = (h - 1 - y) if bottom_up else y
        base = pixel_offset + y_src * stride
        for i in range(dim):
            x = (i * w) // dim
            b, g, r = content[base + 3 * x : base + 3 * x + 3]
            samples.append(299 * r + 587 * g + 114 * b)
    total = sum(samples)
    n = dim * dim
    return "".join("1" if n * l > total else "0" for l in samples)


class ImagePHash(Component):
    """Perceptual-hash fingerprints for binary image columns — the
    image-modality sibling of text ``SimHash``: one linear
    ``mapInPandas`` decode pass emits ``(id, phash, n_bits_set)`` per
    asset; everything downstream (exact-dup groupBy on the hash,
    Hamming-``d`` near-dup pairs via the SimHash pigeonhole
    block-split) operates on the fingerprints, never the blobs.

    ``hash_fn(content: bytes) -> str`` defaults to :func:`bmp_phash`
    (stdlib BMP); pass a PIL/libvips-backed function for production
    codecs — the Spark plumbing (Arrow batching, ``chunk`` re-slicing,
    fingerprint-only shuffles) is codec-agnostic.

    ``on_error`` sets the corrupt/None-content policy: ``'raise'``
    (default — any bad blob fails the job loudly), ``'null'`` (emit a
    null phash/n_bits_set row for the bad asset) or ``'skip'`` (drop
    it).  At 100 TB a scan WILL hit isolated corrupt files — use
    ``'null'`` to keep an auditable error-row trail or ``'skip'`` for
    fire-and-forget curation.

    At 100 TB: the decode scan is embarrassingly parallel and the only
    shuffled payload is ~64 chars per image — grouping a billion
    images by phash is a routine keyed aggregate; the blobs never
    leave their scan partitions.

    Near-pair search (:class:`PHashNearDupPairs`) packs a hash into one
    bigint, so it needs ``dim <= 8`` (at most 64 bits).
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "asset_id",
        content_col: str = "content",
        hash_fn: "Callable[[bytes], str] | None" = None,
        dim: int = 8,
        on_error: str = "raise",
        chunk: "int | None" = None,
        label: str | None = None,
    ):
        if chunk is not None and chunk < 1:
            raise ValueError(f"chunk must be >= 1 or None, got {chunk}")
        if dim < 2:
            raise ValueError("dim must be >= 2")
        if on_error not in ("raise", "skip", "null"):
            raise ValueError(
                f"on_error must be 'raise', 'skip' or 'null', got {on_error!r}"
            )
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.content_col = content_col
        self.hash_fn = hash_fn
        self.dim = int(dim)
        self.on_error = on_error
        self.chunk = chunk
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from ..component import rechunk_batches

        df = flow[self.input]
        dim = self.dim
        hash_fn = self.hash_fn or (lambda c: bmp_phash(c, dim))
        id_col, content_col = self.id_col, self.content_col
        chunk = self.chunk
        on_error = self.on_error
        id_type = df.schema[id_col].dataType.simpleString()

        prepared = df.select(
            F.col(id_col).alias("asset_id"), F.col(content_col).alias("__content")
        )

        def safe_hash(c) -> "str | None":
            # on_error != 'raise': one corrupt/None blob must not abort
            # a 100 TB scan — emit null (kept or dropped below) instead
            if c is None:
                return None
            try:
                return hash_fn(c)
            except Exception:
                return None

        def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in rechunk_batches(batches, chunk):
                if on_error == "raise":
                    hashes = [hash_fn(c) for c in pdf["__content"]]
                else:
                    hashes = [safe_hash(c) for c in pdf["__content"]]
                out = pd.DataFrame(
                    {
                        "asset_id": pdf["asset_id"],
                        "phash": hashes,
                        "n_bits_set": pd.array(
                            [
                                h.count("1") if h is not None else None
                                for h in hashes
                            ],
                            dtype="Int64",
                        ),
                    }
                )
                if on_error == "skip":
                    out = out[out["phash"].notna()]
                yield out

        out = prepared.mapInPandas(
            hash_batches,
            schema=f"asset_id {id_type}, phash string, n_bits_set int",
        )
        return flow.without(self.input).with_stream(self.output, out)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)


class PHashNearDupPairs(Component):
    """Hamming-distance near-duplicate pairs over perceptual-hash
    fingerprints — completes the :class:`ImagePHash` dedup path: input
    is ``(id, phash)`` bit-strings of ``n_bits <= 64`` (any producer —
    BMP aHash here, a PIL/pHash UDF in production), output is every
    unordered pair ``(id_a, id_b, distance)`` within ``max_distance``
    bit flips, exactly, each pair once.

    Lowering: the bit-string packs into one bigint (``conv(_, 2, -10)``)
    and :func:`~strom_spark.functions.hamming.near_pairs` (shared with
    SimHashPairs) buckets it by pigeonhole blocks and verifies the
    exact ``bit_count(a ⊕ b)`` JVM-side — never all-pairs, no Python.

    At 100 TB the skew story is the hash's: a viral block value (e.g.
    the all-zeros block from flat images) concentrates one bucket.
    ``max_block_freq`` is the guard — the exact hot-shingle cap
    NgramJaccardPairs applies to text postings: block buckets holding
    more than that many fingerprints are DROPPED before the self-join,
    bounding any bucket's pair fan-out at ``cap²`` regardless of corpus
    size.  Recall loss is confined to pairs whose ONLY agreeing blocks
    are viral — in practice degenerate flat images; pairs that also
    agree on a normal block are still found (the pigeonhole union is a
    logical OR over blocks).  ``None`` (default) keeps exact pigeonhole
    recall.
    """

    def __init__(
        self,
        input: str,
        output: str | None = None,
        *,
        id_col: str = "asset_id",
        phash_col: str = "phash",
        max_distance: int = 4,
        n_bits: int = 64,
        max_block_freq: int | None = None,
        label: str | None = None,
    ):
        H.validate_blocks(max_distance, n_bits)
        if max_block_freq is not None and max_block_freq < 2:
            raise ValueError("max_block_freq must be >= 2 (a pair needs 2)")
        self.input = input
        self.output = output or input
        self.id_col = id_col
        self.phash_col = phash_col
        self.max_distance = int(max_distance)
        self.n_bits = int(n_bits)
        self.max_block_freq = max_block_freq
        self.label = label

    def transform(self, flow: Flow) -> Flow:
        from ..component import require_batch

        df = flow[self.input]
        require_batch(
            df,
            "PHashNearDupPairs",
            "the pigeonhole bucket self-join needs the full fingerprint "
            "set (ImagePHash itself streams — collect fingerprints per "
            "micro-batch first)",
        )
        nb = self.n_bits
        # Loud-fail guard: a hash whose length != n_bits (e.g. an
        # ImagePHash(dim=4) 16-char hash against the default
        # n_bits=64) would otherwise pack into a narrower bigint whose
        # blocks are cut at the wrong bits — pairs silently vanish.
        # raise_error surfaces the mismatch instead.
        ph = F.when(
            F.length(self.phash_col) == nb, F.col(self.phash_col)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("PHashNearDupPairs: phash length "),
                    F.length(self.phash_col).cast("string"),
                    F.lit(f" != n_bits={nb} (id="),
                    F.col(self.id_col).cast("string"),
                    F.lit(
                        ") — pass n_bits matching the hash producer "
                        "(ImagePHash emits dim*dim bits)"
                    ),
                )
            )
        )
        # a negative target base reads the bits as a signed number: a
        # 64-bit hash with its first bit set packs into a negative
        # bigint instead of overflowing the cast
        sig = df.select(
            F.col(self.id_col).alias("id"),
            F.conv(ph, 2, -10).cast("bigint").alias("sig"),
        )
        pairs = H.near_pairs(sig, self.max_distance, nb, self.max_block_freq)
        return flow.without(self.input).with_stream(self.output, pairs)

    def input_names(self) -> Sequence[str]:
        return (self.input,)

    def output_names(self) -> Sequence[str]:
        return (self.output,)
