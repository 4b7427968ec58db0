"""Dependency-free Motion-JPEG video codec (MJPG inside an AVI/RIFF
container).

The COMPRESSED video branch made real: with baseline JPEG implemented
in-tree (jpeg.py), Motion-JPEG — the classic intraframe video codec
every camera, capture card and ffmpeg build understands — is "a RIFF
container walk away": an AVI file whose single 'vids' stream carries
one complete JPEG per frame ('00dc' chunks in the 'movi' list).  No
inter-frame prediction, so every frame decodes independently with the
existing JPEG machinery; the container layer (this module) is pure
struct parsing in the same style as the WAV/Y4M walkers.

This narrows the remaining library-bound video seam to
INTER-FRAME codecs (H.264-family), which genuinely need a codec
library: motion compensation + CABAC are out of scope for a
dependency-free reference, and a silently partial H.264 would violate
the never-wrong-pixels contract.

Encoder slice: grayscale or RGB frame stacks, constant fps, one video
stream, even-padded chunks, spec-shaped `avih`/`strh`/`strf` headers
(readable by ffprobe-family tools).  Decoder slice: any AVI whose
first video stream is MJPG with baseline JPEG frames — '00dc'/'00db'
chunks, LIST recursion, junk/index chunks skipped, frame dimensions
validated against the stream header, frame count validated against
`avih`.  Everything malformed raises ``ValueError`` (the quarantine
contract, fuzz-gated like every other decoder).

Public references: the Microsoft RIFF/AVI container documentation and
the OpenDML AVI extensions (both public), plus ITU-T T.81 via
jpeg.py.  No code from any implementation.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import decode_jpeg, encode_jpeg


def _chunk(tag: bytes, payload: bytes) -> bytes:
    """RIFF chunk with the spec's even-byte padding."""
    pad = b"\x00" if len(payload) % 2 else b""
    return tag + struct.pack("<I", len(payload)) + payload + pad


def encode_mjpeg_avi(
    frames: np.ndarray,
    fps: int = 25,
    quality: int = 90,
    qtables=None,
) -> bytes:
    """Encode a frame stack as an MJPG AVI.

    ``frames``: (n, h, w) grayscale or (n, h, w, 3) RGB uint8, n >= 1.
    ``quality``/``qtables`` pass through to `encode_jpeg` per frame —
    with ``qtables=(DC8_QTABLE, DC8_QTABLE)`` and block-constant
    frames the whole VIDEO roundtrip is bit-exact (see jpeg.py).
    """
    f = np.asarray(frames)
    if f.ndim == 3:
        f = f[:, :, :, None]
    if f.ndim != 4 or f.shape[3] not in (1, 3) or f.dtype != np.uint8:
        raise ValueError(
            f"frames must be uint8 (n, h, w[, 1|3]), got {f.shape} {f.dtype}"
        )
    n, h, w, ch = f.shape
    if n == 0:
        raise ValueError("MJPEG needs at least one frame")
    if fps <= 0 or fps > 10**6:
        raise ValueError(f"bad fps {fps}")

    payloads = [
        encode_jpeg(
            fr[:, :, 0] if ch == 1 else fr, quality=quality, qtables=qtables
        )
        for fr in f
    ]
    max_size = max(len(p) for p in payloads)

    avih = struct.pack(
        "<14I",
        10**6 // fps,  # dwMicroSecPerFrame
        max_size * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0,  # dwFlags
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max_size,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4H",
            0,  # dwFlags
            0, 0,  # wPriority, wLanguage
            0,  # dwInitialFrames
            1, fps,  # dwScale, dwRate -> rate/scale = fps
            0,  # dwStart
            n,  # dwLength (frames)
            max_size,  # dwSuggestedBufferSize
            0,  # dwQuality
            0,  # dwSampleSize (0 = samples vary in size, per spec)
            0, 0, w, h,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        w,
        h,
        1,  # biPlanes
        24 if ch == 3 else 8,  # biBitCount
        b"MJPG",  # biCompression
        w * h * ch,  # biSizeImage
        0, 0, 0, 0,
    )
    strl = _chunk(b"LIST", b"strl" + _chunk(b"strh", strh) + _chunk(b"strf", strf))
    hdrl = _chunk(b"LIST", b"hdrl" + _chunk(b"avih", avih) + strl)
    movi = _chunk(
        b"LIST", b"movi" + b"".join(_chunk(b"00dc", p) for p in payloads)
    )
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def _walk_chunks(data: bytes, pos: int, end: int):
    """Yield (tag, payload_start, payload_len) over a RIFF chunk run."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated AVI: dangling chunk header")
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        if pos + 8 + size > end:
            raise ValueError("truncated AVI: chunk exceeds its parent")
        yield tag, pos + 8, size
        pos += 8 + size + (size % 2)  # even padding


def decode_mjpeg_avi(
    content: bytes | bytearray | memoryview,
) -> tuple[np.ndarray, int]:
    """Decode an MJPG AVI into ((n, h, w, channels) uint8 frames, fps).

    Raises ValueError for anything malformed or out of slice: not a
    RIFF/AVI, no MJPG video stream, a frame whose dimensions disagree
    with the stream header, a frame count that disagrees with `avih`,
    or any corrupt JPEG payload — never silently wrong frames.
    """
    data = bytes(content)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI: missing RIFF/AVI signature")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(len(data), 8 + riff_size)

    width = height = None
    total_frames = None
    fps = None
    stream_idx = 0
    video_stream: int | None = None  # index of the FIRST vids stream
    frames: list[np.ndarray] = []

    def eat_video_chunk(tag: bytes, p2: int, s2: int) -> None:
        # NNdc/NNdb = stream NN compressed/uncompressed video; only
        # the first video stream's chunks belong to this decode.
        if tag[2:4] not in (b"dc", b"db"):
            return
        if tag[:2] != b"%02d" % video_stream:
            return  # another stream's data (audio is NNwb anyway)
        px = decode_jpeg(data[p2 : p2 + s2])
        if width is not None and (px.shape[1] != width or px.shape[0] != height):
            raise ValueError(
                f"frame {len(frames)} is {px.shape[1]}x"
                f"{px.shape[0]}, header says {width}x{height}"
            )
        frames.append(px)

    for tag, p, size in _walk_chunks(data, 12, end):
        if tag != b"LIST":
            continue  # idx1 / JUNK at top level
        ltype = data[p : p + 4]
        if ltype == b"hdrl":
            for t2, p2, s2 in _walk_chunks(data, p + 4, p + size):
                if t2 == b"avih":
                    if s2 < 40:
                        raise ValueError("truncated avih header")
                    vals = struct.unpack_from("<10I", data, p2)
                    total_frames = vals[4]
                    width, height = vals[8], vals[9]
                elif t2 == b"LIST" and data[p2 : p2 + 4] == b"strl":
                    for t3, p3, s3 in _walk_chunks(data, p2 + 4, p2 + s2):
                        if t3 == b"strh" and s3 >= 8:
                            fcc_type = data[p3 : p3 + 4]
                            handler = data[p3 + 4 : p3 + 8]
                            if fcc_type == b"vids" and video_stream is None:
                                # case-insensitive: real muxers emit
                                # MJPG/mjpg/Mjpg; the sniffing router
                                # (media.video_frame_stats) folds the
                                # same way, so router and decoder can
                                # never disagree on a variant
                                if handler.upper() != b"MJPG":
                                    raise ValueError(
                                        "AVI video stream is not MJPG "
                                        f"(handler {handler!r})"
                                    )
                                video_stream = stream_idx
                                if s3 >= 32:
                                    scale, rate = struct.unpack_from(
                                        "<II", data, p3 + 20
                                    )
                                    if scale and rate:
                                        fps = max(1, round(rate / scale))
                    stream_idx += 1
        elif ltype == b"movi":
            if video_stream is None:
                raise ValueError("AVI has no MJPG video stream before movi")
            for t2, p2, s2 in _walk_chunks(data, p + 4, p + size):
                # interleaved files wrap frame chunks in 'rec ' LISTs
                if t2 == b"LIST" and data[p2 : p2 + 4] == b"rec ":
                    for t3, p3, s3 in _walk_chunks(data, p2 + 4, p2 + s2):
                        eat_video_chunk(t3, p3, s3)
                else:
                    eat_video_chunk(t2, p2, s2)

    if video_stream is None:
        raise ValueError("AVI has no MJPG video stream")
    if not frames:
        raise ValueError("AVI has no video frames")
    if total_frames is not None and total_frames != len(frames):
        raise ValueError(
            f"avih declares {total_frames} frames, movi carries {len(frames)}"
        )
    chset = {f.shape[2] for f in frames}
    if len(chset) != 1:
        raise ValueError("frames disagree on channel count")
    return np.stack(frames), fps or 25
