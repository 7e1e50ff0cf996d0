"""Pure-stdlib Y4M (YUV4MPEG2) codec — real video frame extraction.

Completes the multimodal triple next to ``png.py`` (image) and
``wav.py`` (audio): YUV4MPEG2 is the raw-video interchange container
ffmpeg reads/writes (``-f yuv4mpeg``) — an ASCII parameter header, then
``FRAME`` markers each followed by a fixed-size raw plane payload. No
entropy coding, so ``bytes``/``split`` is a complete decoder and the
``frame_extractor`` seam (multimodal.py:frame_sample_plan) gets REAL
frames out of a real container instead of the length-derived fake.

Subset: colorspaces ``Cmono`` (1 byte/px), ``C444`` (3 bytes/px) and
``C420``/``C420jpeg``/``C420mpeg2``/``C420paldv`` (4:2:0 — the spec
DEFAULT and the overwhelmingly common case: Y plane + two
quarter-size chroma planes, ceil-divided for odd dimensions).
Interlaced streams raise ``ValueError`` (a deployment with av/ffmpeg
registers a full demuxer through the same seam). Within the subset
every byte is spec-real: a fixture written here pipes straight into
``ffplay``/``ffmpeg``.
"""

from __future__ import annotations

from pyspark.sql.types import IntegerType, LongType, StructField, StructType

_MAGIC = b"YUV4MPEG2"


def _frame_size(width: int, height: int, colorspace: str) -> int:
    """Frame payload bytes for a colorspace; raises outside the subset."""
    if colorspace == "mono":
        return width * height
    if colorspace == "444":
        return width * height * 3
    if colorspace in ("420", "420jpeg", "420mpeg2", "420paldv"):
        return width * height + 2 * (((width + 1) // 2) * ((height + 1) // 2))
    raise ValueError(
        f"unsupported colorspace C{colorspace}; register an av/ffmpeg "
        "demuxer for full coverage"
    )


def encode_y4m(
    frames: list[bytes], width: int, height: int, colorspace: str = "mono"
) -> bytes:
    """Encode raw frames (each ``width*height*bpp`` bytes) as Y4M."""
    fsize = _frame_size(width, height, colorspace)
    for f in frames:
        if len(f) != fsize:
            raise ValueError(f"frame must be {fsize} bytes, got {len(f)}")
    head = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C{colorspace}\n".encode()
    return head + b"".join(b"FRAME\n" + f for f in frames)


def decode_y4m(payload: bytes) -> dict:
    """Parse a Y4M stream within the subset. Returns ``{"width",
    "height", "colorspace", "frames"}`` (list of raw frame bytes)."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(_MAGIC + b" "):
        raise ValueError("not a Y4M stream: bad magic")
    width = height = None
    colorspace = "420"  # the spec default when no C tag is present
    for tok in payload[len(_MAGIC) + 1 : nl].split(b" "):
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            width = int(t[1:])
        elif t.startswith("H"):
            height = int(t[1:])
        elif t.startswith("C"):
            colorspace = t[1:]
        elif t.startswith("I") and t != "Ip":
            raise ValueError(f"unsupported interlacing {t!r}")
    if width is None or height is None:
        raise ValueError("missing W/H in stream header")
    fsize = _frame_size(width, height, colorspace)
    frames = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        frame = payload[fnl + 1 : fnl + 1 + fsize]
        if len(frame) != fsize:
            raise ValueError("truncated frame payload")
        frames.append(frame)
        pos = fnl + 1 + fsize
    return {
        "width": width,
        "height": height,
        "colorspace": colorspace,
        "frames": frames,
    }


def y4m_frame_extractor(payload: bytes, every_n: int) -> list[tuple[int, bytes]]:
    """``frame_extractor`` seam implementation for
    ``multimodal.frame_sample_plan``: every ``every_n``-th REAL frame
    of a Y4M stream, as (frame_idx, frame_bytes)."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    d = decode_y4m(payload)
    return [(i, f) for i, f in enumerate(d["frames"]) if i % every_n == 0]


def y4m_decoder():
    """``MediaDecoder`` for the registry seam: real decode emitting the
    frame count and the exact pixel-byte sum over every frame — an
    oracle-checkable content proof."""
    from .multimodal import MediaDecoder

    def _decode(payload: bytes) -> dict:
        d = decode_y4m(payload)
        return {
            "n_frames": len(d["frames"]),
            "px_sum": sum(sum(f) for f in d["frames"]),
        }

    return MediaDecoder(
        name="stdlib-y4m",
        fields=StructType(
            [
                StructField("n_frames", IntegerType()),
                StructField("px_sum", LongType()),
            ]
        ),
        fn=_decode,
    )
