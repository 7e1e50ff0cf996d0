"""Multimodal column conventions + processing plumbing.

Convention: a media asset is an opaque ``binary`` payload column plus
typed metadata columns (mime, width/height/duration, source uri) —
optionally wrapped as one variant column carrying the metadata next to
a content hash. The heavy decode/transform steps run as Arrow-batched
``mapInPandas`` so payload bytes never round-trip through Python row
objects.

The heavyweight decoders (PIL/librosa/av) are NOT in this container:
without a registration the generic decode step raises
``NotImplementedError`` and tests use a deterministic fake. PNG,
however, decodes for REAL via the pure-stdlib codec in ``png.py``
(zlib + struct, all five scanline filters) — registered through the
same ``MediaDecoder`` seam, it gives the decode path genuine
bytes→pixels runtime evidence (``multimodal_png_decode`` query,
oracle-verified pixel sums) while PIL/av remain the production path
for every other format.

Scale notes: payload columns dominate bytes — always
``spark.sql.files.maxPartitionBytes``-bound scans, project metadata
WITHOUT the payload column when only metadata is needed (column
pruning keeps the payload out of IO entirely), and repartition by
content-hash prefix before decode so batches are uniform.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import png, ppm, wav, y4m

#: Metadata schema produced by featurize_binary.
MEDIA_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("magic_hex", StringType()),
    ]
)


@dataclass(frozen=True)
class MediaDecoder:
    """A pluggable payload decoder.

    ``fn(payload) -> dict`` must return exactly the keys named by
    ``fields`` (one value per field, Python scalars matching the Spark
    type). The struct is declared up front because Spark needs a static
    output schema — the decoder's columns are appended to
    MEDIA_META_SCHEMA by featurize_binary.

    The callable is shipped to executors inside the mapInPandas
    closure, so it must be picklable and must import its heavy deps
    (PIL/av/librosa) lazily inside the call, never at module scope.
    """

    name: str
    fields: StructType
    fn: Callable[[bytes], dict]


#: kind (e.g. "image", "audio", "video") → registered MediaDecoder.
_DECODERS: dict[str, MediaDecoder] = {}


def register_decoder(kind: str, decoder: MediaDecoder) -> None:
    """Install a real decoder for a media kind. Deployments with
    PIL/av present call this once at startup; everything downstream
    (featurize_binary, frame_sample_plan) picks it up."""
    _DECODERS[kind] = decoder


def get_decoder(kind: str) -> Optional[MediaDecoder]:
    return _DECODERS.get(kind)


def decode_image(payload: bytes) -> "object":
    """Decode an image payload via the registered "image" decoder.
    No decoder libs ship in this container, so without a registration
    this raises — call sites either register a decoder or use the
    deterministic metadata-only path in featurize_binary."""
    dec = _DECODERS.get("image")
    if dec is not None:
        return dec.fn(payload)
    raise NotImplementedError(
        "image decoding requires PIL/libvips, not present in this container; "
        "register one via register_decoder('image', MediaDecoder(...))"
    )


def _try_autoregister_pil() -> None:
    """If PIL is importable (not in this container, but in a real
    deployment), auto-register an image decoder exposing
    width/height/mode. Import failure is the expected path here."""
    try:
        import PIL.Image  # noqa: F401
    except Exception:
        return

    def _pil_decode(payload: bytes) -> dict:
        import io

        import PIL.Image

        with PIL.Image.open(io.BytesIO(payload)) as im:
            return {"width": im.width, "height": im.height, "mode": im.mode}

    register_decoder(
        "image",
        MediaDecoder(
            name="pil",
            fields=StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("mode", StringType()),
                ]
            ),
            fn=_pil_decode,
        ),
    )


_try_autoregister_pil()


def sniff_kind(p: bytes) -> str:
    """Magic-byte kind sniff; the returned strings double as registry
    kinds for the stdlib decoders (``register_stdlib_decoders``)."""
    if p[:4] == b"\x89PNG":
        return "image/png"
    if p[:2] in (b"P5", b"P6"):
        return "image/ppm"
    if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        return "audio/wav"
    if p[:9] == b"YUV4MPEG2":
        return "video/yuv4mpeg"
    return "application/octet-stream"


def register_stdlib_decoders() -> None:
    """Register the pure-stdlib codecs under mime-flavored kinds (the
    generic "image" kind stays reserved for a real PIL/libvips
    registration — its NotImplementedError stub is the documented
    seam). Idempotent and non-overriding, so a deployment that
    installs better decoders first wins. Runs at import: the registry
    is REAL in this container, with two genuine image formats plus
    audio — ``decode_via_registry`` dispatches across them."""
    for kind, factory in (
        ("image/png", png.png_decoder),
        ("image/ppm", ppm.ppm_decoder),
        ("audio/wav", wav.wav_decoder),
    ):
        if kind not in _DECODERS:
            register_decoder(kind, factory())


def decode_via_registry(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    kinds: tuple,
) -> DataFrame:
    """Decode a MIXED-format payload column by dispatching each asset
    to the registered decoder of its sniffed kind — the multi-kind
    registry path (a single-format corpus can pass its decoder to
    ``featurize_binary`` directly; a crawl corpus cannot).

    All dispatched kinds must declare IDENTICAL output fields (Spark
    needs one static schema); the stdlib PNG and PPM decoders share
    (width, height, channels, px_sum) by design. Decoders are resolved
    from the registry AT PLAN BUILD TIME and captured by value into
    the mapInPandas closure — executors never consult their own copy
    of the registry (whose import-time state may differ from the
    driver's runtime registrations). One Arrow-batched stage; payloads
    never leave it. A payload sniffing to an unrequested or
    unregistered kind fails loudly with the offending asset id.
    """
    if not kinds:
        raise ValueError(
            "decode_via_registry requires at least one kind — pass the "
            "formats this corpus may contain, e.g. kinds=('png', 'ppm')"
        )
    resolved: dict[str, MediaDecoder] = {}
    for kind in kinds:
        dec = get_decoder(kind)
        if dec is None:
            raise ValueError(
                f"no decoder registered for kind {kind!r} — call "
                "register_decoder / register_stdlib_decoders first"
            )
        resolved[kind] = dec
    fields0 = [(f.name, f.dataType) for f in resolved[kinds[0]].fields]
    for kind in kinds[1:]:
        got = [(f.name, f.dataType) for f in resolved[kind].fields]
        if got != fields0:
            raise ValueError(
                f"decoder field mismatch: {kinds[0]!r} declares {fields0}, "
                f"{kind!r} declares {got} — registry dispatch needs one "
                "static schema"
            )
    fns = {k: d.fn for k, d in resolved.items()}
    field_names = [f.name for f in resolved[kinds[0]].fields]
    out_schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("kind", StringType()),
        ]
        + list(resolved[kinds[0]].fields)
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                "asset_id": [],
                "kind": [],
                **{n: [] for n in field_names},
            }
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload)
                kind = sniff_kind(payload)
                fn = fns.get(kind)
                if fn is None:
                    raise ValueError(
                        f"asset {aid}: sniffed kind {kind!r} has no "
                        f"dispatched decoder (requested kinds: {kinds})"
                    )
                decoded = fn(payload)
                cols["asset_id"].append(int(aid))
                cols["kind"].append(kind)
                for n in field_names:
                    cols[n].append(decoded[n])
            yield pd.DataFrame(cols)

    return df.mapInPandas(_decode, out_schema)


register_stdlib_decoders()


def featurize_binary(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    decoder: Optional[MediaDecoder] = None,
) -> DataFrame:
    """Extract metadata features from a binary payload column via
    Arrow-batched mapInPandas (no per-row Python objects for the
    payload — pandas keeps them as bytes).

    Without ``decoder`` the output is the metadata-only
    MEDIA_META_SCHEMA (hashlib stands in for a real decoder). With a
    ``MediaDecoder`` — passed explicitly or registered via
    register_decoder — its declared fields are appended to the schema
    and its ``fn`` runs once per payload inside the same Arrow batch
    loop, so plugging in PIL changes no plan shape: same single
    mapInPandas stage, wider output struct.
    """
    out_schema = MEDIA_META_SCHEMA
    if decoder is not None:
        out_schema = StructType(list(MEDIA_META_SCHEMA.fields) + list(decoder.fields))
    decode_fn = decoder.fn if decoder is not None else None
    extra_names = [f.name for f in decoder.fields] if decoder is not None else []

    _sniff = sniff_kind

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payloads = pdf[payload_col]
            cols = {
                "asset_id": pdf[id_col],
                "mime": [_sniff(p) for p in payloads],
                "n_bytes": [len(p) for p in payloads],
                "content_md5": [hashlib.md5(p).hexdigest() for p in payloads],
                "magic_hex": [p[:4].hex() for p in payloads],
            }
            if decode_fn is not None:
                decoded = [decode_fn(p) for p in payloads]
                for fname in extra_names:
                    cols[fname] = [d[fname] for d in decoded]
            yield pd.DataFrame(cols)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        _featurize, out_schema
    )


#: Schema of the asset frames ``synthesize_assets`` and ``map_payloads``
#: emit.
_ASSET_SCHEMA = "asset_id long, payload binary"


def synthesize_assets(
    ids: DataFrame, id_col: str, payload_fn: Callable[[int], bytes]
) -> DataFrame:
    """``(asset_id, payload)`` with ``payload_fn(id)`` for each row of
    ``ids``, in one Arrow-batched mapInPandas stage. Rows keep their
    input order: ids sorted below this stage come back sorted through
    every order-keeping stage above it, so only the 8-byte id crosses
    the range exchange and the range partitioner's sample job never
    runs the Python chain a second time."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_ = pdf[id_col]
            yield pd.DataFrame(
                {"asset_id": ids_, "payload": [payload_fn(int(i)) for i in ids_]}
            )

    return ids.select(id_col).mapInPandas(_synth, _ASSET_SCHEMA)


def map_payloads(assets: DataFrame, fn: Callable[[bytes], bytes]) -> DataFrame:
    """Per-payload transform stage ``(asset_id, payload) → (asset_id,
    fn(payload))`` (resize, resample, transcode), one Arrow-batched
    mapInPandas that keeps row order. A PIL/libvips/av transform drops
    in as ``fn`` with no change to the plan."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": [fn(bytes(p)) for p in pdf["payload"]],
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(_map, _ASSET_SCHEMA)


# Synthetic payloads: each is a pure function of the asset id, and the
# multimodal queries' DuckDB oracles replay its formula arithmetically.


def png_gray(i: int) -> bytes:
    """(8 + i%5) x (6 + i%4) gray PNG, pixel (x, y) = (i + 7x + 13y)
    % 256, scanline filter i % 5 (all five spec filters over the ids)."""
    w, h = 8 + i % 5, 6 + i % 4
    pix = bytes((i + 7 * x + 13 * y) % 256 for y in range(h) for x in range(w))
    return png.encode_png(w, h, pix, 1, filter_type=i % 5)


def ppm_image(i: int) -> bytes:
    """(9 + i%6) x (5 + i%3) Netpbm image, RGB (P6) for i % 4 == 1 and
    gray (P5) otherwise; sample (x, y, c) = (i + 7x + 13y + 97c) % 251."""
    w, h = 9 + i % 6, 5 + i % 3
    cc = 3 if i % 4 == 1 else 1
    pix = bytes(
        (i + 7 * x + 13 * y + 97 * c) % 251
        for y in range(h)
        for x in range(w)
        for c in range(cc)
    )
    return ppm.encode_ppm(w, h, pix, cc)


def wav_sawtooth(i: int) -> bytes:
    """8 kHz mono 16-bit WAV of 30 + i%20 samples, sample j =
    (i + 37j) % 4001 - 2000."""
    return wav.encode_wav(
        [(i + 37 * j) % 4001 - 2000 for j in range(30 + i % 20)], 8000, 1
    )


def y4m_letters(i: int) -> bytes:
    """4x2 mono Y4M of 6 + i%4 frames; pixel p of frame f is the ASCII
    letter 65 + (i + 3f + 5p) % 26, so an oracle can rebuild each
    frame as text."""
    frames = [
        bytes(65 + (i + 3 * f + 5 * p) % 26 for p in range(8))
        for f in range(6 + i % 4)
    ]
    return y4m.encode_y4m(frames, 4, 2)


def phash_png(i: int, group_modulus: int) -> bytes:
    """18x16 gray PNG for perceptual dedup. Pattern group b = i %
    group_modulus picks the gradient; variant v = i // group_modulus
    adds a +2v uniform brightness shift (dHash-invariant) and, for
    v % 4 == 3, a +40 blob over pixels x<2, y<4 (flips only band-0
    bits)."""
    b, v = i % group_modulus, i // group_modulus
    pix = bytes(
        ((11 + b) * x + (23 + 2 * b) * y) % 97
        + 2 * v
        + (40 if v % 4 == 3 and x < 2 and y < 4 else 0)
        for y in range(16)
        for x in range(18)
    )
    return png.encode_png(18, 16, pix, 1, filter_type=i % 5)


def frame_sample_plan(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    every_n: int = 30,
    frame_extractor: Optional[Callable[[bytes, int], list]] = None,
) -> DataFrame:
    """Plumbing for video frame sampling: emits one row per sampled
    frame index with the parent asset id.

    ``frame_extractor(payload, every_n) -> [(frame_idx, frame_bytes)]``
    is the av/ffmpeg seam; a deployment with a container demuxer
    registers it (or registers a "video" MediaDecoder whose fn wraps
    it). Without one, frame count is derived deterministically from
    payload length (1 fake frame per 64 bytes) so the fan-out shape —
    the part that matters for partitioning — is real either way."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_md5", StringType()),
        ]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for aid, p in zip(pdf[id_col], pdf[payload_col]):
                if frame_extractor is not None:
                    for fi, fbytes in frame_extractor(p, every_n):
                        ids.append(aid)
                        idxs.append(fi)
                        hashes.append(hashlib.md5(fbytes).hexdigest())
                    continue
                n_frames = max(1, len(p) // 64)  # fake: 1 frame per 64 bytes
                for fi in range(0, n_frames, every_n):
                    ids.append(aid)
                    idxs.append(fi)
                    # deterministic fake frame hash: payload ++ ":idx"
                    # (text-safe suffix so a SQL oracle can reproduce it)
                    hashes.append(
                        hashlib.md5(p + b":" + str(fi).encode()).hexdigest()
                    )
            yield pd.DataFrame({"asset_id": ids, "frame_idx": idxs, "frame_md5": hashes})

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(_sample, schema)


def audio_frame_plan(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    win: int = 64,
    hop: int = 32,
) -> DataFrame:
    """Plumbing for audio feature framing (the STFT/fbank front-end
    shape): one row per analysis window of ``win`` payload bytes
    advanced by ``hop`` — the standard 25ms/10ms overlapping-window
    layout, scaled to the synthetic payloads. Unlike the video
    sampler's stubbed decode, the per-frame CONTENT hash is real (md5
    of the actual byte slice), so an oracle can verify every frame's
    bytes, not just the fan-out arithmetic. Assets shorter than one
    window emit a single truncated frame.

    Same 100 TB discipline as the rest of the module: Arrow-batched
    mapInPandas, payload bytes never become per-row Python objects
    outside the batch loop, fan-out (and therefore downstream
    partition sizing) is a pure function of payload length."""
    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("offset", IntegerType()),
            StructField("frame_md5", StringType()),
        ]
    )

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, offs, hashes = [], [], [], []
            for aid, p in zip(pdf[id_col], pdf[payload_col]):
                n = len(p)
                n_frames = max(1, (n - win) // hop + 1) if n >= win else 1
                for fi in range(n_frames):
                    off = fi * hop
                    ids.append(aid)
                    idxs.append(fi)
                    offs.append(off)
                    hashes.append(hashlib.md5(p[off : off + win]).hexdigest())
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": idxs, "offset": offs, "frame_md5": hashes}
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(_frames, schema)
