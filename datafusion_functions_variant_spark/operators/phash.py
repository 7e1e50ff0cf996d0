"""Perceptual image hashing + banded near-duplicate blocking.

dHash (difference hash): downsample the gray image 2x2 to a 9x8 grid,
emit 64 bits — bit (gx, gy) = 1 iff grid[gy][gx+1] > grid[gy][gx].
Uniform brightness shifts preserve every comparison (floor((s+4c)/4) =
floor(s/4)+c), so brightness-variant near-dups hash identically; small
local edits flip only the bits whose grid cells they touch.

Blocking: the 64-bit signature splits into four 16-bit bands; a pair
is a candidate iff SOME band matches. By pigeonhole, a pair with
fewer differing bits than bands MUST leave one band clean — so
banding is LOSSLESS for Hamming <= N_BANDS - 1 = 3; from 4 up it is
LSH-style best-effort recall (6 bits can spread 2+2+1+1 over the 4
bands), raise N_BANDS for a lossless higher threshold. The exact
bit_count(xor) verify then removes chance collisions. Never
all-pairs: pairs form only within a (band_idx, band_value) bucket,
through the same routed expansion as the text MinHash banding
(operators/dedup.py::routed_bucket_pairs).

No reference counterpart (the reference is a variant codec,
open-variant/src/values/mod.rs); this is the perceptual-dedup stage a
multimodal training-data pipeline runs over decoded images.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import routed_bucket_pairs

#: fixed dHash geometry: input images are 2*GRID_W x 2*GRID_H gray
GRID_W, GRID_H = 9, 8
N_BANDS = 4
BITS_PER_BAND = (GRID_W - 1) * GRID_H // N_BANDS  # 16


def _dhash_bands_pdf(pdf, id_col: str, payload_col: str):
    """The per-batch body of :func:`dhash_bands`, module-level so it
    is directly unit-testable in-process (``mapInPandas`` bodies run
    in Python worker subprocesses a driver-side tracer or debugger
    never sees): decode, 2x2-average to a 9x8 grid, pack 64 gradient
    bits into four 16-bit band ints."""
    import pandas as pd

    from . import png as pngmod

    rows = []
    for aid, payload in zip(pdf[id_col], pdf[payload_col]):
        d = pngmod.decode_png(bytes(payload))
        # fail LOUDLY at the decode boundary: the grid comprehension
        # below silently reads garbage (or IndexErrors deep inside)
        # on any other geometry
        if (
            d["width"] != 2 * GRID_W
            or d["height"] != 2 * GRID_H
            or d["channels"] != 1
        ):
            raise ValueError(
                f"dhash_bands expects {2 * GRID_W}x{2 * GRID_H}"
                f" single-channel gray images; asset {aid} is "
                f"{d['width']}x{d['height']} with "
                f"{d['channels']} channel(s) — resize/grayscale "
                "upstream (operators/multimodal.py resize plan)"
            )
        w, px = d["width"], d["pixels"]
        grid = [
            [
                (
                    px[2 * gy * w + 2 * gx]
                    + px[2 * gy * w + 2 * gx + 1]
                    + px[(2 * gy + 1) * w + 2 * gx]
                    + px[(2 * gy + 1) * w + 2 * gx + 1]
                )
                // 4
                for gx in range(GRID_W)
            ]
            for gy in range(GRID_H)
        ]
        bands = [0] * N_BANDS
        for gy in range(GRID_H):
            for gx in range(GRID_W - 1):
                if grid[gy][gx + 1] > grid[gy][gx]:
                    i = gy * (GRID_W - 1) + gx
                    bands[i // BITS_PER_BAND] |= 1 << (i % BITS_PER_BAND)
        rows.append((int(aid), *bands))
    return pd.DataFrame(
        rows, columns=[id_col] + [f"band{k}" for k in range(N_BANDS)]
    )


def dhash_bands(assets: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """PNG payloads -> (id, band0..band3) dHash signature, one
    Arrow-batched stage (body: :func:`_dhash_bands_pdf`). Pixels never
    leave the stage — only 4 ints per image do."""

    def run(batches):
        for pdf in batches:
            yield _dhash_bands_pdf(pdf, id_col, payload_col)

    schema = f"{id_col} long, " + ", ".join(
        f"band{k} int" for k in range(N_BANDS)
    )
    return assets.mapInPandas(run, schema)


def neardup_pairs(
    sigs: DataFrame,
    id_col: str,
    max_hamming: int = 6,
    max_bucket: int = 4096,
    observation=None,
) -> DataFrame:
    """Banded blocking + exact verify over dHash signatures. Returns
    (id_a, id_b, hamming) with id_a < id_b, hamming <= max_hamming.

    Each image lands in one (band_idx, band_value) bucket per band;
    ``dedup.routed_bucket_pairs`` pairs the images within each bucket
    (star pairs past ``max_bucket``, so an identical-logo flood stays
    O(n)). The signature rides the band explode, so the Hamming distance
    is computed inside the expansion and candidates never join back to
    ``sigs``; ``distinct()`` collapses multi-band collisions of the same
    pair (the bands are functionally dependent on the id, so a distinct
    over (id_a, id_b, hamming) is a pair distinct).

    Like SimHash star routing, overflow trades away within-bucket
    completeness (non-keeper members are not paired with each other):
    ``n_overflow_buckets > 0`` on the ``observation`` audit is the
    signal to widen bands or run an exact content-md5 canonicalize
    first (``pipeline_media_to_shards`` does)."""
    rows = sigs.select(
        F.struct(
            F.col(id_col).alias("id"),
            *[F.col(f"band{k}") for k in range(N_BANDS)],
        ).alias("member"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("bi"), F.col(f"band{k}").alias("bv"))
                    for k in range(N_BANDS)
                ]
            )
        ).alias("e"),
    ).select("e.bi", "e.bv", "member")
    ham = " + ".join(
        f"bit_count({{a}}.band{k} ^ {{b}}.band{k})" for k in range(N_BANDS)
    )
    pair = f"struct({{a}}.id AS id_a, {{b}}.id AS id_b, cast({ham} AS INT) AS hamming)"
    pairs = routed_bucket_pairs(rows, max_bucket, pair, observation).distinct()
    return pairs.where(F.col("hamming") <= max_hamming)
