"""Perceptual image hashing — near-duplicate detection for the
multimodal (binary image column) tier.

The text side of the engine already carries the full dedup family
(exact / minhash / simhash / jaccard / semdedup); this module gives
images the same capability with the classic perceptual hashes:

- **aHash** (average hash): decode → 8×8 box-mean grayscale grid →
  bit i is 1 iff cell i is brighter than the grid mean → 64-bit
  signature. Robust to re-encoding, scaling and small noise.
- **dHash** (difference/gradient hash): 9×8 grid, bit (row j, col i)
  is 1 iff the right neighbor is brighter than the left → 64-bit
  signature capturing horizontal gradients (more robust to global
  brightness shifts than aHash).

Bit decisions use EXACT integer arithmetic wherever the grid cells
hold equal pixel counts (``cell*64 > sum(cells)`` cross-multiplied,
via ``sources/imagecodec.luminance_cells``), so the signatures are
bit-identical across engines and environments — which is what makes
the DuckDB oracle twin possible (the driver query derives the same
bits closed-form from its deterministic pixel generator). Unequal-
count cells (image dims not divisible by the grid) fall back to
float means; real-image ties at exactly the mean are measure-zero.

Scale shape (the part that must survive 100 TB): candidate pairs are
NEVER all-pairs. ``hamming_near_dup_pairs`` reuses the simhash
pigeonhole blocking — split the 64-bit signature into 4×16-bit
sub-bands; any pair within hamming distance ≤ 3 must agree exactly
on at least one sub-band, so a self-equi-join on (band, band_value)
finds every such pair while touching only colliding buckets. The
hamming filter runs before the distinct. On duplicate-saturated
corpora the pair OUTPUT itself goes quadratic (a verbatim cluster of
c copies is C(c,2) pairs) — ``cap_per_id`` bounds each item to its
nearest ``cap`` neighbors per side, making downstream volume linear;
``block_cols`` adds structural equality keys (e.g. a video frame
position) into the join so impossible candidates never materialize.

Decode tiers mirror ``sources/multimodal._decode_image``: the real
stdlib codec first (PNG/GIF/JPEG/BMP/PPM/VP8L); undecodable blobs
degrade to a deterministic digest-derived signature with
``is_stub = true`` — never an exception, never a dropped row.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.functions.text import hamming64
from data_pipeline_childcare_spark.io import resilient_checkpoint

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

PERCEPTUAL_HASH_FIELDS = "width int, height int, ahash long, dhash long, is_stub boolean"


def _pack64(bits: Sequence[int]) -> int:
    """Pack 64 bit flags (bit i → 1 << i) into a SIGNED 64-bit int,
    matching Spark LongType / parquet INT64 two's-complement."""
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def _cell_bits_vs_mean(cells: list[tuple[int, int]]) -> list[int]:
    """aHash bit rule: cell mean > grand mean of cell means. Exact
    integer cross-multiplication when all counts are equal (the
    common case: dims divisible by the grid); float fallback else."""
    counts = {c for _, c in cells}
    n = len(cells)
    if len(counts) == 1:
        total = sum(t for t, _ in cells)
        return [1 if t * n > total else 0 for t, _ in cells]
    means = [t / c for t, c in cells]
    grand = sum(means) / n
    return [1 if m > grand else 0 for m in means]


def _gradient_bits(cells: list[tuple[int, int]], tw: int, th: int) -> list[int]:
    """dHash bit rule: right neighbor brighter than left, per row.
    Exact when the two neighbors hold equal counts."""
    bits: list[int] = []
    for j in range(th):
        row = cells[j * tw : (j + 1) * tw]
        for i in range(tw - 1):
            (tl, cl), (tr, cr) = row[i], row[i + 1]
            if cl == cr:
                bits.append(1 if tr > tl else 0)
            else:
                bits.append(1 if tr / cr > tl / cl else 0)
    return bits


def perceptual_hashes_bytes(data: bytes) -> tuple[int, int, int, int, bool]:
    """(width, height, ahash, dhash, is_stub) for one image blob —
    the driver-free core, reused by the Spark operator and tests."""
    import hashlib  # noqa: PLC0415

    from data_pipeline_childcare_spark.sources.imagecodec import (  # noqa: PLC0415
        decode_image_stdlib,
        luminance_cells,
    )

    try:
        decoded = decode_image_stdlib(data)
    except Exception:  # noqa: BLE001  (corrupt/unsupported: stub tier)
        decoded = None
    if decoded is not None:
        w, h, mode, pixels = decoded
        a_cells = luminance_cells(w, h, mode, pixels, 8, 8)
        d_cells = luminance_cells(w, h, mode, pixels, 9, 8)
        ahash = _pack64(_cell_bits_vs_mean(a_cells))
        dhash = _pack64(_gradient_bits(d_cells, 9, 8))
        return w, h, ahash, dhash, False
    # deterministic digest fake: stable, collision-unlikely, marked
    digest = hashlib.sha256(data).digest()
    bits_a = [(digest[i // 8] >> (i % 8)) & 1 for i in range(64)]
    bits_d = [(digest[8 + i // 8] >> (i % 8)) & 1 for i in range(64)]
    from data_pipeline_childcare_spark.sources.office import sniff_image_dims  # noqa: PLC0415

    dims = sniff_image_dims(data)
    if dims:
        _, w, h = dims
    else:
        w, h = 64 + digest[0] % 192, 64 + digest[1] % 192
    return w, h, _pack64(bits_a), _pack64(bits_d), True


def image_perceptual_hashes(
    df: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Decode + hash images in Arrow batches (mapInPandas) →
    (*id_cols, path, width, height, ahash, dhash, is_stub).

    ``id_cols`` are carried through the Python stage so downstream
    pair joins key on the caller's id without a re-join or a
    path-parse. One decode per image serves both hashes.
    """
    import pandas as pd  # noqa: PLC0415

    carry = [c for c in id_cols if c != path_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {c: pdf[c] for c in carry}
            out[path_col] = pdf[path_col]
            ws, hs, ah, dh, st = [], [], [], [], []
            for data in pdf[content_col]:
                w, h, a, d, stub = perceptual_hashes_bytes(bytes(data))
                ws.append(w)
                hs.append(h)
                ah.append(a)
                dh.append(d)
                st.append(stub)
            out["width"] = ws
            out["height"] = hs
            out["ahash"] = ah
            out["dhash"] = dh
            out["is_stub"] = st
            yield pd.DataFrame(out)

    in_schema = df.select(*carry, path_col).schema
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_schema)
    return df.select(*carry, path_col, content_col).mapInPandas(
        run, schema=f"{fields}, {PERCEPTUAL_HASH_FIELDS}"
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str = "path",
    sig_col: str = "ahash",
    max_hamming: int = 3,
    block_cols: Sequence[str] = (),
    cap_per_id: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs under a 64-bit signature →
    (id_a, id_b, hamming), id_a < id_b, hamming ≤ ``max_hamming``.

    Pigeonhole blocking: 4 disjoint 16-bit sub-bands; hamming ≤ 3
    flips at most 3 bands, so every qualifying pair agrees exactly on
    ≥ 1 band — the (band, band_value)-keyed self-equi-join is
    COMPLETE for ``max_hamming ≤ 3`` and touches only colliding
    buckets (same recall argument as the simhash operator, which
    owns the text-side variant of this join). Raising ``max_hamming``
    past 3 would need more/narrower bands; this function refuses
    rather than silently losing recall.

    ``block_cols``: extra equality keys added to the band join —
    pairs must ALSO agree on these columns. Use for structural
    alignment constraints (e.g. a video frame position), which then
    prune inside the join instead of via a post-filter: candidates
    that could never qualify are never materialized.

    ``cap_per_id``: per-item candidate-volume guard, the multimodal
    edition of ``operators.dedup.cap_pairs_per_doc``. A verbatim-copy
    cluster of size c emits C(c,2) ≈ c²/2 pairs — the true answer,
    but at 100 TB a duplicate-saturated corpus would shuffle O(dups²)
    rows through every downstream consumer. With the cap each item
    keeps only its ``cap_per_id`` NEAREST neighbors per pair side
    (rank by (hamming, other id) — deterministic, SQL-mirrorable with
    two row_number windows), so downstream pair volume is linear in
    corpus size regardless of cluster structure. None = uncapped
    (exact pair set)."""
    if max_hamming > 3:
        raise ValueError("4x16-bit blocking is only complete for max_hamming <= 3")
    blocks = [c for c in block_cols if c]
    # Lazy checkpoint on the (id, sig) projection: the self-join's
    # broadcast side carries no exchange on the probe path, so WITHOUT
    # the cut the ENTIRE upstream — typically a decode/fingerprint
    # Python chain orders of magnitude costlier than this join —
    # executes once per side (measured: 6 MapInPandas nodes in the
    # video plan, the full synthesize→sample→decode chain duplicated).
    # The materialized relation is narrow (id + one long + block keys;
    # ~tens of bytes/row — MEMORY_AND_DISK spills gracefully at
    # billions of rows), while the decode it avoids re-running is the
    # dominant cost at any scale. Checkpoint instead of persist (r13):
    # same within-invocation reuse with no CacheManager registration —
    # a later identical invocation recomputes from its inputs instead
    # of silently reading this run's cache, and GC frees the blocks.
    sigs = resilient_checkpoint(
        df.select(F.col(id_col), F.col(sig_col), *[F.col(c) for c in blocks])
    )
    banded = sigs.select(
        F.col(id_col),
        F.col(sig_col),
        *[F.col(c) for c in blocks],
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("_band", "_bv"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = (
        (F.col("a._band") == F.col("b._band"))
        & (F.col("a._bv") == F.col("b._bv"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for c in blocks:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    pairs = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col(f"a.{sig_col}"), F.col(f"b.{sig_col}")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    if cap_per_id is not None:
        from data_pipeline_childcare_spark.operators.dedup import (  # noqa: PLC0415
            cap_pairs_per_doc,
        )

        pairs = cap_pairs_per_doc(
            pairs, cap_per_id, order_by=[F.asc("hamming")]
        )
    return pairs
