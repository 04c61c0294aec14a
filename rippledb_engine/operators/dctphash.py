"""DCT perceptual hash (classic pHash) — integer-exact 32×32 → 8×8
DCT-II over REAL decoded pixels (r14, VERDICT next-round #6: aHash /
dHash break under recompression and resampling that the DCT hash
survives, because low-frequency DCT coefficients are stable summaries
of the whole field rather than of individual cells).

The classic pipeline (Krawetz, "Looks Like It", 2011 — the pHash
variant): grayscale → resize to 32×32 → 2D DCT-II → keep the top-left
8×8 low-frequency block → bit k = coefficient above the block's
median. Two deliberate exactness choices keep the DuckDB twin bit-for-
bit (float DCTs put libm transcendentals between the engines):

- the DCT basis is a FIXED integer table ``T[u][i] =
  round(cos((2i+1)·u·π/64) · 2048)`` hard-coded below (generated once;
  hard-coding removes any cross-libm rounding concern), so every
  coefficient ``c[u][v] = Σ_ij px·T[u][i]·T[v][j]`` is an exact int64
  (max |c| = 255·(2048·32)² ≈ 1.1e12 ≪ 2^63);
- the median test is the exact integer form ``2·c > m32 + m33`` where
  m32/m33 are the 32nd/33rd smallest of the 64 coefficients (the DC
  coefficient is kept: it always lands above the median, costing one
  constant bit — the standard 63-effective-bit trade for keeping the
  packing uniform with the other 64-bit hashes).

Scale shape: decode + resample + the DCT matmul run in ONE Arrow
``mapInPandas`` pass (format-dispatched); the DCT is ``T @ px @ Tᵀ`` in
numpy int64 — exact integer arithmetic, vectorized per batch, constant
work per image. It is deliberately NOT a JVM fold expression: Catalyst
higher-order functions have no let-binding, so a separable DCT written
as two chained ``transform`` columns gets its row stage re-inlined into
every coefficient access by projection collapse (measured ~1 s/row —
8·32·32-way recomputation), and the explode + basis-join alternative
shuffles ~10k intermediate rows per image. The median test, bit
thresholding, and packing stay JVM-side column expressions over the
64-coefficient array; pairs ride the SAME banded-Hamming blocking as
every other 64-bit fingerprint (operators/imagehash.hamming_pairs).

Reference comparison: n/a (no media surface in /root/reference/src/).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.operators.imagehash import (
    _pack_bits,
    _pack_sql,
    _synth_px_sql,
    decode_image_pixels,
)
from rippledb_engine.operators.multimodal import resize_nearest

DCT_N = 32  # input grid
DCT_K = 8  # low-frequency block kept
DCT_SCALE = 2048  # basis scaling (2^11)

# T[u*32 + i] = round(cos((2i+1)·u·π/64) · 2048), u ∈ 0..7, i ∈ 0..31 —
# hard-coded (not recomputed at import) so no libm can move a rounding.
DCT_BASIS: tuple[int, ...] = (
    2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048,
    2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048,
    2048, 2048, 2048, 2048, 2048, 2048, 2048, 2048, 2046, 2026, 1987, 1928,
    1851, 1757, 1645, 1517, 1375, 1220, 1053, 876, 690, 498, 301, 100, -100,
    -301, -498, -690, -876, -1053, -1220, -1375, -1517, -1645, -1757, -1851,
    -1928, -1987, -2026, -2046, 2038, 1960, 1806, 1583, 1299, 965, 595, 201,
    -201, -595, -965, -1299, -1583, -1806, -1960, -2038, -2038, -1960,
    -1806, -1583, -1299, -965, -595, -201, 201, 595, 965, 1299, 1583, 1806,
    1960, 2038, 2026, 1851, 1517, 1053, 498, -100, -690, -1220, -1645,
    -1928, -2046, -1987, -1757, -1375, -876, -301, 301, 876, 1375, 1757,
    1987, 2046, 1928, 1645, 1220, 690, 100, -498, -1053, -1517, -1851,
    -2026, 2009, 1703, 1138, 400, -400, -1138, -1703, -2009, -2009, -1703,
    -1138, -400, 400, 1138, 1703, 2009, 2009, 1703, 1138, 400, -400, -1138,
    -1703, -2009, -2009, -1703, -1138, -400, 400, 1138, 1703, 2009, 1987,
    1517, 690, -301, -1220, -1851, -2046, -1757, -1053, -100, 876, 1645,
    2026, 1928, 1375, 498, -498, -1375, -1928, -2026, -1645, -876, 100,
    1053, 1757, 2046, 1851, 1220, 301, -690, -1517, -1987, 1960, 1299, 201,
    -965, -1806, -2038, -1583, -595, 595, 1583, 2038, 1806, 965, -201,
    -1299, -1960, -1960, -1299, -201, 965, 1806, 2038, 1583, 595, -595,
    -1583, -2038, -1806, -965, 201, 1299, 1960, 1928, 1053, -301, -1517,
    -2046, -1645, -498, 876, 1851, 1987, 1220, -100, -1375, -2026, -1757,
    -690, 690, 1757, 2026, 1375, 100, -1220, -1987, -1851, -876, 498, 1645,
    2046, 1517, 301, -1053, -1928,
)

assert len(DCT_BASIS) == DCT_K * DCT_N


def dct_bits(media: DataFrame) -> DataFrame:
    """Binary image payloads (any dispatched container) → (media_id,
    decode_ok, bits array<long>[64]): decode → 32×32 nearest resample →
    the 8×8 low-frequency block of the integer-scaled DCT-II → the
    exact median test (2·c > m32 + m33), all in one Arrow
    ``mapInPandas`` pass. The DCT is the exact int64 matmul
    ``T @ px @ Tᵀ`` (no floats anywhere — max |c| ≈ 1.1e12 ≪ 2^63);
    the median comes from one 64-element integer sort. The threshold
    lives here rather than in JVM expressions for the same let-binding
    reason as the DCT (module docstring): a median column referenced
    inside a ``transform`` lambda gets re-inlined per bit by projection
    collapse — measured 9.7 s vs 0.6 s over 5000 images. Corrupt
    payloads survive as decode_ok = false rows."""
    import numpy as np
    import pandas as pd

    has_type = "media_type" in media.columns
    src = media.select(
        "media_id",
        "payload",
        F.col("media_type") if has_type else F.lit("image/png").alias("media_type"),
    )
    T = np.array(DCT_BASIS, dtype=np.int64).reshape(DCT_K, DCT_N)

    def batch_fn(batches):
        for pdf in batches:
            out = {"media_id": [], "decode_ok": [], "bits": []}
            for mid, payload, mt in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                try:
                    w, h, raw = decode_image_pixels(bytes(payload), mt)
                    rs = resize_nearest(w, h, raw, DCT_N, DCT_N)
                    px = (
                        np.frombuffer(rs, dtype=np.uint8)
                        .astype(np.int64)
                        .reshape(DCT_N, DCT_N)
                    )
                    c = (T @ px @ T.T).ravel()
                    s = np.sort(c)
                    m = int(s[31]) + int(s[32])
                    row = (True, [int(2 * x > m) for x in c])
                except ValueError:
                    row = (False, None)
                out["media_id"].append(mid)
                out["decode_ok"].append(row[0])
                out["bits"].append(row[1])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        batch_fn,
        schema=f"media_id {dict(media.dtypes)['media_id']},"
        " decode_ok boolean, bits array<long>",
    )


def dct_phash_images(media: DataFrame) -> DataFrame:
    """Binary image payloads → (media_id, hash_hi, hash_lo): the
    integer DCT pHash. Thresholded bits from :func:`dct_bits` (one
    Arrow pass); the house 64-bit packing is the shared JVM fold over
    the concrete bits column."""
    p = dct_bits(media).where(F.col("decode_ok"))
    return p.select(
        "media_id",
        _pack_bits(F.col("bits"), 0, 32).alias("hash_hi"),
        _pack_bits(F.col("bits"), 32, 64).alias("hash_lo"),
    )


#: confirm radius for the DCT tier when it CONFIRMS aHash drops (the
#: r15 sink gate): identical pixel fields land 0, the planted
#: near-dup perturbations measure ≤ 16 (mixed-corpus probe: same-(g,v)
#: pairs all 0, same-group near pairs p95 = 16), while unrelated images
#: expect ~32 (Bin(64, ½), σ = 4) — so ≤ 16 refutes chance-level fp1
#: collisions at 4σ without costing planted recall
DCT_CONFIRM_MAX_HAMMING = 16


def dual_image_hashes(media: DataFrame) -> DataFrame:
    """Binary image payloads → (media_id, hash_hi, hash_lo, hash2_hi,
    hash2_lo): the aHash AND the DCT pHash from ONE format-dispatched
    decode (r15, VERDICT wrong #1: the sink's drop decision ran
    aHash-only while the certified DCT tier sat in standalone queries —
    carrying both per fetch lets the drop derivation confirm cheap-hash
    pairs with the recompression-robust tier). The Arrow stage emits
    the 8×8 nearest-resampled pixels (aHash's certified input — same
    floor map, so the fp1 bits are bit-identical to ahash_images) plus
    the thresholded DCT bits; both packings stay JVM-side."""
    import numpy as np
    import pandas as pd

    from rippledb_engine.operators.imagehash import _pack_bits

    has_type = "media_type" in media.columns
    src = media.select(
        "media_id",
        "payload",
        F.col("media_type") if has_type else F.lit("image/png").alias("media_type"),
    )
    T = np.array(DCT_BASIS, dtype=np.int64).reshape(DCT_K, DCT_N)

    def batch_fn(batches):
        for pdf in batches:
            out = {"media_id": [], "decode_ok": [], "px": [], "bits": []}
            for mid, payload, mt in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                try:
                    w, h, raw = decode_image_pixels(bytes(payload), mt)
                    p8 = resize_nearest(w, h, raw, 8, 8)
                    rs = resize_nearest(w, h, raw, DCT_N, DCT_N)
                    px = (
                        np.frombuffer(rs, dtype=np.uint8)
                        .astype(np.int64)
                        .reshape(DCT_N, DCT_N)
                    )
                    c = (T @ px @ T.T).ravel()
                    s = np.sort(c)
                    m = int(s[31]) + int(s[32])
                    row = (
                        True,
                        [int(b) for b in p8],
                        [int(2 * x > m) for x in c],
                    )
                except ValueError:
                    row = (False, None, None)
                out["media_id"].append(mid)
                out["decode_ok"].append(row[0])
                out["px"].append(row[1])
                out["bits"].append(row[2])
            yield pd.DataFrame(out)

    p = src.mapInPandas(
        batch_fn,
        schema=f"media_id {dict(media.dtypes)['media_id']},"
        " decode_ok boolean, px array<int>, bits array<long>",
    ).where(F.col("decode_ok"))
    tot = F.aggregate(
        "px", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    abits = F.transform(
        "px",
        lambda x: F.when(x.cast("long") * 64 >= F.col("tot"), 1)
        .otherwise(0)
        .cast("long"),
    )
    return (
        p.withColumn("tot", tot)
        .withColumn("abits", abits)
        .select(
            "media_id",
            _pack_bits(F.col("abits"), 0, 32).alias("hash_hi"),
            _pack_bits(F.col("abits"), 32, 64).alias("hash_lo"),
            _pack_bits(F.col("bits"), 0, 32).alias("hash2_hi"),
            _pack_bits(F.col("bits"), 32, 64).alias("hash2_lo"),
        )
    )


# --- DuckDB oracle twin -------------------------------------------------------


def dct_basis_sql() -> str:
    """CTE ``dct_basis(u, i, t)`` — the hard-coded integer basis as a
    VALUES table (the SAME 256 ints the Spark side folds with)."""
    vals = ", ".join(
        f"({u}, {i}, {DCT_BASIS[u * DCT_N + i]})"
        for u in range(DCT_K)
        for i in range(DCT_N)
    )
    return f"dct_basis(u, i, t) AS (SELECT * FROM (VALUES {vals}))"


def _dct_chain_sql(prefix: str) -> str:
    """The separable integer DCT as two join-aggregations against the
    basis VALUES table, the exact 2·c > m32+m33 median test, and the
    house packing, over a CTE ``{prefix}_px(media_id, k, p)`` with k in
    row-major 0..1023: yields ``{prefix}_phash(media_id, hash_hi,
    hash_lo)``. Shared by every DCT oracle (the basis CTE itself is
    emitted once by the caller)."""
    return f"""{prefix}_r AS (
      SELECT media_id, b.u AS u, px.k % {DCT_N} AS j,
             SUM(CAST(b.t AS BIGINT) * px.p) AS r
      FROM {prefix}_px px JOIN dct_basis b ON b.i = px.k // {DCT_N}
      GROUP BY media_id, b.u, px.k % {DCT_N}
    ),
    {prefix}_c AS (
      SELECT media_id, r.u * {DCT_K} + b.u AS k,
             SUM(CAST(b.t AS BIGINT) * r.r) AS c
      FROM {prefix}_r r JOIN dct_basis b ON b.i = r.j
      GROUP BY media_id, r.u, b.u
    ),
    {prefix}_m AS (
      SELECT media_id,
             SUM(CASE WHEN rn IN (32, 33) THEN c ELSE 0 END) AS m
      FROM (
        SELECT media_id, c,
               ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY c) AS rn
        FROM {prefix}_c
      ) GROUP BY media_id
    ),
    {prefix}_bits AS (
      SELECT c.media_id, k, CASE WHEN 2 * c > m THEN 1 ELSE 0 END AS b
      FROM {prefix}_c c JOIN {prefix}_m USING (media_id)
    ),
    {prefix}_phash AS ({_pack_sql("b", f"{prefix}_bits")})"""


def mixed_dct_phash_sql(groups: int = 25, variants: int = 4) -> str:
    """DuckDB twin of synthesize_mixed_format_images → the DCT pHash
    side of :func:`dual_image_hashes`: the mixed corpus's block-constant
    closed form resampled to the 32×32 DCT grid, then the shared DCT
    chain. Yields ``mxdp_phash(media_id, hash_hi, hash_lo)`` (emits the
    ``dct_basis`` CTE; compose with at most one other DCT chain per
    statement)."""
    return f"""{dct_basis_sql()},
    mxdp_img AS (
      SELECT doc_id AS media_id,
             doc_id % {groups} AS g,
             (doc_id // {groups}) % {variants} AS v,
             8 * (4 + (doc_id % {groups}) % 3) AS sw,
             8 * (4 + (doc_id % {groups}) % 2) AS sh
      FROM documents
    ),
    mxdp_px AS (
      SELECT media_id,
             k,
             (53 * (g + 1) * (blk + 1) * (blk + 1) + 17 * blk
              + CASE WHEN blk % {variants} = v THEN 9 ELSE 0 END) % 256 AS p
      FROM (
        SELECT media_id, g, v, i.i * {DCT_N} + j.j AS k,
               (((i.i * sh) // {DCT_N}) // 8) * (sw // 8)
                 + ((j.j * sw) // {DCT_N}) // 8 AS blk
        FROM mxdp_img,
             generate_series(0, {DCT_N - 1}) AS i(i),
             generate_series(0, {DCT_N - 1}) AS j(j)
      )
    ),
    {_dct_chain_sql("mxdp")}"""


def dct_phash_sql(groups: int = 50, variants: int = 5) -> str:
    """DuckDB twin of synthesize_group_pngs → dct_phash_images: the
    closed-form 32×32 resample (``_synth_px_sql``), the separable
    integer DCT as two join-aggregations against the basis VALUES
    table, the exact 2·c > m32+m33 median test, and the house packing.
    Yields ``dp_phash(media_id, hash_hi, hash_lo)``."""
    px32 = (
        _synth_px_sql(DCT_N, DCT_N, groups, variants)
        .replace("ih_img", "dp_img")
        .replace("ih_px", "dp_px")
    )
    return f"""{px32},
    {dct_basis_sql()},
    dp_r AS (
      SELECT media_id, b.u AS u, px.k % {DCT_N} AS j,
             SUM(CAST(b.t AS BIGINT) * px.p) AS r
      FROM dp_px px JOIN dct_basis b ON b.i = px.k // {DCT_N}
      GROUP BY media_id, b.u, px.k % {DCT_N}
    ),
    dp_c AS (
      SELECT media_id, r.u * {DCT_K} + b.u AS k,
             SUM(CAST(b.t AS BIGINT) * r.r) AS c
      FROM dp_r r JOIN dct_basis b ON b.i = r.j
      GROUP BY media_id, r.u, b.u
    ),
    dp_m AS (
      SELECT media_id,
             SUM(CASE WHEN rn IN (32, 33) THEN c ELSE 0 END) AS m
      FROM (
        SELECT media_id, c,
               ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY c) AS rn
        FROM dp_c
      ) GROUP BY media_id
    ),
    dp_bits AS (
      SELECT c.media_id, k, CASE WHEN 2 * c > m THEN 1 ELSE 0 END AS b
      FROM dp_c c JOIN dp_m USING (media_id)
    ),
    dp_phash AS ({_pack_sql("b", "dp_bits")})"""
