"""Image decode / verify / near-dup — U4, U7, J8 (Arrow-batch UDFs).

U4: decode PPM/PNG/qraw with numpy+zlib (no PIL in-sandbox), recompute
dims + 64-bit DCT phash from the *decoded* pixels, and check them
against the carried metadata — the per-row invariant plumbing of
``BASELINE.json:15``.

J8: phash near-duplicate join via LSH banding — the 64-bit hash is
split into ``n_bands`` contiguous bands; two images within hamming
distance k share at least one identical band when n_bands > k (pigeon-
hole), so a self-equi-join on (band_id, band_value) finds every
candidate pair with NO cross product, then `bit_count(a^b) <= k`
verifies exactly.  Pure JVM: shiftrightunsigned + mask for banding,
xor + bit_count for hamming — no UDF, broadcast-free, shuffle on the
band key only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analysis.hashing import chunk_explode
from ..core.imagecodec import decode, phash64


def decode_verify(df: DataFrame, bytes_col="bytes", fmt_col="fmt") -> DataFrame:
    """U4 — adds dec_w, dec_h, dec_phash, decode_ok from the payload,
    which is decoded but not returned (its bytes never leave Python)."""
    from pyspark.sql import types as T

    # build a fresh StructType — .add() on df.schema mutates the cached one
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != bytes_col]
        + [
            T.StructField("dec_w", T.IntegerType()),
            T.StructField("dec_h", T.IntegerType()),
            T.StructField("dec_phash", T.LongType()),
            T.StructField("decode_ok", T.BooleanType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            ws, hs, phs, oks = [], [], [], []
            for data, fmt in zip(pdf[bytes_col], pdf[fmt_col]):
                try:
                    px = decode(bytes(data), fmt)
                    hs.append(px.shape[0])
                    ws.append(px.shape[1])
                    phs.append(phash64(px))
                    oks.append(True)
                except Exception:
                    ws.append(0), hs.append(0), phs.append(0), oks.append(False)
            yield pdf.drop(columns=bytes_col).assign(
                dec_w=pd.array(ws, dtype="int32"),
                dec_h=pd.array(hs, dtype="int32"),
                dec_phash=pd.array(phs, dtype="Int64"),
                decode_ok=oks,
            )

    return df.mapInPandas(run, schema=out_schema)


def phash_near_dup_pairs(
    corpus: DataFrame,
    max_hamming: int = 8,
    id_col: str = "image_id",
    phash_col: str = "phash",
    n_bands: int | None = None,
) -> DataFrame:
    """J8 — (id_a, id_b, hamming) for all pairs with hamming <= k.

    n_bands defaults to max_hamming+1 (the minimal band count with a
    100% recall guarantee at distance <= max_hamming).
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    band_bits = 64 // n_bands

    base = corpus.select(
        F.col(id_col).alias("id"), F.col(phash_col).alias("ph")
    )
    # the shared pigeonhole banding (analysis.hashing.chunk_explode —
    # one implementation for SimHash / sign-LSH / phash, unsigned-shift
    # semantics correct for full-range signed-int64 phashes)
    bands = chunk_explode(base, "ph", "id", n_bands, band_bits)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.ph").alias("ph_a"),
            F.col("b.ph").alias("ph_b"),
        )
        .dropDuplicates(["id_a", "id_b"])  # same pair may share several bands
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
