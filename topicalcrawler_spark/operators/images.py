"""Image decode / verify / near-dup — U4, U7, J8 (Arrow-batch UDFs).

U4: decode PPM/PNG/qraw with numpy+zlib (no PIL in-sandbox), recompute
dims + 64-bit DCT phash from the *decoded* pixels, and check them
against the carried metadata — the per-row invariant plumbing of
``BASELINE.json:15``.

J8: phash near-duplicate join via LSH banding — the 64-bit hash is
split into k+1 contiguous bands; two images within hamming distance k
share at least one identical band (pigeonhole), so a self-equi-join
on (band_id, band_value) finds every candidate pair with NO cross
product, then `bit_count(a^b) <= k` verifies exactly.  The join is
``analysis.hashing.hamming_pairs``, the one the text SimHash pairs
run; pure JVM, no UDF, shuffle on the band key only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..analysis.hashing import hamming_pairs
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


def phash_near_dup_pairs(corpus: DataFrame, max_hamming: int = 8) -> DataFrame:
    """J8 — (id_a, id_b, hamming) for all image_id pairs with
    hamming(phash) <= max_hamming, over max_hamming+1 bands (the
    minimal band count with a 100% recall guarantee)."""
    n_bands = max_hamming + 1
    return hamming_pairs(
        corpus, "phash", "image_id", n_bands, 64 // n_bands, max_hamming
    ).toDF("id_a", "id_b", "hamming")
