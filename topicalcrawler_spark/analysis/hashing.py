"""Shared hash / tokenization expressions for the analysis operators.

Design rule: every hash used by an oracle-checked operator is derived
from md5 (present in both Spark and DuckDB with identical output), so
correctness can be verified end-to-end by an independent SQL engine.
The crawl engine's physical plane (partitioning, bloom) keeps using
xxhash64, which is faster but Spark-only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash60_expr(col: str | Column) -> Column:
    """Deterministic 60-bit positive hash: first 15 hex chars of md5.

    DuckDB equivalent: ``CAST('0x' || substring(md5(x),1,15) AS BIGINT)``.
    60 bits keeps the value positive in both engines' int64.
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("long")


def hash60_sql(x: str) -> str:
    """The DuckDB-side twin of hash60_expr (oracle SQL fragment)."""
    return f"CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"


def tokens_expr(text: str | Column = "text") -> Column:
    """Whitespace tokens. DuckDB twin: ``string_split(text, ' ')``."""
    return F.split(_c(text), " ")


def shingles_expr(text: str | Column = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (empty if < n words).

    DuckDB twin::

        list_transform(range(0, greatest(len(toks)-{n-1}, 0)),
                       i -> array_to_string(toks[i+1:i+{n}], ' '))
    """
    toks = tokens_expr(text)
    ntok = F.size(toks)
    return F.when(
        ntok >= n,
        F.transform(
            F.sequence(F.lit(0), ntok - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def chunk_explode(
    df, sig_col: str, id_col: str, n_chunks: int, chunk_bits: int
):
    """Pigeonhole banding: explode a packed int signature into its
    ``n_chunks`` bit-chunks as (c, chunk) rows.  Two signatures within
    hamming < n_chunks must agree on at least one chunk (pigeonhole),
    so an equi-join on (c, chunk) is a LOSSLESS candidate generator.
    The one banding implementation shared by the SimHash
    (analysis.dedup.simhash_pairs), sign-LSH
    (analysis.similarity.lsh_topk), and image-phash
    (operators.images.phash_near_dup_pairs) paths — hand-copied
    variants could silently drift on the shift/mask math.

    shiftrightUNSIGNED + AND, not arithmetic shiftright + ``%``: the
    two agree on non-negative signatures (SimHash/sign-LSH are 60-bit
    positive), but image phashes occupy the full signed int64 range —
    an arithmetic shift sign-extends the top chunks and ``%`` keeps the
    dividend's sign, so two signatures differing ONLY in bit 63 could
    alias to one chunk value (spurious candidates; recall unaffected
    but bucket sizes inflate)."""
    mask = (1 << chunk_bits) - 1
    return df.select(
        id_col,
        sig_col,
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"shiftrightunsigned({sig_col}, {c * chunk_bits})"
                    ).bitwiseAND(F.lit(mask))
                    for c in range(n_chunks)
                ]
            )
        ).alias("c", "chunk"),
    )
