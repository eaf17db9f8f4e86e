"""Similarity search over an embedding column (task brief: ANN surface).

- cosine_topk:    brute-force exact top-k (broadcast the query side) —
                  the correctness baseline, oracle-checkable.
- cosine_neardup: exact all-pairs near-dup at a cosine threshold.
- lsh_signatures / lsh_topk: random-hyperplane sign-LSH — the scale
  path. Signatures are computed in one Arrow-batched numpy matmul per
  batch (vectorized pandas UDF, no per-row Python); candidates bucket
  on signature bands, exact cosine re-ranks survivors.
- ivf_build / ivf_topk: IVF variant — Lloyd-iteration centroids built
  with DataFrame ops (posexplode + fixed-point groupBy mean, order-
  independent by construction), probe the nprobe nearest cells only.

Determinism: all floating math that an oracle checks is done in double
precision with a fixed left-to-right fold (F.aggregate), then rounded
to 6 decimals — bit-identical to DuckDB's sequential list_sum over the
same values.

Scale notes: brute force is O(n·q) — fine for a broadcast-able query
set, wrong for n×n; near-dup at 100 TB goes through sign-LSH banding
(shuffle on band key only) exactly like MinHash/SimHash in
analysis.dedup. IVF bounds each probe to nprobe/k of the corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .hashing import chunk_explode

LSH_SEED = 42

# ivf_neardup's in-cell scorer bounds its dot block to ~this many
# doubles regardless of cell skew (module-level so tests can shrink it
# to force the multi-chunk path on small fixtures).
NEARDUP_BLOCK = 1 << 22


def _topn_by_dist_then_idx(d2: np.ndarray, take: int) -> np.ndarray:
    """Per-row indices of the ``take`` smallest entries, ordered by
    (value, column index) — bit-identical output to
    ``np.argsort(d2, axis=1, kind="stable")[:, :take]`` but O(m) per
    row instead of O(m log m).  The sf100 sweep measured the full
    stable argsort of a (2048 × 7813) distance block at 1120 ms vs
    9 ms for argmin — ~95% of the whole IVF assignment pass once
    auto_cells makes m grow with the corpus, and pure waste when only
    nprobe (1–4) columns are consumed.

    Exactness on ties: stable argsort's prefix is precisely the
    ``take`` smallest by the lexicographic key (value, column).  The
    fast path preserves that key — np.argmin returns the FIRST minimum
    (= smallest column), and masking each round's winner to +inf makes
    the next argmin the next-smallest (value, column) — a ``take``-step
    selection sort, O(take·m) per row.  So replicated or symmetric
    inputs with exact float ties assign identically to the argsort
    form and driver-checked results cannot shift.  Distances are
    finite by construction (squared L2 of finite vectors), so +inf is
    a safe mask.  MUTATES ``d2`` when take > 1 (callers compute it
    fresh per batch and never reuse it)."""
    n, m = d2.shape
    if take >= m:
        return np.argsort(d2, axis=1, kind="stable")[:, :take]
    if take == 1:
        return np.argmin(d2, axis=1)[:, None]
    out = np.empty((n, take), dtype=np.int64)
    r = np.arange(n)
    for t in range(take):
        am = np.argmin(d2, axis=1)
        out[:, t] = am
        d2[r, am] = np.inf
    return out


def _dot_expr(a, b) -> F.Column:
    """Deterministic double dot product: left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_expr(a) -> F.Column:
    return F.sqrt(_dot_expr(a, a))


def with_norm(emb: DataFrame, col: str = "embedding") -> DataFrame:
    return emb.withColumn("norm", _norm_expr(F.col(col)))


def _with_qnorm(queries: DataFrame) -> DataFrame:
    """Precompute the query-side norm ONCE per query before the
    broadcast — inlining _norm_expr(qvec) into the pair-scoring
    expression would re-run the O(dim) fold once per (corpus x query)
    row on the hottest path.  Same expression on the same values, so
    scores are bit-identical."""
    return queries.withColumn("qnorm", _norm_expr(F.col("qvec")))


def _assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Vector → its ``nprobe`` nearest centroid cells by L2
    (deterministic tie-break on cell id).  Returns the input columns
    plus ``cell``.  The ONE assignment implementation shared by
    ivf_build / ivf_topk / ivf_neardup — three hand-copied variants
    could silently drift apart on a tie-break or distance change.
    ``df`` must not already carry a ``cell`` column.

    Zero-shuffle: the original form cross-joined the broadcast
    centroids and ranked with a Window.partitionBy(id) — which
    SHUFFLES corpus × n_cells rows per assignment (at 10^10 vectors ×
    even 16 cells, the single largest exchange of the whole IVF path,
    and pure overhead: the argmin needs only row-local data).  Now the
    (tiny: n_cells × dim) centroid table is collected once, broadcast
    with the closure, and each Arrow batch computes every distance in
    ONE BLAS GEMM via ‖x−c‖² = ‖x‖² − 2·x·cᵀ + ‖c‖² — under
    auto_cells the centroid count grows with the corpus, so the
    per-centroid-loop form this replaces made assignment the
    dominating n·m·d memory-traffic pass of the whole IVF path
    (measured 21 s of the sf10 ivf_build; the GEMM stays in cache).

    Determinism: distances enter only through the exact (value,
    cell-id) top-n selection ``_topn_by_dist_then_idx`` (ties resolve
    to the smaller cell id — centroids are pre-sorted).  The
    GEMM expansion is algebraically the fold distance with different
    rounding (O(ε) relative), so it can differ from the fold form only
    where two centroids are near-EXACTLY equidistant — moving such a
    vector between two equally-good cells.  Every consumer is
    recall-gated with margin (ivf_topk / ivf_neardup derived
    assertions), never distance-hash-checked, which is what makes the
    fast form admissible here and NOT in the oracle-checked cosine
    scorers (those keep the left fold).

    Python-boundary shape (round-5 sf100 finding): the earlier
    mapInPandas form round-tripped EVERY input column — most painfully
    the embedding itself — through Arrow and pandas both ways, and the
    output side's rebuild of a 2M × 64-double list column was ~24 s of
    a 57 s assignment pass.  Only the vector column is needed IN and
    only the cell ids are needed OUT, so the assignment is now a
    vectorized pandas UDF over just ``vec_col``: every other column
    (embedding included) stays JVM-resident, the UDF ships ints back,
    and nprobe > 1 expands via a JVM-side explode."""
    crows = sorted(
        (
            (int(r["cell"]), np.asarray(r["centroid"], dtype=np.float64))
            for r in centroids.select("cell", "centroid").collect()
        ),
        key=lambda t: t[0],
    )
    cell_ids = np.array([c for c, _ in crows], dtype=np.int32)
    C = np.stack([v for _, v in crows])  # (m, dim)
    b_cents = df.sparkSession.sparkContext.broadcast((cell_ids, C))
    take = min(int(nprobe), len(cell_ids))

    def _dists(col: pd.Series) -> np.ndarray:
        cells_, C_ = b_cents.value
        CT = np.ascontiguousarray(C_.T)  # (dim, m) for the GEMM
        cn2 = np.einsum("ij,ij->i", C_, C_)  # ‖c‖², once per batch
        M = np.stack(col.to_numpy()).astype(np.float64)
        d2 = M @ CT  # one BLAS pass over batch × m × d
        d2 *= -2.0
        d2 += np.einsum("ij,ij->i", M, M)[:, None]
        d2 += cn2[None, :]
        return d2

    if take == 1:

        @F.pandas_udf(T.IntegerType())
        def cell_of(col: pd.Series) -> pd.Series:
            if len(col) == 0:
                return pd.Series(np.empty(0, dtype=np.int32))
            cells_ = b_cents.value[0]
            idx = _topn_by_dist_then_idx(_dists(col), 1)
            return pd.Series(cells_[idx].reshape(-1))

        return df.withColumn("cell", cell_of(F.col(vec_col)))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_of(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        cells_ = b_cents.value[0]
        idx = _topn_by_dist_then_idx(_dists(col), take)
        return pd.Series(list(cells_[idx]))

    return df.withColumn("cell", F.explode(cells_of(F.col(vec_col))))


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-k of (query_id, vec_id, cosine) rows without
    a whole-candidate-set window partition.  The single-window form
    puts EVERY scored row for a query into one task (WindowExec holds
    the full partition) — the entire corpus per query for brute force,
    nprobe/n_cells of it for IVF: fatal at the 10^10 design point and
    the same hazard the politeness scheduler's salted two-stage top-k
    exists for.  Stage 1 ranks within (query_id, input partition), so
    a group is bounded by one scan partition (maxPartitionBytes), and
    keeps k rows per group; stage 2's global window then sees at most
    k x n_partitions rows per query.  Results are IDENTICAL to the
    single window: every global top-k row is necessarily within the
    local top-k of whichever partition holds it (ties fully broken by
    vec_id, so ranks are deterministic), and the result does not
    depend on the partition assignment — spark_partition_id being
    retry-dependent is therefore harmless."""
    order = (F.col("cosine").desc(), F.col("vec_id").asc())
    w_local = Window.partitionBy("query_id", "pid").orderBy(*order)
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.select("query_id", "vec_id", "cosine")
        .withColumn("pid", F.spark_partition_id())
        .withColumn("lrnk", F.row_number().over(w_local))
        .filter(F.col("lrnk") <= k)
        .withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def cosine_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact brute-force top-k by cosine for each query vector.

    ``queries``: (query_id, qvec). The query side is broadcast — at
    scale this is the classic small-q × huge-n pattern: one scan of the
    corpus, no shuffle until the tiny per-query top-k window.
    Output: (query_id, vec_id, cosine, rnk), rnk 1..k, ties broken by
    vec_id for determinism.
    """
    base = with_norm(emb).select("vec_id", "embedding", "norm")
    scored = (
        base.crossJoin(F.broadcast(_with_qnorm(queries)))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot_expr(F.col("embedding"), F.col("qvec"))
                / (F.col("norm") * F.col("qnorm")),
                6,
            ),
        )
    )
    return _topk_per_query(scored, k)


def cosine_neardup(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Exact all-pairs cosine near-dup: (vec_a, vec_b, cosine) with
    vec_a < vec_b and cosine >= threshold. O(n^2) — the oracle-checked
    baseline; the scale path is ivf_neardup / lsh banding.

    Vectorized exact scoring: the original theta-join form evaluated an
    INTERPRETED F.aggregate fold per pair (higher-order functions never
    enter codegen) — 64 boxed lambda steps × n² pairs dominated the
    whole entry's wall.  Now the corpus is collected once (a baseline-
    only move: this operator exists to check the bucketed paths at
    small SF, never to run at 10^10 — its docstring has said so since
    round 2) and broadcast; each Arrow batch scores its rows against
    every HIGHER-id vector in one numpy pass.

    Kernel shape (round-5 sf10 finding): the first numpy form did
    ``M[ids > vid]`` — a fancy-index COPY of the (suffix × dim) corpus
    slab, ~50-100 MB per query row at 200k vectors — plus a same-shape
    cumsum temp, turning an O(n²·d) compute into O(n²·d·8B) allocator
    churn (projected hours at sf10).  Since the corpus is sorted by
    vec_id and ids are unique, ``ids > vid`` is a contiguous suffix:
    ``searchsorted`` yields a zero-copy VIEW, the matrix is broadcast
    TRANSPOSED (d, n) so each per-dimension stream is contiguous, and
    the dot is an explicit ascending-j axpy fold — per query row the
    only traffic is one sequential read of the suffix.

    Bit-identical by the same argument as ``_assign_cells``: products
    are elementwise (IEEE multiply is commutative) and the axpy loop
    accumulates them in ascending element order — exactly the cumsum
    left fold, which is exactly the zip_with+aggregate left fold; the
    first term seeds the accumulator (no 0.0+x sign-of-zero edge), and
    norms are sqrt of the same fold.  Candidates are pre-filtered
    executor-side at ``threshold - 1e-6`` on the unrounded cosine
    (round-to-6 moves a value by ≤ 5e-7, so nothing the authoritative
    filter keeps can be lost), then the SAME F.round + threshold
    filter as before runs in Spark SQL on the surviving pairs."""
    rows = sorted(
        emb.select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
    )
    norms = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
    MT = np.ascontiguousarray(M.T)  # (d, n): contiguous per-dim streams
    b_corpus = emb.sparkSession.sparkContext.broadcast((ids, MT, norms))
    thr = float(threshold)

    def score(batches):
        ids_, MT_, norms_ = b_corpus.value
        n, d = ids_.shape[0], MT_.shape[0]
        for pdf in batches:
            out_a, out_b, out_dot, out_na, out_nb = [], [], [], [], []
            for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                # vec_a < vec_b pairs only: sorted unique ids make the
                # strictly-greater set a contiguous suffix (view).
                lo = int(np.searchsorted(ids_, vid, side="right"))
                if lo >= n:
                    continue
                x = np.asarray(vec, dtype=np.float64)
                dots = MT_[0, lo:] * x[0]
                for j in range(1, d):
                    dots += MT_[j, lo:] * x[j]
                na = np.sqrt(np.cumsum(x * x)[-1])
                cos = dots / (na * norms_[lo:])
                keep = cos >= thr - 1e-6
                if not keep.any():
                    continue
                out_a.append(np.full(int(keep.sum()), vid, dtype=np.int64))
                out_b.append(ids_[lo:][keep])
                out_dot.append(dots[keep])
                out_na.append(np.full(int(keep.sum()), na))
                out_nb.append(norms_[lo:][keep])
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "_dot": np.concatenate(out_dot),
                        "_na": np.concatenate(out_na),
                        "_nb": np.concatenate(out_nb),
                    }
                )

    cand = emb.select("vec_id", "embedding").mapInPandas(
        score,
        schema="vec_a long, vec_b long, _dot double, _na double, _nb double",
    )
    return (
        cand.withColumn(
            "cosine",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("cosine") >= thr)
        .select("vec_a", "vec_b", "cosine")
    )


def ivf_neardup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    nprobe: int = 2,
    block: int = NEARDUP_BLOCK,
) -> DataFrame:
    """IVF-bucketed near-dup pairs — the 100-TB scale path for
    ``cosine_neardup`` (whose all-pairs form is the oracle baseline,
    never the production plan).  Multi-probe indexing: each vector is
    ASSIGNED to its ``nprobe`` nearest cells, pairs are generated only
    within a shared cell (equi-join on cell — no cross product), exact
    cosine verifies every candidate, and duplicates from multi-cell
    co-residence are dropped.  Recall loss is only the pairs whose two
    members share none of their nprobe cells; raising nprobe trades
    compute for recall.  Output: (vec_a, vec_b, cosine) like the exact
    operator.

    Plan shape (round-5 sf10 finding): the original form materialized
    the candidate PAIR LIST as a DataFrame — within-cell self-join, a
    distinct over every candidate (~n·(nprobe·cell)²/(2·cell) rows,
    ~10⁸ at 200k vectors), then TWO joins back to the corpus fetching
    both 64-float embeddings per pair and an interpreted F.aggregate
    dot per row.  The pair list is pure intermediate state: both
    members of every candidate already sit in the same cell group, so
    one groupBy(cell).applyInPandas scores each cell's members against
    each other in vectorized numpy and emits ONLY the pairs surviving
    the threshold prefilter.  Remaining shuffles: the one cell-key
    exchange (unavoidable — it IS the bucketing) and a distinct over
    surviving pairs (output-sized, not candidate-sized).  Only the dot
    block is bounded regardless of quantizer skew (rows are scored in
    chunks of ~2²² / cell_size against the strictly-greater suffix, so
    it stays under ~32 MB); the per-group embedding stack is not, and
    under ``auto_cells`` it grows as nprobe·√n rows.

    Dots are bit-identical to ``cosine_neardup``'s for a shared pair:
    the block dot is an ascending-j rank-1 fold (element-order
    accumulation — exactly the zip_with+aggregate left fold), norms
    are sqrt of the same fold, and the SAME F.round + threshold filter
    runs in Spark SQL — so multi-probe duplicate rows are exact
    duplicates and the output distinct is deterministic."""
    assigned = _assign_cells(
        emb.select("vec_id", "embedding"), centroids,
        "embedding", "vec_id", nprobe=nprobe,
    )
    thr = float(threshold)
    blk = int(block)  # captured by value — a plain int survives pickling

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        c = len(ids)
        if c < 2:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series(dtype="int64"),
                    "vec_b": pd.Series(dtype="int64"),
                    "_dot": pd.Series(dtype="float64"),
                    "_na": pd.Series(dtype="float64"),
                    "_nb": pd.Series(dtype="float64"),
                }
            )
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        d = M.shape[1]
        step = max(1, blk // c)
        out_a, out_b, out_dot, out_na, out_nb = [], [], [], [], []
        for s in range(0, c - 1, step):
            e = min(s + step, c - 1)
            A = M[s:e]  # chunk of query rows (views, no copy)
            S = M[s + 1:]  # strictly-greater candidate suffix
            # ascending-j rank-1 fold == the zip_with+aggregate left
            # fold; first term seeds (no 0.0+x edge), out= buffers
            # keep the per-j traffic allocation-free.
            D = np.multiply.outer(A[:, 0], S[:, 0])
            tmp = np.empty_like(D)
            for j in range(1, d):
                np.multiply.outer(A[:, j], S[:, j], out=tmp)
                D += tmp
            cos = D / np.multiply.outer(norms[s:e], norms[s + 1:])
            ii, kk = np.nonzero(cos >= thr - 1e-6)
            # local row i is global s+i; local col k is global s+1+k;
            # keep only strictly-upper pairs (global col > global row)
            keep = kk >= ii
            if not keep.any():
                continue
            ii, kk = ii[keep], kk[keep]
            ga, gb = s + ii, s + 1 + kk
            out_a.append(ids[ga])
            out_b.append(ids[gb])
            out_dot.append(D[ii, kk])
            out_na.append(norms[ga])
            out_nb.append(norms[gb])
        if not out_a:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series(dtype="int64"),
                    "vec_b": pd.Series(dtype="int64"),
                    "_dot": pd.Series(dtype="float64"),
                    "_na": pd.Series(dtype="float64"),
                    "_nb": pd.Series(dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "_dot": np.concatenate(out_dot),
                "_na": np.concatenate(out_na),
                "_nb": np.concatenate(out_nb),
            }
        )

    pairs = assigned.groupBy("cell").applyInPandas(
        score_cell,
        schema="vec_a long, vec_b long, _dot double, _na double, _nb double",
    )
    return (
        pairs.withColumn(
            "cosine",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
        .distinct()
    )


def _hyperplanes(dim: int, nbits: int, seed: int = LSH_SEED) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((dim, nbits))


def lsh_signatures(
    emb: DataFrame, dim: int = 64, nbits: int = 16, seed: int = LSH_SEED
) -> DataFrame:
    """Sign-LSH signature per vector: bit j = (e · h_j) >= 0, packed to
    one long. One numpy matmul per Arrow batch — fully vectorized."""
    planes = _hyperplanes(dim, nbits, seed)
    b_planes = emb.sparkSession.sparkContext.broadcast(planes)
    weights = (1 << np.arange(nbits)).astype(np.int64)

    def sign(batches):
        H = b_planes.value
        for pdf in batches:
            if len(pdf) == 0:
                continue  # np.stack raises on an empty batch
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = (M @ H) >= 0.0
            pdf = pdf[["vec_id"]].copy()
            pdf["sig"] = bits @ weights
            yield pdf

    return emb.select("vec_id", "embedding").mapInPandas(
        sign, schema="vec_id long, sig long"
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 16,
    max_hamming: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors whose LSH
    signature is within ``max_hamming`` sign-bits of the query's
    (lossless chunk-band join, pigeonhole over max_hamming+1 chunks),
    re-ranked by exact cosine. Output like cosine_topk.

    Tuning note: sign-LSH separation depends on the data's neighbor
    contrast — a pair at cosine c has expected signature hamming
    nbits·acos(c)/π, so for weakly-clustered corpora (like the
    sandbox's gaussian embeddings, where top-10 neighbors sit at
    c≈0.4) a generous max_hamming is needed for recall; on strongly
    clustered data tighten it (or raise nbits) to shrink candidates.
    IVF (ivf_topk) is the better scale path when clusters exist.
    """
    n_chunks = max_hamming + 1
    chunk_bits = nbits // n_chunks

    sigs = lsh_signatures(emb, dim=dim, nbits=nbits)
    qsigs = lsh_signatures(
        queries.select(F.col("query_id").alias("vec_id"),
                       F.col("qvec").alias("embedding")),
        dim=dim, nbits=nbits,
    ).select(F.col("vec_id").alias("query_id"), F.col("sig").alias("qsig"))

    cands = (
        chunk_explode(sigs, "sig", "vec_id", n_chunks, chunk_bits)
        .join(
            chunk_explode(qsigs, "qsig", "query_id", n_chunks, chunk_bits),
            ["c", "chunk"],
        )
        .filter(
            (F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))) <= max_hamming)
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select("query_id", "vec_id")
        .distinct()
    )
    base = with_norm(emb).select("vec_id", "embedding", "norm")
    scored = (
        cands.join(base, "vec_id")
        .join(F.broadcast(_with_qnorm(queries)), "query_id")
        .withColumn(
            "cosine",
            F.round(
                _dot_expr("embedding", "qvec")
                / (F.col("norm") * F.col("qnorm")),
                6,
            ),
        )
    )
    return _topk_per_query(scored, k)


def auto_cells(n: int, target_cell: int = 256) -> int:
    """IVF cell count for an n-vector corpus, balancing the index's two
    cost terms: centroid assignment is O(n·m·d) and in-cell work (pair
    scoring / probing) is O(n·(n/m)·d), so the total is minimized at
    m = √n — both terms O(n^1.5·d).  The round-5 tier sweeps measured
    each unbalanced regime failing in turn: fixed m=8 at 20k vectors
    put ~100M pairs through the in-cell scorer (sf1 sweep, 209 s), and
    constant cell SIZE (m = n/256) made the assignment GEMM O(n²/256)
    — 45× wall for 10× rows at the 2M-vector sf100 tier.

    Below n = target_cell² (65 536) the ceil(n/target_cell) form is the
    smaller of the two, so ``min`` keeps every small corpus — including
    all driver-checked tiers, which resolve to the 8-cell floor —
    bit-identical to the round-4/5 behavior while the derived big tiers
    get the √n balance.  (At 10^10 vectors √n = 10^5 cells; a real
    100-TB deployment caps assignment cost below that with a
    hierarchical / multi-index quantizer, which is out of scope — the
    flat-IVF O(n^1.5) is the correct flat-index frontier.)"""
    n = int(n)
    if n <= 0:
        return 8
    sqrt_cells = math.isqrt(n - 1) + 1  # ceil(√n)
    return max(8, min(-(-n // target_cell), sqrt_cells))


_FXP = 1 << 20  # fixed-point scale for order-independent centroid sums


def _cell_centroids(assigned: DataFrame, vec_col: str = "e") -> DataFrame:
    """Element-wise cell means with ORDER-INDEPENDENT arithmetic: each
    coordinate is scaled to fixed-point int64 before the sum, so
    partial-aggregate merge order can never perturb the result (float
    addition is not associative — under F.avg a last-ulp wobble in a
    centroid could flip a near-tie cell assignment and make the whole
    index run-order-dependent, violating the module's determinism
    contract).  2^-20 precision per element is ample for a coarse
    quantizer — exact cosine re-ranks everything downstream — and an
    int64 sum holds ~4e12 rows per cell before overflow."""
    return (
        assigned.select("cell", F.posexplode(vec_col).alias("i", "v"))
        .withColumn("vq", F.round(F.col("v") * _FXP).cast("long"))
        .groupBy("cell", "i")
        .agg((F.sum("vq") / F.count("*") / F.lit(float(_FXP))).alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("im"))
        .select("cell", F.expr("transform(im, x -> x.m)").alias("centroid"))
    )


def ivf_build(
    emb: DataFrame, n_cells: int | None = 16, iters: int = 2
) -> DataFrame:
    """IVF coarse quantizer: k-means centroids via ``iters`` Lloyd
    steps, all DataFrame ops. Init: cell = vec_id % n_cells
    (deterministic). Returns (cell, centroid:array<double>).

    ``n_cells=None`` auto-sizes via :func:`auto_cells` —
    ``max(8, min(ceil(n/256), ceil(√n)))``, the balance point between
    the O(n·m·d) assignment GEMM and the O(n·(n/m)·d) in-cell work
    (near-dup pair generation is O(cell²) per cell, top-k probing
    O(cell · nprobe) per query).  The round-5 sf1 sweep measured the
    fixed-cell failure mode directly: nc=8 at 20k vectors put ~100M
    candidate pairs through ivf_neardup (209 s) where auto (79 cells)
    needs ~2.5M (≈13 s); the sf100 sweep then measured the opposite
    regime — constant cell size made assignment O(n²/256), 45× wall
    for 10× rows at 2M vectors.  Below 2048 vectors auto resolves to
    8, identical to the small-SF defaults, so oracle-checked results
    are unchanged at the driver's scales."""
    if n_cells is None:
        n_cells = auto_cells(emb.count())
    assigned = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        (F.col("vec_id") % n_cells).cast("int").alias("cell"),
    )
    # persist each Lloyd step's assignment: _assign_cells collects the
    # centroid table eagerly, and without the cache that collect
    # recomputes EVERY earlier step's mapInPandas assignment from the
    # source — O(iters²) corpus passes instead of O(iters).  Each new
    # generation is materialized eagerly (count() — the same single
    # corpus pass the next step's centroid collect would run; later
    # reads hit the cache) so the PREVIOUS generation can be freed
    # immediately: peak cache footprint is 2 × corpus, not iters ×
    # corpus.  Freeing it lazily instead would be wrong-er than it
    # looks — the new generation's lineage runs through the old one,
    # so unpersisting before materialization recomputes the whole
    # Lloyd chain.
    prev: DataFrame | None = None
    for _ in range(iters):
        cents = _cell_centroids(assigned)
        assigned = (
            _assign_cells(assigned.select("vec_id", "e"), cents, "e", "vec_id")
            .select("vec_id", "e", "cell")
            .persist()
        )
        assigned.count()
        if prev is not None:
            prev.unpersist()
        prev = assigned
    final = _cell_centroids(assigned)
    # materialize the (tiny: n_cells × dim) index ONCE: every
    # _assign_cells consumer collects the centroid table, and a lazy
    # return would recompute the full Lloyd chain per consumer (corpus
    # assign + query assign = 2 extra k-means runs).  Doubles survive
    # collect/createDataFrame exactly, so results are unchanged.
    rows = [(int(r["cell"]), list(r["centroid"])) for r in final.collect()]
    if prev is not None:
        prev.unpersist()
    return emb.sparkSession.createDataFrame(
        rows, "cell int, centroid array<double>"
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF search: assign corpus to nearest centroid, probe the nprobe
    nearest cells per query, exact cosine within probed cells."""
    corpus_cells = with_norm(
        _assign_cells(
            emb.select("vec_id", "embedding"), centroids,
            "embedding", "vec_id",
        )
    ).select("vec_id", "embedding", "norm", "cell")
    qcells = _assign_cells(
        _with_qnorm(queries.select("query_id", "qvec")), centroids,
        "qvec", "query_id", nprobe=nprobe,
    ).select("query_id", "qvec", "qnorm", "cell")
    # broadcast the (small, by this module's contract) probed query
    # side EXPLICITLY: qcells comes out of mapInPandas with no size
    # stats, so without the hint the pre-AQE plan is a sort-merge join
    # that shuffles the entire corpus on a ~n_cells-distinct key — AQE
    # usually rescues the join at runtime, but only after the corpus
    # side's shuffle map write is already scheduled, and a 16-value
    # hash partitioning of 10^10 rows is the worst possible exchange
    scored = (
        corpus_cells.join(F.broadcast(qcells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot_expr("embedding", "qvec")
                / (F.col("norm") * F.col("qnorm")),
                6,
            ),
        )
    )
    return _topk_per_query(scored, k)
