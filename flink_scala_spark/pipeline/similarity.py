"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exactness baseline. Query matrix is
  broadcast; candidates stream through Arrow batches.
- Random-hyperplane LSH bucketing: the 100 TB path. Each vector gets
  an 8-bit bucket from the signs of 8 hyperplane projections; pairs
  are only compared within a bucket (one shuffle on the bucket id),
  cutting the pair space ~256x. Hyperplane components are fixed
  Python-computed constants baked into the plan, so the DuckDB oracle
  replays the identical bucketing.
- Brute-force near-dup pairs: ground truth for the bucketed variant.

Physical layout: the JVM-side scoring paths (IVF, PQ rerank) flatten
vectors to **DIM plain double columns** before any pair join. A single
unrolled ``element_at`` dot product compiles to >64 KB of JVM bytecode
inside a pair-join stage, which fails Janino compilation and silently
drops the whole stage to interpreted evaluation (~15x slower measured
on the 2M-pair stage). Over flat columns the same in-order sum is a
short chain of column multiply-adds — small bytecode, stays in
whole-stage codegen, and the per-vector flattening cost is O(N), not
O(N^2). The fold order (0.0 + e1*f1 + e2*f2 + ...) is identical, so
cosines stay bit-for-bit equal to the DuckDB in-order ``list_reduce``
oracle.

Scoring passes spread the streamed side first (``tables.spread``): the
test parquet arrives as one file -> one partition, and a broadcast join
or mapInPandas inherits that parallelism (single-threaded scoring). On
a cluster the scan already has enough splits and nothing is shuffled.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from flink_scala_spark.materialize import shared_bounded
from flink_scala_spark.tables import spread

NUM_PLANES = 8
DIM = 64

#: Deterministic pseudo-random hyperplanes: component (p, d) is
#: sin(p*DIM + d + 1). Quasi-uniform in [-1, 1], reproducible as SQL
#: literals on the oracle side.
HYPERPLANES: list[list[float]] = [
    [math.sin(p * DIM + d + 1) for d in range(DIM)] for p in range(NUM_PLANES)
]


def _current_entry_or(fallback: str) -> str:
    """Name the executing catalog entry in guard errors when available
    (import deferred: queries.catalog imports this module's callers)."""
    from flink_scala_spark.queries import catalog

    return catalog.current_query() or fallback


def flatten(
    emb: DataFrame,
    prefix: str,
    id_alias: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Project ``vec_col`` into ``{prefix}1..{prefix}D`` double columns
    plus the squared norm ``{prefix}nsq`` (in-order fold, computed once
    per vector and reused by every pair)."""
    cols = [
        F.element_at(vec_col, i).cast("double").alias(f"{prefix}{i}")
        for i in range(1, dim + 1)
    ]
    out = emb.select(F.col(id_col).alias(id_alias), *cols)
    nsq: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        nsq = nsq + F.col(f"{prefix}{i}") * F.col(f"{prefix}{i}")
    return out.withColumn(f"{prefix}nsq", nsq)


def _nsq_rows(M, d: int):
    """Per-row squared norm as the in-order fold — part of the
    module's IEEE-exactness contract (== the oracle's ``list_reduce``
    over squares); do NOT replace with ``(M*M).sum(axis=1)``, whose
    pairwise summation lands on different floats."""
    import numpy as np

    nsq = np.zeros(len(M))
    for kk in range(d):
        nsq += M[:, kk] * M[:, kk]
    return nsq


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str):
    """Collect a SMALL frame (centroids / codebook / benchmark — fixed
    or contract-bounded size) as ``(ids ascending, float64 matrix)``.
    Ascending-id column order is what makes ``np.argmax``'s first-max
    equal the oracle's ``ORDER BY ... DESC, id`` tie-break."""
    import numpy as np

    pdf = df.select(id_col, vec_col).toPandas().sort_values(id_col)
    ids = pdf[id_col].to_numpy(dtype="int64")
    if len(ids) == 0:
        # np.stack raises on an empty list; callers handle the
        # zero-row side explicitly (empty result / empty index)
        return ids, np.zeros((0, 0))
    M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return ids, M


def _collect_matrix_guarded(df: DataFrame, id_col: str, vec_col: str, name: str):
    """:func:`_collect_matrix` for a CALLER-SUPPLIED reference frame:
    enforce the small-by-contract bound and collect in ONE pass.
    ``limit(bound+1)`` keeps the probe cost at bound+1 rows of the
    reference's lineage even when it is a derived frame, and collecting
    that same limited frame (instead of a separate ``count()`` job)
    means the lineage executes exactly once — the guard decision and
    the matrix come from the same rows. Refusal happens BEFORE the
    matrix is stacked, so an over-bound reference costs one bounded
    collect, never a driver OOM. (Deliberate trade, per the round-8
    advice: the refusal path collects bound+1 rows of VECTORS — one row
    more than any ACCEPTED max-size reference already collects, so
    MAX_REFERENCE_ROWS is sized for exactly this; a cheap ids-only
    probe would re-execute the reference lineage for the matrix, the
    double cost this helper exists to remove.)"""
    import numpy as np

    from flink_scala_spark.pipeline import guards

    bound = guards.MAX_REFERENCE_ROWS
    pdf = df.select(id_col, vec_col).limit(bound + 1).toPandas()
    guards.guard_reference_rows(len(pdf), name)
    pdf = pdf.sort_values(id_col)
    ids = pdf[id_col].to_numpy(dtype="int64")
    if len(ids) == 0:
        return ids, np.zeros((0, 0))
    M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return ids, M


def _require_centroids(cent_ids, name: str):
    """Contract error (not an opaque numpy IndexError downstream) when
    the corpus yielded zero centroid/seed rows — i.e. it is empty."""
    if len(cent_ids) == 0:
        raise ValueError(
            f"{name}: the corpus has zero rows — cannot build a "
            "quantizer/index over an empty embedding table"
        )


def _cos_block(block_vecs, mat_c, nsq_c, d: int):
    """Cosine block of one Arrow batch's vectors against a broadcast
    float64 matrix: per-dimension IN-ORDER accumulation from 0.0 — the
    exact IEEE-754 sequence of the DuckDB ``list_reduce`` fold, shared
    by every numpy scoring/assignment kernel in this module so the
    tie-break/fold contract lives in ONE place. Returns ``(A, sims)``
    with A the batch's float64 matrix (callers reuse it for
    fixed-point quantization). ``block_vecs`` may be a pre-stacked
    float64 ndarray (a caller scoring a matrix against itself passes
    it directly instead of paying a second stack). Runs on workers:
    referenced by module, which ``session`` ships to worker
    PYTHONPATH."""
    import numpy as np

    if isinstance(block_vecs, np.ndarray):
        A = block_vecs
    else:
        A = np.stack([np.asarray(v, dtype=np.float64) for v in block_vecs])
    acc = np.zeros((len(A), len(mat_c)))
    nsq = np.zeros(len(A))
    for kk in range(d):
        acc += np.outer(A[:, kk], mat_c[:, kk])
        nsq += A[:, kk] * A[:, kk]
    return A, acc / np.sqrt(np.outer(nsq, nsq_c))


def _flat_dot(pa: str, pb: str, dim: int = DIM) -> Column:
    dot: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        dot = dot + F.col(f"{pa}{i}") * F.col(f"{pb}{i}")
    return dot


def _flat_cosine(pa: str, pb: str, dim: int = DIM) -> Column:
    return _flat_dot(pa, pb, dim) / F.sqrt(F.col(f"{pa}nsq") * F.col(f"{pb}nsq"))


def cosine_topk_vectorized(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    label_col: str | None = None,
    label_match: str | None = None,
    guard_twin: str = "ann_ivf_topk",
    n_emb: int | None = None,
    k_same: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors, Arrow+numpy path — bit-identical
    to the DuckDB oracle's in-order ``list_reduce`` fold.

    The query matrix is broadcast; each Arrow batch scores a
    (batch x queries) block with per-dimension accumulation (the
    oracle's fold order) and keeps only its LOCAL top-k per query —
    so the single shuffle (keyed by query_id) carries <= k rows per
    (query, batch), not the full candidate set. The global top-k over
    local winners equals the global top-k over all pairs, with the
    same ``(cosine DESC, neighbor_id ASC)`` tie-break.

    With ``label_col``/``label_match`` the candidate set is restricted
    by label relative to the query row: ``"diff"`` keeps only
    different-label candidates (hard-negative mining for contrastive
    training), ``"same"`` keeps only same-label ones (positive
    mining). The filter is a per-batch numpy mask — no extra shuffle,
    no change to the scan shape.

    ``label_match="both"`` (round 13, verdict item 5) returns BOTH
    masks from ONE corpus pass: top-``k_same`` same-label rows and
    top-``k`` different-label rows per query, distinguished by a
    boolean ``same`` column; the final shuffle keys on
    ``(query_id, same)``. Row-for-row identical to running the
    ``"same"`` and ``"diff"`` passes separately (same per-batch score
    block, same lexsort tie-break, per-role top-k) — it exists so
    triplet builders pay one scan + one query broadcast + one Python
    boundary instead of two of each.

    This is the EXACT brute-force path (corpus x queries pair space);
    past ``guards.MAX_EXACT_PAIRS`` it refuses, naming ``guard_twin``
    (the ANN-family entry a caller should use instead) — and it
    refuses BEFORE collecting anything. The corpus count is one COUNT
    job — pass ``n_emb`` to amortize it when one entry invokes the
    kernel more than once (the bound is constant per (corpus,
    predicate)).
    """
    import numpy as np

    from flink_scala_spark.pipeline import guards

    if label_match not in (None, "same", "diff", "both"):
        raise ValueError(
            f"label_match must be None/'same'/'diff'/'both', got {label_match!r}"
        )
    both = label_match == "both"
    if both and (label_col is None or k_same is None):
        raise ValueError("label_match='both' requires label_col and k_same")
    if not both and k_same is not None:
        raise ValueError("k_same only applies to label_match='both'")
    if label_col is not None and label_match is None:
        # the IVF sibling activates masking on label_col alone; here a
        # silently ignored label_col would return unmasked neighbors
        raise ValueError(
            "label_col given without label_match — pass label_match="
            "'same' or 'diff' (the IVF path's label_col-only form is "
            "equivalent to label_match='diff')"
        )
    use_labels = label_col is not None and label_match is not None
    q_cols = [id_col, vec_col] + ([label_col] if use_labels else [])
    q_df = emb.where(query_pred).select(*q_cols)
    # the guard MUST fire before the query collect below — at guard
    # scale even the "small" query subset may be a driver-OOM-sized
    # frame, and refusing after materializing it defeats the guard.
    # The query count is one job over the filtered scan; the corpus
    # count is amortized across passes via n_emb. (Round 13 measured
    # a fused count+conditional-count agg here and REVERTED it: plain
    # count() rides the parquet-footer metadata fast path, while the
    # fused agg forces a real column scan — 1.16 -> 1.33 s on
    # contrastive_triplets.)
    guards.guard_exact_pairs(
        (emb.count() if n_emb is None else int(n_emb)) * q_df.count(),
        _current_entry_or("cosine_topk_vectorized"),
        guard_twin,
    )
    q_pdf = q_df.toPandas()
    q_ids = q_pdf[id_col].to_numpy(dtype="int64")
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
    q_labels = (
        q_pdf[label_col].to_numpy(dtype="int64") if use_labels else None
    )
    d = int(dim)
    q_nsq = np.zeros(len(Q))
    for kk in range(d):
        q_nsq += Q[:, kk] * Q[:, kk]
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, Q, q_nsq, q_labels))
    k_ = int(k)
    k_same_ = int(k_same) if k_same is not None else None
    want_same = label_match == "same"

    def local_topk(batches):
        import numpy as _np
        import pandas as _pd

        ids_q, mat_q, nsq_q, lab_q = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            c_ids = block[id_col].to_numpy(dtype="int64")
            c_lab = (
                block[label_col].to_numpy(dtype="int64") if use_labels else None
            )
            A = _np.stack(
                [_np.asarray(v, dtype=_np.float64) for v in block[vec_col]]
            )
            acc = _np.zeros((len(A), len(mat_q)))
            nsq = _np.zeros(len(A))
            for kk in range(d):
                acc += _np.outer(A[:, kk], mat_q[:, kk])
                nsq += A[:, kk] * A[:, kk]
            cos = acc / _np.sqrt(_np.outer(nsq, nsq_q))
            out_q, out_n, out_c, out_s = [], [], [], []
            for j in range(len(ids_q)):
                not_self = c_ids != ids_q[j]
                # (flag, top-k) roles this pass emits: one for the
                # plain/single-mask form, two for "both" — the score
                # block above is computed ONCE either way
                if both:
                    roles = ((True, k_same_), (False, k_))
                elif use_labels:
                    roles = ((want_same, k_),)
                else:
                    roles = ((None, k_),)
                for flag, kk_top in roles:
                    valid = not_self
                    if flag is not None:
                        valid = valid & (
                            (c_lab == lab_q[j]) if flag else (c_lab != lab_q[j])
                        )
                    cj, nj = cos[valid, j], c_ids[valid]
                    order = _np.lexsort((nj, -cj))[:kk_top]
                    out_q.extend([ids_q[j]] * len(order))
                    out_n.extend(nj[order])
                    out_c.extend(cj[order])
                    if both:
                        out_s.extend([flag] * len(order))
            cols = {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            if both:
                cols["same"] = _pd.array(out_s, dtype="boolean")
            yield _pd.DataFrame(cols)

    def final_topk(pdf):
        import numpy as _np
        import pandas as _pd

        kk_top = (k_same_ if bool(pdf["same"].iloc[0]) else k_) if both else k_
        ids = pdf["neighbor_id"].to_numpy(dtype="int64")
        cos = pdf["cosine"].to_numpy(dtype="float64")
        order = _np.lexsort((ids, -cos))[:kk_top]
        out = {
            "query_id": pdf["query_id"].to_numpy(dtype="int64")[order],
            "neighbor_id": ids[order],
            "cosine": cos[order],
        }
        if both:
            out["same"] = pdf["same"].to_numpy(dtype="bool")[order]
        out["rank"] = _np.arange(1, len(order) + 1, dtype="int32")
        return _pd.DataFrame(out)

    src = spread(emb.select(*q_cols))
    if both:
        partial = src.mapInPandas(
            local_topk,
            "query_id long, neighbor_id long, cosine double, same boolean",
        )
        return partial.groupBy("query_id", "same").applyInPandas(
            final_topk,
            "query_id long, neighbor_id long, cosine double, same boolean,"
            " rank int",
        )
    partial = src.mapInPandas(
        local_topk, "query_id long, neighbor_id long, cosine double"
    )
    return partial.groupBy("query_id").applyInPandas(
        final_topk, "query_id long, neighbor_id long, cosine double, rank int"
    )


def _baseline_near_dup_pairs_vectorized(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Brute-force all-pairs cosine, Arrow+numpy path: the TEST-ONLY
    exact baseline, bit-identical to the DuckDB oracle's in-order fold.

    One side is broadcast as a dense float64 matrix (same must-fit
    memory contract as the broadcast join); the streamed side crosses
    the Python boundary once per Arrow batch and scores a whole
    (batch x broadcast) block per dimension step. Exactness: the
    accumulator adds the k-th elementwise product in dimension order,
    so every pair's dot is the same IEEE-754 sequence
    0.0 + a1*b1 + ... + aD*bD as the codegen/DuckDB fold; float32
    inputs widen exactly; division and sqrt are correctly rounded in
    both engines. The DuckDB oracle is unchanged.

    Scale bound: the WHOLE corpus is collected to the driver and
    broadcast as one dense matrix — a small-scale exact baseline only.
    The production path is :func:`near_dup_pairs_blocked`, which never
    collects vector data.
    """
    import numpy as np

    pdf = emb.select(id_col, vec_col).toPandas()
    b_ids = pdf[id_col].to_numpy(dtype="int64")
    B = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    b_nsq = np.zeros(len(B))
    for k in range(dim):
        b_nsq += B[:, k] * B[:, k]
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((b_ids, B, b_nsq))
    thr = float(threshold)
    d = int(dim)

    def fn(batches):
        import numpy as _np
        import pandas as _pd

        ids_b, mat_b, nsq_b = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            a_ids = block[id_col].to_numpy(dtype="int64")
            A = _np.stack(
                [_np.asarray(v, dtype=_np.float64) for v in block[vec_col]]
            )
            acc = _np.zeros((len(A), len(mat_b)))
            for k in range(d):
                acc += _np.outer(A[:, k], mat_b[:, k])
            a_nsq = _np.zeros(len(A))
            for k in range(d):
                a_nsq += A[:, k] * A[:, k]
            cos = acc / _np.sqrt(_np.outer(a_nsq, nsq_b))
            ii, jj = _np.nonzero(
                (cos >= thr) & (a_ids[:, None] < ids_b[None, :])
            )
            yield _pd.DataFrame(
                {
                    "vec_a": a_ids[ii],
                    "vec_b": ids_b[jj],
                    "cosine": cos[ii, jj],
                }
            )

    out = spread(emb.select(id_col, vec_col))
    return out.mapInPandas(fn, "vec_a long, vec_b long, cosine double")


def near_dup_pairs_blocked(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    max_tile_rows: int = 100_000,
) -> DataFrame:
    """Exact all-pairs cosine as a distributed block nested loop —
    bit-identical to :func:`_baseline_near_dup_pairs_vectorized` with NO driver
    collect and NO full-corpus broadcast.

    Vectors are hash-tiled (``pmod(vec_id, T)``, T sized so a tile
    holds <= ``max_tile_rows`` rows); every unordered tile pair
    ``(lo, hi)`` becomes one shuffle group holding the two tiles'
    rows, and the quadratic scoring runs per-group in numpy with the
    same per-dimension accumulation (identical IEEE-754 fold per pair,
    so the DuckDB oracle is unchanged). Mixed groups emit only
    cross-tile pairs; the diagonal group ``(t, t)`` emits in-tile
    pairs — each unordered pair lands in exactly one group.

    Cost model at 100 TB: each row is replicated into T groups
    (shuffle volume T x n — the unavoidable lower bound for exact
    all-pairs over n/T-row blocks), each group is <= 2*max_tile_rows
    rows (bounded worker memory, tunable), and no vector ever touches
    the driver. Total work is the same n^2 dot products; wall clock
    scales with cluster cores, not driver RAM.

    The tile count also has a parallelism FLOOR: enough tiles that the
    T(T+1)/2 groups cover defaultParallelism cores (a small corpus in
    one tile would score single-threaded inside one group).
    """
    n = emb.select(id_col).count()
    par = emb.sparkSession.sparkContext.defaultParallelism
    # smallest T with T(T+1)/2 >= par
    t_floor = max(1, int((math.isqrt(8 * par + 1) - 1) // 2))
    while t_floor * (t_floor + 1) // 2 < par:
        t_floor += 1
    tiles = max(-(-n // int(max_tile_rows)), min(t_floor, n) or 1)
    thr = float(threshold)
    d = int(dim)

    src = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col), F.lit(tiles)).cast("int").alias("tile"),
    )
    partner = src.select(
        "vid",
        "vec",
        "tile",
        F.explode(F.sequence(F.lit(0), F.lit(tiles - 1))).alias("other"),
    ).select(
        "vid",
        "vec",
        "tile",
        F.least("tile", "other").alias("g_lo"),
        F.greatest("tile", "other").alias("g_hi"),
    )
    # (g_lo, g_hi) is distinct per (vid, other) by construction — the T
    # exploded partners map to T distinct unordered tile pairs, so no
    # dedup shuffle is needed here.

    def score(keys, pdf):
        import numpy as _np
        import pandas as _pd

        g_lo, g_hi = int(keys[0]), int(keys[1])
        empty = _pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["vid"].to_numpy(dtype="int64")
        tls = pdf["tile"].to_numpy(dtype="int64")
        A = _np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf["vec"]])
        nsq = _np.zeros(len(A))
        for k in range(d):
            nsq += A[:, k] * A[:, k]
        if g_lo == g_hi:
            # diagonal group: in-tile upper triangle
            acc = _np.zeros((len(A), len(A)))
            for k in range(d):
                acc += _np.outer(A[:, k], A[:, k])
            cos = acc / _np.sqrt(_np.outer(nsq, nsq))
            ii, jj = _np.nonzero((cos >= thr) & (ids[:, None] < ids[None, :]))
            a_ids, b_ids, cvals = ids[ii], ids[jj], cos[ii, jj]
        else:
            # mixed group: score ONLY the x-by-y cross block — the
            # full (x+y)^2 block wastes 3/4 of the flops on in-tile
            # pairs (owned by diagonal groups) and the mirrored
            # triangle. Per-dimension accumulation keeps every pair's
            # fold identical to the diagonal/broadcast paths.
            xm = tls == g_lo
            X, Y = A[xm], A[~xm]
            xi, yi = ids[xm], ids[~xm]
            if len(X) == 0 or len(Y) == 0:
                return empty
            acc = _np.zeros((len(X), len(Y)))
            for k in range(d):
                acc += _np.outer(X[:, k], Y[:, k])
            cos = acc / _np.sqrt(_np.outer(nsq[xm], nsq[~xm]))
            keep = cos >= thr
            ii, jj = _np.nonzero(keep & (xi[:, None] < yi[None, :]))
            i2, j2 = _np.nonzero(keep & (xi[:, None] > yi[None, :]))
            a_ids = _np.concatenate([xi[ii], yi[j2]])
            b_ids = _np.concatenate([yi[jj], xi[i2]])
            cvals = _np.concatenate([cos[ii, jj], cos[i2, j2]])
        if len(a_ids) == 0:
            return empty
        return _pd.DataFrame({"vec_a": a_ids, "vec_b": b_ids, "cosine": cvals})

    return partner.groupBy("g_lo", "g_hi").applyInPandas(
        score, "vec_a long, vec_b long, cosine double"
    )


def with_bucket(
    flat: DataFrame, prefix: str, n_planes: int = NUM_PLANES
) -> DataFrame:
    """Attach the ``n_planes``-bit sign-random-projection bucket id to
    a flattened frame (first ``n_planes`` of the shared hyperplanes —
    fewer planes = coarser buckets = higher recall, bigger candidate
    sets). Each plane's projection is its own column (codegen splits
    generated code per column; one fused 8x64-term expression exceeds
    the 64 KB method limit)."""
    out = flat
    for p in range(n_planes):
        proj: Column = F.lit(0.0)
        for i in range(1, DIM + 1):
            proj = proj + F.col(f"{prefix}{i}") * F.lit(HYPERPLANES[p][i - 1])
        out = out.withColumn(f"_pj{p}", proj)
    bucket: Column = F.lit(0)
    for p in range(n_planes):
        bucket = bucket + F.when(F.col(f"_pj{p}") > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
    return out.withColumn("bucket", bucket.cast("int")).drop(
        *[f"_pj{p}" for p in range(n_planes)]
    )


#: Fixed coarse-quantizer size: driver/broadcast memory for the IVF
#: index is O(NUM_CENTROIDS * DIM) regardless of corpus size.
NUM_CENTROIDS = 64

#: The SERVING quantizer geometry — chosen from the measured
#: recall/nprobe curve (`ann_recall_report`): at the nprobe=4 serving
#: budget, the trained C=16 index clears recall@5 >= 0.5 at both test
#: scales (0.56 @ sf0.01, 0.515 @ sf0.1; C=64 untrained measured 0.30)
#: — on weakly-clustered data recall is governed by the probed
#: fraction nprobe/C, so the budget fixes C, and training buys the
#: rest (see BASELINE.md r7). Retune via the same report when the
#: corpus has real cluster structure.
IVF_SERVING_CENTROIDS = 16
IVF_TRAIN_ITERS = 2


def centroid_rows(
    emb: DataFrame,
    num_centroids: int = NUM_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The FIXED-SIZE deterministic coarse quantizer: the
    ``num_centroids`` rows whose ``md5(vec_id)`` sorts first — a
    uniform hash-ordered sample that is (a) a pure function of the id
    set, so the DuckDB oracle selects the identical centroids, and
    (b) capped at ``num_centroids`` rows no matter how large the
    corpus is (the previous ``vec_id % 40`` scheme grew the "index"
    linearly with n — a driver OOM at 100 TB). The ORDER BY + LIMIT
    compiles to TakeOrderedAndProject: per-partition top-k then one
    k-row merge, never a full sort."""
    return (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(int(num_centroids))
    )


#: Process-level cache for trained quantizers: the result is a pure
#: function of the input FILES (deterministic seeds, folds, and
#: updates), and one gate/bench run invokes the same training from
#: several entries (ann_ivf_topk, the mining twins, the recall
#: report's two probe budgets). Keyed by the scan's files' CONTENT
#: fingerprints — (path, size, mtime_ns) per file — so a parquet
#: rewritten in place under the same path misses rather than serving
#: stale centroids; a non-file source (empty inputFiles) or an
#: unstat-able file is never cached. LRU-capped at
#: ``_TRAINED_CACHE_MAX`` entries (each is one k x dim float64 matrix,
#: so the cap bounds driver memory at well under a megabyte).
_TRAINED_CACHE: "OrderedDict[tuple, tuple]" = __import__(
    "collections"
).OrderedDict()
_TRAINED_CACHE_MAX = 32
_TRAINED_LOCK = __import__("threading").Lock()


def _file_fingerprints(files: tuple) -> tuple | None:
    """(path, size, mtime_ns) per input file, or None when any file
    cannot be stat-ed (non-local URI) — in which case don't cache."""
    out = []
    for uri in files:
        p = uri
        if p.startswith("file:"):
            from urllib.parse import unquote, urlparse

            p = unquote(urlparse(p).path)
        try:
            st = os.stat(p)
        except OSError:
            return None
        out.append((uri, st.st_size, st.st_mtime_ns))
    return tuple(out)


def trained_centroids(
    emb: DataFrame,
    num_centroids: int = IVF_SERVING_CENTROIDS,
    iters: int = IVF_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
):
    """Lloyd's-trained coarse quantizer with exact cross-engine
    semantics — returns ``(cent_ids, C)``: ascending int64 centroid
    ids (the seed rows' vec_ids, stable across iterations) and the
    (k x dim) float64 centroid matrix.

    Determinism contract (the DuckDB oracle replays every step):
    - seeds: the ``num_centroids`` md5-first rows (:func:`centroid_rows`);
    - assignment: max cosine, ties -> lowest centroid id. Cosines are
      per-dimension in-order accumulations from 0.0 == the oracle's
      ``list_reduce`` fold, so sign/compare decisions agree bit-for-bit;
      ``np.argmax`` takes the FIRST max and the centroid columns are
      sorted by ascending id, so the tie-break matches the SQL
      ``row_number() ORDER BY cos DESC, centroid_id``;
    - update: the fixed-point ``floor(v * 1e6)`` BIGINT accumulation of
      :func:`label_centroids` — associative, bit-stable under any
      partitioning/retry; empty clusters keep their previous vector
      (the oracle's ``coalesce`` on a left join).

    Scale shape: each iteration is one corpus scan (``mapInPandas``
    emitting per-batch PARTIAL fixed-point sums — k x dim rows per
    batch) plus one k x dim-row hash agg; only the k x dim aggregate
    ever reaches the driver. The corpus is never collected and never
    shuffled."""
    try:
        files = tuple(sorted(emb.inputFiles()))
        # the file list identifies the SCAN but not a filter/projection
        # layered on it — fold in the analyzed plan (with per-session
        # expression ids normalized away, or identical frames from two
        # entries would never share a slot) so two DIFFERENT frames
        # over the same files never alias one
        import hashlib
        import re

        plan_s = re.sub(
            r"#\d+", "#", emb._jdf.queryExecution().analyzed().toString()
        )
        plan = hashlib.md5(plan_s.encode()).hexdigest()
    except Exception:
        files, plan = (), ""
    # content fingerprints, not bare paths: a parquet rewritten in
    # place under the same path must MISS, not serve stale centroids
    prints = _file_fingerprints(files) if files else None
    cache_key = (
        prints, plan, int(num_centroids), int(iters), id_col, vec_col,
        int(dim),
    )
    if prints is not None:
        with _TRAINED_LOCK:
            hit = _TRAINED_CACHE.get(cache_key)
            if hit is not None:
                _TRAINED_CACHE.move_to_end(cache_key)
        if hit is not None:
            return hit[0].copy(), hit[1].copy()

    cent_ids, C = _collect_matrix(
        centroid_rows(emb, num_centroids, id_col, vec_col), id_col, vec_col
    )
    _require_centroids(cent_ids, "trained_centroids")
    d = int(dim)
    sc = emb.sparkSession.sparkContext
    src = spread(emb.select(id_col, vec_col))
    for _ in range(int(iters)):
        c_nsq = _nsq_rows(C, d)
        bc = sc.broadcast((cent_ids, C, c_nsq))

        def partial_sums(batches):
            import numpy as _np
            import pandas as _pd

            ids_c, mat_c, nsq_c = bc.value
            for block in batches:
                if len(block) == 0:
                    continue
                A, sims = _cos_block(block[vec_col], mat_c, nsq_c, d)
                asg = _np.argmax(sims, axis=1)
                Qz = _np.floor(A * CENTROID_SCALE).astype("int64")
                out_c, out_p, out_s, out_n = [], [], [], []
                for j in range(len(ids_c)):
                    m = asg == j
                    cnt = int(m.sum())
                    if cnt == 0:
                        continue
                    s = Qz[m].sum(axis=0)
                    out_c.extend([ids_c[j]] * d)
                    out_p.extend(range(d))
                    out_s.extend(s.tolist())
                    out_n.extend([cnt] * d)
                yield _pd.DataFrame(
                    {
                        "centroid_id": out_c,
                        "pos": out_p,
                        "qs": out_s,
                        "cnt": out_n,
                    }
                )

        agg = (
            src.mapInPandas(
                partial_sums, "centroid_id long, pos int, qs long, cnt long"
            )
            .groupBy("centroid_id", "pos")
            .agg(F.sum("qs").alias("s"), F.sum("cnt").alias("n"))
            .collect()
        )
        bc.unpersist()
        newC = C.copy()
        idx = {int(cid): r for r, cid in enumerate(cent_ids)}
        for row in agg:
            newC[idx[int(row["centroid_id"])], int(row["pos"])] = float(
                row["s"]
            ) / (CENTROID_SCALE * float(row["n"]))
        C = newC
    if prints is not None:
        with _TRAINED_LOCK:
            _TRAINED_CACHE[cache_key] = (cent_ids.copy(), C.copy())
            _TRAINED_CACHE.move_to_end(cache_key)
            while len(_TRAINED_CACHE) > _TRAINED_CACHE_MAX:
                _TRAINED_CACHE.popitem(last=False)
    return cent_ids, C


def ivf_assign(
    emb: DataFrame,
    cent_flat: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (highest cosine,
    lowest centroid id on ties) against an already-flattened centroid
    table — the row-independent index-build/maintenance kernel: cost is
    |input| x |centroids| row-local arithmetic plus one map-side-
    combined max_by shuffle, so assigning a DELTA costs |delta|, never
    a corpus rescan. Returns (vec_id, centroid_id)."""
    base = spread(flatten(emb, "c", "nid", id_col, vec_col))
    return (
        base.crossJoin(F.broadcast(cent_flat))
        .select("nid", "centroid_id", _flat_cosine("c", "t").alias("sim"))
        .groupBy("nid")
        .agg(
            F.expr(
                "max_by(centroid_id, struct(sim, -centroid_id))"
            ).alias("centroid_id")
        )
        .select(F.col("nid").alias(id_col), "centroid_id")
    )


def ivf_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    nprobe: int = 4,
    num_centroids: int = NUM_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions vectors into
    inverted lists; queries probe only the ``nprobe`` nearest lists.

    The quantizer is deterministic (:func:`centroid_rows` — the
    ``num_centroids`` hash-first rows) instead of k-means-trained, so
    the DuckDB oracle replays the identical index — the Spark plumbing
    (assignment, probing, list-local scoring) is the real IVF shape.

    Scale path: the centroid set is FIXED-SIZE (O(k·dim) memory,
    independent of corpus size) and broadcast everywhere; assignment
    is one map-side-combined ``max_by`` shuffle on vec_id; probes are
    broadcast back so candidate generation never shuffles the big
    table by centroid (no hot-list skew); scoring touches ~nprobe/C
    of the pair space vs brute force.
    """
    cent = flatten(centroid_rows(emb, num_centroids, id_col, vec_col),
                   "t", "centroid_id", id_col, vec_col)
    base = spread(flatten(emb, "c", "neighbor_id", id_col, vec_col))
    vec_cols = [f"c{i}" for i in range(1, DIM + 1)] + ["cnsq"]
    # index build: nearest centroid per vector; max_by over
    # (sim, -centroid_id) == "highest sim, lowest centroid id on ties".
    # The vector's own flat columns ride through the agg as first()
    # (constant within each neighbor_id group, the crossJoin replicates
    # them per centroid) so the assigned table needs NO join back to
    # base — one n-scale shuffle instead of two, and the crossJoin
    # output combines map-side (all 64 centroid rows of a vector sit
    # in its own partition).
    asg = (
        base.crossJoin(F.broadcast(cent))
        .select("neighbor_id", "centroid_id", _flat_cosine("c", "t").alias("sim"),
                *vec_cols)
        .groupBy("neighbor_id")
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("sim"), -F.col("centroid_id"))
            ).alias("centroid_id"),
            *[F.first(c).alias(c) for c in vec_cols],
        )
    )
    # query side: nprobe nearest centroids per query
    q = flatten(emb.where(query_pred), "q", "query_id", id_col, vec_col)
    from pyspark.sql import Window

    pw = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "centroid_id", _flat_cosine("q", "t").alias("sim"))
        .withColumn("r", F.row_number().over(pw))
        .where(F.col("r") <= nprobe)
        .select("query_id", "centroid_id")
    )
    # candidates: probed lists only; probes broadcast (tiny), the big
    # side is never shuffled by centroid id (asg already carries the
    # flat vector columns — no join back to base)
    cand = (
        asg.join(F.broadcast(probes), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    scored = cand.join(F.broadcast(q), "query_id").select(
        "query_id", "neighbor_id", _flat_cosine("q", "c").alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk_vectorized(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    nprobe: int = 4,
    num_centroids: int = NUM_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    label_col: str | None = None,
    label_match: str | None = None,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN, Arrow+numpy path: bit-identical to
    :func:`ivf_topk` without flat-column codegen.

    With ``label_col`` set, candidates are filtered by label relative
    to the query row inside the list-local scoring stage:
    ``label_match="diff"`` (the default when only ``label_col`` is
    given) keeps different-label candidates (hard-negative mining at
    IVF cost), ``"same"`` keeps same-label ones (positive mining for
    contrastive triplets). The label rides the assignment pass as one
    extra int column and the filter is a numpy mask per query group —
    the index build, probe selection, and candidate join are
    unchanged.

    ``train_iters > 0`` replaces the raw md5-first quantizer with the
    Lloyd's-trained one (:func:`trained_centroids`, same seeds, same
    fixed-size broadcast) — measured at the nprobe=4 serving budget
    this lifts recall@5 from 0.30 to >= 0.5 with C=16 (see
    `ann_recall_report`). Everything downstream is unchanged: the
    centroid matrix stays O(C x dim) and broadcast.

    The trained index (:func:`centroid_rows` — FIXED ``num_centroids``
    rows, O(k·dim) driver memory independent of corpus size) is tiny
    and broadcast as a dense matrix. Assignment is one ``mapInPandas`` pass over the big table
    (per-dimension accumulation, argmax over ascending centroid ids ==
    the oracle's "highest sim, lowest centroid id on ties"); probe
    selection is the same pass over the query subset with a
    ``lexsort((centroid_id, -sim))`` top-nprobe. Candidates come from
    an equi-join against the **broadcast** probe set — the big table is
    never shuffled by centroid id (no hot-list skew) — and scoring +
    top-k ranks inside ``groupBy(query_id).applyInPandas``.

    Scale: assignment is scan-parallel; the only shuffle is keyed by
    query_id and carries ~nprobe/C of the pair space.
    """
    import numpy as np

    if label_match not in (None, "same", "diff"):
        raise ValueError(f"label_match must be None/'same'/'diff', got {label_match!r}")
    if label_match is not None and label_col is None:
        # mirror the exact path's validation: a half-specified label
        # contract must raise, not silently return unmasked neighbors
        raise ValueError(
            "label_match given without label_col — pass the label column "
            "to mask candidates by"
        )
    if train_iters > 0:
        cent_ids, C = trained_centroids(
            emb, num_centroids, train_iters, id_col, vec_col, dim
        )
    else:
        cent_ids, C = _collect_matrix(
            centroid_rows(emb, num_centroids, id_col, vec_col), id_col, vec_col
        )
        _require_centroids(cent_ids, "ivf_topk_vectorized")
    d = int(dim)
    c_nsq = _nsq_rows(C, d)
    use_labels = label_col is not None
    want_same = label_match == "same"
    q_sel = [id_col, vec_col] + ([label_col] if use_labels else [])
    q_pdf = emb.where(query_pred).select(*q_sel).toPandas()
    q_map = {
        int(r[id_col]): (
            np.asarray(r[vec_col], dtype=np.float64),
            int(r[label_col]) if use_labels else None,
        )
        for _, r in q_pdf.iterrows()
    }
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((cent_ids, C, c_nsq))
    bq = sc.broadcast(q_map)
    np_, k_, d_ = int(nprobe), int(k), d

    def assign(batches):
        import numpy as _np
        import pandas as _pd

        ids_c, mat_c, nsq_c = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            _, sim = _cos_block(block[vec_col], mat_c, nsq_c, d_)
            out = {
                "neighbor_id": block[id_col].to_numpy(dtype="int64"),
                vec_col: block[vec_col],
                "centroid_id": ids_c[_np.argmax(sim, axis=1)],
            }
            if use_labels:
                out[label_col] = block[label_col].to_numpy(dtype="int64")
            yield _pd.DataFrame(out)

    def probe(batches):
        import numpy as _np
        import pandas as _pd

        ids_c, mat_c, nsq_c = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            _, sim = _cos_block(block[vec_col], mat_c, nsq_c, d_)
            qids = block[id_col].to_numpy(dtype="int64")
            out_q, out_c = [], []
            for r in range(len(qids)):
                order = _np.lexsort((ids_c, -sim[r]))[:np_]
                out_q.extend([qids[r]] * len(order))
                out_c.extend(ids_c[order])
            yield _pd.DataFrame({"query_id": out_q, "centroid_id": out_c})

    def score(pdf):
        import numpy as _np
        import pandas as _pd

        empty = _pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "cosine": [], "rank": []}
        ).astype(
            {
                "query_id": "int64",
                "neighbor_id": "int64",
                "cosine": "float64",
                "rank": "int32",
            }
        )
        if len(pdf) == 0:
            return empty
        qid = int(pdf["query_id"].iloc[0])
        hit = bq.value.get(qid)
        if hit is None:
            return empty
        qv, qlab = hit
        if use_labels:
            lab = pdf[label_col].to_numpy(dtype="int64")
            pdf = pdf[(lab == qlab) if want_same else (lab != qlab)]
            if len(pdf) == 0:
                return empty
        ids = pdf["neighbor_id"].to_numpy(dtype="int64")
        A = _np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf[vec_col]])
        dot = _np.zeros(len(A))
        nsq = _np.zeros(len(A))
        qnsq = 0.0
        for kk in range(d_):
            dot += A[:, kk] * qv[kk]
            nsq += A[:, kk] * A[:, kk]
            qnsq += qv[kk] * qv[kk]
        cos = dot / _np.sqrt(qnsq * nsq)
        order = _np.lexsort((ids, -cos))[:k_]
        return _pd.DataFrame(
            {
                "query_id": _np.full(len(order), qid),
                "neighbor_id": ids[order],
                "cosine": cos[order],
                "rank": _np.arange(1, len(order) + 1, dtype="int32"),
            }
        )

    src = spread(emb.select(*q_sel))
    assign_schema = f"neighbor_id long, {vec_col} array<float>, centroid_id long"
    if use_labels:
        assign_schema += f", {label_col} long"
    assigned = src.mapInPandas(assign, assign_schema)
    probes = (
        emb.where(query_pred)
        .select(id_col, vec_col)
        .mapInPandas(probe, "query_id long, centroid_id long")
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    return (
        cand.groupBy("query_id")
        .applyInPandas(
            score, "query_id long, neighbor_id long, cosine double, rank int"
        )
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def max_cosine_vs_reference(
    corpus: DataFrame,
    reference: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Per-corpus-row nearest-reference report: for every corpus
    vector, the max cosine against ANY reference vector, the nearest
    reference id (ties -> lowest id), and a ``contaminated`` flag at
    ``threshold`` — semantic decontamination against a benchmark/eval
    embedding set.

    Scale shape: the reference side is SMALL BY CONTRACT (an eval
    benchmark — thousands of rows), so it broadcasts as one dense
    float64 matrix and the whole operator is ONE scan-parallel
    ``mapInPandas`` pass over the corpus — exact, linear, ZERO
    shuffles (not even a top-k exchange; the max folds inside the
    batch kernel). This is the production form at 100 TB: the corpus
    streams, nothing about it is collected or repartitioned.

    Exactness: cosines come from the shared :func:`_cos_block`
    in-order fold; ``np.argmax`` takes the first max over columns
    sorted by ascending reference id == the oracle's ``row_number()
    ORDER BY cos DESC, ref_id``; the flag is one exact >= compare.
    Degenerate inputs: an EMPTY reference yields zero rows (the
    oracle's CROSS JOIN against an empty bench — not a crash). A
    ZERO-NORM vector on either side is OUT OF CONTRACT and refused
    loudly: its cosine is 0/0, whose result is engine- and
    version-dependent (numpy NaN vs DuckDB NULL, itself switched by
    DuckDB's ieee_floating_point_ops) — no silent answer can be
    oracle-stable, and a zero embedding is a broken input for cosine
    anyway."""
    import numpy as np

    out_schema = (
        f"{id_col} long, nearest_benchmark_id long, max_cosine double, "
        "contaminated boolean"
    )
    # enforce "small by contract" and collect in ONE bounded pass: a
    # caller passing a corpus-sized reference gets a loud refusal (not
    # a driver OOM), and an in-bound reference pays its lineage exactly
    # once (round-9 advice: the earlier separate count() probe
    # re-executed the reference computation before the collect).
    ref_ids, R = _collect_matrix_guarded(
        reference, id_col, vec_col, "max_cosine_vs_reference"
    )
    if len(ref_ids) == 0:
        # the oracle's CROSS JOIN against an empty bench is empty
        return corpus.sparkSession.createDataFrame([], out_schema)
    d = int(dim)
    r_nsq = _nsq_rows(R, d)
    if (r_nsq == 0.0).any():
        bad = ref_ids[np.nonzero(r_nsq == 0.0)[0][:5]].tolist()
        raise ValueError(
            f"zero-norm reference embedding(s) {bad}: cosine against a "
            "zero vector is 0/0, which no engine pair answers "
            "consistently — drop or re-embed them first"
        )
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((ref_ids, R, r_nsq))
    thr = float(threshold)

    def score(batches):
        import numpy as _np
        import pandas as _pd

        ids_r, mat_r, nsq_r = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            _, sims = _cos_block(block[vec_col], mat_r, nsq_r, d)
            if _np.isnan(sims).any():
                ids_b = block[id_col].to_numpy(dtype="int64")
                bad = ids_b[_np.isnan(sims).any(axis=1)][:5].tolist()
                raise ValueError(
                    f"zero-norm corpus embedding(s) {bad}: cosine is "
                    "0/0 — out of contract, drop or re-embed them first"
                )
            am = _np.argmax(sims, axis=1)
            mx = sims[_np.arange(len(sims)), am]
            yield _pd.DataFrame(
                {
                    id_col: block[id_col].to_numpy(dtype="int64"),
                    "nearest_benchmark_id": ids_r[am],
                    "max_cosine": mx,
                    "contaminated": mx >= thr,
                }
            )

    src = spread(corpus.select(id_col, vec_col))
    return src.mapInPandas(score, out_schema)


def lsh_near_dup_pairs_vectorized(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """LSH-bucketed near-dup, Arrow+numpy path: bit-identical to the
    DuckDB oracle's SQL bucketing and in-order cosine fold, without a
    130-column pair join or 512-term codegen projections.

    Stage 1 (``mapInPandas``): each vector's 8 hyperplane projections
    and its bucket id, accumulated per-dimension in index order — the
    exact IEEE-754 sequence of the oracle's ``list_reduce`` fold, so
    sign decisions (and hence buckets) match the SQL bucketing
    bit-for-bit. O(N), scan-parallel.

    Stage 2 (``groupBy(bucket).applyInPandas``): ONE shuffle keyed by
    bucket; inside each bucket the n_b^2 cosine block is accumulated
    per-dimension (same in-order trick as
    :func:`_baseline_near_dup_pairs_vectorized`), pairs ``i < j`` above threshold
    emitted. The pair space never exists JVM-side.

    Scale: at 100 TB, widen NUM_PLANES so 2^planes keeps each bucket's
    group (the unit applyInPandas must hold in one worker) bounded —
    bucket population halves per added plane; skew beyond that is
    handled by salting the bucket id and unioning the salted halves'
    cross block.
    """
    import numpy as np

    planes = np.array(HYPERPLANES, dtype=np.float64)  # (P, D)
    n_planes = planes.shape[0]
    thr = float(threshold)
    d = int(dim)

    def assign(batches):
        import numpy as _np
        import pandas as _pd

        for block in batches:
            if len(block) == 0:
                continue
            A = _np.stack(
                [_np.asarray(v, dtype=_np.float64) for v in block[vec_col]]
            )
            proj = _np.zeros((len(A), n_planes))
            for k in range(d):
                proj += _np.outer(A[:, k], planes[:, k])
            bucket = ((proj > 0) << _np.arange(n_planes)).sum(axis=1)
            yield _pd.DataFrame(
                {
                    id_col: block[id_col].to_numpy(dtype="int64"),
                    vec_col: block[vec_col],
                    "bucket": bucket.astype("int32"),
                }
            )

    def score(pdf):
        import numpy as _np
        import pandas as _pd

        if len(pdf) < 2:
            return _pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        ids = pdf[id_col].to_numpy(dtype="int64")
        A = _np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf[vec_col]])
        acc = _np.zeros((len(A), len(A)))
        nsq = _np.zeros(len(A))
        for k in range(d):
            acc += _np.outer(A[:, k], A[:, k])
            nsq += A[:, k] * A[:, k]
        cos = acc / _np.sqrt(_np.outer(nsq, nsq))
        ii, jj = _np.nonzero((cos >= thr) & (ids[:, None] < ids[None, :]))
        return _pd.DataFrame(
            {"vec_a": ids[ii], "vec_b": ids[jj], "cosine": cos[ii, jj]}
        )

    src = spread(emb.select(id_col, vec_col))
    bucketed = src.mapInPandas(
        assign, f"{id_col} long, {vec_col} array<float>, bucket int"
    )
    return bucketed.groupBy("bucket").applyInPandas(
        score, "vec_a long, vec_b long, cosine double"
    )


#: Product-quantization geometry: M subspaces of DSUB dims, K codes
#: per subspace. Encoded vector = M small ints -> 8 bytes per vector
#: here vs 256 for float32 (the memory-bound-ANN compression step).
PQ_M = 8
PQ_DSUB = DIM // PQ_M
PQ_K = 16


def pq_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (ADC search): vectors are encoded as
    ``PQ_M`` codebook ids; query-to-vector distance is approximated by
    summing per-subspace lookup-table entries — the compression layer
    a memory-bound ANN index runs at 100 TB (32x smaller than float64
    before any int8 tricks).

    Deterministic "training" keeps the DuckDB oracle exact: the shared
    codebook is the ``PQ_K`` hash-first rows (:func:`centroid_rows` —
    fixed-size, corpus-independent memory), code ``c`` of subspace
    ``m`` being that row's dims ``[m*DSUB, (m+1)*DSUB)``. Encoding
    takes the lexicographic min of (in-order squared distance,
    code_id) per subspace — the same struct-min tie-break the k-means
    op uses, reproduced by DuckDB's list-min. The ADC distance is the
    strict in-order sum of the M table lookups, so ranks match the
    SQL replay bit-for-bit.

    Scale shape: ONE broadcast cross join of the big table against 16
    codebook rows computes all M per-subspace distances inside
    whole-stage codegen; the 8 argmins collapse into a single
    map-side-combinable groupBy. Query distance tables (q x M x K
    doubles) broadcast; the approximate distance is then a ROW-LOCAL
    array lookup sum — candidate scoring never shuffles the corpus,
    and the only shuffle is the per-query top-k ranking."""
    cbflat = pq_codebook(emb, id_col, vec_col)
    enc = pq_encode(emb, cbflat, id_col, vec_col)
    q = flatten(emb.where(query_pred), "e", "query_id", id_col, vec_col)
    qdt = pq_query_tables(q, cbflat)
    return pq_adc_topk(enc, qdt, k)


def _pq_sub_dist(prefix_a: str, prefix_b: str, m: int) -> Column:
    d: Column = F.lit(0.0)
    for i in range(m * PQ_DSUB + 1, (m + 1) * PQ_DSUB + 1):
        diff = F.col(f"{prefix_a}{i}") - F.col(f"{prefix_b}{i}")
        d = d + diff * diff
    return d


def pq_codebook(emb, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Flattened PQ_K-row shared codebook (code_id + c1..cD)."""
    from pyspark.sql import Window

    cb = centroid_rows(emb, PQ_K, id_col, vec_col)
    cbw = Window.orderBy(id_col)
    return flatten(
        cb.withColumn("code_id", F.row_number().over(cbw) - 1).drop(id_col)
        .withColumnRenamed("code_id", id_col),
        "c",
        "code_id",
        id_col,
        vec_col,
        DIM,
    )


def pq_encode(emb, cbflat, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Corpus -> PQ codes (nid, code0..codeM-1): one broadcast cross
    join against the 16 codebook rows, argmins collapsed into a single
    map-side-combinable groupBy."""
    base = spread(flatten(emb, "e", "nid", id_col, vec_col))
    pair = base.crossJoin(F.broadcast(cbflat))
    enc_d = pair.select(
        "nid",
        "code_id",
        *[_pq_sub_dist("e", "c", m).alias(f"d{m}") for m in range(PQ_M)],
    )
    return enc_d.groupBy("nid").agg(
        *[
            F.min(F.struct(F.col(f"d{m}"), F.col("code_id"))).alias(f"s{m}")
            for m in range(PQ_M)
        ]
    ).select(
        "nid", *[F.col(f"s{m}.code_id").alias(f"code{m}") for m in range(PQ_M)]
    )


def pq_query_tables(qflat, cbflat):
    """Flattened query vectors -> per-query ADC lookup tables: one
    K-entry array per subspace, indexed by code id (array_sort on
    (code_id, d) structs -> d projection)."""
    qd = qflat.crossJoin(F.broadcast(cbflat)).select(
        "query_id",
        "code_id",
        *[_pq_sub_dist("e", "c", m).alias(f"d{m}") for m in range(PQ_M)],
    )

    def _dtable(m: int) -> Column:
        # factory binds m by value; a default-arg lambda would be
        # mis-detected as a binary (element, index) lambda by
        # pyspark's arity inspection
        return F.transform(
            F.array_sort(F.collect_list(F.struct("code_id", f"d{m}"))),
            lambda s: s[f"d{m}"],
        ).alias(f"dt{m}")

    return qd.groupBy("query_id").agg(*[_dtable(m) for m in range(PQ_M)])


def pq_query_tables_rows(
    queries: list[tuple[int, list[float]]], cb: dict[int, list[float]]
) -> list[tuple]:
    """Driver-side twin of :func:`pq_query_tables` for SERVING batches:
    a microbatch's query payload is bounded at |batch requests|, so its
    ADC lookup tables (|batch| x M x K doubles) are computed on the
    driver and handed to :func:`pq_adc_topk` as a LocalRelation —
    no per-batch aggregation job, no per-batch broadcast-materialize
    job, no 64-column flatten codegen (guide §1.2: fix the per-batch
    algorithm before per-task work). The CORPUS code table never
    touches the driver; only the request payload does.

    IEEE-exactness contract (same as the module header): each distance
    is the in-order float64 fold ``d += (e_i - c_i)^2`` over the
    subspace's dims — operand-for-operand the ops :func:`_pq_sub_dist`
    runs in the JVM (element_at().cast("double") is an exact widening
    of the float32 source, as is Python's collect conversion), so the
    tables are bit-identical to :func:`pq_query_tables`'s and every
    downstream rank replays exactly (pinned by
    tests/test_similarity_ops.py).

    ``queries``: (query_id, embedding) per request; ``cb``: code_id ->
    flattened centroid doubles (c1..cD order). Row m-th table entry c
    is the distance to code c (code_id order — what pq_query_tables's
    array_sort produces)."""
    out: list[tuple] = []
    for qid, vec in queries:
        e = [float(x) for x in vec]
        dts = []
        for m in range(PQ_M):
            lo = m * PQ_DSUB
            tbl = []
            for c in range(PQ_K):
                cvec = cb[c]
                d = 0.0
                for i in range(lo, lo + PQ_DSUB):
                    diff = e[i] - cvec[i]
                    d += diff * diff
                tbl.append(d)
            dts.append(tbl)
        out.append((int(qid), *dts))
    return out


def pq_adc_topk(enc, qdt, k: int):
    """ADC scoring: broadcast the query tables against the code table,
    row-local lookup sums, per-query top-k."""
    from pyspark.sql import Window

    scored = enc.crossJoin(F.broadcast(qdt)).where(F.col("nid") != F.col("query_id"))
    adist: Column = F.lit(0.0)
    for m in range(PQ_M):
        adist = adist + F.expr(f"element_at(dt{m}, code{m} + 1)")
    scored = scored.select(
        "query_id", F.col("nid").alias("neighbor_id"), adist.alias("approx_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


#: Cross-process home for persisted serving indexes. Unlike the
#: in-process _TRAINED_CACHE (which dies with the JVM), an index
#: staged here survives across driver/bench/pytest processes — the
#: round-10 verdict measured streaming_ann_pq_serving paying a full
#: corpus re-encode per fresh JVM. Env var is read at import time;
#: tests monkeypatch the module attribute instead.
PQ_INDEX_HOME = os.environ.get(
    "SPARK_GRAFT_INDEX_HOME",
    # uid-scoped default: /tmp is world-writable, so a SHARED fixed
    # path would let any local user pre-create a well-formed index
    # dir that a later victim process trusts (round-11 review pass 3
    # — index poisoning). Per-uid homes + the load-time ownership
    # check close that; production deployments point the env var at
    # a real artifact store.
    f"/tmp/flink_scala_spark_indexes-{os.getuid()}",
)

#: Builder format version, folded into every index key. The staged
#: directory OUTLIVES code versions (that is its whole point), so any
#: change to pq_codebook / pq_encode / centroid_rows semantics MUST
#: bump this — otherwise a fresh JVM running new code would silently
#: serve an index built by the old code (round-11 review finding).
PQ_INDEX_FORMAT_VERSION = 1

#: Retention: staged index versions kept per lineage (round-11 verdict
#: item 2 — without a vacuum, every source-content change strands one
#: full code-table copy under PQ_INDEX_HOME forever).
PQ_INDEX_KEEP = 2


def _trusted_index_home() -> str | None:
    """PQ_INDEX_HOME, created-if-absent with mode 0700 and verified
    OWNED — or None when it cannot be trusted (callers fall back to the
    in-session build). /tmp is world-writable and uids are guessable,
    so another local user can pre-create the per-uid path (round-11
    ADVICE): a DEFAULT home that is a symlink, not a directory, or not
    owned by our euid is REFUSED outright; an owned default home with
    group/other bits is repaired to 0700 (we own it — chmod is safe)
    so staged artifacts are never world-readable/replaceable.

    An EXPLICITLY configured home (SPARK_GRAFT_INDEX_HOME set) is the
    operator's trust decision — a deliberately group-shared artifact
    store is a documented use, and silently chmodding it to 0700 would
    lock out its other readers (round-12 review pass 2). For a
    configured home we only require a real directory (symlinks to the
    store are legitimate there, so stat, not lstat) and never touch
    its mode; the per-STAGED-DIR ownership checks in
    :func:`pq_persisted_index` / :func:`vacuum_index_home` still
    refuse foreign index dirs inside it."""
    import stat as _stat

    home = PQ_INDEX_HOME
    # "configured" only when the module-level home actually came from
    # the env var (tests monkeypatch PQ_INDEX_HOME and must keep the
    # strict default-path behavior)
    configured = os.environ.get("SPARK_GRAFT_INDEX_HOME") == home
    try:
        os.makedirs(home, mode=0o700, exist_ok=True)
        if configured:
            return home if _stat.S_ISDIR(os.stat(home).st_mode) else None
        st = os.lstat(home)
        if not _stat.S_ISDIR(st.st_mode) or st.st_uid != os.geteuid():
            return None
        if st.st_mode & 0o077:
            os.chmod(home, 0o700)
            st = os.lstat(home)
            if st.st_mode & 0o077:
                return None
    except OSError:
        return None
    return home


def _index_lineage(id_col: str, vec_col: str) -> str:
    """Retention grouping key: indexes over the same encoding columns
    and PQ geometry are VERSIONS of one logical index (the corpus
    content changed underneath); keep-newest-K applies within it."""
    return (
        f"id:{id_col}|vec:{vec_col}"
        f"|M{PQ_M}|K{PQ_K}|DIM{DIM}|v{PQ_INDEX_FORMAT_VERSION}"
    )


def vacuum_index_home(
    home: str,
    keep: int = PQ_INDEX_KEEP,
    protect: tuple[str, ...] = (),
    grace_s: float = 86400.0,
    lru_grace_s: float = 3600.0,
) -> dict:
    """Retention for the persisted-index home: keep the newest ``keep``
    staged dirs per lineage (last-use order — loads ``os.utime`` their
    dir, so this is LRU, not stage-time), remove the rest. Mirrors
    pipeline/export.py's vacuum discipline (round-11 verdict item 2):

    1. the KEEP set is computed FIRST (newest-K per lineage, plus every
       ``protect`` path — the index the caller just loaded is never a
       candidate);
    2. an expired dir's MANIFEST.json — its commit record — is removed
       BEFORE its artifacts, so a crash mid-vacuum can strand garbage
       parquet (collected by any later vacuum via the grace window) but
       can never leave a trusted manifest over deleted data;
    3. manifest-less remnants and orphaned ``.tmp-*`` staging dirs are
       collected only once older than ``grace_s`` — a CONCURRENT
       stager's temp dir is exactly such an entry between its write and
       its rename, and an eager delete would destroy a healthy
       in-flight stage;
    4. a manifest-valid dir USED within ``lru_grace_s`` (loads utime
       their dir) is never removed even when it falls past keep-K
       (round-12 review pass 1): loaded index frames are LAZY, so a
       dir another process — or an earlier load in THIS process — just
       read may still back live DataFrames; the recency guard closes
       that window for any frame acted on within the grace. The
       remaining envelope is documented on :func:`pq_persisted_index`:
       a frame held live but UNUSED for over ``lru_grace_s`` across
       >= ``keep`` same-lineage corpus rewrites can lose its backing
       dir — re-load (cheap) instead of holding stale index frames.

    Entries not owned by our euid are never touched (rmtree of another
    user's files would fail anyway — and they are never trusted by the
    loader either). Returns {"removed": [...], "kept": [...]}.
    """
    import json as _json
    import shutil
    import stat as _stat
    import time

    try:
        entries = os.listdir(home)
    except OSError:
        return {"removed": [], "kept": []}
    euid = os.geteuid()
    now = time.time()
    by_lineage: dict[str, list[tuple[float, str]]] = {}
    garbage: list[str] = []
    for name in entries:
        p = os.path.join(home, name)
        try:
            st = os.lstat(p)
        except OSError:
            continue
        if not _stat.S_ISDIR(st.st_mode) or st.st_uid != euid:
            continue
        if name.startswith("pq-") and ".tmp-" not in name:
            try:
                with open(os.path.join(p, "MANIFEST.json")) as f:
                    m = _json.load(f)
                lineage = m.get("lineage") or _json.dumps(
                    # pre-round-12 manifests carry no lineage: group by
                    # what they do record so legacy dirs still age out
                    [
                        "legacy",
                        m.get("pq_m"),
                        m.get("pq_k"),
                        m.get("dim"),
                        m.get("format_version"),
                    ]
                )
            except (OSError, ValueError):
                # no readable commit record: a crashed vacuum's remnant
                # or a partially-deleted dir — grace-windowed garbage
                if now - st.st_mtime > grace_s:
                    garbage.append(p)
                continue
            by_lineage.setdefault(lineage, []).append((st.st_mtime, p))
        elif ".tmp-" in name:
            if now - st.st_mtime > grace_s:
                garbage.append(p)
    removed: list[str] = []
    kept: list[str] = []
    for dirs in by_lineage.values():
        dirs.sort(reverse=True)
        keep_set = {p for _, p in dirs[: max(keep, 0)]} | set(protect)
        for mt, p in dirs:
            if p in keep_set or now - mt <= lru_grace_s:
                kept.append(p)
                continue
            try:
                os.remove(os.path.join(p, "MANIFEST.json"))
            except OSError:
                pass
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    for p in garbage:
        shutil.rmtree(p, ignore_errors=True)
        removed.append(p)
    return {"removed": removed, "kept": kept}


def _source_fingerprint(
    df: DataFrame, id_col: str, vec_col: str
) -> str | None:
    """Content fingerprint of a frame's input files + its ANALYZED
    PLAN + the encoding columns + the PQ geometry + the builder format
    version, or None when the source is not a stat-able local file
    scan (in which case persisting would risk staleness — callers fall
    back to in-session build). The plan hash (expression ids
    normalized, the _TRAINED_CACHE discipline) keys a
    filtered/projected frame DIFFERENTLY from the raw table scan —
    inputFiles alone would hand a subset frame the full-corpus index.
    id_col/vec_col are in the key for the same reason they are in the
    _TRAINED_CACHE key: the SAME frame encoded over a different vector
    column is a different index (round-11 review pass 3)."""
    try:
        files = tuple(sorted(df.inputFiles()))
        import re

        plan_s = re.sub(
            r"#\d+", "#", df._jdf.queryExecution().analyzed().toString()
        )
    except Exception:
        return None
    if not files:
        return None
    prints = _file_fingerprints(files)
    if prints is None:
        return None
    import hashlib
    import json as _json

    key = _json.dumps([list(p) for p in prints]) + (
        f"|id:{id_col}|vec:{vec_col}"
        f"|{plan_s}|M{PQ_M}|K{PQ_K}|DIM{DIM}|v{PQ_INDEX_FORMAT_VERSION}"
    )
    return hashlib.md5(key.encode()).hexdigest()


def pq_persisted_index(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """Load-or-build the PERSISTED PQ serving index: ``(enc, cbflat)``
    — the corpus code table (nid, code0..codeM-1) and the flattened
    PQ_K-row codebook — staged once per source fingerprint under
    PQ_INDEX_HOME and thereafter loaded by every process (round-10
    verdict item 5: the serving entry retrained per fresh JVM; the
    in-process cache could not help across bench/gate/pytest runs).

    Publication is atomic via maintenance.stage_once (write to a temp
    sibling, rename into place — the manifest-as-commit discipline of
    pipeline/export.py: MANIFEST.json is written INSIDE the staged
    directory before the rename, so a reader either sees nothing or a
    complete index). The directory key is the md5 of the input files'
    (path, size, mtime_ns) fingerprints + the PQ geometry, so a
    rewritten source produces a NEW key and can never serve a stale
    index. Builders are deterministic (hash-first codebook, struct-min
    encoding), so the loaded index is bit-identical to an in-session
    build and every downstream oracle is unchanged.

    100 TB shape: this IS the production serving split — index build
    is an offline batch job writing ~9 small ints per vector (32x
    smaller than the float corpus); serving JVMs mmap/scan the code
    table and never touch raw vectors.

    Lifetime envelope (round-12 review pass 1): the returned frames
    are LAZY reads of the staged dir. Retention never removes a dir
    used within the vacuum's LRU grace (loads utime it), so any frame
    acted on within that window is safe — but a frame held live yet
    UNUSED for longer, across >= PQ_INDEX_KEEP same-lineage corpus
    rewrites, can lose its backing dir to a later load's vacuum.
    Re-load instead of holding stale index frames."""
    from flink_scala_spark.operators import maintenance

    spark = emb.sparkSession

    def build_in_session():
        # The one true fallback, shared by every degrade path below
        # (round-11 review pass 3 collapsed three verbatim copies):
        # persistence is an optimization, never a correctness
        # dependency — this build is bit-identical to a loaded index.
        cb = pq_codebook(emb, id_col, vec_col)
        return pq_encode(emb, cb, id_col, vec_col), cb

    fp = _source_fingerprint(emb, id_col, vec_col)
    if fp is None:
        return build_in_session()
    # Never stage under (or trust) a home that is not an owned 0700
    # directory — see _trusted_index_home (round-11 ADVICE).
    home = _trusted_index_home()
    if home is None:
        return build_in_session()
    path = os.path.join(home, f"pq-{fp}")

    def write(tmp: str) -> None:
        import json as _json

        os.makedirs(tmp, exist_ok=True)
        cb = pq_codebook(emb, id_col, vec_col)
        # 16 rows / n x 9 ints — coalesce(1) keeps the artifact one
        # file each; at real scale the codes write would stay
        # partitioned and the manifest would list the files
        cb.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "codebook")
        )
        pq_encode(emb, cb, id_col, vec_col).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "codes"))
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            _json.dump(
                {
                    "kind": "pq_index",
                    "fingerprint": fp,
                    "format_version": PQ_INDEX_FORMAT_VERSION,
                    "pq_m": PQ_M,
                    "pq_k": PQ_K,
                    "dim": DIM,
                    "lineage": _index_lineage(id_col, vec_col),
                    "artifacts": ["codebook", "codes"],
                },
                f,
                indent=2,
                sort_keys=True,
            )

    # Staging failures must degrade to the in-session build the
    # function already runs for non-fingerprintable sources (round-11
    # review pass 2). Catch Exception, not just OSError: an unwritable
    # home or full disk can surface from the JVM-side parquet write as
    # Py4JJavaError/AnalysisException, which are not OSErrors
    # (round-11 review pass 3).
    try:
        maintenance.stage_once(path, write)
    except Exception:
        return build_in_session()
    # Validate the commit record AND the artifacts before trusting the
    # directory: the geometry/version live in the key, so a mismatch
    # here means a hand-copied or corrupted directory; a manifest with
    # missing/empty codebook/codes subdirs (partial deletion) would
    # otherwise crash every subsequent load. A dir not OWNED by us is
    # never trusted (and never repaired — rmtree of another user's
    # files would fail anyway): fall back in-session only.
    import json as _json

    try:
        owned = os.stat(path).st_uid == os.geteuid()
    except OSError:
        owned = False
    if not owned:
        return build_in_session()

    def _has_parquet(sub: str) -> bool:
        d = os.path.join(path, sub)
        try:
            return any(n.startswith("part-") for n in os.listdir(d))
        except OSError:
            return False

    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            m = _json.load(f)
        ok = (
            m.get("kind") == "pq_index"
            and m.get("format_version") == PQ_INDEX_FORMAT_VERSION
            and (m.get("pq_m"), m.get("pq_k"), m.get("dim"))
            == (PQ_M, PQ_K, DIM)
            and _has_parquet("codebook")
            and _has_parquet("codes")
        )
    except (OSError, ValueError):
        ok = False
    if not ok:
        # REMOVE the invalid dir so the next call re-stages rather
        # than short-circuiting on the bad path forever.
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return build_in_session()
    # Touch the dir (LRU marker) and vacuum siblings of its lineage:
    # retention is last-USE order, so an actively-served index is never
    # evicted by a newer stage of a different corpus version. Both are
    # maintenance — a failure here must never fail serving.
    try:
        os.utime(path)
        vacuum_index_home(home, protect=(path,))
    except Exception:
        pass
    # The reads themselves degrade too (round-12 review pass 2): a
    # CONCURRENT process's vacuum can lstat a stale mtime just before
    # our utime and rmtree the dir between validation and this read —
    # newly reachable now that retention deletes staged dirs at all.
    # spark.read.parquet lists files eagerly, so the loss surfaces
    # HERE, and serving must fall back, never fail. The failing dir is
    # REMOVED first (pass 3): a manifest-valid dir with a corrupt
    # part- file would otherwise short-circuit stage_once forever,
    # silently disabling persistence for that fingerprint — the same
    # self-heal the invalid-manifest branch above applies; when the
    # vacuum race already deleted it, the rmtree is a no-op.
    try:
        cb = spark.read.parquet(os.path.join(path, "codebook"))
        enc = spark.read.parquet(os.path.join(path, "codes"))
    except Exception:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return build_in_session()
    return enc, cb


def pq_refined_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    coarse_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN serving — the production retrieval path: the PQ
    index (:func:`pq_topk`, 8 code bytes/vector) scans the whole
    corpus cheaply for ``coarse_k`` candidates per query, then ONLY
    those candidates are re-scored with exact cosine and re-ranked to
    the final ``k``. Exactly the coarse-quantize -> rerank split every
    memory-bound vector store runs at 100 TB: the expensive float math
    touches |queries| x coarse_k rows, never the corpus.

    Scale shape: the candidate list (|queries| x coarse_k ids) plus
    the flattened query vectors broadcast into ONE hash join against
    the corpus scan — the corpus is never shuffled; the only exchange
    is the per-query final top-k. Rerank scoring is the same in-order
    fold as :func:`_flat_cosine`, so ranks replay exactly in SQL."""
    from pyspark.sql import Window

    cand = pq_topk(emb, query_pred, k=coarse_k, id_col=id_col, vec_col=vec_col)
    q = flatten(emb.where(query_pred), "q", "qid", id_col, vec_col)
    cq = cand.select("query_id", "neighbor_id").join(
        F.broadcast(q), F.col("query_id") == F.col("qid")
    ).drop("qid")
    c = spread(flatten(emb, "c", "cid", id_col, vec_col))
    pairs = c.join(F.broadcast(cq), F.col("cid") == F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", _flat_cosine("q", "c").alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_pq_refined_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    coarse_k: int = 20,
    nprobe: int = 4,
    num_centroids: int = IVF_SERVING_CENTROIDS,
    train_iters: int = IVF_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed production ANN serving shape (FAISS IVFPQ +
    refine): the TRAINED coarse quantizer prunes the corpus to the
    ``nprobe`` probed cells, PQ codes (8 bytes/vector) ADC-score ONLY
    those candidates, the best ``coarse_k`` per query are re-scored
    with exact cosine and re-ranked to the final ``k``.

    This combines the two orthogonal 100 TB levers the standalone
    entries prove separately: IVF cuts the CANDIDATE COUNT to
    ~nprobe/C of the corpus (`ann_ivf_topk`), PQ cuts the PER-CANDIDATE
    cost to M table lookups over 8-byte codes (`ann_pq_topk`), and the
    refine stage restores exact ranking on queries x coarse_k rows
    (`ann_pq_refined`). Scale shape: centroids + codebook + query
    tables + probes are all fixed-size broadcasts; the corpus is
    scanned for assignment/encoding but NEVER shuffled by cell or
    collected; the only data-scale shuffles are id-keyed (assignment
    max_by, code groupBy, candidate join) and the per-query top-k.

    Determinism: cell assignment/probing reuse the trained-quantizer
    folds; ADC distance is the strict in-order sum of the M lookups;
    coarse ties break on (approx_dist, neighbor_id), final ties on
    (cosine DESC, neighbor_id) — every stage replays exactly in SQL.
    Vector geometry is bound to the module's DIM (the PQ subspace
    constants PQ_M/PQ_DSUB slice it), so unlike the single-lever
    kernels this one takes no ``dim`` override.
    """
    from pyspark.sql import Window

    cent_ids, C = trained_centroids(
        emb, num_centroids, train_iters, id_col, vec_col, DIM
    )
    d = int(DIM)
    c_nsq = _nsq_rows(C, d)
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((cent_ids, C, c_nsq))
    np_ = int(nprobe)

    def assign_cells(batches):
        import numpy as _np
        import pandas as _pd

        ids_c, mat_c, nsq_c = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            _, sim = _cos_block(block[vec_col], mat_c, nsq_c, d)
            yield _pd.DataFrame(
                {
                    "nid": block[id_col].to_numpy(dtype="int64"),
                    "centroid_id": ids_c[_np.argmax(sim, axis=1)],
                }
            )

    def probe_cells(batches):
        import numpy as _np
        import pandas as _pd

        ids_c, mat_c, nsq_c = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            _, sim = _cos_block(block[vec_col], mat_c, nsq_c, d)
            qids = block[id_col].to_numpy(dtype="int64")
            out_q, out_c = [], []
            for r in range(len(qids)):
                order = _np.lexsort((ids_c, -sim[r]))[:np_]
                out_q.extend([qids[r]] * len(order))
                out_c.extend(ids_c[order])
            yield _pd.DataFrame({"query_id": out_q, "centroid_id": out_c})

    src = spread(emb.select(id_col, vec_col))
    asg = src.mapInPandas(assign_cells, "nid long, centroid_id long")
    probes = (
        emb.where(query_pred)
        .select(id_col, vec_col)
        .mapInPandas(probe_cells, "query_id long, centroid_id long")
    )
    # PQ index over the SAME corpus scan shape as ann_pq_topk
    cbflat = pq_codebook(emb, id_col, vec_col)
    enc = pq_encode(emb, cbflat, id_col, vec_col)
    q = flatten(emb.where(query_pred), "e", "query_id", id_col, vec_col)
    qdt = pq_query_tables(q, cbflat)
    # candidates: probed cells only; ADC-score them row-locally
    cand = (
        enc.join(asg, "nid")
        .join(F.broadcast(probes), "centroid_id")
        .where(F.col("nid") != F.col("query_id"))
    )
    adist: Column = F.lit(0.0)
    for m in range(PQ_M):
        adist = adist + F.expr(f"element_at(dt{m}, code{m} + 1)")
    scored = cand.join(F.broadcast(qdt), "query_id").select(
        "query_id", F.col("nid").alias("neighbor_id"), adist.alias("approx_dist")
    )
    cw = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    coarse = (
        scored.withColumn("crank", F.row_number().over(cw))
        .where(F.col("crank") <= coarse_k)
        .select("query_id", "neighbor_id")
    )
    # exact refine on queries x coarse_k rows (the pq_refined pattern)
    qf = flatten(emb.where(query_pred), "q", "qid", id_col, vec_col)
    cq = coarse.join(F.broadcast(qf), F.col("query_id") == F.col("qid")).drop(
        "qid"
    )
    c = spread(flatten(emb, "c", "cid", id_col, vec_col))
    pairs = c.join(F.broadcast(cq), F.col("cid") == F.col("neighbor_id"))
    ref = pairs.select(
        "query_id", "neighbor_id", _flat_cosine("q", "c").alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        ref.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


#: Fixed-point quantization scale for deterministic distributed sums.
CENTROID_SCALE = 1_000_000.0


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid of the embedding vectors — the k-means /
    IVF-training "update" step as one distributed aggregation.

    Floating-point addition is not associative, so a naive
    ``sum(double)`` depends on partitioning and can't be checked
    exactly across engines. Instead each component is quantized to
    fixed-point (``floor(v * 1e6)`` — floor is exact IEEE, no rounding
    mode ambiguity) and summed as BIGINTs, which IS associative: the
    result is bit-identical under any partitioning, retry, or engine.
    The final divide maps back to a double (one correctly-rounded op).

    Shape: posexplode to (label, dim) then ONE map-side-combinable
    hash agg — shuffle carries 'labels x dims' rows, independent of
    input size.
    """
    e = emb.select(F.col(label_col).alias("label"), F.posexplode(vec_col).alias("pos", "v"))
    q = e.select(
        "label",
        "pos",
        # explicit float->double widen (exact) BEFORE the multiply: an
        # engine that multiplies in float precision lands on different
        # floor boundaries
        F.floor(F.col("v").cast("double") * F.lit(CENTROID_SCALE)).cast("bigint").alias("qv"),
    )
    agg = q.groupBy("label", "pos").agg(
        F.count("*").alias("n"), F.sum("qv").alias("s")
    )
    return agg.select(
        "label",
        "pos",
        "n",
        (
            F.col("s").cast("double") / (F.lit(CENTROID_SCALE) * F.col("n").cast("double"))
        ).alias("centroid"),
    )


def quantize_int8(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transfer
    step an ANN index at 100 TB runs before anything else (4x smaller
    vectors, SIMD-friendly integer dot products downstream).

    ``scale = 127 / max|v|``; ``q_i = floor(v_i * scale + 0.5)``
    (floor(x+0.5) rather than round() because half-way rounding of
    round() differs between engines — floor is bit-identical).
    Emits the quantized array, the scale to dequantize, and the max
    absolute reconstruction error. Row-local array expressions only —
    scales with the scan, no shuffle, no UDF. The scan is spread
    (tables.spread — no-op on multi-split cluster inputs): the per-dim
    interpreted array math ran on ONE local task (round-13 A/B at
    sf0.1: 2.52 -> 0.35 s noop)."""
    emb = spread(emb)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(max_abs == 0.0, F.lit(0.0)).otherwise(F.lit(127.0) / max_abs)
    q = F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))
    dq_err = F.when(max_abs == 0.0, F.lit(0.0)).otherwise(
        F.array_max(
            F.zip_with(v, q, lambda x, qi: F.abs(x - qi.cast("double") / scale))
        )
    )
    return emb.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("qvec"),
        dq_err.alias("max_abs_err"),
    )


def kmeans_assign_fixed(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means for a FIXED number of iterations with exact
    cross-engine semantics — the iterative-algorithm shape (assign →
    update → reassign). Centroids — a bounded k x dim artifact, never
    row data — are collected to the driver each iteration and inlined
    as literals (the standard Lloyd's topology, e.g. Spark MLlib's),
    so each iteration's plan is a single flat pass over the vectors.

    Determinism contract (what makes the DuckDB oracle exact):
    - init: the k vectors with ``vec_id < k`` seed the centroids;
    - distances are strict in-order left folds of (v_i - c_i)^2
      (``aggregate`` from 0.0 == ``list_reduce`` from the first
      element, since 0.0 + x is exact);
    - assignment ties break on the lower centroid id via a
      lexicographic (dist, cid) least() over the k per-centroid
      structs — row-local, no shuffle at all;
    - centroid updates use the fixed-point BIGINT accumulation of
      :func:`label_centroids` (floor(v*1e6) sums), associative and
      bit-stable under any partitioning; the update division runs in
      Spark SQL and the resulting doubles round-trip the driver
      bit-exactly (IEEE754 is preserved through py4j and ``lit``).

    Scale (round-12 rework, guide §2.3/2.4/4.2): the old shape
    crossJoined every vector row with the k centroid rows (a k-fold
    fan-out of the corpus) and re-reduced it through Exchange + Sort +
    SortAggregate(min(struct)) per iteration, then joined assignments
    back to the vectors — three corpus-sized shuffles per iteration.
    Now each iteration is ONE mapInArrow pass over (vec_id, v) only:
    the k x dim argmin runs as vectorized NumPy per Arrow batch (the
    guide's sweet spot for custom per-row math — an inline SQL
    expression of k*dim*2 arithmetic nodes was tried first and spent
    2-3 s/iteration in analysis + codegen of the 2000-node tree), and
    non-final passes fold the fixed-point centroid sums per batch so
    the only shuffle is the (cid, pos)-keyed partial-sum agg (k x dim
    rows per task). The corpus is never shuffled.

    Bit-exactness of the NumPy kernel: the distance accumulates
    elementwise over dims in ascending order (acc += d*d, one
    vectorized IEEE add per dim), which is the same sequential left
    fold 0.0 + d0^2 + d1^2 + ... as the SQL form; np.argmin returns
    the FIRST minimal index and centroid columns are sorted by cid, so
    ties break on the lower cid exactly like least(struct(dist, cid));
    floor(v * 1e6) -> int64 and the final double division mirror the
    Spark expressions operation for operation."""
    dim = DIM
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    cent_rows = (
        v.where(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cid"), "v")
        .collect()
    )
    cents = sorted((int(r["cid"]), list(r["v"])) for r in cent_rows)

    def _argmin(batch, C):
        """(n,) argmin column index + (n, kc) distance matrix for one
        Arrow batch against centroid matrix C (kc x dim)."""
        import numpy as np

        V = batch.column("v").flatten().to_numpy(zero_copy_only=False)
        V = np.asarray(V, dtype=np.float64).reshape(batch.num_rows, C.shape[1])
        acc = np.zeros((batch.num_rows, C.shape[0]), dtype=np.float64)
        for i in range(C.shape[1]):
            d = V[:, i : i + 1] - C[None, :, i]
            acc += d * d
        return V, np.argmin(acc, axis=1), acc

    for it in range(iters):
        C = __import__("numpy").array([vec for _cid, vec in cents], dtype="float64")
        cids = [int(cid) for cid, _vec in cents]
        if it < iters - 1:

            def partial_update(batches, C=C, kc=len(cents)):
                import numpy as np
                import pyarrow as pa

                S = np.zeros((kc, C.shape[1]), dtype=np.int64)
                N = np.zeros(kc, dtype=np.int64)
                for batch in batches:
                    if batch.num_rows == 0:
                        continue
                    V, j, _acc = _argmin(batch, C)
                    Q = np.floor(V * CENTROID_SCALE).astype(np.int64)
                    for ci in range(kc):
                        m = j == ci
                        if m.any():
                            S[ci] += Q[m].sum(axis=0)
                            N[ci] += int(m.sum())
                live = [ci for ci in range(kc) if N[ci]]
                if live:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(
                                [ci for ci in live for _ in range(C.shape[1])],
                                pa.int32(),
                            ),
                            pa.array(
                                [p for _ in live for p in range(C.shape[1])],
                                pa.int32(),
                            ),
                            pa.array(
                                [int(S[ci][p]) for ci in live for p in range(C.shape[1])],
                                pa.int64(),
                            ),
                            pa.array(
                                [int(N[ci]) for ci in live for _ in range(C.shape[1])],
                                pa.int64(),
                            ),
                        ],
                        names=["ci", "pos", "s", "n"],
                    )

            u = (
                v.mapInArrow(partial_update, "ci int, pos int, s long, n long")
                .groupBy("ci", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            )
            upd: dict[int, list] = {}
            for r in u.collect():
                cv = float(r["s"]) / (CENTROID_SCALE * float(r["n"]))
                upd.setdefault(cids[int(r["ci"])], []).append((int(r["pos"]), cv))
            # a centroid with no assigned vectors vanishes, exactly as
            # the old groupBy("cid") rebuild (and the oracle) had it
            cents = sorted(
                (cid, [cv for _pos, cv in sorted(pvs)]) for cid, pvs in upd.items()
            )
        else:

            def assign_final(batches, C=C, cids=cids):
                import numpy as np
                import pyarrow as pa

                cid_arr = np.array(cids, dtype=np.int32)
                for batch in batches:
                    if batch.num_rows == 0:
                        continue
                    _V, j, acc = _argmin(batch, C)
                    yield pa.RecordBatch.from_arrays(
                        [
                            batch.column("vec_id"),
                            pa.array(cid_arr[j], pa.int32()),
                            pa.array(acc[np.arange(len(j)), j], pa.float64()),
                        ],
                        names=["vec_id", "cluster_id", "sq_dist"],
                    )

            return v.mapInArrow(
                assign_final, "vec_id long, cluster_id int, sq_dist double"
            )


def mmr_rerank(
    emb: DataFrame,
    query_pred,
    k_candidates: int = 20,
    k_select: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    from each query's exact top-``k_candidates`` cosine neighbors,
    iteratively select ``k_select`` results maximizing
    ``0.5*relevance - 0.5*max_sim_to_already_selected`` — the standard
    diversity rerank a retrieval pipeline runs after ANN so near-
    duplicate passages don't crowd the context window.

    λ is fixed at 0.5 because 0.5 and (1-0.5) are the SAME exactly-
    representable double — an asymmetric λ would make Python's ``1-λ``
    and the SQL literal disagree in the last ulp and break the
    hash-exact oracle.

    Determinism/exactness: relevance is the stage-1 cosine (in-order
    fold); candidate-candidate cosines go through the shared
    :func:`_cos_block` fold; ``max`` over selected is order-free;
    score ties break to the lowest neighbor_id (argmax over ascending-
    id-sorted arrays). Every step replays in SQL, so the oracle is the
    same selection unrolled ``k_select`` times.

    Scale: stage 1 is the existing top-k machinery (broadcast queries,
    per-batch local top-k, one query_id-keyed shuffle of <= k rows per
    query per partition); the MMR loop itself runs per-query inside
    ``applyInPandas`` over ≤ k_candidates rows — O(k² · k_select)
    row-local arithmetic per query, embarrassingly parallel across
    queries, nothing global."""
    import numpy as np

    cands = cosine_topk_vectorized(
        emb, query_pred, k=k_candidates, id_col=id_col, vec_col=vec_col,
        dim=dim,
    )
    withvec = cands.select("query_id", "neighbor_id", "cosine").join(
        emb.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
        ),
        "neighbor_id",
    )
    d = int(dim)
    k_sel = int(k_select)

    def select(pdf):
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        n = len(pdf)
        ids = pdf["neighbor_id"].to_numpy(dtype="int64")
        rel = pdf["cosine"].to_numpy(dtype="float64")
        M = _np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf["nvec"]])
        nsq = _nsq_rows(M, d)
        # pass the stacked matrix straight through — a second stack of
        # the same Series was the dominant per-group Python cost
        _, sims = _cos_block(M, M, nsq, d)
        qid = int(pdf["query_id"].iloc[0])
        sel_idx: list[int] = []
        out = []
        for step in range(1, min(k_sel, n) + 1):
            if sel_idx:
                ms = sims[:, sel_idx].max(axis=1)
            else:
                ms = _np.zeros(n)
            score = 0.5 * rel - 0.5 * ms
            score[sel_idx] = -_np.inf
            pick = int(_np.argmax(score))  # first max == lowest id
            out.append((qid, int(ids[pick]), step, float(rel[pick]),
                        float(score[pick])))
            sel_idx.append(pick)
        return _pd.DataFrame(
            out,
            columns=["query_id", "neighbor_id", "mmr_rank", "relevance",
                     "mmr_score"],
        )

    return withvec.groupBy("query_id").applyInPandas(
        select,
        "query_id long, neighbor_id long, mmr_rank int, relevance double, "
        "mmr_score double",
    )


def negative_pool_sample(
    embeddings: DataFrame,
    query_predicate,
    pool_size: int = 64,
    k_slots: int = 4,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic uniform negative sampling through a SHARED pool —
    the contrastive-training counterpart to `hard_negative_mining`
    (which picks the closest wrong-label neighbors; uniform negatives
    are the unbiased complement every InfoNCE-style loss also needs).

    Scheme: the pool is the ``pool_size`` corpus rows with the smallest
    h60(id) — a uniform pseudo-random draw with no rand() (rerunnable,
    oracle-exact). Each query fills ``k_slots`` slots by indexing the
    pool at h60("query:slot") mod pool_size. Collisions are FLAGGED,
    never silently resampled (is_self: drew itself; label_collision:
    drew a same-label row — a false negative for the loss), so the
    training-side filter policy stays out of the sampler's contract.

    Scale: the pool is one TakeOrdered over the corpus (fixed
    ``pool_size`` rows on the driver-free path) and BROADCASTS — the
    corpus is never shuffled, queries are scanned once, and the join is
    against a constant-size side at any corpus scale."""
    from flink_scala_spark.functions.portable import h60

    pool = (
        embeddings.select(
            F.col(id_col).alias("neg_id"),
            F.col(label_col).alias("neg_label"),
            h60(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "neg_id")
        .limit(int(pool_size))
    )
    w = Window.orderBy("h", "neg_id")  # fixed pool_size rows: safe
    # Round 12 (guide §3.3/§5): pidx feeds both the pool-count agg and
    # the final broadcast join; lazily each reference re-ran the
    # corpus-wide TakeOrdered behind the pool (the before plan scanned
    # embeddings 3x). The pool is <= pool_size rows, so one lazy
    # localCheckpoint shares a single materialization — the corpus is
    # scanned once for the pool and once for the query side.
    pidx = pool.select(
        "neg_id", "neg_label", (F.row_number().over(w) - F.lit(1)).alias("idx")
    ).transform(shared_bounded)
    # modulus = the ACTUAL pool row count, not pool_size: a corpus
    # smaller than pool_size under-fills the pool, and a fixed modulus
    # would silently drop every (query, slot) hashing past the end —
    # violating the flagged-never-silently-dropped contract (round-9
    # review, verified on a 10-row corpus). The 1-row count broadcasts.
    pn = pidx.agg((F.max("idx") + F.lit(1)).alias("pool_n"))
    q = embeddings.where(query_predicate).select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("q_label")
    )
    qs = q.select(
        "query_id",
        "q_label",
        F.explode(F.sequence(F.lit(0), F.lit(int(k_slots) - 1))).alias("slot"),
    )
    qi = qs.join(F.broadcast(pn)).withColumn(
        "idx",
        h60(
            F.concat(
                F.col("query_id").cast("string"),
                F.lit(":"),
                F.col("slot").cast("string"),
            )
        )
        % F.col("pool_n"),
    )
    return qi.join(F.broadcast(pidx), "idx").select(
        "query_id",
        F.col("slot").cast("long").alias("slot"),
        "neg_id",
        (F.col("neg_id") == F.col("query_id")).alias("is_self"),
        (F.col("neg_label") == F.col("q_label")).alias("label_collision"),
    )


def knn_label_agreement(
    emb: DataFrame,
    query_pred,
    k: int = 5,
) -> DataFrame:
    """kNN label-agreement audit — the embedding-quality report an
    embedding-training pipeline gates on: for each query vector, the
    majority label among its k exact cosine nearest neighbors is
    compared to the query's own label; per true label the report gives
    query count, agreement count, and agreement in integer ppm. A
    healthy embedding space has high agreement; a collapsed or shuffled
    one shows up immediately as near-random agreement.

    Built on :func:`cosine_topk_vectorized` (exact path, guarded by
    MAX_EXACT_PAIRS — past the bound it refuses naming the IVF twin, so
    the 100 TB path is kNN over `ivf_topk` candidates). Vote
    tie-break: larger neighbor-count wins, then the SMALLER label — a
    total order, so the audit is partitioning-proof. The two label
    joins are against the (vec_id, label) projection of the corpus —
    column-pruned at the scan; the vote is a groupBy over k rows per
    query."""
    from pyspark.sql import Window

    labels = emb.select(
        F.col("vec_id").alias("_lid"), F.col("label").alias("_lbl")
    )
    topk = cosine_topk_vectorized(emb, query_pred, k=k)
    nb = topk.join(
        labels, topk["neighbor_id"] == labels["_lid"]
    ).select("query_id", F.col("_lbl").alias("n_label"))
    votes = nb.groupBy("query_id", "n_label").agg(F.count("*").alias("vn"))
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("vn"), F.asc("n_label")
    )
    winner = (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"))
    )
    qlab = emb.where(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    joined = winner.join(qlab, "query_id")
    return (
        joined.groupBy("true_label")
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast("long")
            ).alias("n_agree"),
        )
        .select(
            "true_label",
            "n_queries",
            "n_agree",
            F.expr("(1000000 * n_agree) DIV n_queries").alias("agree_ppm"),
        )
    )


def embedding_health_audit(emb: DataFrame) -> DataFrame:
    """Degenerate-vector audit — the pre-flight check before any
    similarity stage: per label, how many vectors are all-zero (cosine
    undefined: every downstream kernel divides by the norm) or carry a
    non-finite component (NaN/Inf poisons every dot product it touches),
    plus the exact norm² range and mean in integer ppm (per-row floor
    to BIGINT BEFORE summing — partitioning-proof, cf.
    source_reputation_filter).

    Row-local flags + one map-side-combinable agg over the label key
    space: at 100 TB this is the scan and nothing else — no shuffle of
    vector payloads, no Python. The norm² fold is the in-order
    portable dot (bit-identical in the oracle)."""
    from flink_scala_spark.functions.portable import inorder_dot

    nsq = inorder_dot(F.col("embedding"), F.col("embedding"))
    inf = float("inf")
    nonfinite = F.exists(
        "embedding",
        lambda x: F.isnan(x.cast("double"))
        | (x.cast("double") == F.lit(inf))
        | (x.cast("double") == F.lit(-inf)),
    )
    per = emb.select(
        "label",
        nsq.alias("nsq"),
        nonfinite.cast("long").alias("bad"),
    ).select(
        "label",
        "bad",
        # flag zero vectors on the exact fold; floor AFTER flagging so
        # a denormal-but-nonzero norm² cannot alias to the zero flag
        (F.col("nsq") == F.lit(0.0)).cast("long").alias("is_zero"),
        # nsq_ppm is NULL for non-finite vectors AND for finite norms
        # past 9e12: casting a double whose *1e6 scaling leaves int64
        # range is engine-divergent (Spark non-ANSI saturates/zeroes,
        # DuckDB raises), and a finite garbage component of ~1e10 is
        # exactly the degenerate input this audit exists to catch —
        # such vectors still count in n_vecs (and in n_nonfinite when
        # non-finite); only the norm stats exclude them.
        F.when(
            (F.col("bad") == 0) & (F.col("nsq") <= F.lit(9.0e12)),
            F.floor(F.col("nsq") * F.lit(1000000.0)).cast("long"),
        ).alias("nsq_ppm"),
    )
    return per.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("is_zero").alias("n_zero"),
        F.sum("bad").alias("n_nonfinite"),
        F.min("nsq_ppm").alias("min_nsq_ppm"),
        F.max("nsq_ppm").alias("max_nsq_ppm"),
        # mean over FINITE vectors; NULL (not a crash) when none are
        F.expr(
            "CASE WHEN count(nsq_ppm) = 0 THEN NULL"
            " ELSE sum(nsq_ppm) DIV count(nsq_ppm) END"
        ).alias("mean_nsq_ppm"),
    )
