"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:

- Exact dedup is one hash-shuffle on ``md5(text)`` — the canonical
  doc per group is a window ``min`` (map-side partial agg applies).
- MinHash+LSH never enumerates the O(n^2) pair space: signatures are
  one groupBy over exploded shingles (S min-aggregates, map-side
  combinable), candidates come from equi-joins on band buckets
  (shuffle keyed by a 128-bit band hash — uniformly distributed, no
  skew), and the exact-Jaccard verify touches only candidate pairs.
- SimHash is one groupBy producing a 60-bit signature per doc, then
  band-blocked (4 x 15-bit) candidate generation + popcount verify;
  all integer arithmetic inside whole-stage codegen. 15-bit band keys
  keep buckets bounded: an 8-bit key puts ~1/256 of ALL docs in one
  bucket (a 748-doc bucket at just sf0.1 — quadratic pair blowup in a
  single task), while 32k keys shrink the hot bucket ~250x and the
  blocking guarantee (hamming <= 3 over 4 bands pigeonholes into >= 1
  exact band match) is band-width-independent.
- The brute n-gram Jaccard pairs operator is the small-scale baseline
  the LSH paths are checked against.

All hashes are :func:`flink_scala_spark.functions.h60`, so the DuckDB
oracles reproduce every candidate and every score exactly (including
LSH's probabilistic misses — the oracle runs the same bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_scala_spark.functions import h60
from flink_scala_spark.materialize import (
    loop_checkpoint,
    loop_checkpoint_lazy,
    shared_bounded,
)

# Default MinHash geometry: 8 hashes, 4 bands x 2 rows.
# Collision prob at Jaccard j is 1-(1-j^2)^4: ~0.99 at j=0.8, ~0.06
# at j=0.2 — tuned for the >= 0.5 verify threshold used below.
NUM_HASHES = 8
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

#: Schema/semantics version stamped on persisted doc profiles. Bump on
#: any change to the shingle hashing, minhash family, or shset layout
#: (v2 = multiply-add universal family over 60-bit md5 halves + hashed
#: bigint shset). incremental_near_dup refuses profiles from another
#: version — pre-v2 profiles (string shset, h1+s*h2 family) would
#: otherwise type-error on array_intersect or silently match zero band
#: keys.
PROFILE_VERSION = 2


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup mapping: every doc -> canonical (min id) doc of its
    identical-text group, plus the group size."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return docs.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
        (F.col(id_col) != F.min(id_col).over(w)).cast("int").alias("is_dup"),
    )


def positional_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    out_col: str = "shingle",
    pos_col: str | None = None,
) -> DataFrame:
    """Every positional word n-gram per document (NOT distinct) as
    ``(doc_id, out_col)`` — plus the 1-based start position when
    ``pos_col`` is given (the substring-scrub path needs to know WHERE
    each span sits).

    The words array is materialized in a projection BEFORE the
    position explode, so each n-gram is n O(1) element_at lookups
    — not a re-split of the text per lambda element (higher-order
    ``transform`` lambdas run interpreted without common-subexpression
    elimination; the naive form was ~50x slower). Shared by
    ``word_shingles`` (→ distinct), ``text.duplicate_spans`` and
    ``text.scrub_duplicate_spans`` so they can never diverge on
    tokenization.
    """
    wdf = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    ).where(F.size("w") >= n)
    idx = wdf.select(
        "doc_id", "w", F.explode(F.sequence(F.lit(1), F.size("w") - F.lit(n - 1))).alias("i")
    )
    parts = ", ".join(f"element_at(w, i + {j})" for j in range(n))
    cols = ["doc_id", F.expr(f"concat_ws(' ', {parts})").alias(out_col)]
    if pos_col is not None:
        cols.insert(1, F.col("i").alias(pos_col))
    return idx.select(*cols)


def word_shingles(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document."""
    return positional_ngrams(docs, text_col, id_col, n).distinct()


#: Per-hash multiply-add constants (odd, < 2^30) for the universal
#: family below; distinct (a, b) pairs give the 8 minhashes the
#: cross-hash independence LSH banding needs.
MH_A = (
    0x2545F491, 0x1B873593, 0x27D4EB2F, 0x165667B1,
    0x9E3779B1 & 0x3FFFFFFF, 0x85EBCA77 & 0x3FFFFFFF,
    0xC2B2AE3D & 0x3FFFFFFF, 0x2354BD53,
)
MH_B = (
    0x3C6EF373, 0x1D8E4E27, 0x2A6E3A59, 0x30BC9F75,
    0x119DE1F3, 0x2E5BF6A7, 0x14BA74F3, 0x38B34AE5,
)
MH_MOD = (1 << 61) - 1


def _shingle_h1_h2(shingle):
    """Two 30-bit halves of one 60-bit md5-prefix hash. Each of the
    ``num_hashes`` minhash functions is the multiply-add universal
    combination ``(A_s*lo + B_s*hi) mod (2^61-1)`` over these halves —
    ONE md5 per shingle, yet the 8 functions rank shingles
    near-independently (a plain ``h1 + s*h2`` looked cheaper but is an
    arithmetic progression in one shingle's values: the same shingle
    tends to minimize every hash, collapsing LSH band collisions for
    mid-Jaccard pairs — caught by the subset-duplicate test).
    ``A_s*lo + B_s*hi < 2^61``, so no BIGINT overflow on either
    engine."""
    m = F.md5(shingle)
    h = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    lo = h.bitwiseAND(F.lit((1 << 30) - 1))
    hi = F.shiftright(h, 30)
    return h, lo, hi


def doc_profiles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """Per-doc minhash signature AND distinct shingle-hash set in ONE
    groupBy over the raw (non-distinct) shingle stream.

    ``min`` ignores duplicate shingles and ``collect_set`` dedups
    inside the aggregation, so the shuffle-``distinct`` over the
    exploded shingle table — the largest intermediate of the whole
    pipeline at 100 TB — disappears, and signatures + verify sets +
    set sizes come out of a single hash-shuffle on doc_id instead of
    three.

    The verify set stores the 60-bit ``h1`` shingle hash, not the
    shingle string: the persisted profile and the verify-join payload
    shrink ~4x and ``array_intersect`` compares longs instead of
    strings. Jaccard over hashed shingles equals Jaccard over shingles
    up to 60-bit collisions (~n_shingles^2 / 2^61 per doc pair —
    negligible, and the DuckDB oracle hashes identically so the gate
    stays exact)."""
    wdf = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    ).where(F.size("w") >= n)
    idx = wdf.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1), F.size("w") - F.lit(n - 1))).alias("i"),
    )
    parts = ", ".join(f"element_at(w, i + {j})" for j in range(n))
    raw = idx.select("doc_id", F.expr(f"concat_ws(' ', {parts})").alias("shingle"))
    h, lo, hi = _shingle_h1_h2(F.col("shingle"))
    hashed = raw.select("doc_id", h.alias("h1"), lo.alias("lo"), hi.alias("hi"))
    aggs = [
        F.min(
            (F.lit(MH_A[s]) * F.col("lo") + F.lit(MH_B[s]) * F.col("hi"))
            % F.lit(MH_MOD)
        ).alias(f"mh{s}")
        for s in range(num_hashes)
    ]
    return hashed.groupBy("doc_id").agg(
        *aggs,
        F.collect_set("h1").alias("shset"),
        F.size(F.collect_set("h1")).alias("n"),
    ).withColumn("profile_ver", F.lit(PROFILE_VERSION))


def lsh_band_table(sigs: DataFrame, bands: int = NUM_BANDS, rows: int = ROWS_PER_BAND) -> DataFrame:
    """(doc_id, band, key) rows — band key = md5 over that band's
    signature slice; docs sharing (band, key) are candidates.

    Single pass over ``sigs``: the per-band keys are built as an array
    of structs and exploded, instead of a bands-way union that would
    recompute the signature aggregation once per band.
    """
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)],
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc_id", F.explode(entries).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def candidate_pairs_from_bands(band_table: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band bucket.

    Bucket-local combination generation: one groupBy collects each
    bucket's (sorted) doc list, pairs come from TWO cascaded explodes —
    the band subtree is computed ONCE, vs twice for a self-join, and no
    join shuffle is needed at all.

    The two-step explode is load-bearing (round-9 64x stress): a single
    ``flatten(transform(...))`` materializes the WHOLE O(k^2) pair
    array of a bucket in ONE row — under heavy duplication (k = clone
    count x natural collisions) that one allocation GC-spiraled the
    executor. Exploding the anchor first keeps every row O(k): same
    total work, streamed instead of materialized.
    """
    buckets = (
        band_table.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    anchors = buckets.select(
        "ids", F.posexplode("ids").alias("i", "doc_a")
    )
    return (
        anchors.select(
            "doc_a",
            F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("doc_b"),
        )
        .distinct()
    )


def verified_jaccard(cand: DataFrame, shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over the candidate pairs only.

    The shingle table is rolled up ONCE into per-doc sets; each
    candidate pair then intersects two in-row arrays
    (``array_intersect`` — row-local, no extra shuffle). ``cand`` is
    small by construction (LSH/simhash pruned) and broadcasts.
    """
    doc_sets = shingles.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shset"), F.count("*").alias("n")
    )
    a = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"), F.col("n").alias("na")
    )
    b = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"), F.col("n").alias("nb")
    )
    # no broadcast hint: the candidate frame scales with duplication
    # density (the 64x stress measured 11M pairs), so AQE's size
    # check decides — broadcast while genuinely small, shuffle join
    # when the corpus is clone-heavy
    paired = cand.join(a, "doc_a").join(b, "doc_b")
    scored = paired.withColumn(
        "common", F.size(F.array_intersect("set_a", "set_b")).cast("long")
    ).withColumn(
        "jaccard",
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
    )
    return scored.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "common", "jaccard"
    )


def jaccard_scored_pairs(cand: DataFrame, prof: DataFrame) -> DataFrame:
    """Exact-verification scoring shared by the production dedup
    (:func:`_minhash_pairs`) and the parameter sweep
    (:func:`lsh_parameter_sweep`): join candidate (doc_a, doc_b) pairs
    to the profile's hashed shingle sets and score exact common-count
    and Jaccard. Single source so the sweep's precision numbers can
    never drift from the dedup they predict.

    No broadcast hint on ``cand``: the candidate frame scales with
    duplication density (the 64x stress measured 11M pairs), so AQE's
    size check decides — broadcast while genuinely small, shuffle join
    when the corpus is clone-heavy."""
    a = prof.select(
        F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"),
        F.col("n").cast("long").alias("na"),
    )
    b = prof.select(
        F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"),
        F.col("n").cast("long").alias("nb"),
    )
    paired = cand.join(a, "doc_a").join(b, "doc_b")
    return paired.withColumn(
        "common", F.size(F.array_intersect("set_a", "set_b")).cast("long")
    ).withColumn(
        "jaccard",
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
    )


def _minhash_pairs(
    docs: DataFrame,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of :func:`minhash_lsh_dedup` and
    :func:`near_dup_clusters`: returns (verified pairs, persisted
    profile) so callers that materialize the pairs can unpersist the
    profile afterwards."""
    prof = doc_profiles(docs, text_col, n=n, num_hashes=num_hashes).persist()
    sigs = prof.select("doc_id", *[f"mh{s}" for s in range(num_hashes)])
    cand = candidate_pairs_from_bands(lsh_band_table(sigs, bands, num_hashes // bands))
    out = jaccard_scored_pairs(cand, prof).where(
        F.col("jaccard") >= threshold
    ).select("doc_a", "doc_b", "common", "jaccard")
    return out, prof


def minhash_lsh_dedup(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = NUM_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash -> LSH banding -> exact-Jaccard verification.

    One pass builds signatures + verify sets (:func:`doc_profiles`,
    persisted — it feeds the band table and both sides of the verify
    join, and at scale re-deriving it would re-shuffle the shingle
    stream three times)."""
    out, _prof = _minhash_pairs(docs, text_col, n, num_hashes, bands, threshold)
    return out


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    max_iter: int = 50,
) -> DataFrame:
    """Cluster assignment over the near-dup pair graph — the end product
    of dedup at scale: every doc mapped to its connected component's
    canonical (min-id) doc.

    Components via min-label propagation: each round every node takes
    the min label among itself and its neighbors; converges in
    graph-diameter rounds (near-dup components are shallow). Each round
    is one join + one map-side-combined min agg, with
    ``localCheckpoint`` truncating the lineage so plans don't grow
    across iterations. The driver-side loop only checks a converged
    count — no row data leaves the cluster. (At pathological diameters
    the alternating large-star/small-star variant bounds rounds to
    O(log n) — shipped as :func:`near_dup_clusters_star`, same output,
    shared oracle; near-dup graphs rarely need it.)

    Singleton docs (no near-dup edges) never enter the loop — they join
    back at the end with themselves as canonical.
    """
    pairs_all, prof = _minhash_pairs(
        docs, text_col, 3, NUM_HASHES, NUM_BANDS, threshold
    )
    pairs = pairs_all.select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).transform(loop_checkpoint)
    # edges is materialized now; the shingle-profile cache only served
    # the pair derivation and would otherwise sit in executor memory
    # for the whole label-propagation loop.
    prof.unpersist()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .transform(loop_checkpoint)
    )
    for it in range(max_iter):
        nbr = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .select(F.col("doc_a").alias("doc_id"), F.col("label").alias("nbr_label"))
            .groupBy("doc_id")
            .agg(F.min("nbr_label").alias("nbr_label"))
        )
        # One join computes both the new label and the changed flag;
        # localCheckpoint materializes it eagerly so the convergence
        # count and the next round reuse the same result (the old
        # shape re-joined new vs old labels — a second shuffle per
        # round for information the first join already had).
        stepped = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("chg"),
            )
            .transform(loop_checkpoint)
        )
        labels = stepped.select("doc_id", "label")
        # Round 0 always changes on any graph with edges (every
        # non-canonical node adopts a neighbor's smaller label) — skip
        # its convergence-count job.
        if it > 0 and stepped.where(F.col("chg")).count() == 0:
            break
    out = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id"))
    )
    w = Window.partitionBy("cluster_id")
    return out.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Brute-force baseline: candidates = every pair sharing >= 1
    shingle (no LSH pruning). Quadratic in the worst case — the
    small-scale ground truth for the LSH path, not the 100 TB path."""
    sh = word_shingles(docs, text_col, n=n)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("s"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("s"))
    cand = (
        sa.join(sb, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return verified_jaccard(cand, sh, threshold)


SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit count-weighted SimHash per doc: one groupBy over exploded
    words; the 60 bit-sums are map-side-combinable integer aggs."""
    words = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    # count-weighting is implicit: summing each word INSTANCE's +-1 bit
    # contribution equals sum(cnt * bit) over distinct words, so the
    # intermediate (doc_id, word) count shuffle is unnecessary — one
    # map-side-combinable groupBy(doc_id) does it all.
    #
    # Bit-sliced accumulation: two 31-bit ones-counters pack into each
    # aggregate long (bit 2m in the low lane, bit 2m+1 at offset 31),
    # halving the agg buffer and the generated update code vs one sum
    # per bit. No lane carry while a doc has < 2^31 words (the high
    # lane then peaks at 2^62). sign bit s_i > 0 <=> 2*ones_i > n.
    hw = words.withColumn("hw", h60("word"))
    lane_mask = (1 << 31) - 1
    packed_aggs = [
        F.sum(
            F.shiftright(F.col("hw"), 2 * m).bitwiseAND(F.lit(1))
            + F.shiftleft(
                F.shiftright(F.col("hw"), 2 * m + 1).bitwiseAND(F.lit(1)), 31
            )
        ).alias(f"p{m}")
        for m in range(SIMHASH_BITS // 2)
    ]
    sums = hw.groupBy("doc_id").agg(F.count("*").alias("nw"), *packed_aggs)
    bits = []
    for m in range(SIMHASH_BITS // 2):
        ones_even = F.col(f"p{m}").bitwiseAND(F.lit(lane_mask))
        ones_odd = F.shiftright(F.col(f"p{m}"), 31)
        bits.append(
            F.when(ones_even * 2 > F.col("nw"), F.lit(1 << (2 * m))).otherwise(F.lit(0))
        )
        bits.append(
            F.when(ones_odd * 2 > F.col("nw"), F.lit(1 << (2 * m + 1))).otherwise(
                F.lit(0)
            )
        )
    sim = sums.select(
        "doc_id", sum(bits, F.lit(0)).cast("long").alias("simhash")
    )
    return sim


def simhash_near_dup(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: band-blocked candidates (a pair
    within hamming distance 3 must agree exactly on at least one of
    the 4 15-bit bands), verified by popcount of the XOR."""
    sim = simhash_signatures(docs, text_col)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    # Single pass over the signature agg: explode band keys, collect
    # each bucket's (doc_id, simhash) items, emit in-bucket pairs
    # row-locally (sorted structs order by doc_id, so doc_a < doc_b).
    bandt = sim.select("doc_id", "simhash", F.explode(entries).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    buckets = (
        bandt.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("items"))
        .where(F.size("items") > 1)
    )
    # two cascaded explodes, one row per anchor then per partner — NOT
    # a single flatten(transform(...)) pair array, whose O(k^2)
    # one-row allocation GC-spiraled on heavily-duplicated buckets
    # (round-9 64x stress; see candidate_pairs_from_bands)
    anchors = buckets.select(
        "items", F.posexplode("items").alias("i", "a")
    )
    pairs = (
        anchors.select(
            "a",
            F.explode(F.expr("slice(items, i + 2, size(items))")).alias("b"),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


PR_SCALE = 1_000_000_000  # fixed-point micro-units for PageRank mass


def near_dup_pagerank(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over the near-dup pair graph in INTEGER fixed-point —
    centrality-based canonical-document scoring (a hub of a duplicate
    cluster is the best keeper), and the engine's graph-analytics
    shape beyond connected components.

    Exactness: all mass arithmetic is BIGINT micro-units with floor
    divisions (``p // deg``, ``damping * s // 100``) — associative,
    partition-invariant, and reproduced digit-for-digit by the DuckDB
    oracle's unrolled iterations. Max mass fits comfortably: node mass
    is bounded by SCALE * n_nodes << 2^63.

    Scale: per iteration one join (contributions to in-neighbors) and
    one map-side-combinable sum — the standard distributed PageRank
    step; ``iters`` is fixed (the curation signal needs ranking, not
    convergence). Docs with no near-dup edges are excluded from the
    graph and the output entirely (a singleton needs no centrality to
    be its own canonical; X16 clusters covers that mapping)."""
    pairs_all, prof = _minhash_pairs(
        docs, text_col, 3, NUM_HASHES, NUM_BANDS, threshold
    )
    pairs = pairs_all.select("doc_a", "doc_b")
    # edges stays EAGER: it must materialize while the shingle-profile
    # cache is alive (prof.unpersist below would otherwise force the
    # band+verify subtree to recompute profile-less at first action).
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).transform(loop_checkpoint)
    prof.unpersist()
    deg = edges.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("deg")
    )
    # The iteration count is FIXED (no data-dependent driver decision),
    # so every remaining checkpoint is lazy: lineage/plan truncation at
    # build time, materialization folded into the final action's job
    # cascade instead of one eager job per iteration (guide §1.2 —
    # measured lazy-vs-eager on the batch-2 MAD report: 1.48 s vs
    # 2.0 s; here it removes 4 eager jobs).
    nodes = deg.select("doc_id", "deg").transform(loop_checkpoint_lazy)
    teleport = (100 - damping_pct) * PR_SCALE // 100
    p = nodes.select("doc_id", "deg", F.lit(PR_SCALE).cast("long").alias("pr"))
    for _ in range(iters):
        # `div` is EXACT BIGINT division (DuckDB's `//`); `/`-then-cast
        # goes through a correctly-rounded double whose truncation can
        # land one off the true floor near integer quotients.
        contrib = p.select("doc_id", F.expr("pr div deg").alias("share"))
        inbound = (
            edges.join(contrib, edges["doc_b"] == contrib["doc_id"])
            .select(F.col("doc_a").alias("doc_id"), "share")
            .groupBy("doc_id")
            .agg(F.sum("share").alias("s"))
        )
        p = (
            nodes.join(inbound, "doc_id", "left")
            .select(
                "doc_id",
                "deg",
                F.expr(
                    f"CAST({teleport} AS BIGINT)"
                    f" + ({damping_pct} * coalesce(s, CAST(0 AS BIGINT))) div 100"
                ).alias("pr"),
            )
            .transform(loop_checkpoint_lazy)
        )
    return p.select("doc_id", "deg", "pr")


def incremental_near_dup(
    new_docs: DataFrame,
    corpus_profiles: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = NUM_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup check of a NEW document batch against an EXISTING
    corpus — the incremental production path: the corpus side is the
    stored profile table :func:`doc_profiles` produced when the corpus
    was ingested (signature + hashed shingle set), so corpus text is
    never re-read, re-shingled, or re-hashed.

    Candidates come from a band-key equi-join between the new batch's
    band table and the corpus's; only cross-side pairs survive, so the
    join cost scales with |new| x collision rate, not |corpus|^2 —
    ingesting a 0.1% daily delta against a 100 TB corpus touches the
    profiles, not the data. Verification intersects the two hashed
    shingle sets row-locally as usual.

    Stored profiles carry ``profile_ver`` (see :data:`PROFILE_VERSION`)
    and are validated here: a missing column fails fast, and a
    mismatched version fails with an eager check — no silent
    zero-match runs against profiles hashed under an older family.
    The corpus profile frame is persisted for the duration of the
    call: the version probe materializes it once and the band table
    and verify side then reuse the cache (three derivations of a
    recomputed-from-text profile would otherwise re-shingle the
    corpus; a parquet-backed profile table makes the persist a cheap
    columnar cache). Cache OWNERSHIP is respected: if the caller
    already persisted corpus_profiles (the stored-table pattern —
    one cache reused across many ingest batches), this call leaves
    that cache alone; only a cache this call created is released.
    The result is eagerly materialized (``localCheckpoint``, it is
    candidate-pair-sized) so this call's caches are gone before
    returning."""
    if "profile_ver" not in corpus_profiles.columns:
        raise ValueError(
            "corpus_profiles lacks the profile_ver column — profiles "
            "persisted before versioning (or by foreign code) are not "
            f"safe to consume; re-ingest with doc_profiles (v{PROFILE_VERSION})."
        )
    from pyspark import StorageLevel

    caller_cached = corpus_profiles.storageLevel != StorageLevel.NONE
    if not caller_cached:
        corpus_profiles = corpus_profiles.persist()
    stale = (
        corpus_profiles.select("profile_ver")
        .where(F.col("profile_ver") != PROFILE_VERSION)
        .limit(1)
        .collect()
    )
    if stale:
        if not caller_cached:
            corpus_profiles.unpersist()
        raise ValueError(
            f"doc profile version mismatch: stored={stale[0][0]} "
            f"expected={PROFILE_VERSION}; re-ingest the corpus profiles."
        )
    new_prof = doc_profiles(new_docs, text_col, n=n, num_hashes=num_hashes).persist()
    sig_cols = [f"mh{s}" for s in range(num_hashes)]
    nb = lsh_band_table(new_prof.select("doc_id", *sig_cols), bands, num_hashes // bands)
    cb = lsh_band_table(
        corpus_profiles.select("doc_id", *sig_cols), bands, num_hashes // bands
    )
    cand = (
        nb.select(F.col("doc_id").alias("new_id"), "band", "key")
        .join(cb.select(F.col("doc_id").alias("corpus_id"), "band", "key"), ["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    a = new_prof.select(
        F.col("doc_id").alias("new_id"), F.col("shset").alias("set_a"),
        F.col("n").cast("long").alias("na"),
    )
    b = corpus_profiles.select(
        F.col("doc_id").alias("corpus_id"), F.col("shset").alias("set_b"),
        F.col("n").cast("long").alias("nb"),
    )
    # unhinted for the same reason as verified_jaccard: candidate
    # volume scales with duplication density, AQE decides
    paired = cand.join(a, "new_id").join(b, "corpus_id")
    scored = paired.withColumn(
        "common", F.size(F.array_intersect("set_a", "set_b")).cast("long")
    ).withColumn(
        "jaccard",
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
    )
    out = (
        scored.where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "common", "jaccard")
        .transform(loop_checkpoint)
    )
    new_prof.unpersist()
    if not caller_cached:
        corpus_profiles.unpersist()
    return out


#: Containment blocking knobs: each doc is represented by its
#: CONT_SAMPLE smallest shingle hashes; shingle hashes occurring in
#: more than CONT_DF_CAP documents are excluded from blocking.
CONT_SAMPLE = 16
CONT_DF_CAP = 64


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
    sample_size: int = CONT_SAMPLE,
    df_cap: int = CONT_DF_CAP,
) -> DataFrame:
    """Near-containment pairs: |A ∩ B| / min(|A|, |B|) >= threshold —
    the subset-duplicate detector (a quote, excerpt, or concatenation
    shares few shingles RELATIVE TO THE UNION, so Jaccard misses it,
    but most of the SMALLER doc's shingles).

    Blocking is containment-aware, NOT the Jaccard LSH band join: a
    40-word excerpt inside a 10k-word doc has Jaccard ~ |A|/|B| and a
    ~4*J^2 band-collision probability, so Jaccard-tuned bands miss
    almost all true subset duplicates at realistic size ratios.
    Instead each doc is represented by its ``sample_size`` SMALLEST
    shingle hashes (a bottom-s sketch — row-local ``array_sort`` +
    ``slice`` over the profile's hashed shingle set, no extra
    shuffle), and candidates are pairs where one doc's sampled hash
    appears anywhere in the other doc's FULL shingle set (sample ⋈
    posting equi-join on the hash).

    Recall bound: if containment(A ⊆ B) >= t, each of A's sampled
    hashes lands in B independently-enough with probability >= t
    (hash order is independent of membership in B), so the miss
    probability is <= (1-t)^s — ~6.5e-12 at t=0.8, s=16. Shingle
    hashes with document frequency > ``df_cap`` are dropped from
    blocking (join-skew guard; at most the s samples hitting capped
    hashes are lost, and text that common is near-stopword anyway —
    the bound degrades only for docs whose ENTIRE bottom-s sample is
    ultra-frequent shingles).

    Scale: the posting join is keyed by shingle hash with both sides
    capped at ``df_cap`` rows per key (pairs per key <= df_cap^2 — no
    hot-key blowup); the verify step touches candidates only, as in
    the Jaccard path. Jaccard is emitted alongside for comparison."""
    prof = doc_profiles(docs, text_col).persist()
    posting = prof.select("doc_id", F.explode("shset").alias("h1"))
    # The FREQUENT keys (df > cap) are the small set — bounded by
    # total_postings/df_cap and in practice a handful of near-stopword
    # shingles — so both join sides drop them via a broadcast
    # anti-join instead of shuffling the hot keys anywhere. The df agg
    # itself is map-side combinable (hot keys collapse per partition).
    freq = (
        posting.groupBy("h1")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
        .select("h1")
    )
    sample = prof.select(
        "doc_id",
        F.explode(F.slice(F.array_sort("shset"), 1, sample_size)).alias("h1"),
    )
    s = sample.join(F.broadcast(freq), "h1", "left_anti").select(
        F.col("doc_id").alias("sid"), "h1"
    )
    p = posting.join(F.broadcast(freq), "h1", "left_anti").select(
        F.col("doc_id").alias("pid"), "h1"
    )
    cand = (
        s.join(p, "h1")
        .where(F.col("sid") != F.col("pid"))
        .select(
            F.least("sid", "pid").alias("doc_a"),
            F.greatest("sid", "pid").alias("doc_b"),
        )
        .distinct()
    )
    a = prof.select(
        F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"),
        F.col("n").cast("long").alias("na"),
    )
    b = prof.select(
        F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"),
        F.col("n").cast("long").alias("nb"),
    )
    # no broadcast hint: the candidate frame scales with duplication
    # density (the 64x stress measured 11M pairs), so AQE's size
    # check decides — broadcast while genuinely small, shuffle join
    # when the corpus is clone-heavy
    paired = cand.join(a, "doc_a").join(b, "doc_b")
    scored = paired.withColumn(
        "common", F.size(F.array_intersect("set_a", "set_b")).cast("long")
    ).select(
        "doc_a",
        "doc_b",
        "common",
        (
            F.col("common").cast("double") / F.least("na", "nb").cast("double")
        ).alias("containment"),
        (
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
        ).alias("jaccard"),
    )
    return scored.where(F.col("containment") >= threshold)


def _canon_pairs(edges: DataFrame) -> DataFrame:
    """Undirected edge list -> canonical (lo, hi) pairs, no loops."""
    return (
        edges.select(
            F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi")
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame, max_iter: int = 40
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round algorithm for PATHOLOGICAL diameters, where
    plain min-label propagation (``near_dup_clusters``) needs
    O(diameter) rounds. Long chain-shaped components halve every
    round here (pinned by test: a 121-node path converges well inside
    20 alternations, where label propagation needs 120 rounds).

    ``pairs``: (doc_a, doc_b) undirected edges. Returns (doc_id,
    cluster_id = component min) for every node appearing in an edge.

    Each phase is one groupBy (map-side-combined min) plus one
    broadcast-or-shuffle join keyed the same way — the identical
    per-round cost profile as label propagation, but with round count
    logarithmic in the longest chain. Convergence = the small-star
    output reproduces its input edge set (every edge already points
    at its component min: a star).
    """
    def _ckpt_fp(edges: DataFrame):
        # Eager checkpoint + convergence fingerprint in ONE job
        # (round 13, guide §1.2): the (count, bit_xor-of-row-hashes)
        # signature rides the checkpoint materialization as observe()
        # metrics — the old shape ran a separate agg job per round
        # (2 jobs + 1 driver collect per round -> 1 job). bit_xor:
        # order-independent and overflow-free under ANSI (a sum of
        # 64-bit hashes overflows LongType). The fingerprint is used
        # only to SKIP the exact convergence check on rounds that
        # obviously still changed — never to declare convergence by
        # itself.
        from pyspark.sql import Observation

        obs = Observation()
        ck = edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(lo, hi))").alias("h"),
        ).transform(loop_checkpoint)
        m = obs.get
        return ck, (m["n"], m["h"])

    cur, cur_fp = _ckpt_fp(
        _canon_pairs(
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        )
    )
    for _ in range(max_iter):
        # large-star: for each node u, attach its strictly-larger
        # neighbors to m = min(N(u) + {u})
        sym = cur.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            cur.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        lm = sym.groupBy("u").agg(F.min("v").alias("mn"))
        lm = lm.select("u", F.least("mn", F.col("u")).alias("m"))
        ls = (
            sym.where(F.col("v") > F.col("u"))
            .join(lm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # no mid-round checkpoint: small-star consumes large-star's
        # output exactly once, so the round's eager end-of-round
        # checkpoint below materializes the whole two-phase chain in
        # ONE job instead of two
        ls_edges = _canon_pairs(ls)
        # small-star: each node u attaches its smaller neighbors (and
        # itself) to m = min of those
        e2 = ls_edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        sm = e2.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            e2.join(sm, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(sm.select("u", F.col("m").alias("v")))
        )
        # converged when the whole round is idempotent: the round's
        # OUTPUT equals its INPUT edge set (comparing mid-round states
        # can exit early on a coincidental match and silently emit
        # non-minimal labels). The exact check is an exceptAll — two
        # full shuffles — so it only runs when the cheap fingerprint
        # already agrees; equal multiset cardinalities make ONE empty
        # multiset difference sufficient for equality.
        nxt, nxt_fp = _ckpt_fp(_canon_pairs(ss))
        stable = (
            nxt_fp == cur_fp
            and nxt_fp[0] == cur_fp[0]
            and nxt.exceptAll(cur).isEmpty()
        )
        cur, cur_fp = nxt, nxt_fp
        if stable:
            break
    else:
        raise RuntimeError(
            f"alternating-star did not converge in {max_iter} rounds"
        )
    # stars: every hi points at its component min lo; minima map to
    # themselves
    members = cur.select(F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id"))
    roots = (
        cur.select(F.col("lo").alias("doc_id"))
        .distinct()
        .join(members.select(F.col("doc_id").alias("r")), F.col("doc_id") == F.col("r"), "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return members.unionByName(roots)


def near_dup_clusters_star(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.5
) -> DataFrame:
    """X16's cluster assignment computed by the alternating-star
    algorithm instead of label propagation — identical output (same
    oracle), logarithmic round bound. Singletons join back with
    themselves as canonical, exactly like ``near_dup_clusters``."""
    pairs_all, prof = _minhash_pairs(
        docs, text_col, 3, NUM_HASHES, NUM_BANDS, threshold
    )
    comp = connected_components_star(pairs_all.select("doc_a", "doc_b"))
    prof.unpersist()
    base = docs.select("doc_id")
    lab = base.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id")
    return lab.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def minhash_shingle_hashes(text_col: str = "text"):
    """ROW-LOCAL distinct-trigram 60-bit hash array (the ``hs`` stage
    of the streaming MinHash signature): distinct word trigrams ->
    md5-prefix hash, NULL when the doc has fewer than 3 words (NULL
    signatures, mirroring their absence from the batch/oracle
    signature sets).

    Project it in its OWN select, then apply
    :func:`minhash_exprs_over_hashes`: higher-order functions run
    interpreted with no common-subexpression elimination, so inlining
    this subtree into each of the 8 minhash columns re-hashes every
    shingle 8x and carries an 8x plan tree, which a streaming query
    re-analyzes every microbatch (CollapseProject keeps the two
    projections apart — the shared array is non-cheap and referenced
    8x)."""
    w = F.split(F.col(text_col), " ")
    n_sh = F.greatest(F.size(w) - 2, F.lit(0))
    shingles = F.when(
        n_sh > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(w, i),
                    F.element_at(w, i + 1),
                    F.element_at(w, i + 2),
                ),
            )
        ),
    )
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


def minhash_exprs_over_hashes(hs_col: str) -> list:
    """mh0..mh{NUM_HASHES-1} over an already-computed
    :func:`minhash_shingle_hashes` COLUMN — each minhash is one
    array_min(transform) over the shared array, (A_s*lo + B_s*hi) mod
    (2^61-1)."""
    mask = F.lit((1 << 30) - 1)

    def _mh_lambda(s):
        # NB: a default-arg capture (lambda x, _s=s: ...) would make
        # the lambda binary, and pyspark's transform() then passes the
        # ARRAY INDEX as the second argument — a closure keeps it unary
        a, b = F.lit(MH_A[s]), F.lit(MH_B[s])
        return lambda x: (a * x.bitwiseAND(mask) + b * F.shiftright(x, 30)) % F.lit(
            MH_MOD
        )

    return [
        F.array_min(F.transform(F.col(hs_col), _mh_lambda(s))).alias(f"mh{s}")
        for s in range(NUM_HASHES)
    ]


STITCH_K = 8  # words shared across a stitch boundary


def stitch_candidates(
    docs: DataFrame,
    k: int = STITCH_K,
    text_col: str = "text",
    id_cols: tuple = ("doc_id",),
    words_col: str | None = None,
) -> DataFrame:
    """Chunk-stitch candidates: pairs (a, b) where unit a's LAST ``k``
    words equal unit b's FIRST ``k`` words — the boundary artifact a
    chunking/sharding pipeline leaves when one document was split (or
    two chunks overlap-stitched) and both halves entered the corpus.
    Neither minhash nor containment catches these reliably: the shared
    region is a fixed-size boundary, a vanishing fraction of either
    document, so set-similarity scores stay below every threshold while
    the pair is still a provenance duplicate.

    Units are identified by ``id_cols`` VERBATIM (each output pair
    carries ``<col>_a`` / ``<col>_b`` for every id column) — composite
    ids like (doc_id, chunk_idx) never get packed into one synthesized
    integer, so there is no width to overflow and no namespace to
    collide. ``words_col`` skips the split when the caller already
    holds the word array (the chunked form would otherwise concat_ws
    only to immediately re-split).

    Shape: one row-local projection per unit (slice + h60 of the
    first-k and last-k grams), then ONE equi-join on the 60-bit
    boundary hash with a <> b on the full id tuple. Units shorter than
    ``k`` words are excluded before the join. Pair output is quadratic
    in the population sharing one boundary gram (the same contract as
    every banding dedup here: output-bound, never corpus²); the join
    itself is hash-partitioned by boundary key and AQE splits skewed
    keys.
    """
    from functools import reduce

    from flink_scala_spark.functions.portable import h60

    ids = list(id_cols)
    w = F.col(words_col) if words_col else F.split(F.col(text_col), " ")
    base = docs.select(*ids, w.alias("w")).where(F.size("w") >= int(k))
    # Round 12 (guide §3.3/§5): grams feeds both join sides, and lazily
    # each side re-ran the corpus scan + split/slice + gram hashing
    # (the before plan scanned documents 2x). grams is unit-grain —
    # ids plus two 64-bit hashes, no text — so one lazy localCheckpoint
    # shares a single materialization: the corpus words are read and
    # hashed exactly once, and the join reads ~20-byte rows.
    grams = base.select(
        *ids,
        h60(F.concat_ws(" ", F.slice("w", 1, int(k)))).alias("prefix_h"),
        h60(
            F.concat_ws(" ", F.expr(f"slice(w, size(w) - {int(k) - 1}, {int(k)})"))
        ).alias("suffix_h"),
    ).transform(shared_bounded)
    left = grams.select(
        *[F.col(c).alias(f"{c}_a") for c in ids],
        F.col("suffix_h").alias("boundary_h"),
    )
    right = grams.select(
        *[F.col(c).alias(f"{c}_b") for c in ids],
        F.col("prefix_h").alias("boundary_h"),
    )
    not_self = reduce(
        lambda acc, c: acc | (F.col(f"{c}_a") != F.col(f"{c}_b")),
        ids[1:],
        F.col(f"{ids[0]}_a") != F.col(f"{ids[0]}_b"),
    )
    out_cols = [f"{c}_a" for c in ids] + [f"{c}_b" for c in ids] + ["boundary_h"]
    return left.join(right, "boundary_h").where(not_self).select(*out_cols)


SWEEP_CONFIGS = ((8, 1), (4, 2), (2, 4))  # (bands, rows) over NUM_HASHES=8


def lsh_parameter_sweep(
    docs: DataFrame,
    configs=SWEEP_CONFIGS,
    threshold: float = 0.5,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """LSH banding-parameter sweep — the tuning report a dedup run is
    sized by: for each (bands, rows-per-band) split of the SAME
    signature table, the candidate-pair count the banding would emit
    and how many survive exact verification at ``threshold`` —
    i.e. recall knob vs verify-join cost, measured on the actual
    corpus instead of the textbook s-curve. More bands of fewer rows
    (8x1) catches low-similarity pairs at high candidate cost; fewer
    bands of more rows (2x4) is cheap but high-threshold.

    One profile pass (signatures + verify sets, persisted — it feeds
    every config's band table and both sides of every verify join);
    per config the pipeline is the production banding + the guarded
    pair enumeration, aggregated to ONE row before the union. Pair
    work is output-bound per config, exactly like the dedup operators
    themselves."""
    prof = doc_profiles(docs, text_col, n=n, num_hashes=num_hashes).persist()
    sigs = prof.select("doc_id", *[f"mh{s}" for s in range(num_hashes)])
    out = None
    for bands, rows in configs:
        assert bands * rows == num_hashes, (bands, rows, num_hashes)
        cand = candidate_pairs_from_bands(lsh_band_table(sigs, bands, rows))
        scored = jaccard_scored_pairs(cand, prof)
        agg = scored.agg(
            F.count("*").alias("n_candidates"),
            F.coalesce(
                F.sum((F.col("jaccard") >= F.lit(threshold)).cast("long")),
                F.lit(0),
            ).alias("n_verified"),
        ).select(
            F.lit(bands).cast("int").alias("bands"),
            F.lit(rows).cast("int").alias("rows_per_band"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_verified").cast("long").alias("n_verified"),
            F.expr(
                "CASE WHEN n_candidates = 0 THEN NULL"
                " ELSE (1000000 * n_verified) DIV n_candidates END"
            ).alias("precision_ppm"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out
