"""Unit tests for the curation-pipeline additions: repetition stats,
PII scrub, decontamination, exact group quantiles, JSON props, and the
live streaming dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_scala_spark.operators.aggregations import group_quantiles
from flink_scala_spark.pipeline import text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _broadcast_near_dup_baseline(emb, threshold: float):
    """Brute-force all-pairs cosine over (vec_id, embedding): the exact
    baseline, bit-identical to the DuckDB oracle's in-order fold.

    One side is broadcast as a dense float64 matrix; the streamed side
    scores a whole (Arrow batch x broadcast) block per dimension step,
    adding the k-th elementwise product in dimension order, so every
    pair's dot is the same IEEE-754 sequence 0.0 + a1*b1 + ... + aD*bD
    as the codegen/DuckDB fold. The whole corpus is collected to the
    driver, so this is a small-scale test baseline only."""
    import numpy as np

    from flink_scala_spark.pipeline.similarity import DIM
    from flink_scala_spark.tables import spread

    pdf = emb.select("vec_id", "embedding").toPandas()
    b_ids = pdf["vec_id"].to_numpy(dtype="int64")
    B = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    b_nsq = np.zeros(len(B))
    for k in range(DIM):
        b_nsq += B[:, k] * B[:, k]
    bc = emb.sparkSession.sparkContext.broadcast((b_ids, B, b_nsq))
    thr = float(threshold)

    def fn(batches):
        import numpy as _np
        import pandas as _pd

        ids_b, mat_b, nsq_b = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            a_ids = block["vec_id"].to_numpy(dtype="int64")
            A = _np.stack(
                [_np.asarray(v, dtype=_np.float64) for v in block["embedding"]]
            )
            acc = _np.zeros((len(A), len(mat_b)))
            for k in range(DIM):
                acc += _np.outer(A[:, k], mat_b[:, k])
            a_nsq = _np.zeros(len(A))
            for k in range(DIM):
                a_nsq += A[:, k] * A[:, k]
            cos = acc / _np.sqrt(_np.outer(a_nsq, nsq_b))
            ii, jj = _np.nonzero(
                (cos >= thr) & (a_ids[:, None] < ids_b[None, :])
            )
            yield _pd.DataFrame(
                {"vec_a": a_ids[ii], "vec_b": ids_b[jj], "cosine": cos[ii, jj]}
            )

    out = spread(emb.select("vec_id", "embedding"))
    return out.mapInPandas(fn, "vec_a long, vec_b long, cosine double")


def test_repetition_stats_known_values(spark):
    docs = _docs(
        spark,
        [
            (1, "a a a b"),          # top 3/4; 2-grams [a a, a a, a b] -> dup 1/3
            (2, "x y"),              # no repetition; single 2-gram, no 3-gram
            (3, ""),                 # empty doc
            (4, "w"),                # one word: no 2-grams
        ],
    )
    out = {r["doc_id"]: r for r in text.repetition_stats(docs).collect()}
    assert out[1]["n_words"] == 4
    assert out[1]["top_word_frac"] == 0.75
    assert abs(out[1]["dup_2gram_frac"] - (1 - 2 / 3)) < 1e-12
    assert out[1]["dup_3gram_frac"] == 0.0  # [a a a, a a b] both distinct
    assert out[2]["top_word_frac"] == 0.5
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[2]["dup_3gram_frac"] is None
    assert out[3]["n_words"] == 0
    assert out[3]["top_word_frac"] is None
    assert out[4]["dup_2gram_frac"] is None


def test_pii_scrub_counts_and_redacts(spark):
    docs = _docs(
        spark,
        [
            (1, "mail me at bob@example.com or alice@test.org thanks"),
            (2, "call +1-555-0199 now"),
            (3, "clean text"),
        ],
    )
    out = {r["doc_id"]: r for r in text.pii_scrub(docs).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (2, 0)
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 1)
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (0, 0)
    # digest equals md5 of the manually redacted strings
    expect = docs.select(
        "doc_id",
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", text.EMAIL_RE, "<EMAIL>"),
                text.PHONE_RE,
                "<PHONE>",
            )
        ).alias("m"),
    )
    for r in expect.collect():
        assert out[r["doc_id"]]["redacted_md5"] == r["m"]


def test_decontamination_flags_overlap(spark):
    # doc_ids chosen so the h60 hash-mod split puts them where needed
    # is irrelevant: we call the internals directly with a forced split.
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here with no overlap at all"),
        ],
    )
    # force doc 1 train / doc 2 test by monkey-patching the split:
    from flink_scala_spark.pipeline.dedup import word_shingles

    sh = word_shingles(docs, n=5)
    train = sh.where(F.col("doc_id") == 1)
    test = sh.where(F.col("doc_id") == 2).withColumnRenamed("doc_id", "t_doc")
    overlap = train.join(test, "shingle").count()
    assert overlap == 0  # sanity: disjoint vocab -> decontamination would be clean

    # identical doc as both train and test -> full contamination
    sh2 = word_shingles(
        _docs(spark, [(1, "one two three four five six"), (2, "one two three four five six")]),
        n=5,
    )
    t1 = sh2.where(F.col("doc_id") == 1)
    t2 = sh2.where(F.col("doc_id") == 2).withColumnRenamed("doc_id", "t_doc")
    assert t1.join(t2, "shingle").count() == t1.count() > 0


def test_group_quantiles_exact_rank_selection(spark):
    rows = [("a", float(v), i) for i, v in enumerate([5, 1, 4, 2, 3])] + [
        ("b", 10.0, 100)
    ]
    df = spark.createDataFrame(rows, "k string, v double, id long")
    out = {r["k"]: r for r in group_quantiles(df, "k", "v").collect()}
    # n=5: p50 -> rank ceil(2.5)=3 -> value 3; p90 -> ceil(4.5)=5 -> 5; p99 -> ceil(4.95)=5
    assert out["a"]["n"] == 5
    assert out["a"]["p50"] == 3.0
    assert out["a"]["p90"] == 5.0
    assert out["a"]["p99"] == 5.0
    assert out["b"]["p50"] == 10.0


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from flink_scala_spark import tables
    from flink_scala_spark.queries.streaming_queries import q_streaming_dedup_events

    live = q_streaming_dedup_events(spark, sf_dir)
    batch = (
        tables.load(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    )
    assert live.count() == batch.count()
    assert live.exceptAll(batch).count() == 0


def test_json_props_extraction(spark, sf_dir):
    from flink_scala_spark.queries.catalog import q_events_json_props

    out = q_events_json_props(spark, sf_dir)
    rows = out.collect()
    assert rows and all(r["min_k"] is not None and r["min_k"] <= r["max_k"] for r in rows)
    # sum of per-type counts equals total events
    from flink_scala_spark import tables

    assert sum(r["n_events"] for r in rows) == tables.load(spark, sf_dir, "events").count()


def test_label_centroids_stable_under_repartitioning(spark, sf_dir):
    """The fixed-point accumulation must be bit-identical regardless of
    partitioning — the property float sums lack."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline.similarity import label_centroids

    emb = tables.load(spark, sf_dir, "embeddings")
    a = {(r["label"], r["pos"]): r["centroid"] for r in label_centroids(emb).collect()}
    b = {
        (r["label"], r["pos"]): r["centroid"]
        for r in label_centroids(emb.repartition(17)).collect()
    }
    assert a == b  # exact equality, no tolerance


def test_chunk_documents_known_values(spark):
    # 90 words -> starts [1, 41, 81]: chunks of 50, 50, 10 words.
    words = [f"w{i}" for i in range(90)]
    docs = _docs(spark, [(1, " ".join(words))])
    out = sorted(
        text.chunk_documents(docs).collect(), key=lambda r: r["chunk_idx"]
    )
    assert [(r["chunk_idx"], r["start_word"], r["n_tokens"]) for r in out] == [
        (0, 1, 50),
        (1, 41, 50),
        (2, 81, 10),
    ]
    import hashlib

    assert out[2]["chunk_md5"] == hashlib.md5(" ".join(words[80:]).encode()).hexdigest()


def test_inverted_index_digest_and_counts(spark):
    docs = _docs(spark, [(1, "a b a"), (2, "b c"), (3, "a")])
    out = {r["word"]: r for r in text.inverted_index(docs).collect()}
    assert (out["a"]["df"], out["a"]["total_tf"]) == (2, 3)
    assert (out["b"]["df"], out["b"]["total_tf"]) == (2, 2)
    assert (out["c"]["df"], out["c"]["total_tf"]) == (1, 1)
    # Digest is canonical: same posting set -> same digest, regardless of
    # input partitioning.
    again = {
        r["word"]: r["postings_md5"]
        for r in text.inverted_index(docs.repartition(7)).collect()
    }
    assert {w: r["postings_md5"] for w, r in out.items()} == again


def test_degenerate_docs_consistent_across_text_ops(spark):
    # NULL and empty text must be invisible to all three sequence-prep
    # ops (ADVICE r1: split('', ' ') == [''] counted a phantom token).
    docs = _docs(spark, [(1, "a b"), (2, ""), (3, None)])
    chunks = text.chunk_documents(docs).collect()
    idx_words = text.inverted_index(docs).collect()
    packed = text.sequence_packing(docs).collect()
    assert {r["doc_id"] for r in chunks} == {1}
    assert {r["word"] for r in idx_words} == {"a", "b"}
    assert {r["doc_id"] for r in packed} == {1}
    assert packed[0]["n_tokens"] == 2 and packed[0]["seq_id"] == 0


def test_sequence_packing_greedy_rule(spark):
    # Single bucket scenario: force doc ids that hash to one bucket is
    # brittle; instead verify the invariant per bucket: seq_id ==
    # floor((cum - n_tokens) / budget) and cum is a running sum in
    # doc_id order within the bucket.
    docs = _docs(
        spark, [(i, " ".join(["t"] * (30 + i))) for i in range(1, 21)]
    )
    rows = text.sequence_packing(docs, budget=100).collect()
    by_bucket = {}
    for r in sorted(rows, key=lambda r: (r["bucket"], r["doc_id"])):
        run = by_bucket.setdefault(r["bucket"], 0) + r["n_tokens"]
        by_bucket[r["bucket"]] = run
        assert r["cum_tokens"] == run
        assert r["seq_id"] == (run - r["n_tokens"]) // 100


def test_funnel_earliest_chain_semantics(spark):
    # u1 completes in order; u2's only click precedes their first view
    # (earliest-chain: not converted); u3 views only.
    rows = [
        (1, "view", 100.0), (1, "click", 200.0), (1, "purchase", 300.0),
        (2, "click", 50.0), (2, "view", 100.0), (2, "purchase", 400.0),
        (3, "view", 10.0),
    ]
    import datetime

    ev = spark.createDataFrame(
        [
            (i, u, t, datetime.datetime.utcfromtimestamp(ts))
            for i, (u, t, ts) in enumerate(rows)
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    from flink_scala_spark.pipeline import behavior

    out = {r["step"]: r for r in behavior.funnel_conversion(ev).collect()}
    assert out["view"]["users"] == 3
    assert out["click"]["users"] == 1  # only u1's click follows their view
    assert out["purchase"]["users"] == 1
    assert out["click"]["pct_of_entry"] == 1 / 3


def test_quantize_int8_roundtrip_bounds(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    from flink_scala_spark.pipeline import similarity

    out = {r["vec_id"]: r for r in similarity.quantize_int8(emb).collect()}
    assert out[1]["qvec"] == [127, -63, 32]  # floor(x*127+0.5)
    assert out[1]["scale"] == 127.0
    assert out[1]["max_abs_err"] <= 0.5 / 127.0 + 1e-12
    assert out[2]["scale"] == 0.0 and out[2]["qvec"] == [0, 0, 0]
    assert out[2]["max_abs_err"] == 0.0


def test_bpe_merges_match_reference_implementation(spark):
    from collections import Counter

    corpus = ["low low low lower lowest", "new newer newest"]
    docs = _docs(spark, list(enumerate(corpus)))
    got = {
        r["iteration"]: (r["pair_a"], r["pair_b"], r["pair_freq"])
        for r in text.bpe_merges(docs, iters=3).collect()
    }
    vocab = Counter(w for t in corpus for w in t.split())
    words = {w: list(w) for w in vocab}
    for it in range(1, 4):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += vocab[w]
        (a, b), freq = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[it] == (a, b, freq), (it, got[it], (a, b, freq))
        for w, syms in words.items():
            out, pend = [], None
            for x in syms:
                if pend is None:
                    pend = x
                elif pend == a and x == b:
                    out.append(a + b)
                    pend = None
                else:
                    out.append(pend)
                    pend = x
            if pend is not None:
                out.append(pend)
            words[w] = out


def test_bpe_merge_fold_edge_cases(spark):
    # One Spark job over many (syms, a, b) cases, compared to the
    # greedy left-to-right non-overlapping reference merge.
    from flink_scala_spark.pipeline.text import _bpe_merge_fold

    cases = [
        (["a", "a", "a"], "a", "a"),          # overlap: -> [aa, a]
        (["a", "a", "a", "a"], "a", "a"),     # -> [aa, aa]
        (["l", "o", "w"], "l", "o"),          # at start
        (["l", "o", "w"], "o", "w"),          # at end
        (["x"], "a", "b"),                    # single symbol, no-op
        (["a", "b", "a", "b"], "a", "b"),     # repeated pair
        (["b", "a", "b"], "a", "b"),          # pair not at 0
        (["a", "b"], "b", "a"),               # reversed pair absent
        (["lo", "w", "lo", "w"], "lo", "w"),  # multi-char symbols
        (["a", "a", "b"], "a", "b"),          # pending switches
    ]

    def ref(syms, a, b):
        out, pend = [], None
        for x in syms:
            if pend is None:
                pend = x
            elif pend == a and x == b:
                out.append(a + b)
                pend = None
            else:
                out.append(pend)
                pend = x
        if pend is not None:
            out.append(pend)
        return out

    df = spark.createDataFrame(
        [(i, s, a, b) for i, (s, a, b) in enumerate(cases)],
        "i int, syms array<string>, a string, b string",
    )
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i", _bpe_merge_fold(F.col("syms"), F.col("a"), F.col("b")).alias("m")
        ).collect()
    }
    for i, (s, a, b) in enumerate(cases):
        assert got[i] == ref(s, a, b), (i, s, a, b, got[i], ref(s, a, b))


def test_containment_flags_subset_docs(spark):
    # B is a strict prefix-subset of A: every B-shingle is an
    # A-shingle, so containment = 1.0 while Jaccard stays below the
    # near-dup threshold. This test also guards the minhash family's
    # cross-hash independence: the degenerate h1 + s*h2 family ranked
    # shingles identically under every hash and deterministically
    # missed this pair's band collision.
    words = [f"w{i}" for i in range(100)]
    docs = _docs(
        spark, [(1, " ".join(words)), (2, " ".join(words[:40]))]
    )
    from flink_scala_spark.pipeline import dedup

    rows = dedup.containment_pairs(docs, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert {r["doc_a"], r["doc_b"]} == {1, 2}
    assert r["containment"] == 1.0
    assert r["jaccard"] < 0.5  # the Jaccard path rightly skips it
    assert r["common"] == 38  # 40 words -> 38 trigram shingles


def test_simhash_blocking_pigeonhole_guarantee(spark):
    # Two documents differing in a few rare words have close simhashes;
    # whenever hamming(a, b) <= 3, the 4-band blocking MUST surface the
    # pair (pigeonhole: <= 3 differing bits cannot touch all 4 bands).
    # Construct near-identical docs and assert found pairs == all pairs
    # whose signatures are within the radius.
    from flink_scala_spark.pipeline import dedup

    base = [f"tok{i}" for i in range(60)]
    docs = _docs(
        spark,
        [
            (1, " ".join(base)),
            (2, " ".join(base + ["rare1"])),
            (3, " ".join(base + ["rare1", "rare2"])),
            (4, " ".join(f"other{i}" for i in range(60))),
        ],
    )
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_near_dup(docs, max_hamming=3).collect()
    }
    import itertools

    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert found == expected
    # sanity: the construction actually produced close and far pairs
    assert (1, 2) in expected or (1, 3) in expected
    assert all(bin(sigs[4] ^ sigs[d]).count("1") > 3 for d in (1, 2, 3))


def test_blocked_near_dup_matches_broadcast_baseline(spark):
    """The distributed block-nested-loop near-dup must equal the
    broadcast exact baseline pair-for-pair when forced into multiple
    tiles, and every shuffle group must stay within 2*max_tile_rows."""
    from flink_scala_spark.pipeline import similarity

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    n = emb.count()
    tile_rows = max(1, n // 4)  # force >= 4 tiles -> >= 10 groups
    base = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in _broadcast_near_dup_baseline(emb, threshold=0.4).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.near_dup_pairs_blocked(
            emb, threshold=0.4, max_tile_rows=tile_rows
        ).collect()
    }
    assert blocked.keys() == base.keys()
    for pair, cos in base.items():
        assert blocked[pair] == cos  # bit-identical fold

    # bounded group contract: no tile-pair group exceeds two tiles' rows
    tiles = -(-n // tile_rows)
    group_sizes = (
        emb.select(
            F.pmod(F.col("vec_id"), F.lit(tiles)).alias("tile")
        )
        .groupBy("tile")
        .count()
        .collect()
    )
    per_tile = {r["tile"]: r["count"] for r in group_sizes}
    assert max(per_tile.values()) <= 2 * tile_rows


def test_ivf_centroids_fixed_size(spark):
    """The IVF coarse quantizer must be capped at NUM_CENTROIDS rows
    regardless of corpus size (the ann_ivf_topk oracle pins the
    neighbor lists it produces)."""
    from flink_scala_spark.pipeline import similarity

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cents = similarity.centroid_rows(emb).collect()
    assert len(cents) == min(similarity.NUM_CENTROIDS, emb.count())
    # doubling the corpus must NOT grow the centroid set
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    assert len(similarity.centroid_rows(doubled).collect()) == similarity.NUM_CENTROIDS


def test_label_masked_topk_respects_label_relation(spark):
    """The contrastive-mining kernels must honor the label mask: every
    mined hard negative carries a DIFFERENT label than its query,
    every mined positive the SAME one — on both the exact and the IVF
    path — and the mask must only ever REMOVE candidates (a diff-mode
    top-1 can never beat the unmasked top-1)."""
    from flink_scala_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    pred = F.col("vec_id") % 100 == 0

    neg = similarity.cosine_topk_vectorized(
        emb, pred, k=5, label_col="label", label_match="diff"
    ).collect()
    assert neg
    for r in neg:
        assert labels[r["neighbor_id"]] != labels[r["query_id"]]

    pos = similarity.cosine_topk_vectorized(
        emb, pred, k=5, label_col="label", label_match="same"
    ).collect()
    assert pos
    for r in pos:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]]
        assert r["neighbor_id"] != r["query_id"]

    ivf_neg = similarity.ivf_topk_vectorized(
        emb, pred, k=5, nprobe=2, label_col="label"
    ).collect()
    assert ivf_neg
    for r in ivf_neg:
        assert labels[r["neighbor_id"]] != labels[r["query_id"]]

    # masking only removes candidates: per query, best masked cosine
    # <= best unmasked cosine
    best_all = {
        r["query_id"]: r["cosine"]
        for r in similarity.cosine_topk_vectorized(emb, pred, k=1).collect()
    }
    for mined in (neg, pos):
        for r in mined:
            if r["rank"] == 1:
                assert r["cosine"] <= best_all[r["query_id"]] + 1e-12


def test_trained_centroid_cache_never_aliases_distinct_frames(spark):
    """The trained-quantizer cache is keyed by (input files, analyzed
    plan): a repeat call on an equivalent frame must HIT (bit-equal
    result, no retraining), while a FILTERED frame over the same
    parquet files — same inputFiles() — must get its own slot and a
    different training result. Aliasing here would silently serve one
    corpus's index for another."""
    import numpy as np

    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    n0 = len(similarity._TRAINED_CACHE)
    ids1, c1 = similarity.trained_centroids(emb, 8, 1)
    # equivalent frame (fresh load, new exprIds) -> cache hit
    ids2, c2 = similarity.trained_centroids(
        tables.load(spark, "/root/testdata/sf0.001", "embeddings"), 8, 1
    )
    assert np.array_equal(ids1, ids2) and np.array_equal(c1, c2)
    assert len(similarity._TRAINED_CACHE) == n0 + 1
    # filtered frame over the SAME files -> distinct slot, distinct result
    ids3, c3 = similarity.trained_centroids(
        emb.where(F.col("vec_id") % 2 == 0), 8, 1
    )
    assert len(similarity._TRAINED_CACHE) == n0 + 2
    assert not np.array_equal(c1, c3)
    # the returned arrays are COPIES: mutating one must not poison the slot
    c2[0, 0] += 1.0
    ids4, c4 = similarity.trained_centroids(emb, 8, 1)
    assert np.array_equal(c1, c4)


def test_trained_centroid_cache_misses_on_in_place_rewrite(
    spark, tmp_path
):
    """The cache key carries (path, size, mtime_ns) per input file: a
    parquet REWRITTEN IN PLACE under the same path must retrain, never
    serve the old file's centroids for the process lifetime."""
    import numpy as np

    from flink_scala_spark.pipeline import similarity

    p = str(tmp_path / "emb")

    def write(seed):
        rows = [
            (i, [float((i * 7 + j * seed) % 13) - 6.0 for j in range(4)])
            for i in range(30)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("overwrite").parquet(p)

    write(3)
    ids1, c1 = similarity.trained_centroids(
        spark.read.parquet(p), 4, 1, dim=4
    )
    write(5)  # same path, different content
    ids2, c2 = similarity.trained_centroids(
        spark.read.parquet(p), 4, 1, dim=4
    )
    assert not np.array_equal(c1, c2)


def test_trained_centroid_cache_is_bounded(spark, monkeypatch):
    """The cache LRU-evicts past _TRAINED_CACHE_MAX instead of growing
    unboundedly across distinct frames."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity

    monkeypatch.setattr(similarity, "_TRAINED_CACHE_MAX", 3)
    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    for k in (2, 3, 4, 5, 6):
        similarity.trained_centroids(emb, k, 1)
    assert len(similarity._TRAINED_CACHE) <= 3
    # the most recent entry survived (hit, no retrain-path assertion
    # needed: the key must still be present)
    keys = list(similarity._TRAINED_CACHE)
    assert any(key[2] == 6 for key in keys)


def test_empty_corpus_refuses_loudly(spark):
    """An EMPTY embedding corpus is a contract error for index
    construction — trained_centroids and the untrained IVF path must
    raise a named ValueError, not an opaque numpy IndexError from a
    (0, 0) matrix."""
    import pytest

    from flink_scala_spark.pipeline import similarity

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="trained_centroids.*zero rows"):
        similarity.trained_centroids(empty, 4, 1, dim=4)
    with pytest.raises(ValueError, match="ivf_topk_vectorized.*zero rows"):
        similarity.ivf_topk_vectorized(
            empty, F.lit(True), k=3, dim=4
        )


def test_reference_size_guard_fires_before_collect(spark, monkeypatch):
    """max_cosine_vs_reference enforces 'small by contract' with a loud
    refusal BEFORE toPandas(), mirroring the exact top-k path's
    guard-before-collect discipline."""
    import pytest

    from flink_scala_spark.pipeline import guards, similarity

    monkeypatch.setattr(guards, "MAX_REFERENCE_ROWS", 2)
    rows = [(i, [1.0, 0.0, 0.0, float(i)]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # the guard collects limit(bound+1) ONCE (the same rows feed the
    # matrix on accept) — it reports "at least 3", never scanning the
    # full reference lineage and never re-executing it after the probe
    with pytest.raises(
        RuntimeError, match="max_cosine_vs_reference.*at least 3"
    ):
        similarity.max_cosine_vs_reference(emb, emb, 0.25, dim=4)


def test_ivf_label_match_without_label_col_raises(spark):
    """Mirror of the exact path's validation: a half-specified label
    contract on the IVF kernel must raise, not silently return
    unmasked neighbors as triplet positives."""
    import pytest

    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="label_match given without label_col"):
        similarity.ivf_topk_vectorized(
            emb, F.col("vec_id") % 50 == 0, k=3, label_match="same"
        )


def test_max_cosine_vs_reference_degenerate_inputs(spark):
    """The semantic-decontamination kernel's degenerate-input contract:
    an EMPTY reference yields zero rows (the oracle's CROSS JOIN
    against an empty bench — not an np.stack crash), and a ZERO-NORM
    vector on either side is refused LOUDLY — its cosine is 0/0, whose
    result is engine- and version-dependent (numpy NaN vs DuckDB NULL,
    itself switched by ieee_floating_point_ops), so no silent answer
    can be oracle-stable."""
    import pytest

    from flink_scala_spark.pipeline import similarity

    rows = [
        (1, [0.0, 0.0, 1.0, 0.0]),    # corpus
        (2, [0.0, 0.0, 0.0, 0.0]),    # corpus, zero-norm
        (50, [0.0, 0.0, 1.0, 0.0]),   # benchmark
        (100, [1.0, 0.0, 0.0, 0.0]),  # benchmark
        (150, [0.0, 0.0, 0.0, 0.0]),  # benchmark, zero-norm
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = emb.where(F.col("vec_id") < 50)
    bench_ok = emb.where(F.col("vec_id").isin(50, 100))

    # empty reference -> empty result with the declared schema
    out = similarity.max_cosine_vs_reference(
        corpus, bench_ok.where(F.lit(False)), 0.25, dim=4
    )
    assert out.count() == 0 and "contaminated" in out.columns

    # zero-norm REFERENCE row refuses at build time, naming the id
    with pytest.raises(ValueError, match=r"zero-norm reference.*150"):
        similarity.max_cosine_vs_reference(
            corpus.where(F.col("vec_id") == 1),
            emb.where(F.col("vec_id") >= 50),
            0.25,
            dim=4,
        )

    # zero-norm CORPUS row refuses in the scoring pass, naming the id
    with pytest.raises(Exception, match=r"zero-norm corpus.*2"):
        similarity.max_cosine_vs_reference(
            corpus, bench_ok, 0.25, dim=4
        ).collect()

    # the clean subset still answers exactly
    got = {
        r["vec_id"]: (r["nearest_benchmark_id"], r["contaminated"])
        for r in similarity.max_cosine_vs_reference(
            corpus.where(F.col("vec_id") == 1), bench_ok, 0.25, dim=4
        ).collect()
    }
    assert got == {1: (50, True)}  # identical vector -> cosine 1.0


def test_containment_blocking_catches_small_excerpt_in_large_doc(spark):
    """A 30-shingle excerpt inside a ~600-word doc has Jaccard ~0.05 —
    Jaccard-tuned LSH bands would almost surely miss it (collision
    prob ~4*J^2 ~ 1%). The containment-aware sample-vs-posting
    blocking must find it deterministically-enough ((1-t)^16 miss
    bound)."""
    from flink_scala_spark.pipeline import dedup

    rng_words = [f"w{i}" for i in range(600)]
    big = " ".join(rng_words)
    excerpt = " ".join(rng_words[100:132])  # 32 words -> 30 trigrams
    unrelated = " ".join(f"z{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, big), (2, excerpt), (3, unrelated)], "doc_id long, text string"
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup.containment_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in pairs
    row = pairs[(1, 2)]
    assert row["containment"] == 1.0  # every excerpt shingle is in big
    assert row["jaccard"] < 0.1  # and Jaccard alone would never flag it
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_incremental_dedup_rejects_foreign_or_stale_profiles(spark):
    """Persisted corpus profiles must carry a matching profile_ver;
    unversioned or stale profiles fail fast instead of silently
    matching nothing under a changed hash family."""
    import pytest as _pytest

    from flink_scala_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    prof = dedup.doc_profiles(docs)
    assert prof.select("profile_ver").distinct().collect()[0][0] == dedup.PROFILE_VERSION

    with _pytest.raises(ValueError, match="profile_ver column"):
        dedup.incremental_near_dup(docs, prof.drop("profile_ver"))
    with _pytest.raises(ValueError, match="version mismatch"):
        stale = prof.withColumn("profile_ver", F.lit(1))
        dedup.incremental_near_dup(docs, stale)


def test_classify_late_rejects_non_integral_order_col(spark):
    import pytest as _pytest

    from flink_scala_spark.operators import windows

    df = spark.createDataFrame(
        [(1.0, "a")], "v double, arrival string"
    ).withColumn("ts", F.current_timestamp())
    with _pytest.raises(TypeError, match="integral order_col"):
        windows.classify_late(df, "ts", "arrival", 10, 50)


def test_boilerplate_flags_template_docs_and_short_doc_guard(spark):
    """Docs sharing a 5-word template across >=3 docs of one source get
    flagged; a doc SHORTER than the shingle width yields zero shingles
    (Spark's sequence(1,0) = [1,0] pitfall) and is never flagged; the
    same template in a DIFFERENT source does not count toward the
    threshold (per-source scoping)."""
    tpl = "all rights reserved cookie banner"
    rows = [
        (1, f"{tpl}", "srcA"),
        (2, f"{tpl}", "srcA"),
        (3, f"{tpl}", "srcA"),
        (4, "completely original words here nothing shared", "srcA"),
        (5, "tiny doc", "srcA"),  # < 5 words -> 0 shingles
        (6, f"{tpl}", "srcB"),  # same template, other source: alone
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r
        for r in text.boilerplate_flags(docs).collect()
    }
    assert out[1]["is_boilerplate"] and out[2]["is_boilerplate"] and out[3]["is_boilerplate"]
    assert out[1]["n_shingles"] == 1 and out[1]["n_boiler"] == 1
    assert not out[4]["is_boilerplate"] and out[4]["n_boiler"] == 0
    assert out[5]["n_shingles"] == 0 and out[5]["boiler_frac"] == 0.0
    assert not out[5]["is_boilerplate"]
    # srcB has only one doc with the template -> below min_docs
    assert not out[6]["is_boilerplate"]


def test_vocab_oov_rate_top_v_cut_and_tie_break(spark):
    """With vocab_size=2 the two most frequent tokens (ties broken by
    token text) form the vocab; every other token counts as OOV."""
    rows = [
        (1, "aa aa bb bb cc"),  # aa:2 bb:2 cc:1 -> vocab {aa, bb}
        (2, "aa cc dd"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.vocab_oov_rate(docs, vocab_size=2).collect()}
    assert out[1]["n_tokens"] == 5 and out[1]["n_oov"] == 1
    assert abs(out[1]["oov_rate"] - 0.2) < 1e-12
    assert out[2]["n_tokens"] == 3 and out[2]["n_oov"] == 2


def test_temperature_mixture_rebalances_toward_small_sources(spark):
    """alpha=1/2 rebalancing: the keep RATE of a small source must be
    >= that of a large one (sqrt compresses the head), w = floor(sqrt(n)),
    and no source is sampled above availability (keep_ppm <= 1e6)."""
    from flink_scala_spark.pipeline.sampling import temperature_mixture

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(16)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in temperature_mixture(docs).collect()}
    assert out["big"]["w"] == 20 and out["small"]["w"] == 4
    assert out["big"]["keep_ppm"] <= 1_000_000
    assert out["small"]["keep_ppm"] >= out["big"]["keep_ppm"]
    # budget: total target <= total/2
    assert out["big"]["target_n"] + out["small"]["target_n"] <= 208
    # kept counts actually follow the admission rule (non-trivial sample)
    assert 0 < out["big"]["n_kept"] <= 400


def test_bpe_encode_fertility_matches_python_reference(spark):
    """bpe_encode against a pure-Python train+apply: the learned
    merges compress the vocabulary, and each doc's token count is the
    sum of its words' post-merge symbol counts."""
    from collections import Counter

    corpus = ["low low low lower lowest", "new newer newest", "low new"]
    docs = _docs(spark, list(enumerate(corpus)))
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["fertility"])
        for r in text.bpe_encode(docs, iters=3).collect()
    }
    vocab = Counter(w for t in corpus for w in t.split())
    words = {w: list(w) for w in vocab}
    for _ in range(3):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += vocab[w]
        (a, b), _f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in words.items():
            out, pend = [], None
            for x in syms:
                if pend is None:
                    pend = x
                elif pend == a and x == b:
                    out.append(a + b)
                    pend = None
                else:
                    out.append(pend)
                    pend = x
            if pend is not None:
                out.append(pend)
            words[w] = out
    for i, t in enumerate(corpus):
        toks = t.split()
        nb = sum(len(words[w]) for w in toks)
        assert got[i] == (len(toks), nb, nb / len(toks)), (i, got[i])
    # the merges actually compressed something
    assert any(got[i][1] < sum(len(w) for w in corpus[i].split()) for i in got)


def test_bpe_engines_agree_when_pairs_exhaust_early(spark):
    """When every word is fully merged before the last iteration, the
    pair table is EMPTY: Spark's agg-of-empty yields an all-NULL best
    row (merging nothing, emitting no merge row) and the oracle's
    LEFT JOIN + chr(1) sentinel keeps the vocabulary intact — both
    engines must return identical rows (the round-6 review caught the
    CROSS JOIN form annihilating the oracle's vocabulary here)."""
    import duckdb
    import pandas as pd

    from flink_scala_spark.queries.catalog import QUERIES

    rows = [(1, "ab ab ab"), (2, "ab")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # iteration 1 merges (a, b); afterwards every word is the single
    # symbol "ab" and no pairs remain for iterations 2-3
    merges = text.bpe_merges(docs, iters=3).collect()
    assert [(r["iteration"], r["pair_a"], r["pair_b"], r["pair_freq"]) for r in merges] == [
        (1, "a", "b", 4)
    ]
    enc = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"]) for r in
           text.bpe_encode(docs, iters=3).collect()}
    assert enc == {1: (3, 3), 2: (1, 1)}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    o_merges = con.execute(QUERIES["bpe_merges"].oracle).fetchall()
    assert sorted(o_merges) == [(1, "a", "b", 4)]
    o_enc = {r[0]: (r[1], r[2]) for r in
             con.execute(QUERIES["bpe_encode"].oracle).fetchall()}
    assert o_enc == enc


def test_bloom_semi_join_prunes_without_changing_results(spark):
    """The bloom runtime filter must (a) never change the result —
    exact equality with the plain leftsemi join — and (b) actually
    prune: fact keys far from the dim key space fail the membership
    test before the join."""
    from flink_scala_spark.operators import joins

    fact = spark.createDataFrame(
        [(i, i % 500) for i in range(3000)], "row_id long, k long"
    )
    dim = spark.createDataFrame(
        [(i,) for i in range(0, 100)], "dk long"
    )
    got = {
        tuple(r)
        for r in joins.bloom_semi_join(fact, dim, "k", "dk").collect()
    }
    want = {
        tuple(r)
        for r in fact.join(
            dim.withColumnRenamed("dk", "k"), "k", "leftsemi"
        ).collect()
    }
    assert got == want and len(got) == 600
    # the bitmap prunes: strictly fewer rows pass the bloom than exist,
    # and every true match passes (no false negatives by construction)
    words = joins.bloom_words(dim, "dk")
    passed = fact.where(
        joins.bloom_might_contain(words, F.col("k"))
    ).count()
    assert 600 <= passed < 3000


def test_pareto_frontier_tie_and_domination_semantics(spark):
    """Skyline contract on crafted rows: ties on BOTH dims keep both
    (domination needs one strict inequality); a same-price smaller row
    and a dearer not-bigger row are dominated; the result equals the
    brute-force definition regardless of partitioning."""
    from flink_scala_spark.operators.skyline import pareto_frontier_2d

    rows = [
        (1, 10.0, 5),   # frontier
        (2, 10.0, 5),   # tie on both dims with 1 -> kept
        (3, 10.0, 4),   # same price, smaller -> dominated by 1
        (4, 12.0, 5),   # dearer, not bigger -> dominated by 1
        (5, 12.0, 7),   # frontier (bigger than anything cheaper)
        (6, 8.0, 3),    # frontier (cheapest)
        (7, 9.0, 3),    # dominated by 6 (dearer, equal size)
    ]
    df = spark.createDataFrame(rows, "id long, price double, size int").repartition(4)
    got = {
        r["id"] for r in pareto_frontier_2d(df, "id", "price", "size").collect()
    }
    brute = {
        i
        for (i, p, s) in rows
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for (_, p2, s2) in rows
        )
    }
    assert got == brute == {1, 2, 5, 6}


def test_priority_sample_matches_manual_formula(spark):
    """priority_sample must reproduce the exact w/u priority from the
    md5-prefix hash and keep the top-k by (priority desc, id) — checked
    against an independent Python computation."""
    import hashlib

    from flink_scala_spark.pipeline.sampling import priority_sample

    rows = [(i, (i * 37) % 100 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = [
        (r["doc_id"], r["priority"])
        for r in priority_sample(df, "w", "doc_id", 20).collect()
    ]

    def pri(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return float(w) / ((float(h) + 1.0) / float(1 << 60))

    want = sorted(
        ((i, pri(i, w)) for i, w in rows), key=lambda t: (-t[1], t[0])
    )[:20]
    assert got == want


def test_mmr_rerank_prefers_diverse_over_redundant(spark):
    """MMR contract: when the two most relevant candidates are near-
    duplicates of each other, step 2 must select the diverse lower-
    relevance candidate instead of the redundant runner-up."""
    from flink_scala_spark.pipeline import similarity

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # query
        (1, [0.99, 0.1, 0.0, 0.0]),   # most relevant
        (2, [0.98, 0.12, 0.0, 0.0]),  # near-duplicate of 1
        (3, [0.5, 0.0, 0.8, 0.0]),    # diverse, lower relevance
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.mmr_rerank(
        emb, F.col("vec_id") == 0, k_candidates=3, k_select=3, dim=4
    ).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["mmr_rank"])]
    assert order == [1, 3, 2]
    # scores are the documented formula: step1 = 0.5 * relevance
    step1 = next(r for r in out if r["mmr_rank"] == 1)
    assert step1["mmr_score"] == 0.5 * step1["relevance"]


def test_pareto_frontier_final_pass_spans_arrow_batches(spark):
    """Regression (round-8 review): the final skyline pass must see the
    whole frontier union at once — with Arrow re-batching the coalesced
    partition, a per-batch sweep keeps rows dominated only by a row in
    another batch. Force tiny Arrow batches and check against brute
    force."""
    from flink_scala_spark.operators.skyline import pareto_frontier_2d

    # 40 locally-non-dominated rows (price and size both increasing) in
    # one partition + one dominator (cheapest AND biggest) in another
    rows = [(i, 100.0 + i, i) for i in range(40)] + [(99, 1.0, 1000)]
    df = spark.createDataFrame(
        rows, "id long, price double, size int"
    ).repartition(2)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        got = {
            r["id"]
            for r in pareto_frontier_2d(df, "id", "price", "size").collect()
        }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
    brute = {
        i
        for (i, p, s) in rows
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for (_, p2, s2) in rows
        )
    }
    assert got == brute == {99}


def test_bloom_semi_join_refuses_mismatched_key_types(spark):
    """Regression (round-8 review): xxhash64 hashes the physical type,
    so int-vs-long keys would silently bloom-drop TRUE matches — the
    operator must refuse loudly instead."""
    import pytest

    from flink_scala_spark.operators import joins

    fact = spark.createDataFrame([(1, 5)], "row_id long, k int")
    dim = spark.createDataFrame([(5,)], "dk long")
    with pytest.raises(ValueError, match="key types differ"):
        joins.bloom_semi_join(fact, dim, "k", "dk")


def test_distribution_drift_clamps_negative_values(spark):
    """Regression (round-8 review): negative values clamp into bin 0
    instead of silently vanishing from counts AND totals."""
    from flink_scala_spark.pipeline.behavior import distribution_drift

    rows = [
        (-50.0, "2024-01-02 00:00:00"),
        (25.0, "2024-01-02 00:00:00"),
        (75.0, "2024-01-20 00:00:00"),
        (-1.0, "2024-01-20 00:00:00"),
        # NULL values are missing data, not values: they must be
        # EXCLUDED (least/greatest skip NULL args, so an unguarded bin
        # expression would misbin every NULL row into the TOP bin and
        # fabricate a high-value drift alarm)
        (None, "2024-01-02 00:00:00"),
        (None, "2024-01-20 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, "value double, s string").select(
        "value", F.col("s").cast("timestamp").alias("ts")
    )
    out = {r["bin"]: r for r in distribution_drift(ev, 1_705_363_200).collect()}
    # every real value is counted, NULLs are not — in particular the
    # top bin holds nothing
    assert sum(r["n_base"] for r in out.values()) == 2
    assert sum(r["n_cur"] for r in out.values()) == 2
    assert out[9]["n_base"] == 0 and out[9]["n_cur"] == 0
    # bin 0 holds the clamped -50 plus the genuine 25.0 on the base
    # side, and the clamped -1 on the current side; 75.0 lands in bin 1
    assert out[0]["n_base"] == 2 and out[0]["n_cur"] == 1
    assert out[1]["n_cur"] == 1


def test_streaming_drift_frozen_baseline_excludes_nulls(spark, tmp_path):
    """Regression (round-9 advice): `streaming_drift_report`'s FROZEN
    baseline leg must apply the same `value IS NOT NULL` filter as its
    daily leg and the batch kernel — least/greatest skip NULL args, so
    an unguarded bin expression misbins every NULL baseline row into
    the TOP bin, inflating n_b/t_b and skewing p_base for every day."""
    import glob
    import os
    import shutil

    import duckdb

    from flink_scala_spark.queries.catalog import QUERIES

    day = 86400
    jan2 = 1_704_153_600  # 2024-01-02 00:00 UTC (baseline period)
    jan20 = jan2 + 18 * day  # post-baseline day, closed by the flusher
    rows = [
        (1, jan2 + 100, 1, "view", 25.0, "{}"),  # baseline, bin 0
        (2, jan2 + 200, 1, "view", None, "{}"),  # baseline NULL: excluded
        (3, jan20 + 100, 2, "click", 75.0, "{}"),  # current day, bin 1
        (4, jan20 + 200, 2, "click", None, "{}"),  # current NULL: excluded
        (5, jan20 + 2 * day, 3, "view", 10.0, "{}"),  # watermark flusher
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_l long, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds("ts_l").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(str(tmp_path / "raw"))
    os.makedirs(sf)
    shutil.copy(
        glob.glob(str(tmp_path / "raw") + "/*.parquet")[0],
        os.path.join(sf, "events.parquet"),
    )
    out = QUERIES["streaming_drift_report"].fn(spark, sf).collect()
    by = {(r["day_start"], r["bin"]): r for r in out}
    # baseline = {25.0} alone -> t_b = 1; Laplace p_base: bin0 2/11,
    # every other bin 1/11. A misbinned NULL would make bin9 2/12.
    some_day = out[0]["day_start"]
    assert abs(by[(some_day, 0)]["p_base"] - 2.0 / 11.0) < 1e-12
    assert abs(by[(some_day, 9)]["p_base"] - 1.0 / 11.0) < 1e-12
    # daily legs exclude NULLs too: jan20 counts exactly one row
    assert sum(r["n_day"] for r in out if r["day_start"] == jan20) == 1
    # and the oracle agrees bit-for-bit on this NULL-bearing corpus
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    oracle = {
        (r[0], r[1]): r
        for r in con.execute(
            QUERIES["streaming_drift_report"].oracle
        ).fetchall()
    }
    assert set(by) == set(oracle)
    for k, r in by.items():
        o = oracle[k]
        assert (r["n_day"], r["p_day"], r["p_base"]) == (o[2], o[3], o[4])


def test_negative_pool_handles_underfilled_pool(spark):
    """Regression (round-9 review): a corpus smaller than pool_size
    must still fill EVERY (query, slot) — the modulus is the actual
    pool row count, not the requested size (a fixed modulus silently
    dropped ~84%% of slots on a 10-row corpus)."""
    from flink_scala_spark.pipeline import similarity

    rows = [(i, [1.0, float(i)], i % 3) for i in range(10)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.negative_pool_sample(
        emb, F.col("vec_id") % 2 == 0, pool_size=64, k_slots=4
    ).collect()
    # 5 queries x 4 slots, nothing dropped; every negative is a real row
    assert len(out) == 20
    assert {r["neg_id"] for r in out} <= set(range(10))


def test_lang_audit_categories_partition_and_null_text_abstains(spark):
    """Regression (round-9 review): n_agree/n_und/n_mismatch must
    PARTITION n_docs ('und'-tagged docs the detector also abstains on
    count once, as agreement), NULL text must abstain ('und') rather
    than fall through the NULL-comparison CASE to a confident 'de'
    mismatch, and NULL text contributes 0 tokens (size(NULL) is -1)."""
    from flink_scala_spark.pipeline.text import lang_metadata_audit

    rows = [
        (1, "the and of to in is", "en"),    # agree
        (2, "xyzzy qwerty", "en"),           # und abstention
        (3, "el la de que y en", "en"),      # confident mismatch (es)
        (4, "xyzzy", "und"),                 # und tag + und pred: AGREE
        (5, None, "en"),                     # NULL text: abstain, 0 tok
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in lang_metadata_audit(docs).collect()}
    en = out["en"]
    assert (en["n_docs"], en["n_agree"], en["n_und"], en["n_mismatch"]) == (
        4, 1, 2, 1
    )
    assert en["n_agree"] + en["n_und"] + en["n_mismatch"] == en["n_docs"]
    und = out["und"]
    assert (und["n_docs"], und["n_agree"], und["n_und"], und["n_mismatch"]) == (
        1, 1, 0, 0
    )
    # NULL text contributed zero tokens, not -1
    assert en["n_tokens"] == 6 + 2 + 6 + 0


# ---------------------------------------------------------------------------
# Round-9 additions: interval union coverage, kNN label audit,
# embedding health audit, chunk-stitch candidates, CUSUM changepoint
# ---------------------------------------------------------------------------


def test_interval_union_coverage_merges_and_swallows(spark):
    """The swallowed-interval case is the one lag(end) gets wrong: a
    long interval fully contains a later short one, and a third starts
    after the SHORT one's end but before the LONG one's — still one
    island. Adjacent (next start == running end) intervals merge
    (half-open semantics)."""
    from datetime import datetime, timezone

    from flink_scala_spark.pipeline.behavior import interval_union_coverage

    def ts(sec):
        return datetime.fromtimestamp(1_700_000_000 + sec, tz=timezone.utc).replace(
            tzinfo=None
        )

    rows = [
        # user 1: [0,300) swallows [60,360)? no — [60,360) extends to 360;
        # [100,400) overlaps; [400,700) is ADJACENT to running end 400 -> merges;
        # [1000,1300) is a new island
        (1, 1, ts(0)),
        (2, 1, ts(60)),
        (3, 1, ts(100)),
        (4, 1, ts(400)),
        (5, 1, ts(1000)),
        # user 2: long [0,300); short swallowed [10,310)? that extends; use
        # events 310s apart -> two islands with a 10s gap
        (6, 2, ts(0)),
        (7, 2, ts(310)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["user_id"]: r for r in interval_union_coverage(ev, 300).collect()}
    assert out[1]["n_islands"] == 2
    assert out[1]["covered_s"] == 700 + 300
    assert out[1]["max_island_s"] == 700
    assert out[2]["n_islands"] == 2
    assert out[2]["covered_s"] == 600
    assert out[2]["max_island_s"] == 300


def test_interval_union_running_max_not_lag(spark):
    """Regression pin for the exact failure a lag(end) kernel has:
    interval A=[0,1000), B=[100,400) (ends before A), C=[500,800)
    (starts after B's end but inside A) — one island, length 1000."""
    from datetime import datetime, timezone

    from flink_scala_spark.pipeline.behavior import interval_union_coverage

    def ts(sec):
        return datetime.fromtimestamp(1_700_000_000 + sec, tz=timezone.utc).replace(
            tzinfo=None
        )

    # duration 1000 for A via three overlapping 400s claims is awkward;
    # instead use duration=400: A=[0,400), B=[100,500)?? — keep it
    # direct: claims at 0, 100, 500 with duration 400 give
    # [0,400),[100,500),[500,900): the 500 event starts AT the running
    # end (500) -> adjacent merge, one island of 900.
    ev = spark.createDataFrame(
        [(1, 1, ts(0)), (2, 1, ts(100)), (3, 1, ts(500))],
        "event_id long, user_id long, ts timestamp",
    )
    out = interval_union_coverage(ev, 400).collect()
    assert len(out) == 1
    assert out[0]["n_islands"] == 1
    assert out[0]["covered_s"] == 900


def test_knn_label_audit_majority_and_tie_break(spark):
    """2-vs-2-vs-1 neighbor vote: the tie between two labels at count 2
    goes to the SMALLER label; agreement counts against the query's own
    label."""
    from flink_scala_spark.pipeline import similarity

    # 64-d one-hot-ish vectors: query at dim0; neighbors built so the
    # top-5 by cosine are ids 1..5 with labels [7,7,3,3,1] -> tie 7 vs 3
    # at 2 votes -> winner 3 (smaller).
    def vec(main, eps_dim, eps):
        v = [0.0] * 64
        v[main] = 1.0
        v[eps_dim] = eps
        return v

    rows = [
        (0, vec(0, 1, 0.0), 3),        # query, true label 3
        (1, vec(0, 1, 0.50), 7),
        (2, vec(0, 1, 0.45), 7),
        (3, vec(0, 1, 0.40), 3),
        (4, vec(0, 1, 0.35), 3),
        (5, vec(0, 1, 0.30), 1),
        (6, vec(2, 3, 0.0), 9),        # orthogonal: never in top-5
        (7, vec(2, 3, 0.1), 9),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.knn_label_agreement(emb, F.col("vec_id") == 0, k=5).collect()
    assert len(out) == 1
    r = out[0]
    assert r["true_label"] == 3
    assert r["n_queries"] == 1
    assert r["n_agree"] == 1          # tie-broken winner 3 == true label
    assert r["agree_ppm"] == 1_000_000


def test_embedding_health_audit_flags_zero_and_nonfinite(spark):
    from flink_scala_spark.pipeline import similarity

    rows = [
        (1, [0.0] * 64, 0),
        (2, [float("nan")] + [0.5] * 63, 0),
        (3, [float("inf")] + [0.5] * 63, 0),
        (4, [1.0] + [0.0] * 63, 1),
        # finite but out of ppm range (norm² ~1e20 > 9e12): the exact
        # degenerate input the audit catches — counted in n_vecs, norm
        # stats exclude it (a *1e6 BIGINT cast would be engine-divergent)
        (5, [1.0e10] + [0.0] * 63, 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in similarity.embedding_health_audit(emb).collect()}
    assert out[0]["n_vecs"] == 4
    assert out[0]["n_zero"] == 1
    assert out[0]["n_nonfinite"] == 2
    # norm stats cover FINITE vectors only (the zero vector): casting a
    # non-finite norm to BIGINT is engine-divergent, so those are NULL
    assert out[0]["min_nsq_ppm"] == 0
    assert out[0]["max_nsq_ppm"] == 0
    assert out[0]["mean_nsq_ppm"] == 0
    assert out[1]["n_vecs"] == 1
    assert out[1]["n_zero"] == 0
    assert out[1]["n_nonfinite"] == 0
    assert out[1]["min_nsq_ppm"] == 1_000_000
    assert out[1]["mean_nsq_ppm"] == 1_000_000


def test_stitch_candidates_boundary_semantics(spark):
    """doc 1's last-8 == doc 2's first-8 -> (1,2) only; doc 3 shares no
    boundary; doc 4 is shorter than 8 words and never joins; a doc
    whose OWN prefix equals its suffix (doc 5, 8 identical words) must
    not self-pair."""
    from flink_scala_spark.pipeline import dedup

    tail = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = [
        (1, "a b c " + tail),
        (2, tail + " x y z"),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        (4, "short doc"),
        (5, "r r r r r r r r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.stitch_candidates(docs, k=8).collect()
    pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in out}
    assert pairs == {(1, 2)}


def test_revenue_cusum_floored_mean_semantics(spark, sf_dir):
    """Pin the scaled-CUSUM definition on a hand-checkable frame: three
    days of cents [100, 400, 100]; total=600, n=3, mean=200 ->
    cusum = [-100, 100, 0]; dev_rank 1 must be the FIRST day by the
    (abs desc, day asc) tie-break (both day 1 and day 2 deviate by
    100)."""
    from datetime import datetime

    from flink_scala_spark.queries.catalog import QUERIES

    rows = [
        (1, 10, "F", 1.00, datetime(2024, 1, 1), "1-URGENT"),
        (2, 10, "F", 4.00, datetime(2024, 1, 2), "1-URGENT"),
        (3, 10, "F", 1.00, datetime(2024, 1, 3), "1-URGENT"),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    import flink_scala_spark.tables as tables

    spec = QUERIES["revenue_cusum_changepoint"]
    orig = tables.load
    try:
        tables.load = lambda sp, d, name: orders if name == "orders" else orig(sp, d, name)
        out = {r["order_day"]: r for r in spec.fn(spark, sf_dir).collect()}
    finally:
        tables.load = orig
    assert out[20240101]["cusum_cents"] == -100
    assert out[20240102]["cusum_cents"] == 100
    assert out[20240103]["cusum_cents"] == 0
    assert out[20240101]["dev_rank"] == 1
    assert out[20240102]["dev_rank"] == 2
    assert out[20240103]["dev_rank"] == 3


def test_shuffle_skew_planner_matches_python_reference(spark, sf_dir):
    """Recompute the B=32 row with plain-Python md5 bucketing over the
    same parquet table: used buckets, max/p99 population, and the
    integer skew ratio must agree exactly."""
    import hashlib
    from collections import Counter

    import duckdb

    from flink_scala_spark.queries.catalog import QUERIES

    rows = duckdb.connect().execute(
        f"SELECT user_id FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    cnt = Counter()
    for (uid,) in rows:
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)
        cnt[h % 32] += 1
    used = len(cnt)
    sizes = sorted(cnt.values())
    total = sum(sizes)
    # p99 = smallest count with cumulative bucket tally >= ceil(.99*used)
    need = (99 * used + 99) // 100
    cum = 0
    p99 = None
    for c in sizes:
        cum += 1
        if cum >= need:
            p99 = c
            break
    out = {
        r["n_buckets"]: r
        for r in QUERIES["shuffle_skew_planner"].fn(spark, sf_dir).collect()
    }
    r32 = out[32]
    assert r32["used_buckets"] == used
    assert r32["total_rows"] == total
    assert r32["max_rows"] == sizes[-1]
    assert r32["p99_rows"] == p99
    # the engine's split form equals the exact big-int ratio
    assert r32["skew_ppm"] == (1_000_000 * sizes[-1] * used) // total


def test_incremental_join_maintenance_identity(spark, sf_dir):
    """The delta legs must equal full-new-view minus full-old-view —
    the IVM identity — computed here independently in Spark (the
    catalog oracle proves it against DuckDB; this pins it against a
    second in-engine formulation)."""
    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")

    def view(o, c):
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("cnt"), F.sum(cents).alias("cents"))
        )

    old = view(
        orders.where(F.col("o_orderkey") % 10 != 0),
        cust.where(F.col("c_custkey") % 100 != 0),
    )
    new = view(orders, cust)
    expected = {
        r["c_nationkey"]: (r["d_cnt"], r["d_cents"])
        for r in new.alias("n")
        .join(old.alias("o"), "c_nationkey", "left")
        .select(
            "c_nationkey",
            (F.col("n.cnt") - F.coalesce(F.col("o.cnt"), F.lit(0))).alias("d_cnt"),
            (F.col("n.cents") - F.coalesce(F.col("o.cents"), F.lit(0))).alias(
                "d_cents"
            ),
        )
        .collect()
        if r["d_cnt"] > 0
    }
    got = {
        r["c_nationkey"]: (r["delta_orders"], r["delta_cents"])
        for r in QUERIES["incremental_join_maintenance"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_k_anonymity_audit_hand_checked(spark, monkeypatch):
    """Four rows in one QI class, one singleton: at k=2 the singleton's
    class (1 class, 1 row) is at risk; at k=5 the 4-row class joins it;
    at k=10 everything is below."""
    from datetime import datetime, timezone

    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    same_day = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc).replace(tzinfo=None)
    rows = [
        # QI = (click, dow of 2024-01-01, band 1): 4 rows
        (1, same_day, 10, "click", 150.0, None),
        (2, same_day, 11, "click", 151.0, None),
        (3, same_day, 12, "click", 152.0, None),
        (4, same_day, 13, "click", 153.0, None),
        # singleton QI
        (5, same_day, 14, "view", 950.0, None),
        # NULL value: excluded entirely
        (6, same_day, 15, "view", None, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(
        tables, "load",
        lambda sp, d, name, _orig=tables.load: ev if name == "events" else _orig(sp, d, name),
    )
    out = {r["k"]: r for r in QUERIES["k_anonymity_audit"].fn(spark, "unused").collect()}
    assert out[2]["classes_below"] == 1 and out[2]["rows_at_risk"] == 1
    assert out[5]["classes_below"] == 2 and out[5]["rows_at_risk"] == 5
    assert out[10]["classes_below"] == 2 and out[10]["rows_at_risk"] == 5
    assert out[2]["n_classes"] == 2 and out[2]["n_rows"] == 5


def test_right_to_erasure_rewrite_contains_no_erased_rows(spark, sf_dir):
    """The audit numbers come from the RE-READ snapshot; this pins the
    stronger content contract — no row of any erased user survives in
    the rewritten files themselves."""
    import os

    from flink_scala_spark.operators import maintenance
    from flink_scala_spark.queries.catalog import QUERIES

    QUERIES["right_to_erasure_audit"].fn(spark, sf_dir).collect()
    base = maintenance.scratch_dir("right_to_erasure", sf_dir)
    subdirs = [
        os.path.join(base, d) for d in os.listdir(base) if d.startswith("kept_")
    ]
    assert subdirs
    latest = max(subdirs, key=os.path.getmtime)
    kept = spark.read.parquet(latest)
    assert kept.where(F.col("user_id") % 1000 == 7).count() == 0
    assert kept.count() > 0


def test_lsh_sweep_production_config_matches_dedup_op(spark, sf_dir):
    """The sweep's (4 bands x 2 rows) row IS the production
    dedup_minhash_lsh configuration — its verified count must equal
    that operator's output row count, and candidate counts must be
    monotone in band count (more, narrower bands never emit fewer
    candidates)."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import dedup

    docs = tables.load(spark, sf_dir, "documents")
    sweep = {
        (r["bands"], r["rows_per_band"]): r
        for r in dedup.lsh_parameter_sweep(docs, threshold=0.5).collect()
    }
    n_prod = dedup.minhash_lsh_dedup(docs, threshold=0.5).count()
    assert sweep[(4, 2)]["n_verified"] == n_prod
    assert (
        sweep[(8, 1)]["n_candidates"]
        >= sweep[(4, 2)]["n_candidates"]
        >= sweep[(2, 4)]["n_candidates"]
    )
    for row in sweep.values():
        assert row["n_verified"] <= row["n_candidates"]


def test_join_cardinality_planner_predicts_actual_join_size(spark, sf_dir):
    """exact_join_rows (computed from count tables, never the join)
    must equal the row count of the actual orders x lineitem join."""
    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    actual = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).count()
    row = QUERIES["join_cardinality_planner"].fn(spark, sf_dir).collect()[0]
    assert row["exact_join_rows"] == actual
    assert row["max_key_product"] <= actual
    assert row["matched_keys"] <= min(row["keys_a"], row["keys_b"])


def test_embedding_covariance_matches_python_reference(spark):
    """Hand-check the (1,1), (1,2), (2,2) Gram entries against plain
    Python on a two-vector frame, including the per-row ppm floor that
    makes the sum order-proof (floor of a NEGATIVE product rounds
    toward -inf in both engines)."""
    import math

    from flink_scala_spark.queries.catalog import QUERIES
    import flink_scala_spark.tables as tables

    v1 = [0.5, -0.25] + [0.0] * 62
    v2 = [1.5, 2.0] + [0.0] * 62
    # out-of-range garbage: dim0² ~1e20 > 9e12 — its dim-0 products are
    # excluded from the ppm sums (engine-divergent cast) but the vector
    # still counts in n; its in-range products (0*anything) still score
    v3 = [1.0e10] + [0.0] * 63
    emb = spark.createDataFrame(
        [(1, v1, 0), (2, v2, 0), (3, v3, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    orig = tables.load
    try:
        tables.load = lambda sp, d, n, _o=orig: emb if n == "embeddings" else _o(sp, d, n)
        out = {
            (r["dim_i"], r["dim_j"]): r
            for r in QUERIES["embedding_covariance_report"].fn(spark, "unused").collect()
        }
    finally:
        tables.load = orig

    def expect(i, j):
        return sum(
            math.floor(v[i - 1] * v[j - 1] * 1_000_000.0) for v in (v1, v2)
        )

    assert out[(1, 1)]["sum_prod_ppm"] == expect(1, 1)
    assert out[(1, 1)]["n"] == 3 and out[(1, 1)]["n_scored"] == 2
    # includes floor(-0.125e6) = -125000; v3's (1,2) product is
    # 1e10 * 0.0 = 0.0 — in range, contributes 0, so still scored
    assert out[(1, 2)]["sum_prod_ppm"] == expect(1, 2)
    assert out[(1, 2)]["n_scored"] == 3
    assert out[(2, 2)]["sum_prod_ppm"] == expect(2, 2)
    assert len(out) == 64 * 65 // 2


def test_event_lag_features_first_event_semantics(spark, monkeypatch):
    """First event per user: NULL prev_type, NULL gap_s, prior_burst 0;
    second event 5s later: gap_s=5, prior_burst=1."""
    from datetime import datetime, timezone

    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    def ts(sec):
        return datetime.fromtimestamp(1_700_000_000 + sec, tz=timezone.utc).replace(
            tzinfo=None
        )

    ev = spark.createDataFrame(
        [
            (1, ts(0), 1, "view", 1.0, None),
            (2, ts(5), 1, "click", 1.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(
        tables, "load",
        lambda sp, d, n, _o=tables.load: ev if n == "events" else _o(sp, d, n),
    )
    out = {r["event_id"]: r for r in QUERIES["event_lag_features"].fn(spark, "x").collect()}
    assert out[1]["prev_type"] is None and out[1]["gap_s"] is None
    assert out[1]["prior_burst"] == 0 and out[1]["seq_idx"] == 1
    assert out[2]["prev_type"] == "view" and out[2]["gap_s"] == 5
    assert out[2]["prior_burst"] == 1 and out[2]["seq_idx"] == 2


def test_customer_ltv_cohorts_offsets_and_cumulative(spark, monkeypatch):
    """Customer first orders Jan-2024 (cohort), orders again Mar-2024:
    offsets 0 and 2, cumulative revenue adds up; a second customer
    starting Mar-2024 forms its own cohort at offset 0."""
    from datetime import datetime

    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    rows = [
        (1, 10, "F", 10.00, datetime(2024, 1, 5), "1-URGENT"),
        (2, 10, "F", 20.00, datetime(2024, 3, 20), "1-URGENT"),
        (3, 20, "F", 7.50, datetime(2024, 3, 1), "1-URGENT"),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    monkeypatch.setattr(
        tables, "load",
        lambda sp, d, n, _o=tables.load: orders if n == "orders" else _o(sp, d, n),
    )
    out = {
        (r["cohort_mon"], r["month_offset"]): r
        for r in QUERIES["customer_ltv_cohorts"].fn(spark, "x").collect()
    }
    jan = 2024 * 12 + 0
    mar = 2024 * 12 + 2
    assert out[(jan, 0)]["cents"] == 1000 and out[(jan, 0)]["cum_cents"] == 1000
    assert out[(jan, 2)]["cents"] == 2000 and out[(jan, 2)]["cum_cents"] == 3000
    assert out[(mar, 0)]["cents"] == 750 and out[(mar, 0)]["n_active"] == 1
    assert len(out) == 3


def test_daily_monitor_watermark_ignores_null_value_rows(spark, tmp_path):
    """Regression (round-9 second review): the daily monitors filter
    `value IS NOT NULL` BEFORE withWatermark, so the stream's watermark
    never advances on NULL-value rows — if the corpus's max-ts row has
    NULL value, a day the unfiltered max would close stays OPEN. The
    oracle must use the same basis; Spark and DuckDB must agree on the
    closed-day set for exactly this corpus."""
    import glob
    import os
    import shutil

    import duckdb

    from flink_scala_spark.queries.catalog import QUERIES

    day = 86400
    d0 = 1_704_153_600  # 2024-01-02 00:00 UTC
    rows = [
        (1, d0 + 100, 1, "view", 10.0, "{}"),          # day 0
        (2, d0 + day + 100, 1, "view", 20.0, "{}"),     # day 1: flushes day 0
        # max-ts row carries NULL value: the stream watermark must NOT
        # advance to it (day 1 stays open in BOTH engines)
        (3, d0 + 3 * day, 2, "click", None, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_l long, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds("ts_l").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(str(tmp_path / "raw"))
    os.makedirs(sf)
    shutil.copy(
        glob.glob(str(tmp_path / "raw") + "/*.parquet")[0],
        os.path.join(sf, "events.parquet"),
    )
    got = QUERIES["streaming_cusum_daily"].fn(spark, sf).collect()
    assert {r["day_start"] for r in got} == {d0}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    oracle = con.execute(QUERIES["streaming_cusum_daily"].oracle).fetchall()
    assert {r[0] for r in oracle} == {d0}
    assert got[0]["day_cents"] == oracle[0][1] == 1000


def test_transition_matrix_counts_and_shares(spark, monkeypatch):
    """view->click, view->click, click->view for one user: shares are
    exact ppm fractions of each source row; the first event produces
    no transition."""
    from datetime import datetime, timezone

    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    def ts(sec):
        return datetime.fromtimestamp(1_700_000_000 + sec, tz=timezone.utc).replace(
            tzinfo=None
        )

    ev = spark.createDataFrame(
        [
            (1, ts(0), 1, "view", 1.0, None),
            (2, ts(1), 1, "click", 1.0, None),
            (3, ts(2), 1, "view", 1.0, None),
            (4, ts(3), 1, "click", 1.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(
        tables, "load",
        lambda sp, d, n, _o=tables.load: ev if n == "events" else _o(sp, d, n),
    )
    out = {
        (r["prev_type"], r["next_type"]): r
        for r in QUERIES["user_transition_matrix"].fn(spark, "x").collect()
    }
    assert out[("view", "click")]["n"] == 2
    assert out[("view", "click")]["share_ppm"] == 1_000_000
    assert out[("click", "view")]["n"] == 1
    assert out[("click", "view")]["share_ppm"] == 1_000_000
    assert len(out) == 2


def test_rfm_segments_partition_all_customers(spark, sf_dir):
    """Segment cells must partition the customer base exactly: cell
    customer counts sum to the number of ordering customers, cell cents
    sum to total order cents, and every bucket id lies in 1..4."""
    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    orders = tables.load(spark, sf_dir, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    total_cents = orders.select(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("c")
    ).collect()[0]["c"]
    rows = QUERIES["customer_rfm_segments"].fn(spark, sf_dir).collect()
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert sum(r["sum_cents"] for r in rows) == total_cents
    for r in rows:
        assert 1 <= r["r_q"] <= 4 and 1 <= r["f_q"] <= 4 and 1 <= r["m_q"] <= 4


def test_rolling_distinct_users_window_semantics(spark, monkeypatch):
    """A user active on days 0 and 2 counts ONCE in every trailing
    7-day window covering both; a day with no events gets no row even
    when earlier activity would fall inside its window."""
    from datetime import datetime, timezone

    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    def ts(day, sec=0):
        return datetime.fromtimestamp(
            day * 86400 + sec, tz=timezone.utc
        ).replace(tzinfo=None)

    ev = spark.createDataFrame(
        [
            (1, ts(20000, 10), 1, "view", 1.0, None),
            (2, ts(20002, 20), 1, "view", 1.0, None),   # same user, day+2
            (3, ts(20002, 30), 2, "click", 1.0, None),  # second user day+2
            (4, ts(20020, 0), 3, "view", 1.0, None),    # far-away day
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(
        tables, "load",
        lambda sp, d, n, _o=tables.load: ev if n == "events" else _o(sp, d, n),
    )
    out = {
        r["day_s"] // 86400: r
        for r in QUERIES["rolling_distinct_users"].fn(spark, "x").collect()
    }
    # days 20001, 20003..20008 have no events -> no rows
    assert set(out) == {20000, 20002, 20020}
    assert out[20000]["users_1d"] == 1 and out[20000]["users_7d"] == 1
    # user 1 active on 20000 AND 20002 counts once; user 2 joins
    assert out[20002]["users_1d"] == 2 and out[20002]["users_7d"] == 2
    assert out[20020]["users_1d"] == 1 and out[20020]["users_7d"] == 1
    # HLL twin: exact branch identical, certificate true on tiny input
    hll = {
        r["day_s"] // 86400: r
        for r in QUERIES["rolling_distinct_users_hll"].fn(spark, "x").collect()
    }
    assert {d: r["exact_users"] for d, r in hll.items()} == {
        20000: 1, 20002: 2, 20020: 1
    }
    assert all(r["estimate_within_5pct"] for r in hll.values())


def test_value_trend_ols_exact_fit(spark, monkeypatch):
    """Daily means 100, 200, 300 cents on days 0,1,2 fit slope=100,
    intercept=100 exactly; a single-day type yields NULL slope."""
    from datetime import datetime, timezone

    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    def ts(day):
        return datetime.fromtimestamp(day * 86400, tz=timezone.utc).replace(
            tzinfo=None
        )

    ev = spark.createDataFrame(
        [
            (1, ts(100), 1, "view", 1.00, None),
            (2, ts(101), 1, "view", 2.00, None),
            (3, ts(102), 1, "view", 3.00, None),
            (4, ts(100), 1, "click", 9.00, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(
        tables, "load",
        lambda sp, d, n, _o=tables.load: ev if n == "events" else _o(sp, d, n),
    )
    out = {
        r["event_type"]: r
        for r in QUERIES["value_trend_ols"].fn(spark, "x").collect()
    }
    assert out["view"]["n_days"] == 3
    assert out["view"]["slope_cents_per_day"] == 100.0
    assert out["view"]["intercept_cents"] == 100.0
    assert out["click"]["n_days"] == 1
    assert out["click"]["slope_cents_per_day"] is None
    assert out["click"]["intercept_cents"] is None


def test_large_volume_customers_threshold_edge(spark, sf_dir):
    """Every reported order's quantity must exceed 250, and the
    reported total must equal an independent per-order recount."""
    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    rows = QUERIES["large_volume_customers"].fn(spark, sf_dir).collect()
    assert rows, "sf fixture should contain qualifying orders"
    li = tables.load(spark, sf_dir, "lineitem")
    recount = {
        r["l_orderkey"]: r["q"]
        for r in li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .collect()
    }
    for r in rows:
        assert r["total_qty"] > 250
        assert recount[r["o_orderkey"]] == r["total_qty"]


def test_revenue_gini_known_distribution(spark, monkeypatch):
    """Four customers with lifetime cents 100,100,300,500: S = sum of
    rank*value over the ascending sort with closed-form tie handling
    = 1*100+2*100+3*300+4*500 = 3200 (tied 100s share ranks 1,2 —
    either order gives the same S), T=1000, n=4 ->
    gini = (2*3200 - 5*1000) / (4*1000) = 0.35; top decile (n DIV 10
    = 0 -> top 0 customers... k = n - 0 = 4 -> ranks > 4: none) = 0."""
    import datetime

    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    d = datetime.date(1995, 1, 1)
    orders = spark.createDataFrame(
        [
            (1, 1, d, 1.00),
            (2, 2, d, 1.00),
            (3, 3, d, 3.00),
            (4, 4, d, 5.00),
        ],
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    monkeypatch.setattr(
        tables, "load",
        lambda sp, dd, n, _o=tables.load: orders if n == "orders" else _o(sp, dd, n),
    )
    row = QUERIES["revenue_gini"].fn(spark, "x").collect()[0]
    assert row["n_customers"] == 4
    assert row["total_cents"] == 1000
    assert row["gini_ppm"] == 350_000
    assert row["top_decile_share_ppm"] == 0


def test_snapshot_diff_classes_partition_both_versions(spark, sf_dir):
    """added+changed+unchanged must equal |v2|, removed+changed+
    unchanged must equal |v1|, and the chars_delta rows must recompose
    the two versions' total n_chars difference exactly."""
    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    docs = tables.load(spark, sf_dir, "documents")
    n_v1 = docs.count()
    n_removed_src = docs.where(F.col("doc_id") % 17 == 3).count()
    n_added = docs.where(F.col("doc_id") % 19 == 7).count()
    n_v2 = n_v1 - n_removed_src + n_added
    out = {
        r["change_type"]: r
        for r in QUERIES["snapshot_diff_audit"].fn(spark, sf_dir).collect()
    }
    got_v2 = sum(out[k]["n_rows"] for k in ("added", "changed", "unchanged") if k in out)
    got_v1 = sum(out[k]["n_rows"] for k in ("removed", "changed", "unchanged") if k in out)
    assert got_v2 == n_v2 and got_v1 == n_v1
    assert out["added"]["n_rows"] == n_added
    # every changed row bumped n_chars by exactly +11
    if "changed" in out:
        assert out["changed"]["chars_delta"] == 11 * out["changed"]["n_rows"]


def test_spacesaving_topk_certificate_and_exactness(spark):
    """The MG heavy-hitter report must emit the exact top-N (count
    desc, item asc) with TRUE certificates under adversarial
    partitioning — a zipf-ish synthetic corpus repartitioned several
    ways so per-partition summaries genuinely differ."""
    from collections import Counter

    from flink_scala_spark.pipeline import sampling

    # zipf-ish: item i appears ~60/i times, vocabulary of 40 > k=20
    words = []
    for i in range(1, 41):
        words += [chr(96 + (i % 26) + 1) * ((i % 3) + 1)] * (60 // i + 1)
    # docs of 7 "words" each; characters are the item stream
    texts = [
        " ".join(words[j : j + 7]) for j in range(0, len(words) - 6, 7)
    ]
    chars = Counter(c for t in texts for c in t.replace(" ", ""))
    n = sum(chars.values())
    ref = sorted(chars.items(), key=lambda kv: (-kv[1], kv[0]))[:12]

    for parts in (1, 3, 17):
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        ).repartition(parts)
        rows = (
            sampling.spacesaving_topk_certified(docs)
            .orderBy("rank")
            .collect()
        )
        assert [(r["ch"], r["exact_cnt"]) for r in rows] == ref, parts
        assert all(r["within_mg_bound"] for r in rows), parts
        assert all(r["n_chars"] == n for r in rows)
        bound = 2 * (n // 21)
        for r in rows:
            assert r["is_heavy"] == (r["exact_cnt"] > bound)


def test_revenue_dow_seasonality_matches_python(spark):
    """Day-table seasonality report vs an independent Python fold."""
    import math
    import random
    from collections import defaultdict

    from flink_scala_spark.pipeline import behavior

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(10_000, 11_000), round(rng.uniform(1, 5000), 2))
        for i in range(400)
    ]
    orders = spark.createDataFrame(
        [(k, __import__("datetime").datetime.utcfromtimestamp(d * 86400 + 3600), p)
         for k, d, p in rows],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    daily: dict[int, int] = defaultdict(int)
    for _, d, p in rows:
        daily[d] += int(math.floor(p * 100))
    by_dow: dict[int, list[int]] = defaultdict(list)
    for d, rev in daily.items():
        by_dow[(d + 4) % 7].append(rev)
    mean = {w: sum(v) // len(v) for w, v in by_dow.items()}
    got = {
        r["day_idx"]: r
        for r in behavior.revenue_dow_seasonality(orders).collect()
    }
    assert set(got) == set(daily)
    for d, rev in daily.items():
        r = got[d]
        m = mean[(d + 4) % 7]
        assert (r["dow"], r["rev_cents"], r["dow_mean_cents"]) == (
            (d + 4) % 7, rev, m,
        )
        assert r["residual_cents"] == rev - m
        assert r["deviation_ppm"] == (1_000_000 * abs(rev - m)) // m
        assert r["is_anomaly"] == (r["deviation_ppm"] > 1_000_000)


def test_revenue_autocorr_lag1_matches_python(spark):
    """r1 vs a plain-Python Pearson over the consecutive-day pairs."""
    import math
    import random
    from collections import defaultdict

    from flink_scala_spark.pipeline import behavior

    rng = random.Random(11)
    # ~30 days with gaps, strongly autocorrelated revenue
    days = sorted(rng.sample(range(10_000, 10_050), 30))
    level = 500_000.0
    rows = []
    daily: dict[int, int] = defaultdict(int)
    for d in days:
        level = 0.9 * level + rng.uniform(0, 100_000)
        p = round(level / 100, 2)
        rows.append((d, p))
        daily[d] += int(math.floor(p * 100))
    orders = spark.createDataFrame(
        [(i, __import__("datetime").datetime.utcfromtimestamp(d * 86400), p)
         for i, (d, p) in enumerate(rows)],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    pairs = [
        (daily[d], daily[d + 1]) for d in daily if d + 1 in daily
    ]
    n = len(pairs)
    sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
    ref = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    import pytest

    row = behavior.revenue_autocorr_lag1(orders).collect()[0]
    assert row["n_pairs"] == n
    assert row["mean_prev_cents"] == sx // n
    assert row["mean_next_cents"] == sy // n
    assert row["r1"] == pytest.approx(ref, rel=1e-12)
    assert row["r1"] > 0.3  # the series is genuinely autocorrelated


def test_cross_type_quantile_norm_matches_python(spark):
    """Quartiles + global mid-rank ppms vs an independent sorted scan."""
    import math
    import random

    from flink_scala_spark.pipeline import behavior

    rng = random.Random(3)
    rows = [
        (i, ["a", "b", "c"][i % 3], round(rng.uniform(0, 50), 2))
        for i in range(300)
    ]
    events = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    cents = [(t, int(math.floor(v * 100))) for _, t, v in rows]
    allc = sorted(c for _, c in cents)
    gn = len(allc)

    def mr2(c: int) -> int:
        below = sum(1 for x in allc if x < c)
        cum = sum(1 for x in allc if x <= c)
        return below + cum

    got = {r["event_type"]: r for r in behavior.cross_type_quantile_norm(events).collect()}
    for t in ("a", "b", "c"):
        vals = sorted(c for ty, c in cents if ty == t)
        nt = len(vals)
        r = got[t]
        assert r["n_events"] == nt
        for p, q in ((25, 0.25), (50, 0.5), (75, 0.75)):
            expect = vals[math.ceil(q * nt) - 1]
            assert r[f"p{p}_cents"] == expect, (t, p)
            assert r[f"g{p}_ppm"] == (1_000_000 * mr2(expect)) // (2 * gn)
        s = sum(mr2(c) for ty, c in cents if ty == t)
        assert r["mean_rank_ppm"] == (1_000_000 * s) // (2 * nt * gn)


def test_group_quantiles_null_pin(spark):
    """Round-11 review pass 2 contract: NULL values are excluded from
    ranks on BOTH engines (the oracle carries the mirrored filter), n
    counts non-NULL values only, and a key whose values are ALL NULL
    is absent — identically to the oracle's filtered row_number."""
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", None, 2), ("a", 3.0, 3), ("b", None, 4)],
        "k string, v double, id long",
    )
    rows = {r["k"]: r for r in group_quantiles(df, "k", "v").collect()}
    assert set(rows) == {"a"}  # all-NULL key b is absent, both engines
    assert rows["a"]["n"] == 2  # NULLs don't count
    assert rows["a"]["p50"] == 1.0 and rows["a"]["p99"] == 3.0


def test_group_quantiles_null_key_group_kept(spark):
    """Round-11 review pass 3 (checklist rule 9 for GROUPING keys): a
    NULL key is a group like any other — GROUP BY keeps it in both
    engines, so the kernel's internal rejoin and the certified
    exact↔approx join must be null-safe or the group silently
    vanishes from the Spark side only."""
    from flink_scala_spark.operators.aggregations import (
        group_quantiles_certified,
    )

    df = spark.createDataFrame(
        [(None, 1.0, 1), (None, 2.0, 2), (None, 9.0, 3),
         ("a", 5.0, 4), ("a", 7.0, 5)],
        "k string, v double, id long",
    )
    rows = {r["k"]: r for r in group_quantiles(df, "k", "v").collect()}
    assert set(rows) == {None, "a"}
    assert rows[None]["n"] == 3
    assert rows[None]["p50"] == 2.0 and rows[None]["p99"] == 9.0
    assert rows["a"]["p50"] == 5.0

    cert = {
        r["k"]: r
        for r in group_quantiles_certified(df, "k", "v").collect()
    }
    assert set(cert) == {None, "a"}
    assert cert[None]["n"] == 3 and cert[None]["p50"] == 2.0
    assert cert[None]["within_gk_bound"] and cert["a"]["within_gk_bound"]


def test_contamination_longest_runs_matches_bruteforce(spark):
    """X219 run coalescing vs a plain-Python scanner: crafted train
    and test docs sharing passages of known lengths (n=3 for the
    test); the kernel must report the exact maximal-run severity, the
    scattered-match count, and drop hot spans past the df cap."""
    import hashlib

    from flink_scala_spark.pipeline.text import contamination_longest_runs

    def bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100

    train_ids = [i for i in range(1000) if bucket(i) < 80]
    test_ids = [i for i in range(1000) if bucket(i) >= 90]

    # a 9-word verbatim passage (7 trigram matches -> one run of 9
    # words), plus one scattered trigram elsewhere on another diagonal
    passage = "the quick brown fox jumps over the lazy dog"
    tr_doc = f"AA BB {passage} CC DD common one two"
    te_doc = f"{passage} XX YY ZZ common one two QQ"
    rows = [
        (train_ids[0], tr_doc),
        (test_ids[0], te_doc),
        (train_ids[1], "unrelated words only here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["train_doc"], r["test_doc"]): r
        for r in contamination_longest_runs(docs, n=3).collect()
    }
    key = (train_ids[0], test_ids[0])
    assert set(got) == {key}

    # brute force: all positional trigram matches, coalesced per diag
    def tgs(t):
        w = t.split(" ")
        return {
            (i + 1, " ".join(w[i : i + 3])) for i in range(len(w) - 2)
        }

    m = [
        (ti, ei)
        for ti, s in tgs(tr_doc)
        for ei, s2 in tgs(te_doc)
        if s == s2
    ]
    diags = {}
    for ti, ei in m:
        diags.setdefault(ti - ei, []).append(ti)
    runs = []
    for d, tis in diags.items():
        tis = sorted(tis)
        run = 1
        for a, b in zip(tis, tis[1:]):
            if b == a + 1:
                run += 1
            else:
                runs.append(run)
                run = 1
        runs.append(run)
    r = got[key]
    assert r["n_matching_ngrams"] == len(m)
    assert r["n_runs"] == len(runs)
    assert r["longest_run_words"] == max(runs) + 2

    # hot-span guard: the passage shared by MORE than max_df docs is
    # boilerplate -> zero pairs survive
    many = [
        (i, f"pad{i} {passage}")
        for i in (train_ids[:3] + test_ids[:3])
    ]
    hot = contamination_longest_runs(
        spark.createDataFrame(many, "doc_id long, text string"),
        n=3,
        max_df=2,
    ).collect()
    assert hot == []


def test_kmv_join_size_exact_below_capacity_and_deterministic(spark):
    """X217: (a) when the key union fits in one sketch the estimate IS
    the exact planner answer (KMV is exact below capacity); (b) past
    capacity the estimate reproduces a plain-Python mirror of the
    bottom-k estimator bit-for-bit (deterministic h60 sampling)."""
    import hashlib

    from flink_scala_spark.pipeline.sampling import (
        KMV_K,
        _KMV_NUM,
        kmv_join_size,
    )

    def h(k: int) -> int:
        return int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)

    # (a) 40 union keys < KMV_K=64 -> exhaustive sample, exact answer.
    # A NULL key on each side: pinned OUT of the sketch (rule 9 —
    # Spark sorts NULL hv first, DuckDB last) but kept by the exact
    # certificate as unmatched rows, like any full-outer count join.
    a_small = spark.createDataFrame(
        [(k, k % 3 + 1) for k in range(30)] + [(None, 99)],
        "k long, na long",
    )
    b_small = spark.createDataFrame(
        [(k, k % 5 + 1) for k in range(10, 50)] + [(None, 99)],
        "k long, nb long",
    )
    r = kmv_join_size(a_small, b_small).collect()[0]
    exp_rows = sum((k % 3 + 1) * (k % 5 + 1) for k in range(10, 30))
    assert r["exact_join_rows"] == exp_rows
    assert r["kmv_join_rows"] == float(exp_rows)
    assert r["kmv_union_keys"] == 50.0
    assert r["exact_keys_union"] == 52  # two unmatched NULL-key rows
    assert r["sample_n"] == 50 and r["sample_matched"] == 20

    # (b) 500 union keys > capacity -> python mirror of the estimator
    a_rows = [(k, k % 7 + 1) for k in range(400)]
    b_rows = [(k, k % 4 + 1) for k in range(100, 500)]
    a_big = spark.createDataFrame(a_rows, "k long, na long")
    b_big = spark.createDataFrame(b_rows, "k long, nb long")
    r = kmv_join_size(a_big, b_big).collect()[0]
    na = dict(a_rows)
    nb = dict(b_rows)
    samp = sorted(set(na) | set(nb), key=h)[:KMV_K]
    hk_u = h(samp[-1])
    u_est = _KMV_NUM / float(hk_u)
    sample_prod = sum(na.get(k, 0) * nb.get(k, 0) for k in samp)
    assert r["sample_n"] == KMV_K
    assert r["sample_join_rows"] == sample_prod
    assert r["kmv_union_keys"] == u_est
    assert r["kmv_join_rows"] == u_est * sample_prod / KMV_K
    assert r["exact_join_rows"] == sum(
        na[k] * nb[k] for k in set(na) & set(nb)
    )

    # empty inputs: n_u = 0 -> NULL estimate in both engines (ANSI
    # Spark would raise DIVIDE_BY_ZERO without the nullif guard)
    empty_a = spark.createDataFrame([], "k long, na long")
    empty_b = spark.createDataFrame([], "k long, nb long")
    r = kmv_join_size(empty_a, empty_b).collect()[0]
    assert r["exact_join_rows"] == 0 and r["sample_n"] == 0
    assert r["kmv_join_rows"] is None


def test_streaming_scd2_maintenance_equals_batch_and_chains(spark, sf_dir):
    """X218: the live SCD2 maintenance must equal the batch X101
    interval build row-for-row, every key must flag exactly one
    current version, and each key's intervals must CHAIN (eff_to of
    one version == eff_from of the next)."""
    from collections import defaultdict

    import __spark_entry__ as se

    q = se.queries()
    live = sorted(
        map(tuple, q["streaming_scd2_maintenance"](spark, sf_dir).collect())
    )
    batch = sorted(map(tuple, q["scd2_history"](spark, sf_dir).collect()))
    assert live == batch and len(live) > 0

    by_key = defaultdict(list)
    for user_id, eff_from, eff_to, is_current, _v in live:
        by_key[user_id].append((eff_from, eff_to, is_current))
    for user_id, vs in by_key.items():
        vs.sort()
        assert sum(c for _, _, c in vs) == 1, user_id
        assert vs[-1][1] is None and vs[-1][2] == 1
        for (f1, t1, _), (f2, _, _) in zip(vs, vs[1:]):
            assert t1 == f2, user_id


def test_scd2_same_second_tiebreak_matches_oracle(spark, tmp_path):
    """Round-12 review pass 1: two purchases by one user inside the
    SAME wall-clock second, with sub-second order OPPOSING event_id
    order. The shared oracle sorts by raw (microsecond) ts first, so
    both the batch and the live SCD2 build must too — a second-floored
    sort key would swap which value/is_current lands on which interval
    row. Pinned against DuckDB running the shared oracle verbatim."""
    import glob
    import os
    import shutil

    import duckdb

    import __spark_entry__ as se

    base_us = 1_700_000_000 * 1_000_000
    rows = [
        # same second: .7s carries event_id 3, .2s carries event_id 9
        (3, base_us + 700_000, 1, "purchase", 10.0, "{}"),
        (9, base_us + 200_000, 1, "purchase", 20.0, "{}"),
        (4, base_us + 5_000_000, 1, "purchase", 30.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(str(tmp_path / "raw"))
    os.makedirs(sf)
    shutil.copy(
        glob.glob(str(tmp_path / "raw") + "/*.parquet")[0],
        os.path.join(sf, "events.parquet"),
    )

    q, o = se.queries(), se.oracle_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
    )
    exp = sorted(map(tuple, con.execute(o["scd2_history"]).fetchall()))
    con.close()
    # the .2s/eid-9 row is FIRST despite the larger event_id (its
    # interval is zero-width: [base, base) closed by the .7s row)
    assert [r[4] for r in exp] == [20.0, 10.0, 30.0]
    for name in ("scd2_history", "streaming_scd2_maintenance"):
        got = sorted(
            tuple(r) for r in q[name](spark, sf).collect()
        )
        assert got == exp, name
