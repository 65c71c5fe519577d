"""Property-based tests (hypothesis): cross-engine and cross-library
invariants the whole correctness gate rests on.

The oracle strategy is "exact hash equality, no tolerances" — which is
only sound if the portable primitives really are bit-identical between
Spark and DuckDB for ARBITRARY inputs, not just the fixture tables.
These properties fuzz that claim, plus the as-of join against pandas'
independent merge_asof implementation and the LSH verifier against a
plain-Python Jaccard.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_scala_spark.functions import portable

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# NUL-free text (DuckDB treats NUL as a terminator in varchar params);
# both engines hash the UTF-8 bytes, surrogates excluded (unencodable)
texts = st.lists(
    st.text(
        alphabet=st.characters(
            min_codepoint=1, exclude_categories=("Cs",)
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)

f32 = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, width=32
).map(float)


@settings(**SETTINGS)
@given(texts)
def test_h60_matches_duckdb(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r.h for r in df.select(portable.h60("s").alias("h")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {portable.duck_h60('?')}", [v]
        ).fetchone()[0]
        for v in vals
    ]
    assert got == want


@settings(**SETTINGS)
@given(st.integers(1, 16).flatmap(
    lambda d: st.tuples(
        st.lists(f32, min_size=d, max_size=d),
        st.lists(f32, min_size=d, max_size=d),
    )
))
def test_inorder_dot_matches_duckdb(spark, ab):
    a, b = ab
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    got = df.select(
        portable.inorder_dot(F.col("a"), F.col("b")).alias("d")
    ).collect()[0].d
    got_fixed = df.select(
        portable.inorder_dot_fixed(F.col("a"), F.col("b"), len(a)).alias("d")
    ).collect()[0].d
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {portable.duck_dot('a', 'b')} FROM "
        "(SELECT ?::FLOAT[] AS a, ?::FLOAT[] AS b)",
        [a, b],
    ).fetchone()[0]
    # bit-exact: the folds share one evaluation order
    assert got == want == got_fixed


events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 10_000_000)),
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(left=events, right=events)
def test_asof_join_matches_backward_scan(spark, left, right):
    """Backward as-of with exact matches allowed: each left row's
    match is the max right ts <= left ts within its key — checked
    against a plain-Python scan."""
    from flink_scala_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(k, i, ts) for i, (k, ts) in enumerate(left)],
        "user_key long, event_id long, ts_us long",
    ).selectExpr("user_key", "event_id", "timestamp_micros(ts_us) AS ts")
    rdf = spark.createDataFrame(
        [(k, ts) for (k, ts) in right], "user_key long, ts_us long"
    ).selectExpr("user_key", "timestamp_micros(ts_us) AS ts")
    got = {
        r.event_id: r.match_ts_us
        for r in asof_join(ldf, rdf, "user_key").collect()
    }
    want = {}
    for eid, (k, ts) in enumerate(left):
        cands = [rts for rk, rts in right if rk == k and rts <= ts]
        if cands:
            want[eid] = max(cands)
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 10**6), st.integers(0, 4)),
                min_size=1, max_size=50, unique_by=lambda t: t[0]))
def test_stratified_sample_stable_under_repartitioning(spark, rows):
    """The property that justifies content-hash sampling over
    rand(seed): membership is a pure function of the row, so ANY
    physical layout yields the identical sample."""
    from flink_scala_spark.pipeline.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, f"t{s}") for i, s in rows], "event_id long, event_type string"
    )
    rates = {"t0": 100, "t1": 25}
    a = {r.event_id for r in stratified_sample(df, "event_type", "event_id", rates).collect()}
    b = {
        r.event_id
        for r in stratified_sample(
            df.repartition(7), "event_type", "event_id", rates
        ).collect()
    }
    assert a == b
    # all of stratum t0 is kept (100% rate)
    assert {i for i, s in rows if s == 0} <= a


docs_strategy = st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12).map(
        lambda ws: " ".join(ws)
    ),
    min_size=2,
    max_size=12,
)


@settings(**SETTINGS)
@given(docs_strategy)
def test_lsh_verified_pairs_have_exact_jaccard(spark, texts_):
    """Soundness: every pair minhash_lsh_dedup emits has (a) true
    3-gram Jaccard equal to the reported value and (b) >= threshold.
    (Completeness is probabilistic by design; soundness is not.)"""
    from flink_scala_spark.pipeline.dedup import minhash_lsh_dedup

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts_)], "doc_id long, text string"
    )
    out = minhash_lsh_dedup(docs, threshold=0.5).collect()

    def shingles(t):
        ws = t.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    for r in out:
        sa, sb = shingles(texts_[r.doc_a]), shingles(texts_[r.doc_b])
        j = len(sa & sb) / len(sa | sb)
        assert r.jaccard == pytest.approx(j, abs=0)
        assert r.jaccard >= 0.5
        assert r.common == len(sa & sb)


quantile_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)


@settings(**SETTINGS)
@given(quantile_rows)
def test_group_quantiles_match_sorted_selection(spark, rows):
    """group_quantiles' rank rule r = ceil(q*n) must pick exactly the
    element an independent in-memory sort picks."""
    import math

    from flink_scala_spark.operators.aggregations import group_quantiles

    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k string, v double, id long")
    got = {r["k"]: r for r in group_quantiles(df, "k", "v").collect()}
    by_key: dict[str, list[float]] = {}
    for k, v, _ in data:
        by_key.setdefault(k, []).append(v)
    for k, vals in by_key.items():
        vals.sort()
        n = len(vals)
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            expect = vals[math.ceil(q * n) - 1]
            assert got[k][col] == expect, (k, q, n)


@settings(**SETTINGS)
@given(texts)
def test_repetition_stats_match_pure_python(spark, vals):
    """Row-local repetition arrays vs an independent Python count."""
    from collections import Counter

    from flink_scala_spark.pipeline import text as text_mod

    docs = spark.createDataFrame(list(enumerate(vals)), "doc_id long, text string")
    got = {r["doc_id"]: r for r in text_mod.repetition_stats(docs).collect()}
    for i, t in enumerate(vals):
        raw = t.split(" ")
        words = [w for w in raw if w]
        r = got[i]
        assert r["n_words"] == len(words)
        if words:
            assert r["top_word_frac"] == max(Counter(words).values()) / len(words)
        else:
            assert r["top_word_frac"] is None
        g2 = [f"{raw[j]} {raw[j+1]}" for j in range(len(raw) - 1)]
        if g2:
            assert r["dup_2gram_frac"] == 1.0 - len(set(g2)) / len(g2)
        else:
            assert r["dup_2gram_frac"] is None


@settings(**SETTINGS)
@given(docs_strategy)
def test_cms_estimate_dominates_exact(spark, texts_):
    """Count-min invariant: the min-of-counters estimate NEVER
    undercounts (each counter is exact + non-negative collisions), and
    collapses to exact when no hash row collides."""
    from collections import Counter

    from flink_scala_spark.pipeline.sampling import cms_word_counts

    docs = spark.createDataFrame(
        list(enumerate(texts_)), "doc_id long, text string"
    )
    rows = cms_word_counts(docs).collect()
    truth = Counter(w for t in texts_ for w in t.split(" ") if w)
    assert {r.word for r in rows} == set(truth)
    for r in rows:
        assert r.exact_cnt == truth[r.word]
        assert r.cms_cnt >= r.exact_cnt


def test_kmeans_partition_invariant(spark, sf_dir):
    """Fixed-point centroid math + lexicographic tie-breaks must make
    the iterative assignment bit-identical under any partitioning."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, similarity.kmeans_assign_fixed(emb.repartition(3)).collect()))
    b = sorted(map(tuple, similarity.kmeans_assign_fixed(emb.repartition(11)).collect()))
    assert a == b


def test_pq_query_tables_rows_bit_exact(spark, sf_dir):
    """The driver-side ADC-table builder the streaming PQ serving
    entry uses (round 13) must produce BIT-identical float64 tables to
    the JVM aggregation it replaces — same in-order fold, operand for
    operand — or serving ranks drift off the oracle."""
    from pyspark.sql import functions as F

    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb)
    queries = emb.where(F.col("vec_id") % 50 == 0)

    qflat = similarity.flatten(queries, "e", "query_id")
    jvm = {
        r["query_id"]: [list(r[f"dt{m}"]) for m in range(similarity.PQ_M)]
        for r in similarity.pq_query_tables(qflat, cb).collect()
    }

    cb_py = {
        int(r[0]): [float(v) for v in r[1:]]
        for r in cb.select(
            "code_id", *[F.col(f"c{i}") for i in range(1, similarity.DIM + 1)]
        ).collect()
    }
    local = {
        row[0]: [list(row[1 + m]) for m in range(similarity.PQ_M)]
        for row in similarity.pq_query_tables_rows(
            [
                (r["vec_id"], r["embedding"])
                for r in queries.select("vec_id", "embedding").collect()
            ],
            cb_py,
        )
    }
    assert set(jvm) == set(local) and len(jvm) > 0
    for qid in jvm:
        assert jvm[qid] == local[qid]  # exact float64 equality


def test_cosine_topk_both_equals_two_passes(spark, sf_dir):
    """label_match='both' (one corpus pass mining positives and
    negatives together, round 13) must be row-identical to the
    separate 'same' and 'diff' passes it replaced."""
    from pyspark.sql import functions as F

    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    n_emb = emb.count()
    pos = similarity.cosine_topk_vectorized(
        emb, pred, k=1, label_col="label", label_match="same", n_emb=n_emb
    ).collect()
    neg = similarity.cosine_topk_vectorized(
        emb, pred, k=4, label_col="label", label_match="diff", n_emb=n_emb
    ).collect()
    expected = sorted(
        [(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"], True) for r in pos]
        + [(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"], False) for r in neg]
    )
    both = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"], r["same"])
        for r in similarity.cosine_topk_vectorized(
            emb, pred, k=4, k_same=1, label_col="label", label_match="both"
        ).collect()
    )
    assert both == expected and len(both) > 0


def test_pagerank_partition_invariant(spark, sf_dir):
    """BIGINT floor-division mass updates are associative: PageRank
    must not depend on partitioning."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import dedup

    docs = tables.load(spark, sf_dir, "documents")
    a = sorted(map(tuple, dedup.near_dup_pagerank(docs.repartition(2)).collect()))
    b = sorted(map(tuple, dedup.near_dup_pagerank(docs.repartition(13)).collect()))
    assert a == b


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must be invisible in the result rows."""
    from flink_scala_spark import tables
    from flink_scala_spark.operators import joins

    ev = tables.load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5)], "event_type string, weight double"
    )
    salted = joins.salted_skew_join(ev, dim, "event_type", 4, "event_id")
    plain = ev.join(dim, "event_type")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_fuzzy_pairs_complete_vs_brute_force(spark):
    """Deletion-neighborhood blocking is COMPLETE for edit distance 1
    (substitution at i: deleting i from both sides collides; ins/del:
    the shorter string is itself a deletion variant of the longer) —
    the result must equal the brute-force quadratic scan."""
    import itertools

    from flink_scala_spark.pipeline import text

    vocab = [
        "cat", "bat", "cart", "car", "ca", "cat", "dog", "dot", "do",
        "spark", "spar", "sparc", "spork", "a", "b", "ab",
    ]
    df = spark.createDataFrame([(w,) for w in vocab], "word string")
    got = {
        (r["word_a"], r["word_b"])
        for r in text.fuzzy_string_pairs(df, "word").collect()
    }

    def lev1(x, y):
        if abs(len(x) - len(y)) > 1:
            return False
        if len(x) == len(y):
            return sum(a != b for a, b in zip(x, y)) == 1
        s, l = (x, y) if len(x) < len(y) else (y, x)
        return any(l[:i] + l[i + 1:] == s for i in range(len(l)))

    expect = {
        tuple(sorted((a, b)))
        for a, b in itertools.combinations(set(vocab), 2)
        if lev1(a, b)
    }
    assert got == expect, (got ^ expect)


def test_incremental_dedup_matches_full_run_cross_pairs(spark, sf_dir):
    """Incremental (new=odd ids vs corpus=even ids) must find exactly
    the cross-parity pairs of the full-corpus MinHash run: profiles,
    bands, and verify sets are identical, only the candidate join's
    sides differ."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import dedup
    import pyspark.sql.functions as F

    docs = tables.load(spark, sf_dir, "documents")
    full = dedup.minhash_lsh_dedup(docs, threshold=0.5).collect()
    cross_full = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in full
        if (r["doc_a"] % 2) != (r["doc_b"] % 2)
    }
    corpus_prof = dedup.doc_profiles(docs.where(F.col("doc_id") % 2 == 0))
    inc = dedup.incremental_near_dup(
        docs.where(F.col("doc_id") % 2 == 1), corpus_prof, threshold=0.5
    ).collect()
    cross_inc = {
        (min(r["new_id"], r["corpus_id"]), max(r["new_id"], r["corpus_id"]))
        for r in inc
    }
    assert cross_inc == cross_full


def test_group_sample_partition_invariance(spark, sf_dir):
    """The hash-rank k-sample must select the IDENTICAL row set under
    any physical layout — the property that separates it from
    rand()-based sampling, whose draw depends on partitioning."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline.sampling import group_sample_k

    ev = tables.load(spark, sf_dir, "events").select("event_id", "event_type")

    def sample_set(df):
        return {
            (r["event_type"], r["event_id"], r["sample_rank"])
            for r in group_sample_k(df, "event_type", "event_id", 7).collect()
        }

    base = sample_set(ev)
    assert len(base) > 0
    assert sample_set(ev.repartition(17)) == base
    assert sample_set(ev.repartition(3, "event_id")) == base


def test_bloom_decontamination_never_misses(spark, sf_dir):
    """Bloom contract: every exact hit must be bloom-positive
    (n_bloom_hits >= n_exact_hits per doc), and the two agree with the
    exact decontamination operator's counts."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import text as tx

    docs = tables.load(spark, sf_dir, "documents")
    bl = {
        r["doc_id"]: r for r in tx.decontamination_bloom(docs, n=5).collect()
    }
    ex = {r["doc_id"]: r for r in tx.decontamination(docs, n=5).collect()}
    assert bl.keys() == ex.keys()
    for doc_id, b in bl.items():
        assert b["n_bloom_hits"] >= b["n_exact_hits"], doc_id
        assert b["n_false_pos"] == b["n_bloom_hits"] - b["n_exact_hits"]
        assert b["n_exact_hits"] == ex[doc_id]["n_contaminated"], doc_id
        assert b["n_shingles"] == ex[doc_id]["n_shingles"], doc_id


def test_pq_encoding_partition_invariance(spark, sf_dir):
    """PQ ranks must be identical under any layout of the corpus: the
    codebook is a pure function of the id set and every distance is a
    fixed-order fold, so repartitioning cannot move a neighbor."""
    import pyspark.sql.functions as F

    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import similarity

    emb = tables.load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pred = F.col("vec_id") % 100 == 0

    def ranks(df):
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["approx_dist"])
            for r in similarity.pq_topk(df, pred, k=3).collect()
        }

    base = ranks(emb)
    assert len(base) > 0
    assert ranks(emb.repartition(13)) == base


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=-(10**6), max_value=10**6),
            st.lists(
                st.floats(
                    min_value=-8, max_value=8, allow_nan=False, width=32
                ),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=2,
        max_size=14,
        unique_by=lambda t: t[0],
    ),
    tile_rows=st.integers(min_value=1, max_value=6),
)
def test_blocked_near_dup_fuzz_vs_bruteforce(spark, data, tile_rows):
    """Property: for ANY id set (negative ids included) and ANY tile
    size, the blocked all-pairs path returns exactly the brute-force
    pair set with bit-identical cosines."""
    import itertools

    import numpy as np

    from flink_scala_spark.pipeline import similarity

    emb = spark.createDataFrame(
        [(i, v) for i, v in data], "vec_id long, embedding array<float>"
    )
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.near_dup_pairs_blocked(
            emb, threshold=-2.0, dim=4, max_tile_rows=tile_rows
        ).collect()
    }
    expect = {}
    vecs = {i: np.asarray(v, dtype=np.float64) for i, v in data}
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, vb = vecs[a], vecs[b]
        dot = nsa = nsb = 0.0
        for k in range(4):
            dot += va[k] * vb[k]
            nsa += va[k] * va[k]
            nsb += vb[k] * vb[k]
        if nsa == 0.0 or nsb == 0.0:
            continue  # zero vector -> NaN cosine; excluded below too
        expect[(a, b)] = dot / np.sqrt(nsa * nsb)
    got = {k: v for k, v in got.items() if not (v != v)}  # drop NaN rows
    expect = {k: v for k, v in expect.items() if not (v != v)}
    assert got == expect


word_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        min_size=0,
        max_size=24,
    ).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(**SETTINGS)
@given(word_docs)
def test_duplicate_spans_match_bruteforce(spark, texts_):
    """duplicate_spans (n=3 for the fuzz) must find EXACTLY the
    positional word trigrams shared by >= 2 distinct docs, with exact
    doc and occurrence counts — checked against a plain-Python
    counter. The tiny 6-letter alphabet makes shared spans likely."""
    from collections import defaultdict

    from flink_scala_spark.pipeline.text import duplicate_spans

    n = 3
    expected: dict[str, list] = defaultdict(lambda: [set(), 0])
    for i, t in enumerate(texts_):
        w = t.split(" ") if t else []
        if t == "" or len(w) < n:
            continue
        for j in range(len(w) - n + 1):
            span = " ".join(w[j : j + n])
            expected[span][0].add(i)
            expected[span][1] += 1
    exp = sorted(
        (min(d), max(d), len(d), occ)
        for d, occ in expected.values()
        if len(d) >= 2
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts_)], "doc_id long, text string"
    )
    # multiset compare: distinct spans with identical stats must BOTH
    # appear (a set would let a dropped/merged span false-pass)
    got = sorted(
        (r["first_doc"], r["last_doc"], r["n_docs"], r["n_occurrences"])
        for r in duplicate_spans(docs, n=n).collect()
    )
    assert got == exp


@settings(**SETTINGS)
@given(word_docs)
def test_scrub_duplicate_spans_matches_bruteforce(spark, texts_):
    """scrub_duplicate_spans (n=3 for the fuzz) must reproduce a
    plain-Python keep-first excision: for every span shared by >= 2
    docs, the lexicographically first (doc, pos) occurrence survives,
    all other occurrences remove their n word positions (overlaps
    unioned), and the audit counts match. Covers full-document removal
    (exact dup docs scrub to ''), overlap unions, and docs shorter
    than n (pass through untouched)."""
    from collections import Counter, defaultdict

    from flink_scala_spark.pipeline.text import scrub_duplicate_spans

    n = 3
    words = {i: t.split(" ") for i, t in enumerate(texts_) if t != ""}
    occs: dict[str, list] = defaultdict(list)
    for d in sorted(words):
        w = words[d]
        for j in range(len(w) - n + 1):
            occs[" ".join(w[j : j + n])].append((d, j))
    rm: dict[int, set] = defaultdict(set)
    nflag: Counter = Counter()
    for lst in occs.values():
        if len({d for d, _ in lst}) < 2:
            continue
        first = min(lst)
        for d, j in lst:
            if (d, j) == first:
                continue
            nflag[d] += 1
            rm[d].update(range(j, j + n))
    exp = {}
    for d, w in words.items():
        kept = [x for k, x in enumerate(w) if k not in rm[d]]
        scrubbed = " ".join(kept)
        exp[d] = (
            scrubbed,
            len(rm[d]),
            len(texts_[d]) - len(scrubbed),
            nflag[d],
        )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts_)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["scrubbed_text"],
            r["n_words_removed"],
            r["chars_removed"],
            r["n_spans_flagged"],
        )
        for r in scrub_duplicate_spans(docs, n=n).collect()
    }
    assert got == exp


@settings(**SETTINGS)
@given(word_docs)
def test_rare_token_novelty_matches_bruteforce(spark, texts_):
    """rare_token_novelty must reproduce a plain-Python computation of
    the integer rarity threshold (cnt * 256 < total) and the DIV
    permille, including the empty-doc exclusion."""
    from collections import Counter

    from flink_scala_spark.pipeline.text import RARITY_DENOM, rare_token_novelty

    tokens = {
        i: t.split(" ") for i, t in enumerate(texts_) if t != ""
    }
    freq = Counter(w for ws in tokens.values() for w in ws)
    total = sum(freq.values())
    rare = {w for w, c in freq.items() if c * RARITY_DENOM < total}
    exp = sorted(
        (
            i,
            len(ws),
            sum(1 for w in ws if w in rare),
            (1000 * sum(1 for w in ws if w in rare)) // len(ws),
        )
        for i, ws in tokens.items()
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts_)], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["n_tok"], r["n_rare"], r["rare_permille"])
        for r in rare_token_novelty(docs).collect()
    )
    assert got == exp


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=1, max_size=40))
def test_alternating_star_components_match_union_find(spark, raw_edges):
    """connected_components_star must equal a plain union-find on
    arbitrary graphs (self-loops dropped, duplicates welcome)."""
    from flink_scala_spark.pipeline.dedup import connected_components_star

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    exp = {
        (n, min(ms)) for ms in comp.values() for n in ms
    }
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_star(df).collect()
    }
    assert got == exp


def test_alternating_star_is_logarithmic_on_a_path(spark):
    """The selling point over label propagation: a 121-node path
    (diameter 120) must converge well inside 20 alternations — label
    propagation needs ~120 rounds on the same graph."""
    from flink_scala_spark.pipeline.dedup import connected_components_star

    path = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(path, "doc_a long, doc_b long")
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_star(df, max_iter=20).collect()
    }
    assert got == {(i, 0) for i in range(121)}


# ---------------------------------------------------------------------------
# Binned keyless range join == naive O(n^2) range scan (bin boundaries)
# ---------------------------------------------------------------------------

_ts_lists = st.lists(
    st.integers(min_value=0, max_value=500_000),  # micros, spans many bins
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(_ts_lists, _ts_lists)
def test_binned_range_join_matches_naive(spark, left_us, right_us):
    """The 2-bin fan-out must capture EVERY right row in
    [l - W, l] — including rows exactly on bin boundaries and exactly
    at the window edges — and count nothing outside it."""
    from flink_scala_spark.operators.joins import binned_range_join_count

    W_S = 0.1  # 100 ms lookback => 100_000 us bins, several per list
    left = spark.createDataFrame(
        [(i, us / 1e6) for i, us in enumerate(left_us)], "event_id long, sec double"
    ).selectExpr("event_id", "timestamp_seconds(sec) AS ts")
    right = spark.createDataFrame(
        [(us / 1e6,) for us in right_us], "sec double"
    ).selectExpr("timestamp_seconds(sec) AS ts")
    got = {
        r["left_id"]: r["n_in_window"]
        for r in binned_range_join_count(
            left, right, ts_col="ts", left_id="event_id",
            lookback_seconds=W_S,
        ).collect()
    }
    w_us = int(W_S * 1e6)
    want = {
        i: sum(1 for r in right_us if l - w_us <= r <= l)
        for i, l in enumerate(left_us)
    }
    assert got == want


# ---------------------------------------------------------------------------
# Certified GK quantiles: certificate holds, exact ranks match a reference
# ---------------------------------------------------------------------------

_val_lists = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32).map(float),
    min_size=1,
    max_size=60,
)


@settings(**SETTINGS)
@given(_val_lists)
def test_certified_quantiles_exact_and_certified(spark, vals):
    """For arbitrary value sets: the exact columns equal the
    rank-selection reference (value at ceil(q*n), ties broken by id),
    and the GK certificate is TRUE — the guarantee the oracle pins as
    a literal must hold for ANY input, not just the fixture table."""
    import math

    from flink_scala_spark.operators.aggregations import group_quantiles_certified

    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)],
        "k string, event_id long, value double",
    )
    row = group_quantiles_certified(df, "k", "value").collect()[0]
    ordered = [v for v, _ in sorted(zip(vals, range(len(vals))))]
    n = len(vals)
    for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        assert row[col] == ordered[math.ceil(q * n) - 1], (q, vals)
    assert row["within_gk_bound"] is True


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(*([st.integers(0, 6)] * 8)), min_size=0, max_size=30
    ),
    st.lists(
        st.tuples(*([st.integers(0, 6)] * 8)), min_size=1, max_size=20
    ),
)
def test_vectorized_near_dup_matches_brute_force(seen_sigs, batch_sigs):
    """The numpy broadcast >=6-of-8 agreement must emit EXACTLY the
    pairs the sequential compare-against-earlier fold emits — state
    pairs and strict within-batch (smaller doc_id = earlier) pairs —
    on arbitrary signatures (small alphabet forces plenty of
    agreements)."""
    import numpy as np

    from flink_scala_spark.streaming.stateful import _near_dup_matches

    seen = np.asarray(
        [(i,) + s for i, s in enumerate(seen_sigs)], dtype=np.int64
    ).reshape(len(seen_sigs), 9)
    base = len(seen_sigs)
    batch = np.asarray(
        [(base + i,) + s for i, s in enumerate(batch_sigs)], dtype=np.int64
    ).reshape(len(batch_sigs), 9)

    expect = []
    state = [tuple(r) for r in seen]
    for row in batch:
        row = tuple(int(v) for v in row)
        for prev in state:
            if sum(1 for a, b in zip(prev[1:], row[1:]) if a == b) >= 6:
                expect.append((row[0], prev[0]))
        state.append(row)

    got_doc, got_src = _near_dup_matches(seen, batch)
    assert sorted(zip(got_doc, got_src)) == sorted(expect)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=40,
    ),
    st.integers(15, 20),
)
def test_union_find_oracle_matches_reachability(edges, n_nodes):
    """tools/check_oracle's linear union-find verification path must
    label components identically to naive transitive closure
    (lexicographic-min canonical, correct sizes) on arbitrary graphs —
    the exact contract it stands in for when the recursive-CTE oracle
    is too slow."""
    nodes = [f"n{i:02d}" for i in range(n_nodes)]
    named = [(f"n{a:02d}", f"n{b:02d}") for a, b in edges if a != b]

    # naive closure reference
    adj = {n: set() for n in nodes}
    for a, b in named:
        adj[a].add(b)
        adj[b].add(a)
    seen_global = set()
    expect = {}
    for n in sorted(nodes):
        if n in seen_global:
            continue
        comp, stack = set(), [n]
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x] - comp)
        canon = min(comp)
        for m in comp:
            expect[m] = (canon, len(comp))
        seen_global |= comp

    # drive the union-find path through a DuckDB connection whose
    # ENTITY_VERIFY_SQL is stubbed by a literal VALUES relation
    import duckdb as _duck

    import tools.check_oracle as co

    rows = [("node", n, None) for n in nodes] + [
        ("edge", a, b) for a, b in named
    ]
    con = _duck.connect()
    con.execute(
        "CREATE TABLE verify(kind VARCHAR, a VARCHAR, b VARCHAR)"
    )
    con.executemany("INSERT INTO verify VALUES (?, ?, ?)", rows)
    import flink_scala_spark.queries.pipeline_queries as pq

    orig = pq.ENTITY_VERIFY_SQL
    pq.ENTITY_VERIFY_SQL = "SELECT kind, a, b FROM verify"
    try:
        cols, got_rows = co._union_find_entity_rows(con)
    finally:
        pq.ENTITY_VERIFY_SQL = orig
    got = {r[0]: (r[1], r[2]) for r in got_rows}
    assert cols == ["name", "canonical", "cluster_size", "is_canonical"]
    assert got == expect
    for name, canonical, size, is_canon in got_rows:
        assert is_canon == (1 if name == canonical else 0)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 500),          # doc_id
            st.sampled_from(["en", "de"]),
            st.sampled_from(["s0", "s1"]),
            st.integers(1, 50),           # token count
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
)
def test_budget_sampler_selection_is_partitioning_independent(spark, rows):
    """The budget-capped admission (X147) must select the IDENTICAL
    doc set regardless of how the input is partitioned — the property
    that makes it retry/speculation-proof at 1000 executors. Hash-order
    admission depends only on values, never on row arrival order."""
    from flink_scala_spark.functions import h60
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    def run(df):
        per = df.select(
            "doc_id", "lang", "source", "toks",
            h60(F.col("doc_id").cast("string")).alias("h"),
        )
        cap = per.groupBy("lang", "source").agg(
            F.expr("sum(toks) DIV 2").alias("cap_toks")
        )
        w = (
            W.partitionBy("lang", "source")
            .orderBy("h", "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        ranked = per.join(cap, ["lang", "source"]).withColumn(
            "cum_toks", F.sum("toks").over(w)
        )
        out = ranked.where(F.col("cum_toks") - F.col("toks") < F.col("cap_toks"))
        return {tuple(r) for r in out.select("doc_id", "cum_toks").collect()}

    base = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, toks long"
    )
    a = run(base.coalesce(1))
    b = run(base.repartition(7, "source"))
    c = run(base.repartition(13))
    assert a == b == c


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255))
def test_morton_interleave_reference(ba, bb):
    """The Z-order key arithmetic (operators/maintenance.zorder_value's
    bit interleave, replicated in the zorder_roundtrip oracle) must
    equal the reference definition: bit i of column A lands at output
    bit 2i+1, bit i of column B at 2i."""
    z = 0
    for i in range(8):
        z += ((ba >> i) & 1) << (2 * i + 1)
        z += ((bb >> i) & 1) << (2 * i)
    # independent reference: interleave via string weaving
    sa = format(ba, "08b")
    sb = format(bb, "08b")
    woven = "".join(a + b for a, b in zip(sa, sb))
    assert z == int(woven, 2)
    # round-trip: de-interleave recovers both inputs
    ra = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    rb = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    assert (ra, rb) == (ba, bb)


@settings(**SETTINGS)
@given(docs_strategy, st.integers(1, 4))
def test_boilerplate_flags_match_python_reference(spark, texts_, npart):
    """boilerplate_flags against a plain-Python recount, and invariant
    to input partitioning (the counts are content-derived, never
    partition-derived). Single-word-alphabet docs make shingle
    collisions common — the interesting regime."""
    from collections import defaultdict

    from flink_scala_spark.pipeline.text import boilerplate_flags

    rows = [(i, t, f"src{i % 2}") for i, t in enumerate(texts_)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).repartition(npart)
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_boiler"], r["is_boilerplate"])
        for r in boilerplate_flags(docs, shingle_w=3, min_docs=2).collect()
    }

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    counts = defaultdict(int)
    for i, t, s in rows:
        for sh in shingles(t):
            counts[(s, sh)] += 1
    for i, t, s in rows:
        shs = shingles(t)
        nb = sum(1 for sh in shs if counts[(s, sh)] >= 2)
        flag = len(shs) > 0 and nb / len(shs) >= 0.3
        assert got[i] == (len(shs), nb, flag), (i, t)


@settings(**SETTINGS)
@given(docs_strategy, st.integers(1, 3))
def test_vocab_oov_rate_matches_python_reference(spark, texts_, v):
    """vocab_oov_rate against a plain-Python top-V + recount, including
    the (count desc, token asc) tie-break at the vocabulary boundary."""
    from collections import Counter

    from flink_scala_spark.pipeline.text import vocab_oov_rate

    rows = [(i, t) for i, t in enumerate(texts_)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"])
        for r in vocab_oov_rate(docs, vocab_size=v).collect()
    }
    c = Counter(w for _, t in rows for w in t.split(" ") if w)
    vocab = {w for w, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:v]}
    for i, t in rows:
        toks = [w for w in t.split(" ") if w]
        if not toks:
            assert i not in got
            continue
        assert got[i] == (len(toks), sum(1 for w in toks if w not in vocab))


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.integers(0, 10**6), st.integers(0, 3)),
             min_size=4, max_size=60, unique_by=lambda r: r[0]),
    st.integers(1, 4),
)
def test_temperature_mixture_stable_under_repartitioning(spark, rows, npart):
    """The admission set is content-hash derived, so the audit row
    (including n_kept) must be identical under any partitioning, and
    every target obeys the sqrt-weight formula exactly."""
    import math

    from flink_scala_spark.pipeline.sampling import temperature_mixture

    docs = spark.createDataFrame(
        [(i, f"src{s}") for i, s in rows], "doc_id long, source string"
    )
    a = sorted(map(tuple, temperature_mixture(docs).collect()))
    b = sorted(map(tuple, temperature_mixture(docs.repartition(npart)).collect()))
    assert a == b
    n_by_src = {}
    for i, s in rows:
        n_by_src[f"src{s}"] = n_by_src.get(f"src{s}", 0) + 1
    total = sum(n_by_src.values())
    sum_w = sum(math.isqrt(n) for n in n_by_src.values())
    for src, n_docs, w, target_n, keep_ppm, n_kept in a:
        assert n_docs == n_by_src[src]
        assert w == math.isqrt(n_docs)
        assert target_n == (total // 2) * w // sum_w
        assert keep_ppm == min(10**6, target_n * 10**6 // n_docs)
        assert 0 <= n_kept <= n_docs


interval_rows = st.lists(
    st.tuples(
        st.integers(1, 4),            # user_id
        st.integers(0, 5000),         # start second
    ),
    min_size=1,
    max_size=40,
)


@settings(**SETTINGS)
@given(interval_rows)
def test_interval_union_coverage_matches_python_sweep(spark, rows):
    """The windowed gaps-and-islands kernel must equal a plain-Python
    interval-union sweep for arbitrary overlapping/adjacent/swallowed
    claims (the class of inputs where lag(end) formulations break)."""
    from datetime import datetime, timezone

    from flink_scala_spark.pipeline.behavior import interval_union_coverage

    dur = 300

    def py_union(starts):
        ivs = sorted((s, s + dur) for s in starts)
        islands = []
        for s, e in ivs:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        return (
            len(islands),
            sum(e - s for s, e in islands),
            max(e - s for s, e in islands),
        )

    base = 1_700_000_000
    data = [
        (i + 1, uid, datetime.fromtimestamp(base + s, tz=timezone.utc).replace(tzinfo=None))
        for i, (uid, s) in enumerate(rows)
    ]
    ev = spark.createDataFrame(data, "event_id long, user_id long, ts timestamp")
    got = {
        r["user_id"]: (r["n_islands"], r["covered_s"], r["max_island_s"])
        for r in interval_union_coverage(ev, dur).collect()
    }
    expected = {}
    by_user = {}
    for uid, s in rows:
        by_user.setdefault(uid, []).append(s)
    for uid, starts in by_user.items():
        expected[uid] = py_union(starts)
    assert got == expected


cusum_rows = st.lists(
    st.tuples(
        st.integers(0, 400),          # day offset
        st.integers(1, 10**7),        # cents
    ),
    min_size=1,
    max_size=60,
)


@settings(**SETTINGS)
@given(cusum_rows)
def test_cusum_over_daily_matches_python_reference(spark, rows):
    """cusum_over_daily == a plain-Python fold with the floored mean,
    including the (abs desc, day asc) dev_rank tie-break, for
    arbitrary day tables."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from flink_scala_spark.pipeline.behavior import cusum_over_daily

    daily_map = defaultdict(int)
    for day, cents in rows:
        daily_map[day] += cents
    daily = spark.createDataFrame(
        [(d, c) for d, c in daily_map.items()], "order_day int, day_cents long"
    )
    out = {
        r["order_day"]: (r["cum_cents"], r["cusum_cents"], r["dev_rank"])
        for r in cusum_over_daily(daily, "order_day", "day_cents").collect()
    }
    days = sorted(daily_map)
    total = sum(daily_map.values())
    n = len(days)
    mean = total // n
    cum = 0
    expect = {}
    for t, d in enumerate(days, start=1):
        cum += daily_map[d]
        expect[d] = (cum, cum - t * mean)
    ranks = {
        d: i + 1
        for i, d in enumerate(
            sorted(days, key=lambda d: (-abs(expect[d][1]), d))
        )
    }
    assert out == {d: (expect[d][0], expect[d][1], ranks[d]) for d in days}


cdf_rows = st.lists(
    st.integers(0, 10**6),
    min_size=1,
    max_size=60,
)


@settings(**SETTINGS)
@given(cdf_rows)
def test_binned_value_cdf_matches_sorted_scan(spark, vals):
    """The two-level (bin, value) CDF kernel must agree with a plain
    Python sort for ANY non-negative values and any relationship
    between value spread and bin width: per distinct value, cnt/cum/
    below/n all exact (round 10 — this kernel now underlies the RFM
    quartiles and the Gini rank sums)."""
    from collections import Counter

    from flink_scala_spark.operators.aggregations import binned_value_cdf

    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {
        r["v"]: (r["cnt"], r["cum"], r["below"], r["n"])
        for r in binned_value_cdf(df, "x", 1000).collect()
    }
    c = Counter(vals)
    below = 0
    for v in sorted(c):
        assert got[v] == (c[v], below + c[v], below, len(vals)), (v, got[v])
        below += c[v]
    assert set(got) == set(c)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 500)),
        min_size=1,
        max_size=80,
    )
)
def test_value_deciles_arithmetic_matches_ntile(spark, rows):
    """The histogram-CDF ntile emulation must reproduce ntile(10)'s
    bucket sizes and per-bucket min/max for ANY (type, value)
    multiset — including n < 10, all-ties, and single-row types (the
    arithmetic is base = n DIV 10, rem = n MOD 10; this fuzzes the
    overlap algebra value_deciles ships)."""
    import flink_scala_spark.tables as tables
    from flink_scala_spark.queries.catalog import QUERIES

    ev = spark.createDataFrame(
        [
            (i, None, 1, f"t{t}", v / 100.0, None)
            for i, (t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import unittest.mock as mock

    with mock.patch.object(
        tables,
        "load",
        lambda sp, d, n, _o=tables.load: ev if n == "events" else _o(sp, d, n),
    ):
        got = {
            (r["event_type"], r["decile"]): (r["cnt"], r["lo"], r["hi"])
            for r in QUERIES["value_deciles"].fn(spark, "x").collect()
        }
    # plain-Python ntile(10) over (value, event_id)
    from collections import defaultdict

    per = defaultdict(list)
    for i, (t, v) in enumerate(rows):
        per[f"t{t}"].append((v / 100.0, i))
    want = {}
    for t, items in per.items():
        items.sort()
        n = len(items)
        base, rem = divmod(n, 10)
        pos = 0
        for d in range(1, 11):
            size = base + (1 if d <= rem else 0)
            if size == 0:
                continue
            bucket = items[pos : pos + size]
            pos += size
            want[(t, d)] = (
                size,
                min(v for v, _ in bucket),
                max(v for v, _ in bucket),
            )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(20000, 20014)),
        min_size=1,
        max_size=50,
    )
)
def test_rolling_distinct_matches_set_scan(spark, pairs):
    """rolling_distinct_users must equal the literal set-based sliding
    window — for ANY (user, day) multiset: per event day, |{users
    active in [d-6, d]}| and |{users active on d}|."""
    from datetime import datetime, timezone

    from flink_scala_spark.pipeline import behavior

    ev = spark.createDataFrame(
        [
            (
                i,
                datetime.fromtimestamp(d * 86400 + 5, tz=timezone.utc).replace(
                    tzinfo=None
                ),
                u,
                "t",
                1.0,
                None,
            )
            for i, (u, d) in enumerate(pairs)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r["day_s"] // 86400: (r["users_1d"], r["users_7d"])
        for r in behavior.rolling_distinct_users(ev).collect()
    }
    days = sorted({d for _, d in pairs})
    want = {}
    for d in days:
        one = {u for u, dd in pairs if dd == d}
        seven = {u for u, dd in pairs if d - 6 <= dd <= d}
        want[d] = (len(one), len(seven))
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(20000, 20050), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
    )
)
def test_daily_mean_trend_matches_integer_ols(spark, rows):
    """daily_mean_trend must equal the same normal-equations formula
    evaluated in unbounded Python integers — for ANY (day, cents)
    multiset: exact sufficient statistics, one IEEE division per
    coefficient, NULL when all observations share one day."""
    from collections import defaultdict
    from datetime import datetime, timezone

    from flink_scala_spark.pipeline import behavior

    ev = spark.createDataFrame(
        [
            (
                i,
                datetime.fromtimestamp(d * 86400, tz=timezone.utc).replace(
                    tzinfo=None
                ),
                1,
                "t",
                c / 100.0,
                None,
            )
            for i, (d, c) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = behavior.daily_mean_trend(ev).collect()[0]
    # Python reference with exact ints; cents re-derived via the same
    # floor(value*100) the kernel applies (float roundtrip included)
    per = defaultdict(lambda: [0, 0])
    import math

    for i, (d, c) in enumerate(rows):
        cents = math.floor((c / 100.0) * 100)
        per[d][0] += cents
        per[d][1] += 1
    d0 = min(per)
    pts = [(d - d0, tot // cnt) for d, (tot, cnt) in per.items()]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    assert got["n_days"] == n
    if den == 0:
        assert got["slope_cents_per_day"] is None
        assert got["intercept_cents"] is None
    else:
        assert got["slope_cents_per_day"] == (n * sxy - sx * sy) / den
        assert got["intercept_cents"] == (sy * sxx - sx * sxy) / den


@settings(**SETTINGS)
@given(word_docs)
def test_contamination_longest_runs_matches_bruteforce_fuzz(spark, texts_):
    """contamination_longest_runs (n=3 for the fuzz) must reproduce a
    plain-Python diagonal-run coalescer over every (train, test) doc
    pair: same pairs, same scattered-match counts, same run counts,
    same maximal run lengths. Even indices map to train-split ids,
    odd to test-split ids (precomputed h60-bucket members), so both
    splits are always populated; the tiny 6-letter alphabet makes
    multi-diagonal self-overlapping matches likely — exactly the runs
    a naive coalescer merges wrong."""
    import hashlib
    from collections import defaultdict

    from flink_scala_spark.pipeline.text import contamination_longest_runs

    def bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100

    train_ids = [i for i in range(200) if bucket(i) < 80]
    test_ids = [i for i in range(200) if bucket(i) >= 90]
    n = 3
    ids, sides = [], {}
    for j, t in enumerate(texts_):
        did = train_ids[j // 2] if j % 2 == 0 else test_ids[j // 2]
        ids.append(did)
        sides[did] = ("train" if j % 2 == 0 else "test", t)

    def grams(t: str):
        w = t.split(" ") if t else []
        return [
            (i + 1, " ".join(w[i : i + n])) for i in range(len(w) - n + 1)
        ]

    expected = {}
    for a, (sa, ta) in sides.items():
        if sa != "train":
            continue
        for b, (sb, tb) in sides.items():
            if sb != "test":
                continue
            diags = defaultdict(list)
            for ti, g in grams(ta):
                for ei, g2 in grams(tb):
                    if g == g2:
                        diags[ti - ei].append(ti)
            if not diags:
                continue
            runs = []
            for tis in diags.values():
                tis.sort()
                run = 1
                for x, y in zip(tis, tis[1:]):
                    if y == x + 1:
                        run += 1
                    else:
                        runs.append(run)
                        run = 1
                runs.append(run)
            expected[(a, b)] = (
                sum(len(v) for v in diags.values()),
                len(runs),
                max(runs) + n - 1,
            )

    docs = spark.createDataFrame(
        [(d, sides[d][1]) for d in ids], "doc_id long, text string"
    )
    got = {
        (r["train_doc"], r["test_doc"]): (
            r["n_matching_ngrams"],
            r["n_runs"],
            r["longest_run_words"],
        )
        for r in contamination_longest_runs(docs, n=n).collect()
    }
    assert got == expected
