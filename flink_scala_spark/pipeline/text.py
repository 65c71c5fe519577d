"""Text analysis for the training-data pipeline: language ID, quality
scoring, token counting, document fingerprinting.

Everything here is a pure row-local projection (no shuffle, no UDF,
full whole-stage codegen) — at 100 TB these run at parquet-scan speed
with column pruning down to (doc_id, text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from flink_scala_spark.materialize import loop_checkpoint_lazy, shared_bounded

# Tiny per-language stopword profiles for the n-gram-free heuristic
# language identifier. Ties resolve in declaration order.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "es": ("el", "la", "de", "que", "y", "en", "se"),
    "fr": ("le", "les", "des", "et", "une", "est"),
    "de": ("der", "die", "und", "das", "ist", "von"),
}

#: BPE-ish pre-tokenizer: runs of letters, runs of digits, or single
#: non-alphanumeric non-space chars.
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _words(text_col: str):
    return F.split(F.col(text_col), " ")


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count, BPE-ish regex token count, char count."""
    return docs.select(
        "doc_id",
        F.size(_words(text_col)).alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_RE)).alias("bpe_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def _hits(text_col: str, lang: str):
    ws = STOPWORDS[lang]
    return F.size(F.filter(_words(text_col), lambda w: w.isin(*ws)))


def _lang_pred(text_col: str):
    """The stopword-vote language prediction expression — ONE source of
    truth for the detector (:func:`lang_id`) and every consumer that
    re-derives it (:func:`lang_metadata_audit`), so a tie-break tweak
    can never desynchronize them. NULL text abstains ('und'): with NULL
    hits every comparison is NULL and the raw CASE would fall through
    to a confident 'de' — in BOTH engines, so only an explicit guard
    keeps missing text out of the confident buckets."""
    en, es, fr, de = (_hits(text_col, lg) for lg in ("en", "es", "fr", "de"))
    return (
        F.when(F.col(text_col).isNull(), "und")
        .when((en == 0) & (es == 0) & (fr == 0) & (de == 0), "und")
        .when((en >= es) & (en >= fr) & (en >= de), "en")
        .when((es >= fr) & (es >= de), "es")
        .when(fr >= de, "fr")
        .otherwise("de")
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID with deterministic tie-breaking."""
    en, es, fr, de = (_hits(text_col, lg) for lg in ("en", "es", "fr", "de"))
    return docs.select(
        "doc_id",
        en.alias("en_hits"),
        es.alias("es_hits"),
        fr.alias("fr_hits"),
        de.alias("de_hits"),
        _lang_pred(text_col).alias("lang_pred"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score from length / distinct-word ratio /
    stopword density. The formula's operation order is fixed so the
    DuckDB oracle reproduces it bit-for-bit in doubles."""
    w = _words(text_col)
    n_words = F.size(w).cast("double")
    n_distinct = F.size(F.array_distinct(w)).cast("double")
    distinct_ratio = n_distinct / n_words
    # single-space-joined text: word chars = length - (n_words - 1)
    avg_word_len = (F.length(text_col).cast("double") - (n_words - F.lit(1.0))) / n_words
    stop_ratio = _hits(text_col, "en").cast("double") / n_words
    score = (
        F.lit(0.4) * distinct_ratio
        + F.lit(0.3) * F.least(avg_word_len / F.lit(10.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
    )
    return docs.select(
        "doc_id",
        F.size(w).alias("n_words"),
        distinct_ratio.alias("distinct_ratio"),
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality"),
    )


def dataset_split(
    docs: DataFrame, id_col: str = "doc_id", train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Deterministic train/val/test assignment — the reproducible
    hash-mod split every training pipeline needs: bucket =
    h60(id) % 100, row-local, no shuffle, stable across runs/engines
    (never ``rand()``, which is neither reproducible nor oracle-able).
    """
    from flink_scala_spark.functions import h60

    b = split_bucket(id_col)
    split = (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return docs.select(F.col(id_col), b.alias("bucket"), split.alias("split"))


def split_bucket(id_col: str = "doc_id"):
    """The hash-mod split bucket as a row-local COLUMN — the single
    definition :func:`dataset_split` labels from and the
    decontamination family filters on directly (round 12: filtering on
    the bucket BEFORE shingling replaces a corpus-scale split join and
    stops the val split from ever being shingled)."""
    from flink_scala_spark.functions import h60

    return F.pmod(h60(F.col(id_col).cast("string")), F.lit(100)).cast("int")


def curation_summary(
    docs: DataFrame, text_col: str = "text", min_quality: float = 0.5
) -> DataFrame:
    """Corpus curation rollup: per predicted language, how many docs
    exist and how many clear the quality bar — the lang-ID and quality
    operators composed into the decision table a data-curation run
    produces. Aggregates are integers plus min/max (order-independent),
    so the oracle stays exact without tolerances.
    """
    li = lang_id(docs, text_col).select("doc_id", "lang_pred")
    q = quality_score(docs, text_col).select("doc_id", "quality")
    j = li.join(q, "doc_id")
    return j.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("quality") >= min_quality).cast("int")).alias("n_pass"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


def tfidf_top_terms(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by a log-free tf-idf:
    ``score = tf * N / df`` (rational, so the double is an exact
    function of three integers — bit-identical across engines; ``ln``
    is not correctly-rounded-guaranteed and would break exact oracles).

    Two map-side-combinable aggs (term counts, document frequencies)
    joined on the term — shuffle keyed by word, then by doc for the
    top-k window. N is a scalar count captured at plan-build time (the
    index-build constant, not a per-row driver loop).
    """
    words = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = docs.count()
    scored = tf.join(df_t, "word").select(
        "doc_id",
        "word",
        "tf",
        "df",
        (F.col("tf") * F.lit(n_docs) / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "word", "tf", "df", "score", "rank")
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    word instances taken by the single most frequent word, and the
    duplicated-2-gram / duplicated-3-gram fractions (1 - distinct/total)
    — the standard filters for boilerplate / looped generations in a
    training corpus.

    Entirely row-local array expressions (no explode, no shuffle): at
    100 TB this runs at parquet-scan speed with (doc_id, text) pruning.
    The per-row top-count scan is O(distinct x words) on arrays that
    live in one row — CPU-bound inside codegen, never memory-bound.
    Documents with no words emit NULL fractions. The scan is spread
    (tables.spread — no-op on multi-split cluster inputs): the per-row
    work dominates a single-task local scan by far (round-13 A/B at
    sf0.1: 1.00 -> 0.28 s noop).
    """
    from flink_scala_spark.tables import spread

    base = spread(docs).select("doc_id", F.split(F.col(text_col), " ").alias("w"))
    grams = base.select(
        "doc_id",
        F.filter("w", lambda x: x != "").alias("wf"),
        F.expr(
            "case when size(w) >= 2 then transform(sequence(1, size(w) - 1), "
            "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1))) "
            "else array() end"
        ).alias("g2"),
        F.expr(
            "case when size(w) >= 3 then transform(sequence(1, size(w) - 2), "
            "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))) "
            "else array() end"
        ).alias("g3"),
    )
    n_words = F.size("wf")
    top_cnt = F.array_max(
        F.expr("transform(array_distinct(wf), x -> size(filter(wf, y -> y = x)))")
    )

    def dup_frac(col: str):
        total = F.size(col).cast("double")
        return F.when(
            F.size(col) > 0,
            F.lit(1.0) - F.size(F.array_distinct(col)).cast("double") / total,
        )

    return grams.select(
        "doc_id",
        n_words.alias("n_words"),
        F.when(n_words > 0, top_cnt.cast("double") / n_words.cast("double")).alias(
            "top_word_frac"
        ),
        dup_frac("g2").alias("dup_2gram_frac"),
        dup_frac("g3").alias("dup_3gram_frac"),
    )


#: PII patterns — identical semantics under Java regex (Spark) and RE2
#: (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII redaction pass: count and mask email addresses and phone
    numbers. Row-local regex projection — scan-speed at 100 TB; the
    redacted text is emitted as an md5 digest so correctness checks
    compare a fixed-width column instead of hauling full documents.
    """
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


def decontamination(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 5,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Train/test decontamination: for every *train* document, how much
    of its n-gram set also appears in any *test* document (the
    membership split is the deterministic hash-mod of
    :func:`dataset_split`). The industry pattern for catching benchmark
    leakage before training.

    Shape: distinct n-gram shingles per doc (one explode + one
    map-side-combinable agg), split into train/test sides, then ONE
    left equi-join on the shingle feeding ONE aggregation — totals and
    hit counts come out of the same pass, so the big train side is
    scanned once. At 100 TB the test side is tiny (the held-out set),
    so Catalyst broadcasts it and the train side streams through at
    scan speed — no big-table shuffle; an even leaner production
    variant ships only a bloom filter of test shingles.

    Round 12 (guide §2.3/§2.4): the split is a row-local hash of
    doc_id (:func:`split_bucket`), so each side filters its DOCS
    before shingling instead of joining a split table onto the full
    shingle explode — the split join disappears entirely, the val
    split is never shingled, and each side explodes only its own
    documents (the before plan exploded the full corpus twice and
    scanned documents 4x; now train explodes 80%, test 10%).
    Identical rows by construction (same bucket expression).
    """
    from flink_scala_spark.pipeline.dedup import word_shingles

    b = split_bucket("doc_id")
    train = word_shingles(docs.where(b < train_pct), text_col, n=n)
    test = word_shingles(
        docs.where(b >= train_pct + val_pct), text_col, n=n
    ).select(F.col("doc_id").alias("t_doc"), "shingle")
    marked = train.join(test, "shingle", "left")
    agg = marked.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shingles"),
        F.countDistinct(
            F.when(F.col("t_doc").isNotNull(), F.col("shingle"))
        ).alias("n_contaminated"),
        F.countDistinct("t_doc").alias("n_test_docs"),
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        "n_test_docs",
        (
            F.col("n_contaminated").cast("double") / F.col("n_shingles").cast("double")
        ).alias("contamination_frac"),
    )


#: Bloom geometry for the filtered decontamination path: m bits, k=2
#: independent position hashes per shingle.
BLOOM_BITS = 1 << 20
BLOOM_K = 2


def decontamination_bloom(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Bloom-filtered decontamination — the scale path
    :func:`decontamination`'s docstring promises: the train side is
    checked against a FIXED-SIZE filter of test shingles instead of
    the test shingle table itself.

    Each shingle maps to ``BLOOM_K`` bit positions
    (``h60('b<i>:' || shingle) % BLOOM_BITS`` — deterministic, so the
    DuckDB oracle sets/tests the identical bits). The filter is the
    distinct position set of all test shingles (2^20 bits = 128 KiB as
    a real bitmap; represented relationally here so membership is an
    equi-join and the oracle stays exact). A train shingle is
    bloom-positive iff ALL its positions are set — supersets of the
    true hits, never misses (no false negatives, the Bloom contract).
    The exact hit count is emitted alongside so the false-positive
    rate is measured, not assumed: E[FP] ~ (set_bits/m)^k per clean
    shingle.

    Scale: the filter ships to every executor as a broadcast (128 KiB
    real layout vs gigabytes of test shingle strings); the train side
    streams through two broadcast-hash membership joins at scan speed
    — no shuffle of the big side at all."""
    from flink_scala_spark.functions import h60
    from flink_scala_spark.pipeline.dedup import word_shingles

    # Round 12 (guide §2.3/§2.4): same split-pushdown as
    # `decontamination` — filter docs on the row-local bucket BEFORE
    # shingling (no split join, val never shingled); the distinct
    # test-shingle set is materialized once (lazy localCheckpoint) —
    # it is broadcast into three joins, and lazily each broadcast
    # re-derived the test-side explode.
    b = split_bucket("doc_id")
    train = word_shingles(docs.where(b < 80), text_col, n=n)
    test_sh = (
        word_shingles(docs.where(b >= 90), text_col, n=n)
        .select("shingle")
        .distinct()
        .transform(shared_bounded)
    )

    def pos(i: int, col):
        return h60(F.concat(F.lit(f"b{i}:"), col)) % F.lit(BLOOM_BITS)

    fpos = (
        test_sh.select(
            F.explode(
                F.array(*[pos(i, F.col("shingle")) for i in range(BLOOM_K)])
            ).alias("p")
        )
        .distinct()
    )
    tr = train.select(
        "doc_id",
        "shingle",
        *[pos(i, F.col("shingle")).alias(f"p{i}") for i in range(BLOOM_K)],
    )
    marked = tr
    for i in range(BLOOM_K):
        side = F.broadcast(
            fpos.select(F.col("p").alias(f"p{i}"), F.lit(1).alias(f"in{i}"))
        )
        marked = marked.join(side, f"p{i}", "left")
    bloom_hit = F.when(
        sum((F.coalesce(F.col(f"in{i}"), F.lit(0)) for i in range(BLOOM_K)), F.lit(0))
        == BLOOM_K,
        1,
    ).otherwise(0)
    exact_side = F.broadcast(test_sh.withColumn("ex", F.lit(1)))
    marked = marked.join(exact_side, "shingle", "left").withColumn(
        "bloom_hit", bloom_hit
    )
    agg = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum("bloom_hit").alias("n_bloom_hits"),
        F.sum(F.coalesce(F.col("ex"), F.lit(0))).alias("n_exact_hits"),
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_bloom_hits",
        "n_exact_hits",
        (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias("n_false_pos"),
    )


FP_KGRAM = 16


def fingerprint(docs: DataFrame, text_col: str = "text", k: int = FP_KGRAM) -> DataFrame:
    """Rolling-hash document fingerprint: the minimum h60 over all
    character k-grams (the 1-fingerprint corner of winnowing). Pure
    array expression — no explode, no shuffle. The scan is spread
    (tables.spread — no-op on multi-split cluster inputs): one md5 per
    character position is by far the heaviest row-local pass in the
    registry and ran on ONE local task (round-13 A/B at sf0.1:
    2.54 -> 0.34 s noop).
    """
    from flink_scala_spark.tables import spread

    docs = spread(docs)
    # Guard: Spark's sequence(1, stop) runs DESCENDING when stop < 1,
    # so short texts must short-circuit to NULL instead.
    expr = (
        f"case when length({text_col}) >= {k} then "
        f"array_min(transform(sequence(1, length({text_col}) - {k - 1}), "
        f"i -> cast(conv(substring(md5(substring({text_col}, i, {k})), 1, 15), 16, 10) as bigint)))"
        f" else null end"
    )
    return docs.select(
        "doc_id",
        F.expr(expr).alias("fp"),
        F.greatest(F.length(text_col) - F.lit(k - 1), F.lit(0)).alias("n_kgrams"),
    )


def _nonempty(docs: DataFrame, text_col: str) -> DataFrame:
    """Degenerate-document rule shared by chunk_documents,
    inverted_index, and sequence_packing: a document with NULL or
    empty text has no tokens and is excluded. (Without this,
    split('', ' ') == [''] would count one phantom token and the three
    ops would disagree on NULL vs empty inputs.)"""
    return docs.where(F.col(text_col).isNotNull() & (F.col(text_col) != ""))


def chunk_documents(
    docs: DataFrame, text_col: str = "text", chunk_size: int = 50, stride: int = 40
) -> DataFrame:
    """Sequence prep: split each document into overlapping word-window
    chunks (``chunk_size`` words every ``stride`` words) — the
    fixed-context-window slicing step before tokenized training
    sequences are built. NULL/empty docs are excluded (``_nonempty``).

    All JVM-side: split -> sequence of starts -> posexplode -> slice.
    Row fan-out is ~n_words/stride per doc, proportional to the scan
    (no shuffle, no UDF); chunk text leaves as an md5 digest so wide
    strings never travel further than the projection.
    """
    w = F.split(F.col(text_col), " ")
    base = _nonempty(docs, text_col).select(
        "doc_id",
        w.alias("w"),
        F.size(w).alias("n_words"),
        F.sequence(F.lit(1), F.size(w), F.lit(stride)).alias("starts"),
    )
    ex = base.select(
        "doc_id", "n_words", "w", F.posexplode("starts").alias("chunk_idx", "start_word")
    )
    chunk = F.slice(F.col("w"), F.col("start_word"), F.lit(chunk_size))
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_word").cast("bigint").alias("start_word"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


IDX_SHARDS = 16


def inverted_index(
    docs: DataFrame, text_col: str = "text", n_shards: int = IDX_SHARDS
) -> DataFrame:
    """Search-index build: word -> document frequency, total term
    frequency, and an order-canonical digest of the posting list.
    NULL/empty docs are excluded (``_nonempty``).

    At 100 TB the posting list of a stopword is the skew hazard, so no
    single aggregation group ever holds a word's full posting list:
    postings are sharded by ``h60(doc_id) % n_shards`` and each
    (word, shard) group digests only its own sorted slice; the final
    word-level digest is the md5 of the shard digests concatenated in
    shard order. A stopword's state on any one reducer is therefore
    bounded at ~1/n_shards of its postings, and the word-level rows
    carry at most ``n_shards`` fixed-width digests. Three shuffles:
    (word, doc), (word, shard), word — the price of the bound.

    ``postings_md5`` is canonical for a given (corpus, n_shards):
    equal posting sets always digest equal. Reference parity: word
    count keyed aggregation (WordCount.scala:20-25) generalized to the
    index-build a training-data search/dedup pipeline runs.
    """
    from flink_scala_spark.functions.portable import h60

    words = _nonempty(docs, text_col).select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    tf = words.groupBy("word", "doc_id").agg(F.count("*").alias("tf"))
    sharded = tf.withColumn(
        "shard", (h60(F.col("doc_id").cast("string")) % n_shards).cast("int")
    )
    shard_rows = sharded.groupBy("word", "shard").agg(
        F.count("*").alias("sdf"),
        F.sum("tf").alias("stf"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("sdig"),
    )
    shard_digests = F.transform(
        F.array_sort(F.collect_list(F.struct("shard", "sdig"))), lambda s: s["sdig"]
    )
    return shard_rows.groupBy("word").agg(
        F.sum("sdf").cast("bigint").alias("df"),
        F.sum("stf").cast("bigint").alias("total_tf"),
        F.md5(F.array_join(shard_digests, "")).alias("postings_md5"),
    )


def sequence_packing(
    docs: DataFrame,
    text_col: str = "text",
    budget: int = 200,
    n_buckets: int = 32,
) -> DataFrame:
    """Token-budget sequence packing: assign documents (in deterministic
    doc_id order within a hash bucket) to training sequences of about
    ``budget`` whitespace tokens each.

    The packing rule is the streaming-greedy one a concatenating
    writer applies: a doc joins the sequence its first token lands in
    under perfect concatenation (floor((cum - n_tok) / budget)) —
    deterministic, overflow-tolerant at boundaries, and expressible as
    one cumulative-sum window. Buckets bound the sort: each of the
    ``n_buckets`` hash buckets packs independently, so at 100 TB the
    per-partition sort never sees the global corpus. NULL/empty docs
    are excluded (``_nonempty``).
    """
    from flink_scala_spark.functions.portable import h60

    n_tok = F.size(F.split(F.col(text_col), " "))
    bucket = (h60(F.col("doc_id").cast("string")) % n_buckets).cast("int")
    base = _nonempty(docs, text_col).select(
        "doc_id", n_tok.alias("n_tokens"), bucket.alias("bucket")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        "bucket",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        cum.cast("bigint").alias("cum_tokens"),
        F.floor((cum - F.col("n_tokens")) / budget).cast("bigint").alias("seq_id"),
    )


_BPE_S1 = "\x01"  # out|pend separator in the fold encoding
_BPE_S2 = "\x02"  # symbol separator inside out


def _bpe_merge_fold(syms, a, b):
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    into one symbol — the BPE apply step — as a pure fold expression
    (state encoded as 'out\\x01pend' so the same fold runs under
    DuckDB's list_reduce, which fixes the accumulator type to the
    element type)."""
    s1, s2 = F.lit(_BPE_S1), F.lit(_BPE_S2)

    def out_of(acc):
        return F.substring_index(acc, _BPE_S1, 1)

    def pend_of(acc):
        return F.substring_index(acc, _BPE_S1, -1)

    def push(out, sym):
        return F.when(out == "", sym).otherwise(F.concat(out, s2, sym))

    def step(acc, x):
        out, pend = out_of(acc), pend_of(acc)
        return (
            F.when(pend == "", F.concat(out, s1, x))
            .when(
                (pend == a) & (x == b),
                F.concat(push(out, F.concat(a, b)), s1),
            )
            .otherwise(F.concat(push(out, pend), s1, x))
        )

    def finish(acc):
        out, pend = out_of(acc), pend_of(acc)
        full = F.when(pend == "", out).otherwise(push(out, pend))
        return F.split(full, _BPE_S2)

    return F.aggregate(syms, s1, step, finish)


def bpe_merges(docs: DataFrame, text_col: str = "text", iters: int = 3) -> DataFrame:
    """Learn the first ``iters`` BPE merges over the corpus vocabulary
    — tokenizer training as a distributed fixed-iteration job.

    Per iteration: adjacent-symbol pairs of every vocabulary word,
    weighted by corpus frequency, aggregate to pair counts (one
    map-side-combinable shuffle on the pair); the argmax pair (ties:
    lexicographic smallest, via a min over (-freq, a, b) structs — no
    global sort) broadcasts back and every word's symbol sequence is
    rewritten by the greedy fold. The corpus itself is touched once
    (word-frequency extraction); iterations run over the vocabulary
    table, which is orders of magnitude smaller.

    Exactness: pure integer counts, lexicographic tie-breaks, and a
    deterministic merge fold — the DuckDB oracle unrolls the same
    iterations and matches exactly."""
    spark = docs.sparkSession
    _wf, merges = _bpe_train_loop(
        _word_freqs(docs, text_col).select(
            "freq", F.split("word", "").alias("syms")
        ),
        iters,
        carry=("freq",),
    )
    # The collected merges ARE the result — a bounded <= iters-row
    # artifact (round 12): the old lazy union re-derived every prior
    # iteration's full training subtree per row (the before plan
    # scanned the corpus 14x).
    return spark.createDataFrame(
        merges, "iteration int, pair_a string, pair_b string, pair_freq long"
    )


def _word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _bpe_train_loop(wf, iters: int, carry: tuple[str, ...]):
    """The shared BPE training loop: ``wf`` must have ``freq`` and
    ``syms`` plus any ``carry`` columns passed through untouched.
    Returns the final symbol table and the collected merge tuples
    ``(iteration, pair_a, pair_b, pair_freq)``.

    Round 12 (guide §3.3/§5 + §2.4): the loop previously re-derived
    each iteration's state lazily — iteration i's pair count embedded
    iteration i-1's whole subtree, and the 1-row argmax was referenced
    twice (merge row + rewrite crossJoin), so the final plan duplicated
    the training exponentially (bpe_encode's before plan: 18 corpus
    scans). Now the vocabulary table is lazily checkpointed once (and
    after each rewrite), and the argmax — a bounded 1-row artifact —
    is COLLECTED per iteration and re-enters the fold as literals, so
    each iteration is exactly one job over the shared vocabulary RDD
    and the corpus is scanned once, in the initial word-frequency agg.
    The vocabulary is LOOP state, so it goes through
    ``loop_checkpoint_lazy`` (lineage cut in every mode), never
    ``shared_bounded`` (whose persist mode would keep the lineage and
    grow the plan per iteration).
    """
    wf = wf.transform(loop_checkpoint_lazy)
    merges: list[tuple[int, str, str, int]] = []
    for it in range(1, iters + 1):
        # sequence(1, 0) DESCENDS in Spark (same trap as fingerprint):
        # a fully-merged single-symbol word must not reach the explode.
        idx = wf.where(F.size("syms") >= 2).select(
            "freq",
            "syms",
            F.explode(F.sequence(F.lit(1), F.size("syms") - 1)).alias("i"),
        )
        pc = (
            idx.select(
                "freq",
                F.element_at("syms", F.col("i")).alias("a"),
                F.element_at("syms", F.col("i") + 1).alias("b"),
            )
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("pf"))
        )
        row = (
            pc.agg(F.min(F.struct((-F.col("pf")).alias("nf"), "a", "b")).alias("m"))
            .select(
                F.col("m.a").alias("pair_a"),
                F.col("m.b").alias("pair_b"),
                (-F.col("m.nf")).cast("long").alias("pair_freq"),
            )
            .first()
        )
        # Pair table exhausted (every word fully merged): the old form
        # folded with NULL literals, which merges nothing and emits no
        # merge row — so stopping here is identical for every later
        # iteration, on both engines (the oracle's empty b{it}
        # contributes zero rows).
        if row["pair_a"] is None:
            break
        merges.append((it, row["pair_a"], row["pair_b"], int(row["pair_freq"])))
        wf = wf.select(
            *carry,
            _bpe_merge_fold(
                F.col("syms"), F.lit(row["pair_a"]), F.lit(row["pair_b"])
            ).alias("syms"),
        ).transform(loop_checkpoint_lazy)
    return wf, merges


def bpe_encode(docs: DataFrame, text_col: str = "text", iters: int = 3) -> DataFrame:
    """Tokenizer fertility report: learn ``iters`` BPE merges over the
    corpus (exactly :func:`bpe_merges`), APPLY them to the vocabulary,
    and score every document's tokens-per-word fertility — the metric
    that decides whether a tokenizer is economical on a corpus before
    a training run prices it in GPU-hours.

    Scale shape: the merge loop runs over the vocabulary table (orders
    of magnitude smaller than the corpus); encoded symbol counts join
    back to the exploded token stream on ``word`` (AQE broadcasts the
    vocabulary at test scale; at 100 TB vocabulary this becomes the
    standard shuffle hash join — either way the corpus is scanned
    twice and never self-joined), then one doc-keyed agg."""
    wf, _ = _bpe_train_loop(
        _word_freqs(docs, text_col).select(
            "word", "freq", F.split("word", "").alias("syms")
        ),
        iters,
        carry=("word", "freq"),
    )
    wlen = wf.select("word", F.size("syms").cast("long").alias("n_syms"))
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        tok.join(wlen, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens") / F.col("n_words")).alias("fertility"),
        )
    )


def fuzzy_string_pairs(values: DataFrame, col: str = "word") -> DataFrame:
    """Distinct-value pairs within edit distance 1, by
    deletion-neighborhood blocking (the SymSpell scheme): each value
    emits itself plus its ``len`` single-deletion variants as block
    keys; two strings at distance <= 1 must share a key, so candidates
    come from a key equi-join — never a quadratic scan — and
    ``levenshtein`` verifies the survivors exactly.

    Scale: key fan-out is O(len) per DISTINCT value; blocking keys
    spread near-uniformly, so the join is skew-free; verification
    touches candidates only. The classic fuzzy-join shape for entity
    resolution / spell correction / OCR cleanup at corpus scale.

    Memory envelope (round-12 ADVICE): the bucket-local form below
    collects each deletion-key bucket's word list into ONE row and
    each anchor row carries the full ``ws`` array, so intermediate
    bytes are O(|bucket|^2) per key — fine for deletion neighborhoods
    (buckets are bounded by the vocabulary sharing one deletion
    variant, measured max 27 words at sf0.1), but a pathological
    mega-bucket (a corpus where thousands of values collapse to one
    key) would OOM an executor where a self-join would shuffle/spill
    gracefully. If that corpus shows up, cap bucket size with a skew
    guard before the collect_list."""
    vocab = values.select(F.col(col).alias("word")).where(
        F.col("word").isNotNull() & (F.col("word") != "")
    ).distinct()
    dels = F.expr(
        "transform(sequence(1, length(word)), "
        "i -> concat(substring(word, 1, i - 1), substring(word, i + 1, length(word))))"
    )
    keys = vocab.select(
        "word",
        F.explode(F.array_union(F.array(F.col("word")), dels)).alias("k"),
    )
    # Bucket-local pair generation (the candidate_pairs_from_bands
    # shape) instead of a key self-join: one groupBy collects each
    # deletion-key bucket's sorted word list, pairs come from two
    # cascaded explodes. The keys subtree is computed ONCE (the
    # self-join re-derived scan+distinct+explode per side — measured
    # in the plan), no broadcast build, and only a < b combinations
    # are generated at all (the join emitted the full |bucket|^2
    # cross product per key and filtered after). Digit-heavy TPC-H
    # names make deletion buckets collide hard, so halving + sharing
    # is the dominant cost here (guide §2.3/§2.4).
    #
    # Banded verify: levenshtein(a, b, 1) computes only the |i-j| <= 1
    # DP diagonal (returns -1 past the bound), so each candidate costs
    # O(len) instead of O(len^2). `= 1` over the banded form keeps the
    # exact distance-1 semantics of the unbounded call. The verify
    # runs BEFORE the distinct so the dedup exchange shuffles only
    # verified pairs (guide §2.3 "filter before the exchange"; the
    # optimizer does NOT push the filter below the distinct on its
    # own, measured).
    buckets = (
        keys.groupBy("k")
        .agg(F.array_sort(F.collect_list("word")).alias("ws"))
        .where(F.size("ws") > 1)
    )
    anchors = buckets.select("ws", F.posexplode("ws").alias("i", "word_a"))
    return (
        anchors.select(
            "word_a",
            F.explode(F.expr("slice(ws, i + 2, size(ws))")).alias("word_b"),
        )
        # no a < b filter needed: ws is array_sort over DISTINCT vocab
        # words and slice(i + 2, ...) yields strictly-later elements,
        # so word_a < word_b holds by construction (round-12 ADVICE:
        # the explicit predicate was dead)
        .where(F.levenshtein("word_a", "word_b", 1) == 1)
        .select("word_a", "word_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Duplicate-passage detection (exact substring dedup)
# ---------------------------------------------------------------------------

#: Span length (words) for duplicate-passage detection. Long enough
#: that chance collisions of natural text are negligible, short enough
#: to catch boilerplate/quotes embedded in otherwise-distinct docs.
SPAN_WORDS = 8


def duplicate_spans(
    docs: DataFrame, text_col: str = "text", n: int = SPAN_WORDS
) -> DataFrame:
    """Exact duplicate-passage detection: every word n-gram SPAN (with
    positions — unlike shingles these are NOT distinct per doc) that
    appears in >= 2 distinct documents, with its document frequency and
    total occurrence count.

    This is the exact-substring dedup signal (the fixed-length-window
    form of the suffix-array approach): MinHash/SimHash score *whole
    documents*, so a licence header or quoted paragraph pasted into
    thousands of otherwise-unique docs never trips them — span-level
    grouping catches exactly that.

    Scale: span extraction shares ``dedup.positional_ngrams`` (words
    array materialized once before the position explode, each span n
    O(1) element_at lookups); span text leaves the row as a 60-bit
    portable hash so the single groupBy shuffle carries
    (hash, doc_id) pairs, never the span strings; the agg is map-side
    combinable and the >= 2-doc filter is a HAVING on the combined
    result. Fan-out is ~1 row per word of corpus — the same order as
    the scan itself.
    """
    from flink_scala_spark.functions.portable import h60
    from flink_scala_spark.pipeline.dedup import positional_ngrams

    spans = positional_ngrams(
        _nonempty(docs, text_col), text_col, n=n, out_col="span"
    ).select("doc_id", h60(F.col("span")).alias("span_hash"))
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


#: Hot-span document-frequency cap for the contamination run join: a
#: span shared by more docs than this is boilerplate, not leakage, and
#: would fan the pair join out quadratically in its bucket (the same
#: reason LSH bands cap bucket population). Interpolated into the
#: DuckDB oracle — never bake the number there.
RUN_SPAN_MAX_DF = 100


def contamination_longest_runs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = SPAN_WORDS,
    max_df: int = RUN_SPAN_MAX_DF,
) -> DataFrame:
    """Longest-duplicated-run contamination SEVERITY per
    (train doc, test doc) pair (round-12 verdict item 4c): X105's
    positional word n-gram spans, coalesced into MAXIMAL runs — the
    metric n-gram hit counts miss: 100 scattered 8-gram matches are
    noise, one 100-word verbatim passage is an eval answer leaking
    into train. Split membership is the X126 hash split (train <80,
    test >=90 of h60(doc_id) % 100).

    Run coalescing is gaps-and-islands on the match DIAGONAL: a
    matched span at train position i and test position j lies on diag
    i-j; consecutive i on one (pair, diag) form one run (each step
    extends the shared passage by a word), so island id = i -
    row_number() — tie-free because (pair, diag) determines j from i,
    making i unique within the group. Longest run in WORDS = max run
    n-gram count + n-1.

    Scale: spans travel as 60-bit hashes; the pair join is banded by
    span hash with the ``max_df`` hot-span guard bounding any bucket's
    fan-out (boilerplate spans are dropped — they are dedup's job, see
    X105/X178, not contamination's); the islands window partitions by
    (train_doc, test_doc, diag) — match-grain keys, never corpus-grain.
    """
    from flink_scala_spark.functions.portable import h60
    from flink_scala_spark.pipeline.dedup import positional_ngrams

    # Round 12 (guide §2.3/§2.4): the df guard must see ALL splits'
    # spans (its semantics), but the train/test sides need only their
    # own — and the split is a row-local hash of doc_id, so each side
    # filters its DOCS before the span explode instead of exploding
    # the whole corpus and filtering after. The before plan derived
    # the full positional-ngram explode three times (guard + train +
    # test); now it is one full explode for the guard plus an 80% and
    # a 10% explode for the sides. Identical rows by construction
    # (same bucket expression, same guard set).
    def doc_spans(d: DataFrame) -> DataFrame:
        return positional_ngrams(
            _nonempty(d, text_col), text_col, n=n, out_col="span", pos_col="i"
        ).select("doc_id", "i", h60(F.col("span")).alias("sh"))

    # spread: all three span explodes (guard + 80% + 10%) run their
    # per-span hashing over a single-split local scan otherwise
    # (round-13 A/B at sf0.1: 1.96 -> 1.10 s noop); no-op on cluster
    # inputs with >= cores splits
    from flink_scala_spark.tables import spread

    docs = spread(docs)
    b = split_bucket("doc_id")
    ok = (
        doc_spans(docs)
        .groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") <= max_df)
        .select("sh")
    )
    tr = doc_spans(docs.where(b < 80)).join(ok, "sh").select(
        F.col("doc_id").alias("train_doc"), F.col("i").alias("ti"), "sh"
    )
    te = doc_spans(docs.where(b >= 90)).join(ok, "sh").select(
        F.col("doc_id").alias("test_doc"), F.col("i").alias("ei"), "sh"
    )
    m = tr.join(te, "sh").select(
        "train_doc", "test_doc", "ti", (F.col("ti") - F.col("ei")).alias("diag")
    )
    w = Window.partitionBy("train_doc", "test_doc", "diag").orderBy("ti")
    runs = (
        m.withColumn("isl", F.col("ti") - F.row_number().over(w))
        .groupBy("train_doc", "test_doc", "diag", "isl")
        .agg(F.count("*").alias("len_ngrams"))
    )
    return runs.groupBy("train_doc", "test_doc").agg(
        F.sum("len_ngrams").cast("long").alias("n_matching_ngrams"),
        F.count("*").cast("long").alias("n_runs"),
        (F.max("len_ngrams") + F.lit(n - 1)).cast("long").alias(
            "longest_run_words"
        ),
    )


def scrub_duplicate_spans(
    docs: DataFrame, text_col: str = "text", n: int = SPAN_WORDS
) -> DataFrame:
    """Duplicate-passage REMOVAL (the operation of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    :func:`duplicate_spans` detects word n-gram spans shared by >= 2
    docs; this excises them. Keep-first policy: for every duplicated
    span hash, the globally first occurrence (min doc_id, then min
    position within it) survives; every OTHER occurrence marks its n
    word positions for removal, overlapping spans union their ranges,
    and each doc re-emits with the marked words cut out plus a removal
    audit (words/chars removed, spans flagged).

    Spark shape, end to end distributed:

    - Span extraction shares ``dedup.positional_ngrams`` (with
      positions kept), so detection and scrub can never diverge on
      tokenization; spans leave the row as 60-bit portable hashes.
    - The duplicated-hash set comes from ONE map-side-combinable
      groupBy; occurrences join back against it, so everything after
      the first agg is proportional to *duplicated* spans, not corpus
      words.
    - Removal positions fold per doc into a sorted int array (bounded
      by doc length); the scrub itself is a row-local JVM higher-order
      ``filter(w, (x, j) -> ...)`` after one doc_id-keyed join — no
      re-explode of the corpus, no per-row Python, no driver collect.
    """
    from flink_scala_spark.functions.portable import h60
    from flink_scala_spark.pipeline.dedup import positional_ngrams
    from flink_scala_spark.tables import spread

    # spread: the span explode + per-span h60 and the final row-local
    # scrub are heavy per-row passes over a single-split local scan
    # (round-13 A/B at sf0.1: 2.95 -> 1.41 s noop); no-op on cluster
    # inputs with >= cores splits
    docs = spread(docs)
    base = _nonempty(docs, text_col).select(
        "doc_id",
        F.split(F.col(text_col), " ").alias("w"),
        F.length(F.col(text_col)).alias("orig_len"),
    )
    occ = positional_ngrams(
        _nonempty(docs, text_col), text_col, n=n, out_col="span", pos_col="i"
    ).select("doc_id", "i", h60(F.col("span")).alias("sh"))
    # duplicated spans + their first doc (arg-min two-step: min doc,
    # then min position within that doc — deterministic keep-first)
    g1 = (
        occ.groupBy("sh")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .select("sh", "first_doc")
    )
    # cand is referenced twice (first-occurrence pick + flag filter),
    # so each reference re-runs the span explode behind the join — 3
    # explodes total. A round-12 interim localCheckpoint here was
    # REVERTED on measurement: cand is duplication-PROPORTIONAL, which
    # under this corpus's heavy clone rate is corpus-scale, and
    # materializing it cost 6.6x the two extra streaming explodes
    # (0.29 s -> 1.9 s at sf0.1; guide §5 — cache only when recompute
    # is dearer than the memory pressure). The explodes are
    # map-side-pipelined codegen over the scan; they win.
    cand = occ.join(g1, "sh")
    first_i = (
        cand.where(F.col("doc_id") == F.col("first_doc"))
        .groupBy("sh")
        .agg(F.min("i").alias("first_i"))
    )
    flagged = cand.join(first_i, "sh").where(
        ~((F.col("doc_id") == F.col("first_doc")) & (F.col("i") == F.col("first_i")))
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans_flagged"),
        F.array_sort(
            F.array_distinct(
                F.flatten(F.collect_list(F.expr(f"sequence(i, i + {n - 1})")))
            )
        ).alias("rm"),
    )
    out = base.join(per_doc, "doc_id", "left")
    kept = F.when(F.col("rm").isNull(), F.col("w")).otherwise(
        F.expr("filter(w, (x, j) -> NOT array_contains(rm, j + 1))")
    )
    scrubbed = F.array_join(kept, " ")
    # words removed == |rm| (every marked position is a real word slot),
    # so the lambda filter is evaluated for the text, not re-run for a
    # count
    return out.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        # size(NULL) is -1 under non-ANSI Spark — branch, don't coalesce
        F.when(F.col("rm").isNull(), F.lit(0))
        .otherwise(F.size("rm"))
        .cast("long")
        .alias("n_words_removed"),
        (F.col("orig_len") - F.length(scrubbed)).cast("long").alias("chars_removed"),
        F.coalesce(F.col("n_spans_flagged"), F.lit(0)).cast("long").alias(
            "n_spans_flagged"
        ),
    )


# ---------------------------------------------------------------------------
# Corpus-frequency novelty scoring
# ---------------------------------------------------------------------------

#: A token is "rare" when its corpus occurrence count is below
#: total_tokens / RARITY_DENOM (strictly: cnt * RARITY_DENOM < total).
#: Pure integer comparison — no division, exact in any engine.
RARITY_DENOM = 256


def rare_token_novelty(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-frequency novelty scoring: per document, how many of its
    tokens are globally rare (corpus frequency < 1/RARITY_DENOM of all
    tokens), as a count and an integer permille ratio.

    The distributable stand-in for LM-perplexity quality scoring
    (CCNet-style): a high rare fraction flags OOV-heavy/noisy docs, a
    zero rare fraction flags boilerplate. All math is integer
    (cross-multiplied threshold, DIV permille), so the DuckDB oracle is
    bit-exact.

    Scale: one (doc_id, word) map-side-combined pre-agg bounds the
    shuffle at distinct-pairs; the word-frequency table derives from
    that same pre-agg (one extra word-keyed agg over distinct words,
    not a second corpus scan); the rare-word set is by construction a
    small fraction of the vocabulary and broadcasts back to the
    per-doc pairs.
    """
    base = _nonempty(docs, text_col).select(
        "doc_id", F.split(F.col(text_col), " ").alias("w")
    )
    # Round 12 (guide §3.3/§5): dw feeds three branches (per-doc
    # totals, the vocabulary frequency table, and the rare-hit agg) —
    # lazily each re-derived the corpus explode+agg, making the
    # docstring's "not a second corpus scan" claim false in the
    # physical plan. One lazy localCheckpoint of the distinct
    # (doc, word) pre-agg — the frame a production pipeline would
    # materialize anyway — makes it true: one explode, three cheap
    # consumers.
    dw = (
        base.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("k"))
        .transform(shared_bounded)
    )
    # n_tok = sum of per-word counts — derived from the SAME pre-agg,
    # so the text column is scanned and split exactly once.
    doc_tok = dw.groupBy("doc_id").agg(F.sum("k").alias("n_tok"))
    wf = dw.groupBy("word").agg(F.sum("k").alias("cnt"))
    tot = wf.agg(F.sum("cnt").alias("total"))
    rare = (
        wf.join(F.broadcast(tot))
        .where(F.col("cnt") * RARITY_DENOM < F.col("total"))
        .select("word")
    )
    n_rare = (
        dw.join(F.broadcast(rare), "word")
        .groupBy("doc_id")
        .agg(F.sum("k").alias("n_rare"))
    )
    return (
        doc_tok.join(n_rare, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce("n_rare", F.lit(0)).alias("n_rare"),
        )
        .withColumn(
            "rare_permille", F.expr("(1000 * n_rare) DIV n_tok")
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------

#: BM25 parameters as exact rationals: k1 = 6/5 (1.2), b = 3/4 (0.75).
#: With integer tf, dl, N, T(=total tokens), each term's score is the
#: ratio of two exactly-representable integers (see bm25_scores), so
#: the one double division per term is bit-identical across engines.
BM25_QUERY = ("spark", "window", "join")


def bm25_scores(
    docs: DataFrame, query: tuple[str, ...] = BM25_QUERY, text_col: str = "text"
) -> DataFrame:
    """BM25 relevance of every document to a fixed term query — the
    classic retrieval scorer over the same stats as the inverted
    index / TF-IDF ops.

    House-style exactness: the standard ln-idf is replaced by its
    log-free rational core idf_r = (2N - 2df + 1) / (2df + 1) (same
    monotonicity, exact integers), and with k1 = 6/5, b = 3/4 the tf
    saturation term becomes 44*T*tf / (20*T*tf + 6*T + 18*dl*N) —
    numerator and denominator are exact BIGINTs, so each term's double
    division and the fixed-order sum are bit-identical in Spark and
    DuckDB. (At 100 TB the BIGINT products need DECIMAL(38,0) — a
    widening, not a redesign.)

    Scale: one (doc, term) pre-agg restricted to the query terms (the
    explode is filtered BEFORE the shuffle, so fan-out is |query| per
    doc max), corpus stats and per-term document frequencies are 1-row
    broadcast aggregates, scoring is row-local.
    """
    base = _nonempty(docs, text_col).select(
        "doc_id", F.split(F.col(text_col), " ").alias("w")
    )
    doc_len = base.select("doc_id", F.size("w").alias("dl"))
    stats = doc_len.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("t_tokens")
    )
    toks = base.select("doc_id", F.explode("w").alias("word")).where(
        F.col("word").isin(*query)
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy().agg(
        *[
            F.countDistinct(F.when(F.col("word") == t, F.col("doc_id"))).alias(
                f"df_{i}"
            )
            for i, t in enumerate(query)
        ]
    )
    wide = tf.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("word") == t, F.col("tf"))).alias(f"tf_{i}")
            for i, t in enumerate(query)
        ]
    )
    scored = (
        doc_len.join(wide, "doc_id", "left")
        .join(F.broadcast(stats))
        .join(F.broadcast(dfreq))
    )
    score = F.lit(0.0)
    for i in range(len(query)):
        tf_i = F.coalesce(F.col(f"tf_{i}"), F.lit(0))
        df_i = F.col(f"df_{i}")
        n, t = F.col("n_docs"), F.col("t_tokens")
        idf_num = (2 * n - 2 * df_i + 1).cast("double")
        idf_den = (2 * df_i + 1).cast("double")
        sat_num = (44 * t * tf_i).cast("double")
        sat_den = (20 * t * tf_i + 6 * t + 18 * F.col("dl") * n).cast("double")
        score = score + (idf_num / idf_den) * (sat_num / sat_den)
    return scored.select(
        "doc_id", "dl", F.round(score, 6).alias("bm25")
    )


def boilerplate_flags(
    docs: DataFrame,
    text_col: str = "text",
    shingle_w: int = 5,
    min_docs: int = 3,
    flag_frac: float = 0.3,
) -> DataFrame:
    """Template/boilerplate detection, the C4/CCNet "frequent line"
    filter adapted to whole-word shingles: a shingle (``shingle_w``
    consecutive words) is boilerplate within a source if it appears in
    >= ``min_docs`` DISTINCT documents of that source; a document is
    flagged when >= ``flag_frac`` of its distinct shingles are
    boilerplate (navigation chrome, cookie banners, footer templates).

    Scale shape: explode to distinct (doc, source, shingle), ONE
    hash-partitioned count on (source, shingle), join back on the same
    key (co-partitioned, no extra exchange), then one doc-keyed agg —
    linear in corpus shingles, never pairwise. At 100 TB the shuffle
    key would be ``xxhash64(source, shingle)`` instead of the raw
    string (64-bit collisions ~n^2/2^65 — negligible but nonzero, so
    the test-scale path keeps the exact string key the oracle can
    mirror).
    """
    from flink_scala_spark.tables import spread

    # spread: the shingle build (per-position slice + concat) is the
    # heavy row-local pass here and ran on ONE local task (round-13
    # A/B at sf0.1: 2.26 -> 1.45 s noop); no-op on cluster inputs
    docs = spread(docs)
    toks = F.split(F.col(text_col), " ")
    n_sh = F.size(toks) - shingle_w + 1
    # Spark's sequence(1, 0) yields [1, 0] (it infers step -1 when
    # start > stop), so a doc shorter than the shingle width must get
    # an explicit empty position list, not sequence(1, greatest(..)).
    positions = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    shingles = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                positions,
                lambda i: F.concat_ws(" ", F.slice(toks, i, shingle_w)),
            )
        ).alias("shingle"),
    ).distinct()
    # Round 12 (guide §2.4 + §3.3): the (source, shingle) doc count is
    # a same-key WINDOW over the distinct shingle table instead of the
    # old groupBy + join-back, which referenced `shingles` twice and
    # lazily re-ran the corpus explode+distinct per reference (the
    # before plan exploded documents 2x). One explode, one distinct,
    # one window exchange; count over the (source, shingle) partition
    # of a distinct frame == the old n_docs_with exactly.
    wss = Window.partitionBy("source", "shingle")
    per_doc = (
        shingles.withColumn("n_docs_with", F.count("*").over(wss))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("n_docs_with") >= min_docs, 1).otherwise(0)
            ).alias("n_boiler"),
        )
    )
    # A doc absent from per_doc (no shingles) left-joins to NULL
    # counts; the when() guard then falls through to 0.0, so frac is
    # never NULL and needs no further coalescing.
    frac = F.when(
        F.col("n_shingles") > 0, F.col("n_boiler") / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
            frac.alias("boiler_frac"),
            (frac >= flag_frac).alias("is_boilerplate"),
        )
    )


def vocab_oov_rate(
    docs: DataFrame, text_col: str = "text", vocab_size: int = 100
) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-``vocab_size``
    corpus vocabulary (by total occurrences, ties broken by token
    text), then score every document's out-of-vocabulary token rate —
    the pre-training check that a fixed tokenizer vocabulary actually
    covers a new data source (high OOV => the source degrades into
    byte-fallback soup).

    Scale shape: one map-combinable token count, a distributed top-V
    cut (V rows), vocabulary BROADCAST back over the exploded tokens
    (no corpus shuffle for membership), one doc-keyed agg. The corpus
    is scanned twice but never joined to itself.

    (Round 12 tried a shared (doc, word) pre-agg behind a lazy
    localCheckpoint here — REVERTED on measurement: the pre-agg is
    corpus-grain, and materializing it cost 2.3x the second streaming
    scan it saved (0.24 s -> 0.54 s at sf0.1; guide §5). Two cheap
    codegen scans beat one scan + a corpus-scale cache.)
    """
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    vocab = (
        tok.groupBy("word")
        .agg(F.count("*").alias("n"))
        # orderBy+limit plans as TakeOrderedAndProject: per-partition
        # top-V then a V-row driver merge — never the single-partition
        # sort a global row_number() window would force.
        .orderBy(F.col("n").desc(), "word")
        .limit(vocab_size)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            (F.col("n_oov") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


def lang_metadata_audit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Declared-vs-detected language audit: per DECLARED ``lang`` tag,
    how many docs the stopword-vote detector (:func:`lang_id`, same
    vote, same tie-break) confirms, can't call ('und'), or CONTRADICTS
    — the metadata-QA table that decides whether a source's language
    labels can be trusted before they route docs into per-language
    training mixtures.

    The three categories PARTITION n_docs (n_agree + n_und + n_mismatch
    = n_docs): agree means pred = lang (an 'und'-tagged doc the
    detector also abstains on counts as agreement, not twice), n_und is
    an abstention on a non-'und' tag, n_mismatch is a CONFIDENT
    contradiction. NULL text predicts 'und' (see :func:`_lang_pred`)
    and counts 0 tokens, so missing text can never surface as a
    confident mismatch or a negative token sum.

    Scale: single corpus scan (declared tag, vote, and token count all
    come from the same row — no join against a detector output), then
    one map-side-combinable agg onto the tiny language key space."""
    per = docs.select(
        # a NULL tag groups as '' (an unknown tag a prediction can
        # never equal), keeping the three-way partition total — NULL
        # comparisons would otherwise count such docs in NO bucket
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        _lang_pred(text_col).alias("pred"),
        # size(NULL) is -1 under non-ANSI Spark — branch explicitly
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(_words(text_col)))
        .cast("long")
        .alias("tok"),
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("pred") == F.col("lang"), 1).otherwise(0))
        .cast("long")
        .alias("n_agree"),
        F.sum(
            F.when(
                (F.col("pred") == "und") & (F.col("lang") != "und"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_und"),
        F.sum(
            F.when(
                (F.col("pred") != F.col("lang")) & (F.col("pred") != "und"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatch"),
    )
