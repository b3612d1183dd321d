"""Text-analysis operators over the documents table (north_star tier).

Thin DataFrame wrappers over functions/text.py — each is a single
codegen'd projection (plus at most one aggregation), so throughput is
scan-bound at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame
from movie_rankings_spark.functions.text import (
    LANG_ORDER,
    bpe_token_count,
    content_fingerprint,
    lang_predict,
    lang_scores,
    punct_ratio,
    quality_score,
    stopword_hits,
    words,
)


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document token statistics."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.size(words(text)).alias("n_words"),
        F.length(text).alias("n_chars_computed"),
        bpe_token_count(text).alias("n_bpe_tokens"),
        F.size(F.array_distinct(words(text))).alias("n_distinct_words"),
    )


def doc_quality(docs: DataFrame) -> DataFrame:
    """Quality signals + composite score per document."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.size(words(text)).alias("n_words"),
        punct_ratio(text).alias("punct_ratio"),
        (stopword_hits(text, "en").cast("double") / F.size(words(text))).alias(
            "stopword_ratio"
        ),
        quality_score(text).alias("quality"),
    )


def doc_langid(docs: DataFrame) -> DataFrame:
    """Predicted language + per-language scores."""
    text = F.col("text")
    scores = lang_scores(text)
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        lang_predict(text).alias("lang_pred"),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_ORDER],
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", content_fingerprint(F.col("text")).alias("fingerprint")
    )


def corpus_summary(docs: DataFrame) -> DataFrame:
    """Corpus-level rollup by (lang, source): the monitoring query a
    training-data pipeline runs per ingest batch."""
    text = F.col("text")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(words(text))).alias("total_words"),
            F.min(F.length(text)).alias("min_chars"),
            F.max(F.length(text)).alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


def hash_sample(docs: DataFrame, bucket: str = "0") -> DataFrame:
    """Deterministic 1/16 corpus sample: keep rows whose md5(doc_id)
    ends in ``bucket``. The scale-correct sampling method — stable
    under retries/re-partitioning (unlike RNG-based sample()), cheap
    (no shuffle), and composable into train/test splits by assigning
    disjoint hex buckets. md5 is engine-portable, so the sample is
    reproducible outside Spark too."""
    h = F.md5(F.col("doc_id").cast("string"))
    return docs.filter(F.substring(h, 32, 1) == bucket)


def weighted_hash_sample(docs: DataFrame, cap_words: int = 512) -> DataFrame:
    """Length-weighted deterministic Bernoulli sample: inclusion
    probability min(1, n_words / cap_words), so long documents are
    kept proportionally more often — the standard
    sample-by-token-mass step when a token budget, not a doc budget,
    drives corpus construction.

    The coin is md5 chars 25-30 read as a 24-bit integer (disjoint
    from the suffix positions hash_sample / token_budget_mix consume,
    so the samples compose independently). With cap_words a power of
    two, the inclusion test is pure integer arithmetic —
    ``u < min(w, cap) * (2^24 / cap)`` — identical in any engine, no
    float thresholds to drift. Zero-shuffle scan-side filter, same
    scale posture as hash_sample."""
    if cap_words & (cap_words - 1):
        raise ValueError("cap_words must be a power of two")
    w = F.size(F.split(F.col("text"), " "))
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 25, 6), 16, 10
    ).cast("long")
    keep = u < F.least(w, F.lit(cap_words)).cast("long") * (16777216 // cap_words)
    return docs.filter(keep).select("doc_id", w.cast("int").alias("n_words"))


def vocab_top_words(docs: DataFrame, k: int = 50) -> DataFrame:
    """Corpus vocabulary: top-k words by total occurrences (ties by
    word). explode + count is the canonical shape; at 100 TB the
    partial aggregation means the shuffle carries one row per distinct
    word per partition, not per token."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
        .limit(k)
    )


def heavy_hitter_words(docs: DataFrame, k: int = 64) -> DataFrame:
    """All words with global frequency > total_tokens / k — EXACTLY,
    via the candidates-then-verify shape that avoids shuffling the
    full vocabulary:

    1. per-partition candidate generation (Arrow-batched pandas
       ``value_counts``): emit words whose LOCAL count exceeds
       local_n / k. Pigeonhole guarantees completeness — if a word
       beats n/k globally it beats n_p/k in at least one partition,
       so no true heavy hitter can be missed;
    2. exact recount of candidates only (broadcast semi-join, then
       one partial-agg shuffle of candidate rows — the full-vocab
       shuffle this operator exists to avoid);
    3. filter on the true global threshold (1-row broadcast total),
       which removes every false positive.

    The approximation is only in WHERE work happens; the output is
    exact, so the query is oracle-checked like any exact operator.
    Three scans of the token stream buy a shuffle of |candidates|
    ≤ k × partitions rows instead of |vocabulary|."""
    import pandas as pd

    tokens = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))

    def candidates(batches) -> "Iterator[pd.DataFrame]":  # noqa: F821
        counts: dict[str, int] = {}
        n = 0
        for pdf in batches:
            n += len(pdf)
            for w, c in pdf["word"].value_counts().items():
                counts[w] = counts.get(w, 0) + int(c)
        if n:
            thr = n / k
            yield pd.DataFrame(
                {"word": [w for w, c in counts.items() if c > thr]}
            )

    cands = tokens.mapInPandas(candidates, "word string").distinct()
    total = tokens.agg(F.count(F.lit(1)).alias("_n"))
    return (
        tokens.join(F.broadcast(cands), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .join(F.broadcast(total))
        .filter(F.col("n_occurrences") > F.col("_n") / k)
        .select("word", "n_occurrences")
        .orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
    )


def doc_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k characteristic terms by tf·ridf where
    ridf = (N+1)/(df+1) — the LINEAR idf variant: same ordering
    behavior as log-idf for ranking within a document, but exact
    double arithmetic both engines reproduce bit-for-bit (libm log is
    not guaranteed identically rounded across engines, so the
    conventional ln() form cannot be value-hash checked).

    Two aggregations + one broadcast-joinable df table + one window:
    tf shuffles on (doc, word), df on word, the final top-k on doc.
    N joins in as a 1-row broadcast aggregate (quality_filter's
    pattern) instead of a driver-side ``docs.count()``, so the whole
    operator is one Spark job with no mid-plan action."""
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    tf = tokens.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    total = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    # df derives FROM tf — its rows are already distinct (doc, word),
    # so counting them per word needs no second pass over the token
    # stream (one less corpus scan; Catalyst reuses tf's exchange).
    df_t = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_t, "word")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "word",
            (
                F.col("tf").cast("double")
                * (
                    (F.col("_n_docs") + 1).cast("double")
                    / (F.col("df") + 1).cast("double")
                )
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "word", "tfidf", "rk")
    )


def shuffle_deterministic(docs: DataFrame, buckets: int | None = None) -> DataFrame:
    """Reproducible pseudo-random training order: sort by md5(doc_id).
    Engine-portable (any system recomputes the same permutation) — no
    RNG state, no seed bookkeeping across retries.

    The global ordinal is computed WITHOUT a global sort (a bare
    ``Window.orderBy`` would plan as ``Exchange SinglePartition`` and
    funnel the whole corpus through one task). Instead, the classic
    zipWithIndex two-pass, kept in DataFrame land:

    1. bucket each row by its md5-prefix — ``floor(prefix16 * n /
       65536)`` is monotone in the key, so buckets are contiguous key
       ranges (an explicit repartitionByRange whose bounds we control);
    2. one tiny job counts rows per bucket (partial agg, n rows to the
       driver) and prefix-sums them into bucket offsets;
    3. ``position = offset[bucket] + row_number() over (bucket)`` —
       one hash-partition shuffle on the bucket id, every bucket
       numbered in parallel.

    md5 keys are uniform, so buckets are balanced at any scale; pass
    ``buckets`` ~ cluster cores at 100 TB. Output: position (bigint),
    doc_id, shuffle_key."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    n = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(1, min(int(n), 65536))

    key = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select("doc_id", key.alias("shuffle_key")).withColumn(
        "_bucket",
        F.floor(
            F.conv(F.substring("shuffle_key", 1, 4), 16, 10).cast("long")
            * F.lit(n)
            / F.lit(65536)
        ).cast("int"),
    )

    counts = {
        row["_bucket"]: row["cnt"]
        for row in keyed.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets, running = [], 0
    for b in range(n):
        offsets.append((b, running))
        running += counts.get(b, 0)
    off = local_frame(spark, offsets, "_bucket int, _offset long")

    w = Window.partitionBy("_bucket").orderBy(
        F.col("shuffle_key").asc(), F.col("doc_id").asc()
    )
    return (
        keyed.withColumn("_local", F.row_number().over(w))
        .join(F.broadcast(off), "_bucket")
        .select(
            (F.col("_offset") + F.col("_local")).alias("position"),
            "doc_id",
            "shuffle_key",
        )
    )


def pack_documents(
    docs: DataFrame, max_tokens: int = 256, group_col: str = "lang"
) -> DataFrame:
    """Sequence packing: greedily pack documents (in doc_id order,
    within each group) into batches whose word totals stay <= 
    max_tokens; an oversized document gets a batch of its own.

    Greedy packing is inherently sequential (each boundary depends on
    the running remainder), so it cannot be a window expression; it
    runs as applyInPandas per group — groups pack in parallel, order
    within a group is deterministic (doc_id sort inside the function).
    At 100 TB group_col is a date/shard column giving thousands of
    independent packing tasks. Output: group, batch_id, doc_id,
    n_tokens."""
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", ignore_index=True)
        batch_ids, batch, used = [], 0, 0
        for n in pdf["n_tokens"]:
            if used > 0 and used + n > max_tokens:
                batch += 1
                used = 0
            used += n
            batch_ids.append(batch)
        pdf["batch_id"] = batch_ids
        return pdf[[group_col, "batch_id", "doc_id", "n_tokens"]]

    if "n_tokens" in docs.columns:  # upstream stage already counted
        with_tokens = docs.select(
            F.col(group_col), "doc_id", F.col("n_tokens").cast("int")
        )
    else:
        with_tokens = docs.select(
            F.col(group_col),
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        )
    return with_tokens.groupBy(group_col).applyInPandas(
        pack, f"{group_col} string, batch_id long, doc_id long, n_tokens int"
    )


def chunk_documents(
    docs: DataFrame, chunk_size: int = 32, stride: int = 24
) -> DataFrame:
    """Overlapping token-window chunking (the context-window splitter
    of a training pipeline): each document yields chunks of
    ``chunk_size`` whitespace tokens starting every ``stride`` tokens
    (overlap = chunk_size - stride).

    One codegen'd projection + explode — the tokens array is built
    once per row, start offsets come from ``sequence`` (no UDF, no
    shuffle), so output volume is the only cost: rows × (1 +
    overlap/stride) token duplication, the accepted price of windowed
    pretraining data. Output: doc_id, chunk_idx, chunk_len,
    chunk_text."""
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(0), F.size("_t") - 1, F.lit(stride))
    return (
        # tokenize in a separate projection BELOW the Generate: the
        # array materializes once per document and rides through the
        # explode; a single-select form would collapse and re-split
        # the text once per output chunk (O(chunks × doc_len))
        docs.select("doc_id", toks.alias("_t"))
        .select("doc_id", "_t", F.explode(starts).alias("_s"))
        .select(
            "doc_id",
            (F.col("_s") / stride).cast("int").alias("chunk_idx"),
            F.size(F.slice("_t", F.col("_s") + 1, chunk_size)).alias("chunk_len"),
            F.array_join(
                F.slice("_t", F.col("_s") + 1, chunk_size), " "
            ).alias("chunk_text"),
        )
    )


def strip_boilerplate(
    docs: DataFrame, chunk_size: int = 16, min_docs: int = 2
) -> DataFrame:
    """CCNet-style boilerplate removal (the cleaning stage AFTER the
    `dedup_chunks_exact` finder): delete every non-overlapping
    ``chunk_size``-token span whose exact text occurs in ≥ ``min_docs``
    distinct documents (headers, footers, license blocks, nav bars),
    then reassemble each document from its surviving spans in order.
    Document tails shorter than the window can never be a full
    boilerplate span and are always kept.

    Three bounded shuffles, no pairwise work: (1) the md5-fingerprint
    groupBy (map-side partial agg — the shuffle carries one row per
    distinct span per partition) builds the recurring-span set, which
    is corpus-reduced and tiny relative to the corpus; (2) a left-anti
    join of chunks against it (AQE broadcasts the small side at any
    realistic selectivity); (3) one doc_id-keyed reassembly whose
    payload is exactly the surviving text — each document crosses the
    wire once. Documents that are 100 % boilerplate survive with
    empty clean_text, so the output row count always equals the input
    document count (auditable conservation).

    Output: doc_id, clean_text, n_chunks_kept, n_chunks_removed.
    """
    # persisted: the chunk table feeds the recurring-span aggregate,
    # the anti-join probe side, AND the per-doc totals — without the
    # persist each branch re-splits the corpus (plan-lint scan rule)
    chunks = (
        chunk_documents(docs, chunk_size=chunk_size, stride=chunk_size)
        .withColumn("fp", F.md5("chunk_text"))
        .persist_tracked()
    )
    recurring = (
        chunks.filter(F.col("chunk_len") == chunk_size)
        .groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fp")
    )
    kept = chunks.join(recurring, "fp", "left_anti")
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n_chunks"))
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    return totals.join(reassembled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("_n_kept", F.lit(0)).cast("int").alias("n_chunks_kept"),
        (F.col("_n_chunks") - F.coalesce("_n_kept", F.lit(0)))
        .cast("int")
        .alias("n_chunks_removed"),
    )


def quality_filtered(docs: DataFrame, pct: float = 0.75) -> DataFrame:
    """Keep documents whose quality score exceeds the global ``pct``
    percentile — the aggressive-filtering stage of a data-curation
    pipeline.

    The threshold is a 1-row exact-percentile aggregate joined back as
    a broadcast (never ``Window over ()``, which would single-task the
    corpus). Exact percentile buffers values per partition — fine to
    ~1e8 rows; at 100 TB swap in ``approx_percentile`` (t-digest
    sketch, identical plan shape, bounded memory)."""
    scored = docs.select(
        "doc_id", "lang", "source", quality_score(F.col("text")).alias("quality")
    )
    thr = scored.agg(F.percentile("quality", F.lit(pct)).alias("_thr"))
    return (
        scored.join(F.broadcast(thr))
        .filter(F.col("quality") > F.col("_thr"))
        .select("doc_id", "lang", "source", "quality")
    )


def vocab_top_ngrams(docs: DataFrame, n: int = 2, k: int = 50) -> DataFrame:
    """Language-model n-gram counts: top-k word n-grams by total
    occurrences (non-distinct — every occurrence counts, unlike the
    dedup shingle sets). Same partial-aggregate shape as the unigram
    vocabulary; output volume is tokens × 1, shuffle is distinct
    n-grams × partitions."""
    from movie_rankings_spark.functions.text import word_shingles

    return (
        docs.select(F.explode(word_shingles(F.col("text"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Statistical language-model fluency scoring: train an add-one-
    smoothed bigram LM on the corpus itself, then score every document
    by its mean log-probability — the classic perplexity-style quality
    signal (KenLM-shaped, minus the external model artifact).

    Model: p(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), where
    c(w1 w2) counts corpus bigram occurrences, c(w1 ·) its
    first-word marginal, and V the distinct-unigram vocabulary.
    score(doc) = mean over the doc's bigram occurrences of ln p.

    Scale posture: bigram counts and the score join both shuffle on
    the bigram string — linear in corpus tokens, with map-side
    partial aggregation on the count side; the vocabulary size is a
    1-row broadcast (never a Window over ()); everything is JVM
    codegen, no UDF. Per-bigram logs are rounded to DECIMAL(18,9)
    before the per-doc sum so the mean is order-independent and
    engine-exact (the decimal-sum convention from plans/registry.py).
    Documents with fewer than two tokens have no bigrams and drop out
    (inner join), mirroring the SQL twin."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    from movie_rankings_spark.functions.text import array_shingles

    bi = toks.select(
        "doc_id", F.explode(array_shingles(F.col("ws"), 2)).alias("bigram")
    )
    cb = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    w1 = F.substring_index(F.col("bigram"), " ", 1).alias("w1")
    c1 = cb.select(w1, "cb").groupBy("w1").agg(F.sum("cb").alias("c1"))
    vocab = toks.select(F.explode("ws").alias("word")).agg(
        F.countDistinct("word").alias("v")
    )
    probs = (
        cb.select("bigram", w1, "cb")
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.log((F.col("cb") + 1) / (F.col("c1") + F.col("v")))
            .cast("decimal(18,9)")
            .alias("logp"),
        )
    )
    return (
        bi.join(probs, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("logp").cast("double") / F.count(F.lit(1))).alias(
                "avg_logprob"
            ),
        )
    )


def stratified_hash_sample(
    docs: DataFrame, rates_hex: dict[str, int] | None = None, default_hex: int = 8
) -> DataFrame:
    """Deterministic stratified sampling: per-group sampling rates in
    sixteenths of the md5 key space (e.g. ``{"en": 4}`` keeps doc_ids
    whose md5 ends in 0-3 — a 25% stratum). The rebalancing step of a
    training mix: downsample over-represented languages/sources while
    keeping selection reproducible under retries and engine-portable
    (any system recomputes the same membership).

    Pure filter — no shuffle, no RNG state; the rate map compiles to a
    CASE over broadcast-size literals."""
    rates_hex = rates_hex or {}
    last = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1)
    # hex chars order 0-9a-f lexicographically, so < comparison on the
    # single char implements "first n sixteenths" in both engines
    threshold = F.lit(format(default_hex, "x"))
    for lang, n in sorted(rates_hex.items()):
        threshold = F.when(F.col("lang") == lang, F.lit(format(n, "x"))).otherwise(
            threshold
        )
    return docs.filter(last < threshold).select("doc_id", "lang", "source")


def token_budget_mix(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Corpus mixing: downsample every language to ≈``budget_tokens``
    whitespace tokens via deterministic hash sampling. The per-group
    keep rate is DERIVED from the data — rate = clamp(256·budget /
    group_tokens, 1, 256) in 256ths of the md5 key space — so the
    same operator rebalances any skewed mix without hand-tuned rates.

    Two aggregates + a broadcast join + a pure filter: the doc table
    is scanned once for token counts (one small shuffle of per-lang
    partials), the rate table is one row per language (broadcast), and
    membership is an md5-suffix comparison — reproducible under
    retries and identical in any engine, like stratified_hash_sample.
    Quantizing to 256ths floors toward under-budget, never over."""
    t = docs.select(
        "doc_id",
        "lang",
        F.size(words(F.col("text"))).alias("n_tokens"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2).alias("h2"),
    )
    rates = (
        t.groupBy("lang")
        .agg(F.sum("n_tokens").alias("total"))
        .select(
            "lang",
            F.least(
                F.lit(256),
                F.greatest(
                    F.lit(1), F.floor(256.0 * F.lit(budget_tokens) / F.col("total"))
                ),
            )
            .cast("long")
            .alias("keep"),
        )
    )
    hex2 = F.lpad(F.lower(F.hex(F.col("keep"))), 2, "0")
    return (
        t.join(F.broadcast(rates), "lang")
        .filter((F.col("keep") == 256) | (F.col("h2") < hex2))
        .select("doc_id", "lang", "n_tokens")
    )


def repetition_bigram_stats(docs: DataFrame, flag_threshold: float = 0.18) -> DataFrame:
    """Gopher-style repetition signal: the fraction of a document's
    tokens covered by its single most-frequent bigram (2·max_count /
    n_words), flagged above ``flag_threshold``.

    Single scan: tokens materialize once below the Generate (the
    projection-collapse gotcha — inlining split() into the shingle
    expression re-tokenizes per reference), explode_outer keeps
    sub-bigram docs alive, n_words rides the group keys, so the whole
    thing is two exchanges and no join."""
    from movie_rankings_spark.functions.text import array_shingles

    toks = docs.select("doc_id", words(F.col("text")).alias("_w"))
    per_bigram = toks.select(
        "doc_id",
        F.size("_w").alias("n_words"),
        F.explode_outer(array_shingles(F.col("_w"), 2)).alias("bg"),
    ).groupBy("doc_id", "n_words", "bg").agg(F.count(F.lit(1)).alias("c"))
    top = per_bigram.groupBy("doc_id", "n_words").agg(
        F.coalesce(
            F.max(F.when(F.col("bg").isNotNull(), F.col("c"))), F.lit(0)
        ).alias("max_bigram_count")
    )
    ratio = 2.0 * F.col("max_bigram_count") / F.col("n_words")
    return top.select(
        "doc_id",
        "n_words",
        "max_bigram_count",
        ratio.alias("top_bigram_ratio"),
        (ratio > flag_threshold).alias("flagged"),
    )


def hash_split_summary(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment + per-(split, lang)
    accounting. The split key is md5(doc_id) chars 31-32 read as a
    byte (256 buckets): test = buckets 0-12 (~5%), val = 13-25 (~5%),
    train = the rest (~90%) — stable under retries, re-partitioning,
    and engines (the same guarantee as hash_sample), and disjoint from
    the sampling buckets (chars 32 / 25-30) so splits and samples
    compose without correlation. Zero shuffle until the tiny summary
    aggregate."""
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2), 16, 10).cast(
        "int"
    )
    split = (
        F.when(b < 13, F.lit("test")).when(b < 26, F.lit("val")).otherwise("train")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
        .orderBy("split", "lang")
    )


def collocation_lift(docs: DataFrame, k: int = 20, min_count: int = 5) -> DataFrame:
    """Top-k word collocations by lift = P(ab) / (P(a)·P(b)) — PMI
    without the log, so the statistic stays an exact ratio of integer
    counts that any engine reproduces bit-for-bit (c_ab·N and c_a·c_b
    are < 2^53, exactly representable doubles; one division each).

    Scale shape: the token stream is exploded and aggregated ONCE
    each for unigrams and bigrams (partial-agg, vocab-sized
    shuffles). The min-count-filtered bigram table unpivots into its
    two word slots and broadcasts into a SINGLE probe of the unigram
    table — a naive two-join form would recompute the expensive
    token aggregation per probe. N comes from a shuffle-free
    sum-of-sizes scan (identical to Σ unigram counts), a 1-row
    aggregate, never a Window-over-()."""
    from movie_rankings_spark.functions.text import word_shingles

    uni = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        docs.select(F.explode(word_shingles(F.col("text"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    n_tokens = docs.agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
    )
    parts = F.split(F.col("bigram"), " ")
    slots = bi.select(
        "bigram",
        "c_ab",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("pos"), parts[0].alias("word")),
                F.struct(F.lit(2).alias("pos"), parts[1].alias("word")),
            )
        ).alias("s"),
    ).select("bigram", "c_ab", "s.pos", "s.word")
    scored = (
        uni.join(F.broadcast(slots), "word")
        .groupBy("bigram", "c_ab")
        .agg(
            F.max(F.when(F.col("pos") == 1, F.col("c"))).alias("c_a"),
            F.max(F.when(F.col("pos") == 2, F.col("c"))).alias("c_b"),
        )
        .crossJoin(F.broadcast(n_tokens))
    )
    return (
        scored.select(
            "bigram",
            "c_ab",
            (
                (F.col("c_ab") * F.col("n_tokens")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(k)
    )


def curriculum_order(docs: DataFrame, buckets: int | None = None) -> DataFrame:
    """Curriculum training order: documents scheduled easy→hard by
    length decile (token count), pseudo-randomly shuffled WITHIN each
    decile (md5 key) — the standard length-curriculum schedule, fully
    deterministic and engine-portable.

    Deciles come from exact percentile thresholds (a 1-row aggregate,
    collected like any loop scalar — never a Window-over-()); the
    global ordinal uses the same two-pass bucketed zipWithIndex as
    shuffle_deterministic, with a composite (decile, md5-prefix)
    bucket so no Exchange SinglePartition appears at any size.
    Output: position, doc_id, decile, n_tokens."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    nb = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    nb = max(1, min(int(nb), 4096))

    scored = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    qs = [i / 10 for i in range(1, 10)]
    thresholds = scored.agg(
        F.percentile(F.col("n_tokens"), F.array(*[F.lit(q) for q in qs])).alias("t")
    ).collect()[0]["t"]
    decile = F.lit(1)
    for t in thresholds:
        decile = decile + F.when(F.col("n_tokens") > t, 1).otherwise(0)
    keyed = scored.withColumn("decile", decile.cast("long")).withColumn(
        "_bucket",
        (
            (F.col("decile") - 1) * nb
            + F.floor(
                F.conv(F.substring("k", 1, 4), 16, 10).cast("long")
                * F.lit(nb)
                / F.lit(65536)
            )
        ).cast("int"),
    )
    counts = {
        r["_bucket"]: r["cnt"]
        for r in keyed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, running = [], 0
    for b in range(10 * nb):
        offsets.append((b, running))
        running += counts.get(b, 0)
    off = local_frame(spark, offsets, "_bucket int, _offset long")
    w = Window.partitionBy("_bucket").orderBy(
        F.col("k").asc(), F.col("doc_id").asc()
    )
    return (
        keyed.withColumn("_local", F.row_number().over(w))
        .join(F.broadcast(off), "_bucket")
        .select(
            (F.col("_offset") + F.col("_local")).alias("position"),
            "doc_id",
            "decile",
            "n_tokens",
        )
    )


def quality_filtered_per_group(
    docs: DataFrame, group_col: str = "lang", pct: float = 0.75
) -> DataFrame:
    """Per-GROUP percentile quality gate: each group keeps its own
    top-(1−pct) quality slice — the fair-representation variant of
    ``quality_filtered`` (one global threshold lets a high-quality
    language crowd out every other; per-lang thresholds preserve the
    corpus mix, the Gopher/FineWeb practice).

    The per-group thresholds are a group-cardinality aggregate
    broadcast back (never a Window over the corpus partitioned only
    by group — thresholds are |groups| rows, the fact never sorts).
    Same exact-percentile caveat as the global gate: swap in
    approx_percentile at 100 TB; the plan shape is identical."""
    scored = docs.select(
        "doc_id", group_col, "source", quality_score(F.col("text")).alias("quality")
    )
    thr = scored.groupBy(group_col).agg(
        F.percentile("quality", F.lit(pct)).alias("_thr")
    )
    return (
        scored.join(F.broadcast(thr), group_col)
        .filter(F.col("quality") > F.col("_thr"))
        .select("doc_id", group_col, "source", "quality")
    )


def ngram_novelty(
    docs: DataFrame,
    ref_pred,
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference partition: the
    fraction of a candidate's distinct word k-grams absent from the
    reference corpus — the memorization/boilerplate screen that ranks
    "how much of this document is new text" (near 0 = recycled
    reference content; near 1 = genuinely novel). The per-document
    complement of the corpus-level decontamination gates: decontam
    DROPS exact benchmark matches, novelty SCORES gram-level overlap.

    Shape: both sides reduce to DISTINCT gram tables (map-side
    combined, rows ∝ tokens); novelty counting is ONE left-anti join
    on the gram string (no pairs, no windows). Documents shorter than
    k words drop out (no grams).

    Exactness: counts are exact longs; the score is one IEEE division
    — value-hash exact. Output per candidate doc: doc_id,
    n_distinct_grams, n_novel, novelty."""
    from movie_rankings_spark.operators.winnowing import _word_kgrams

    toks = F.split(F.col(text_col), " ")
    grams = _word_kgrams(toks, k)  # total: sub-k docs -> empty array
    base = docs.filter(F.size(toks) >= k)
    cand = (
        base.filter(~ref_pred)
        .select("doc_id", F.explode(grams).alias("gram"))
        .distinct()
        .persist_tracked()  # per-doc totals AND the anti join read this
    )
    ref = (
        base.filter(ref_pred)
        .select(F.explode(grams).alias("gram"))
        .distinct()
    )
    nd = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_grams")
    )
    novel = (
        cand.join(ref, "gram", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return (
        nd.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_distinct_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias(
                "n_novel"
            ),
            F.try_divide(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double"),
                F.col("n_distinct_grams").cast("double"),
            ).alias("novelty"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 25,
    min_count: int = 5,
) -> DataFrame:
    """Top collocations by pointwise mutual information — which word
    PAIRS co-occur far beyond their unigram rates:

        PMI(w1,w2) = ln( (c12/N_bi) / ((c1/N_uni)·(c2/N_uni)) )

    the classic collocation-mining readout (phrase candidates for a
    tokenizer's merge list, entity screening). ``min_count`` drops
    the low-count pairs whose PMI explodes on noise.

    Shape: bigrams via in-row index transforms (codegen, no UDF);
    ONE map-side-combined count shuffle per granularity (bigram,
    unigram — both ∝ tokens); the scored table is filtered to
    c12 ≥ min_count before the bounded global top-k sort.

    Exactness: counts exact longs; the PMI argument is one shared
    double expression of exact integers; ln() is quantized
    DECIMAL(18,9) (the bigram-LM convention — cross-engine 1-ulp
    libm differences vanish at the grid) and the top-k order
    (pmi DESC, bigram ASC) is total. Output: bigram, c12, c1, c2,
    pmi — the top_k rows."""
    toks = F.split(F.col(text_col), " ")
    from movie_rankings_spark.operators.winnowing import _word_kgrams

    # TWO real fact scans total: one for bigram counts, one for
    # unigram counts; both count tables are persisted because each
    # feeds a scalar total AND the scored join (N_bi = the sum of
    # ALL bigram counts, taken before the min_count filter — same
    # number as summing len-1 over the docs, no third scan)
    bigrams_all = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(_word_kgrams(toks, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .persist_tracked()
    )
    bigrams = bigrams_all.filter(F.col("c12") >= min_count)
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # read for w1, w2, and the N_uni scalar
    )
    totals = uni.agg(
        F.sum("c").cast("long").alias("n_uni")
    ).crossJoin(
        F.broadcast(
            bigrams_all.agg(F.sum("c12").cast("long").alias("n_bi"))
        )
    )
    parts = F.split(F.col("bigram"), " ")
    scored = (
        bigrams.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    arg = (
        F.col("c12").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
        / (
            F.col("c1").cast("double")
            * F.col("c2").cast("double")
            * F.col("n_bi").cast("double")
        )
    )
    return (
        scored.select(
            "bigram",
            "c12",
            "c1",
            "c2",
            F.log(arg).cast("decimal(18,9)").cast("double").alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram").asc())
        .limit(top_k)
    )


def rake_keyphrases(
    docs: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    top_k: int = 20,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — candidate
    phrases are the maximal stopword-free token runs; each word is
    scored deg(w)/freq(w) (deg = Σ length of the phrases its
    occurrences sit in — co-occurrence degree; freq = occurrence
    count), and a phrase scores the sum of its words. The cheap
    unsupervised keyword tier next to textrank_keywords: TextRank
    needs the word graph and power iteration; RAKE is two hash
    aggregates.

    Shape: tokenize + posexplode (rows ∝ tokens), ONE shuffle on
    doc_id for the segment/phrase-length windows, then word stats and
    phrase reassembly are hash aggregates; the final top-k sort runs
    on the bounded distinct-phrase table.

    Exactness: deg/freq are exact longs; each word score is ONE
    double division quantized DECIMAL(18,9) (a dyadic double can
    never sit exactly on a 5·10⁻¹⁰ rounding boundary, so both engines
    round identically), and phrase scores are exact decimal sums —
    identical-text phrases have identical scores by construction, so
    the (score DESC, phrase ASC) top-k order is total.

    Output: top_k rows — phrase, n_words, n_occurrences, score."""
    from pyspark.sql import Window

    from movie_rankings_spark.functions.text import LANG_STOPWORDS

    stops = [F.lit(w) for w in LANG_STOPWORDS[lang]]
    toks = (
        docs.select(
            "doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w")
        )
        .withColumn("is_stop", F.col("w").isin(*stops) | (F.col("w") == ""))
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    segs = toks.withColumn(
        "seg", F.sum(F.col("is_stop").cast("int")).over(wdoc)
    ).filter(~F.col("is_stop"))
    wseg = Window.partitionBy("doc_id", "seg")
    cand = (
        segs.withColumn("plen", F.count(F.lit(1)).over(wseg))
        .select("doc_id", "seg", "pos", "w", "plen")
        .persist_tracked()  # word stats AND phrase reassembly read this
    )
    wstats = cand.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    wscore = wstats.select(
        "w",
        (F.col("deg").cast("double") / F.col("freq").cast("double"))
        .cast("decimal(18,9)")
        .alias("ws"),
    )
    phrases = (
        cand.join(wscore, "w")
        .groupBy("doc_id", "seg")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda x: x["w"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.col("ws").cast("decimal(28,9)")).alias("score_d"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.max("n_words").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("score_d").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("phrase").asc())
        .limit(top_k)
    )


def readability_by_group(
    docs: DataFrame, group_col: Column, text_col: Column
) -> DataFrame:
    """Flesch-style readability per group — FRE = 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words) with the
    standard vowel-group syllable proxy — the prose-complexity lens
    of the quality tier: length/stopword ratios say "how much text",
    FRE says "how hard is it to read", and a curation mix often
    wants both ends of that scale.

    Shape: pure in-row codegen per document (three regexp counts —
    no tokenize explode), ONE group aggregate. Exactness: word /
    sentence / vowel-group counts are exact ints; each per-doc FRE
    is one shared IEEE expression quantized DECIMAL(18,9) before the
    exact per-group decimal sum (the per-row-float convention);
    min/max of identical quantized doubles are engine-exact.

    Output: one row per group — group, n_docs, total_words,
    mean_words, mean_fre, min_fre, max_fre — ordered by group."""
    words = F.size(F.split(text_col, " ")).cast("long")
    sentences = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(text_col, F.lit("[.!?]")).cast("long"),
    )
    syllables = F.regexp_count(
        F.lower(text_col), F.lit("[aeiouy]+")
    ).cast("long")
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    rows = docs.select(
        group_col.alias("g"),
        words.alias("w"),
        fre.cast("decimal(18,9)").alias("fre_q"),
    ).filter(F.col("g").isNotNull() & (F.col("w") > 0))
    return (
        rows.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("total_words"),
            (
                F.sum("w").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_words"),
            (
                F.sum("fre_q").cast("decimal(38,9)").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_fre"),
            F.min(F.col("fre_q").cast("double")).alias("min_fre"),
            F.max(F.col("fre_q").cast("double")).alias("max_fre"),
        )
        .select(
            F.col("g").alias("group"),
            "n_docs",
            "total_words",
            "mean_words",
            "mean_fre",
            "min_fre",
            "max_fre",
        )
        .orderBy("group")
    )


def simpson_diversity_by_group(
    docs: DataFrame, group_col: Column, text_col: Column
) -> DataFrame:
    """Token diversity per group: Simpson's index D = Σn(n−1)/(N(N−1))
    (the probability two random tokens coincide — EXACT integer
    ratio), inverse Simpson 1/D (effective vocabulary size), Shannon
    entropy and Pielou evenness H/ln(richness) — the per-source
    vocabulary-concentration readout next to the corpus-global
    Zipf/Heaps laws: a source whose inverse-Simpson collapses is
    boilerplate even when its raw vocab count looks healthy.

    Shape: one tokenize explode → (group, token) count cells (∝
    tokens, map-side combined) → one bounded per-group aggregate.
    Exactness: D's numerator/denominator are exact BIGINTs; Shannon
    uses the q9 fixed-point convention (round(ln·10⁹) per bounded
    count cell, exact decimal sums, one final division); ln(richness)
    is quantized the same way, making evenness a ratio of two exact
    integers. Output: one row per group — group, n_tokens, richness,
    simpson_d, inv_simpson, shannon_h, evenness — ordered by group."""
    cells = (
        docs.select(
            group_col.alias("g"),
            F.explode(F.split(text_col, " ")).alias("tok"),
        )
        .filter(F.col("g").isNotNull() & (F.col("tok") != ""))
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    scale = F.lit(1000000000.0)
    lnq_c = F.round(F.log(F.col("c").cast("double")) * scale).cast("long")
    per = cells.groupBy("g").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("rich"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("coll"),
        F.sum((F.col("c").cast("decimal(19,0)") * lnq_c).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s_cln"),
    )
    nd = F.col("n").cast("double")
    lnq_n = F.round(F.log(nd) * scale).cast("long")
    h_num = (
        F.col("n").cast("decimal(19,0)") * lnq_n
    ).cast("decimal(38,0)") - F.col("s_cln")
    shannon = h_num.cast("double") / (nd * scale)
    lnq_rich = F.round(
        F.log(F.col("rich").cast("double")) * scale
    ).cast("long")
    simpson = F.try_divide(
        F.col("coll").cast("double"),
        nd * (nd - F.lit(1.0)),
    )
    return per.select(
        F.col("g").alias("group"),
        F.col("n").alias("n_tokens"),
        F.col("rich").alias("richness"),
        simpson.alias("simpson_d"),
        F.try_divide(F.lit(1.0), simpson).alias("inv_simpson"),
        shannon.alias("shannon_h"),
        F.try_divide(
            h_num.cast("double"),
            nd * lnq_rich.cast("double"),
        ).alias("evenness"),
    ).orderBy("group")


def burrows_delta(
    docs: DataFrame,
    group_col: Column,
    text_col: Column,
    top_n_words: int = 30,
) -> DataFrame:
    """Burrows' Delta stylometric distance between every pair of
    groups — the classic authorship-attribution measure: z-score each
    group's relative frequency of the corpus's top-N words (function
    words dominate that list, and function-word profiles are the
    stylistic fingerprint), then Delta = mean |z₁ − z₂| over the N
    words. The source-similarity matrix a contamination or
    provenance audit reads — high-Delta pairs are stylistically
    alien, near-zero pairs may share a generator.

    Shape: one tokenize shuffle to (group, word) counts; the top-N
    vocabulary is a bounded TakeOrdered; per-group totals and the
    per-word across-group moments are bounded aggregates; the pair
    matrix is a |groups|² self-join of the bounded z table.
    Exactness: relative frequencies are quantized DECIMAL(18,12)
    (exact across-group sums for μ_w and σ_w); z and |z₁−z₂| are
    shared IEEE expressions quantized DECIMAL(18,9) before the exact
    N-term pair sum. Missing (group, word) cells count as frequency
    zero via the dense grid. Output: one row per unordered pair —
    group_a < group_b, n_words, delta — ordered by (group_a,
    group_b)."""
    cells = (
        docs.select(
            group_col.alias("g"),
            F.explode(F.split(text_col, " ")).alias("w"),
        )
        .filter(F.col("g").isNotNull() & (F.col("w") != ""))
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # vocab, totals, and the grid read this
    )
    vocab = (
        cells.groupBy("w")
        .agg(F.sum("c").cast("long").alias("cw"))
        .orderBy(F.col("cw").desc(), F.col("w").asc())
        .limit(top_n_words)
        .select("w")
    )
    totals = cells.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g")
    )
    grid = (
        totals.crossJoin(F.broadcast(vocab))
        .join(cells, ["g", "w"], "left")
        .select(
            "g",
            "w",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n_g").cast("double")
            )
            .cast("decimal(18,12)")
            .alias("fq"),
        )
        .persist_tracked()  # word moments + the z table read this
    )
    mom = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("fq").cast("decimal(28,12)").alias("sf"),
        F.sum((F.col("fq") * F.col("fq")).cast("decimal(38,24)"))
        .cast("decimal(38,24)")
        .alias("sff"),
    )
    kd = F.col("k").cast("double")
    mu = F.col("sf").cast("double") / kd
    var = F.try_divide(
        kd * F.col("sff").cast("double")
        - F.col("sf").cast("double") * F.col("sf").cast("double"),
        kd * (kd - F.lit(1.0)),
    )
    z = grid.join(
        F.broadcast(
            mom.select(
                "w", mu.alias("mu"), F.sqrt(var).alias("sigma")
            )
        ),
        "w",
    ).select(
        "g",
        "w",
        F.try_divide(
            F.col("fq").cast("double") - F.col("mu"), F.col("sigma")
        ).alias("z"),
    )
    a = z.select(
        F.col("g").alias("group_a"),
        "w",
        F.col("z").alias("za"),
    )
    b = z.select(
        F.col("g").alias("group_b"),
        "w",
        F.col("z").alias("zb"),
    )
    pairs = a.join(F.broadcast(b), "w").filter(
        F.col("group_a") < F.col("group_b")
    )
    return (
        pairs.select(
            "group_a",
            "group_b",
            F.abs(F.col("za") - F.col("zb"))
            .cast("decimal(18,9)")
            .alias("dz"),
        )
        .groupBy("group_a", "group_b")
        .agg(
            # count(dz): a zero-variance word (identical frequency in
            # every group) yields NULL z and drops from the mean
            F.count(F.col("dz")).cast("long").alias("n_words"),
            (
                F.sum("dz").cast("decimal(28,9)").cast("double")
                / F.count(F.col("dz")).cast("double")
            ).alias("delta"),
        )
        .orderBy("group_a", "group_b")
    )


def good_turing_vocab(
    docs: DataFrame, text_col: Column, max_r: int = 10, ngram: int = 1
) -> DataFrame:
    """Good–Turing frequency-of-frequencies analysis of the token
    vocabulary: for observed counts r ≤ max_r the adjusted count
    r* = (r+1)·N_{r+1}/N_r, plus the unseen-mass estimate
    P₀ = N₁/N (the probability the NEXT token is a new type) — the
    coverage readout a tokenizer/vocab decision needs (a large P₀
    says the corpus is still discovering vocabulary; Heaps' law
    gives the curve, Good–Turing gives the probability mass).

    Shape: one tokenize shuffle to token counts, one bounded
    count-of-counts aggregate (≤ max distinct count values), a
    self-join on r+1 over that bounded table. Exactness: every
    emitted value is an exact-integer ratio — no logs, no
    transcendental anywhere. Output: one row per r = 1..max_r —
    r, n_r (types seen r times), n_r_plus_1, r_star, plus the shared
    n_types, n_tokens, p_unseen — ordered by r.

    ``ngram`` > 1 analyzes word n-gram types instead of unigrams —
    the right granularity when the unigram vocabulary is saturated
    (every type frequent): the n-gram type space keeps a singleton
    tail at any corpus size, which is where Good–Turing lives."""
    counts = _ngram_type_counts(docs, text_col, ngram)
    coc = (
        counts.groupBy("r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
        .persist_tracked()  # totals + the r+1 self-join read this
    )
    tot = coc.agg(
        F.sum("n_r").cast("long").alias("n_types"),
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    nxt = coc.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_plus_1")
    )
    return (
        coc.filter(F.col("r") <= max_r)
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("r"),
            "n_r",
            F.coalesce(F.col("n_r_plus_1"), F.lit(0))
            .cast("long")
            .alias("n_r_plus_1"),
            F.try_divide(
                (F.col("r") + 1).cast("double")
                * F.coalesce(F.col("n_r_plus_1"), F.lit(0)).cast("double"),
                F.col("n_r").cast("double"),
            ).alias("r_star"),
            "n_types",
            "n_tokens",
            (
                F.col("n1").cast("double") / F.col("n_tokens").cast("double")
            ).alias("p_unseen"),
        )
        .orderBy("r")
    )


def kneser_ney_source_scores(
    docs: DataFrame,
    group_col: Column,
    text_col: Column,
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram language-model scoring,
    aggregated per group: train on the WHOLE corpus, score every
    document's bigrams under
    p_KN(w|v) = max(c(v,w)−D, 0)/c(v·) + D·N₁₊(v·)/c(v·)·p_cont(w),
    p_cont(w) = N₁₊(·w)/N₁₊(··) — the discounting LM the add-k
    bigram scorer (quality_bigram_lm) underestimates rare-context
    fluency with; per-source mean log-probability + perplexity is
    the fluency leaderboard a curation mix reads.

    Shape: bigram/context/continuation tables are all bounded count
    reductions (∝ distinct bigrams); each bigram's ln p_KN is
    quantized q9 (round(ln·10⁹) BIGINT) at the bounded bigram-model
    table ONCE, then doc bigrams join the model and per-group sums
    are exact integers. Training and scoring share the corpus, so
    every scored bigram exists in the model and p > 0 always (the
    discounted first term is ≥ (1−D)/c(v·)). Perplexity exp(−mean) is
    quantized DECIMAL(18,6) (quantum ≫ cross-libm exp ulp at these
    magnitudes). Output: one row per group — group, n_bigrams,
    sum_logp_q9, mean_logp, perplexity — ordered by group."""
    toks = docs.select(
        group_col.alias("g"),
        F.split(text_col, " ").alias("ts"),
    ).filter(F.col("g").isNotNull())
    # in-row bigram construction: zip ts[0..n-2] with ts[1..n-1]
    m = F.greatest(F.size("ts") - 1, F.lit(0))
    bigrams = toks.select(
        "g",
        F.explode(
            F.zip_with(
                F.slice("ts", 1, m),
                F.slice("ts", 2, m),
                lambda a, b: F.struct(a.alias("v"), b.alias("w")),
            )
        ).alias("bg"),
    ).select("g", F.col("bg.v").alias("v"), F.col("bg.w").alias("w"))
    # per-GROUP bigram counts first: the global model re-aggregates
    # this bounded table, and scoring weights it by count — the fact
    # is exploded exactly ONCE (never a second corpus scan)
    bgg = (
        bigrams.groupBy("g", "v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cgvw"))
        .persist_tracked()
    )
    bc = (
        bgg.groupBy("v", "w")
        .agg(F.sum("cgvw").cast("long").alias("cvw"))
        .persist_tracked()  # model tiers read this
    )
    ctx = bc.groupBy("v").agg(
        F.sum("cvw").cast("long").alias("cv"),
        F.count(F.lit(1)).cast("long").alias("n1p_v"),
    )
    cont = bc.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_w")
    )
    tot = bc.agg(F.count(F.lit(1)).cast("long").alias("n1p_all"))
    d = F.lit(float(discount))
    model = (
        bc.join(F.broadcast(ctx), "v")
        .join(F.broadcast(cont), "w")
        .crossJoin(F.broadcast(tot))
    )
    p_cont = F.col("n1p_w").cast("double") / F.col("n1p_all").cast("double")
    p_kn = (
        F.greatest(F.col("cvw").cast("double") - d, F.lit(0.0))
        / F.col("cv").cast("double")
        + d
        * F.col("n1p_v").cast("double")
        / F.col("cv").cast("double")
        * p_cont
    )
    scored_model = model.select(
        "v",
        "w",
        F.round(F.log(p_kn) * F.lit(1000000000.0)).cast("long").alias(
            "lq"
        ),
    )
    per_group = (
        bgg.join(scored_model, ["v", "w"])
        .groupBy("g")
        .agg(
            F.sum("cgvw").cast("long").alias("n_bigrams"),
            F.sum(
                (
                    F.col("cgvw").cast("decimal(19,0)")
                    * F.col("lq").cast("decimal(19,0)")
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("slq"),
        )
    )
    mean_logp = F.col("slq").cast("double") / (
        F.col("n_bigrams").cast("double") * F.lit(1000000000.0)
    )
    return per_group.select(
        F.col("g").alias("group"),
        "n_bigrams",
        F.col("slq").cast("long").alias("sum_logp_q9"),
        mean_logp.alias("mean_logp"),
        F.exp(-mean_logp).cast("decimal(18,6)").cast("double").alias(
            "perplexity"
        ),
    ).orderBy("group")


def richness_estimators(
    docs: DataFrame, text_col: Column, ngram: int = 1
) -> DataFrame:
    """Nonparametric vocabulary-richness estimators from the same
    count-of-counts reduction good_turing_vocab builds: Chao1
    (S_obs + N₁²/(2N₂) — the abundance-based lower bound on TRUE
    type count), first-order jackknife (S_obs + N₁·(n−1)/n), and
    Good's sample coverage C = 1 − N₁/N — together they answer "how
    much vocabulary exists that this corpus hasn't seen", the
    denominator a coverage-targeted crawl or tokenizer budget needs
    (Good–Turing gives the probability mass of the unseen; these
    estimate its CARDINALITY).

    Same shape/exactness as good_turing_vocab (one tokenize reduce →
    bounded count-of-counts; every emitted value an exact-integer
    ratio). ``ngram`` > 1 analyzes word n-gram types. Output: ONE
    row — n_tokens, s_obs, n1, n2, chao1, jackknife1, coverage."""
    counts = _ngram_type_counts(docs, text_col, ngram)
    coc = counts.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    m = coc.agg(
        F.sum("n_r").cast("long").alias("s_obs"),
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("r") == 2, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    sd = F.col("s_obs").cast("double")
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = F.col("n_tokens").cast("double")
    # bias-corrected Chao1 when N2 = 0: S + N1(N1-1)/2
    chao1 = F.when(
        F.col("n2") > 0,
        sd + n1d * n1d / (F.lit(2.0) * n2d),
    ).otherwise(sd + n1d * (n1d - F.lit(1.0)) / F.lit(2.0))
    jack1 = sd + n1d * (nd - F.lit(1.0)) / nd
    return m.select(
        "n_tokens",
        "s_obs",
        "n1",
        "n2",
        chao1.alias("chao1"),
        jack1.alias("jackknife1"),
        (F.lit(1.0) - n1d / nd).alias("coverage"),
    )


def _ngram_type_counts(
    docs: DataFrame, text_col: Column, ngram: int
) -> DataFrame:
    """(type, count) table over word n-gram types — shared by the
    Good–Turing and richness-estimator readouts. Empty tokens (from
    consecutive spaces) are dropped BEFORE n-gram slicing, so the
    unigram and n-gram views share one token universe (the oracles
    apply the same list_filter)."""
    if ngram > 3:
        raise ValueError("ngram > 3 not supported")
    if ngram > 1:
        ts = docs.select(
            F.filter(F.split(text_col, " "), lambda x: x != "").alias("ts")
        )
        m = F.greatest(F.size("ts") - (ngram - 1), F.lit(0))
        arrays = [F.slice("ts", i + 1, m) for i in range(ngram)]
        grams = ts.select(
            F.explode(
                F.zip_with(
                    arrays[0],
                    arrays[1]
                    if ngram == 2
                    else F.zip_with(
                        arrays[1],
                        arrays[2],
                        lambda a, b: F.concat_ws(" ", a, b),
                    ),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("tok")
        )
        return grams.groupBy("tok").agg(
            F.count(F.lit(1)).cast("long").alias("r")
        )
    return (
        docs.select(F.explode(F.split(text_col, " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
