"""Tokenizer-training support: BPE pair statistics.

The inner loop of byte-pair-encoding training (Sennrich et al. 2016)
is "count adjacent symbol pairs across the corpus, weighted by word
frequency; merge the most frequent". The counting step is the
distributed part — and its scale shape matters: pairs are generated
from the DISTINCT-WORD table (vocabulary-sized, with a frequency
weight), never from the raw token stream. The word-frequency groupBy
is a massive map-side combine (corpus tokens → vocab rows), after
which the explode touches each unique word once regardless of how
often it occurs — exactly how single-node BPE trainers pre-aggregate,
re-expressed as two hash aggregates.

Everything is JVM codegen (split / sequence / transform / substring);
no UDF, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame
from movie_rankings_spark.functions.text import words


def bpe_pair_counts(docs: DataFrame, k: int = 30) -> DataFrame:
    """Top-k adjacent character pairs across the corpus, weighted by
    word frequency — the statistic that picks BPE merge #1 (on the
    initial character vocabulary; subsequent merges re-run the same
    count over the merged symbol sequences).

    Shuffles: tokens → word frequencies (combine reduces to vocab
    size), pair partials → totals (combine reduces to pair-vocab
    size). The explode runs over distinct words only."""
    freq = (
        docs.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = freq.filter(F.length("word") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def _symbol_pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent (left, right) symbol-pair totals over the weighted
    vocabulary — the per-round statistic. Explode runs over distinct
    words only; the groupBy reduces map-side to pair-vocab size."""
    pairs = vocab.filter(F.size("symbols") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                lambda a, b: F.struct(a.alias("left"), b.alias("right")),
            )
        ).alias("p"),
        "wc",
    )
    return pairs.groupBy("p.left", "p.right").agg(F.sum("wc").alias("n"))


def bpe_train(docs: DataFrame, n_merges: int = 12) -> DataFrame:
    """Full BPE merge-rule training (Sennrich et al. 2016),
    distributed: per round, one pair-count aggregation over the
    weighted DISTINCT-WORD vocabulary picks the most frequent adjacent
    symbol pair (ties broken lexicographically — deterministic), and a
    left-to-right greedy fold rewrites every word's symbol array.

    Output: one row per learned rule — step (1-based), left, right,
    merged, n (the pair's corpus frequency when chosen). Stops early
    when no adjacent pair remains.

    Scale: the corpus is touched ONCE (word-frequency groupBy with
    map-side combine); every round after that runs on the vocab table
    (≈ millions of rows at 100 TB, constant in corpus size). Per round:
    one pair aggregate + a 1-row driver fetch (the argmax — the
    textbook justified collect) + a codegen fold rewrite. Lineage is
    truncated per round with localCheckpoint, the connected-components
    idiom, so the plan does not grow with the merge count.

    Zero-length tokens (consecutive/leading/trailing whitespace) are
    excluded from the vocabulary (r9): an empty word has no symbols
    and no pairs — and Spark's ``sequence(1, 0)`` is DESCENDING, so
    without the filter an empty word would expand to ``['', '']`` and
    inject a phantom ('','') pair into merge selection."""
    freq = (
        docs.select(F.explode(words(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    from movie_rankings_spark.caching import rotating_checkpoint

    ckpt = rotating_checkpoint(docs.sparkSession)
    vocab = ckpt(freq.select(
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"
               ).alias("symbols"),
        "wc",
    ))

    rules: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            _symbol_pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, n = top[0]["left"], top[0]["right"], top[0]["n"]
        merged = left + right
        rules.append((step, left, right, merged, n))
        # greedy left-to-right merge: the merged symbol becomes the new
        # "previous", so overlapping occurrences ("aaa" under a+a)
        # resolve exactly like the single-node trainer.
        fold = F.aggregate(
            F.col("symbols"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        # rotating: the previous round's vocab copy (vocab-sized — large
        # at scale) is freed once this round's checkpoint materializes
        vocab = ckpt(vocab.select(fold.alias("symbols"), "wc"))

    spark = docs.sparkSession
    return local_frame(
        spark,
        rules, "step int, left string, right string, merged string, n long"
    )


def bpe_apply_rules(vocab: DataFrame, rules: list[tuple[str, str, str]]) -> DataFrame:
    """Apply an ordered list of (left, right, merged) BPE rules to the
    `symbols` arrays of a weighted vocabulary — the ENCODE half of the
    tokenizer. Each rule is the same greedy left-to-right codegen fold
    used during training, chained in rule order; lineage is truncated
    every few rules with a rotating checkpoint (previous copy freed)
    so neither the plan nor pinned storage grows with the rule list."""
    from movie_rankings_spark.caching import rotating_checkpoint

    ckpt = rotating_checkpoint(vocab.sparkSession)

    def _merge_step(left: str, right: str, merged: str):
        def step(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return step

    for i, (left, right, merged) in enumerate(rules):
        fold = F.aggregate(
            F.col("symbols"),
            F.array().cast("array<string>"),
            _merge_step(left, right, merged),
        )
        vocab = vocab.select(fold.alias("symbols"), "word", "wc")
        if (i + 1) % 4 == 0:
            vocab = ckpt(vocab)
    return vocab


def bpe_encode_token_counts(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Train-then-encode: learn `n_merges` BPE rules on the corpus,
    then tokenize every document with them. Output: doc_id, n_words,
    n_bpe_tokens (symbols after merges; pre-merge it equals character
    count of the concatenated words).

    Scale shape: training and encoding both run on the DISTINCT-WORD
    vocabulary (corpus tokens reduce map-side into vocab rows); the
    per-word token count then re-joins the document token stream via a
    BROADCAST of the vocab map — the fact table is scanned twice
    (vocab build + final join) and never carries symbol arrays.
    The rule list itself is n_merges rows — the textbook justified
    driver collect (same as bpe_train's per-round argmax).

    Zero-length tokens are excluded from the vocabulary AND the
    document token stream (r9, mirroring bpe_train): an empty word
    has no symbols, so it contributes neither merges nor token
    counts — the same policy _ngram_type_counts applies."""
    trained = bpe_train(docs, n_merges=n_merges)
    rules = [
        (r["left"], r["right"], r["merged"])
        for r in trained.orderBy("step").collect()
    ]
    freq = (
        docs.select(F.explode(words(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    vocab = freq.select(
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("symbols"),
        "word",
        "wc",
    )
    encoded = bpe_apply_rules(vocab, rules).select(
        "word", F.size("symbols").alias("n_tok")
    )
    toks = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    return (
        toks.join(F.broadcast(encoded), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        )
    )


def bpe_train_oracle_sql(n_merges: int = 12, table: str = "documents") -> str:
    """Unrolled DuckDB twin of :func:`bpe_train` (r8) — the whole
    training loop is deterministic (exact integer pair counts,
    lexicographic tie-breaks, greedy left-to-right folds), so each
    round unrolls to three CTEs: pair-count aggregate, 1-row argmax,
    vocabulary rewrite.

    The greedy fold is replayed WITHOUT a fold: words are kept as
    double-space-joined symbol strings ('  a  b  c  '), and one
    literal ``replace(s, ' l  r ', ' lr ')`` per round is exactly the
    left-to-right non-overlapping merge — each match consumes one of
    the two boundary spaces on each side (so adjacent occurrences
    stay matchable: '  a  a  a  a  ' → '  aa  aa  '), and because
    ``replace`` resumes scanning after the replacement, a merged
    symbol is never re-consumed as the RIGHT element within the same
    round — the same policy as the engine's accumulate fold (a merged
    symbol can never equal the rule's LEFT either: that would need an
    empty RIGHT). Literal replace also sidesteps regex-escaping the
    symbol alphabet.

    Every per-round CTE is MATERIALIZED: v{k} and rule{k} are each
    referenced twice, so without materialization DuckDB's inlining
    re-evaluates the whole chain per reference — exponential in
    n_merges."""
    parts = [
        f"""WITH freq AS (
  SELECT word, COUNT(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {table})
  WHERE length(word) > 0
  GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT word,
         '  ' || array_to_string(
           list_transform(range(1, length(word) + 1),
                          i -> substr(word, CAST(i AS INT), 1)), '  ')
         || '  ' AS s,
         wc
  FROM freq
)"""
    ]
    for k in range(1, n_merges + 1):
        prev = f"v{k - 1}"
        parts.append(f""",
syms{k} AS MATERIALIZED (
  SELECT string_split(trim(s, ' '), '  ') AS a, wc
  FROM {prev} WHERE length(trim(s, ' ')) > 0
),
pc{k} AS (
  SELECT a[CAST(i AS INT)] AS l, a[CAST(i AS INT) + 1] AS r,
         SUM(wc) AS n
  FROM syms{k}, LATERAL unnest(range(1, len(a))) AS u(i)
  WHERE len(a) >= 2
  GROUP BY 1, 2
),
rule{k} AS MATERIALIZED (
  SELECT l, r, l || r AS m, CAST(n AS BIGINT) AS n
  FROM pc{k} ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
v{k} AS MATERIALIZED (
  SELECT word,
         replace(s, ' ' || rr.l || '  ' || rr.r || ' ',
                    ' ' || rr.m || ' ') AS s, wc
  FROM {prev}, rule{k} rr
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS step, l AS \"left\", r AS \"right\","
        f" m AS merged, n FROM rule{k}"
        for k in range(1, n_merges + 1)
    )
    parts.append(f"\n{union}\nORDER BY step")
    return "".join(parts)


def bpe_encode_oracle_sql(n_merges: int = 8, table: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_encode_token_counts` (r8): the same
    unrolled train rounds as :func:`bpe_train_oracle_sql` (the v{k}
    chain carries the word key through every rewrite), then the final
    vocabulary's per-word symbol count re-joins the document token
    stream — exactly the engine's broadcast-encode shape."""
    train = bpe_train_oracle_sql(n_merges, table)
    prefix = train[: train.rindex("\nSELECT CAST(1 AS INTEGER)")]
    return f"""{prefix},
enc AS (
  SELECT word, CAST(len(string_split(trim(s, ' '), '  ')) AS BIGINT) AS n_tok
  FROM v{n_merges}
),
toks AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM {table}
  ) WHERE length(word) > 0
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_tok) AS BIGINT) AS n_bpe_tokens
FROM toks t JOIN enc e USING (word)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""
