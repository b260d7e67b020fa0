"""Distributed BPE tokenizer training (Sennrich et al. 2016) — the
full iterative merge loop on DataFrames (SURVEY §2f; extends #76,
which publishes only the round-1 candidate statistics).

Why this shape scales: the corpus is touched ONCE (token -> word
frequency aggregation). Every merge round after that runs on the
word-frequency table — bounded by |vocabulary|, not corpus size — so
training cost is R small vocabulary-sized jobs after one corpus pass.
That is exactly how production tokenizer training handles web-scale
corpora (HuggingFace tokenizers pre-counts words the same way).

Round structure (driver loop, R rounds):
1. adjacent symbol-pair counts weighted by word frequency (explode of
   zip_with(slice, slice) — linear, the dedup-shingle pattern);
2. argmax pair by (count desc, left asc, right asc) — ONE collected
   row;
3. greedy left-to-right non-overlapping merge applied to every word's
   symbol array via a fold (F.aggregate) — pure column expressions;
4. localCheckpoint to cut the growing lineage (same discipline as
   PageRank / connected components).

Correctness gate: the merge sequence must EXACTLY equal a pure-python
reference BPE on the same word counts (tests/test_bpe.py), and the
merge counts must be non-increasing (a new pair's count is bounded by
the merge that created it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.plans.registry import register
from mvrs_dspa_spark.tables import table

BPE_ROUNDS = 16


def _chars(w: Column) -> Column:
    return F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: F.substring(w, i, 1)
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the symbol arrays."""
    n = F.greatest(F.size("symbols") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("symbols", F.lit(1), n),
        F.slice("symbols", F.lit(2), n),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "freq")
        .groupBy("p.left", "p.right")
        .agg(F.sum("freq").alias("weighted_count"))
    )


def _merge_fold(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right)."""
    merged = F.lit(left + right)

    def step(acc: Column, s: Column) -> Column:
        can_merge = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right))
        )
        return F.when(
            can_merge,
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(
        symbols, F.array().cast("array<string>"), step
    )


def bpe_train_merges(
    vocab: DataFrame, rounds: int = BPE_ROUNDS
) -> list[tuple[int, str, str, int]]:
    """Run `rounds` BPE merges over a (w, freq) word table.

    Returns [(round, left, right, weighted_count), ...]. `vocab` is
    corpus-independent after the caller's one aggregation pass.
    Separator-bearing words are dropped up front (`_drop_sep_words`,
    mirroring the SQL chain's v0 filter).
    """
    sym = _drop_sep_words(vocab).select(
        _chars(F.col("w")).alias("symbols"), "freq"
    )
    sym = sym.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for r in range(rounds):
        top = (
            _pair_counts(sym)
            .orderBy(F.desc("weighted_count"), "left", "right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0].left, top[0].right, int(top[0].weighted_count)
        merges.append((r, left, right, cnt))
        sym = sym.select(
            _merge_fold(F.col("symbols"), left, right).alias("symbols"),
            "freq",
        ).localCheckpoint(eager=True)
    return merges


# Unit separator, used as the symbol delimiter in the SQL-side merge
# fold. It is NOT whitespace, so a corpus token CAN contain it after
# whitespace tokenization (ADVICE r9 — the previous comment claimed
# the opposite), and such a token would corrupt the delimiter-exact
# trim/split/replace on the oracle side while the Spark array fold
# treated it as an ordinary character. The invariant is therefore
# enforced, not assumed: `_drop_sep_words` / the v0 WHERE clause in
# `_bpe_chain_ctes` filter separator-bearing words from the vocabulary
# IDENTICALLY on both engines before any merge arithmetic.
_SEP = "\x1f"


def _drop_sep_words(vocab: DataFrame) -> DataFrame:
    """Spark twin of the v0 `NOT contains(w, chr(31))` filter: drop
    vocabulary words containing the symbol delimiter (none exist in
    sane corpora; a hostile one must not desync the engines)."""
    return vocab.where(~F.col("w").contains(_SEP))


def _bpe_chain_ctes(
    rounds: int, vocab_sql: str, carry: str = ""
) -> tuple[list[str], list[str]]:
    """The full merge loop unrolled as `rounds` MATERIALIZED CTE
    stages (VERDICT r8 #4a; the kcore idiom — every stage pinned so
    DuckDB never re-inlines the chain). Words are carried as
    delimiter-wrapped symbol strings ('<SEP>sym<SEP>' concatenated),
    because the greedy left-to-right non-overlapping merge fold is
    then EXACTLY one plain-string replace():
    replace(s, '<SEP>L<SEP><SEP>R<SEP>', '<SEP>LR<SEP>') consumes
    matches left to right and cannot rematch inside a replacement —
    the same semantics as the Spark side's F.aggregate fold (and the
    pure-python reference in tests/test_bpe.py). Pair stats and
    argmax tie-breaks ((count DESC, left, right)) are exact integer /
    string comparisons on both engines, so the driver hash is exact.

    `vocab_sql` must select (w, freq); `carry` names extra v0 columns
    (e.g. 'w, ') to thread through every stage. An exhausted round
    (no pairs left -> empty argmax) LEFT-JOINs through unchanged,
    matching the Spark loop's break. Returns (ctes, top_selects)."""
    sep, s2 = _SEP, _SEP + _SEP
    ctes = [
        f"""v0 AS MATERIALIZED (
            SELECT {carry}
                   regexp_replace(w, '(.)', '{sep}\\1{sep}', 'g') AS sym,
                   freq
            FROM ({vocab_sql})
            WHERE NOT contains(w, chr(31))
        )""",
    ]
    tops = []
    for r in range(1, rounds + 1):
        prev = f"v{r - 1}"
        ctes.append(f"""p{r} AS MATERIALIZED (
            SELECT pr[1] AS lft, pr[2] AS rgt, SUM(freq) AS wc
            FROM (
                SELECT unnest(list_transform(
                           generate_series(1, len(l) - 1),
                           i -> [l[i], l[i + 1]])) AS pr,
                       freq
                FROM (SELECT string_split(trim(sym, '{sep}'), '{s2}')
                          AS l, freq FROM {prev})
            ) GROUP BY 1, 2
        )""")
        ctes.append(f"""t{r} AS MATERIALIZED (
            SELECT lft, rgt, wc FROM p{r}
            ORDER BY wc DESC, lft, rgt LIMIT 1
        )""")
        ctes.append(f"""v{r} AS MATERIALIZED (
            SELECT {carry}
                   COALESCE(replace(sym,
                       '{sep}' || lft || '{s2}' || rgt || '{sep}',
                       '{sep}' || lft || rgt || '{sep}'), sym) AS sym,
                   freq
            FROM {prev} LEFT JOIN t{r} ON TRUE
        )""")
        tops.append(
            f'SELECT {r - 1} AS merge_round, lft AS "left", '
            f'rgt AS "right", lft || rgt AS merged, '
            f"CAST(wc AS BIGINT) AS weighted_count FROM t{r}"
        )
    return ctes, tops


_BPE_VOCAB_SQL = (
    f"SELECT w, COUNT(*) AS freq FROM (SELECT "
    f"unnest({T.tokens_sql('text')}) AS w FROM documents) GROUP BY w"
)


def _bpe_train_sql() -> str:
    ctes, tops = _bpe_chain_ctes(BPE_ROUNDS, _BPE_VOCAB_SQL)
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL ".join(tops)
        + "\n) ORDER BY merge_round"
    )


@register(
    "bpe_train",
    oracle=_bpe_train_sql(),
    doc=f"Full BPE tokenizer training ({BPE_ROUNDS} merge rounds, "
    "Sennrich 2016): one corpus pass builds the word-frequency table, "
    "then every round is a vocabulary-bounded pair aggregation + a "
    "column-expression merge fold — R small jobs, no corpus rescan, "
    "the HuggingFace pre-count training shape at 100 TB. Oracle-gated "
    "since r9 (VERDICT r8 #4a): the loop unrolls to 16 MATERIALIZED "
    "SQL stages where the greedy merge fold is a delimiter-exact "
    "string replace (see _bpe_train_sql). Merge sequence also exactly "
    "equals a pure-python reference BPE (tests/test_bpe.py); merge "
    "counts are provably non-increasing.",
    tags=("llm", "text"),
)
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    vocab = (
        d.select(F.explode(T.tokens_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = bpe_train_merges(vocab)
    return spark.createDataFrame(
        [(r, lt, rt, lt + rt, c) for r, lt, rt, c in merges],
        "merge_round int, left string, right string, merged string, "
        "weighted_count long",
    ).orderBy("merge_round")


def bpe_encode_vocab(
    vocab: DataFrame, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Apply a trained merge list to the word table: (w, freq,
    symbols, n_pieces).

    Encoding is vocabulary-bounded like training: each DISTINCT word
    is segmented once (merges applied in rank order — the same greedy
    fold the trainer used), and a corpus tokenization is then a plain
    join of tokens against this table, never per-occurrence work. The
    merge chain is built as nested column expressions with a
    localCheckpoint every few merges to keep codegen expression depth
    bounded.
    """
    sym = _drop_sep_words(vocab).select(
        "w", "freq", _chars(F.col("w")).alias("symbols")
    )
    col = F.col("symbols")
    for i, (_, left, right, _c) in enumerate(merges):
        col = _merge_fold(col, left, right)
        if (i + 1) % 4 == 0:  # bound expression/codegen depth
            sym = sym.select("w", "freq", col.alias("symbols"))
            sym = sym.localCheckpoint(eager=True)
            col = F.col("symbols")
    return sym.select(
        "w", "freq", col.alias("symbols"), F.size(col).alias("n_pieces")
    )


_FERT_VOCAB_SQL = "SELECT w, SUM(n) AS freq FROM lang_w GROUP BY w"


def _tokenizer_fertility_sql() -> str:
    """Train + encode + per-language rollup, all in SQL (r9): the
    shared _bpe_chain_ctes merge chain carries `w` through every
    stage, so the final stage's symbol string IS the encoded word —
    n_pieces is one split-length away, and fertility is integer sums
    with single final divisions."""
    sep, s2 = _SEP, _SEP + _SEP
    ctes, _tops = _bpe_chain_ctes(BPE_ROUNDS, _FERT_VOCAB_SQL, carry="w, ")
    pre = [
        f"toksl AS (SELECT lang, unnest({T.tokens_sql('text')}) AS w"
        " FROM documents)",
        "lang_w AS MATERIALIZED (SELECT lang, w, COUNT(*) AS n"
        " FROM toksl GROUP BY 1, 2)",
    ]
    return (
        "WITH "
        + ",\n".join(pre + ctes)
        + f""",
        enc AS MATERIALIZED (
            SELECT w,
                   CAST(len(string_split(trim(sym, '{sep}'), '{s2}'))
                        AS BIGINT) AS n_pieces
            FROM v{BPE_ROUNDS}
        )
        SELECT lang,
               CAST(SUM(n) AS BIGINT) AS n_words,
               CAST(SUM(n * n_pieces) AS BIGINT) AS n_tokens,
               ROUND(SUM(n * n_pieces) / CAST(SUM(n) AS DOUBLE), 4)
                   AS fertility,
               ROUND(SUM(n * length(w))
                     / CAST(SUM(n * n_pieces) AS DOUBLE), 4)
                   AS chars_per_token
        FROM lang_w JOIN enc USING (w)
        GROUP BY lang ORDER BY lang
    """
    )


@register(
    "tokenizer_fertility",
    oracle=_tokenizer_fertility_sql(),
    doc="Tokenizer fertility per language — tokens-per-word under the "
    f"trained {BPE_ROUNDS}-merge BPE (#92), the standard multilingual "
    "tokenizer-equity metric (a tokenizer trained on mixed text "
    "segments under-represented languages into more pieces, inflating "
    "their effective sequence length and training cost; fertility is "
    "the number models like BLOOM/XLM-R publish per language). Also "
    "reports chars-per-token (compression). The corpus is touched "
    "once for the (lang, word) counts; training and encoding run on "
    "the word VOCABULARY (bpe_train_merges / bpe_encode_vocab, "
    "vocabulary-bounded); per-language rollup is integer sums joined "
    "through the encoded vocab — no float order sensitivity. "
    "Oracle hash gate since r9: the shared _bpe_chain_ctes SQL chain "
    "carries the word through training, so encode == the final "
    "stage's symbol split (no separate apply pass in the oracle). "
    "Invariants pytest-pinned: fertility >= 1, and applying MORE "
    "merges can never increase any language's token count.",
    tags=("llm", "text"),
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    lang_w = (
        d.select(
            "lang", F.explode(T.tokens_col(F.col("text"))).alias("w")
        )
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = lang_w.groupBy("w").agg(F.sum("n").alias("freq"))
    merges = bpe_train_merges(vocab)
    enc = bpe_encode_vocab(vocab, merges).select("w", "n_pieces")
    return (
        lang_w.join(enc, "w")
        .groupBy("lang")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("n_pieces")).alias("n_tokens"),
            F.round(
                F.sum(F.col("n") * F.col("n_pieces"))
                / F.sum("n").cast("double"),
                4,
            ).alias("fertility"),
            F.round(
                F.sum(F.col("n") * F.length("w"))
                / F.sum(F.col("n") * F.col("n_pieces")).cast("double"),
                4,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )
