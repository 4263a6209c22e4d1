"""Distributed BPE vocabulary induction (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") — the
tokenizer-training step of a training-data pipeline.

Classic BPE trains on the WORD-FREQUENCY table, not the raw corpus:
one map-side-combinable groupBy collapses any corpus to its distinct
words, and every merge iteration after that touches only that bounded
table. Per iteration: adjacent symbol-pair counts (weighted by word
frequency) -> the most frequent pair (ties broken (left, right) asc,
deterministic) -> merge applied to every word. Driver state per
iteration is ONE pair; the word table never leaves the cluster.

Representation trick (shared with the SQL twin): a word's symbol
sequence is a string — symbols joined by TWO spaces with a single
leading/trailing pad (' a  b  c '). A merge of (a, b) is then the
plain non-overlapping left-to-right literal replace of ' a  b ' with
' ab ': each needle consumes one of the two boundary spaces on each
side, so adjacent occurrences never share a character and the replace
IS the BPE greedy left-to-right merge. Literal replace() behaves
identically in Spark and DuckDB, so `bpe_train_sql` replays the
ENTIRE training loop — every pair count, every argmax, every merge —
as one generated CTE chain (the same full-training-loop oracle the
IVF k-means trainer uses, similarity.py).

Caveat (documented): the initial character split uses a regex '(.)'
capture which operates on UTF-16 code units in Spark and UTF-8
characters in DuckDB — identical on the Basic Multilingual Plane;
train on BMP text (the corpus here is ASCII).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _initial_words(docs: DataFrame, text_col: str) -> DataFrame:
    """Distinct whitespace words -> (w: padded double-spaced symbol
    string, f: corpus frequency)."""
    words = docs.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_word")
    ).filter(F.length("_word") > 0)
    freq = words.groupBy("_word").agg(F.count(F.lit(1)).alias("f"))
    # 'abc' -> ' a  b  c ': char capture + double-space join + pad
    rep = F.concat(
        F.lit(" "),
        F.rtrim(F.regexp_replace(F.col("_word"), "(.)", "$1  ")),
        F.lit(" "),
    )
    return freq.select(rep.alias("w"), "f")


def _pair_counts(words: DataFrame) -> DataFrame:
    toks = F.split(F.trim(F.col("w")), "  ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, F.lit(1), n - 1),
        F.slice(toks, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "f")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("f").alias("cnt"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges from the corpus. Returns the merge
    table [(left, right, pair_freq), ...] in training order.

    Raises if the vocabulary exhausts before n_merges (every word a
    single symbol) — a silent early stop would diverge from the
    fixed-depth SQL replay.

    Scale shape: one corpus pass builds the word-frequency table;
    every iteration is one groupBy over adjacent pairs of that table
    (map-side combinable, bounded by distinct words) plus a pure
    literal-replace map. The plan re-roots via localCheckpoint every
    `checkpoint_every` merges so M merges never build an M-deep
    lineage."""
    words = _initial_words(docs, text_col).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for step in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(
                f"vocabulary exhausted after {step} merges (no adjacent "
                f"pairs left); lower n_merges below {n_merges}"
            )
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((l, r, cnt))
        words = words.select(
            F.replace(
                F.col("w"), F.lit(f" {l}  {r} "), F.lit(f" {l}{r} ")
            ).alias("w"),
            "f",
        )
        if (step + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
    return merges


def bpe_apply(
    docs: DataFrame,
    merges: list,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    id_col: str | None = None,
) -> DataFrame:
    """Tokenize with a learned merge table: per word, the same
    double-spaced representation and the same replace per merge IN
    TRAINING ORDER, then a split back to symbols. One pure-Catalyst
    expression chain (len(merges) literal replaces) plus the per-doc
    regroup shuffle.

    Every input row survives: documents whose text is empty or
    whitespace-only come back with an EMPTY token array (the grouped
    tokens left-join back onto `docs`, coalesced to []), instead of
    silently dropping out of the result. Pass `id_col` naming a
    UNIQUE key to regroup by it alone; without one the regroup keys
    on ALL columns (matched back null-safely, so a NULL in any
    column keeps the row's tokens), and fully-duplicate doc rows
    collapse to one grouped row whose interleaved token array then
    fans back to each duplicate — give an id column when exact
    duplicates matter.

    Note: applies merges in table order (the fast "apply like you
    trained" rule); reference BPE encoders that re-rank pairs at
    encode time produce the same result when the table order is the
    training order, as here."""
    word = F.col("_word")
    rep = F.concat(
        F.lit(" "), F.rtrim(F.regexp_replace(word, "(.)", "$1  ")), F.lit(" ")
    )
    for m in merges:
        l, r = m[0], m[1]
        rep = F.replace(rep, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    key = [id_col] if id_col is not None else list(docs.columns)
    exploded = docs.select(
        *key, F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_i", "_word")
    ).filter(F.length("_word") > 0)
    toks = F.split(F.trim(rep), "  ")
    per_word = exploded.withColumn("_toks", toks)
    grouped = per_word.groupBy(*key).agg(
        F.flatten(F.array_sort(F.collect_list(F.struct("_i", "_toks")))["_toks"])
        .alias(out_col)
    )
    # null-safe per-key match: a NULL key column (e.g. a nullable lang
    # when id_col is omitted) must still find its own grouped row
    gk = [f"_bpe_k{i}" for i in range(len(key))]
    grouped = grouped.select(*[F.col(k).alias(a) for k, a in zip(key, gk)], out_col)
    cond = [F.col(k).eqNullSafe(F.col(a)) for k, a in zip(key, gk)]
    rest = [c for c in docs.columns if c not in key]
    return docs.join(grouped, cond, "left").select(
        *key, *rest,
        F.coalesce(F.col(out_col), F.array().cast("array<string>")).alias(out_col),
    )


def bpe_train_sql(
    n_merges: int,
    table: str = "documents",
    text_expr: str = "text",
) -> str:
    """Full-training-loop SQL replay: a generated CTE chain with one
    (pairs, best, words) stage per merge. Returns rows
    (step, left, right, pair_freq) matching bpe_train's merge table."""
    init = (
        f"w0 AS (SELECT ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g'))"
        " || ' ' AS w, CAST(COUNT(*) AS BIGINT) AS f FROM "
        f"(SELECT UNNEST(string_split_regex(trim({text_expr}), '\\s+')) AS word "
        f"FROM {table}) s WHERE length(word) > 0 GROUP BY word)"
    )
    stages = [init]
    selects = []
    for k in range(n_merges):
        stages.append(
            f"p{k} AS (SELECT t[i] AS l, t[i+1] AS r, f FROM "
            f"(SELECT string_split(trim(w), '  ') AS t, f FROM w{k}) s, "
            "UNNEST(generate_series(1, len(t) - 1)) AS g(i))"
        )
        stages.append(
            f"b{k} AS (SELECT l, r, CAST(SUM(f) AS BIGINT) AS cnt FROM p{k} "
            "GROUP BY l, r ORDER BY SUM(f) DESC, l ASC, r ASC LIMIT 1)"
        )
        stages.append(
            f"w{k + 1} AS (SELECT replace(w, ' ' || l || '  ' || r || ' ', "
            f"' ' || l || r || ' ') AS w, f FROM w{k}, b{k})"
        )
        selects.append(
            f"SELECT {k} AS step, l AS left_sym, r AS right_sym, cnt AS pair_freq FROM b{k}"
        )
    return "WITH " + ", ".join(stages) + " " + " UNION ALL ".join(selects)
