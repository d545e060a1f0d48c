"""Text analysis for large-scale training-data pipelines.

Language-ID (stopword n-gram heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and winnowing-style document
fingerprinting — all as native Column expressions over the
``documents`` table (no UDFs: split/filter/transform/aggregate are
JVM-side higher-order functions, so the hot path stays in whole-stage
codegen and scales linearly with input splits; the only shuffle in any
of these is the caller's).

Every function has a DuckDB mirror (``duck_*``) so the driver can
oracle-check it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkotel.functions.hashing import duck_h60, h60
from sparkotel.session import local_frame

# tiny deterministic stopword lists (the documents vocabulary is a
# synthetic word salad; 'the'/'a' dominate → mostly English)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "fr": ["le", "la", "et", "les", "un"],
    "es": ["el", "la", "y", "los", "una"],
}

TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish pre-tokenizer
SHINGLE_W = 5


def words(c: Column) -> Column:
    return F.split(c, " ")


def token_count_ws(c: Column) -> Column:
    """whitespace tokens"""
    return F.size(words(c)).cast("bigint")


def token_count_bpe(c: Column) -> Column:
    """regex pre-tokenizer count (letters / digits / punct runs)"""
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), F.lit(0))).cast("bigint")


def stopword_hits(c: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words(c), lambda t: F.array_contains(arr, t))).cast("bigint")


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    for lang in STOPWORDS:
        df = df.withColumn(f"hits_{lang}", stopword_hits(c, lang))
    return df


def lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """argmax stopword-hit language; deterministic tiebreak by the
    ordered language list; 'und' (undetermined) when no stopwords hit."""
    df = lang_scores(df, text_col)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in STOPWORDS])
    expr = F.when(best == 0, F.lit("und"))
    for lang in STOPWORDS:
        expr = expr.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return df.withColumn(out, expr)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length / punct ratio / stopword ratio / mean word length —
    the standard web-text quality heuristics (C4/Gopher-style)."""
    c = F.col(text_col)
    n_chars = F.length(c).cast("bigint")
    n_tokens = token_count_ws(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))).cast("bigint")
    n_stop = stopword_hits(c, "en")
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_tokens_bpe", token_count_bpe(c))
        # try_divide: ANSI integral `/` throws on an empty document
        # (n_chars=0); NULL matches the DuckDB oracle, where /0 is NULL
        .withColumn("punct_ratio", F.round(F.try_divide(n_punct, n_chars), 6))
        .withColumn("stopword_ratio", F.round(F.try_divide(n_stop, n_tokens), 6))
        .withColumn(
            "mean_word_len",
            F.round(F.try_divide(n_chars - n_tokens + 1, n_tokens), 6),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """single 0..1-ish score: stopword density up, punctuation down,
    degenerate-length down (rounded so both engines hash-match)."""
    df = quality_features(df, text_col)
    raw = (
        F.lit(0.5)
        + F.col("stopword_ratio") * 2.0
        - F.col("punct_ratio") * 4.0
        - F.when(F.col("n_tokens") < 10, 0.25).otherwise(0.0)
    )
    return df.withColumn(out, F.round(F.greatest(F.lit(0.0), F.least(F.lit(1.0), raw)), 6))


def lang_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """lang_id + quality_score in ONE projection sharing a single
    materialized word split (interpreted HOFs get no CSE, so the
    separate stages re-split the text 7x): 1.03 s → 0.73 s at
    500k docs/local[32], value-identical.  Formulas are the exact
    twins of quality_features/quality_score/lang_id — both paths are
    oracle-pinned (text_quality / corpus_keep_decision), so drift
    fails the driver gate."""
    c = F.col(text_col)
    base = df.withColumn("_w", words(c))
    ws = F.col("_w")
    cols = {}
    for lg in STOPWORDS:
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lg]])
        cols[f"hits_{lg}"] = F.size(
            F.filter(ws, lambda t: F.array_contains(arr, t))
        ).cast("bigint")
    n_chars = F.length(c).cast("bigint")
    n_tokens = F.size(ws).cast("bigint")
    n_punct = F.size(
        F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
    ).cast("bigint")
    out = (
        base.withColumns(cols)
        .withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "n_tokens_bpe",
            F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), F.lit(0))).cast(
                "bigint"
            ),
        )
        # try_divide: same empty-document ANSI guard as quality_features
        .withColumn("punct_ratio", F.round(F.try_divide(n_punct, n_chars), 6))
        .withColumn(
            "stopword_ratio", F.round(F.try_divide(F.col("hits_en"), n_tokens), 6)
        )
        .withColumn(
            "mean_word_len",
            F.round(F.try_divide(n_chars - n_tokens + 1, n_tokens), 6),
        )
    )
    raw = (
        F.lit(0.5)
        + F.col("stopword_ratio") * 2.0
        - F.col("punct_ratio") * 4.0
        - F.when(F.col("n_tokens") < 10, 0.25).otherwise(0.0)
    )
    out = out.withColumn(
        "quality", F.round(F.greatest(F.lit(0.0), F.least(F.lit(1.0), raw)), 6)
    )
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in STOPWORDS])
    expr = F.when(best == 0, F.lit("und"))
    for lg in STOPWORDS:
        expr = expr.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    return out.withColumn("lang_pred", expr).drop("_w")


def let_(val: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``val`` ONCE per
    row and pass the materialized value to ``body`` as a lambda
    variable.  Interpreted higher-order functions get no CSE, so an
    expression referenced inside a lambda re-evaluates per element —
    ``transform`` over a one-element array turns it into a slot read
    (one tiny array alloc per row).  Measured on shingles with inline
    ``words(text)``: 1.35 s → 0.33 s at 500k docs/local[32]."""
    return F.transform(F.array(val), body)[0]


def shingles_of_words(ws: Column, w: int = SHINGLE_W) -> Column:
    """word w-shingles from a pre-split word array (empty when < w).

    ``ws`` is let-bound, so passing an expression (e.g. ``words(c)``)
    costs one evaluation per row, not one per gram."""
    return let_(
        ws,
        lambda wsv: F.when(
            F.size(wsv) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(wsv) - (w - 1)),
                lambda i: F.concat_ws(" ", F.slice(wsv, i, w)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def shingles(c: Column, w: int = SHINGLE_W) -> Column:
    """word w-shingles as strings (empty array when fewer than w words)"""
    return shingles_of_words(words(c), w)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """winnowing-style rolling-hash fingerprint: the min/max 60-bit
    shingle hash + distinct shingle count per document.  One projection,
    no shuffle; at 100 TB this runs scan-speed.

    The shingle array is materialized once and read as a bound
    attribute — inlining it re-built the grams in each of the three
    consumers (no CSE for interpreted HOFs): 2.97 s → 1.70 s at
    500k docs/local[32], value-identical."""
    base = df.withColumn("_sh", shingles_of_words(words(F.col(text_col))))
    sh = F.col("_sh")
    hashes = F.transform(sh, h60)
    return (
        base.withColumn("fp_min", F.array_min(hashes))
        .withColumn("fp_max", F.array_max(hashes))
        .withColumn("n_shingles", F.size(F.array_distinct(sh)).cast("bigint"))
        .drop("_sh")
    )


# PII scrubbing: ordered regexp_replace chain (emails before IPs before
# phones — the phone pattern's char class would otherwise eat dotted
# IPs).  Patterns stay inside the Java-regex ∩ RE2 subset (no
# lookaround) so the DuckDB oracle runs them verbatim.  Pure projection,
# scan-speed at 100 TB; the per-type counts make redaction audits a
# groupBy away.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def pii_scrub(
    df: DataFrame, text_col: str = "text", out: str = "text_clean"
) -> DataFrame:
    """Replace PII spans with typed placeholders + count each type."""
    clean = F.col(text_col)
    counts = {}
    for name, pat, repl in PII_PATTERNS:
        counts[f"pii_{name}"] = F.regexp_count(clean, F.lit(pat)).cast("bigint")
        clean = F.regexp_replace(clean, pat, repl)
    return df.withColumns({**counts, out: clean})


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    max_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Token-window chunking for training-data prep: whitespace tokens,
    fixed window of ``max_tokens`` advancing by ``max_tokens − overlap``
    (the last window may be short; a document shorter than one window is
    one chunk).  Explodes to one row per (doc, chunk_index) — a
    generator, no shuffle; the 100-TB shape is scan → explode → sink."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    step = max_tokens - overlap
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)).cast("double") / F.lit(float(step)))
    ).cast("int")
    df = df.withColumn("_toks", toks).withColumn(
        "chunk_index", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_index") * step + 1, max_tokens)
    return (
        df.withColumn("chunk", F.array_join(piece, " "))
        .withColumn("chunk_tokens", F.size(piece).cast("bigint"))
        .drop("_toks")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    token_col: str = "chunk_tokens",
    order_cols: tuple[str, ...] = ("doc_id", "chunk_index"),
    n_shards: int = 8,
) -> DataFrame:
    """Concat-and-slice sequence packing (the standard GPT-style
    pretraining layout): within a shard, chunks are laid end-to-end in
    a deterministic order and cut into fixed ``seq_len`` sequences; a
    chunk that straddles a boundary is split across sequences (the
    attention mask downstream uses the per-piece offsets).  One row out
    per (chunk, sequence) piece.

    Scale shape: packing is per-shard (``hash-mod`` of the first order
    column), so the prefix-sum window parallelizes across shards
    instead of collapsing onto one partition; shard count is the
    write-side file parallelism.  One shuffle (the window), then a
    generator explode."""
    from pyspark.sql import Window

    shard = (F.col(order_cols[0]) % n_shards).cast("int")
    w = Window.partitionBy(shard).orderBy(*[F.col(c) for c in order_cols])
    tokens = F.col(token_col)
    cum_before = F.coalesce(
        F.sum(tokens).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    df = df.withColumns({"_shard": shard, "_off": cum_before})
    first_seq = F.floor(F.col("_off") / seq_len)
    last_seq = F.floor((F.col("_off") + tokens - 1) / seq_len)
    df = df.withColumn("seq_id", F.explode(F.sequence(first_seq, last_seq)))
    piece_begin = F.greatest(F.col("_off"), F.col("seq_id") * seq_len)
    piece_end = F.least(F.col("_off") + tokens, (F.col("seq_id") + 1) * seq_len)
    return df.select(
        F.col("_shard").alias("shard"),
        F.col("seq_id").cast("bigint"),
        *[F.col(c) for c in order_cols],
        (piece_begin - F.col("seq_id") * seq_len).cast("bigint").alias("seq_offset"),
        (piece_begin - F.col("_off")).cast("bigint").alias("chunk_offset"),
        (piece_end - piece_begin).cast("bigint").alias("piece_tokens"),
    )


# ---------------------------------------------------------------------------
# DuckDB mirrors
# ---------------------------------------------------------------------------

def _duck_stop_hits(col: str, lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(string_split({col}, ' '), t -> t IN ({lst})))"


def duck_lang_id(table: str = "documents") -> str:
    hits = ",\n    ".join(
        f"{_duck_stop_hits('text', lang)} AS hits_{lang}" for lang in STOPWORDS
    )
    when = " ".join(f"WHEN hits_{lang} = best THEN '{lang}'" for lang in STOPWORDS)
    return f"""
WITH s AS (SELECT doc_id, {hits} FROM {table}),
b AS (SELECT *, greatest(hits_en, hits_de, hits_fr, hits_es) AS best FROM s)
SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
       CASE WHEN best = 0 THEN 'und' {when} END AS lang_pred
FROM b
"""


def duck_quality(table: str = "documents") -> str:
    stop = _duck_stop_hits("text", "en")
    return f"""
WITH q AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len(string_split(text, ' ')) AS n_tokens,
    len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_tokens_bpe,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
    {stop} AS n_stop
  FROM {table}
)
SELECT doc_id, n_chars, n_tokens, n_tokens_bpe,
  round(n_punct / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
  round(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
  round((n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE), 6) AS mean_word_len,
  round(greatest(0.0, least(1.0,
    0.5 + round(n_stop / CAST(n_tokens AS DOUBLE), 6) * 2.0
        - round(n_punct / CAST(n_chars AS DOUBLE), 6) * 4.0
        - CASE WHEN n_tokens < 10 THEN 0.25 ELSE 0.0 END)), 6) AS quality
FROM q
"""


def duck_shingles(col: str = "text", w: int = SHINGLE_W) -> str:
    return (
        f"CASE WHEN len(string_split({col}, ' ')) >= {w} THEN "
        f"list_transform(range(1, len(string_split({col}, ' ')) - {w - 2}), "
        f"i -> array_to_string(string_split({col}, ' ')[i:i+{w - 1}], ' ')) "
        f"ELSE [] END"
    )


def duck_fingerprint(table: str = "documents") -> str:
    sh = duck_shingles()
    return f"""
WITH s AS (SELECT doc_id, {sh} AS sh FROM {table})
SELECT doc_id,
  list_min(list_transform(sh, s -> {duck_h60('s')})) AS fp_min,
  list_max(list_transform(sh, s -> {duck_h60('s')})) AS fp_max,
  len(list_distinct(sh)) AS n_shingles
FROM s
"""


# ---------------------------------------------------------------------------
# Gopher repetition rules (top-n-gram / duplicated-n-gram char fractions)
# ---------------------------------------------------------------------------

# the Gopher paper's repetition filters (Rae et al., "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", 2021 —
# public): fraction of characters inside (a) the single most frequent
# word n-gram for small n, (b) all word n-grams that occur more than
# once for larger n.  Char count of a gram = its rendered length
# including inter-word spaces; denominator = document char length.
REP_TOP_NS = (2, 3, 4)
REP_DUP_NS = (5, 10)


def _run_fold(sorted_grams: Column) -> Column:
    """fold a SORTED gram array into (best, dup) char totals —
    best = count*len of the MOST FREQUENT gram (argmax by (count, len),
    matching the explode/groupBy formulation: ties of (count, len) give
    equal products, so which gram wins is irrelevant), dup = sum of
    count*len over grams occurring more than once.  Single pass over
    adjacent runs; the '' sentinel can't collide (grams are non-empty).
    """
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        F.struct(zero.alias("c"), zero.alias("l")).alias("best"),
        zero.alias("dup"),
    )

    def _close_best(acc):
        return F.greatest(
            acc["best"],
            F.struct(
                acc["run"].alias("c"), F.length(acc["prev"]).cast("long").alias("l")
            ),
        )

    def _close_dup(acc):
        return acc["dup"] + F.when(
            acc["run"] > 1, acc["run"] * F.length(acc["prev"])
        ).otherwise(zero)

    def merge(acc, x):
        same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["best"]).otherwise(_close_best(acc)).alias("best"),
            F.when(same, acc["dup"]).otherwise(_close_dup(acc)).alias("dup"),
        )

    def finish(acc):
        b = _close_best(acc)
        return F.struct(
            (b["c"] * b["l"]).alias("best"), _close_dup(acc).alias("dup")
        )

    return F.aggregate(sorted_grams, init, merge, finish)


def repetition_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "arrow",
) -> DataFrame:
    """(doc, top{2,3,4}_char_frac, dup{5,10}_char_frac).

    Scale shape: a PURE PROJECTION — repetition metrics are
    per-document, so no row ever needs another row; zero shuffle under
    BOTH engines, scales linearly with input splits.

    ``engine='native'``: each n's gram array is array_sort'ed and
    folded over adjacent runs in one single pass (O(m log m) per doc, m
    bounded by document length); column pruning means consumers
    selecting fewer fractions skip those folds entirely (corpus_keep
    benched 3x faster from pruning alone).  Measured at
    500k docs/local[32]: explode-through-two-hash-aggregates form 12.7 s
    + a ~230-gram-strings-per-doc shuffle; the fold form with per-fold
    re-split 8.6 s; this two-projection form (word array materialized
    ONCE, the five folds read it as a bound attribute — interpreted
    HOFs get no CSE, so inlining ``words(text)`` re-split the text in
    every fold) 3.2 s, value-identical.  The remaining cost is the
    per-gram slice+concat inside the interpreted transform; an
    incremental zip_with gram chain re-evaluates shared subtrees and
    benched slower.

    Hash-domain folds were tried and REVERTED (r5, value-identical both
    times): carrying (rotate-xor-of-xxhash64, char-len) structs instead
    of gram strings — per-word hash/len arrays built once, per-gram
    ``aggregate`` over a long slice — benched 3.4 s vs 2.6 s for this
    form in the same session (two slices+aggregates per gram), and the
    single-zipped-aggregate variant 3.2 s vs 2.4 s.  The interpreted
    ``aggregate`` lambda machinery per gram costs more than one native
    ``slice``+``concat_ws`` call pair; string compares in ``array_sort``
    are not the bottleneck at this gram length.

    ``engine='arrow'``: Arrow-batched ``mapInPandas`` running the
    vectorized factorize-chain kernel (``_repetition_kernel``) — one
    word-level factorize per batch, then gram identities built
    incrementally by packing (gram-of-(m-1) id << 31 | next word id)
    and re-factorizing, so each n ∈ {2,3,4,5,10} is counted with one
    int64 sort instead of per-gram string building.  Value-identical to
    the native fold on every fixture and adversarial shape
    (tests/test_scale_features.py); still a per-partition map — zero
    shuffle, no driver involvement.

    Default is ``arrow`` by measurement (r5, interleaved best-of-3 at
    500k docs/local[32], identical cached input): full five-column
    materialization 23.4 s vs 127.2 s native (5.4×); corpus_keep end to
    end 35.1 s vs 145.6 s (4.2×).  ``native`` remains the zero-Python
    path for callers that prune to a subset of fractions (the Column
    form skips unused folds entirely; the kernel always computes all
    five).
    """
    if engine == "arrow":
        return _repetition_arrow(df, id_col, text_col)
    if engine != "native":
        raise ValueError(f"unknown engine: {engine!r} (native|arrow)")
    c = F.col(text_col)
    base = df.select(
        F.col(id_col),
        F.length(c).cast("bigint").alias("_n_chars"),
        words(c).alias("_words"),
    )
    ws, n_chars = F.col("_words"), F.col("_n_chars")
    cols = [F.col(id_col)]
    # try_divide: under ANSI (Spark 4 default) integral `/` THROWS on a
    # zero divisor — an empty document must not kill the job; NULL → 0.0
    # also matches the SQL oracle (no gram rows → LEFT JOIN NULL → 0.0)
    for n in REP_TOP_NS:
        r = _run_fold(F.array_sort(shingles_of_words(ws, n)))
        cols.append(
            F.coalesce(F.round(F.try_divide(r["best"], n_chars), 6), F.lit(0.0)).alias(
                f"top{n}_char_frac"
            )
        )
    for n in REP_DUP_NS:
        r = _run_fold(F.array_sort(shingles_of_words(ws, n)))
        cols.append(
            F.coalesce(F.round(F.try_divide(r["dup"], n_chars), 6), F.lit(0.0)).alias(
                f"dup{n}_char_frac"
            )
        )
    return base.select(*cols)


def _repetition_kernel(pdf, id_col: str, text_col: str):
    """Vectorized per-batch twin of the native repetition fold.

    Exactness contract (mirrors the Column form line by line):
    words = text.split(" ") (keeps empties — Java split limit -1);
    gram char len = sum(word lens) + (n-1); best = lexicographic max of
    (count, len) over distinct grams, then product; dup = Σ count·len
    over grams with count > 1; frac = coalesce(round(try_divide(x,
    n_chars), 6 HALF_UP), 0.0) — NULL/empty text → 0.0.

    Gram identity is exact, not hashed: one word-level ``pd.factorize``
    per batch, then gram-of-m ids are built by packing
    (gram-of-(m-1) id << 31 | next word id) into int64 and
    re-factorizing — injective while ids stay below 2³¹ (asserted; an
    Arrow batch of ~10⁴ docs has ~10⁶ gram positions).  Counting a
    level is then one int64 argsort + run-length encode.
    """
    import numpy as np
    import pandas as pd

    from sparkotel.rounding import round_half_up6 as _round6

    texts = pdf[text_col]
    ndocs = len(texts)
    null = texts.isna().to_numpy()
    word_lists = [[] if null[i] else t.split(" ") for i, t in enumerate(texts)]
    counts = np.fromiter((len(w) for w in word_lists), dtype=np.int64, count=ndocs)
    total = int(counts.sum())
    out = {id_col: pdf[id_col].to_numpy()}
    n_chars = np.array(
        [0.0 if null[i] else float(len(t)) for i, t in enumerate(texts)]
    )
    zero = null | (n_chars == 0)  # try_divide: zero divisor → NULL → 0.0

    want = sorted({*REP_TOP_NS, *REP_DUP_NS})
    results: dict[int, tuple] = {}
    if total:
        flat = [w for ws in word_lists for w in ws]
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        codes = codes.astype(np.int64)
        ulens = np.fromiter(
            (len(u) for u in uniques), dtype=np.int64, count=len(uniques)
        )
        gdoc = np.repeat(np.arange(ndocs, dtype=np.int64), counts)
        cl = np.concatenate([[0], np.cumsum(ulens[codes])])
        cur = codes  # gram-of-1 id at each start position
        for m in range(2, max(want) + 1):
            length = total - (m - 1)
            if length <= 0:
                cur = cur[:0]
            else:
                assert (
                    cur[:length].max(initial=0) < (1 << 31)
                    and codes.max(initial=0) < (1 << 31)
                ), "factorize-chain id overflow; shrink the Arrow batch"
                packed = (cur[:length] << 31) | codes[m - 1 : m - 1 + length]
                cur = pd.factorize(packed)[0].astype(np.int64)
            if m not in want:
                continue
            length = len(cur)
            valid = gdoc[:length] == gdoc[m - 1 : m - 1 + length]
            gid = cur[valid]
            if len(gid) == 0:
                results[m] = (np.zeros(ndocs, np.int64), np.zeros(ndocs, np.int64))
                continue
            docidx = gdoc[:length][valid]
            starts_idx = np.flatnonzero(valid)
            glen_all = cl[starts_idx + m] - cl[starts_idx] + (m - 1)
            key = gid * np.int64(ndocs) + docidx
            order = np.argsort(key, kind="stable")
            sk = key[order]
            boundary = np.concatenate([[True], sk[1:] != sk[:-1]])
            starts = np.flatnonzero(boundary)
            cnts = np.diff(np.append(starts, len(sk)))
            glen = glen_all[order][starts]
            gd = docidx[order][starts]
            big = np.int64(glen.max(initial=0) + 1)
            best = np.zeros(ndocs, np.int64)
            np.maximum.at(best, gd, cnts * big + glen)  # lex-max (count, len)
            dup = np.zeros(ndocs, np.int64)
            dmask = cnts > 1
            np.add.at(dup, gd[dmask], cnts[dmask] * glen[dmask])
            results[m] = ((best // big) * (best % big), dup)
    else:
        for m in want:
            results[m] = (np.zeros(ndocs, np.int64), np.zeros(ndocs, np.int64))

    for which, ns in ((0, REP_TOP_NS), (1, REP_DUP_NS)):
        pre = "top" if which == 0 else "dup"
        for n in ns:
            num = results[n][which]
            out[f"{pre}{n}_char_frac"] = [
                0.0 if zero[i] else _round6(num[i] / n_chars[i])
                for i in range(ndocs)
            ]
    return pd.DataFrame(out)


def _repetition_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """mapInPandas arm of ``repetition_features`` — see its docstring."""
    id_type = df.schema[id_col].dataType.simpleString()
    frac_cols = [f"top{n}_char_frac" for n in REP_TOP_NS] + [
        f"dup{n}_char_frac" for n in REP_DUP_NS
    ]
    schema = f"{id_col} {id_type}, " + ", ".join(f"{c} double" for c in frac_cols)

    def run(batches):
        for pdf in batches:
            yield _repetition_kernel(pdf, id_col, text_col)

    return df.select(id_col, text_col).mapInPandas(run, schema)


def duck_repetition(table: str = "documents") -> str:
    ns = (*REP_TOP_NS, *REP_DUP_NS)
    arms = "\nUNION ALL\n".join(
        f"SELECT doc_id, n_chars, {n} AS n, unnest({duck_shingles('text', n)}) AS g "
        f"FROM d"
        for n in ns
    )
    tops = ",\n  ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN "
        f"round(top.c * top.l / CAST(p.n_chars AS DOUBLE), 6) END), 0.0) "
        f"AS top{n}_char_frac"
        for n in REP_TOP_NS
    )
    dups = ",\n  ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN "
        f"round(dup_chars / CAST(p.n_chars AS DOUBLE), 6) END), 0.0) "
        f"AS dup{n}_char_frac"
        for n in REP_DUP_NS
    )
    return f"""
WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, text FROM {table}),
g AS ({arms}),
c AS (SELECT doc_id, n_chars, n, g, count(*) AS cnt FROM g GROUP BY doc_id, n_chars, n, g),
p AS (
  SELECT doc_id, n_chars, n,
         max({{'c': cnt, 'l': length(g), 'g': g}}) AS top,
         sum(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END) AS dup_chars
  FROM c GROUP BY doc_id, n_chars, n
)
SELECT d.doc_id,
  {tops},
  {dups}
FROM d LEFT JOIN p ON d.doc_id = p.doc_id
GROUP BY d.doc_id
"""


def _dup_fold(sorted_elems: Column) -> Column:
    """fold a SORTED element array into (dcnt, dchars) duplicate totals —
    dcnt = number of elements in runs longer than one (ALL occurrences,
    the same convention as ``_run_fold``'s dup arm), dchars = sum of
    count*len over those runs.  Single pass over adjacent runs; the ''
    sentinel can't collide (callers filter empty elements)."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("dcnt"),
        zero.alias("dchars"),
    )

    def _close(acc):
        dup = acc["run"] > 1
        return (
            acc["dcnt"] + F.when(dup, acc["run"]).otherwise(zero),
            acc["dchars"]
            + F.when(dup, acc["run"] * F.length(acc["prev"])).otherwise(zero),
        )

    def merge(acc, x):
        same = x == acc["prev"]
        cnt, chars = _close(acc)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["dcnt"]).otherwise(cnt).alias("dcnt"),
            F.when(same, acc["dchars"]).otherwise(chars).alias("dchars"),
        )

    def finish(acc):
        cnt, chars = _close(acc)
        return F.struct(cnt.alias("dcnt"), chars.alias("dchars"))

    return F.aggregate(sorted_elems, init, merge, finish)


def line_dup_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher paper's OTHER four repetition signals (Rae et al. 2021,
    Table A1 — public): fraction of duplicate LINES / PARAGRAPHS per
    document, by count and by character mass.  Complements
    ``repetition_features`` (which covers the word-n-gram arms); the
    standard web-corpus thresholds drop docs with dup-line frac > 0.30,
    dup-paragraph frac > 0.30, or dup char fracs > 0.20.

    Structure is literal: lines split on ``\\n``, paragraphs on runs of
    two-or-more newlines (``\\n{2,}``) — a paragraph keeps its interior
    single newlines, so its char length counts them; normalize CRLF
    upstream.  Empty elements are dropped from both counts.  "Duplicate"
    counts ALL occurrences of any element appearing more than once
    within the document (same convention as the dup-n-gram arm).  Char
    denominators use the full document length, count denominators the
    non-empty element count; empty/NULL text → 0.0 everywhere
    (``try_divide``: a zero divisor must not kill the job under ANSI).

    Scale shape: a PURE PROJECTION like ``repetition_features`` — two
    splits, two array_sorts, two single-pass folds per document, no row
    needs another row, zero shuffle, linear in input splits.
    """
    c = F.col(text_col)
    nonempty = lambda arr: F.filter(arr, lambda s: s != "")  # noqa: E731
    n_chars = F.length(c).cast("bigint")
    out = [F.col(id_col)]
    for name, sep in (("line", r"\n"), ("para", r"\n{2,}")):
        elems = nonempty(F.split(c, sep))
        r = _dup_fold(F.array_sort(elems))
        out.append(
            F.coalesce(
                F.round(F.try_divide(r["dcnt"], F.size(elems)), 6), F.lit(0.0)
            ).alias(f"dup_{name}_frac")
        )
        out.append(
            F.coalesce(
                F.round(F.try_divide(r["dchars"], n_chars), 6), F.lit(0.0)
            ).alias(f"dup_{name}_char_frac")
        )
    return df.select(*out)


def lined_text(c: Column) -> Column:
    """Deterministic multi-line rendering of the fixture's flat word-soup
    text, so line/paragraph structure exists to measure: every word is
    emitted with a following separator — a paragraph break after the
    sentence-final stand-in word ``table``, a line break after any other
    word ending in ``e``, a space otherwise.  Content-derived (not
    positional) so repeated word runs become repeated lines.  Mirrored
    verbatim in ``duck_lined_text``."""
    ws = F.filter(words(F.coalesce(c, F.lit(""))), lambda w: w != "")
    return F.array_join(
        F.transform(
            ws,
            lambda w: F.concat(
                w,
                F.when(w == "table", F.lit("\n\n"))
                .when(w.endswith("e"), F.lit("\n"))
                .otherwise(F.lit(" ")),
            ),
        ),
        "",
    )


def duck_lined_text(col: str = "text") -> str:
    """DuckDB twin of ``lined_text`` (1-element lambdas; LIKE '%e')."""
    return (
        f"list_aggregate(list_transform("
        f"list_filter(string_split(coalesce({col}, ''), ' '), w -> w <> ''),"
        f" w -> w || CASE WHEN w = 'table' THEN chr(10)||chr(10)"
        f" WHEN w LIKE '%e' THEN chr(10) ELSE ' ' END), 'string_agg', '')"
    )


def duck_line_dup(table: str = "documents") -> str:
    arms = []
    for name, sep in (("line", r"\n"), ("para", r"\n{2,}")):
        arms.append(
            f"{name}s AS (SELECT doc_id, e FROM (SELECT doc_id,"
            f" unnest(string_split_regex(t, '{sep}')) AS e FROM d) WHERE e <> ''),\n"
            f"{name}c AS (SELECT doc_id, e, count(*) AS c, length(e) AS len"
            f" FROM {name}s GROUP BY doc_id, e),\n"
            f"{name}a AS (SELECT doc_id, sum(c) AS n,"
            f" sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dcnt,"
            f" sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dchars"
            f" FROM {name}c GROUP BY doc_id)"
        )
    return f"""
WITH d AS (SELECT doc_id, {duck_lined_text('text')} AS t FROM {table}),
{",".join(arms)}
SELECT d.doc_id,
  coalesce(round(linea.dcnt / CAST(linea.n AS DOUBLE), 6), 0.0) AS dup_line_frac,
  coalesce(round(linea.dchars / CAST(length(d.t) AS DOUBLE), 6), 0.0) AS dup_line_char_frac,
  coalesce(round(paraa.dcnt / CAST(paraa.n AS DOUBLE), 6), 0.0) AS dup_para_frac,
  coalesce(round(paraa.dchars / CAST(length(d.t) AS DOUBLE), 6), 0.0) AS dup_para_char_frac
FROM d LEFT JOIN linea USING (doc_id) LEFT JOIN paraa USING (doc_id)
"""


def source_mix_sample(
    df: DataFrame,
    weights: dict,
    target_ppm: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "mix-v1",
) -> DataFrame:
    """Deterministic source-weighted subsampling — the pretraining
    MIXTURE step (The Pile, Gao et al. 2020; Dolma, Soldaini et al.
    2024: each source gets a target share of the output corpus, not of
    the input).  ``weights`` maps source → target share of the OUTPUT
    in ppm; ``target_ppm`` is the output size as ppm of the input
    corpus.  Per-source keep rate (ppm) =
    ``min(1e6, floor(T * target_ppm * w_s / (1e6 * n_s)))`` — an
    over-subscribed source (target share larger than the source) is
    capped at taking every row.  A document keeps iff
    ``h60(salt ‖ id) % 1e6 < rate_ppm`` — the same salted-hash
    Bernoulli-by-threshold discipline as ``train_shards``, so the
    sample is reproducible and grows monotonically with target_ppm.
    Sources absent from ``weights`` rate 0 and drop.

    The rate arithmetic runs in DOUBLE with one explicit evaluation
    order (T·target·w then ÷ 1e6·n_s): at T = 10^12 the numerator
    (~10^24) rounds at 1 ulp ≈ 10^8, a relative error ~1e-16 on a
    quotient ≤ 1e6 — the floor can flip only on exact-boundary
    configs, and both engines perform the identical IEEE ops so the
    oracle stays bit-equal regardless.

    Scale shape: per-source counts are ONE combinable shuffle
    (#sources rows survive); the total is a one-row aggregate OF those
    counts (re-planning that tiny aggregate under the broadcast is
    free, unlike ``lm_surprisal``'s corpus-sized case); the rate table
    is #sources rows joined back UNHINTED — AQE broadcasts it; the
    keep predicate is a pure projection.
    """
    from sparkotel.functions.hashing import h60

    _check_mix_config(weights, salt)
    wmap = F.create_map(
        *[x for k, v in weights.items() for x in (F.lit(k), F.lit(int(v)))]
    )
    counts = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_s")
    )
    total = counts.agg(F.sum("_n_s").cast("bigint").alias("_t"))
    rates = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("_w", F.coalesce(wmap[F.col(source_col)], F.lit(0)))
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(1_000_000).cast("bigint"),
                F.floor(
                    F.col("_t").cast("double")
                    * F.lit(float(target_ppm))
                    * F.col("_w").cast("double")
                    / (F.lit(1_000_000.0) * F.col("_n_s").cast("double"))
                ).cast("bigint"),
            ),
        )
        .select(source_col, "rate_ppm")
    )
    keep = (
        F.pmod(
            h60(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
            F.lit(1_000_000),
        )
        < F.col("rate_ppm")
    )
    return (
        df.join(rates, source_col)
        .filter(keep)
        .select(F.col(id_col), F.col(source_col), F.col("rate_ppm"))
    )


def _check_mix_config(weights: dict, salt: str) -> None:
    """Shared plan-time validation so the Spark and DuckDB twins reject
    the same configs: an empty weight table would render invalid SQL
    (``VALUES`` with no rows) on the oracle side, and a quote in a
    source name or salt would break the SQL string literal while the
    Spark side silently accepted it."""
    if not weights:
        raise ValueError("source_mix_sample: weights must name >= 1 source")
    bad = [k for k in [*weights, salt] if "'" in str(k)]
    if bad:
        raise ValueError(f"source_mix_sample: quote in source/salt: {bad!r}")


def duck_source_mix_sample(
    weights: dict,
    target_ppm: int,
    salt: str = "mix-v1",
    table: str = "documents",
) -> str:
    from sparkotel.functions.hashing import duck_h60

    _check_mix_config(weights, salt)
    vals = ", ".join(f"('{k}', {int(v)})" for k, v in weights.items())
    h = duck_h60(f"'{salt}' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM {table} GROUP BY source),
t AS (SELECT CAST(sum(n_s) AS BIGINT) AS tt FROM c),
w(source, w) AS (VALUES {vals}),
r AS (
  SELECT c.source,
    least(1000000, CAST(floor(CAST(tt AS DOUBLE) * {float(target_ppm)}
      * CAST(coalesce(w.w, 0) AS DOUBLE) / (1000000.0 * CAST(n_s AS DOUBLE)))
      AS BIGINT)) AS rate_ppm
  FROM c CROSS JOIN t LEFT JOIN w USING (source)
)
SELECT d.doc_id, d.source, r.rate_ppm
FROM {table} d JOIN r USING (source)
WHERE {h} % 1000000 < rate_ppm
"""


# CCNet (Wenzek et al., LREC 2020) hashes NORMALIZED text when grouping
# duplicates: lowercase, accents stripped, every digit mapped to 0,
# whitespace runs collapsed.  The accent table is explicit (not a
# library call) so the Spark and DuckDB twins translate byte-for-byte
# the same; it covers the NFD-decomposable Latin-1 lowercase letters —
# lowering happens FIRST, so uppercase accents fold through it too.
# ø/æ/ð/þ have no combining-mark decomposition, so a unicodedata-based
# strip-accents leaves them unchanged and so does this table.
_ACCENT_FROM = "àáâãäåèéêëìíîïòóôõöùúûüýÿñç"
_ACCENT_TO = "aaaaaaeeeeiiiiooooouuuuyync"
assert len(_ACCENT_FROM) == len(_ACCENT_TO)


def normalize_for_dedup(c: Column) -> Column:
    """CCNet-style dedup-key normalization; see the table note above.
    A pure string projection — apply before ``exact_dedup`` / minhash
    shingling so case/accent/digit/spacing variants of the same page
    land in the same duplicate group."""
    t = F.translate(F.lower(c), _ACCENT_FROM, _ACCENT_TO)
    t = F.regexp_replace(t, "[0-9]", "0")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def duck_normalize_for_dedup(col: str = "text") -> str:
    return (
        f"trim(regexp_replace(regexp_replace(translate(lower({col}),"
        f" '{_ACCENT_FROM}', '{_ACCENT_TO}'),"
        f" '[0-9]', '0', 'g'), '\\s+', ' ', 'g'))"
    )


# Rae et al. 2021 (Gopher), Table A1: the document must contain at
# least two of these words to survive the stop-word rule.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    required: tuple = GOPHER_REQUIRED_STOPWORDS,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The COMPLETE published Gopher quality-rule battery (Rae et al.
    2021, Table A1) as one projection — the signals ``quality_features``
    (length/punct/stopword-density) and ``repetition_features`` /
    ``line_dup_features`` (repetition) do not cover:

    - word count in [min_words, max_words] (paper: 50 .. 100k)
    - mean word length in [3, 10] characters
    - symbol-to-word ratio <= 0.1 for EACH of ``#`` and ellipsis
      (the paper applies the threshold to either symbol separately)
    - fraction of lines starting with a bullet (``- ``/``* ``/``• ``)
      <= 0.9
    - fraction of lines ending with an ellipsis (``...``/``…``) <= 0.3
    - >= 80% of words contain at least one alphabetic character
    - document contains >= 2 of the ``required`` stop words

    Words split on any whitespace run (so the multi-line unit and the
    word unit stay consistent); lines on ``\\n``; empty elements drop
    from both.  Ratios are rounded to 6 places and the ``keep`` verdict
    is computed FROM the rounded values, so the boolean is bit-stable
    across engines.  Empty/NULL text → NULL ratios and keep = false.

    Scale shape: a PURE PROJECTION — two splits + bounded per-row
    folds, zero shuffle, linear in input splits.
    """
    c = F.col(text_col)
    base = df.withColumns(
        {
            "_ws": F.filter(F.split(c, r"\s+"), lambda w: w != ""),
            "_lines": F.filter(F.split(c, r"\n"), lambda l: l != ""),
        }
    )
    ws, lines = F.col("_ws"), F.col("_lines")
    n_words = F.size(ws).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    word_chars = F.aggregate(
        ws, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    n_hash = F.size(F.regexp_extract_all(c, F.lit("#"), F.lit(0))).cast("bigint")
    n_ellsym = F.size(
        F.regexp_extract_all(c, F.lit(r"\.\.\.|…"), F.lit(0))
    ).cast("bigint")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("• "),
        )
    ).cast("bigint")
    n_ell = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    ).cast("bigint")
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("bigint")
    n_req = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in required]),
            lambda s: F.array_contains(ws, s),
        )
    ).cast("bigint")
    mean_wl = F.round(F.try_divide(word_chars, n_words), 6)
    hash_r = F.round(F.try_divide(n_hash, n_words), 6)
    ellsym_r = F.round(F.try_divide(n_ellsym, n_words), 6)
    bullet_r = F.round(F.try_divide(n_bullet, n_lines), 6)
    ell_r = F.round(F.try_divide(n_ell, n_lines), 6)
    alpha_r = F.round(F.try_divide(n_alpha, n_words), 6)
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (hash_r <= 0.1)
        & (ellsym_r <= 0.1)
        & (bullet_r <= 0.9)
        & (ell_r <= 0.3)
        & (alpha_r >= 0.8)
        & (n_req >= 2)
    )
    return base.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        hash_r.alias("hash_word_ratio"),
        ellsym_r.alias("ellipsis_word_ratio"),
        bullet_r.alias("bullet_line_frac"),
        ell_r.alias("ellipsis_line_frac"),
        alpha_r.alias("alpha_word_frac"),
        n_req.alias("n_required_stopwords"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def duck_gopher_rules(
    inner: str,
    required: tuple = GOPHER_REQUIRED_STOPWORDS,
    min_words: int = 50,
    max_words: int = 100_000,
) -> str:
    """Oracle twin over ``inner`` = a subquery yielding (doc_id, text)."""
    req = ", ".join(f"'{s}'" for s in required)
    return f"""
WITH src AS ({inner}),
b AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws,
    list_filter(string_split_regex(text, '\\n'), l -> l <> '') AS lines,
    len(regexp_extract_all(text, '#')) AS n_hash,
    len(regexp_extract_all(text, '\\.\\.\\.|…')) AS n_ellsym
  FROM src
),
m AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    round(coalesce(list_aggregate(list_transform(ws, w -> length(w)), 'sum'), 0)
          / CAST(nullif(len(ws), 0) AS DOUBLE), 6) AS mean_word_len,
    round(n_hash / CAST(nullif(len(ws), 0) AS DOUBLE), 6) AS hash_word_ratio,
    round(n_ellsym / CAST(nullif(len(ws), 0) AS DOUBLE), 6) AS ellipsis_word_ratio,
    round(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %'))
          / CAST(nullif(len(lines), 0) AS DOUBLE), 6) AS bullet_line_frac,
    round(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…'))
          / CAST(nullif(len(lines), 0) AS DOUBLE), 6) AS ellipsis_line_frac,
    round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
          / CAST(nullif(len(ws), 0) AS DOUBLE), 6) AS alpha_word_frac,
    CAST(len(list_filter([{req}], s -> list_contains(ws, s))) AS BIGINT)
      AS n_required_stopwords
  FROM b
)
SELECT doc_id, n_words, mean_word_len, hash_word_ratio, ellipsis_word_ratio,
  bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_required_stopwords,
  coalesce(n_words >= {min_words} AND n_words <= {max_words}
    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
    AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
    AND bullet_line_frac <= 0.9
    AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
    AND n_required_stopwords >= 2, false) AS keep
FROM m
"""


def host_boilerplate_scrub(
    df: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pages: int = 2,
) -> DataFrame:
    """Remove host-scoped boilerplate LINES: any non-empty line present
    in >= ``min_pages`` DISTINCT pages of the same host is nav/footer/
    cookie-banner chrome, not content — the line-level cleaning step
    CCNet applies per shard (Wenzek et al., LREC 2020, which drops
    duplicated paragraphs before LM scoring) and WET-style extractors
    apply per site.  Complements ``scrub_repeated_spans`` (corpus-wide
    word grams) with the web-specific unit: same-site repeated lines.

    Returns (id, host, clean_text, n_lines_removed).  Empty lines are
    never eligible (they would match across every page) and are kept,
    so surviving structure is byte-stable; a line repeated WITHIN one
    page only is kept (distinct-page count, not occurrence count).

    Scale shape (mirrors ``scrub_repeated_spans``): lines explode as a
    projection; the (host, line) page count is one combinable hash
    aggregate — keyed by host+line, so one site's chrome never
    concentrates on a task; the flagged set is the OUTPUT of a
    frequency filter (aggregate-sized per host) joined back by key,
    unhinted so AQE broadcasts it only when actually small; per-doc
    drop positions are a bounded collect_list (<= lines per doc); the
    rewrite is a pure indexed array filter on the original row — the
    document body itself is never reassembled through a shuffle.
    """
    arr = F.split(F.col(text_col), r"\n")
    lines = df.select(
        F.col(host_col).alias("h"),
        F.col(id_col).alias("id"),
        F.posexplode(arr).alias("pos", "l"),
    ).filter(F.col("l") != "")
    flagged = (
        lines.groupBy("h", "l")
        .agg(F.count_distinct("id").alias("npages"))
        .filter(F.col("npages") >= min_pages)
        .select("h", "l")
    )
    hits = (
        lines.join(flagged, ["h", "l"])
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("drops"))
    )
    joined = df.join(hits, df[id_col] == hits["id"], "left")
    drops = F.coalesce(F.col("drops"), F.array().cast("array<int>"))
    # posexplode positions are 0-based; Spark's indexed lambda i is too
    clean = F.filter(arr, lambda x, i: ~F.array_contains(drops, i))
    return joined.select(
        F.col(id_col),
        F.col(host_col),
        # concat_ws would swallow a NULL array into '' — keep NULL text
        # NULL so the DuckDB twin's array_to_string(NULL) stays equal
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws("\n", clean))
        .alias("clean_text"),
        (F.size(arr) - F.size(clean)).cast("bigint").alias("n_lines_removed"),
    )


def duck_host_boilerplate(inner: str, min_pages: int = 2) -> str:
    """Oracle twin over ``inner`` = a subquery yielding
    (doc_id, host, text).  DuckDB list positions are 1-based where
    Spark's posexplode/indexed lambdas are 0-based — generate_subscripts
    minus one keeps the drop sets identical."""
    return f"""
WITH src AS ({inner}),
d AS (SELECT doc_id, host, string_split(text, chr(10)) AS arr FROM src),
ln AS (
  SELECT doc_id, host, t.l AS l, t.pos AS pos FROM (
    SELECT doc_id, host,
      unnest(list_transform(arr, (x, i) -> {{'l': x, 'pos': i - 1}})) AS t
    FROM d) WHERE t.l <> ''
),
fl AS (SELECT host, l FROM ln GROUP BY host, l
       HAVING count(DISTINCT doc_id) >= {min_pages}),
hits AS (SELECT doc_id, list_sort(list(pos)) AS drops
         FROM ln JOIN fl USING (host, l) GROUP BY doc_id),
fin AS (
  SELECT d.doc_id, d.host, arr,
    list_filter(arr, (x, i) -> NOT list_contains(coalesce(drops, []), i - 1)) AS cl
  FROM d LEFT JOIN hits USING (doc_id)
)
SELECT doc_id, host, array_to_string(cl, chr(10)) AS clean_text,
  CAST(len(arr) - len(cl) AS BIGINT) AS n_lines_removed
FROM fin
"""


# ---------------------------------------------------------------------------
# cross-document repeated-span scrubbing (ExactSubstr-flavored)
# ---------------------------------------------------------------------------


def scrub_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = SHINGLE_W,
    min_docs: int = 2,
) -> DataFrame:
    """Remove cross-document boilerplate spans: any word w-gram present
    in >= ``min_docs`` DISTINCT documents is treated as duplicated
    training text (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22 — the suffix-array ExactSubstr idea
    re-expressed as a distributed n-gram frequency join), and every
    word covered by a flagged occurrence is dropped from the document.

    Returns (id, clean_text, n_words_removed).

    Scale shape: an explode to (id, pos, gram) — derived twice (once
    under the frequency count, once under the hits join) because
    re-deriving a projection at scan-speed beats materializing a
    gram-per-word blowup of a 100 TB corpus; distinct-doc counts
    per gram are two combinable hash aggregates; flagged grams join
    back by key (the flagged set is the OUTPUT of a frequency filter,
    so a hot boilerplate gram costs one aggregate row — not a fan-out);
    per-doc start positions are a bounded collect_list (<= grams per
    doc); the rewrite is a pure projection (indexed array filter, JVM
    codegen).  Grams shuffle as strings for oracle-exactness — swap
    ``g`` for ``h60(g)`` to halve shuffle width when collisions are
    acceptable.
    """
    empty = F.array().cast("array<struct<pos:int,g:string>>")
    gram_structs = let_(
        words(F.col(text_col)),
        lambda ws: F.when(
            F.size(ws) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (w - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    F.concat_ws(" ", F.slice(ws, i, w)).alias("g"),
                ),
            ),
        ).otherwise(empty),
    )
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(gram_structs).alias("t"),
    ).select("id", "t.pos", "t.g")
    flagged = (
        grams.groupBy("g")
        .agg(F.count_distinct("id").alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("g")
    )
    hits = (
        grams.join(flagged, "g")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    joined = df.join(hits, df[id_col] == hits["id"], "left")
    ws = words(F.col(text_col))
    starts = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    # Spark's indexed lambda i is 0-based; starts are 1-based word
    # positions covering [p, p + w - 1]
    clean = F.filter(
        ws,
        lambda x, i: ~F.exists(
            starts, lambda p: (p <= i + 1) & (i + 1 <= p + (w - 1))
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", clean).alias("clean_text"),
        (F.size(ws) - F.size(clean)).cast("bigint").alias("n_words_removed"),
    )


def duck_scrub_repeated_spans(
    table: str = "documents", w: int = SHINGLE_W, min_docs: int = 2
) -> str:
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {table}),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(ws) - {w} + 2),
           i -> {{'pos': i, 'gr': array_to_string(ws[i:i+{w - 1}], ' ')}})) AS t
  FROM d
),
g2 AS (SELECT doc_id, t.pos AS pos, t.gr AS gr FROM g),
fl AS (SELECT gr FROM g2 GROUP BY gr HAVING count(DISTINCT doc_id) >= {min_docs}),
hits AS (
  SELECT doc_id, list_sort(list(pos)) AS starts
  FROM g2 JOIN fl USING (gr) GROUP BY doc_id
),
fin AS (
  SELECT d.doc_id, ws,
    list_filter(ws, (x, i) ->
      len(list_filter(coalesce(starts, []),
          p -> p <= i AND i <= p + {w - 1})) = 0) AS cl
  FROM d LEFT JOIN hits USING (doc_id)
)
SELECT doc_id, coalesce(array_to_string(cl, ' '), '') AS clean_text,
  CAST(len(ws) - len(cl) AS BIGINT) AS n_words_removed
FROM fin
"""


# ---------------------------------------------------------------------------
# corpus keep/drop decision (the filter-stage composition)
# ---------------------------------------------------------------------------


def corpus_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.6,
    max_top2: float = 0.11,
    max_dup5: float = 0.3,
    repetition: DataFrame | None = None,
) -> DataFrame:
    """(id, drop_reason, keep): the per-document decision a training-
    corpus filter stage exports — first failing rule wins, in the order
    a real pipeline evaluates them (cheap and high-precision first):
    exact duplicate (non-minimal id of an identical-text group) →
    wrong language → low quality score → Gopher repetition rules.

    Scale shape: one md5-keyed groupBy for exact-dup keepers (combinable;
    identical-text floods cost one reduce row), the repetition
    aggregates from ``repetition_features``, and everything else pure
    projections; joins are id/hash equi-joins.

    ``repetition``: an optional precomputed ``repetition_features``
    frame keyed by ``id_col`` — a pipeline that already ran the
    repetition query passes it here instead of paying the folds twice;
    the columns consumed are top2_char_frac and dup5_char_frac.
    Measured at 500k docs/local[32]: 5.92 s standalone vs 1.51 s with a
    persisted shared frame (3.9×), keep decisions identical.
    """
    keepers = (
        df.groupBy(F.md5(F.col(text_col)).alias("h"))
        .agg(F.min(id_col).alias("keeper_id"))
    )
    base = lang_quality(df, text_col)
    rep = (
        repetition
        if repetition is not None
        else repetition_features(df, id_col, text_col)
    )
    full = (
        base.withColumn("h", F.md5(F.col(text_col)))
        .join(keepers, "h")
        .join(rep, id_col)
    )
    reason = (
        F.when(F.col(id_col) != F.col("keeper_id"), F.lit("exact_dup"))
        .when(F.col("lang_pred") != lang, F.lit("lang"))
        .when(F.col("quality") < min_quality, F.lit("quality"))
        .when(F.col("top2_char_frac") > max_top2, F.lit("top2_repetition"))
        .when(F.col("dup5_char_frac") > max_dup5, F.lit("dup5_repetition"))
    )
    return full.select(
        F.col(id_col),
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
    )


def duck_corpus_keep(
    table: str = "documents",
    lang: str = "en",
    min_quality: float = 0.6,
    max_top2: float = 0.11,
    max_dup5: float = 0.3,
) -> str:
    reason = f"""CASE WHEN d.doc_id <> k.keeper_id THEN 'exact_dup'
       WHEN l.lang_pred <> '{lang}' THEN 'lang'
       WHEN q.quality < {min_quality} THEN 'quality'
       WHEN r.top2_char_frac > {max_top2} THEN 'top2_repetition'
       WHEN r.dup5_char_frac > {max_dup5} THEN 'dup5_repetition' END"""
    return f"""
WITH q AS ({duck_quality(table)}),
l AS ({duck_lang_id(table)}),
r AS ({duck_repetition(table)}),
k AS (SELECT md5(text) AS h, min(doc_id) AS keeper_id FROM {table} GROUP BY md5(text))
SELECT d.doc_id,
  {reason} AS drop_reason,
  ({reason}) IS NULL AS keep
FROM {table} d
JOIN q ON q.doc_id = d.doc_id
JOIN l ON l.doc_id = d.doc_id
JOIN r ON r.doc_id = d.doc_id
JOIN k ON k.h = md5(d.text)
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (train-test overlap detection)
# ---------------------------------------------------------------------------


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    w: int = SHINGLE_W,
    k: int = 2,
) -> DataFrame:
    """Flag corpus documents sharing ≥ ``k`` distinct word ``w``-shingles
    with any document in the benchmark/eval set — the standard
    decontamination pass before training (drop train rows that leak
    test data).

    Scale shape at 100 TB: the benchmark side is eval-suite-sized
    (metadata), so its distinct shingle hashes BROADCAST; the corpus
    side explodes its per-doc distinct shingles in the HASH domain
    (8-byte longs, the same trim that made minhash scale) and
    broadcast-inner-joins — non-matching grams vanish map-side.  The
    per-doc hit count and the join-back are left UNHINTED: ``hits``
    has one row per corpus doc that shares ≥1 shingle with the eval
    set, and a single boilerplate shingle in the benchmark makes that
    corpus-sized (tests/test_scale_features.py exercises exactly this),
    so forcing a broadcast there would be a driver OOM at scale.  AQE
    broadcasts the join-back at runtime when ``hits`` is genuinely
    small and falls back to a shuffled hash join when it isn't.

    Perf note (measured, kept as-is): replacing the per-gram
    md5 (``h60(concat_ws(slice(...)))``) with per-word h60 + a
    Horner polynomial combine (base 3 mod 2^61-1, no string build
    per gram) is NOT faster — interleaved at sf0.1/local[32] the
    corpus-side gram projection is 0.54-0.57 s either way once the
    JIT warms (the cold first run flatters the poly form 2.0 vs
    1.1 s); the md5 of the short gram string is not the bottleneck,
    the explode volume is.  The string-gram form keeps the oracle
    SQL a direct md5 mirror, so it stays.

    Output: (id, n_hits, contaminated) for every corpus row.
    """
    bg = (
        bench.select(
            F.explode(
                F.array_distinct(shingles_of_words(words(F.col(bench_text_col)), w))
            ).alias("g")
        )
        .select(h60(F.col("g")).alias("_h"))
        .distinct()
    )
    cg = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_of_words(words(F.col(text_col)), w))
        ).alias("g"),
    ).select(id_col, h60(F.col("g")).alias("_h"))
    hits = (
        cg.join(F.broadcast(bg), "_h")
        .groupBy(id_col)
        .agg(F.count_distinct("_h").alias("n_hits"))
    )
    # NOTE: no broadcast hint on `hits` — it is corpus-derived (one row
    # per doc with any shared shingle) and can be corpus-sized; AQE
    # decides at runtime.
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= k).alias("contaminated"),
        )
    )


def duck_decontaminate(
    bench_pred: str, table: str = "documents", w: int = SHINGLE_W, k: int = 2
) -> str:
    sh = duck_shingles("text", w)
    return f"""
WITH bg AS (
  SELECT DISTINCT {duck_h60('g')} AS h
  FROM (SELECT unnest(list_distinct({sh})) AS g FROM {table} WHERE {bench_pred}) b
),
cg AS (
  SELECT doc_id, {duck_h60('g')} AS h
  FROM (SELECT doc_id, unnest(list_distinct({sh})) AS g FROM {table}) c
),
hits AS (
  SELECT cg.doc_id, count(DISTINCT cg.h) AS n_hits
  FROM cg JOIN bg ON cg.h = bg.h GROUP BY cg.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
  coalesce(h.n_hits, 0) >= {k} AS contaminated
FROM {table} d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# ---------------------------------------------------------------------------
# corpus vocabulary + per-document keywords
# ---------------------------------------------------------------------------


def vocab_topk(df: DataFrame, text_col: str = "text", k: int = 100) -> DataFrame:
    """Corpus-wide token frequency table, top ``k`` by (count desc,
    word asc).

    Scale shape: explode → groupBy(word).count() is ONE shuffle with
    map-side partial aggregation (Spark's hash aggregate combines
    per-partition before the exchange, so the shuffled rows are
    vocabulary-sized per partition, not corpus-sized); the top-k is a
    TakeOrdered over the vocabulary — no global sort materialization.
    """
    return (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(k)
    )


def duck_vocab_topk(table: str = "documents", k: int = 100) -> str:
    return f"""
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {table})
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word
LIMIT {k}
"""


def lm_surprisal(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style unigram language-model quality score: the mean
    per-token surprisal of each document under the corpus's OWN unigram
    distribution — the cheap perplexity proxy used to keep fluent text
    and drop rare-token gibberish (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data", LREC 2020,
    which ranks docs by LM perplexity; the unigram self-model is the
    zero-dependency analogue).

    Per-token surprisal is quantized to WHOLE BITS and computed
    integer-exactly: ``floor(log2(n_total / c))`` equals
    ``bit_length(n_total DIV c) - 1`` (for any real x ≥ 1,
    ``floor(log2(floor(x))) == floor(log2(x))`` because 2^k is an
    integer), evaluated as the length of the quotient's binary string
    — Spark ``conv(·, 10, 2)``, DuckDB ``bin(·)``.  No libm: like
    ``doc_keywords``'s integer tf-rarity, ``ln``/``log2`` on doubles is
    the one place two engines legitimately disagree in the last ulp, so
    the score is defined in the integer domain and only the final
    ``sum_bits / n_scored`` division is floating (exact IEEE division
    of two integers — bit-identical everywhere).  Averaged over a
    document's tokens the whole-bit quantization still separates
    fluent text (common words, 3-8 bits each) from gibberish (rare
    tokens, 15+ bits) — 2^mean ≈ unigram perplexity.

    Scale shape at 100 TB: tokenize+explode is a projection; the
    unigram table is ONE map-side-combined shuffle (vocabulary-sized
    rows per partition after partial aggregation, Zipf head combines
    map-side); per-word surprisal is computed once on the VOCABULARY
    table (not per token) so the token⋈bits join ships one small side.
    That join is left UNHINTED — a web-scale vocabulary is too large
    to broadcast, both sides are word-keyed, and AQE broadcasts small
    vocabularies / skew-splits the Zipf head otherwise.  The final
    per-doc groupBy is map-side combinable (sum + count).

    The corpus token total is a LAZY one-row aggregate over the token
    projection, broadcast-cross-joined onto the vocabulary — not an
    eager ``toks.count()`` (which would freeze the total at
    DataFrame-construction time and silently mismatch freq if the
    source gains files before the action runs), and not an aggregate
    of the unigram table itself (that form plans the vocabulary
    shuffle TWICE — once under the total's broadcast, once for the
    surprisal join; measured: exchange reuse does not deduplicate
    across the broadcast boundary, doubling the heaviest stage).  The
    total's subtree re-scans the token projection, but that is a
    cheap full-map-side count — the same extra scan the eager count
    paid, now snapshot-consistent because both branches share one
    scan relation.

    Output: ``(id, n_scored, sum_bits, mean_surprisal_bits)`` for every
    input row; empty/NULL text → ``n_scored = 0`` and a NULL mean.
    """
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    total = toks.agg(F.count(F.lit(1)).cast("bigint").alias("_n_total"))
    bits = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "s",
            (F.length(F.conv(F.expr("_n_total DIV c"), 10, 2)) - F.lit(1)).cast(
                "bigint"
            ),
        )
        .select("w", "s")
    )
    doc = (
        toks.join(bits, "w")
        .groupBy(id_col)
        .agg(F.sum("s").alias("sum_bits"), F.count(F.lit(1)).alias("n_scored"))
    )
    return (
        df.select(id_col)
        .join(doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_scored", F.lit(0)).cast("bigint").alias("n_scored"),
            F.coalesce("sum_bits", F.lit(0)).cast("bigint").alias("sum_bits"),
            F.when(F.col("n_scored") > 0, F.col("sum_bits") / F.col("n_scored"))
            .alias("mean_surprisal_bits"),
        )
    )


def duck_lm_surprisal(table: str = "documents") -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM {table})
  WHERE w <> ''
),
freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
bits AS (SELECT w, CAST(length(bin(n // c)) - 1 AS BIGINT) AS s FROM freq, total),
doc AS (SELECT doc_id, sum(s) AS sum_bits, count(*) AS n_scored
        FROM toks JOIN bits USING (w) GROUP BY doc_id)
SELECT d.doc_id,
  CAST(coalesce(doc.n_scored, 0) AS BIGINT) AS n_scored,
  CAST(coalesce(doc.sum_bits, 0) AS BIGINT) AS sum_bits,
  CASE WHEN doc.n_scored > 0 THEN doc.sum_bits / doc.n_scored END AS mean_surprisal_bits
FROM {table} d LEFT JOIN doc USING (doc_id)
"""


def doc_keywords(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-``k`` keywords per document by an integer-exact tf-rarity
    score: ``score = tf * 1_000_000 / df`` (integer division; df = how
    many documents contain the word).  The linear-rarity variant of
    tf-idf — chosen over ``tf·ln(N/df)`` because it is bit-exact across
    engines (no libm), and rank-equivalent for the common case where
    one term's rarity dominates.

    Scale shape: per-(doc, word) tf is one map-side-combined shuffle;
    document frequencies aggregate to a vocabulary-sized table.  The
    tf⋈df join is left UNHINTED on purpose: a 100 TB web corpus has a
    vocabulary far too large to broadcast, and both sides are already
    word-keyed, so AQE picks broadcast when the vocabulary is small and
    a co-partitioned shuffle join when it is not.  The per-doc top-k
    window shuffles by doc only.
    """
    w = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("word")
    ).filter(F.col("word") != "")
    tf = w.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        w.select(id_col, "word")
        .distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # integer `div`, not double `/`+cast: bit-exact at any df magnitude
    scored = tf.join(dfreq, "word").withColumn(
        "score", F.expr("CAST(tf * 1000000L div df AS BIGINT)")
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.partitionBy(id_col).orderBy(
            F.col("score").desc(), F.col("word")
        )
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= k)
        .select(id_col, "word", "tf", "df", "score", "rank")
    )


def duck_doc_keywords(table: str = "documents", k: int = 3) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM {table}
),
wn AS (SELECT doc_id, word FROM w WHERE word <> ''),
tf AS (SELECT doc_id, word, count(*) AS tf FROM wn GROUP BY doc_id, word),
dfreq AS (
  SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM wn)
  GROUP BY word
),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
         CAST(tf.tf * 1000000 // dfreq.df AS BIGINT) AS score
  FROM tf JOIN dfreq USING (word)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word)
         AS rank
  FROM scored
)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# training-run data layout: deterministic shuffle-to-shards + stratified sample
# ---------------------------------------------------------------------------


def train_shards(
    df: DataFrame, id_col: str = "doc_id", n_shards: int = 8, salt: str = "ep0"
) -> DataFrame:
    """Deterministic pseudo-random shuffle into training shards:
    ``shard = h60(salt‖id) mod n_shards``, ``pos`` = rank of the hash
    within the shard.  Changing ``salt`` (e.g. per epoch) re-permutes
    reproducibly.

    Scale shape: the shard assignment is a projection; the within-shard
    position is a window partitioned by shard — n_shards partitions of
    ~N/n_shards rows each.  For 10^12 rows, n_shards is picked so a
    shard fits a task (e.g. 10^5 shards), keeping the sort bounded; the
    hash ordering means NO global sort is ever needed.
    """
    h = h60(F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string")))
    from pyspark.sql import Window

    base = df.select(F.col(id_col), h.alias("_h")).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("int")
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy(F.col("_h"), F.col(id_col))
    )
    return base.withColumn("pos", pos).select(id_col, "shard", "pos")


def duck_train_shards(
    table: str = "documents", n_shards: int = 8, salt: str = "ep0"
) -> str:
    h = duck_h60(f"'{salt}' || '|' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH b AS (SELECT doc_id, {h} AS h FROM {table})
SELECT doc_id,
  CAST(h % {n_shards} AS INT) AS shard,
  CAST(row_number() OVER (PARTITION BY h % {n_shards} ORDER BY h, doc_id)
       AS INT) AS pos
FROM b
"""


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    quota: int = 50,
    salt: str = "s0",
) -> DataFrame:
    """Exact per-stratum quota sampling, deterministic: within each
    stratum keep the ``quota`` rows with the smallest
    ``h60(salt‖id)`` — a reproducible uniform sample (corpus
    rebalancing, e.g. capping dominant languages).

    Scale shape: one window per stratum.  A stratum is a language — at
    most dozens — so per-stratum row counts are huge but the window
    only needs a bounded top-``quota`` per partition: Spark's
    WindowGroupLimit pushes ``rank <= quota`` below the sort
    (partial top-k per input partition before the exchange), so the
    shuffle carries at most quota rows per input partition, not the
    stratum.
    """
    h = h60(F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string")))
    from pyspark.sql import Window

    base = df.select(F.col(strata_col), F.col(id_col), h.alias("_h"))
    rk = F.row_number().over(
        Window.partitionBy(strata_col).orderBy(F.col("_h"), F.col(id_col))
    )
    return (
        base.withColumn("rank", rk)
        .filter(F.col("rank") <= quota)
        .select(strata_col, id_col, F.col("rank").cast("int").alias("rank"))
    )


def duck_stratified_sample(
    table: str = "documents", strata_col: str = "lang", quota: int = 50,
    salt: str = "s0",
) -> str:
    h = duck_h60(f"'{salt}' || '|' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH b AS (SELECT {strata_col}, doc_id, {h} AS h FROM {table}),
r AS (
  SELECT {strata_col}, doc_id,
         row_number() OVER (PARTITION BY {strata_col} ORDER BY h, doc_id) AS rank
  FROM b
)
SELECT {strata_col}, doc_id, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {quota}
"""


def corpus_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language corpus datasheet: doc count, token/char totals,
    mean quality.  All-integer output — quality is summed in micro-units
    (its 6-dp rounding makes ``q·10⁶`` integral, so the sum is exact and
    order-independent, unlike a float mean) and the mean is integer
    division.  One map-side-combined shuffle to a languages-sized table.
    """
    q = quality_score(df, text_col)
    micro = F.round(F.col("quality") * 1_000_000).cast("bigint")
    return (
        q.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_ws(F.col(text_col))).alias("n_tokens"),
            F.sum(F.length(F.col(text_col)).cast("bigint")).alias("n_chars"),
            F.sum(micro).alias("_qsum"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.expr("CAST(_qsum div n_docs AS BIGINT)").alias("mean_quality_micro"),
        )
    )


def duck_corpus_stats(table: str = "documents") -> str:
    return f"""
SELECT d.lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
  CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
  CAST(sum(CAST(round(q.quality * 1000000, 0) AS BIGINT))
       // count(*) AS BIGINT) AS mean_quality_micro
FROM {table} d JOIN ({duck_quality(table)}) q ON d.doc_id = q.doc_id
GROUP BY d.lang
"""


# ---------------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020, JMLR 21(140) §2.2 — public)
# ---------------------------------------------------------------------------


def c4_text(c: Column) -> Column:
    """Deterministic PUNCTUATED rendering of the fixture's flat
    word-soup text, so C4's real line rules have structure to bite on
    (the ``lined_text`` convention, one level richer): sentence-final
    stand-ins gain real terminal punctuation and a line break
    (``table`` → ``table.``, ``order`` → ``order!``, ``big`` →
    ``big?``), other words ending in ``e`` end a line WITHOUT terminal
    punctuation (C4 drops those lines), the rare word ``dup`` renders
    as ``{dup}`` (trips C4's curly-brace page rule), ``spark`` renders
    as ``javascript`` (trips the line rule), and documents whose first
    word is ``customer`` are prefixed with ``lorem ipsum`` (trips the
    page rule).  Content-derived, not positional; mirrored verbatim in
    ``duck_c4_text``."""
    ws = F.filter(words(F.coalesce(c, F.lit(""))), lambda w: w != "")
    rendered = F.array_join(
        F.transform(
            ws,
            lambda w: F.when(w == "table", F.lit("table.\n"))
            .when(w == "order", F.lit("order!\n"))
            .when(w == "big", F.lit("big?\n"))
            .when(w == "dup", F.lit("{dup} "))
            .when(w == "spark", F.lit("javascript "))
            .when(w.endswith("e"), F.concat(w, F.lit("\n")))
            .otherwise(F.concat(w, F.lit(" "))),
        ),
        "",
    )
    return F.when(F.get(ws, 0) == "customer", F.concat(F.lit("lorem ipsum "), rendered)).otherwise(rendered)


def duck_c4_text(col: str = "text") -> str:
    """DuckDB twin of ``c4_text``."""
    ws = f"list_filter(string_split(coalesce({col}, ''), ' '), w -> w <> '')"
    body = (
        f"coalesce(list_aggregate(list_transform({ws}, w -> "
        "CASE w WHEN 'table' THEN 'table.' || chr(10) "
        "WHEN 'order' THEN 'order!' || chr(10) "
        "WHEN 'big' THEN 'big?' || chr(10) "
        "WHEN 'dup' THEN '{dup} ' "
        "WHEN 'spark' THEN 'javascript ' "
        "ELSE w || CASE WHEN w LIKE '%e' THEN chr(10) ELSE ' ' END END"
        "), 'string_agg', ''), '')"
    )
    return (
        f"(CASE WHEN ({ws})[1] = 'customer' THEN 'lorem ipsum ' ELSE '' END || {body})"
    )


def c4_line_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_kept: int = 3,
) -> DataFrame:
    """C4's cleaning battery (Raffel et al. 2020 §2.2), line rules and
    page rules, applied verbatim over the ``c4_text`` rendering:

    - keep only lines ending in a terminal punctuation mark
      (``.``, ``!``, ``?``, ``"``);
    - drop lines with fewer than ``min_words`` words (paper: 5)
      or containing the word ``javascript``;
    - drop the whole page if it contains ``{``, the phrase
      ``lorem ipsum``, or fewer than ``min_kept`` retained sentences
      (paper: 3; one kept line == one sentence here because the
      rendering puts exactly one terminal mark per line).

    The corpus is lowercase by construction, so the paper's
    case-insensitive matches reduce to plain ``contains``.

    Scale shape: a PURE PROJECTION — render, split, two array filters
    and a join per document; no row needs another row, zero shuffle,
    linear in input splits (the ``repetition_features`` argument).
    Emits per-doc evidence columns so the decision is auditable:
    (id, n_lines, n_kept, kept_text, keep).
    """
    t = c4_text(F.col(text_col))
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)), lambda l: l != ""
    )
    kept = F.filter(
        lines,
        lambda l: (
            l.endswith(".") | l.endswith("!") | l.endswith("?") | l.endswith('"')
        )
        & (F.size(F.split(l, " ")) >= min_words)
        & ~l.contains("javascript"),
    )
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("kept_text"),
        (
            ~t.contains("{")
            & ~t.contains("lorem ipsum")
            & (F.size(kept) >= min_kept)
        ).alias("keep"),
    )


def duck_c4_line_scrub(
    table: str = "documents", min_words: int = 5, min_kept: int = 3
) -> str:
    keep_line = (
        "x -> (x LIKE '%.' OR x LIKE '%!' OR x LIKE '%?' OR x LIKE '%\"') "
        f"AND len(string_split(x, ' ')) >= {min_words} "
        "AND NOT contains(x, 'javascript')"
    )
    return f"""
WITH d AS (SELECT doc_id, {duck_c4_text('text')} AS t FROM {table}),
l AS (
  SELECT doc_id, t,
    list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> x <> '') AS lines
  FROM d
),
k AS (SELECT doc_id, t, lines, list_filter(lines, {keep_line}) AS kept FROM l)
SELECT doc_id,
  CAST(len(lines) AS INT) AS n_lines,
  CAST(len(kept) AS INT) AS n_kept,
  coalesce(list_aggregate(kept, 'string_agg', chr(10)), '') AS kept_text,
  (NOT contains(t, '{{') AND NOT contains(t, 'lorem ipsum')
   AND len(kept) >= {min_kept}) AS keep
FROM k
"""


# ---------------------------------------------------------------------------
# inverted index (posting lists) — the retrieval-side index build
# ---------------------------------------------------------------------------


def posting_lists(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", cap: int = 16
) -> DataFrame:
    """Build an inverted index over the corpus: one row per term with
    its document frequency and the first ``cap`` posting doc-ids
    (sorted ascending, CSV-joined — array cells don't hash portably
    across the driver's pandas canonicalizer).

    Scale shape at 10^12 docs — the two aggregates are deliberately
    SPLIT so neither funnels a stopword's full posting list through one
    reducer:
    - ``df`` counts flow through a map-side-combined groupBy (the
      shuffled rows are vocabulary-sized per partition);
    - the capped postings use a rank-``cap`` window (WindowGroupLimit:
      Spark pushes the limit BELOW the sort, so each map partition
      ships at most ``cap`` ids per term — a stopword appearing in
      every document shuffles cap×partitions rows, not 10^12);
    - both stages key on ``term``, so the final join is co-partitioned
      and AQE can reuse the exchange.
    Real posting lists would sink the full postings per term via the
    partitioned writer (sinks.py) instead of truncating; the cap here
    bounds the ORACLE-visible projection the way stratified_sample's
    quota does.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.filter(
                    words(F.coalesce(F.col(text_col), F.lit(""))), lambda w: w != ""
                )
            )
        ).alias("term"),
    )
    from pyspark.sql import Window

    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("term").orderBy(id_col)
    top = toks.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= cap)
    posts = top.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(id_col)), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings_csv")
    )
    return counts.join(posts, "term").select("term", "df", "postings_csv")


def duck_posting_lists(table: str = "documents", cap: int = 16) -> str:
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '')) AS term
  FROM {table}
),
counts AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
top AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
    FROM toks
  ) WHERE rk <= {cap}
),
posts AS (
  SELECT term,
    list_aggregate(list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS postings_csv
  FROM top GROUP BY term
)
SELECT c.term, c.df, p.postings_csv FROM counts c JOIN posts p USING (term)
"""


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (Robertson & Zaragoza 2009 — public)
# ---------------------------------------------------------------------------

BM25_TERMS = ["dup", "customer", "frank"]
BM25_K = 10


def bm25_topk(
    df: DataFrame,
    terms: list[str] | None = None,
    k: int = BM25_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-``k`` retrieval for a literal query-term set
    (k1 = 1.2, b = 0.75 — the standard constants), INTEGER-EXACT in the
    lm_surprisal discipline: idf is quantized to whole bits
    (``floor(log2((2N+2) DIV (2·df+1)))`` — the +0.5 smoothing with
    both sides doubled, evaluated via binary-string length, no libm),
    the length normalization runs in milli-units
    (``avgdl_milli = (1000·S) DIV N``, ``nd_milli = (10^6·dl) DIV
    avgdl_milli``), and each term's score is one bigint floor division

        score_micro_t = (idf_bits · tf · 2_200_000_000)
                        DIV (1000·tf + 300 + (9·nd_milli) DIV 10)

    (the 2.2/0.3/0.9 constants are k1+1, k1·(1−b), k1·b in milli).
    Every intermediate fits int64 up to N ≈ 10^12 docs of ~10^5 tokens
    (worst term ≈ 60·10^5·2.2·10^9 ≈ 1.3·10^16); common terms
    (df ≳ N/2) quantize to 0 bits and drop out — the stopword
    suppression BM25's idf is for.

    Scale shape at 10^12 docs: dl and per-term tf are PURE PROJECTIONS
    (array size/filter over the words array — terms are literals, so
    no token explode, no tf shuffle); N, S, and the per-term df flow
    through ONE lazy one-row aggregate broadcast-cross-joined back;
    the top-k is ``orderBy().limit(k)`` — Spark's
    TakeOrderedAndProject, a per-partition heap + driver merge of
    k·partitions rows, never a global sort.  The totals subtree
    re-scans the tf/dl projection (no cache between the one-row
    aggregate and the probe side — the same snapshot-consistency
    trade lm_surprisal documents), so the corpus is read twice:
    once as a cheap map-side count/sum, once for scoring.

    Output: (doc_id, score_micro, rank) for the k best score>0 docs.
    """
    terms = terms if terms is not None else BM25_TERMS
    ws = F.filter(words(F.coalesce(F.col(text_col), F.lit(""))), lambda w: w != "")
    proj = df.select(
        F.col(id_col),
        F.size(ws).cast("bigint").alias("dl"),
        *[
            # closure via outer lambda — a 2-arg HOF lambda would be
            # interpreted by Spark as (element, index)
            F.size(F.filter(ws, (lambda _t: lambda w: w == F.lit(_t))(t)))
            .cast("bigint")
            .alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    glob = proj.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("dl").cast("bigint").alias("_s"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    x = proj.crossJoin(F.broadcast(glob))
    x = x.withColumn("_avgdl_milli", F.expr("(1000 * _s) DIV _n"))
    x = x.withColumn(
        "_nd_milli",
        F.expr(
            "CASE WHEN _avgdl_milli > 0 THEN (1000000 * dl) DIV _avgdl_milli ELSE 0 END"
        ),
    )
    score = F.lit(0).cast("bigint")
    for i in range(len(terms)):
        qidf = f"(length(conv((2 * _n + 2) DIV (2 * _df_{i} + 1), 10, 2)) - 1)"
        den = f"(1000 * tf_{i} + 300 + (9 * _nd_milli) DIV 10)"
        score = score + F.expr(
            f"CAST({qidf} AS BIGINT) * tf_{i} * 2200000000 DIV {den}"
        )
    scored = x.select(F.col(id_col), score.alias("score_micro")).filter(
        F.col("score_micro") > 0
    )
    topk = scored.orderBy(F.desc("score_micro"), id_col).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score_micro"), id_col)
    return topk.withColumn("rank", F.row_number().over(w))


def duck_bm25_topk(
    table: str = "documents", terms: list[str] | None = None, k: int = BM25_K
) -> str:
    terms = terms if terms is not None else BM25_TERMS
    ws = "list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '')"
    tf_cols = ", ".join(
        f"CAST(len(list_filter({ws}, w -> w = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(terms))
    )
    score_terms = " + ".join(
        f"(CAST(length(bin((2 * p.n + 2) // (2 * p.df_{i} + 1))) - 1 AS BIGINT)"
        f" * p.tf_{i} * 2200000000)"
        f" // (1000 * p.tf_{i} + 300 + (9 * p.nd_milli) // 10)"
        for i in range(len(terms))
    )
    return f"""
WITH proj AS (
  SELECT doc_id, CAST(len({ws}) AS BIGINT) AS dl, {tf_cols} FROM {table}
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s, {df_cols}
  FROM proj
),
normed AS (
  SELECT p.*, g.*,
    CASE WHEN (1000 * g.s) // g.n > 0
         THEN (1000000 * p.dl) // ((1000 * g.s) // g.n) ELSE 0 END AS nd_milli
  FROM proj p CROSS JOIN tot g
),
scored AS (
  SELECT doc_id, CAST({score_terms} AS BIGINT) AS score_micro
  FROM normed p
)
SELECT doc_id, score_micro,
  CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS rank
FROM scored WHERE score_micro > 0
ORDER BY score_micro DESC, doc_id LIMIT {k}
"""


# ---------------------------------------------------------------------------
# corpus-global paragraph dedup (Dolma, Soldaini et al. 2024 — public)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-GLOBAL paragraph deduplication, keep-first: every
    occurrence of a paragraph except its first (smallest
    ``(doc_id, position)``) is removed — the paragraph-granularity
    dedup Dolma applies corpus-wide (Soldaini et al. 2024; they use a
    Bloom filter over a stream, the batch analogue is an exact
    min-keeper).  Complements the existing dedup family: doc-level
    exact (``corpus_keep``), host-scoped lines
    (``host_boilerplate_scrub``), corpus-wide word grams
    (``scrub_repeated_spans``).

    Paragraph structure comes from the ``lined_text`` rendering (the
    fixture's flat text has none); splits on blank-line runs.

    Scale shape (the ``host_boilerplate_scrub`` discipline):
    - paragraphs posexplode as a projection;
    - the keeper per paragraph hash is ONE combinable aggregate
      (min(struct) + count partials combine map-side; a 10^6-fold
      boilerplate paragraph costs one reduce row);
    - only hashes with count > 1 join back (the flagged set is
      duplicate-paragraphs-only, usually tiny; unhinted so AQE
      broadcasts it when small and hash-partitions when not);
    - per-doc drop positions are a bounded collect_list and the
      rewrite is an indexed array filter on the original row — the
      document body is never reassembled through a shuffle.

    Output: (id, dedup_text, n_paras, n_dropped) for every row;
    NULL text stays NULL.
    """
    t = lined_text(F.col(text_col))
    arr = F.split(t, r"\n{2,}")
    paras = df.select(
        F.col(id_col).alias("id"), F.posexplode(arr).alias("pos", "p")
    ).filter(F.col("p") != "")
    keepers = (
        paras.groupBy(F.md5(F.col("p")).alias("ph"))
        .agg(
            F.min(F.struct("id", "pos")).alias("k"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") > 1)
        .select("ph", "k")
    )
    hits = (
        paras.withColumn("ph", F.md5(F.col("p")))
        .join(keepers, "ph")
        .filter((F.col("k.id") != F.col("id")) | (F.col("k.pos") != F.col("pos")))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("drops"))
    )
    joined = df.join(hits, df[id_col] == hits["id"], "left")
    drops = F.coalesce(F.col("drops"), F.array().cast("array<int>"))
    clean = F.filter(arr, lambda x, i: ~F.array_contains(drops, i))
    n_paras = F.size(F.filter(arr, lambda x: x != "")).cast("bigint")
    return joined.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws("\n\n", F.filter(clean, lambda x: x != "")))
        .alias("dedup_text"),
        n_paras.alias("n_paras"),
        F.size(drops).cast("bigint").alias("n_dropped"),
    )


def duck_paragraph_dedup(table: str = "documents") -> str:
    """Oracle twin — 1-based generate positions shifted to 0-based so
    the drop sets match posexplode exactly.  An empty word list renders
    NULL in DuckDB (string_agg over nothing) but '' in Spark
    (array_join), hence the coalesce — as in ``duck_c4_text``."""
    return f"""
WITH src AS (SELECT doc_id, text, coalesce({duck_lined_text('text')}, '') AS t FROM {table}),
d AS (SELECT doc_id, text, string_split_regex(t, '\\n{{2,}}') AS arr FROM src),
paras AS (
  SELECT doc_id, u.p AS p, u.pos AS pos FROM (
    SELECT doc_id,
      unnest(list_transform(arr, (x, i) -> {{'p': x, 'pos': i - 1}})) AS u
    FROM d) WHERE u.p <> ''
),
keepers AS (
  SELECT md5(p) AS ph, min({{'id': doc_id, 'pos': pos}}) AS k, count(*) AS n
  FROM paras GROUP BY md5(p)
),
hits AS (
  SELECT paras.doc_id AS id, list_sort(list(paras.pos)) AS drops
  FROM paras JOIN keepers ON md5(paras.p) = keepers.ph
  WHERE keepers.n > 1
    AND NOT (keepers.k.id = paras.doc_id AND keepers.k.pos = paras.pos)
  GROUP BY paras.doc_id
),
out AS (
  SELECT d.doc_id, d.text, d.arr, coalesce(h.drops, []) AS drops
  FROM d LEFT JOIN hits h ON h.id = d.doc_id
)
SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL ELSE
    coalesce(list_aggregate(
      list_filter(
        list_filter(arr, (x, i) -> NOT list_contains(drops, i - 1)),
        x -> x <> ''),
      'string_agg', chr(10) || chr(10)), '')
  END AS dedup_text,
  CAST(len(list_filter(arr, x -> x <> '')) AS BIGINT) AS n_paras,
  CAST(len(drops) AS BIGINT) AS n_dropped
FROM out
"""


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al., ACL 2016 — public)
# ---------------------------------------------------------------------------

BPE_MERGES = 6


def bpe_train(
    df: DataFrame, k: int = BPE_MERGES, text_col: str = "text"
) -> DataFrame:
    """Byte-pair-encoding merge training over the corpus vocabulary —
    the tokenizer-induction inner loop (Sennrich ACL 2016): start from
    characters (+ the ``</w>`` end-of-word marker), repeatedly take the
    most frequent adjacent symbol pair (ties: lexicographic) and merge
    its leftmost non-overlapping occurrences in every word.

    Scale shape: Spark builds the word VOCABULARY (one map-side-combined
    shuffle) and the driver collects it ONCE; the k rounds run on the
    driver with incremental pair counts (``_bpe_merges``), so a round
    costs the words holding the merged pair, not a Spark job, and the
    merges go back as an Arrow ``LocalRelation`` (no Python worker).
    Traced corpus pass, k=6, 4-core host: build + execute 0.74 s, vs
    4.7 s for one Spark job and one lineage checkpoint per round.

    Output: (rank, sym_a, sym_b, merged, pair_count), one row per merge
    in training order — the merges table a tokenizer ships.
    """
    merges, _ = _bpe_merges(df, k, text_col)
    return local_frame(
        df.sparkSession,
        merges,
        "rank int, sym_a string, sym_b string, merged string, pair_count bigint",
    )


def _bpe_merges(df: DataFrame, k: int, text_col: str):
    """Collect the ``(w, n, syms)`` vocabulary once and run up to ``k``
    merge rounds on it; returns (the merge rows, {word: final symbols}).
    Shared by ``bpe_train`` and ``bpe_encode_stats``.

    Symbols are split in Spark, so the driver sees Java's characters.
    ``where`` maps a pair to the words that held it when counted; a
    merge re-counts only those (a stale entry re-counts to no change)."""
    vocab = (
        df.select(F.explode(words(F.coalesce(F.col(text_col), F.lit("")))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    chars = F.regexp_extract_all(F.col("w"), F.lit("."), 0)
    syms = F.transform(
        chars,
        lambda x, i: F.when(
            i == F.size(chars) - 1, F.concat(x, F.lit("</w>"))
        ).otherwise(x),
    )
    rows = vocab.select("w", "n", syms.alias("syms")).collect()
    seg = [r["syms"] for r in rows]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}

    def tally(i: int, s: list, n: int) -> None:
        for p in zip(s, s[1:]):
            counts[p] = counts.get(p, 0) + n
            if not counts[p]:
                del counts[p]
            elif n > 0:
                where.setdefault(p, set()).add(i)

    for i, s in enumerate(seg):
        tally(i, s, rows[i]["n"])
    merges = []
    for rank in range(1, k + 1):
        if not counts:  # vocabulary fully merged before k rounds
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        for i in where.pop((a, b)):
            out = seg[i][:1]
            for x in seg[i][1:]:
                if out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            tally(i, seg[i], -rows[i]["n"])
            tally(i, out, rows[i]["n"])
            seg[i] = out
    return merges, {r["w"]: s for r, s in zip(rows, seg)}


def duck_bpe_train(table: str = "documents", k: int = BPE_MERGES) -> str:
    """Oracle twin — the k training rounds unrolled into CTE chains
    (the duck_ivf_kmeans discipline); the merge application is a
    list_reduce fold identical to Spark's F.aggregate fold."""
    parts = _duck_bpe_parts(table, k)
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS rank, a AS sym_a, b AS sym_b, a || b AS merged, cnt AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def _duck_bpe_parts(table: str, k: int) -> list:
    parts = [
        f"""v0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n,
    list_transform(regexp_extract_all(w, '.'), (x, i) ->
      CASE WHEN i = len(regexp_extract_all(w, '.')) THEN x || '</w>' ELSE x END) AS syms
  FROM (SELECT unnest(list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '')) AS w
        FROM {table})
  GROUP BY w
)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""p{i} AS (
  SELECT u.a AS a, u.b AS b, CAST(sum(n) AS BIGINT) AS cnt FROM (
    SELECT n, unnest(list_transform(range(1, len(syms)), j -> {{'a': syms[j], 'b': syms[j+1]}})) AS u
    FROM v{i - 1} WHERE len(syms) > 1) GROUP BY u.a, u.b
)"""
        )
        parts.append(
            f"b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        # an empty b{i} (vocabulary fully merged before round i) makes
        # the round a no-op — a CROSS JOIN would empty every later v
        parts.append(
            f"""v{i} AS (
  SELECT w, n,
    CASE WHEN b{i}.a IS NULL OR len(syms) <= 1 THEN syms ELSE
      list_reduce(list_transform(syms, x -> [x]), (acc, x) ->
        CASE WHEN acc[len(acc)] = b{i}.a AND x[1] = b{i}.b
             THEN list_append(list_slice(acc, 1, len(acc) - 1), b{i}.a || b{i}.b)
             ELSE list_append(acc, x[1]) END)
    END AS syms
  FROM v{i - 1} LEFT JOIN b{i} ON TRUE
)"""
        )
    return parts


def bpe_encode_stats(
    df: DataFrame, k: int = BPE_MERGES, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Encode every document with the ``bpe_train`` merges and report
    per-doc token statistics — the train→encode round trip a tokenizer
    pipeline ships, and the honest replacement for regex token-count
    proxies once merges exist.

    Scale shape (the ``lm_surprisal`` discipline): the merges apply on
    the VOCABULARY only — ``_bpe_merges`` already holds every distinct
    word's final symbols on the driver, so the word→token-count table
    ships back as an Arrow frame; documents explode to (id, word) in
    Spark and join it — word-keyed on both sides, unhinted so AQE
    broadcasts small vocabularies; the per-doc groupBy is map-side
    combinable sums.

    Output: (id, n_words, n_char_syms, n_bpe_tokens) — n_char_syms is
    the pre-merge symbol count (= word length; the ``</w>`` marker
    rides the last character), so n_char_syms − n_bpe_tokens is the
    compression the k merges bought.  Empty/NULL text → zeros.
    """
    _, final = _bpe_merges(df, k, text_col)
    wstats = local_frame(
        df.sparkSession,
        [(w, len(s)) for w, s in final.items()],
        "w string, _nsym bigint",
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(words(F.coalesce(F.col(text_col), F.lit("")))).alias("w"),
    ).filter(F.col("w") != "")
    doc = (
        toks.join(wstats, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_char_syms"),
            F.sum("_nsym").alias("n_bpe_tokens"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_char_syms", F.lit(0)).cast("bigint").alias("n_char_syms"),
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("bigint").alias("n_bpe_tokens"),
        )
    )


def duck_bpe_encode_stats(table: str = "documents", k: int = BPE_MERGES) -> str:
    parts = _duck_bpe_parts(table, k)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
wstats AS (
  SELECT w, CAST(len(syms) AS BIGINT) AS nsym, CAST(length(w) AS BIGINT) AS nchr
  FROM v{k}
),
toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')) AS w
    FROM {table})
),
doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
    CAST(sum(nchr) AS BIGINT) AS n_char_syms,
    CAST(sum(nsym) AS BIGINT) AS n_bpe_tokens
  FROM toks JOIN wstats USING (w) GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(doc.n_words, 0) AS BIGINT) AS n_words,
  CAST(coalesce(doc.n_char_syms, 0) AS BIGINT) AS n_char_syms,
  CAST(coalesce(doc.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
FROM {table} d LEFT JOIN doc USING (doc_id)"""
    )
