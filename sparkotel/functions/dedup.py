"""Deduplication for training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band →
bucket-join), SimHash, and n-gram Jaccard near-dup — each with a DuckDB
oracle mirror built on the shared md5-derived hashes
(sparkotel.functions.hashing).

Scale design:
- exact dedup is one groupBy on a 128-bit content hash — the classic
  map-side-combinable shuffle; AQE handles skew from boilerplate dups.
- MinHash signatures are computed per-row with higher-order array
  functions (NO explode → no row blow-up, no shuffle); only the small
  (doc, band) pairs shuffle for the LSH self-join.
- candidate verification (Jaccard) joins only within LSH buckets, never
  all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkotel.functions.hashing import (
    MERSENNE31,
    MINHASH_K,
    duck_h31,
    duck_h60,
    duck_perm,
    h31,
    h60,
    perm_params,
)
from sparkotel.functions.text import SHINGLE_W, duck_shingles, shingles

BANDS = 2  # 2 bands × 4 rows (K=8)
ROWS_PER_BAND = MINHASH_K // BANDS


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """md5-content groups: keeper = min id, plus duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def duck_exact_dedup(table: str = "documents") -> str:
    return f"""
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM {table} GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def minhash_signature(df: DataFrame, text_col: str = "text") -> DataFrame:
    """K min-hash values per doc over distinct word shingles.

    Per-row array math (transform + array_min) — the signature never
    leaves the row, so this stage is shuffle-free.  The shingle-hash
    array is computed ONCE and all K permutations map over it inside a
    single expression (K separate withColumns would inline the md5 pass
    K times after projection collapse — measured 8× slower).

    No ``array_distinct``: min over the permuted hashes is invariant to
    duplicate shingles, so de-duplicating the (long string) shingle
    array first is pure overhead — results are bit-identical with or
    without it.  (The DuckDB oracle keeps its ``list_distinct`` — same
    min either way.)

    Single-traversal K-way min: Catalyst has no common-subexpression
    elimination through higher-order-function lambdas, so the naive
    ``transform(params, p -> array_min(transform(hs, ...)))`` re-runs
    the whole md5 shingle-hash pass once PER permutation (measured 3.7 s
    vs 0.76 s for one pass at sf0.1×32 cores).  Instead one
    ``F.aggregate`` walks the hash array once, carrying all K running
    minima; MERSENNE31 is a safe empty-array sentinel because
    ``(h*a+b) % MERSENNE31`` is always < MERSENNE31, and the finish
    lambda maps a surviving sentinel to NULL (= DuckDB's
    ``list_min([])``).
    """
    hs = F.transform(shingles(F.col(text_col)), h31)
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in perm_params()
        ]
    )
    sig = F.aggregate(
        hs,
        F.array_repeat(F.lit(MERSENNE31).cast("bigint"), MINHASH_K),
        lambda acc, h: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(
                m, (h * p.getField("a") + p.getField("b")) % F.lit(MERSENNE31)
            ),
        ),
        lambda acc: F.transform(
            acc, lambda m: F.when(m < F.lit(MERSENNE31), m)
        ),
    )
    df = df.withColumn("_sig", sig)
    for i in range(MINHASH_K):
        df = df.withColumn(f"mh_{i}", F.col("_sig").getItem(i))
    return df.drop("_sig")


def lsh_bands(df: DataFrame) -> DataFrame:
    """band value = md5 of the band's concatenated signature rows."""
    for b in range(BANDS):
        cols = [F.col(f"mh_{i}").cast("string") for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)]
        df = df.withColumn(f"band_{b}", F.md5(F.concat_ws("-", *cols)))
    return df


DEFAULT_MAX_BUCKET = 1000


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """candidate near-dup pairs: docs sharing any LSH band bucket.

    Scale shape (ONE scan of the input, no self-join):
    - the signature never leaves its row; only (id, band_idx, band)
      pairs shuffle — ``posexplode`` over the band array;
    - **bucket cap**: a window count partitioned by (band_idx, band)
      drops degenerate buckets with more than ``max_bucket`` members
      (empty/boilerplate docs would otherwise yield O(n²) pairs inside
      one bucket).  The window spills instead of OOMing on a pathological
      bucket, and the groupBy that follows reuses the window's
      partitioning — no second Exchange;
    - pair generation is per-bucket array combinatorics over the
      collect_list'd ids — bounded at ``max_bucket`` members by the cap,
      so the array and its C(n,2) pair expansion are bounded too.  A
      self-join formulation instead re-scans the input for each side
      (Catalyst does not reuse the exchange across an AQE broadcast
      conversion) and was dropped for this shape.
    """
    src = df.select(id_col, text_col)
    # the signature math is the expensive per-row stage; a small-file
    # local read arrives as ONE partition and serializes it.  At scale
    # the scan already has >= defaultParallelism partitions and this
    # branch is a no-op.
    target = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    sig = lsh_bands(minhash_signature(src)).drop(text_col)
    bands = sig.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(*[F.col(f"band_{b}") for b in range(BANDS)])
        ).alias("band_idx", "band"),
    )
    w = Window.partitionBy("band_idx", "band")
    capped = (
        bands.withColumn("_bsize", F.count(F.lit(1)).over(w))
        .filter((F.col("_bsize") <= max_bucket) & (F.col("_bsize") > 1))
        .drop("_bsize")
    )
    ids = F.array_sort(F.collect_list("id"))
    buckets = capped.groupBy("band_idx", "band").agg(ids.alias("ids"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def _duck_sig_exprs() -> list[str]:
    hs = f"list_transform(list_distinct({duck_shingles()}), s -> {duck_h31('s')})"
    out = []
    for i, (a, b) in enumerate(perm_params()):
        out.append(f"list_min(list_transform({hs}, h -> {duck_perm('h', a, b)})) AS mh_{i}")
    return out


def duck_minhash_signature(table: str = "documents") -> str:
    sigs = ",\n  ".join(_duck_sig_exprs())
    return f"SELECT doc_id, {sigs} FROM {table}"


def duck_minhash_lsh_pairs(
    table: str = "documents", max_bucket: int = DEFAULT_MAX_BUCKET
) -> str:
    band_exprs = []
    for b in range(BANDS):
        cols = " || '-' || ".join(
            f"CAST(mh_{i} AS VARCHAR)" for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        )
        band_exprs.append(f"md5({cols}) AS band_{b}")
    unions = " UNION ALL ".join(
        f"SELECT doc_id AS id, {b} AS band_idx, band_{b} AS band FROM sig" for b in range(BANDS)
    )
    return f"""
WITH s AS ({duck_minhash_signature(table)}),
sig AS (SELECT doc_id, {', '.join(band_exprs)} FROM s),
bands AS ({unions}),
capped AS (
  SELECT id, band_idx, band FROM (
    SELECT *, count(*) OVER (PARTITION BY band_idx, band) AS bsize FROM bands
  ) WHERE bsize <= {max_bucket}
)
SELECT DISTINCT l.id AS id_a, r.id AS id_b
FROM capped l JOIN capped r
  ON l.band_idx = r.band_idx AND l.band = r.band AND l.id < r.id
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(
    df: DataFrame,
    text_col: str = "text",
    out: str = "simhash",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``bits``-wide SimHash over word token hashes (with multiplicity).

    bit j set iff sum over tokens of (h_bit_j ? +1 : -1) >= 0.
    Pure per-row array math — shuffle-free.  Default width stays 16
    (the original ``dedup_simhash`` contract); ``simhash_pairs`` uses
    48 bits so its band space is wide enough to bucket on.
    """
    hs = F.transform(F.split(F.col(text_col), " "), h60)
    # Single-pass K-way accumulate (the minhash/_table_buckets pattern):
    # ONE aggregate walks the token hashes carrying all per-bit vote
    # counters.  The previous per-bit transform put ``hs`` inside the
    # bit lambda — interpreted HOFs get no CSE, so the md5 token pass
    # re-ran per bit (16×): measured 4.29 s vs 0.83 s at 500k
    # docs/local[32], bit-identical.  (The aggregate's lambda variable
    # ``h`` is a materialized slot — referencing it per bit is free.)
    positions = F.array(*[F.lit(j) for j in range(bits)])
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            positions,
            lambda s, j: s
            + F.when(
                F.call_function("shiftright", h, j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            # explicit bigint: at bits=32 the top weight 2^31 overflows
            # an int literal under ANSI arithmetic
            F.array(*[F.lit(2 ** j).cast("bigint") for j in range(bits)]),
            lambda v, p: F.when(v >= 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda s, x: s + x,
    )
    return df.withColumn(out, packed.cast("bigint"))


def duck_simhash(table: str = "documents", bits: int = SIMHASH_BITS) -> str:
    h = duck_h60("t")
    votes = ",\n    ".join(
        f"list_sum(list_transform(string_split(text, ' '), t -> CASE WHEN ({h} >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) AS v{j}"
        for j in range(bits)
    )
    packed = " + ".join(f"(CASE WHEN v{j} >= 0 THEN {2 ** j} ELSE 0 END)" for j in range(bits))
    return f"""
WITH v AS (SELECT doc_id, {votes} FROM {table})
SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM v
"""


SIMHASH_PAIR_BITS = 48
SIMHASH_PAIR_BANDS = 4  # pigeonhole: hamming <= BANDS-1 shares >= 1 exact band


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH_PAIR_BANDS - 1,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs via the pigeonhole band trick (Manku,
    Jain & Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07):
    split the 48-bit fingerprint into 4 contiguous 12-bit bands — any
    pair within hamming distance 3 agrees exactly on >= 1 band — bucket
    on (band_idx, band value), then verify candidates with an exact
    ``bit_count(xor)``.  Returns (id_a, id_b, hamming), id_a < id_b.
    NULL-text rows carry no content to near-dup and are excluded on
    BOTH engines (a NULL fingerprint would otherwise silently diverge:
    Spark propagates NULL, SQL CASE folds it to 0).

    ``max_hamming`` is validated against the band count: the pigeonhole
    is only complete for hamming <= bands-1, so a larger ask would
    silently return a subset.

    Scale shape mirrors ``minhash_lsh_pairs``: the fingerprint is
    per-row array math (no shuffle), only (id, fingerprint, band) rows
    shuffle, and pair expansion is bounded per-bucket array
    combinatorics.  Bucket bound: a 12-bit band has 4096 values, so a
    uniform corpus holds ~n/4096 docs per band-bucket — comfortably
    under the cap through the bench scales (500k docs → ~122).  Beyond
    that the cap TRUNCATES a bucket to its ``max_bucket`` smallest ids
    (deterministic row_number, NOT the whole-bucket drop
    ``minhash_lsh_pairs`` uses — md5 band values make an over-cap
    minhash bucket degenerate by construction, but simhash bands are
    coarse, so over-cap buckets are ordinary and dropping them would
    zero the recall).  Truncation bounds recall; the published
    full-recall fix at crawl scale is wider fingerprints with rotated
    sorted tables (Manku §3).
    """
    if max_hamming > SIMHASH_PAIR_BANDS - 1:
        raise ValueError(
            f"simhash_pairs: pigeonhole over {SIMHASH_PAIR_BANDS} bands is only"
            f" complete for max_hamming <= {SIMHASH_PAIR_BANDS - 1}"
        )
    width = SIMHASH_PAIR_BITS // SIMHASH_PAIR_BANDS
    mask = (1 << width) - 1
    src = df.select(id_col, text_col).filter(F.col(text_col).isNotNull())
    target = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    sh = simhash(src, text_col, out="sh", bits=SIMHASH_PAIR_BITS)
    bands = sh.select(
        F.col(id_col).alias("id"),
        F.col("sh"),
        F.posexplode(
            F.array(
                *[
                    F.call_function("shiftright", F.col("sh"), F.lit(b * width))
                    .bitwiseAND(F.lit(mask))
                    .cast("int")
                    for b in range(SIMHASH_PAIR_BANDS)
                ]
            )
        ).alias("band_idx", "band"),
    )
    w = Window.partitionBy("band_idx", "band").orderBy("id")
    capped = (
        bands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    members = F.array_sort(F.collect_list(F.struct("id", "sh")))
    buckets = capped.groupBy("band_idx", "band").agg(members.alias("ms"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x.getField("id").alias("id_a"),
                    y.getField("id").alias("id_b"),
                    F.call_function(
                        "bit_count", x.getField("sh").bitwiseXOR(y.getField("sh"))
                    )
                    .cast("bigint")
                    .alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duck_simhash_pairs(
    table: str = "documents",
    max_hamming: int = SIMHASH_PAIR_BANDS - 1,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> str:
    if max_hamming > SIMHASH_PAIR_BANDS - 1:
        raise ValueError(
            f"duck_simhash_pairs: pigeonhole over {SIMHASH_PAIR_BANDS} bands is"
            f" only complete for max_hamming <= {SIMHASH_PAIR_BANDS - 1}"
        )
    width = SIMHASH_PAIR_BITS // SIMHASH_PAIR_BANDS
    mask = (1 << width) - 1
    nn = f"(SELECT * FROM {table} WHERE text IS NOT NULL)"
    unions = " UNION ALL ".join(
        f"SELECT doc_id AS id, simhash AS sh, {b} AS band_idx,"
        f" CAST((simhash >> {b * width}) & {mask} AS INTEGER) AS band FROM s"
        for b in range(SIMHASH_PAIR_BANDS)
    )
    return f"""
WITH s AS ({duck_simhash(nn, bits=SIMHASH_PAIR_BITS)}),
bands AS ({unions}),
capped AS (
  SELECT id, sh, band_idx, band FROM (
    SELECT *, row_number() OVER (PARTITION BY band_idx, band ORDER BY id) AS rn
    FROM bands
  ) WHERE rn <= {max_bucket}
)
SELECT DISTINCT l.id AS id_a, r.id AS id_b,
  CAST(bit_count(xor(l.sh, r.sh)) AS BIGINT) AS hamming
FROM capped l JOIN capped r
  ON l.band_idx = r.band_idx AND l.band = r.band AND l.id < r.id
WHERE bit_count(xor(l.sh, r.sh)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard verification of LSH candidates
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Jaccard over distinct word shingles for candidate pairs only;
    NULL (DuckDB's ``0 / 0.0``) when neither doc has a shingle."""
    sets_df = df.select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col))).alias("sh")
    )
    a = sets_df.alias("a")
    b = sets_df.alias("b")
    return (
        pairs.join(a, pairs["id_a"] == F.col(f"a.{id_col}"))
        .join(b, pairs["id_b"] == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("a.sh", "b.sh")),
                    F.size(F.array_union("a.sh", "b.sh")),
                ),
                6,
            ).alias("jaccard"),
        )
    )


def duck_jaccard_pairs(table: str = "documents") -> str:
    return f"""
WITH pairs AS ({duck_minhash_lsh_pairs(table)}),
sets AS (SELECT doc_id, list_distinct({duck_shingles()}) AS sh FROM {table})
SELECT p.id_a, p.id_b,
  round(len(list_intersect(a.sh, b.sh)) /
        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6) AS jaccard
FROM pairs p JOIN sets a ON p.id_a = a.doc_id JOIN sets b ON p.id_b = b.doc_id
"""


# ---------------------------------------------------------------------------
# standalone n-gram Jaccard near-dup join (prefix filtering, exact)
# ---------------------------------------------------------------------------

# Jaccard threshold as a rational num/den so the prefix length and the
# final >= comparison are INTEGER-exact in both engines (0.6*n style
# float math can disagree between Spark and DuckDB at representation
# edges).
JACCARD_NUM = 1
JACCARD_DEN = 2  # threshold = 0.5


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num: int = JACCARD_NUM,
    den: int = JACCARD_DEN,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via PPJoin-style prefix
    filtering (Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection", WWW'08 — public algorithm).

    Unlike ``minhash_lsh_pairs`` (probabilistic candidates) this is an
    EXACT similarity self-join: for Jaccard(a, b) >= t, a and b must
    share at least one n-gram inside each other's prefix of length
    ``|s| - ceil(t*|s|) + 1`` when every set is ordered by one global
    total order — ascending document frequency (rarest first), ties by
    the gram itself.  So candidates come from an equi-join on PREFIX
    grams only; everything else is provably below threshold.  No false
    negatives (up to the degenerate-bucket cap, same documented trade
    as LSH).

    Scale shape:
    - ONE groupBy(gram) for global document frequencies (map-side
      combinable), one shuffle join to attach them, one per-doc
      row_number window (partitioned by doc id — doc-level parallelism,
      n-grams per doc bounded, no skew);
    - prefix grams are the ONLY thing that self-matches; the rarest-
      first order drives candidate buckets toward size 1-2, and the
      ``max_bucket`` window cap bounds a degenerate corpus exactly like
      minhash_lsh_pairs does;
    - pair generation is per-bucket array combinatorics on the
      collect_list'd (id, n) structs — the groupBy reuses the cap
      window's partitioning, so no extra Exchange and no self-join
      re-scan;
    - verification joins the (id -> gram set) table only for surviving
      candidates, never all-pairs.

    Reference anchor: the logdedup/minhash family has no exact-join
    counterpart in the reference — this is a brief-mandated
    training-data extension (SURVEY 2.16).
    """
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_sort(F.array_distinct(shingles(F.col(text_col)))).alias("sh"),
    ).filter(F.size("sh") > 0)
    tok = sets.select("id", F.size("sh").alias("n"), F.explode("sh").alias("g"))
    dfreq = tok.groupBy("g").agg(F.count(F.lit(1)).alias("dfq"))
    ranked = tok.join(dfreq, "g").withColumn(
        "rk", F.row_number().over(Window.partitionBy("id").orderBy("dfq", "g"))
    )
    # prefix length = n - ceil(t*n) + 1; ceil(num*n/den) via integer DIV
    prefix = ranked.filter(
        F.col("rk") <= F.col("n") - F.expr(f"(({num} * n + {den} - 1) DIV {den})") + 1
    ).select("id", "n", "g")
    w = Window.partitionBy("g")
    capped = (
        prefix.withColumn("_b", F.count(F.lit(1)).over(w))
        .filter((F.col("_b") <= max_bucket) & (F.col("_b") > 1))
        .drop("_b")
    )
    members = F.array_sort(F.collect_list(F.struct("id", "n")))
    buckets = capped.groupBy("g").agg(members.alias("ms"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x.getField("id").alias("id_a"),
                    y.getField("id").alias("id_b"),
                    x.getField("n").alias("n_a"),
                    y.getField("n").alias("n_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        # length filter: Jaccard >= t forces t*max(|a|,|b|) <= min(|a|,|b|)
        .filter(
            F.lit(num) * F.greatest("p.n_a", "p.n_b")
            <= F.lit(den) * F.least("p.n_a", "p.n_b")
        )
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    a = sets.alias("a")
    b = sets.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    return (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .filter(F.lit(den) * inter >= F.lit(num) * union)
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
    )


def duck_ngram_jaccard_pairs(
    table: str = "documents",
    num: int = JACCARD_NUM,
    den: int = JACCARD_DEN,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> str:
    return f"""
WITH sets AS (
  SELECT doc_id AS id, list_sort(list_distinct({duck_shingles()})) AS sh
  FROM {table}
  WHERE len(list_distinct({duck_shingles()})) > 0
),
tok AS (SELECT id, len(sh) AS n, unnest(sh) AS g FROM sets),
dfreq AS (SELECT g, count(*) AS dfq FROM tok GROUP BY g),
ranked AS (
  SELECT id, n, g,
         row_number() OVER (PARTITION BY id ORDER BY dfq, g) AS rk
  FROM tok JOIN dfreq USING (g)
),
prefix AS (
  SELECT id, n, g FROM ranked
  WHERE rk <= n - (({num} * n + {den} - 1) // {den}) + 1
),
capped AS (
  SELECT id, n, g FROM (
    SELECT *, count(*) OVER (PARTITION BY g) AS b FROM prefix
  ) WHERE b <= {max_bucket} AND b > 1
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM capped a JOIN capped b
    ON a.g = b.g AND a.id < b.id
   AND {num} * greatest(a.n, b.n) <= {den} * least(a.n, b.n)
)
SELECT c.id_a, c.id_b,
  round(len(list_intersect(x.sh, y.sh)) /
        CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE), 6) AS jaccard
FROM cand c JOIN sets x ON c.id_a = x.id JOIN sets y ON c.id_b = y.id
WHERE {den} * len(list_intersect(x.sh, y.sh)) >=
      {num} * len(list_distinct(list_concat(x.sh, y.sh)))
"""


# ---------------------------------------------------------------------------
# duplicate-cluster formation: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def _large_star(e: DataFrame) -> DataFrame:
    """large-star round: every node's strictly-larger neighbors attach
    to the minimum of its closed neighborhood."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    m = F.least(F.col("_mn"), F.col("src")).alias("m")
    return (
        sym.join(mins, "src")
        .select(F.col("dst").alias("u"), m)
        .filter(F.col("u") > F.col("m"))
        .select(F.col("u").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """small-star round: orient larger→smaller; every node's smaller
    neighbors (and the node) attach to the smallest of them."""
    o = e.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    attach = o.join(mins, "u").select(F.col("v").alias("src"), F.col("m").alias("dst"))
    center = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return attach.union(center).filter(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame, max_iters: int = 30, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, root) for every node in ``edges``; root = component min.

    Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm):
    converges in O(log n) rounds on ANY graph shape, unlike naive
    min-label propagation whose round count is the graph diameter (a
    duplicate chain a~b~c~... would need O(n) rounds).  Each round is
    two map-side-combinable groupBy(node) aggregates + a join — no
    collect_list of whole components on one executor, so a 10^8-member
    boilerplate cluster never materializes on a single task (its hub
    edges spread across the star's HashAggregate partitions).

    ``localCheckpoint`` after every round cuts the iterative lineage —
    without it round k's plan re-derives rounds 1..k-1 and the job DAG
    grows quadratically.  Convergence = edge set unchanged over a full
    small+large round (set equality via EXCEPT both ways, metadata-cheap
    at O(log n) total rounds).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nxt = _large_star(_small_star(e)).localCheckpoint()
        changed = (
            nxt.exceptAll(e).limit(1).count() > 0
            or e.exceptAll(nxt).limit(1).count() > 0
        )
        e = nxt
        if not changed:
            break
    # fixpoint is a disjoint union of stars centered at component minima
    o = e.select(F.greatest("src", "dst").alias("node"), F.least("src", "dst").alias("root"))
    centers = o.select(F.col("root").alias("node"), F.col("root").alias("root")).distinct()
    return o.union(centers).distinct()


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """every document labeled with its duplicate-cluster id (= min doc
    id of the connected component of near-dup pairs; singletons are
    their own cluster) and a keeper flag — the decision output a corpus
    dedup pipeline feeds to the export stage."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    roots = connected_components(edges)
    return (
        df.select(F.col(id_col))
        .join(roots, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce("root", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_keeper", F.col(id_col) == F.col("cluster_id"))
    )


def duck_dedup_clusters(table: str = "documents") -> str:
    """oracle: min reachable id via a recursive CTE (terminates because
    UNION deduplicates the (node, label) walk frontier)."""
    return f"""
WITH RECURSIVE pairs AS ({duck_minhash_lsh_pairs(table)}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk(node, lbl) AS (
  SELECT a, b FROM edges
  UNION
  SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.node
),
roots AS (
  SELECT node, least(min(lbl), node) AS root FROM walk GROUP BY node
)
SELECT d.doc_id,
  coalesce(r.root, d.doc_id) AS cluster_id,
  d.doc_id = coalesce(r.root, d.doc_id) AS is_keeper
FROM {table} d LEFT JOIN roots r ON d.doc_id = r.node
"""
