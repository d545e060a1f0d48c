"""Filter stage — drop semantics, deterministic sampling, redaction.

Reference semantics:
- stanza filter: DROP entries matching the expression, plus
  probabilistic ``drop_ratio`` —
  operator/transformer/filter/transformer.go:26-99.
- filterprocessor: drop records where any OTTL condition matches;
  legacy matchers (strict/regexp body, min severity) —
  processor/filterprocessor/logs.go:98-162.
- probabilisticsampler (logs): hash-based deterministic sampling at a
  percentage, optionally keyed by an attribute —
  processor/probabilisticsamplerprocessor/logsprocessor.go:115-230.
- redaction: allowed/blocked attribute keys + blocked value patterns —
  processor/redactionprocessor/.

Spark-first: filters are plain ``df.filter`` so Catalyst pushes them
into the scan; sampling is a pure hash expression (reproducible across
runs and cluster sizes, unlike ``rand()``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkotel.expr import compile_condition


def _cond(df: DataFrame, c: Column | str) -> Column:
    # strings are OTTL conditions (the filterprocessor contract)
    return compile_condition(df, c) if isinstance(c, str) else c


def filter_drop(df: DataFrame, conditions: Sequence[Column | str]) -> DataFrame:
    """Drop rows where ANY condition matches (OR-ed, logs.go:98-124).
    NULL-valued conditions keep the row (no-match), matching OTTL's
    error→no-match mode."""
    drop = None
    for c in conditions:
        cc = _cond(df, c)
        drop = cc if drop is None else drop | cc
    return df.filter(~F.coalesce(drop, F.lit(False)))


def stanza_filter(
    df: DataFrame,
    condition: Column | str,
    drop_ratio: float = 1.0,
    key: str = "doc_id",
) -> DataFrame:
    """stanza filter transformer: DROP entries matching the expression;
    with ``drop_ratio`` < 1 only that fraction of matching entries drops
    (operator/transformer/filter/transformer.go:26-99 —
    ``rand.Float64() < dropCutoff``).  The rand draw is a deterministic
    Weyl-multiplier bucket on ``key`` here, reproducible across runs and
    cluster sizes (and in the DuckDB oracle); NULL conditions keep the
    row (expr-error → no-drop)."""
    if not 0.0 < drop_ratio <= 1.0:
        raise ValueError(f"drop_ratio must be in (0, 1]: {drop_ratio}")
    cond = F.coalesce(_cond(df, condition), F.lit(False))
    if drop_ratio >= 1.0:
        return df.filter(~cond)
    bucket = F.pmod(F.col(key) * F.lit(2654435761), F.lit(10000))
    return df.filter(~(cond & (bucket < F.lit(int(drop_ratio * 10000)))))


def probabilistic_sampler(
    df: DataFrame,
    percent: float,
    key: str = "url",
    mode: str = "arith",
) -> DataFrame:
    """Deterministic hash-based sampler.

    ``mode='hash'`` uses xxhash64 (the production path — uniform, like
    the reference's FNV/OTEP-235 randomness); ``mode='arith'`` uses a
    Weyl-sequence multiplier on ``doc_id`` so the DuckDB oracle can
    reproduce the exact row set (no shared hash fn across engines).
    Reference: logsprocessor.go:115-230 — sampled iff
    hash(key) mod 2^56 < threshold(percent).
    """
    if mode == "hash_seed":
        return hash_seed_sampler(df, percent, key=key)
    if mode == "hash":
        bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(10000))
    else:
        bucket = F.pmod(F.col(key) * F.lit(2654435761), F.lit(10000))
    return df.filter(bucket < F.lit(int(percent * 100)))


def hash_seed_sampler(
    df: DataFrame, percent: float, key: str = "url", hash_seed: int = 0
) -> DataFrame:
    """The reference's exact ``hash_seed`` mode
    (probabilisticsamplerprocessor/sampler_mode.go:35-38 +
    fnvhasher.go:12-26): bucket = FNV-1a-32(le32(seed) ‖ key-bytes)
    & 0x3FFF, sampled iff bucket < uint32(percent · 16384/100).

    The FNV pass is an Arrow-batched pandas UDF (byte-sequential hash,
    not expressible as native columns); the arithmetic mode above stays
    the oracle-replayable default."""
    from sparkotel.functions.exacthash import fnv1a_32_seeded_udf

    scaled = int(percent * (0x4000 / 100.0))
    bucket = fnv1a_32_seeded_udf(hash_seed)(F.col(key).cast("string")).bitwiseAND(
        F.lit(0x3FFF)
    )
    return df.filter(bucket < F.lit(scaled))


def redact(
    df: DataFrame,
    map_col: str = "attributes",
    allowed_keys: Sequence[str] | None = None,
    blocked_values: Sequence[str] = (),
    mask: str = "****",
) -> DataFrame:
    """redactionprocessor: drop non-allowed keys, mask blocked value
    patterns (applied in that order, like the reference)."""
    m = F.col(map_col)
    if allowed_keys is not None:
        arr = F.array(*[F.lit(k) for k in allowed_keys])
        m = F.map_filter(m, lambda k, v: F.array_contains(arr, k))
    for pat in blocked_values:
        m = F.transform_values(m, lambda k, v: F.regexp_replace(v, pat, mask))
    return df.withColumn(map_col, m)
