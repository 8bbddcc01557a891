"""Deterministic stratified sampling + dataset splits for
training-data pipelines.

At 100 TB the only sampling that survives contact with a cluster is
stateless and deterministic: a pure function of the row key decides
membership, so the job is a map-filter with ZERO shuffles, reruns and
restarts are idempotent, late-arriving partitions sample consistently,
and train/val/test splits can never leak across reruns. (Reservoir
and `df.sample` styles are none of those things — seed- and
partitioning-dependent.)

The hash is a Knuth multiplicative bucket on the integer key,
expressed in dialect-shared SQL arithmetic so the DuckDB oracle
recomputes it bit-for-bit: the key is reduced mod 2^20 first so the
64-bit product can never overflow BIGINT (DuckDB errors on overflow,
Spark wraps — neither path is hit), and the bucket is taken from the
HIGH bits of the product (multiplicative hashing mixes upward — a
trailing mod alone would discard every carry and leave the bucket an
affine permutation of the key's decimal residue, i.e. periodic in the
key). The /2^20 step is FLOOR division through doubles: the product
is < 2^53 and the divisor a power of two, so the arithmetic is exact
bit-for-bit in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-language keep quota in permille; unlisted strata keep all —
#: the shape of an up/down-sampling curriculum mix
DEFAULT_RATES = {"en": 200, "de": 500, "fr": 500, "es": 700, "zh": 900}

_KNUTH = 2654435761  # 2^32 * golden ratio, the classic multiplicative mix


def bucket_sql(key_expr: str) -> str:
    """0-999 bucket from the product's high bits, identical arithmetic
    in Spark SQL and DuckDB (exact: product < 2^53, divisor 2^20).

    The residue is folded nonnegative (both engines' % keeps the
    dividend's sign): a signed key (snowflake-style ids, hash-derived
    keys) would otherwise yield a negative bucket that passes every
    `bucket < rate` quota and lands in 'train' unconditionally."""
    nonneg = f"(((({key_expr}) % 1048576) + 1048576) % 1048576)"
    prod = f"({nonneg} * {_KNUTH})"
    return f"(CAST(FLOOR({prod} / 1048576.0) AS BIGINT) % 1000)"


def rate_sql(stratum_expr: str, rates: dict[str, int]) -> str:
    whens = " ".join(f"WHEN '{s}' THEN {r}" for s, r in sorted(rates.items()))
    return f"CASE {stratum_expr} {whens} ELSE 1000 END"


def split_sql(bucket_expr: str) -> str:
    """8/1/1 train/val/test off the bucket's last digit — disjoint by
    construction with the sampling decision's higher digits."""
    d = f"(({bucket_expr}) % 10)"
    return (
        f"CASE WHEN {d} < 8 THEN 'train' WHEN {d} < 9 THEN 'val' "
        f"ELSE 'test' END"
    )


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Keep each row iff the deterministic bucket of its ``doc_id``
    falls under its ``lang`` stratum's quota (:data:`DEFAULT_RATES`);
    kept rows carry the bucket and an 8/1/1
    train/val/test split. Pure Catalyst map-filter — no shuffle, no
    state, no RNG."""
    bucket = F.expr(bucket_sql("doc_id"))
    rate = F.expr(rate_sql("lang", DEFAULT_RATES))
    out = docs.withColumn("bucket", bucket).filter(F.col("bucket") < rate)
    return out.withColumn("split", F.expr(split_sql("bucket")))


def stratified_sample_oracle(docs_sql: str) -> str:
    b = bucket_sql("doc_id")
    return f"""
WITH docs AS ({docs_sql}),
k AS (SELECT *, {b} AS bucket FROM docs)
SELECT *, {split_sql('bucket')} AS split
FROM k WHERE bucket < {rate_sql('lang', DEFAULT_RATES)}
"""
