"""Document deduplication operators for large-scale training-data
pipelines: exact (hash groupBy), exact n-gram Jaccard (blocked
self-join), MinHash+LSH (banded candidate join + exact verify) and
SimHash (hamming-banded). Every operator is a plain Catalyst plan:
text hashing is md5 over codegen'd scalar expressions (no Python
UDF), and all joins/groupBys are relational ops, so AQE/skew handling
applies; the MinHash and SimHash hashes are portable SQL with DuckDB
twins, so the driver gate value-checks them.

Scale design: exact dedup is one hash-shuffle; Jaccard runs exactly
*within* blocks (a deliberate semantic: per-source dedup) so the
self-join never goes quadratic globally; MinHash/LSH covers the
cross-block space probabilistically with band-bucket equi-joins — the
standard web-scale dedup stack (cf. the public MinHashLSH literature
and spark.ml's MinHashLSH API, reimplemented here Catalyst-first).
Each self-join reads its signature, fingerprint or token stage through
one shuffle that Spark's exchange reuse shares between the sides, so no
operator here caches anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup on normalized ``text``.

    Output: (text_key, n_dups, keeper) — one row per distinct
    normalized text; ``keeper`` is the smallest id (the canonical
    survivor policy). One shuffle, map-side partial agg.
    """
    return (
        docs.select(
            F.md5(F.lower(F.col("text"))).alias("text_key"),
            F.col("doc_id"),
        )
        .groupBy("text_key")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper"),
        )
    )


# ---------------------------------------------------------------------------
# exact blocked n-gram Jaccard
# ---------------------------------------------------------------------------

#: all-pairs-within-a-block is O(n²) in the block: cap it. 100k docs
#: in one block ≈ 5·10⁹ candidate pairs — route such blocks to MinHash.
MAX_JACCARD_BLOCK = 100_000


def jaccard_pairs_blocked(docs: DataFrame, threshold: float) -> DataFrame:
    """Exact distinct-token Jaccard over all pairs of ``doc_id`` within
    each ``source`` block.

    Pure Catalyst: tokenize → self-equi-join on the block key (never
    globally quadratic) → array_intersect size arithmetic. Output:
    (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Scale guard: within a block the pair count is quadratic, so one
    mega-block (a dominant source) silently turns the exact
    per-source semantics into a non-terminating job at 10⁹-doc scale.
    A histogram pre-pass (one partial-aggregated shuffle on the block
    key — tiny output) fails fast naming every block over
    ``MAX_JACCARD_BLOCK`` (read at call time); the scale path for
    those is :func:`minhash_near_dups`.
    """
    big = (
        docs.groupBy(F.col("source").alias("_blk"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > MAX_JACCARD_BLOCK)
    )
    oversize = [(r._blk, r._n) for r in big.limit(20).collect()]
    if oversize:
        raise ValueError(
            f"jaccard_pairs_blocked: block(s) over MAX_JACCARD_BLOCK="
            f"{MAX_JACCARD_BLOCK}: {oversize} — all-pairs is quadratic "
            "per block; route these through minhash_near_dups"
        )
    from osm2shp_spark.operators._parallel import ensure_min_parallelism

    # Both sides of the block self-join read the tokenized table
    # through one reused shuffle. Spread a 1-split scan first
    # (guide §2.5): the block join broadcasts one side and keeps the
    # other's partitioning, so without this the whole quadratic block
    # join ran in ONE task (measured 11.3 s steady at sf0.1).
    t = ensure_min_parallelism(docs).select(
        F.col("doc_id").alias("_id"),
        F.col("source").alias("_blk"),
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("_toks"),
    )
    a = t.alias("a")
    b = t.alias("b")
    inter = F.size(F.array_intersect(F.col("a._toks"), F.col("b._toks")))
    na = F.size(F.col("a._toks"))
    nb = F.size(F.col("b._toks"))
    jac = inter.cast("double") / (na + nb - inter)
    # Exact length prefilter (standard Jaccard bound): J(A,B) =
    # |A∩B|/|A∪B| <= min/max, so J >= t requires min(|A|,|B|) >=
    # t*max(|A|,|B|). Sizes ride the join rows anyway, so this prunes
    # a candidate pair with two int ops before the O(|A|+|B|) hash
    # intersect (measured: 622k -> 189k intersects at sf0.1, t=0.9).
    # The 1e-12 slack keeps the bound conservative under FP rounding:
    # the correctly-rounded double of min/max can sit one ulp below
    # the real ratio, and t itself is a rounded literal — no pair the
    # threshold filter would keep can be lost here.
    szfilter = (
        F.least(na, nb).cast("double") / F.greatest(na, nb)
        >= F.lit(float(threshold)) - F.lit(1e-12)
    )
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")),
        )
        .filter(szfilter)
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Portable hash primitives (identical SQL text runs on Spark and DuckDB)
# ---------------------------------------------------------------------------
#
# Both engines agree bit-for-bit on md5 of UTF-8 strings; 15 hex chars
# = 60 bits always fit a signed BIGINT. Every hash below is therefore
# *SQL-expressible in both dialects*, which is what lets the MinHash /
# SimHash pipelines carry full DuckDB oracles in the driver gate while
# staying 100% JVM-side (no Python at all) in Spark.

def _md5_bigint(expr: str, dialect: str) -> str:
    """60-bit integer hash of a string expression."""
    if dialect == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# MinHash + LSH (the cross-block scale path)
# ---------------------------------------------------------------------------

#: portable minhash geometry: 64 hashes, 16 bands x 4 rows
#: → s-curve threshold ~ (1/16)^(1/4) ~ 0.5
_NUM_HASHES = 64
_BANDS = 16

#: Mersenne prime 2^61-1 — the modulus of the portable double-hash
#: family below. All intermediate sums stay under 2^63 exactly:
#: h1 < 2^60, j*h2 <= 63 * 2^56 < 2^62, so BIGINT arithmetic never
#: wraps in either engine (DuckDB would error on overflow; Spark would
#: silently wrap — neither happens).
_MH_P = (1 << 61) - 1


def _shingles_sql(dialect: str) -> tuple[str, str]:
    """(token-array expr over ``text``, 3-shingle-array expr over
    ``_toks``) with identical semantics in both dialects. Docs shorter
    than 3 tokens pad with ''."""
    k = 3
    if dialect == "spark":
        toks0 = "split(lower(text), ' ')"
        toks = (
            f"CASE WHEN size({toks0}) < {k} THEN concat({toks0}, "
            f"array_repeat('', {k} - size({toks0}))) ELSE {toks0} END"
        )
        sh = (
            f"transform(sequence(1, size(_toks) - {k - 1}), i -> "
            f"concat_ws(' ', "
            + ", ".join(f"element_at(_toks, i + {d})" for d in range(k))
            + "))"
        )
        return toks, sh
    toks0 = "string_split(lower(text), ' ')"
    toks = (
        f"CASE WHEN len({toks0}) < {k} THEN list_concat({toks0}, "
        f"list_transform(generate_series(1, {k} - len({toks0})), x -> '')) "
        f"ELSE {toks0} END"
    )
    sh = (
        f"list_transform(generate_series(1, len(_toks) - {k - 1}), i -> "
        + " || ' ' || ".join(f"_toks[i + {d}]" for d in range(k))
        + ")"
    )
    return toks, sh


def _minhash_sig_sql() -> tuple[str, ...]:
    """DuckDB signature expressions ``(toks, shingles, md5s, h1, h2,
    sig)``: an array of 64 min-hashes over token 3-shingles
    (:func:`_shingles_sql`). :func:`minhash_near_dups` computes the same
    values on exploded rows.

    Hash family: ONE md5 per shingle yields two independent integers
    (h1: hex chars 1-15 → 60 bits, h2: chars 17-30 → 56 bits); the 64
    per-permutation hashes are g_j = (h1 + j*h2) mod (2^61-1) — the
    Kirsch-Mitzenmacher double-hashing construction (public result:
    'Less Hashing, Same Performance', 2006). 64x fewer md5 invocations
    than hashing (j, shingle) pairs directly — measured ~40x on the
    signature stage — while staying bit-identical across engines
    (integer + and %, no string concat per j)."""
    toks, sh = _shingles_sql("duckdb")
    md5s = "list_transform(_shingles, s -> md5(s))"
    h1 = "list_transform(_md5s, m -> CAST(('0x' || substr(m, 1, 15)) AS BIGINT))"
    h2 = "list_transform(_md5s, m -> CAST(('0x' || substr(m, 17, 14)) AS BIGINT))"
    sig = (
        f"list_transform(generate_series(0, {_NUM_HASHES - 1}), j -> "
        f"list_min(list_transform(list_zip(_h1, _h2), "
        f"z -> (z[1] + j * z[2]) % {_MH_P})))"
    )
    return toks, sh, md5s, h1, h2, sig


def minhash_near_dups(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Banded-LSH candidate generation over *portable* md5-based
    MinHash signatures — pure Catalyst (codegen'd JVM expressions, zero
    Python), value-checked end-to-end by the DuckDB twin
    (:func:`minhash_near_dups_oracle`).

    Output: (doc_a, doc_b, est_jaccard) pairs whose signature agreement
    ≥ threshold, candidates limited to band collisions (16 bands x 4
    rows over 64 MinHashes, banding on the raw 4-hash slice so the
    bucket key needs no engine-specific hash function). Precision of
    the estimate is exact; recall follows the standard LSH s-curve.

    Scale: one md5 per shingle (the 64 permutations derive by integer
    double-hashing — see :func:`_minhash_sig_sql`); the signature
    stage (shingle explode + md5 + 64 min aggregates) dominates the
    cost, and the banded self-join moves only id pairs.
    """
    from osm2shp_spark.operators._parallel import ensure_min_parallelism

    rows_per_band = _NUM_HASHES // _BANDS
    toks, sh = _shingles_sql("spark")
    # Spark-side plan: explode shingles to rows so md5/h1/h2 run as
    # whole-stage-codegen scalar expressions (Catalyst higher-order
    # lambdas are interpreted per element — measured ~8x slower), then
    # ONE groupBy with 64 map-side-partial min aggregates rebuilds the
    # signature. Values are identical to the oracle's list form.
    # The shingle+md5 chain fuses with the doc scan, so a 1-split scan
    # would run it single-task — spread first (guide §2.5).
    shingled = (
        ensure_min_parallelism(docs)
        .select(F.col("doc_id").alias("_id"), F.expr(toks).alias("_toks"))
        .select("_id", F.explode(F.expr(sh)).alias("_s"))
        .withColumn("_m", F.md5("_s"))
        .select(
            "_id",
            F.expr("CAST(conv(substr(_m, 1, 15), 16, 10) AS BIGINT)").alias("_h1"),
            F.expr("CAST(conv(substr(_m, 17, 14), 16, 10) AS BIGINT)").alias("_h2"),
        )
    )
    # The banded self-join and the two signature re-attach joins all
    # read the signature stage through one shuffle that Spark reuses.
    sigd = shingled.groupBy("_id").agg(
        *[
            F.min(F.expr(f"(_h1 + {j} * _h2) % {_MH_P}")).alias(f"_g{j}")
            for j in range(_NUM_HASHES)
        ]
    ).select(
        "_id", F.array(*[f"_g{j}" for j in range(_NUM_HASHES)]).alias("_sig")
    )
    # Shuffle ids, not payloads (same shape as embedding_near_dups):
    # the banded self-join and the pair dedup previously carried BOTH
    # 64-long signatures (~0.5 KB each side per row) on every band
    # collision — on duplicate-heavy corpora the collision count is
    # quadratic within collision clusters, so the dedup exchange was
    # payload-bound (measured 5x sf: 2.24M raw collisions -> 508k
    # distinct pairs). Pairs now move as 16-byte id pairs; signatures
    # re-attach to the DISTINCT pairs from sigd (two equi-joins on the
    # reused signature shuffle), so the agreement estimate still runs
    # exactly once per distinct pair.
    banded = sigd.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("_sig", b * rows_per_band + 1, rows_per_band)
                    for b in range(_BANDS)
                ]
            )
        ).alias("_band", "_key"),
    )
    return _minhash_estimate(
        _attach_sigs(
            _banded_self_pairs(banded, "_key").dropDuplicates(
                ["doc_a", "doc_b"]
            ),
            sigd,
        ),
        threshold,
    )


def _attach_sigs(pairs: DataFrame, sigd: DataFrame) -> DataFrame:
    """Re-attach ``_siga``/``_sigb`` to distinct (doc_a, doc_b) pairs
    from the signature table — the heavy arrays join AFTER the dedup,
    once per distinct pair side."""
    sa = sigd.select(F.col("_id").alias("doc_a"), F.col("_sig").alias("_siga"))
    sb = sigd.select(F.col("_id").alias("doc_b"), F.col("_sig").alias("_sigb"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def _banded_self_pairs(banded: DataFrame, key: str, **carry: str) -> DataFrame:
    """Candidate pairs from a banded table: equi-join on (_band, key)
    with the ``a._id < b._id`` half-matrix cut. ``carry`` maps a
    short name -> source column copied from each side as ``_<name>a``
    / ``_<name>b`` (use it for SLIM columns — the 8-byte SimHash
    fingerprints; the MinHash paths re-attach their 0.5 KB signature
    arrays after the pair dedup instead, see ``_attach_sigs``).
    Shared by both near-dup operators (MinHash and SimHash) — the
    blocking topology is the load-bearing scale
    property, so it lives in exactly one place."""
    a, b = banded.alias("a"), banded.alias("b")
    cols = [F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b")]
    for name, src in carry.items():
        cols.append(F.col(f"a.{src}").alias(f"_{name}a"))
        cols.append(F.col(f"b.{src}").alias(f"_{name}b"))
    return a.join(
        b,
        (F.col("a._band") == F.col("b._band"))
        & (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(*cols)


def _minhash_estimate(cand: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, est_jaccard >= threshold) from deduplicated
    candidate pairs carrying _siga/_sigb."""
    agree = F.size(
        F.filter(F.zip_with("_siga", "_sigb", lambda x, y: x == y), lambda v: v)
    )
    est = agree.cast("double") / F.lit(float(_NUM_HASHES))
    return cand.select("doc_a", "doc_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def _hamming_pairs(pairs: DataFrame, max_hamming: int) -> DataFrame:
    """(doc_a, doc_b, hamming <= max) from candidate pairs carrying
    _sha/_shb fingerprints."""
    ham = F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb")))
    return (
        pairs.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_near_dups_oracle(docs_sql: str, threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`minhash_near_dups` (same signatures, same
    banding, same estimate arithmetic)."""
    rows_per_band = _NUM_HASHES // _BANDS
    toks, sh, md5s, h1, h2, sig = _minhash_sig_sql()
    return f"""
WITH docs AS ({docs_sql}),
t AS (SELECT doc_id AS _id, {toks} AS _toks FROM docs),
s AS (SELECT _id, {sh} AS _shingles FROM t),
m AS (SELECT _id, {md5s} AS _md5s FROM s),
h AS (SELECT _id, {h1} AS _h1, {h2} AS _h2 FROM m),
sig AS (SELECT _id, {sig} AS _sig FROM h),
banded AS (
    SELECT _id, _sig, g.b AS _band,
           CASE g.b {' '.join(f'WHEN {b} THEN list_slice(_sig, {b * rows_per_band + 1}, {(b + 1) * rows_per_band})' for b in range(_BANDS))} END AS _key
    FROM sig, generate_series(0, {_BANDS - 1}) AS g(b)
),
pairs AS (
    SELECT DISTINCT a._id AS doc_a, b._id AS doc_b
    FROM banded a JOIN banded b
      ON a._band = b._band AND a._key = b._key AND a._id < b._id
),
est AS (
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_filter(list_zip(sa._sig, sb._sig),
                                z -> z[1] = z[2])) AS DOUBLE)
             / {float(_NUM_HASHES)}e0 AS est_jaccard
    FROM pairs p
    JOIN sig sa ON sa._id = p.doc_a
    JOIN sig sb ON sb._id = p.doc_b
)
SELECT doc_a, doc_b, est_jaccard FROM est
WHERE est_jaccard >= {threshold}e0
"""


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

#: portable simhash geometry: 60 bits (15 hex chars of md5), 4 x 15-bit
#: bands → pigeonhole recall guarantee for hamming <= 3
_SIMHASH_BITS = 60
_SIMHASH_BANDS = 4


def _simhash_sql() -> tuple[str, str]:
    """DuckDB (token-hash-list expr over ``text``, simhash-from-_hs expr).
    SimHash over the distinct-token set: bit b of the fingerprint is 1
    iff more than half the token hashes have bit b set."""
    hs = (
        "list_transform(list_distinct(string_split(lower(text), ' ')), "
        f"t -> {_md5_bigint('t', 'duckdb')})"
    )
    sim = (
        f"CAST(list_sum(list_transform(generate_series(0, {_SIMHASH_BITS - 1}), "
        f"b -> CASE WHEN 2 * len(list_filter(_hs, h -> ((h >> b) & 1) = 1)) "
        f"> len(_hs) THEN (CAST(1 AS BIGINT) << b) "
        f"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )
    return hs, sim


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Portable 60-bit SimHash near-dup pairs with hamming ≤ k — pure
    Catalyst (zero Python), DuckDB-oracle-checked end to end
    (:func:`simhash_near_dups_oracle`).

    Blocking: 4 x 15-bit bands — any pair within hamming ≤ 3 shares at
    least one exact band (pigeonhole), so recall is 100%; the hamming
    verify keeps precision exact. Output: (doc_a, doc_b, hamming).

    Scale: map-only fingerprinting (one expression per row, no
    shuffle), then the banded equi-join shuffles only (id, 8-byte key)
    rows.
    """
    if max_hamming >= _SIMHASH_BANDS:  # pragma: no cover - guard
        raise ValueError("banding guarantees recall only for hamming < bands")
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    # Spark-side plan: explode distinct tokens so the md5 hash runs as
    # a codegen scalar, then ONE groupBy with 60 partial-agg bit sums
    # + a flat 60-term reassembly expression — no interpreted Catalyst
    # lambdas (measured ~8x on the fingerprint stage). Values are
    # identical to the oracle's list-HOF form.
    from osm2shp_spark.operators._parallel import ensure_min_parallelism

    # tokenize+md5 fuses with the doc scan — spread a 1-split scan
    # first (guide §2.5; same rationale as minhash_near_dups)
    tok = ensure_min_parallelism(docs).select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("_t"),
    ).withColumn("_h", F.expr(_md5_bigint("_t", "spark")))
    bits = tok.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.expr(f"(shiftright(_h, {b}) & 1)")).alias(f"_b{b}")
            for b in range(_SIMHASH_BITS)
        ],
    )
    sim_expr = " + ".join(
        f"(CASE WHEN 2 * _b{b} > _n THEN {1 << b}L ELSE 0L END)"
        for b in range(_SIMHASH_BITS)
    )
    # both sides of the banded self-join read the fingerprint stage
    # through one reused shuffle
    sh = bits.select("_id", F.expr(sim_expr).alias("_sh"))
    banded = sh.select(
        "_id",
        "_sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_sh"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("_band", "_key"),
    )
    return _hamming_pairs(
        _banded_self_pairs(banded, "_key", sh="_sh"), max_hamming
    )


def simhash_near_dups_oracle(docs_sql: str, max_hamming: int = 3) -> str:
    """DuckDB twin of :func:`simhash_near_dups`."""
    hs, sim = _simhash_sql()
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << width) - 1
    return f"""
WITH docs AS ({docs_sql}),
h AS (SELECT doc_id AS _id, {hs} AS _hs FROM docs),
s AS (SELECT _id, {sim} AS _sh FROM h),
banded AS (
    SELECT _id, _sh, g.b AS _band, (_sh >> (g.b * {width})) & {mask} AS _key
    FROM s, generate_series(0, {_SIMHASH_BANDS - 1}) AS g(b)
)
SELECT DISTINCT a._id AS doc_a, b._id AS doc_b,
       CAST(bit_count(xor(a._sh, b._sh)) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a._band = b._band AND a._key = b._key AND a._id < b._id
WHERE bit_count(xor(a._sh, b._sh)) <= {max_hamming}
"""
