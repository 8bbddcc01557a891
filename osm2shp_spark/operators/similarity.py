"""Similarity search over embedding columns (array<float>): exact
brute-force cosine top-k as the baseline, and a hyperplane-LSH
bucketed variant as the scale path.

Exactness + oracle parity: dot products and norms are computed as
explicit left-fold ``aggregate(zip_with(...))`` with all operands cast
to double — the same fold the DuckDB oracle runs via
``list_reduce(list_transform(list_zip(...)))`` — so similarities are
bit-identical across engines (no SIMD/reordering ambiguity).

Scale notes: brute-force is a broadcast of the (small) probe set
against a full scan of the corpus — linear per probe, shuffle-free
until the final per-probe top-k (tiny). The LSH variant buckets the
corpus once (16-bit sign signatures over 16 fixed hyperplanes) and
joins probe buckets with multi-probe (hamming-1 neighbors), then
re-ranks candidates exactly — the classic SPANN/IVF-flavored recipe
expressed as Catalyst joins.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2shp_spark.operators import _budget

#: shared Spark-side fold expression for SQL parity
def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm2_expr(a: str) -> str:
    return _dot_expr(a, a)


def cosine_sim_col(a: str, b: str) -> F.Column:
    # nullif: a zero-norm (all-zero) embedding yields NULL cosine —
    # the DuckDB twins' x/0 semantics — instead of aborting the job
    # under Spark 4's default ANSI mode. Nonzero denominators pass
    # through bit-identical.
    return F.expr(
        f"{_dot_expr(a, b)} / "
        f"nullif(sqrt({_norm2_expr(a)}) * sqrt({_norm2_expr(b)}), 0.0e0)"
    )


def norm_col(a: str) -> F.Column:
    """sqrt of the sequential-fold squared norm — precompute this once
    per vector instead of once per candidate pair: sqrt(fold) is the
    exact same IEEE value either way, and the pairwise cosine below
    multiplies the two cached sqrts in the same order as
    :func:`cosine_sim_col`, so results stay bit-identical while the
    fold count drops from 3 per pair to 1 per pair + 1 per vector."""
    return F.expr(f"sqrt({_norm2_expr(a)})")


def cosine_from_norms(a: str, b: str, na: str, nb: str) -> F.Column:
    # nullif: see cosine_sim_col — NULL for zero-norm vectors instead
    # of an ANSI divide-by-zero abort; bit-identical otherwise.
    return F.expr(f"{_dot_expr(a, b)} / nullif({na} * {nb}, 0.0e0)")


def duck_dot(a: str, b: str) -> str:
    """DuckDB twin of ``_dot_expr`` with the identical left-fold order
    (list_reduce starts from the first element; the Spark fold starts
    from 0.0 — (0 + x1) == x1 exactly, so the sums agree bitwise)."""
    return (
        f"list_reduce(list_transform(list_zip("
        f"CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), s -> s[1] * s[2]), "
        f"(acc, v) -> acc + v)"
    )


def duck_cosine(a: str, b: str) -> str:
    return f"{duck_dot(a, b)} / (sqrt({duck_dot(a, a)}) * sqrt({duck_dot(b, b)}))"


# ---------------------------------------------------------------------------
# exact brute-force top-k
# ---------------------------------------------------------------------------

def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
) -> DataFrame:
    """Exact cosine top-k over (vec_id, embedding) rows:
    (probe_id, rank, neighbor_id, cosine).

    Self-matches excluded; ties broken by neighbor id. The corpus is
    scanned once.

    Physical strategy: probe sets whose ``(vec_id, embedding)`` bytes fit
    the broadcast budget (:mod:`._budget`, one aggregate) score
    through :func:`_cosine_topk_broadcast_numpy` — the
    probes×corpus dot products run as vectorized NumPy with the SAME
    sequential-over-dimensions IEEE accumulation order as the SQL fold
    (bit-identical cosines, pytest- and oracle-asserted), and each
    scan slice pre-reduces to a threshold-inclusive per-probe
    candidate superset so the final exact window ranks thousands of
    rows instead of |corpus|x|probes|. Above the budget the pure-SQL
    plan below runs — same rows bit for bit, but it evaluates the
    interpreted ``aggregate(zip_with(...))`` fold per pair, and the
    planner picks the cross join's strategy (the probes just failed
    the budget, so no broadcast hint).
    """
    if _budget.fits_broadcast(probes.select("vec_id", "embedding")):
        cand = _cosine_topk_broadcast_numpy(corpus, probes, k)
    else:
        p = probes.select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("_pvec"),
            norm_col("embedding").alias("_pn"),
        )
        c = corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("_cvec"),
            norm_col("embedding").alias("_cn"),
        )
        sim = cosine_from_norms("_pvec", "_cvec", "_pn", "_cn")
        cand = (
            c.crossJoin(p)
            .filter(F.col("probe_id") != F.col("neighbor_id"))
            .select("probe_id", "neighbor_id", sim.alias("cosine"))
        )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "neighbor_id", "cosine")
    )


def _cosine_topk_broadcast_numpy(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
) -> DataFrame:
    """Candidate generator for :func:`cosine_topk`'s broadcast regime:
    (probe_id, neighbor_id, cosine) rows guaranteed to contain every
    probe's global top-k, self-matches excluded.

    Bit-parity with the SQL fold: dot products and squared norms
    accumulate SEQUENTIALLY over dimensions (``acc += x_j * y_j``, one
    rounding for the product and one for the sum per step — exactly
    the fold's ``acc + v`` order; NumPy elementwise ops do not fuse),
    inputs are widened to float64 up front (the fold CASTs each element),
    and the cosine divides the dot by the rounded ``cn * pn`` product.
    Zero-norm vectors yield NULL cosine like the SQL ``nullif``.

    Per (scan-slice, probe-chunk) the reducer keeps every row whose
    sort key reaches the k-th best (threshold-INCLUSIVE, so boundary
    cosine ties all survive — the final window, not this pass, breaks
    ties by neighbor id), plus NULL-cosine rows only when a probe has
    fewer than k scored candidates in the slice. Memory is bounded by
    the slice x chunk score matrix (~8k x 1k doubles = 64 MB)."""
    pid_t = dict(
        (f.name, f.dataType.simpleString()) for f in probes.schema.fields
    )["vec_id"]
    nid_t = dict(
        (f.name, f.dataType.simpleString()) for f in corpus.schema.fields
    )["vec_id"]
    ppdf = probes.select("vec_id", "embedding").toPandas()
    pids = ppdf["vec_id"].to_numpy()
    pv = np.stack(
        [np.asarray(v, dtype=np.float64) for v in ppdf["embedding"]]
    ) if len(ppdf) else np.zeros((0, 1))
    n_probe, dim = pv.shape
    # probe norms: same sequential-over-dims order as the SQL fold
    pn = np.zeros(n_probe, dtype=np.float64)
    for j in range(dim):
        pn += pv[:, j] * pv[:, j]
    pn = np.sqrt(pn)
    bc = corpus.sparkSession.sparkContext.broadcast((pids, pv, pn))
    out_schema = f"probe_id {pid_t}, neighbor_id {nid_t}, cosine double"
    ROWS, PCHUNK = 8192, 1024

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pids_, pv_, pn_ = bc.value
        np_, dim_ = pv_.shape
        if np_ == 0:
            return
        for pdf in batches:
            if pdf.empty:
                continue
            nids = pdf["vec_id"].to_numpy()
            xv = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            for r0 in range(0, len(nids), ROWS):
                xs = xv[r0 : r0 + ROWS]
                ns = nids[r0 : r0 + ROWS]
                n = len(ns)
                cn = np.zeros(n, dtype=np.float64)
                for j in range(dim_):
                    cn += xs[:, j] * xs[:, j]
                cn = np.sqrt(cn)
                for p0 in range(0, np_, PCHUNK):
                    pvc = pv_[p0 : p0 + PCHUNK]
                    pnc = pn_[p0 : p0 + PCHUNK]
                    pidc = pids_[p0 : p0 + PCHUNK]
                    m = len(pidc)
                    dots = np.zeros((n, m), dtype=np.float64)
                    for j in range(dim_):
                        dots += xs[:, j, None] * pvc[None, :, j]
                    denom = cn[:, None] * pnc[None, :]
                    valid = denom != 0.0
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dots / denom
                    # sort keys: real candidates by -cos; NULL-cosine
                    # rows nearly-last (emit only when a probe is short
                    # of scored candidates); self-matches truly last
                    # and never emitted
                    key = np.where(valid, -cos, np.finfo(np.float64).max)
                    key[ns[:, None] == pidc[None, :]] = np.inf
                    if n > k:
                        kth = np.partition(key, k - 1, axis=0)[k - 1]
                    else:
                        kth = np.full(m, np.finfo(np.float64).max)
                    emit = (key <= kth[None, :]) & (key < np.inf)
                    ri, ci = np.nonzero(emit)
                    if not len(ri):
                        continue
                    vals = cos[ri, ci]
                    ok = valid[ri, ci]
                    # object array: NULL cosine must reach Spark as
                    # None (a float NaN is NOT SQL NULL)
                    cosout = vals.astype(object)
                    cosout[~ok] = None
                    yield pd.DataFrame(
                        {
                            "probe_id": pidc[ci],
                            "neighbor_id": ns[ri],
                            "cosine": cosout,
                        }
                    )

    return corpus.select("vec_id", "embedding").mapInPandas(score, schema=out_schema)


# ---------------------------------------------------------------------------
# banded hyperplane-LSH variant (scale path)
# ---------------------------------------------------------------------------
#
# OR-amplified sign LSH: B bands of r hyperplane sign bits each; a pair
# becomes a candidate if ANY band matches. Collision probability for a
# pair at angle θ is 1 - (1 - (1-θ/π)^r)^B — the classic s-curve: high
# for near-duplicates (cos≥0.9 → >0.98 with 6x4), decaying for
# unrelated vectors (cos≈0 → ~0.3), which bounds the candidate scan.
# On genuinely uncorrelated corpora approximate top-k recall is
# inherently limited (no LSH can beat the s-curve); the exact
# brute-force path is the baseline for that regime.

_LSH_BANDS = 6
_LSH_BITS = 4


def _planes(dim: int) -> np.ndarray:
    rng = np.random.default_rng(77)
    return rng.standard_normal((_LSH_BANDS * _LSH_BITS, dim))


def band_key_exprs(dialect: str, dim: int) -> list[str]:
    """Per-band bucket-key SQL expressions over ``embedding`` (band
    index tagged in the high bits so different bands never collide in
    the join key).

    The hyperplanes are fixed seeded literals baked into the SQL text
    (repr round-trips doubles exactly; both engines' decimal parsers
    are correctly rounding), and each sign bit is the SAME sequential
    left-fold dot product on both engines (see ``_dot_expr`` /
    ``duck_dot``) — so bucket assignment is bit-identical in Spark and
    DuckDB and the whole LSH pipeline is oracle-checkable. Spark-side
    this is pure Catalyst: the fingerprinting stage is JVM codegen, no
    Python, no Arrow transfer.
    """
    from osm2shp_spark.operators.spatial import dlit

    planes = _planes(dim)
    keys = []
    for band in range(_LSH_BANDS):
        terms = []
        for bit in range(_LSH_BITS):
            lits = ", ".join(dlit(v) for v in planes[band * _LSH_BITS + bit])
            if dialect == "spark":
                dot = (
                    f"aggregate(zip_with(embedding, array({lits}), "
                    f"(x, y) -> CAST(x AS DOUBLE) * y), "
                    f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
                )
            else:
                dot = (
                    f"list_reduce(list_transform(list_zip("
                    f"CAST(embedding AS DOUBLE[]), [{lits}]), "
                    f"s -> s[1] * s[2]), (acc, v) -> acc + v)"
                )
            terms.append(f"(CASE WHEN {dot} > 0e0 THEN {1 << bit} ELSE 0 END)")
        keys.append(f"CAST({band << 16} + " + " + ".join(terms) + " AS INT)")
    return keys


def _band_buckets_col(dim: int) -> F.Column:
    """Spark array<int> column of the per-band bucket keys."""
    return F.array(*[F.expr(k) for k in band_key_exprs("spark", dim)])


def cosine_topk_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int,
) -> DataFrame:
    """Approximate top-k: banded-LSH candidates, exact re-rank.
    Same output schema as :func:`cosine_topk`; recall measured in tests
    AND the full pipeline (bucketing included) is value-checked against
    :func:`cosine_topk_lsh_oracle` in the driver gate.
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
        norm_col("embedding").alias("_cn"),
        F.explode(_band_buckets_col(dim)).alias("_bkt"),
    )
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("_pvec"),
        norm_col("embedding").alias("_pn"),
        F.explode(_band_buckets_col(dim)).alias("_bkt"),
    )
    sim = cosine_from_norms("_pvec", "_cvec", "_pn", "_cn")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        c.join(F.broadcast(p), "_bkt")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .dropDuplicates(["probe_id", "neighbor_id"])
        .select("probe_id", "neighbor_id", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate top-k — the index-build scale path
# ---------------------------------------------------------------------------

def _two_stage_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-probe top-k in two windows: first top-k within each
    (probe, cell) — bounding every reducer key at one cell's
    candidates even when a hot probe's nprobe cells are huge — then
    the global per-probe window over ≤ nprobe*k survivors. Exact:
    the ordering (cosine DESC, neighbor_id ASC) is total and each
    neighbor lives in exactly one cell, so every global top-k row is
    top-k within its own cell. ``scored`` needs columns
    (probe_id, _cell, neighbor_id, cosine)."""
    order = (F.col("cosine").desc(), F.col("neighbor_id").asc())
    w_cell = Window.partitionBy("probe_id", "_cell").orderBy(*order)
    w_probe = Window.partitionBy("probe_id").orderBy(*order)
    return (
        scored.withColumn("_cell_rank", F.row_number().over(w_cell))
        .filter(F.col("_cell_rank") <= k)
        .withColumn("rank", F.row_number().over(w_probe))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "neighbor_id", "cosine")
    )


def cosine_topk_ivf_flat(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k with a *deterministic* coarse quantizer: the
    ``n_cells`` corpus vectors with the smallest ids seed the cells
    (a trained quantizer would swap in k-means centroids — the
    mechanics below are identical either way). Everything is pure
    Catalyst: cell assignment is a broadcast nested-loop of rows ×
    n_cells with the shared sequential fold (``cosine_sim_col``), so
    the whole pipeline — assignment, nprobe probing, candidate join,
    exact re-rank, tie-break — is bit-identical to the DuckDB twin
    (:func:`cosine_topk_ivf_oracle`) and value-checked in the driver
    gate. No Python anywhere.

    Scale: assignment costs n_cells broadcast comparisons per row
    (the standard IVF indexing bill); the corpus is then equi-joined
    on its single cell — in production it is *written* partitioned by
    cell, so probing reads only nprobe/n_cells of the data.
    """
    cent = (
        corpus.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("_cent_id"),
            F.col("embedding").alias("_cvec0"),
            norm_col("embedding").alias("_cn0"),
        )
    )
    w_assign = Window.partitionBy("_xid").orderBy(
        F.col("_csim").desc(), F.col("_cent_id").asc()
    )

    def assign(df: DataFrame, n_take: int) -> DataFrame:
        x = df.select(
            F.col("vec_id").alias("_xid"),
            F.col("embedding").alias("_xvec"),
            norm_col("embedding").alias("_xn"),
        )
        return (
            x.crossJoin(F.broadcast(cent))
            .select(
                "_xid",
                "_xvec",
                "_xn",
                "_cent_id",
                cosine_from_norms("_xvec", "_cvec0", "_xn", "_cn0").alias("_csim"),
            )
            .withColumn("_crank", F.row_number().over(w_assign))
            .filter(F.col("_crank") <= n_take)
            .select("_xid", "_xvec", "_xn", F.col("_cent_id").alias("_cell"))
        )

    c = assign(corpus, 1).select(
        F.col("_xid").alias("neighbor_id"),
        F.col("_xvec").alias("_cvec"),
        F.col("_xn").alias("_cn"),
        "_cell",
    )
    p = assign(probes, nprobe).select(
        F.col("_xid").alias("probe_id"),
        F.col("_xvec").alias("_pvec"),
        F.col("_xn").alias("_pn"),
        "_cell",
    )
    sim = cosine_from_norms("_pvec", "_cvec", "_pn", "_cn")
    return _two_stage_topk(
        c.join(F.broadcast(p), "_cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "_cell", "neighbor_id", sim.alias("cosine")),
        k,
    )


def cosine_topk_ivf_oracle(
    corpus_sql: str, probes_sql: str, k: int, n_cells: int = 16, nprobe: int = 4
) -> str:
    """DuckDB twin of :func:`cosine_topk_ivf_flat` (deterministic
    centroid seeding, fold-identical cosine, same tie-breaks)."""
    return f"""
WITH c AS ({corpus_sql}),
p AS ({probes_sql}),
cent AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM c ORDER BY vec_id LIMIT {n_cells}
),
ca AS (
    SELECT c.vec_id AS neighbor_id, c.embedding, cent.cent_id AS _cell,
           ROW_NUMBER() OVER (
               PARTITION BY c.vec_id
               ORDER BY {duck_cosine('c.embedding', 'cent.cvec')} DESC, cent.cent_id
           ) AS rn
    FROM c CROSS JOIN cent
),
cc AS (SELECT neighbor_id, _cell FROM ca WHERE rn = 1),
pa AS (
    SELECT p.vec_id AS probe_id, cent.cent_id AS _cell,
           ROW_NUMBER() OVER (
               PARTITION BY p.vec_id
               ORDER BY {duck_cosine('p.embedding', 'cent.cvec')} DESC, cent.cent_id
           ) AS rn
    FROM p CROSS JOIN cent
),
pc AS (SELECT probe_id, _cell FROM pa WHERE rn <= {nprobe}),
cand AS (
    SELECT pc.probe_id, cc.neighbor_id
    FROM pc JOIN cc USING (_cell)
    WHERE pc.probe_id <> cc.neighbor_id
),
scored AS (
    SELECT cand.probe_id, cand.neighbor_id,
           {duck_cosine('pe.embedding', 'ce.embedding')} AS cosine
    FROM cand
    JOIN c ce ON ce.vec_id = cand.neighbor_id
    JOIN p pe ON pe.vec_id = cand.probe_id
),
r AS (
    SELECT probe_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id
           ) AS INTEGER) AS "rank"
    FROM scored
)
SELECT probe_id, "rank", neighbor_id, cosine FROM r WHERE "rank" <= {k}
"""


# ---------------------------------------------------------------------------
# embedding near-duplicate pairs
# ---------------------------------------------------------------------------

def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine-near-duplicate pairs via banded-bucket self-join + exact
    verify. Near-identical vectors share at least one band bucket with
    probability >0.98 (see the s-curve note above); the exact cosine
    filter keeps precision at 1. Output: (vec_a, vec_b, cosine),
    vec_a < vec_b. Bucketing + verify are both portable SQL — the
    driver gate value-checks the pair set AND the cosines against
    :func:`embedding_near_dups_oracle`.
    """
    # Shuffle ids, not payloads (guide §2.3/§8 shape, r6): the banded
    # self-join and the pair dedup previously carried BOTH 64-float
    # vectors (+norms, ~1 KB/row) through every candidate row and the
    # dropDuplicates exchange — at 4-bit band selectivity the candidate
    # set is large by design (s-curve), so the exchange was payload-
    # bound (measured sf0.1: 22.6 s -> 3.4 s cold). Now the self-join
    # and dedup move 16-byte id pairs; vectors re-attach to the
    # DISTINCT pairs only, via two equi-joins against the slim
    # (id, vec, norm) projection — broadcast here, plain shuffled
    # joins at planet scale; either way the heavy bytes move once per
    # distinct pair side, not once per band collision.
    from osm2shp_spark.operators._parallel import ensure_min_parallelism

    # hyperplane banding + the fold-dot verify are heavy per-row
    # chains that fuse with the corpus scan — spread a 1-split scan
    # first (r6, guide §2.5)
    corpus = ensure_min_parallelism(corpus)
    vecs = corpus.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        norm_col("embedding").alias("_nrm"),
    )
    buckets = corpus.select(
        F.col("vec_id").alias("_id"),
        F.explode(_band_buckets_col(64)).alias("_bkt"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._bkt") == F.col("b._bkt")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("vec_a"),
            F.col("b._id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = vecs.select(
        F.col("_id").alias("vec_a"),
        F.col("_v").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    vb = vecs.select(
        F.col("_id").alias("vec_b"),
        F.col("_v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    # the sequential-fold dot still runs exactly once per distinct pair
    return (
        pairs.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine_from_norms("_va", "_vb", "_na", "_nb").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dups_oracle(
    corpus_sql: str, threshold: float = 0.95, dim: int = 64
) -> str:
    """DuckDB twin of :func:`embedding_near_dups`: identical literal
    hyperplanes, identical fold-order sign bits, identical cosine."""
    keys = ", ".join(band_key_exprs("duckdb", dim))
    return f"""
WITH corpus AS ({corpus_sql}),
b AS (
    SELECT vec_id AS _id, unnest([{keys}]) AS _bkt FROM corpus
),
pairs AS (
    SELECT DISTINCT x._id AS a_id, y._id AS b_id
    FROM b x JOIN b y ON x._bkt = y._bkt AND x._id < y._id
),
scored AS (
    SELECT p.a_id AS vec_a, p.b_id AS vec_b,
           {duck_cosine('ca.embedding', 'cb.embedding')} AS cosine
    FROM pairs p
    JOIN corpus ca ON ca.vec_id = p.a_id
    JOIN corpus cb ON cb.vec_id = p.b_id
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {threshold}e0
"""


def cosine_topk_lsh_oracle(
    corpus_sql: str, probes_sql: str, k: int, dim: int = 64
) -> str:
    """DuckDB twin of :func:`cosine_topk_lsh` (bucketing, candidate
    join, exact re-rank, deterministic tie-break)."""
    keys = ", ".join(band_key_exprs("duckdb", dim))
    return f"""
WITH c AS ({corpus_sql}),
p AS ({probes_sql}),
cb AS (SELECT vec_id AS neighbor_id, unnest([{keys}]) AS _bkt FROM c),
pb AS (SELECT vec_id AS probe_id, unnest([{keys}]) AS _bkt FROM p),
cand AS (
    SELECT DISTINCT pb.probe_id, cb.neighbor_id
    FROM cb JOIN pb ON cb._bkt = pb._bkt
    WHERE pb.probe_id <> cb.neighbor_id
),
scored AS (
    SELECT cand.probe_id, cand.neighbor_id,
           {duck_cosine('pe.embedding', 'ce.embedding')} AS cosine
    FROM cand
    JOIN c ce ON ce.vec_id = cand.neighbor_id
    JOIN p pe ON pe.vec_id = cand.probe_id
),
r AS (
    SELECT probe_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id
           ) AS INTEGER) AS "rank"
    FROM scored
)
SELECT probe_id, "rank", neighbor_id, cosine FROM r WHERE "rank" <= {k}
"""
