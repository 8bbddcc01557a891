"""Text-analysis operators for training-data curation: token stats,
language ID (stopword heuristic), quality scoring, fingerprinting.

Everything here is pure Catalyst (JVM, codegen) — string splitting,
array set ops, arithmetic — with SQL twins for the DuckDB oracle, so
every operator is value-checked by the driver gate. Constants use the
``dlit`` double-literal convention (see operators.spatial.dlit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2shp_spark.operators.spatial import dlit

#: tiny per-language stopword lists (heuristic lang-id). The *function*
#: is the contract (engine and oracle compute the same score), not
#: linguistic accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "mit", "ist"),
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "que", "en", "es"),
    "fr": ("le", "la", "de", "et", "que", "en", "est"),
    "zh": ("de", "le", "shi", "bu", "wo", "zai", "you"),
}

#: punctuation characters counted by the quality score
PUNCT_CHARS = (".", ",", "!", "?", ";")


def _toks_sql_duck(text_col: str) -> str:
    return f"string_split(lower({text_col}), ' ')"


#: BPE-style pre-tokenizer classes (letters / digits / other-symbol
#: runs) — the standard cheap token-count estimator; the character-
#: class pattern evaluates identically under Java regex (Spark) and
#: RE2 (DuckDB)
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token statistics: whitespace tokens, distinct tokens,
    BPE-ish regex token count, chars, type-token ratio."""
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)"))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        bpe.alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_measured"),
        (nd.cast("double") / n).alias("type_token_ratio"),
    )


def token_stats_oracle(docs_sql: str) -> str:
    t = _toks_sql_duck("text")
    return f"""
WITH docs AS ({docs_sql})
SELECT doc_id,
       len({t}) AS n_tokens,
       len(list_distinct({t})) AS n_distinct,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
       length(text) AS n_chars_measured,
       CAST(len(list_distinct({t})) AS DOUBLE) / len({t}) AS type_token_ratio
FROM docs
"""


def _lang_score(toks, lang: str):
    words = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.array_intersect(toks, words))


def lang_pred_cols(text_col: str = "text"):
    """(pred_lang, best_score) column pair over ``text_col`` — the
    reusable expression form of :func:`lang_id` (argmax stopword
    overlap, alphabetical tie-break, 'und' when all scores are 0).
    Catalyst CSEs the repeated score subexpressions."""
    toks = F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
    langs = sorted(LANG_STOPWORDS)
    scores = {lg: _lang_score(toks, lg) for lg in langs}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("und"))
    for lg in langs:  # alphabetical order = deterministic tie-break
        pred = pred.when(scores[lg] == best, F.lit(lg))
    return pred, best


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-overlap language ID: argmax score, alphabetical
    tie-break, 'und' (undetermined) when all scores are 0."""
    pred, best = lang_pred_cols("text")
    return docs.select(
        "doc_id", pred.alias("pred_lang"), best.alias("best_score")
    )


def lang_id_oracle(docs_sql: str) -> str:
    t = _toks_sql_duck("text")
    langs = sorted(LANG_STOPWORDS)
    scores = ", ".join(
        f"len(list_intersect(list_distinct({t}), "
        f"[{', '.join(repr(w) for w in LANG_STOPWORDS[lg])}])) AS score_{lg}"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = "CASE WHEN best = 0 THEN 'und' " + " ".join(
        f"WHEN score_{lg} = best THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
WITH docs AS ({docs_sql}),
s AS (SELECT doc_id, {scores} FROM docs),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, {case} AS pred_lang, best AS best_score FROM b
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality in [0,1]: length band + punctuation
    ratio + stopword presence (the standard cheap pre-filter stack for
    web-scale corpus curation, composed from deterministic arithmetic).
    """
    text = F.col("text")
    n_chars = F.length(text)
    punct = sum(
        (n_chars - F.length(F.replace(text, F.lit(c), F.lit("")))) for c in PUNCT_CHARS
    )
    toks = F.split(F.lower(text), " ")
    n_toks = F.size(toks)
    all_stop = F.array(
        *[F.lit(w) for ws in (LANG_STOPWORDS[lg] for lg in sorted(LANG_STOPWORDS)) for w in ws]
    )
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), all_stop))
    len_score = F.when((n_chars >= 100) & (n_chars <= 2000), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    # NULL ratio for empty text, matching the DuckDB twin (x/0 -> NULL
    # there; under Spark 4's default ANSI mode a bare division would
    # instead abort the job on the first empty document). The NULL
    # falls through to the same ELSE 0.5 branch in both engines.
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars)
    punct_score = F.when(punct_ratio <= 0.1, F.lit(1.0)).otherwise(F.lit(0.5))
    stop_score = F.when(stop_hits >= 2, F.lit(1.0)).otherwise(F.lit(0.5))
    q = (len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3).alias("quality")
    return docs.select(
        "doc_id", q, punct_ratio.alias("punct_ratio"), stop_hits.alias("stop_hits")
    )


def quality_subquery_duck(src: str) -> str:
    """Derived-table SQL computing (doc_id, quality, punct_ratio,
    stop_hits) over a CTE/table named ``src`` — shared by the
    standalone quality oracle and composite pipelines (corpus
    curation)."""
    t = _toks_sql_duck("text")
    punct = " + ".join(
        f"(length(text) - length(replace(text, '{c}', '')))"
        for c in PUNCT_CHARS
    )
    all_stop = [w for lg in sorted(LANG_STOPWORDS) for w in LANG_STOPWORDS[lg]]
    stop_list = "[" + ", ".join(repr(w) for w in all_stop) + "]"
    return f"""(
    SELECT doc_id,
           (CASE WHEN n_chars >= 100 AND n_chars <= 2000 THEN {dlit(1.0)}
                 ELSE {dlit(0.5)} END) * {dlit(0.4)}
           + (CASE WHEN punct_ratio <= {dlit(0.1)} THEN {dlit(1.0)}
                   ELSE {dlit(0.5)} END) * {dlit(0.3)}
           + (CASE WHEN stop_hits >= 2 THEN {dlit(1.0)}
                   ELSE {dlit(0.5)} END) * {dlit(0.3)} AS quality,
           punct_ratio, stop_hits
    FROM (
        SELECT doc_id,
               length(text) AS n_chars,
               CAST({punct} AS DOUBLE) / length(text) AS punct_ratio,
               len(list_intersect(list_distinct({t}), {stop_list})) AS stop_hits
        FROM {src}
    ) _qm
)"""


def quality_score_oracle(docs_sql: str) -> str:
    return f"""
WITH docs AS ({docs_sql})
SELECT doc_id, quality, punct_ratio, stop_hits
FROM {quality_subquery_duck('docs')} _q
"""


def winnow_fingerprints_portable(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (the classic local-minima scheme
    from the public MOSS/winnowing paper): md5 hashes of the 5-grams of
    the normalized character stream, keep each 4-wide window's minimum
    (rightmost-min rule) → a compact, position-robust distinct
    fingerprint set. Output: (doc_id, n_fingerprints, min_fp, fp_xor)
    — the set summary columns downstream dedup joins key on. Every
    step is a Catalyst expression with an exact DuckDB twin
    (:func:`winnow_fingerprints_oracle`), so the driver gate value-
    checks the whole pipeline.
    """
    k, w = 5, 4  # k-gram length, window width
    from osm2shp_spark.operators.dedup import _md5_bigint

    h = _md5_bigint("substring(_s, i, %d)" % k, "spark")
    kg = (
        f"CASE WHEN length(_s) < {k} THEN CAST(NULL AS ARRAY<BIGINT>) "
        f"ELSE transform(sequence(1, length(_s) - {k - 1}), i -> {h}) END"
    )
    mins = (
        f"CASE WHEN _kg IS NULL OR size(_kg) - {w - 1} <= 0 "
        f"THEN CAST(NULL AS ARRAY<BIGINT>) "
        f"ELSE transform(sequence(1, size(_kg) - {w - 1}), "
        f"i -> array_min(slice(_kg, i, {w}))) END"
    )
    picks = (
        f"CASE WHEN _kg IS NULL THEN array()"
        f" WHEN _mins IS NULL THEN array(array_min(_kg))"
        f" ELSE array_distinct(transform(array_distinct("
        f"transform(sequence(1, size(_mins)), i -> "
        f"array_max(transform(sequence(i, i + {w - 1}), "
        f"j -> IF(element_at(_kg, j) = element_at(_mins, i), j, 0))))), "
        f"p -> element_at(_kg, p))) END"
    )
    from osm2shp_spark.operators._parallel import ensure_min_parallelism

    # one interpreted md5 per character position per doc — heavy
    # per-row work that fuses with the doc scan, so spread a 1-split
    # scan first (r6, guide §2.5)
    return (
        ensure_min_parallelism(docs).select(
            "doc_id",
            F.expr(
                r"trim(regexp_replace(lower(text), '\\s+', ' '))"
            ).alias("_s"),
        )
        .select("doc_id", F.expr(kg).alias("_kg"))
        .select("doc_id", "_kg", F.expr(mins).alias("_mins"))
        .select("doc_id", F.expr(picks).alias("_p"))
        .select(
            "doc_id",
            F.size("_p").cast("long").alias("n_fingerprints"),
            F.coalesce(F.array_min("_p"), F.lit(0).cast("long")).alias("min_fp"),
            F.expr(
                "aggregate(_p, CAST(0 AS BIGINT), (acc, v) -> acc ^ v)"
            ).alias("fp_xor"),
        )
    )


def winnow_fingerprints_oracle(docs_sql: str) -> str:
    """DuckDB twin of :func:`winnow_fingerprints_portable`."""
    k, w = 5, 4  # k-gram length, window width
    from osm2shp_spark.operators.dedup import _md5_bigint

    h = _md5_bigint(f"substr(_s, i, {k})", "duckdb")
    return rf"""
WITH docs AS ({docs_sql}),
norm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS _s
    FROM docs
),
kgrams AS (
    SELECT doc_id,
           CASE WHEN length(_s) < {k} THEN NULL
                ELSE list_transform(generate_series(1, length(_s) - {k - 1}),
                                    i -> {h}) END AS _kg
    FROM norm
),
winmins AS (
    SELECT doc_id, _kg,
           CASE WHEN _kg IS NULL OR len(_kg) - {w - 1} <= 0 THEN NULL
                ELSE list_transform(generate_series(1, len(_kg) - {w - 1}),
                                    i -> list_min(list_slice(_kg, i, i + {w - 1})))
           END AS _mins
    FROM kgrams
),
pickt AS (
    SELECT doc_id,
           CASE WHEN _kg IS NULL THEN []
                WHEN _mins IS NULL THEN [list_min(_kg)]
                ELSE list_distinct(list_transform(list_distinct(
                    list_transform(generate_series(1, len(_mins)), i ->
                        list_max(list_transform(generate_series(i, i + {w - 1}),
                            j -> CASE WHEN _kg[j] = _mins[i] THEN j ELSE 0 END)))),
                    p -> _kg[p])) END AS _p
    FROM winmins
)
SELECT doc_id,
       CAST(len(_p) AS BIGINT) AS n_fingerprints,
       CAST(coalesce(list_min(_p), 0) AS BIGINT) AS min_fp,
       CAST(CASE WHEN len(_p) = 0 THEN 0
                 ELSE list_reduce(_p, (a, v) -> xor(a, v)) END
            AS BIGINT) AS fp_xor
FROM pickt
"""


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprints: md5 of normalized text + a 16-hex-digit
    prefix as a compact join key."""
    fp = F.md5(F.lower(F.col("text")))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 16).alias("fp_prefix"),
    )


def doc_fingerprint_oracle(docs_sql: str) -> str:
    return f"""
WITH docs AS ({docs_sql})
SELECT doc_id, md5(lower(text)) AS fingerprint,
       substr(md5(lower(text)), 1, 16) AS fp_prefix
FROM docs
"""
