"""Winnowing fingerprints (the portable md5 path the gate runs):
determinism, dup collision, robustness."""

from __future__ import annotations

import pandas as pd

from osm2shp_spark.operators.text import winnow_fingerprints_portable


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id LONG, text STRING",
    )


def test_identical_docs_identical_fingerprints(spark):
    t = "the quick brown fox jumps over the lazy dog " * 5
    df = winnow_fingerprints_portable(_docs(spark, [t, t, t.upper()])).toPandas()
    # identical normalized text → identical fingerprint summary
    assert df.fp_xor.nunique() == 1
    assert df.n_fingerprints.nunique() == 1


def test_different_docs_differ(spark):
    df = winnow_fingerprints_portable(
        _docs(spark, ["alpha beta gamma delta " * 8, "one two three four " * 8])
    ).toPandas()
    assert df.fp_xor.iloc[0] != df.fp_xor.iloc[1]


def test_local_edit_preserves_most_fingerprints(spark):
    base = " ".join(f"tok{i}" for i in range(200))
    edited = base.replace("tok100", "zzz")
    df = winnow_fingerprints_portable(_docs(spark, [base, edited])).toPandas()
    # winnowing is local: a one-token edit keeps counts in the same
    # ballpark (position-robust, unlike a whole-doc hash)
    n0, n1 = df.n_fingerprints
    assert abs(n0 - n1) <= max(n0, n1) * 0.1


def test_short_doc_safe(spark):
    df = winnow_fingerprints_portable(_docs(spark, ["ab", ""])).toPandas()
    assert (df.n_fingerprints == 0).all()
