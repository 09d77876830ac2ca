"""Robustness regressions for the text-dedup operators: NULL-text
rows must not crash the minhash Arrow stage, mutant ids must never
collide with real doc_ids, and minhash_signature must match an
independent driver-side recomputation of the affine one-hash family."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from s2geometry_spark.operators import textops as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_null_text_rows_are_dropped_not_crashing(spark):
    """A documents row with text=NULL used to reach the signature pUDF
    as md5(NULL)=None word arrays and raise TypeError, failing the
    whole stage; now NULL-text rows are filtered before shingling."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, None),
        (3, "the quick brown fox jumps over the lazy dogs"),
        (4, None),
    ]
    docs = _docs(spark, rows)
    bands = TX.doc_band_rows(docs).collect()
    assert {r["doc_id"] for r in bands} == {1, 3}
    pairs = TX.near_dup_pairs(docs, with_mutants=False).collect()
    ids = {i for r in pairs for i in (r["id_a"], r["id_b"])}
    assert None not in ids and ids <= {1, 3}
    # the near-dup of 1 and 3 still found
    assert any({r["id_a"], r["id_b"]} == {1, 3} for r in pairs)
    sigs = TX.minhash_signature(docs).collect()
    assert {r["doc_id"] for r in sigs} == {1, 3}


def test_mutant_ids_never_collide_with_real_ids(spark):
    """Mutants get -doc_id - 1: a corpus whose real ids exceed the old
    +1_000_000 offset used to produce duplicate doc_ids (pairing the
    wrong documents' shingles); negated ids cannot collide with any
    non-negative real id."""
    rows = [
        (5, "a completely unique sentence about spherical geometry ok"),
        (1_000_004, "another unrelated document concerning parquet files"),
    ]
    docs = _docs(spark, rows)
    pairs = TX.near_dup_pairs(docs, with_mutants=True).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # each doc pairs exactly with its own mutant (id_a < id_b puts the
    # negative mutant first); no cross-document pair
    assert got == {(-6, 5), (-1_000_005, 1_000_004)}


def test_minhash_signature_matches_driver_recompute(spark):
    """h_i = min((w1 + w2*i) mod P) over k-shingle md5 words, checked
    against an independent pure-Python recomputation."""
    rows = [
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "pack my box with five dozen liquor jugs today"),
    ]
    got = {
        r["doc_id"]: [r[f"h{i}"] for i in range(TX.MINHASH_N)]
        for r in TX.minhash_signature(_docs(spark, rows)).collect()
    }

    def expected(text):
        k = TX.SHINGLE_K
        n = max(len(text) - k + 1, 1)
        shingles = list(dict.fromkeys(text[i:i + k] for i in range(n)))
        w = [
            (
                int(hashlib.md5(s.encode()).hexdigest()[:8], 16),
                int(hashlib.md5(s.encode()).hexdigest()[8:16], 16),
            )
            for s in shingles
        ]
        return [
            min((w1 + w2 * i) % TX.MINHASH_P for w1, w2 in w)
            for i in range(TX.MINHASH_N)
        ]

    for doc_id, text in rows:
        assert got[doc_id] == expected(text), doc_id


def test_agg_and_projection_band_forms_agree(spark):
    """The batch explode-agg banding (`_minhash_sig_agg`) must emit
    bit-identical band keys to the streaming projection form
    (`_shingle_words` + `_minhash_sig_udf`) on a corpus exercising the
    edge shapes: duplicate shingles, text shorter than SHINGLE_K,
    empty text, unicode, exact duplicates, and NULL text (dropped by
    both forms)."""
    rows = [
        (1, "abababababababababab"),        # heavy duplicate shingles
        (2, "ab"),                           # shorter than k -> 1 shingle
        (3, ""),                             # empty -> [""] shingle
        (4, "das straßenfoto zeigt blauen himmel über zürich"),
        (5, "das straßenfoto zeigt blauen himmel über zürich"),
        (6, "a perfectly ordinary english sentence for banding"),
        (7, None),                           # NULL -> no band row
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    agg = {r["doc_id"]: r for r in TX._banded(docs).collect()}

    proj_sigs = TX._shingle_words(TX.doc_shingles(docs)).select(
        "doc_id",
        TX._minhash_sig_udf()(F.col("w1"), F.col("w2")).alias("sig"),
    )
    band_cols = []
    for b in range(TX.LSH_BANDS):
        parts = [
            F.col("sig")[b * TX.LSH_ROWS + r] for r in range(TX.LSH_ROWS)
        ]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    proj = {
        r["doc_id"]: r
        for r in proj_sigs.select("doc_id", *band_cols).collect()
    }

    assert 7 not in agg and 7 not in proj
    assert set(agg) == set(proj) == {1, 2, 3, 4, 5, 6}
    for doc_id in agg:
        for b in range(TX.LSH_BANDS):
            assert agg[doc_id][f"band{b}"] == proj[doc_id][f"band{b}"], (
                doc_id,
                b,
            )
    # exact duplicates share every band key in both forms
    assert all(
        agg[4][f"band{b}"] == agg[5][f"band{b}"] for b in range(TX.LSH_BANDS)
    )
