"""FastSS deletion-neighborhood blocking: exact-recall property vs the
brute-force pair join, on adversarial and randomized fixtures."""

import random
import string

from pyspark.sql import functions as F

from myserver_datawarehouse_spark.operators.fuzzy import (
    deletek_variants,
    fuzzy_pairs,
)


def _fixture_df(spark, rows, schema):
    """Arrow-path fixture frame: one partition, JVM-held batches. A
    list-of-tuples createDataFrame parallelizes to 32 Python-RDD
    partitions, and a CartesianProduct (the brute-force reference and
    the max_edit=3 fallback) re-scans those through Python workers per
    probe — ~9s even on 48 rows."""
    import pandas as pd

    cols = [f.split()[0] for f in schema.split(",")]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols), schema
    )


def _brute_pairs(spark, rows, max_edit):
    df = _fixture_df(spark, rows, "id long, name string")
    a = df.selectExpr("id AS id_a", "name AS name_a")
    b = df.selectExpr("id AS id_b", "name AS name_b")
    return {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("name_a", "name_b") <= max_edit)
        .collect()
    }


def test_delete1_variants_shape(spark):
    rows = spark.createDataFrame(
        [("abc",), ("aab",), ("",)], "s string"
    ).select(deletek_variants("s", 1).alias("v")).collect()
    assert sorted(rows[0].v) == sorted(["abc", "bc", "ac", "ab"])
    # equal-char run collapses: deleting either 'a' of "aab" is "ab"
    assert sorted(rows[1].v) == sorted(["aab", "ab", "aa"])
    assert rows[2].v == [""]


def test_fastss_equals_bruteforce_randomized(spark):
    rng = random.Random(1234)
    base = [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 6)))
        for _ in range(40)
    ]
    # Adversarial extras: equal strings, pure inserts/deletes, shared
    # delete-variants at distance 2 (the FastSS false-positive class).
    base += ["ab", "ba", "aab", "abb", "a", "b", "", "ab"]
    rows = [(i, s) for i, s in enumerate(base)]
    df = _fixture_df(spark, rows, "id long, name string")
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs(df, "id", "name", max_edit=1).collect()
    }
    assert got == _brute_pairs(spark, rows, 1)


def test_fastss_edit2_equals_bruteforce_randomized(spark):
    """Delete-≤2 neighborhood blocking is exact-recall at edit 2: the
    variant equi-join path (no quadratic fallback) must produce exactly
    the brute-force pair set on adversarial random strings."""
    rng = random.Random(4321)
    base = [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 7)))
        for _ in range(35)
    ]
    # Distance-2 constructions: double substitution, sub+del, two
    # inserts, plus distance-3 near-misses that must NOT pair.
    base += ["abab", "acac", "ab", "abcd", "ba", "bcda", "", "a", "ccc"]
    rows = [(i, s) for i, s in enumerate(base)]
    df = _fixture_df(spark, rows, "id long, name string")
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs(df, "id", "name", max_edit=2).collect()
    }
    assert got == _brute_pairs(spark, rows, 2)


def test_deletek_variants_shape(spark):
    from myserver_datawarehouse_spark.operators.fuzzy import deletek_variants

    rows = (
        spark.createDataFrame([("abc",), ("",)], "s string")
        .select(deletek_variants("s", 2).alias("v"))
        .collect()
    )
    assert sorted(rows[0].v) == ["a", "ab", "abc", "ac", "b", "bc", "c"]
    assert rows[1].v == [""]


def test_fuzzy_pairs_blocked_and_fallback(spark):
    rows = [(1, 0, "abc"), (2, 0, "abd"), (3, 1, "abd"), (4, 1, "xyz")]
    df = _fixture_df(spark, rows, "id long, blk int, name string")
    got = {
        (r.blk, r.id_a, r.id_b)
        for r in fuzzy_pairs(
            df, "id", "name", block_cols=["blk"], max_edit=1
        ).collect()
    }
    # cross-block (2,3) must NOT pair despite identical names' distance 0... 
    # identical names are still a pair only within the same block.
    assert got == {(0, 1, 2)}
    # max_edit=2 now rides the delete-2 variant path; max_edit=3 takes
    # the documented quadratic fallback — both stay correct.
    for me in (2, 3):
        got2 = {
            (r.id_a, r.id_b)
            for r in fuzzy_pairs(df, "id", "name", max_edit=me).collect()
        }
        assert (1, 2) in got2 and (2, 3) in got2 and (1, 3) in got2
        # "abc" vs "xyz" is distance 3: excluded at 2, included at 3.
        assert ((1, 4) in got2) == (me == 3)


def test_variant_hashes_equal_hashed_string_variants(spark):
    """The direct 3-substring hash construction (deletek_variant_hashes)
    must produce EXACTLY the hash set of the string-array construction
    (deletek_variants) — the recall proof transfers through set
    equality, so this pins the k=2 index arithmetic (i<j deletion
    positions) against the reference implementation."""
    import random

    from myserver_datawarehouse_spark.operators.fuzzy import (
        deletek_variant_hashes,
        deletek_variants,
    )

    rng = random.Random(99)
    base = [
        "".join(rng.choice("abcde") for _ in range(rng.randint(0, 9)))
        for _ in range(60)
    ] + ["", "a", "aa", "aaa", "ababab"]
    df = _fixture_df(spark, [(s,) for s in base], "s string")
    for k in (1, 2):
        rows = df.select(
            F.array_sort(
                F.transform(
                    deletek_variants("s", k), lambda v: F.xxhash64(v)
                )
            ).alias("via_strings"),
            F.array_sort(deletek_variant_hashes("s", k)).alias("direct"),
        ).collect()
        for r in rows:
            assert r.via_strings == r.direct
