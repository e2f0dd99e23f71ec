"""FastSS deletion-neighborhood blocking for fuzzy (edit-distance)
matching — the scalable candidate generator behind entity resolution.

Two strings within Levenshtein distance 1 ALWAYS share an element of
their delete-1 neighborhoods (self ∪ one-char deletions): equal strings
share self; a substitution pair shares the delete-at-i variant; an
insert/delete pair shares the shorter string itself (Bocek et al. 2007,
"Fast Similarity Search in Large Dictionaries"). The converse does not
hold, so candidates from the variant equi-join are a superset and the
exact levenshtein() verify prunes them — the classic block-then-verify
shape, with candidate volume linear in corpus size instead of the
Σ block² a within-block self-join pays.

At 100 TB: rows × (len+1) variant emissions (deduped per row — equal-
char runs collapse), one shuffle keyed on (block, variant hash), join
output bounded by variant-bucket population; a hot variant bucket salts
like any hot join key (operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _deletions(c: Column) -> Column:
    """Every one-character deletion of a string column (array<string>;
    empty array for the empty string)."""
    return F.when(
        F.length(c) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.concat(
                c.substr(F.lit(1), i - F.lit(1)),
                c.substr(i + F.lit(1), F.length(c)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def deletek_variants(col: Column | str, k: int) -> Column:
    """Distinct delete-≤k neighborhood: the string plus every way of
    deleting up to k characters (array<string>), built by k rounds of
    one-char deletion over the accumulated set — all inside nested
    JVM higher-order functions, no Python per row.

    Recall argument (generalizes Bocek et al.'s k=1): if ed(u, v) ≤ k
    via an optimal script with s substitutions, d deletions (from u),
    i insertions (into u), s+d+i ≤ k, then deleting from u the s
    substituted + d deleted characters (≤ k deletions) and from v the
    s substituted + i inserted characters (≤ k deletions) yields the
    SAME string — so D_k(u) ∩ D_k(v) ≠ ∅ and the variant equi-join
    never loses a true pair; false candidates die in the levenshtein
    verify. Neighborhood size is O(len^k / k!) per row (≤ ~170 for a
    stale 18-char key at k=2) — linear in corpus size, never block²."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.array(c)
    for _ in range(k):
        arr = F.array_distinct(
            F.concat(arr, F.flatten(F.transform(arr, _deletions)))
        )
    return arr


def deletek_variant_hashes(col: Column | str, k: int) -> Column:
    """xxhash64 of every delete-≤k variant (array<bigint>, distinct),
    k ∈ {1, 2}, built WITHOUT materializing the variant strings as an
    array: each deletion is a direct 2- or 3-substring concat hashed in
    place, and the dedup runs on longs. Same candidate recall as
    hashing deletek_variants (equal strings hash equal); xxhash64
    collisions can only ADD candidates, which the levenshtein verify
    removes — never lose one. ~2× cheaper than the string-array
    construction on fixed-width keys (measured at sf0.1)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    empty = F.array().cast("array<bigint>")
    self_h = F.array(F.xxhash64(c))
    # delete position i (1-based)
    d1 = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.xxhash64(
                F.concat(
                    c.substr(F.lit(1), i - F.lit(1)),
                    c.substr(i + F.lit(1), n),
                )
            ),
        ),
    ).otherwise(empty)
    parts = [self_h, d1]
    if k >= 2:
        # delete positions i < j in one pass: three substrings.
        d2 = F.when(
            n >= 2,
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(1)),
                    lambda i: F.transform(
                        F.sequence(i + F.lit(1), n),
                        lambda j: F.xxhash64(
                            F.concat(
                                c.substr(F.lit(1), i - F.lit(1)),
                                c.substr(i + F.lit(1), j - i - F.lit(1)),
                                c.substr(j + F.lit(1), n),
                            )
                        ),
                    ),
                )
            ),
        ).otherwise(empty)
        parts.append(d2)
    if k > 2:
        raise ValueError("deletek_variant_hashes covers k <= 2")
    return F.array_distinct(F.concat(*parts))


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str] | None = None,
    max_edit: int = 1,
) -> DataFrame:
    """Candidate-verified fuzzy pairs: every (a, b) with a.id < b.id,
    equal block keys, and levenshtein(a.name, b.name) <= max_edit.

    Exact-recall delete-≤k blocking (deletek_variants) covers
    max_edit ≤ 2 — candidate volume stays linear in corpus size.
    Beyond that the neighborhood explodes combinatorially (O(len^k)),
    so max_edit > 2 falls back to a within-block pair join (correct,
    quadratic per block — block well before reaching for it).

    Returns columns: *block_cols, id_a, id_b, name_a, name_b.

    Precondition: ``id_col`` is unique per row. The fast path dedups
    candidate pairs on bare ids and re-attaches names by an id-only
    join, so a duplicated id would multiply the deduped pairs by its
    row count (and make the attached name ambiguous). Callers with
    non-unique ids must dedup first.
    """
    block_cols = block_cols or []
    if 1 <= max_edit <= 2:
        # The variant join is NARROW on purpose: near-identical keys
        # share MANY delete-<=k variants (two fixed-width names at
        # ed<=2 share O(len^k) of them), so every candidate pair is
        # emitted at ~that multiplicity. Shuffling (block, id, hash)
        # instead of name-carrying rows cuts the inflated join output
        # to a third of the bytes; names re-attach AFTER the pair
        # dedup, against the linear-sized base frame.
        # Spread the ~len^k/k! expansion BEFORE it happens: the variant
        # explode multiplies rows ~100x (k=2, 18-char keys), so input
        # splits understate the map work by that factor — a scan-sized
        # partitioning serializes the neighborhood build on few tasks
        # (measured: ONE task at sf0.1). Repartition on the id first;
        # the tiny pre-expansion shuffle buys an evenly parallel build.
        # The partition count MUST be pinned: an unnumbered
        # repartition(col) is AQE-coalescible, and AQE sizes partitions
        # by MAP-OUTPUT BYTES — a few hundred KB of keys — so it merged
        # the exchange back to ~1 partition and serialized the whole
        # expansion + join + verify (measured 9.2 s -> 1.5 s at sf0.1
        # when pinned). defaultParallelism = total cores, the
        # scale-adaptive spread for compute whose cost AQE's byte
        # heuristic structurally understates (guide §2.5).
        # NULL names can never pair (levenshtein(NULL, x) is NULL), but
        # xxhash64(NULL) is a CONSTANT, so without this filter every
        # null-name row lands in one shared variant bucket and the
        # self-join goes quadratic in the null count before the verify
        # discards it all.
        df = df.filter(F.col(name_col).isNotNull())
        v = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        ).select(
            *block_cols,
            F.col(id_col).alias("_id"),
            F.explode(deletek_variant_hashes(name_col, max_edit)).alias(
                "_vh"
            ),
        )
        a, b = v.alias("a"), v.alias("b")
        cond = (F.col("a._vh") == F.col("b._vh")) & (
            F.col("a._id") < F.col("b._id")
        )
        for bc in block_cols:
            cond &= F.col(f"a.{bc}") == F.col(f"b.{bc}")
        cand = a.join(b, cond).select(
            *[F.col(f"a.{bc}").alias(bc) for bc in block_cols],
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        ).dropDuplicates([*block_cols, "id_a", "id_b"])
        names_a = df.select(
            F.col(id_col).alias("id_a"), F.col(name_col).alias("name_a")
        )
        names_b = df.select(
            F.col(id_col).alias("id_b"), F.col(name_col).alias("name_b")
        )
        pairs = cand.join(names_a, "id_a").join(names_b, "id_b").select(
            *block_cols, "id_a", "id_b", "name_a", "name_b"
        )
    else:
        a = df.select(
            *block_cols,
            F.col(id_col).alias("id_a"),
            F.col(name_col).alias("name_a"),
        ).alias("a")
        b = df.select(
            *block_cols,
            F.col(id_col).alias("id_b"),
            F.col(name_col).alias("name_b"),
        ).alias("b")
        cond = F.col("a.id_a") < F.col("b.id_b")
        for bc in block_cols:
            cond &= F.col(f"a.{bc}") == F.col(f"b.{bc}")
        pairs = a.join(b, cond).select(
            *[F.col(f"a.{bc}").alias(bc) for bc in block_cols],
            "id_a",
            "id_b",
            "name_a",
            "name_b",
        )
    return pairs.filter(
        F.levenshtein(F.col("name_a"), F.col("name_b")) <= max_edit
    )
