"""Text-pipeline column kernels: normalization, hashing, shingling,
MinHash, SimHash, winnowing fingerprints (SURVEY.md LLM-data-pipeline
addendum; the reference's only text op is the MD5 color hash at
populate_sources_dag.py:62-72 — everything here generalizes that
hash-as-a-column discipline to document processing).

The column kernels are higher-order array functions (`transform`,
`aggregate`, `filter`) over one tokenized column — zero Python UDFs. The
MinHash signature itself is a codegen'd aggregate over shingle-hash rows
(plans/llm_text._minhash_signature); this module owns its hash family
(`minhash_params`), the LSH band keys and the candidate-pair self-join
(`doc_pairs`), whose band-bucket key is the dedup pipeline's one
all-to-all shuffle.

Cross-engine determinism: the shared 60-bit hash primitive is
md5(seed|value) -> first 15 hex chars -> BIGINT, verified bit-identical
between Spark (`conv(..., 16, 10)`) and DuckDB (`('0x' || ...)::BIGINT`).
60 bits keeps every value positive and below DuckDB's 1<<63 overflow.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Stopword list used for quality scoring and stopword-ratio features.
# Deliberately tiny and embedded as a literal so the Spark plan and the
# DuckDB oracle share one definition (see plans/llm_text.py).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

SIMHASH_BITS = 60


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: Column | str) -> Column:
    """Lowercase, trim, collapse runs of whitespace to single spaces."""
    return F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")


def content_hash(col: Column | str) -> Column:
    """Exact-dedup key: sha256 hex of the normalized text."""
    return F.sha2(normalize_text(col), 256)


def tokenize(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


def hash60(col: Column | str, seed: int | None = None) -> Column:
    """The shared 60-bit hash: md5 -> 15 hex chars -> bigint.

    `seed` prefixes the input with "<seed>|" so one primitive yields an
    arbitrary family of independent hash functions (MinHash seeds,
    hyperplane ids, band ids).
    """
    c = _c(col)
    if seed is not None:
        c = F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def shingles(tokens: Column | str, k: int = 3, distinct: bool = True) -> Column:
    """Word k-grams as space-joined strings (array<string>).

    `transform(sequence(1, n-k+1), i -> concat_ws(' ', slice(...)))` —
    array-local, no explode. `distinct=False` keeps the positional
    sequence (required by winnowing, which is order-sensitive).
    """
    t = _c(tokens)
    n = F.size(t)
    # Guard n < k explicitly: Spark's sequence(1, 0) counts DOWN to [1, 0]
    # (DuckDB's generate_series(1, 0) is empty), so short docs need their
    # own empty-array branch.
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams) if distinct else grams


def shingle_rows(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word k-grams as ROWS (id, pos, g) instead of an array column.

    posexplode the tokens, then assemble each gram from `lead` over a
    per-document window — token hashing/concat runs once per position in
    whole-stage codegen, where the array form (`shingles`) pays Spark's
    interpreted higher-order-function path per element (measured ~10s per
    pass over 5k docs at sf0.1 vs ~1s for this). `pos` is gapless and
    0-based, so winnowing's order-sensitive sliding window works directly.
    Docs with fewer than k tokens yield no rows (the array form's empty
    array).
    """
    tok = df.select(id_col, F.posexplode(tokenize(text_col)).alias("pos", "t"))
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, k)]
    grams = tok.select(
        id_col,
        "pos",
        F.concat_ws(" ", *parts).alias("g"),
        F.lead("t", k - 1).over(w).alias("_last"),
    )
    return grams.where(F.col("_last").isNotNull()).select(id_col, "pos", "g")


# Universal-hash family for MinHash: one md5 per shingle, then
# (a_s * x + b_s) mod P per signature slot — 16x less hashing than
# md5-per-seed, and the integer mix is exact in both engines. P = 2^31-1
# keeps every product below 2^60 (no bigint overflow in either engine).
MINHASH_P = 2_147_483_647


def _mh_const(kind: str, s: int) -> int:
    import hashlib

    v = int(hashlib.md5(f"minhash-{kind}-{s}".encode()).hexdigest()[:7], 16)
    return v | 1 if kind == "a" else v  # odd multiplier


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    return [(_mh_const("a", s), _mh_const("b", s)) for s in range(n_hashes)]


def lsh_band_keys(
    sig: Column | str, bands: int, rows: int, tag: str = ""
) -> Column:
    """Band keys for LSH bucketing (array<string>, length `bands`).

    Band b's key is "<tag><b>:<hash60 of its `rows` signature slots
    joined>". Docs sharing ANY band key become candidate pairs — the
    classic (bands, rows) S-curve: P(candidate) = 1 - (1 - j^rows)^bands.

    `tag` namespaces the keys so several (bands, rows) configurations
    can share ONE exploded frame and ONE bucket self-join (the
    band-tuning sweep): keys from different configs can never collide
    because their tags differ. Built as a literal prefix in the same
    concat — codegen'd, no higher-order-function lambda per row.
    """
    s = _c(sig)
    return F.array(
        *[
            F.concat(
                F.lit(f"{tag}{b}:"),
                hash60(
                    F.concat_ws(",", *[s[b * rows + r] for r in range(rows)]),
                    seed=b,
                ),
            )
            for b in range(bands)
        ]
    )


def doc_pairs(frame: DataFrame, *on: str) -> DataFrame:
    """The candidate-pair self-join every near-dup tier runs: `frame`
    aliased `a` and `b`, joined on equal `on` keys with a.doc_id <
    b.doc_id, so each unordered pair meets once per shared key row and
    no doc pairs with itself (a NULL key never matches). Callers
    select, distinct or aggregate the aliased columns themselves: a
    rename here would move into a Project under their aggregates."""
    keys = reduce(operator.and_, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in on])
    return frame.alias("a").join(
        frame.alias("b"), keys & (F.col("a.doc_id") < F.col("b.doc_id"))
    )


def jaccard(a: Column | str, b: Column | str) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays, as double."""
    inter = F.size(F.array_intersect(_c(a), _c(b)))
    union = F.size(F.array_union(_c(a), _c(b)))
    return inter.cast("double") / union.cast("double")


def simhash(tokens: Column | str) -> Column:
    """60-bit SimHash of a token array, as one BIGINT.

    Convenience form: hashes the tokens inline, which embeds the md5
    expression inside the 60-bit vote loop — Spark does NOT
    common-subexpression-eliminate across higher-order lambdas, so the
    hashes recompute 60x per row. Fine for tests/small data; query plans
    must materialize `transform(tokens, hash60)` as a column and call
    `simhash_from_hashes` (at sf0.1 this is a 60x wall-clock difference).
    """
    return simhash_from_hashes(F.transform(_c(tokens), lambda t: hash60(t)))


def simhash_from_hashes(token_hashes: Column | str) -> Column:
    """SimHash from an array<bigint> of token hashes.

    Classic Charikar scheme: each token votes +1/-1 on every bit of its
    hash60; bit i of the result is 1 iff the vote sum is positive. Token
    multiplicity is preserved (repeated tokens vote repeatedly).

    Shape matters for performance: the hash array is consumed ONLY as the
    top-level input of one `aggregate` fold (accumulating the 60-bit vote
    vector in a single pass). A transform-over-bits formulation would
    reference the hashes inside a lambda, and after Catalyst's
    CollapseProject inlines the md5 expression that means 60x re-hashing
    per row — measured 5x this query's total runtime at sf0.1.
    """
    hashes = _c(token_hashes)
    zero_l = F.lit(0).cast("long")
    bits = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
    # `F.shiftright`/`F.shiftleft` require a Python-int shift; the shift
    # here is the lambda-bound bit index, so go through the SQL functions
    # (which accept column shifts) via call_function.
    votes = F.aggregate(
        hashes,
        F.array_repeat(zero_l, SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            bits,
            lambda a, i: a
            + F.when(
                F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            bits,
            lambda v, i: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
            ).otherwise(zero_l),
        ),
        zero_l,
        lambda acc, x: acc + x,
    )


def simhash_chunks(sim: Column | str, n_chunks: int = 4) -> Column:
    """Split a 60-bit simhash into `n_chunks` 15-bit chunks (array<int>).

    Pigeonhole banding: two docs within hamming distance < n_chunks share
    at least one identical chunk, so a join on (chunk_idx, chunk_value)
    finds all pairs with hamming <= n_chunks - 1 without an all-pairs scan.
    """
    width = SIMHASH_BITS // n_chunks
    s = _c(sim)
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftright(s, c * width).bitwiseAND(F.lit(mask)).cast("int")
            for c in range(n_chunks)
        ]
    )


def hamming60(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 60-bit simhashes."""
    return F.bit_count(_c(a).bitwiseXOR(_c(b)))


def winnow_fingerprints(shingle_hashes: Column | str, window: int = 4) -> Column:
    """Winnowing (Schleimer et al. 2003) fingerprint set: the distinct
    minima of every `window`-length sliding window over the positional
    shingle-hash sequence (array<bigint>, sorted).

    Guarantees any match of length >= window + k - 1 tokens shares a
    fingerprint, with ~2/(window+1) of hashes retained.

    `shingle_hashes` MUST be a materialized column, not an inline md5
    expression: the sliding window references it once per position, and
    Spark re-evaluates inline expressions inside lambdas (an O(n^2) md5
    blow-up otherwise).
    """
    h = _c(shingle_hashes)
    n = F.size(h)
    mins = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - (window - 1)),
            lambda i: F.array_min(F.slice(h, i, window)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.array_sort(F.array_distinct(mins))


# ----------------------------------------------------- PII scrubbing

# Conservative, auditable patterns for the standard pre-training scrub
# (emails, phone numbers, IPv4, SSN-shaped ids). Java regex (JVM-side
# regexp_replace — no UDF): lookarounds keep digit runs inside larger
# numbers from matching.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)",
    "phone": r"(?<!\d)(?:\+?\d{1,2}[ .-])?(?:\(\d{3}\)[ .-]?|\d{3}[ .-])\d{3}[ .-]\d{4}(?!\d)",
    # dot-excluding lookarounds: never match 4 octets inside a longer
    # dotted run like a version string 1.2.3.4.5
    "ipv4": r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])",
}
# Order matters: SSN/phone before bare-number fallbacks; email first so
# user@host never half-matches as a phone.
PII_ORDER = ("email", "ssn", "phone", "ipv4")


def scrub_pii(col: Column | str) -> Column:
    """Redact PII spans in place with typed placeholders ("<EMAIL>",
    "<SSN>", ...) — chained JVM regexp_replace, whole-stage codegen,
    no Python in the path. The scrub is idempotent: placeholders match
    none of the patterns."""
    c = _c(col)
    for kind in PII_ORDER:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return c


def pii_counts(col: Column | str) -> list[Column]:
    """Per-kind match counts (one aliased column per pattern) for scrub
    audit rollups: sum these by source to report what was redacted."""
    c = _c(col)
    return [
        F.regexp_count(c, F.lit(PII_PATTERNS[k])).alias(f"n_{k}")
        for k in PII_ORDER
    ]
