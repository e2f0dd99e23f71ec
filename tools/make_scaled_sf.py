"""Derive a larger test-scale directory from the driver-provided
sf0.1 parquet tables by key-shifted replication, preserving the
workload's semantic shape so the measured scale curve extends past
sf0.1.

    python tools/make_scaled_sf.py /root/testdata/sf0.1 /tmp/sfx0.5 5

Replication rules (k copies of every fact-grain table):

- Every key column is shifted by `copy * (max_key + 1)` CONSISTENTLY
  across tables (o_custkey moves with c_custkey, l_orderkey with
  o_orderkey, ...), so referential integrity, join fan-outs and
  group-cardinality-per-key are preserved exactly — the k-fold corpus
  is k independent shards of the original, which is precisely how a
  production warehouse grows (new customers/orders, not denser ones).
- `nation`/`region` stay single-copy: dimensions don't grow with fact
  volume.
- `documents.text` is passed through a PER-COPY letter permutation
  (alphabet rotation by the copy index, both cases). Within-copy
  near-duplicate structure is preserved exactly (the map is injective
  and applied to every doc of the copy alike: shingle sets transform
  uniformly, so every within-copy Jaccard is unchanged), while
  cross-copy similarity collapses to ~0 — without this, k copies of
  identical text would manufacture O(k^2) exact-duplicate pairs and
  the dedup families would measure an artifact, not corpus growth.
- `embeddings` replicate with shifted ids and unchanged vectors:
  bucket/cell occupancy grows k-fold, the honest model for ANN cost.

Not for correctness adjudication — the DuckDB oracles run on the
driver's own directories; this exists solely to measure runtime
scaling at 5x/10x sf0.1.
"""

from __future__ import annotations

import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from myserver_datawarehouse_spark.session import get_spark

# table -> {column: offset-domain tag}; columns sharing a tag shift
# together across tables.
KEY_DOMAINS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
SINGLE_COPY = ("nation", "region")

# Free-text / entity-name columns that must DIFFER across copies: the
# per-copy letter permutation keeps within-copy similarity structure
# intact (the map is injective and uniform inside a copy) while killing
# cross-copy matches. Without this, k identical name/text sets would
# manufacture O(k^2) cross-copy duplicate and edit-distance pairs —
# an artifact, not corpus growth (customer names feed the fuzzy
# entity-resolution family; document text feeds the dedup families).
PERMUTE_TEXT: dict[str, list[str]] = {
    "documents": ["text"],
    "customer": ["c_name"],
}


def _rotate_alphabet(i: int) -> tuple[str, str]:
    lo = string.ascii_lowercase
    up = string.ascii_uppercase
    r = i % 26
    return lo + up, lo[r:] + lo[:r] + up[r:] + up[:r]


def main() -> None:
    src, dst, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    os.makedirs(dst, exist_ok=True)
    spark = get_spark("make-scaled-sf")
    spark.sparkContext.setLogLevel("ERROR")

    # One offset per key domain: max over every column in the domain.
    offsets: dict[str, int] = {}
    frames: dict[str, DataFrame] = {}
    for table, cols in KEY_DOMAINS.items():
        df = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        frames[table] = df
        for col, dom in cols.items():
            m = df.agg(F.max(col)).first()[0] or 0
            offsets[dom] = max(offsets.get(dom, 0), int(m) + 1)

    for table in SINGLE_COPY:
        spark.read.parquet(os.path.join(src, f"{table}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(dst, f"{table}.parquet"))

    for table, cols in KEY_DOMAINS.items():
        df = frames[table]
        copies = []
        for i in range(k):
            c = df
            for col, dom in cols.items():
                c = c.withColumn(
                    col, (F.col(col) + F.lit(i * offsets[dom])).cast("long")
                )
            if i > 0 and table in PERMUTE_TEXT:
                frm, to = _rotate_alphabet(i)
                for col in PERMUTE_TEXT[table]:
                    c = c.withColumn(
                        col, F.translate(F.col(col), frm, to)
                    )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        # File counts scale with k so downstream maxPartitionBytes
        # splitting behaves like a organically-grown table.
        n_files = max(1, k * max(1, df.rdd.getNumPartitions()) // 2)
        out.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(dst, f"{table}.parquet")
        )
        print(f"{table}: {df.count()} x {k} rows written", flush=True)


if __name__ == "__main__":
    main()
