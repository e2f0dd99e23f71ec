"""Core relational queries: joins, aggregations, windows, top-k.

Covers SURVEY.md §2.3 (J1-J7), §2.4 (A1-A9), §2.5 (W1-W3), §2.6 (O1-O5),
§2.7 set ops — each function is a `queries()` entry with a DuckDB oracle
twin in registry.py.

Float determinism policy (applies engine-wide): any SUM/AVG over doubles is
accumulated in DECIMAL (exact, order-independent — a distributed sum must
not depend on partition order) and only cast to DOUBLE at the output edge.
This is also the right call at 100 TB: decimal partial aggregation is still
map-side combinable, and results don't drift run-to-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.sources.tables import load_table

# Round doubles born from percentile/quantile_cont to this many dp before
# any strict >/>= compare: Spark and DuckDB share the linear-interpolation
# percentile definition but not a guaranteed bit-identical midpoint
# formula, and a 1-ulp drift must never flip an integer decision. 9 dp is
# far below any real value gap and far above double noise — the repo's
# round-before-exact-compare policy (SURVEY.md §5).
MAD_ROUND_DP = 9


def dec_sum(col, scale: str = "decimal(18,2)"):
    """Exact, order-independent sum of a double column: cast each row to
    decimal, sum (Spark widens precision), emit double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double")


def _sum_value():
    """The audited value total of the writer-tier and streaming audits:
    an exact decimal(18,6) sum of `value`, rounded to cents, as double
    (their oracles' `CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2)
    AS DOUBLE)`)."""
    return (
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("sum_value")
    )


def _disc_price(one: int | float = 1):
    """TPC-H discounted price `l_extendedprice * (one - l_discount)`.
    The literal's type is part of the plan (`1` vs `1.0`), so callers
    pass the one their oracle uses and keep their own decimal cast."""
    return F.col("l_extendedprice") * (F.lit(one) - F.col("l_discount"))


_PID_TMPDIRS: set[str] = set()


def _sf_pid_tag(sf_dir: str) -> str:
    """The (sf_dir, pid) key every per-process work artifact carries:
    deterministic within a process (bench reps reuse in place), never
    shared ACROSS processes — a sf-only key let a parallel run
    overwrite a directory while another process' scan was mid-flight."""
    import hashlib
    import os

    return hashlib.md5(sf_dir.encode()).hexdigest()[:8] + f"_{os.getpid()}"


def _register_exit_cleanup(path: str) -> None:
    """Register `path` for removal at process exit, once — so repeated
    processes don't leak lineitem-sized artifacts per run. Shared by
    the tempdir work dirs and the bucketed-catalog warehouse dirs.
    Symlink-aware: a WAP path table leaves a snapshot symlink at its
    path, which shutil.rmtree refuses (silently, under ignore_errors) —
    unlink it instead so the entry actually goes away."""
    import atexit
    import os
    import shutil

    def _remove(p: str = path) -> None:
        if os.path.islink(p):
            os.unlink(p)
        else:
            shutil.rmtree(p, ignore_errors=True)

    if path not in _PID_TMPDIRS:
        _PID_TMPDIRS.add(path)
        atexit.register(_remove)


def _register_exit_drop_table(spark: SparkSession, table: str) -> None:
    """Register a catalog DROP for a pid-tagged table at process exit,
    once. atexit runs LIFO, so callers register this AFTER the
    directory cleanup to have the DROP run first — the metastore entry
    never outlives its data files. Guarded: by exit time the JVM may
    already be down, in which case there is nothing to drop (the
    in-memory catalog died with it; a persistent metastore session
    would still be up and take the DROP)."""
    import atexit

    key = f"drop-table:{table}"
    if key not in _PID_TMPDIRS:
        _PID_TMPDIRS.add(key)

        def _drop() -> None:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass  # session already stopped — nothing persists

        atexit.register(_drop)


def _pid_tmpdir(prefix: str, sf_dir: str) -> str:
    """Work dir keyed on (sf_dir, pid) (see _sf_pid_tag), atexit-cleaned."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"{prefix}_{_sf_pid_tag(sf_dir)}"
    )
    _register_exit_cleanup(path)
    return path


def _fresh_work(prefix: str, sf_dir: str) -> str:
    """The query's per-(sf, pid) work dir (atexit-cleaned), emptied:
    a second plan construction in one process must rebuild the table
    (or replay the whole stream), not reuse the previous run's."""
    import shutil

    work = _pid_tmpdir(prefix, sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    return work


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3-style grouped aggregate block (TPC-H Q1 shape).

    Mirrors the reference's multi-aggregate stats pattern
    (fact_gold_price.py:394-413) on `lineitem`. Fully codegen'd hash
    aggregate with map-side partial agg — one shuffle on the group keys.
    """
    return _pricing_block(load_table(spark, sf_dir, "lineitem"))


def _pricing_block(l: DataFrame) -> DataFrame:
    """The Q1-shape aggregate body, shared by the parquet and ORC entry
    points so the two formats are adjudicated against the SAME SQL."""
    disc_price = _disc_price().cast("decimal(28,10)")
    charge = (_disc_price() * (1 + F.col("l_tax"))).cast("decimal(28,10)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            # ROUND(…, 2) at the output edge: Spark's and DuckDB's
            # DECIMAL(38,10)→DOUBLE casts differ in the last ulp; rounding
            # to cents makes both sides land on the same nearest double.
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def orc_roundtrip_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/ORC end-to-end: write the pruned lineitem projection to ORC
    (zstd, sources/files.py:write_orc), read it back (read_orc), and run
    the SAME Q1-shape aggregate as `pricing_summary` — adjudicated by
    the SAME oracle SQL over the parquet source, so a green verdict
    proves the second columnar format round-trips timestamps, doubles,
    and strings bit-exactly through write+scan+aggregate.

    Eager-write note (same convention as streaming_upsert_merge): the
    ORC copy is (re)written at plan-construction time into a fixed
    per-sf temp path — repeated runs overwrite one copy rather than
    leaking one per run; bench time includes the write, which is the
    honest cost of a format round-trip. Only the 7 columns the
    aggregate needs are written (column pruning at the WRITE side —
    at 100 TB you never copy columns the consumer won't read)."""
    cols = [
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    ]
    path = _pid_tmpdir("msdw_orc_lineitem", sf_dir)
    from myserver_datawarehouse_spark.sources.files import read_orc, write_orc

    write_orc(load_table(spark, sf_dir, "lineitem").select(*cols), path)
    return _pricing_block(read_orc(spark, path))


ORC_ROUNDTRIP_PRICING_SQL: str  # assigned after PRICING_SUMMARY_SQL below


PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 2) AS sum_disc_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,10))) AS DOUBLE), 2) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# Same oracle as the parquet path: the ORC round-trip must be invisible.
ORC_ROUNDTRIP_PRICING_SQL = PRICING_SUMMARY_SQL


def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 star join: fact -> supplier -> nation -> region, grouped revenue.

    The dims are small: Catalyst broadcast-hash-joins them (verified via
    explain — no shuffle on the fact side until the final groupBy). Mirrors
    cheap_expensive_chart.py:50-57's 3-way star join.
    """
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = _disc_price().cast("decimal(28,10)")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy("r_name", "n_name")
    )


STAR_JOIN_REVENUE_SQL = """
SELECT
  r_name,
  n_name,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue,
  COUNT(*) AS line_count
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W3 rank-filter: top-1 revenue supplier per nation — the canonical
    Spark top-k-per-group (cheap_expensive_chart.py:62-80 pattern).

    Revenue is an exact decimal so the ORDER BY inside the window is
    deterministic; ties broken by s_suppkey.
    """
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = _disc_price().cast("decimal(28,10)")
    per_supp = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey", "s_name")
        .agg(F.sum(rev).alias("revenue"))
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("revenue"), F.asc("s_suppkey")
    )
    return (
        per_supp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "s_nationkey",
            "s_suppkey",
            "s_name",
            F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
        )
        .orderBy("s_nationkey")
    )


TOP_SUPPLIER_PER_NATION_SQL = """
WITH per_supp AS (
  SELECT
    s_nationkey, s_suppkey, s_name,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS revenue
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, s_suppkey, s_name
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey ASC) AS rn
  FROM per_supp
)
SELECT s_nationkey, s_suppkey, s_name, ROUND(CAST(revenue AS DOUBLE), 2) AS revenue
FROM ranked WHERE rn = 1 ORDER BY s_nationkey
"""


def share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 unpartitioned window aggregate: share-of-total on a grouped result
    (cheap_expensive_chart.py:75-77's SUM(COUNT(*)) OVER ()).

    Note the scale caveat from SURVEY §2.5: an empty-frame window funnels
    everything to one partition; fine on a grouped result of ~#groups rows
    (here 5), wrong on a raw fact — there you'd broadcast a 1-row total.
    """
    e = load_table(spark, sf_dir, "events")
    grouped = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    return (
        grouped.select(
            "event_type",
            "cnt",
            (F.col("cnt").cast("double") / total).alias("share"),
        )
        .orderBy("event_type")
    )


SHARE_OF_TOTAL_SQL = """
SELECT
  event_type,
  COUNT(*) AS cnt,
  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 anti-join (populate_sources_dag.py:115's Python set-difference,
    re-expressed as the relational primitive it is)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
ORDER BY c_custkey
"""


def big_spender_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 semi-join: customers having at least one high-value order
    (scalar-subquery semi-join pattern, fact_gold_price.py:408-412)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000.0)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


BIG_SPENDER_CUSTOMERS_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
ORDER BY c_custkey
"""


def latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 merge/upsert semantics as a relational dedup: keep the newest row
    per natural key — exactly what the reference's ON CONFLICT DO UPDATE
    loop achieves (fact_gold_price.py:169-196), minus the N round trips.
    At scale this is the Parquet-only merge strategy (window dedup before
    partition overwrite)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    )


LATEST_EVENT_PER_USER_TYPE_SQL = """
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts, value
FROM ranked WHERE rn = 1 ORDER BY user_id, event_type
"""


def first_appearance_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 group-by with first-appearance ordering
    (populate_sources_dag.py:41-45: GROUP BY source ORDER BY MIN(id))."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.min("event_id").alias("first_event_id"))
        .orderBy("first_event_id")
    )


FIRST_APPEARANCE_ORDER_SQL = """
SELECT event_type, MIN(event_id) AS first_event_id
FROM events GROUP BY event_type ORDER BY first_event_id
"""


def distinct_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 DISTINCT scan (rebuild_all_time_interpolation.py:57-61)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", "o_orderpriority").distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    )


DISTINCT_SCAN_SQL = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
ORDER BY o_orderstatus, o_orderpriority
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set op: users who clicked but never purchased (EXCEPT)."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id")
    # subtract == SQL EXCEPT (distinct semantics)
    return clicks.subtract(buys).orderBy("user_id")


SET_EXCEPT_SQL = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
ORDER BY user_id
"""


def stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/V1 one-pass multi-aggregate stats block
    (fact_gold_price.py:394-413): COUNT(*), conditional COUNT,
    COUNT(DISTINCT), AVG/MIN/MAX, sample STDDEV."""
    e = load_table(spark, sf_dir, "events")
    val_dec = F.col("value").cast("decimal(18,2)")
    return e.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("error_count"),
        F.countDistinct("user_id").alias("unique_users"),
        F.countDistinct("event_type").alias("unique_types"),
        F.round(
            F.sum(val_dec).cast("double") / F.count("value"), 6
        ).alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.round(F.stddev("value"), 6).alias("stddev_value"),
    )


STATS_PROFILE_SQL = """
SELECT
  COUNT(*) AS total_records,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_count,
  COUNT(DISTINCT user_id) AS unique_users,
  COUNT(DISTINCT event_type) AS unique_types,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value), 6) AS avg_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value,
  ROUND(STDDEV_SAMP(value), 6) AS stddev_value
FROM events
"""


def first_last_event_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: global top-1 by sort — the reference's boundary-anchor probes
    (`fact_gold_price_temp.py:282-317`: last observation of one hour /
    first of the next, each `ORDER BY ... LIMIT 1`). A global sort-limit-1
    in Spark is a cheap per-partition top-1 + driver merge (TakeOrdered),
    not a full sort — exactly what you want at 100 TB. event_id breaks
    ties deterministically."""
    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    first = e.orderBy(F.col("ts").asc(), F.col("event_id").asc()).limit(1)
    last = e.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(1)
    return (
        first.select(F.lit("first").alias("which"), "event_id", "ts", "value")
        .unionByName(
            last.select(F.lit("last").alias("which"), "event_id", "ts", "value")
        )
        .orderBy("which")
    )


FIRST_LAST_EVENT_PROBE_SQL = """
SELECT * FROM (
  SELECT 'first' AS which, event_id, ts, value
  FROM events ORDER BY ts ASC, event_id ASC LIMIT 1
)
UNION ALL
SELECT * FROM (
  SELECT 'last' AS which, event_id, ts, value
  FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
)
ORDER BY which
"""


def salted_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct-user counts via deterministic salting
    (operators/skew.salted_distinct_count): event_type is a handful of
    hot keys over the whole events table — the aggregation-skew shape
    where a direct COUNT(DISTINCT) funnels each hot key's final merge
    through one reducer. Salting on hash(user_id) makes the partial
    counts disjoint, so the rollup is a plain SUM and the hot key runs
    n_salts-way parallel. Result is identical to the direct aggregate
    (the oracle computes it directly)."""
    from myserver_datawarehouse_spark.operators.skew import salted_distinct_count

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    distincts = salted_distinct_count(
        e, ["event_type"], "user_id", n_salts=16, alias="n_users"
    )
    return (
        counts.join(distincts, "event_type")
        .select("event_type", "n_events", "n_users")
        .orderBy("event_type")
    )


SALTED_USER_COUNTS_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
ORDER BY event_type
"""


def events_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment (operators/asof.py): every click event carries the
    user's most recent purchase value at-or-before the click. Executed as
    tagged-union + one carry-forward window — one shuffle on user_id, no
    join, no pair blowup on hot users. Oracle: DuckDB's native ASOF LEFT
    JOIN over the identical pre-aggregated purchase stream."""
    from myserver_datawarehouse_spark.operators.asof import asof_join_backward

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join_backward(
        clicks, purchases, ["user_id"], "ts", ["purchase_value"]
    )
    # The operator yields NULL payload for never-purchased users; the
    # differential harness reads Spark doubles via pandas where NULL
    # becomes NaN, so both engines emit an explicit sentinel instead.
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("purchase_value", F.lit(-1.0)).alias("purchase_value"),
    ).orderBy("event_id")


EVENTS_ASOF_ENRICHMENT_SQL = """
WITH l AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.ts,
       COALESCE(r.purchase_value, -1.0) AS purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
ORDER BY l.event_id
"""


SESSION_GAP_MIN = 30


def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is idle
    longer than {SESSION_GAP_MIN} minutes; per-session rollup of event
    count and span. Two stacked windows over the SAME (user_id, ts)
    ordering — lag to flag session starts, running SUM to number them —
    so Catalyst plans ONE shuffle + ONE sort and both window functions
    ride it; the (user_id, session_id) rollup is satisfied by the same
    user_id partitioning (subset distribution), so the whole query is one
    data shuffle plus the presentation sort (verified: 2 Exchanges total).
    The batch twin of the streaming gap tracker (streaming/jobs.py)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = e.withColumn(
        "is_start",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))
            ).alias("duration_sec"),
        )
        .orderBy("user_id", "session_id")
    )


USER_SESSIONIZATION_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS is_start
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT *, CAST(SUM(is_start) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       date_diff('second', MIN(ts), MAX(ts)) AS duration_sec
FROM sessioned
GROUP BY 1, 2
ORDER BY user_id, session_id
"""


PCTL_QS = (0.25, 0.5, 0.75, 0.95)


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile block per event_type (warehouse-staple addendum;
    the reference's stats block A3 stops at AVG/STDDEV). Spark's exact
    `percentile` and DuckDB's `quantile_cont` share the linear-
    interpolation definition, so outputs match to the last bit (6-dp
    rounded at the edge like every double here).

    Exact percentiles sort each group's values; at 100 TB swap in
    `approx_percentile(value, qs, accuracy)` — same plan shape, bounded
    memory (KLL-sketch-style mergeable state), no sort."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.round(F.expr(f"percentile(value, {q})"), 6).alias(
                    f"p{int(q * 100)}"
                )
                for q in PCTL_QS
            ],
        )
        .orderBy("event_type")
    )


VALUE_PERCENTILES_SQL = f"""
SELECT event_type,
       COUNT(*) AS n,
       {", ".join(
           f"ROUND(quantile_cont(value, {q}), 6) AS p{int(q * 100)}"
           for q in PCTL_QS)}
FROM events
WHERE value IS NOT NULL
GROUP BY 1
ORDER BY event_type
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping over (l_returnflag, l_linestatus): subtotals and a
    grand total in ONE aggregation pass (Catalyst expands the grouping
    sets map-side; still a single shuffle with partial aggregation).
    Beyond the reference surface — its report stacks UNIONed queries for
    totals; a warehouse engine gets them from the same scan."""
    l = load_table(spark, sf_dir, "lineitem")
    rev = _disc_price().cast("decimal(28,10)")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


REVENUE_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_lines,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def share_of_total_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2's 100 TB form: the total comes from a broadcast 1-row aggregate
    cross-joined onto the grouped rows, instead of an empty-frame window
    that funnels everything to one partition. Same output and oracle as
    `share_of_total`; this variant stays fully parallel when the grouped
    result itself is large (high-cardinality keys)."""
    e = load_table(spark, sf_dir, "events")
    grouped = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    total = grouped.agg(F.sum("cnt").alias("_total"))
    return (
        grouped.join(F.broadcast(total))
        .select(
            "event_type",
            "cnt",
            (F.col("cnt").cast("double") / F.col("_total")).alias("share"),
        )
        .orderBy("event_type")
    )


SHARE_OF_TOTAL_BROADCAST_SQL = SHARE_OF_TOTAL_SQL


# Value-band dimension for the range join: label, [lo, hi) bounds.
VALUE_BANDS = [
    ("b0_micro", 0.0, 10.0),
    ("b1_small", 10.0, 50.0),
    ("b2_mid", 50.0, 150.0),
    ("b3_large", 150.0, 1.0e12),
]


def _bands_values_literal() -> str:
    return ", ".join(f"('{b}', {lo!r}, {hi!r})" for b, lo, hi in VALUE_BANDS)


def events_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: each event matched to the value band with
    lo <= value < hi, then rolled up per (band, event_type). The binning
    pattern behind histogram/tiering reports when the bands are data, not
    literals.

    Plan: the band table is tiny and explicitly broadcast, so Spark runs
    a broadcast-nested-loop join — per-row cost is |bands| comparisons,
    embarrassingly parallel over the fact scan, with NO shuffle of the
    fact side before the final small rollup. A shuffle range join would
    only be warranted when the band side also scales; an interval tree
    inside a pandas UDF when |bands| explodes.
    """
    e = load_table(spark, sf_dir, "events")
    # VALUES literal, not createDataFrame: the latter ships the rows
    # through a Python RDD (applySchemaToPythonRDD), which drags Python
    # workers into an otherwise all-JVM plan just to build 4 rows.
    bands = spark.sql(
        "SELECT band, CAST(lo AS DOUBLE) lo, CAST(hi AS DOUBLE) hi "
        f"FROM (VALUES {_bands_values_literal()}) AS b(band, lo, hi)"
    )
    j = e.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return (
        j.groupBy("band", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dec_sum("value"), 2).alias("sum_value"),
        )
        .orderBy("band", "event_type")
    )


_BANDS_VALUES_SQL = _bands_values_literal()

EVENTS_VALUE_BAND_JOIN_SQL = f"""
SELECT b.band, e.event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_value
FROM events e
JOIN (VALUES {_BANDS_VALUES_SQL}) AS b(band, lo, hi)
  ON e.value >= b.lo AND e.value < b.hi
GROUP BY 1, 2
ORDER BY band, event_type
"""


def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: minute, hour, day, and
    grand-total rollups of the events stream in ONE aggregation pass via
    ROLLUP over the truncation hierarchy (minute ⊂ hour ⊂ day makes the
    rollup lattice exactly the resolution ladder). `grain` is the
    grouping_id: 0=minute, 1=hour, 3=day, 7=total.

    One shuffle with map-side partials for all four resolutions — the
    multi-pass alternative re-scans the fact once per grain. At 100 TB
    this is the materialized-view refresh shape: each output grain is
    bounded by time-range cardinality, not event count.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.date_trunc("day", "ts").alias("day_ts"),
            F.date_trunc("hour", "ts").alias("hour_ts"),
            F.date_trunc("minute", "ts").alias("minute_ts"),
            "value",
        )
        .rollup("day_ts", "hour_ts", "minute_ts")
        .agg(
            F.grouping_id().alias("grain"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(dec_sum("value"), 2).alias("sum_value"),
        )
        # Buckets leave as formatted strings: rollup rows carry NULL
        # buckets by construction, and null-timestamp cells round-trip
        # as NaT through Arrow while string nulls stay NULL — the
        # differential harness (and any downstream BI sink) compares
        # string nulls cleanly.
        .select(
            F.date_format("day_ts", "yyyy-MM-dd HH:mm:ss").alias("day_b"),
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_b"),
            F.date_format("minute_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "minute_b"
            ),
            "grain",
            "n_events",
            "sum_value",
        )
        .orderBy(
            F.col("day_b").asc_nulls_first(),
            F.col("hour_b").asc_nulls_first(),
            F.col("minute_b").asc_nulls_first(),
        )
    )


EVENTS_MULTIRES_ROLLUP_SQL = """
WITH g AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
         date_trunc('hour', ts) AS hour_ts,
         date_trunc('minute', ts) AS minute_ts,
         value
  FROM events
)
SELECT strftime(day_ts, '%Y-%m-%d %H:%M:%S') AS day_b,
       strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_b,
       strftime(minute_ts, '%Y-%m-%d %H:%M:%S') AS minute_b,
       GROUPING(day_ts, hour_ts, minute_ts) AS grain,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_value
FROM g
GROUP BY ROLLUP (day_ts, hour_ts, minute_ts)
ORDER BY day_b NULLS FIRST, hour_b NULLS FIRST, minute_b NULLS FIRST
"""


# Pivot columns pinned (not inferred) so the output schema is static —
# required for a verifiable contract AND the right call at scale: an
# inferred pivot runs an extra distinct scan just to learn the schema.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide format: one row per day, one count column per event
    type — the report/export shape BI layers ask of a warehouse.

    `pivot` with an explicit value list compiles to ONE hash aggregate
    with conditional partials (same plan as hand-written CASE sums, which
    is exactly what the oracle states) — one shuffle keyed by date, no
    per-type scans, no schema-inference pass.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("date_id", F.date_format("ts", "yyyyMMdd").cast("int"))
        .groupBy("date_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("date_id")
    )


_PIVOT_CASE_SQL = ",\n       ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
    for t in EVENT_TYPES
)

EVENTS_DAILY_PIVOT_SQL = f"""
SELECT CAST(strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS INT) AS date_id,
       {_PIVOT_CASE_SQL}
FROM events
GROUP BY 1
ORDER BY date_id
"""


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set op twin of `set_except`: users who both clicked AND
    purchased (INTERSECT, distinct semantics). Catalyst rewrites
    intersect to a left-semi join over distinct rows — one shuffle per
    side on user_id, no row explosion."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys).orderBy("user_id")


SET_INTERSECT_SQL = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
ORDER BY user_id
"""


def events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of enrichment (operators/asof.py): every click carries
    the user's NEXT purchase value at-or-after the click — the
    label-attachment direction of training-data prep (outcome joined to
    the event that preceded it). Same tagged-union + one carry window as
    the backward form; no pair join. Oracle: DuckDB ASOF with the
    forward inequality."""
    from myserver_datawarehouse_spark.operators.asof import asof_join_forward

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("next_purchase_value"))
    )
    out = asof_join_forward(
        clicks, purchases, ["user_id"], "ts", ["next_purchase_value"]
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("next_purchase_value", F.lit(-1.0)).alias(
            "next_purchase_value"
        ),
    ).orderBy("event_id")


EVENTS_ASOF_FORWARD_SQL = """
WITH l AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS next_purchase_value
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.ts,
       COALESCE(r.next_purchase_value, -1.0) AS next_purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
ORDER BY l.event_id
"""


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the `props` JSON string
    with an explicit schema and aggregate the extracted field — the
    schema-on-read shape for event payloads.

    `from_json` with a declared schema parses ONCE per row inside
    whole-stage codegen and scales to any field count; per-field
    `get_json_object` re-parses the document per field. Malformed
    documents yield NULL (counted explicitly — a parse-failure rate is a
    data-quality signal, not a silent drop). All aggregates integer-exact.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k long").getField("k")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_unparsed"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_PROPS_SQL = """
WITH parsed AS (
  SELECT event_type,
         TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(CASE WHEN k IS NULL THEN 1 END) AS n_unparsed,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       COUNT(DISTINCT k) AS n_distinct_k
FROM parsed
GROUP BY 1
ORDER BY event_type
"""


def user_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE user segmentation: rank users into spend quartiles, then
    profile each quartile (count, spend range, share of total) — the
    cohort-bucketing report shape.

    The per-user spend is an exact decimal sum (one fact shuffle on
    user_id); NTILE runs over |users| rows with a wholly deterministic
    sort (spend exact-decimal desc, user_id tie-break). The quartile
    profile is a second tiny aggregate. An unpartitioned NTILE serializes
    its input — fine over |users|-sized aggregates; at larger cohort
    counts the swap is percent_rank over pre-binned keys or ntile within
    hash shards.
    """
    e = load_table(spark, sf_dir, "events")
    spend = (
        e.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("spend"))
    )
    w = Window.orderBy(F.desc("spend"), F.asc("user_id"))
    q = spend.withColumn("quartile", F.ntile(4).over(w))
    return (
        q.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.min("spend").cast("double"), 2).alias("min_spend"),
            F.round(F.max("spend").cast("double"), 2).alias("max_spend"),
            F.round(F.sum("spend").cast("double"), 2).alias("total_spend"),
        )
        .orderBy("quartile")
    )


USER_SPEND_QUARTILES_SQL = """
WITH spend AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS spend
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1
),
q AS (
  SELECT *, NTILE(4) OVER (ORDER BY spend DESC, user_id ASC) AS quartile
  FROM spend
)
SELECT quartile,
       COUNT(*) AS n_users,
       ROUND(CAST(MIN(spend) AS DOUBLE), 2) AS min_spend,
       ROUND(CAST(MAX(spend) AS DOUBLE), 2) AS max_spend,
       ROUND(CAST(SUM(spend) AS DOUBLE), 2) AS total_spend
FROM q
GROUP BY 1
ORDER BY quartile
"""


def user_spend_quartiles_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of `user_spend_quartiles`: instead of an
    unpartitioned NTILE that funnels every per-user spend row through ONE
    task (the `WindowExec: No Partition Defined` bottleneck), compute the
    three quartile cutoffs with a single exact-percentile aggregate,
    broadcast the 1-row cutoff frame, and band-join — the same swap
    `share_of_total_broadcast` makes for W2. Semantics shift from
    position-quartiles (NTILE splits boundary ties by rank) to
    value-quartiles (ties share a band), which is the form that actually
    parallelizes: every stage is a map or a partial-agg, nothing
    serializes on |users|. At 100 TB swap `percentile` for
    `approx_percentile(spend, ...)` — same plan shape, sketch-mergeable
    state. Cutoffs and spends are rounded to {MAD_ROUND_DP} dp before
    the >= band compare (cross-engine percentile midpoints can drift
    1 ulp; repo rounding policy)."""
    e = load_table(spark, sf_dir, "events")
    spend = (
        e.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("spend"))
        .withColumn(
            "spend_d", F.round(F.col("spend").cast("double"), MAD_ROUND_DP)
        )
    )
    cuts = spend.agg(
        F.round(
            F.expr("percentile(CAST(spend AS DOUBLE), 0.75)"), MAD_ROUND_DP
        ).alias("c1"),
        F.round(
            F.expr("percentile(CAST(spend AS DOUBLE), 0.50)"), MAD_ROUND_DP
        ).alias("c2"),
        F.round(
            F.expr("percentile(CAST(spend AS DOUBLE), 0.25)"), MAD_ROUND_DP
        ).alias("c3"),
    )
    banded = spend.crossJoin(F.broadcast(cuts)).withColumn(
        "quartile",
        F.when(F.col("spend_d") >= F.col("c1"), 1)
        .when(F.col("spend_d") >= F.col("c2"), 2)
        .when(F.col("spend_d") >= F.col("c3"), 3)
        .otherwise(4),
    )
    return (
        banded.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.min("spend").cast("double"), 2).alias("min_spend"),
            F.round(F.max("spend").cast("double"), 2).alias("max_spend"),
            F.round(F.sum("spend").cast("double"), 2).alias("total_spend"),
        )
        .orderBy("quartile")
    )


USER_SPEND_QUARTILES_BROADCAST_SQL = f"""
WITH spend AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS spend
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1
),
sd AS (
  SELECT user_id, spend,
         ROUND(CAST(spend AS DOUBLE), {MAD_ROUND_DP}) AS spend_d
  FROM spend
),
cuts AS (
  SELECT ROUND(quantile_cont(CAST(spend AS DOUBLE), 0.75), {MAD_ROUND_DP})
           AS c1,
         ROUND(quantile_cont(CAST(spend AS DOUBLE), 0.50), {MAD_ROUND_DP})
           AS c2,
         ROUND(quantile_cont(CAST(spend AS DOUBLE), 0.25), {MAD_ROUND_DP})
           AS c3
  FROM spend
)
SELECT CASE WHEN s.spend_d >= c.c1 THEN 1
            WHEN s.spend_d >= c.c2 THEN 2
            WHEN s.spend_d >= c.c3 THEN 3
            ELSE 4 END AS quartile,
       COUNT(*) AS n_users,
       ROUND(CAST(MIN(s.spend) AS DOUBLE), 2) AS min_spend,
       ROUND(CAST(MAX(s.spend) AS DOUBLE), 2) AS max_spend,
       ROUND(CAST(SUM(s.spend) AS DOUBLE), 2) AS total_spend
FROM sd s CROSS JOIN cuts c
GROUP BY 1
ORDER BY quartile
"""


SNAPSHOT_SPLIT_TS = "2024-01-16 00:00:00"


def user_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the CDC/audit shape): compare the user set of two
    time windows and classify each user as retained / churned / new,
    with per-class activity counts. The pattern behind "what changed
    between yesterday's load and today's".

    Full-outer join of two pre-aggregated (user-grain) sides — the join
    input is |users|, not events; both aggregates shuffle once on
    user_id and AQE coalesces the tiny join. At 100 TB the windows come
    from partition pruning on the date key, so each side scans only its
    own partitions.
    """
    e = load_table(spark, sf_dir, "events")
    cut = F.lit(SNAPSHOT_SPLIT_TS).cast("timestamp")
    w1 = (
        e.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_before"))
    )
    w2 = (
        e.filter(F.col("ts") >= cut)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    j = w1.join(w2, "user_id", "full_outer")
    status = (
        F.when(F.col("n_before").isNotNull() & F.col("n_after").isNotNull(), "retained")
        .when(F.col("n_before").isNotNull(), "churned")
        .otherwise("new")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("n_before", F.lit(0)).alias("n_before"),
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_before").alias("events_before"),
            F.sum("n_after").alias("events_after"),
        )
        .orderBy("status")
    )


USER_SNAPSHOT_DIFF_SQL = f"""
WITH w1 AS (
  SELECT user_id, COUNT(*) AS n_before FROM events
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{SNAPSHOT_SPLIT_TS}'
  GROUP BY 1
),
w2 AS (
  SELECT user_id, COUNT(*) AS n_after FROM events
  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{SNAPSHOT_SPLIT_TS}'
  GROUP BY 1
)
SELECT CASE WHEN w1.user_id IS NOT NULL AND w2.user_id IS NOT NULL
              THEN 'retained'
            WHEN w1.user_id IS NOT NULL THEN 'churned'
            ELSE 'new' END AS status,
       COUNT(*) AS n_users,
       CAST(SUM(COALESCE(n_before, 0)) AS BIGINT) AS events_before,
       CAST(SUM(COALESCE(n_after, 0)) AS BIGINT) AS events_after
FROM w1 FULL OUTER JOIN w2 ON w1.user_id = w2.user_id
GROUP BY 1
ORDER BY status
"""


# ------------------------------------------------------------- funnel

def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): per user, the first
    view, the first click AFTER that view, and the first purchase AFTER
    that click; rolled up to stage reach counts and the mean
    view->purchase lag in whole minutes.

    ONE shuffle: per-user event times are collected as sorted arrays in
    a single hash aggregate, and the stage chaining is array math
    (`array_min(filter(...))`) — no per-stage re-join of the fact. The
    collected arrays are bounded by a user's OWN event count; a
    pathological hot user is the skew caveat, and the swap is the
    3-shuffle min-above-threshold chain (one join per stage).
    The mean lag accumulates integer minutes in DECIMAL — order-free.
    """
    e = load_table(spark, sf_dir, "events")
    collected = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts"))
            )
        ).alias("clicks"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            )
        ).alias("purchases"),
    )
    t_click = F.array_min(
        F.filter("clicks", lambda c: c > F.col("t_view"))
    )
    staged = collected.withColumn("t_click", t_click).withColumn(
        "t_purchase",
        F.array_min(F.filter("purchases", lambda p: p > F.col("t_click"))),
    )
    lag_min = F.floor(
        (
            F.col("t_purchase").cast("long") - F.col("t_view").cast("long")
        )
        / 60
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click_after_view"),
        F.count("t_purchase").alias("n_purchase_after_click"),
        F.round(
            F.sum(lag_min.cast("decimal(20,0)")).cast("double")
            / F.count("t_purchase"),
            6,
        ).alias("avg_view_to_purchase_min"),
    )


EVENTS_FUNNEL_CONVERSION_SQL = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END)
           AS t_view,
         list(CAST(ts AS TIMESTAMP) ORDER BY ts)
           FILTER (WHERE event_type = 'click') AS clicks,
         list(CAST(ts AS TIMESTAMP) ORDER BY ts)
           FILTER (WHERE event_type = 'purchase') AS purchases
  FROM events
  GROUP BY 1
),
staged AS (
  SELECT user_id, t_view,
         list_min(list_filter(clicks, c -> c > t_view)) AS t_click
  FROM per_user
),
staged2 AS (
  SELECT s.user_id, s.t_view, s.t_click,
         list_min(list_filter(p.purchases, x -> x > s.t_click))
           AS t_purchase
  FROM staged s JOIN per_user p USING (user_id)
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS n_view,
       COUNT(t_click) AS n_click_after_view,
       COUNT(t_purchase) AS n_purchase_after_click,
       ROUND(CAST(SUM(CAST(FLOOR(date_diff('second', t_view, t_purchase)
                                 / 60) AS DECIMAL(20,0))) AS DOUBLE)
             / COUNT(t_purchase), 6) AS avg_view_to_purchase_min
FROM staged2
"""


# ---------------------------------------------------------- retention

def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by their first-event week,
    counted in every (cohort_week, week_offset) cell they were active.

    ONE fact shuffle: a single per-user aggregate yields both the
    cohort week (min ts) and the distinct active-week set (collect_set,
    bounded by the calendar — weeks per user, not events per user);
    exploding the set is map-side, and the cell rollup shuffles only
    |weeks|² keys. No join anywhere. Week arithmetic is integer
    epoch-seconds on Monday-aligned truncs, exact in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"),
        F.collect_set(F.date_trunc("week", F.col("ts"))).alias("weeks"),
    )
    cells = per_user.select(
        "cohort_week", F.explode("weeks").alias("week")
    )
    offset = (
        (
            F.col("week").cast("long") - F.col("cohort_week").cast("long")
        )
        / (7 * 24 * 3600)
    ).cast("long")
    return (
        cells.select(F.col("cohort_week"), offset.alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


USER_RETENTION_COHORTS_SQL = """
WITH first AS (
  SELECT user_id,
         date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
  FROM events GROUP BY 1
),
active AS (
  SELECT DISTINCT user_id,
         date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
  FROM events
)
SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(date_diff('second', f.cohort_week, a.week) / (7*24*3600)
            AS BIGINT) AS week_offset,
       COUNT(*) AS n_active_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""


# ------------------------------------------------------- robust outliers

MAD_K = 4.4478  # 3 sigma-equivalents: 3 * 1.4826, one literal so both
                # engines evaluate one multiply (no association drift)


def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier gate per event_type — the spike
    detector a price pipeline runs where mean/stddev (A3) would be
    dragged by the very outliers it hunts.

    Classic two-pass robust stats: pass 1 aggregates the per-group
    median, pass 2 the median absolute deviation and the flag counts;
    both group tables are broadcast back, so the fact never shuffles
    for a join — total cost is two grouped aggregates over the scan.
    Exactness: Spark `percentile` and DuckDB `quantile_cont` share the
    linear-interpolation definition but not a guaranteed bit-identical
    midpoint formula, so both sides round adev and the `{MAD_K} * mad`
    threshold to {MAD_ROUND_DP} dp before the strict > compare.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    out = (
        F.round(F.col("adev"), MAD_ROUND_DP)
        > F.round(MAD_K * F.col("mad"), MAD_ROUND_DP)
    ).cast("long")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(out).alias("n_outliers"),
            F.round(
                F.sum(out).cast("double") / F.count(F.lit(1)), 6
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


VALUE_OUTLIERS_MAD_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT d.event_type,
       COUNT(*) AS n,
       ROUND(MAX(d.med), 6) AS med,
       ROUND(MAX(m.mad), 6) AS mad,
       CAST(SUM(CASE WHEN ROUND(d.adev, {MAD_ROUND_DP})
                          > ROUND({MAD_K} * m.mad, {MAD_ROUND_DP})
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       ROUND(CAST(SUM(CASE WHEN ROUND(d.adev, {MAD_ROUND_DP})
                                > ROUND({MAD_K} * m.mad, {MAD_ROUND_DP})
                           THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY 1
ORDER BY event_type
"""


# ------------------------------------------------------- z-order layout

ZORDER_BITS = 12
ZORDER_BUCKET_SHIFT = 8


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering-key audit over (user_id, day): the
    data-layout primitive behind multi-dimensional file pruning — rows
    sorted by the interleaved-bit key land in files whose min/max ranges
    are tight in BOTH dimensions, so a filter on either column prunes.

    The z-value is pure integer bit arithmetic ({ZORDER_BITS} bits per
    dimension, bit i of each key -> bits 2i/2i+1), bucketed by the top
    bits; the rollup reports each bucket's row count and per-dimension
    spans — the locality a range-partitioned write would give each file.
    At 100 TB the same expression feeds
    `df.repartitionByRange(z).sortWithinPartitions(z)` before the write;
    the audit itself is one map-side expression + a |buckets|-key rollup.
    """
    e = load_table(spark, sf_dir, "events")
    a = F.col("user_id").cast("bigint")
    b = F.dayofmonth("ts").cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(ZORDER_BITS):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(1), 2 * i + 1)
    return (
        e.select(
            F.shiftright(z, ZORDER_BUCKET_SHIFT).alias("z_bucket"),
            a.alias("u"),
            b.alias("d"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("u").alias("min_user"),
            F.max("u").alias("max_user"),
            F.min("d").alias("min_day"),
            F.max("d").alias("max_day"),
            (
                (F.max("u") - F.min("u") + 1) * (F.max("d") - F.min("d") + 1)
            ).alias("span_area"),
        )
        .orderBy("z_bucket")
    )


def _zorder_sql() -> str:
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(((u >> {i}) & 1) << {2 * i})")
        terms.append(f"(((d >> {i}) & 1) << {2 * i + 1})")
    z = " + ".join(terms)
    return f"""
WITH kv AS (
  SELECT CAST(user_id AS BIGINT) AS u,
         CAST(date_part('day', CAST(ts AS TIMESTAMP)) AS BIGINT) AS d
  FROM events
),
zb AS (SELECT u, d, ({z}) >> {ZORDER_BUCKET_SHIFT} AS z_bucket FROM kv)
SELECT z_bucket,
       COUNT(*) AS n_rows,
       MIN(u) AS min_user, MAX(u) AS max_user,
       MIN(d) AS min_day, MAX(d) AS max_day,
       (MAX(u) - MIN(u) + 1) * (MAX(d) - MIN(d) + 1) AS span_area
FROM zb
GROUP BY 1
ORDER BY z_bucket
"""


LAYOUT_ZORDER_STATS_SQL = _zorder_sql()


# ---------------------------------------------------------- histogram

HIST_WIDTH = 10  # equi-width bucket size over events.value


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of events.value per event_type — the
    profiling staple behind NDV/selectivity estimates and dashboard
    distributions. Bucket = floor(value / width) in double arithmetic
    (one division, identical in both engines), so the map side emits
    small ints and the rollup shuffles |types| x |buckets| keys. The
    100 TB note: this IS the histogram a cost-based optimizer collects;
    computing it as a query keeps it refreshable incrementally
    (per-partition partials union)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.floor(F.col("value") / HIST_WIDTH).cast("long")
    return (
        e.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(FLOOR(value / {HIST_WIDTH}) AS BIGINT) AS bucket,
       COUNT(*) AS n
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
ORDER BY event_type, bucket
"""


# ------------------------------------------------------------- SCD type 2


def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: treat each user's events as state
    observations (state = event_type), collapse consecutive identical
    states into one version, and emit validity intervals
    [valid_from, valid_to) with valid_to = next version's start (the
    2200-01-01 high-date sentinel (inside pandas datetime64[ns] range,
    unlike 9999-12-31) for the open current version, the
    standard SCD2 convention) — the dimension-history primitive the
    reference's SCD-lite sources upsert stops short of.

    One shuffle: the change flag (lag), version number (running sum),
    per-version bounds (group) and the interval close (lead) all ride
    the same (user_id | ts, event_id) sort order. Ordering ties are
    broken on event_id, so versioning is total-ordered and
    engine-exact.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = e.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
        F.sum(changed)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("version"),
    )
    versions = runs.groupBy("user_id", "version", "state").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_observations"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    high_date = F.lit("2200-01-01 00:00:00").cast("timestamp")
    return (
        versions.withColumn(
            "valid_to", F.coalesce(F.lead("valid_from").over(wv), high_date)
        )
        .select(
            "user_id",
            "version",
            "state",
            "valid_from",
            "valid_to",
            "n_observations",
        )
        .orderBy("user_id", "version")
    )


SCD2_USER_HISTORY_SQL = """
WITH e AS (
  SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS ts,
         event_id
  FROM events
),
flagged AS (
  SELECT *,
         CASE WHEN lag(state) OVER w IS NULL
                OR lag(state) OVER w <> state
              THEN 1 ELSE 0 END AS changed
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, state, ts,
         CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS version
  FROM flagged
),
versions AS (
  SELECT user_id, version, state,
         MIN(ts) AS valid_from,
         COUNT(*) AS n_observations
  FROM runs
  GROUP BY 1, 2, 3
)
SELECT user_id, version, state, valid_from,
       COALESCE(lead(valid_from) OVER (PARTITION BY user_id
                                       ORDER BY version),
                TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
       n_observations
FROM versions
ORDER BY user_id, version
"""


# ------------------------------------------------ shipping priority (Q3)

SHIP_SEGMENT = "BUILDING"
SHIP_CUTOFF = "1998-01-01"
SHIP_TOPK = 10


def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue shipping priority — the
    classic 3-way selective star join (customer segment filter ->
    orders date filter -> lineitem date filter) topped by a bounded
    sort. The reference's report layer never needed Q3 itself, but this
    is THE canonical warehouse probe for join-order + filter pushdown.

    Scale notes: both date predicates and the segment equality reach
    the parquet scans (PushedFilters); customer is broadcast
    (~150k rows/SF even at TPC-H SF100 it's the small side after the
    segment cut); orders⋈lineitem shuffles on orderkey once. The final
    TopK is `ORDER BY .. LIMIT k` — Spark runs TakeOrderedAndProject
    (per-partition heap + driver merge of k·P rows), never a global
    sort. Revenue uses the repo's exact-decimal discipline
    (star_join_revenue)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == SHIP_SEGMENT
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(SHIP_CUTOFF).cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(SHIP_CUTOFF).cast("timestamp")
    )
    rev = _disc_price().cast("decimal(28,10)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(SHIP_TOPK)
    )


SHIPPING_PRIORITY_TOPK_SQL = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(28,10))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{SHIP_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
  AND l_shipdate > TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey ASC
LIMIT {SHIP_TOPK}
"""


# ------------------------------------------------------- CUBE rollup

def events_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (event_type, date_id): every marginal —
    per type+day, per type, per day, grand total — in ONE pass
    (events_multires_rollup covers ROLLUP's hierarchy; CUBE is the
    §2.7 completion for cross-dimensional marginals).

    One shuffle keyed by the grouping-set id + keys; partial aggregation
    applies per set map-side. At 100 TB a full CUBE over high-cardinality
    keys explodes |sets|×|groups| — the guard is exactly this shape:
    cube only low-cardinality dims (type × day), leave user-grain out.

    Margin rows replace the NULL grouping keys with sentinels ('ALL' /
    -1) via grouping(): a NULL in an int key float-promotes the column
    through pandas ('20240101.0' vs '20240101' in the exact hash
    compare — the dtype lint in tools/verify_local.py catches this)."""
    e = load_table(spark, sf_dir, "events")
    d = e.withColumn(
        "date_id", F.date_format("ts", "yyyyMMdd").cast("int")
    ).withColumn("val", F.col("value").cast("decimal(18,6)"))
    cube = d.cube("event_type", "date_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("val").cast("double"), 4).alias("sum_value"),
        F.grouping("event_type").alias("g_type"),
        F.grouping("date_id").alias("g_date"),
    )
    return (
        cube.select(
            F.when(F.col("g_type") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.when(F.col("g_date") == 1, F.lit(-1))
            .otherwise(F.col("date_id"))
            .alias("date_id"),
            "n_events",
            "sum_value",
        )
        .orderBy("event_type", "date_id")
    )


EVENTS_CUBE_ROLLUP_SQL = """
WITH base AS (
  SELECT event_type,
         CAST(strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS INT) AS date_id,
         value
  FROM events
)
SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
            ELSE event_type END AS event_type,
       CASE WHEN GROUPING(date_id) = 1 THEN -1
            ELSE date_id END AS date_id,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS sum_value
FROM base
GROUP BY CUBE (event_type, date_id)
ORDER BY event_type, date_id
"""


# --------------------------------------------------- day-over-day delta

def day_over_day_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-based day-over-day delta of the daily mean value per type —
    the trend panel every metrics warehouse serves. The daily mean is
    the repo's exact decimal-sum/count (6 dp); the lag window is
    PARTITIONED by event_type (never global), so at 100 TB each type's
    day series sorts independently — |days| rows per partition, trivial.

    pct_change rounds at 4 dp after a NULLIF guard (first day and
    zero-mean days yield NULL, not a division error)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    daily = (
        e.withColumn("date_id", F.date_format("ts", "yyyyMMdd").cast("int"))
        .groupBy("event_type", "date_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value"),
                6,
            ).alias("avg_value")
        )
    )
    w = Window.partitionBy("event_type").orderBy("date_id")
    prev = F.lag("avg_value").over(w)
    return (
        daily.withColumn("prev_avg", prev)
        .withColumn("delta", F.round(F.col("avg_value") - prev, 6))
        .withColumn(
            "pct_change",
            F.round(
                (F.col("avg_value") - prev)
                * 100.0
                / F.nullif(prev, F.lit(0.0)),
                4,
            ),
        )
        .orderBy("event_type", "date_id")
    )


DAY_OVER_DAY_CHANGE_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS INT) AS date_id,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(value), 6) AS avg_value
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, date_id, avg_value,
       lag(avg_value) OVER w AS prev_avg,
       ROUND(avg_value - lag(avg_value) OVER w, 6) AS delta,
       ROUND((avg_value - lag(avg_value) OVER w) * 100.0
             / NULLIF(lag(avg_value) OVER w, 0.0), 4) AS pct_change
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY date_id)
ORDER BY event_type, date_id
"""


# ------------------------------------------------- dense-rank top-k ties

TOPK_DENSE_K = 3


def grouped_topk_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_DENSE_K} suppliers per nation by account balance with
    DENSE_RANK — the ties-kept variant of W1/W3's row_number top-1
    (rank families differ exactly when ties exist; dense_rank keeps
    every tied row and doesn't skip ranks).

    Partitioned window (nation) → parallel by construction; the ranked
    frame is |suppliers|, filtered to ≤k·|ties| rows before the final
    order. The window orders by s_acctbal ONLY — a unique-key tiebreak
    would make ties impossible and collapse DENSE_RANK into ROW_NUMBER;
    tied rows all keep the same rank and are all emitted. Output order
    stays deterministic via the final ORDER BY (n_name, rk, s_suppkey)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"))
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("rk", F.dense_rank().over(w))
        .filter(F.col("rk") <= TOPK_DENSE_K)
        .select(
            "n_name",
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal"), 2).alias("acctbal"),
            "rk",
        )
        .orderBy("n_name", "rk", "s_suppkey")
    )


GROUPED_TOPK_DENSE_SQL = f"""
WITH ranked AS (
  SELECT n_name, s_suppkey, s_name,
         ROUND(s_acctbal, 2) AS acctbal,
         DENSE_RANK() OVER (PARTITION BY n_name
                            ORDER BY s_acctbal DESC) AS rk
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
SELECT n_name, s_suppkey, s_name, acctbal, rk
FROM ranked WHERE rk <= {TOPK_DENSE_K}
ORDER BY n_name, rk, s_suppkey
"""


# --------------------------------------------- referential integrity DQ

def referential_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ referential-integrity sweep: orphan counts for every FK edge of
    the star schema in one output frame (P18's bounds-check discipline
    applied to keys; the reference's validation blocks check values,
    this checks the join graph itself).

    Each edge is ONE scan of the child: a broadcast LEFT join against
    the parent's key column, reduced to count(*) + a conditional count
    of null parent keys (exactly the oracle's shape). All parents are
    dim-sized → broadcast joins; the fact scans stream map-side, no
    shuffle, and each child table is read once per edge (the earlier
    anti-join form scanned it twice — once for n_children, once for
    n_orphans). A NULL child key never matches, so it counts as an
    orphan on both sides. The edges union to a tiny constant-height
    frame — the shape of a DQ dashboard feed."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")
    e = load_table(spark, sf_dir, "events")

    def edge(name, child, key, parent, pkey):
        # No distinct on the parent keys: mirrors the oracle's plain
        # LEFT JOIN bit-for-bit, so a duplicated parent PK (itself an
        # integrity violation) inflates both sides identically instead
        # of silently diverging.
        joined = child.select(F.col(key).alias("_ck")).join(
            F.broadcast(parent.select(F.col(pkey).alias("_pk"))),
            F.col("_ck") == F.col("_pk"),
            "left",
        )
        return joined.agg(
            F.lit(name).alias("edge"),
            F.count(F.lit(1)).alias("n_children"),
            F.count(F.when(F.col("_pk").isNull(), 1)).alias("n_orphans"),
        )

    frames = [
        edge("orders->customer", o, "o_custkey", c, "c_custkey"),
        edge("lineitem->orders", l, "l_orderkey", o, "o_orderkey"),
        edge("lineitem->part", l, "l_partkey", p, "p_partkey"),
        edge("lineitem->supplier", l, "l_suppkey", s, "s_suppkey"),
        edge("customer->nation", c, "c_nationkey", n, "n_nationkey"),
        edge("supplier->nation", s, "s_nationkey", n, "n_nationkey"),
        edge("events->customer", e, "user_id", c, "c_custkey"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select("edge", "n_children", "n_orphans").orderBy("edge")


REFERENTIAL_ORPHAN_AUDIT_SQL = """
SELECT 'orders->customer' AS edge, COUNT(*) AS n_children,
       COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_orphans
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem->orders', COUNT(*),
       COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem->part', COUNT(*),
       COUNT(CASE WHEN p.p_partkey IS NULL THEN 1 END)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'lineitem->supplier', COUNT(*),
       COUNT(CASE WHEN s.s_suppkey IS NULL THEN 1 END)
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
UNION ALL
SELECT 'customer->nation', COUNT(*),
       COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'supplier->nation', COUNT(*),
       COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END)
FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
UNION ALL
SELECT 'events->customer', COUNT(*),
       COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END)
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
ORDER BY edge
"""


# ------------------------------------------- approx-distinct audit (HLL)

def approx_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier cardinality audit: HyperLogLog++ approx distinct vs
    the exact count per event_type, with the observed relative error.
    This is the 100 TB swap for every exact COUNT(DISTINCT) in the repo
    (mergeable constant-size state, no distinct shuffle) — surfaced as
    its own query so the sketch path is exercised and its error bound
    observable.

    Oracle design: the raw HLL estimate is engine-specific (DuckDB's
    sketch differs register-for-register from Spark's), so the OUTPUT
    carries only oracle-expressible columns — the exact distinct count
    (BIGINT), the row volume, and `estimate_within_5pct`, a BOOLEAN
    asserting |approx − exact| / exact ≤ 0.05. HLL++ is deterministic
    for a fixed input + rsd, so the flag is stable run-to-run; the
    DuckDB oracle emits the exact counts and literal TRUE, making the
    driver's hash compare a REAL adjudication of the sketch's error
    bound (observed rel error ≤ 0.004 at sf0.1 for rsd 0.02 — 5% is
    12× headroom, and a sketch regression that blew past it would
    flip the flag and fail the gate)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", 0.02).alias("_approx"),
        )
        .withColumn(
            "estimate_within_5pct",
            # Total function: a group whose user_ids are all NULL has
            # exact = 0 and the ratio would be NULL (never TRUE like
            # the oracle's literal); 0 is within tolerance of 0.
            F.when(
                F.col("exact_users") == 0, F.col("_approx") == 0
            ).otherwise(
                F.abs(F.col("_approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(0.05)
            ),
        )
        .select("event_type", "exact_users", "n_events", "estimate_within_5pct")
        .orderBy("event_type")
    )


APPROX_DISTINCT_AUDIT_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events,
       TRUE AS estimate_within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------- time-decayed feature aggregation

DECAY_HALF_LIFE_DAYS = 7
DECAY_HORIZON_DAYS = 365  # contributions older than this decay to 0
DECAY_TOP_N = 100

# Precomputed weight dim: days_old -> 2^(-days_old / half_life). Both
# engines join the SAME literal doubles (repr round-trips exactly), so no
# runtime pow/exp call can drift between libm implementations — and a
# broadcast weight dim is the right 100 TB shape anyway (decay becomes a
# map-side lookup, not a per-row transcendental).
DECAY_WEIGHTS: list[tuple[int, float]] = [
    (k, 2.0 ** (-k / DECAY_HALF_LIFE_DAYS))
    for k in range(DECAY_HORIZON_DAYS + 1)
]


def decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-user value — the recency-weighted
    engagement/spend feature every ranking or churn pipeline derives from
    an event log (half-life 7 days, anchored at the corpus max date so
    the result is reproducible, not wall-clock-dependent).

    Shape: 1-row max-date aggregate broadcast to every row (no driver
    collect), broadcast join to the literal weight dim, per-row double
    product, DECIMAL-accumulated per-user sum -> top-100 by the EXACT
    decimal sum (ranking never compares engine-rounded doubles). One
    data shuffle keyed on user_id; everything else is broadcast."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    anchor = e.agg(F.max(F.to_date("ts")).alias("anchor_d"))
    # VALUES literal, not createDataFrame(list): the latter ships the
    # rows through parallelize and plans as a Scan ExistingRDD; the
    # literal compiles to a LocalTableScan that broadcasts without any
    # driver RDD round-trip (same convention as the band dim;
    # tools/plan_lint.py flags the RDD form).
    wts = spark.sql(
        "SELECT CAST(days_old AS INT) days_old, CAST(w AS DOUBLE) w "
        f"FROM (VALUES {_DECAY_WTS_SQL}) AS t(days_old, w)"
    )
    per = (
        e.crossJoin(F.broadcast(anchor))
        .withColumn("days_old", F.datediff("anchor_d", F.to_date("ts")))
        .join(F.broadcast(wts), "days_old", "left")
        .withColumn("contrib", F.col("value") * F.coalesce("w", F.lit(0.0)))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("contrib").cast("decimal(28,12)")).alias("dsum"),
        )
    )
    return (
        per.orderBy(F.desc("dsum"), F.asc("user_id"))
        .limit(DECAY_TOP_N)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("dsum").cast("double"), 6).alias("decayed_value"),
        )
    )


_DECAY_WTS_SQL = ", ".join(f"({k}, {w!r})" for k, w in DECAY_WEIGHTS)

DECAYED_USER_VALUE_SQL = f"""
WITH anchor AS (
  SELECT MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS anchor_d FROM events
  WHERE value IS NOT NULL
),
wts AS (
  -- explicit DOUBLE: DuckDB parses bare decimal-point literals as
  -- DECIMAL; the cast makes both engines multiply the identical double
  SELECT days_old, CAST(w AS DOUBLE) AS w
  FROM (VALUES {_DECAY_WTS_SQL}) AS t(days_old, w)
),
per AS (
  SELECT e.user_id,
         COUNT(*) AS n_events,
         SUM(CAST(e.value * COALESCE(wts.w, 0.0) AS DECIMAL(28,12)))
           AS dsum
  FROM events e
  CROSS JOIN anchor
  LEFT JOIN wts
    ON date_diff('day', CAST(CAST(e.ts AS TIMESTAMP) AS DATE),
                 anchor.anchor_d) = wts.days_old
  WHERE e.value IS NOT NULL
  GROUP BY 1
)
SELECT user_id, n_events,
       ROUND(CAST(dsum AS DOUBLE), 6) AS decayed_value
FROM per
ORDER BY dsum DESC, user_id ASC
LIMIT {DECAY_TOP_N}
"""


# --------------------------------- incremental aggregate maintenance

INCR_AGG_CUTOFF = "2024-01-25"


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-(date, type)
    aggregate built from history BEFORE the cutoff, then brought current
    by merging the post-cutoff delta batch ADDITIVELY (counts and decimal
    sums combine; no rescan of history) — the incremental-refresh upgrade
    of the reference's drop-and-rebuild hourly loop (fact_gold_price.py
    169-196 rebuilds the whole window every run).

    The registry adjudicates the merged result against a single full
    GROUP BY oracle, proving base ⊕ delta == recompute exactly (decimal
    partials are associative, so the split point cannot matter). At
    100 TB the base aggregate is a stored table and only the delta
    shuffles — this query IS that plan with the base built inline."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.date_format("ts", "yyyyMMdd").cast("int").alias("date_id"),
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("v"),
            F.col("ts"),
        )
    )
    cutoff = F.lit(INCR_AGG_CUTOFF).cast("timestamp")

    def _agg(df):
        return df.groupBy("date_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    base = _agg(e.filter(F.col("ts") < cutoff))
    delta = _agg(e.filter(F.col("ts") >= cutoff))
    zero = F.lit(0).cast("decimal(28,6)")
    merged = (
        base.alias("b")
        .join(delta.alias("d"), ["date_id", "event_type"], "full_outer")
        .select(
            "date_id",
            "event_type",
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(F.col("b.s").cast("decimal(28,6)"), zero)
                + F.coalesce(F.col("d.s").cast("decimal(28,6)"), zero)
            ).alias("s"),
        )
    )
    return merged.select(
        "date_id",
        "event_type",
        "n_events",
        F.round(F.col("s").cast("double"), 6).alias("sum_value"),
    ).orderBy("date_id", "event_type")


INCREMENTAL_AGG_MAINTENANCE_SQL = """
SELECT CAST(strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS INT) AS date_id,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS sum_value
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
ORDER BY date_id, event_type
"""


# ------------------------------------------------------ unpivot (melt)

def events_daily_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: the wide BI export (`events_daily_pivot`) folded
    back to tidy long format with native `DataFrame.unpivot` — the
    wide->long half of the reshape pair (ingesting spreadsheet-shaped
    data into a fact table is exactly this operator). Catalyst expands
    unpivot row-locally (an Expand node, no shuffle beyond the pivot's
    own aggregate), and the composition proves the reshape pair is
    lossless: the oracle is a direct GROUP BY that never went wide."""
    wide = events_daily_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["date_id"],
            values=list(EVENT_TYPES),
            variableColumnName="event_type",
            valueColumnName="n_events",
        )
        .filter(F.col("n_events") > 0)
        .orderBy("date_id", "event_type")
    )


EVENTS_DAILY_UNPIVOT_SQL = """
SELECT CAST(strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS INT) AS date_id,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY date_id, event_type
"""


# ----------------------------------------- chi-square independence test

def event_dow_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen: is each event type's volume
    independent of day-of-week? The classic contingency-table drift test
    a warehouse validation layer runs over behavioral facts (V-family
    extension; the reference's validation stops at null/count checks,
    dag_validation.py).

    Day-of-week is normalized to 0=Sunday on both engines (Spark
    dayofweek() is 1-based, DuckDB strftime %w is 0-based). Expected
    counts come from broadcast row/column/grand totals — three 1-row or
    tiny-key broadcast joins against the 35-cell contingency frame, so
    nothing here adds a data-volume shuffle beyond the first count. Cell
    contributions ((o-e)^2/e, IEEE-deterministic from integer counts)
    accumulate per type in DECIMAL — order-independent, engine-exact."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.dayofweek("ts") - F.lit(1)).alias("dow")
    )
    cells = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("o")
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    col_tot = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    grand = cells.agg(F.sum("o").alias("gt"))
    exp = F.col("rt").cast("double") * F.col("ct") / F.col("gt")
    contrib = (F.col("o") - exp) * (F.col("o") - exp) / exp
    return (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .crossJoin(F.broadcast(grand))
        .withColumn("contrib", contrib.cast("decimal(28,12)"))
        .groupBy("event_type")
        .agg(
            F.sum("o").alias("n_events"),
            F.count(F.lit(1)).alias("n_dows"),
            F.round(F.sum("contrib").cast("double"), 6).alias("chi2"),
        )
        .withColumn("dof", F.col("n_dows") - F.lit(1))
        .select("event_type", "n_events", "dof", "chi2")
        .orderBy("event_type")
    )


EVENT_DOW_CHISQUARE_SQL = """
WITH cells AS (
  SELECT event_type,
         CAST(strftime(CAST(ts AS TIMESTAMP), '%w') AS INT) AS dow,
         COUNT(*) AS o
  FROM events
  GROUP BY 1, 2
),
rt AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
ct AS (SELECT dow, SUM(o) AS ct FROM cells GROUP BY 1),
gt AS (SELECT SUM(o) AS gt FROM cells),
scored AS (
  SELECT c.event_type, c.o,
         CAST((c.o - CAST(rt.rt AS DOUBLE) * ct.ct / gt.gt)
              * (c.o - CAST(rt.rt AS DOUBLE) * ct.ct / gt.gt)
              / (CAST(rt.rt AS DOUBLE) * ct.ct / gt.gt)
           AS DECIMAL(28,12)) AS contrib
  FROM cells c
  JOIN rt USING (event_type)
  JOIN ct USING (dow)
  CROSS JOIN gt
)
SELECT event_type,
       CAST(SUM(o) AS BIGINT) AS n_events,
       COUNT(*) - 1 AS dof,
       ROUND(CAST(SUM(contrib) AS DOUBLE), 6) AS chi2
FROM scored
GROUP BY 1
ORDER BY event_type
"""


# ------------------------------------------ PSI distribution drift

PSI_SPLIT_TS = "2024-01-16"
PSI_BINS = 10


def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: per event type, bin the
    reference period's `value` distribution (before {split}) into 10
    equal-width bins over the reference [min, max], score the current
    period (after {split}) against it, PSI = Σ (p−q)·ln(p/q) with
    Laplace smoothing so empty bins stay finite. The standard
    model-monitoring metric for input drift, here over warehouse facts.

    Equal-width bins anchored on exact MIN/MAX (never percentile
    interpolation) keep the bin edges bit-identical across engines; bin
    ids are floor((v−lo)/width) — IEEE-deterministic. Shape: one pass
    over the fact to (type, period, bin) counts, then broadcast joins of
    the tiny per-type extrema/totals; PSI terms accumulate in DECIMAL."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            (F.col("ts") < F.lit(PSI_SPLIT_TS).cast("timestamp")).alias(
                "is_ref"
            ),
        )
    )
    ext = (
        e.filter("is_ref")
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    binned = (
        e.join(F.broadcast(ext), "event_type")
        .withColumn(
            "bin",
            # Degenerate-reference guard: if a type's reference values
            # are all equal (hi = lo) the bin width is 0 and the
            # engines diverge (Spark Divide -> NULL, DuckDB IEEE ->
            # inf, whose FLOOR/CAST errors) — pin everything to bin 0
            # with the SAME CASE on both engines.
            F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(PSI_BINS - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (F.col("value") - F.col("lo"))
                            / ((F.col("hi") - F.col("lo")) / PSI_BINS)
                        ).cast("int"),
                    ),
                )
            ),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = binned.groupBy("event_type").agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    # Laplace smoothing: (n + 0.5) / (N + bins/2) keeps empty bins finite
    # and sums to 1 exactly when every bin is present.
    q = (F.col("n_ref") + F.lit(0.5)) / (F.col("tr") + F.lit(PSI_BINS * 0.5))
    p = (F.col("n_cur") + F.lit(0.5)) / (F.col("tc") + F.lit(PSI_BINS * 0.5))
    term = (p - q) * F.log(p / q)
    return (
        binned.join(F.broadcast(tot), "event_type")
        .withColumn("term", term.cast("decimal(28,12)"))
        .groupBy("event_type")
        .agg(
            F.sum("n_ref").alias("n_ref"),
            F.sum("n_cur").alias("n_cur"),
            F.round(F.sum("term").cast("double"), 6).alias("psi"),
        )
        .orderBy("event_type")
    )


VALUE_DRIFT_PSI_SQL = f"""
WITH e AS (
  SELECT event_type, value,
         CAST(ts AS TIMESTAMP) < TIMESTAMP '{PSI_SPLIT_TS}' AS is_ref
  FROM events WHERE value IS NOT NULL
),
ext AS (
  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
  FROM e WHERE is_ref GROUP BY 1
),
binned AS (
  SELECT e.event_type,
         CASE WHEN ext.hi = ext.lo THEN 0
              ELSE LEAST({PSI_BINS - 1},
                         GREATEST(0, CAST(FLOOR((e.value - ext.lo)
                                                / ((ext.hi - ext.lo)
                                                   / {PSI_BINS}))
                                          AS INT)))
         END AS bin,
         SUM(CASE WHEN e.is_ref THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN e.is_ref THEN 0 ELSE 1 END) AS n_cur
  FROM e JOIN ext USING (event_type)
  GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(n_ref) AS tr, SUM(n_cur) AS tc
  FROM binned GROUP BY 1
),
scored AS (
  SELECT b.event_type, b.n_ref, b.n_cur,
         CAST(((b.n_cur + 0.5) / (t.tc + {PSI_BINS * 0.5})
               - (b.n_ref + 0.5) / (t.tr + {PSI_BINS * 0.5}))
              * ln(((b.n_cur + 0.5) / (t.tc + {PSI_BINS * 0.5}))
                   / ((b.n_ref + 0.5) / (t.tr + {PSI_BINS * 0.5})))
           AS DECIMAL(28,12)) AS term
  FROM binned b JOIN tot t USING (event_type)
)
SELECT event_type,
       CAST(SUM(n_ref) AS BIGINT) AS n_ref,
       CAST(SUM(n_cur) AS BIGINT) AS n_cur,
       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
FROM scored
GROUP BY 1
ORDER BY event_type
"""


# ------------------------------------- blocked fuzzy entity matching

FUZZY_MAX_EDIT = 1


def customer_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate generation: near-identical customer
    names (edit distance <= 1) BLOCKED by nation — the standard fuzzy
    dedup shape for dimension tables (block on a cheap exact key, run
    the expensive distance only within blocks; an unblocked fuzzy join
    is corpus², a blocked one is Σ block²). Rolled up to per-nation
    candidate-pair counts with the lexicographically first pair kept as
    the audit sample.

    Candidate generation is FastSS deletion-neighborhood blocking
    (Bocek et al. 2007), not a block² self-join: every name emits its
    delete-1 variants (self + one char deleted per position, hashed to a
    64-bit key), candidates are the equi-join on (nation, variant hash),
    and the exact levenshtein verifies survivors. Two names within edit
    distance 1 ALWAYS share a variant (equal: self; substitution: the
    delete-at-i variants; insert/delete: the deletion variant equals the
    shorter self), so recall is exact; the handful of false candidates
    (shared variant, distance 2) die in the verify. Cost is rows ×
    (len+1) variant emissions and bucket-bounded join output — linear in
    corpus, never Σ block² — and a hot variant bucket salts exactly like
    any hot join key. The oracle is the naive quadratic pair join, so
    the differential gate also proves the blocking loses no pair."""
    return _customer_fuzzy_rollup(spark, sf_dir, FUZZY_MAX_EDIT)


def customer_fuzzy_match_edit2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The edit-distance-2 tier of `customer_fuzzy_match`: candidates
    come from the delete-≤2 neighborhood equi-join
    (operators/fuzzy.py:deletek_variants — exact recall at ed ≤ 2, see
    the recall argument there), never a within-block quadratic join.
    The oracle stays the naive
    blocked quadratic pair join at distance 2, so the differential gate
    proves delete-2 blocking loses no pair on real keys."""
    return _customer_fuzzy_rollup(spark, sf_dir, 2)


def _customer_fuzzy_rollup(
    spark: SparkSession, sf_dir: str, max_edit: int
) -> DataFrame:
    from myserver_datawarehouse_spark.operators.fuzzy import fuzzy_pairs

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), "c_custkey", "c_name"
    )
    pairs = fuzzy_pairs(
        c,
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["nationkey"],
        max_edit=max_edit,
    )
    # Audit sample: min over "name_a|name_b" — names are fixed-width, so
    # the concat's lexicographic order equals the (name_a, name_b) order
    # and the same expression runs on both engines.
    return (
        pairs.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.concat_ws("|", "name_a", "name_b")).alias("fp"),
        )
        .select(
            "nationkey",
            "n_pairs",
            F.substring_index("fp", "|", 1).alias("sample_a"),
            F.substring_index("fp", "|", -1).alias("sample_b"),
        )
        .orderBy("nationkey")
    )


def _customer_fuzzy_sql(max_edit: int) -> str:
    # Oracle: the naive blocked quadratic pair join — deliberately NOT
    # the blocking construction, so a green hash proves exact recall.
    return f"""
WITH pairs AS (
  SELECT a.c_nationkey AS nationkey, a.c_name AS name_a, b.c_name AS name_b
  FROM customer a
  JOIN customer b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= {max_edit}
)
SELECT nationkey,
       COUNT(*) AS n_pairs,
       string_split(MIN(name_a || '|' || name_b), '|')[1] AS sample_a,
       string_split(MIN(name_a || '|' || name_b), '|')[2] AS sample_b
FROM pairs
GROUP BY 1
ORDER BY nationkey
"""


CUSTOMER_FUZZY_MATCH_SQL = _customer_fuzzy_sql(FUZZY_MAX_EDIT)
CUSTOMER_FUZZY_MATCH_EDIT2_SQL = _customer_fuzzy_sql(2)


# ------------------------------------- Q5-shape local supplier volume

Q5_DATE_LO = "1996-01-01"
Q5_DATE_HI = "1997-01-01"


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders where the customer and the
    supplier sit in the SAME nation, per nation, one order-year window —
    the 6-way join (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈
    region omitted: region is 1:N of nation and adds nothing on this
    schema) whose interesting property is the TWO paths to the nation
    key and the co-nation equality closing the cycle.

    Join strategy: nation is the only FIXED-size dim (25 rows) and the
    only forced broadcast. customer (150k×SF) and supplier (10k×SF)
    GROW with scale — like part in the Q9 note — so they get no
    broadcast hint: at bench SF AQE demotes both joins to broadcast
    from observed sizes, and at 100 TB they correctly become shuffle
    hash joins instead of OOMing the driver. The dominating shuffle
    remains lineitem ⋈ orders on orderkey, with the o_orderdate filter
    pushed into the orders scan shrinking that side first; the
    co-nation predicate evaluates row-local after the key joins.
    Revenue accumulates as DECIMAL of l_extendedprice*(1-l_discount)
    (exact: both factors are parquet doubles, the product is one IEEE
    op, the cast one rounding)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_DATE_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_DATE_HI).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _disc_price(1.0)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(dec_sum(rev, "decimal(28,6)"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


LOCAL_SUPPLIER_VOLUME_SQL = f"""
SELECT n.n_name,
       ROUND(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '{Q5_DATE_LO}'
  AND o.o_orderdate <  TIMESTAMP '{Q5_DATE_HI}'
  AND c.c_nationkey = s.s_nationkey
GROUP BY 1
ORDER BY revenue DESC, n_name ASC
"""


# --------------------------------------- product margin (Q9 shape)

MARGIN_TOP_BRANDS = 3


def part_brand_margin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product profitability: lineitem ⋈ part, margin =
    discounted revenue − retail-price cost, rolled up per (p_type,
    p_brand), keeping the top-3 brands per type by EXACT decimal revenue
    (ties impossible to mis-order: the ranking never compares rounded
    doubles, and brand breaks residual ties).

    Join note for 100 TB: `part` is NOT a broadcastable dim at scale
    (it grows with the corpus, ~200k rows per TPC-H SF), so the join is
    left keyed on l_partkey/p_partkey for a shuffle hash join — AQE may
    still demote to broadcast at small SF, which is correct there too.
    Both sides prune to the named columns; the rollup is map-side
    partial; the per-type window ranks |type × brand| aggregated rows,
    never lineitems."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_type", "p_brand", "p_retailprice"
    )
    rev = _disc_price(1.0)
    cost = F.col("p_retailprice") * F.col("l_quantity")
    per = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(
            F.sum(rev.cast("decimal(28,6)")).alias("rev_d"),
            F.sum(cost.cast("decimal(28,6)")).alias("cost_d"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )
    w = Window.partitionBy("p_type").orderBy(
        F.desc("rev_d"), F.asc("p_brand")
    )
    return (
        per.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MARGIN_TOP_BRANDS)
        .select(
            "p_type",
            "rk",
            "p_brand",
            F.round(F.col("rev_d").cast("double"), 2).alias("revenue"),
            F.round(
                (F.col("rev_d") - F.col("cost_d")).cast("double"), 2
            ).alias("margin"),
            "n_lineitems",
        )
        .orderBy("p_type", "rk")
    )


PART_BRAND_MARGIN_TOPK_SQL = f"""
WITH per AS (
  SELECT p.p_type, p.p_brand,
         SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                  AS DECIMAL(28,6))) AS rev_d,
         SUM(CAST(p.p_retailprice * l.l_quantity
                  AS DECIMAL(28,6))) AS cost_d,
         COUNT(*) AS n_lineitems
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_type
                               ORDER BY rev_d DESC, p_brand ASC) AS rk
  FROM per
)
SELECT p_type, rk, p_brand,
       ROUND(CAST(rev_d AS DOUBLE), 2) AS revenue,
       ROUND(CAST(rev_d - cost_d AS DOUBLE), 2) AS margin,
       n_lineitems
FROM ranked
WHERE rk <= {MARGIN_TOP_BRANDS}
ORDER BY p_type, rk
"""


# --------------------------------- time-RANGE window frame (irregular)

RANGE_WINDOW_SECONDS = 600


def trailing_range_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window over the IRREGULAR event stream: for each
    event, the count/sum of the same type's events in the trailing 10
    minutes — a RANGE frame keyed on event-time seconds, not a ROWS
    frame over a regular grid (rolling_minute_avg covers that form).
    This is the sliding-window feature shape (fraud velocity checks,
    rate features) where row position is meaningless because arrivals
    are irregular.

    One shuffle on event_type + one sort; frame membership is resolved
    by the ordered range scan inside WindowExec. The sum accumulates
    DECIMAL; output keeps only every 100th event (deterministic id
    gate) so the adjudicated surface stays small while the window runs
    over everything.
    """
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "ts",
            F.unix_timestamp("ts").alias("epoch_s"),
            F.col("value").cast("decimal(18,6)").alias("vi"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("epoch_s")
        .rangeBetween(-RANGE_WINDOW_SECONDS, 0)
    )
    scored = e.select(
        "event_id",
        "event_type",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_in_10m"),
        F.round(F.sum("vi").over(w).cast("double"), 6).alias("sum_10m"),
    )
    return (
        scored.filter(F.col("event_id") % 100 == 0)
        .orderBy("event_id")
    )


TRAILING_RANGE_WINDOW_SUM_SQL = f"""
WITH e AS (
  SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         -- floor, not round: Spark's unix_timestamp() truncates to the
         -- second; a bare ::BIGINT cast of DuckDB's fractional epoch()
         -- would ROUND and flip frame membership at the 600s boundary
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_s,
         CAST(value AS DECIMAL(18,6)) AS vi
  FROM events WHERE value IS NOT NULL
),
scored AS (
  SELECT event_id, event_type, ts,
         COUNT(*) OVER w AS n_in_10m,
         ROUND(CAST(SUM(vi) OVER w AS DOUBLE), 6) AS sum_10m
  FROM e
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_s
               RANGE BETWEEN {RANGE_WINDOW_SECONDS} PRECEDING
                         AND CURRENT ROW)
)
SELECT event_id, event_type, ts, n_in_10m, sum_10m
FROM scored
WHERE event_id % 100 = 0
ORDER BY event_id
"""


# --------------------------------------- explicit GROUPING SETS (SQL)

def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general primitive CUBE/ROLLUP are
    sugar for — through the engine's SQL entry path (every other
    registry query uses the DataFrame API; this one exercises
    spark.sql() + temp view to show both surfaces compile to the same
    Expand plan): per-type totals, per-day totals, and the grand total
    in ONE pass, with GROUPING() flags making the NULL grouping keys
    unambiguous.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_gs_v"
    )
    # Grouped-out keys surface as NULL from the Expand; COALESCE them to
    # typed sentinels so integer columns stay integers through the
    # arrow/pandas fetch (the GROUPING() flags keep semantics exact —
    # the sentinel can never be mistaken for a real key).
    return spark.sql(
        """
        SELECT COALESCE(event_type, '(all)') AS event_type,
               COALESCE(CAST(date_format(ts, 'yyyyMMdd') AS INT), 0)
                 AS date_id,
               GROUPING(event_type) AS g_type,
               GROUPING(CAST(date_format(ts, 'yyyyMMdd') AS INT)) AS g_date,
               COUNT(*) AS n_events
        FROM events_gs_v
        GROUP BY GROUPING SETS (
            (event_type),
            (CAST(date_format(ts, 'yyyyMMdd') AS INT)),
            ()
        )
        ORDER BY g_type, g_date, event_type, date_id
        """
    )


EVENTS_GROUPING_SETS_SQL = """
SELECT COALESCE(event_type, '(all)') AS event_type,
       COALESCE(CAST(strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS INT), 0)
         AS date_id,
       GROUPING(event_type) AS g_type,
       GROUPING(CAST(strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS INT))
         AS g_date,
       COUNT(*) AS n_events
FROM events
GROUP BY GROUPING SETS (
    (event_type),
    (CAST(strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS INT)),
    ()
)
ORDER BY g_type, g_date, event_type, date_id
"""


# ----------------- correlated-subquery shapes (TPC-H Q17/Q18/Q22)

def below_avg_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape generalized to every brand: revenue carried by
    lineitems whose quantity is below 20% of that PART's average
    quantity — the canonical CORRELATED SCALAR SUBQUERY, decorrelated
    the way Catalyst (and any planner) wants it: a per-partkey
    aggregate joined back on the correlation key instead of a per-row
    subquery execution.

    Exactness: the 0.2×avg threshold is never computed as a double
    division — `qty < 0.2 × (sum/cnt)` is rewritten to the
    DECIMAL-exact `5 × qty × cnt < sum`, so no engine-dependent ulp on
    the boundary can flip a row (the same integer-arithmetic gate
    policy as quality_percentile_filter). Scale: the per-part agg and
    its join are BOTH keyed on partkey (one shuffle family, AQE
    coalesced); part is a growing dim -> no broadcast hint, same
    policy as the Q9 note."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    per_part = l.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_q"),
        F.count(F.lit(1)).alias("cnt_q"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    small = (
        l.join(per_part, "l_partkey")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            F.col("l_quantity").cast("decimal(18,2)")
            * F.lit(5)
            * F.col("cnt_q")
            < F.col("sum_q")
        )
    )
    return (
        small.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lineitems"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast(
                    "double"
                ),
                2,
            ).alias("small_revenue"),
        )
        .orderBy("p_brand")
    )


BELOW_AVG_QUANTITY_REVENUE_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_q,
         COUNT(*) AS cnt_q
  FROM lineitem GROUP BY 1
)
SELECT p.p_brand,
       COUNT(*) AS n_small_lineitems,
       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE),
             2) AS small_revenue
FROM lineitem l
JOIN per_part pp ON l.l_partkey = pp.l_partkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pp.cnt_q < pp.sum_q
GROUP BY 1
ORDER BY p.p_brand
"""


TOP_VOLUME_QTY_FLOOR = 150
TOP_VOLUME_LIMIT = 100


def top_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity clears a
    floor (the HAVING-subquery semi-join), joined back to orders and
    customer, top-100 by exact decimal volume. The aggregate runs
    FIRST (map-side partial on l_orderkey), the floor prunes before
    any join touches the wide tables, and the final sort is a bounded
    TakeOrderedAndProject (never a global sort). customer/orders grow
    with SF -> no broadcast hints, AQE decides at small SF. Ranking
    compares the exact DECIMAL sum with o_orderkey as tiebreak; the
    rounded double is output-edge only."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        l.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_q_d")
        )
        .filter(F.col("sum_q_d") > TOP_VOLUME_QTY_FLOOR)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("sum_q_d"), F.asc("o_orderkey"))
        .limit(TOP_VOLUME_LIMIT)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("sum_q_d").cast("double"), 2).alias("sum_qty"),
        )
    )


TOP_VOLUME_ORDERS_SQL = f"""
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_q_d
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {TOP_VOLUME_QTY_FLOOR}
)
SELECT c.c_name, o.o_orderkey, o.o_orderdate,
       ROUND(CAST(b.sum_q_d AS DOUBLE), 2) AS sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY b.sum_q_d DESC, o.o_orderkey ASC
LIMIT {TOP_VOLUME_LIMIT}
"""


def idle_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape on this schema: customers with an
    above-average positive account balance who have NEVER placed an
    order, rolled up per market segment — global scalar subquery
    (avg balance) + NOT EXISTS anti-join + aggregate.

    The scalar threshold is a 1-row decimal aggregate broadcast to
    every row (no driver collect), and the avg comparison is the
    division-free DECIMAL gate `bal × cnt > sum`. The anti-join
    shuffles customer and the pruned orders keyset on custkey — the
    correct 100 TB shape (orders >> customer; never broadcast the big
    side of a NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    pos = c.filter(F.col("c_acctbal") > 0)
    stats = pos.agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("sum_b"),
        F.count(F.lit(1)).alias("cnt_b"),
    )
    rich = c.crossJoin(F.broadcast(stats)).filter(
        F.col("c_acctbal").cast("decimal(18,2)") * F.col("cnt_b")
        > F.col("sum_b")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    idle = rich.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


IDLE_BALANCE_AUDIT_SQL = """
WITH stats AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_b, COUNT(*) AS cnt_b
  FROM customer WHERE c_acctbal > 0
),
rich AS (
  SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
  FROM customer c, stats s
  WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * s.cnt_b > s.sum_b
),
idle AS (
  SELECT r.* FROM rich r
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey)
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_balance
FROM idle
GROUP BY 1
ORDER BY c_mktsegment
"""


# ----------- TPC-H Q4/Q7/Q8/Q12/Q13/Q14/Q19/Q11 shapes

Q4_DATE_LO = "1996-07-01"
Q4_DATE_HI = "1996-10-01"


def order_priority_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in one quarter that had at least one
    RETURNED lineitem, counted per priority — the canonical EXISTS
    subquery, planned as a LEFT SEMI join so each order matches at most
    once no matter how many lineitems qualify (a plain inner join +
    distinct would shuffle the duplicates first; the semi join never
    materializes them).

    Scale: the o_orderdate window prunes orders at the scan; the
    returned-flag filter prunes lineitem at the scan; the semi join
    shuffles only the two pruned keysets on orderkey. The final rollup
    is 5 rows."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(Q4_DATE_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(Q4_DATE_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_AUDIT_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{Q4_DATE_LO}'
  AND o.o_orderdate <  TIMESTAMP '{Q4_DATE_HI}'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY 1
ORDER BY o_orderpriority
"""


TRADE_DATE_LO = "1996-01-01"
TRADE_DATE_HI = "1998-01-01"


def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border revenue per (supplier nation,
    customer nation, ship year) — the join graph reaches nation along
    TWO independent paths (lineitem→supplier and lineitem→orders→
    customer), so the 25-row dim is broadcast twice under different
    aliases and the cross-border predicate compares the two resolved
    names row-local.

    Scale: the ship-date window prunes lineitem at the scan; the only
    big shuffle is lineitem ⋈ orders on orderkey (customer and
    supplier are keyed shuffles that AQE may demote to broadcast at
    small SF); output is bounded by 25 x 24 x years."""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(TRADE_DATE_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(TRADE_DATE_HI).cast("timestamp"))
        )
        .select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
            F.year("l_shipdate").alias("ship_year"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n_s = F.broadcast(n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ))
    n_c = F.broadcast(n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ))
    rev = _disc_price(1.0)
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n_s, F.col("s_nationkey") == F.col("sn_key"))
        .join(n_c, F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(
            # Round in exact DECIMAL, then cast: ROUND(double, 2) differs
            # between engines when the exact cents sit on a half (x.xx5).
            F.round(F.sum(rev.cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


NATION_TRADE_FLOWS_SQL = f"""
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '{TRADE_DATE_LO}'
  AND l.l_shipdate <  TIMESTAMP '{TRADE_DATE_HI}'
  AND ns.n_name <> nc.n_name
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, ship_year
"""


MKT_REGION = "ASIA"
MKT_NATION = "NATION_12"
MKT_PART_TYPE = "PROMO"
MKT_DATE_LO = "1996-01-01"
MKT_DATE_HI = "1998-01-01"


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's market share, per order
    year, of PROMO-type part revenue sold to customers in one region —
    a conditional-aggregate ratio over a 7-table join (region joins in
    through the customer's nation; the supplier's nation only labels
    the numerator).

    Exactness: numerator and denominator are both exact DECIMAL sums;
    the single division happens once per output row (one per year) in
    double, after CASTs that are identical on both engines, so the
    quotient is bit-reproducible. Scale: part-type and region filters
    prune their dims before any fact shuffle; nation/region broadcast;
    the supplier-name CASE rides the row, adding no join."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == MKT_PART_TYPE)
        .select("p_partkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(MKT_DATE_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(MKT_DATE_HI).cast("timestamp"))
        )
        .select(
            "o_orderkey", "o_custkey",
            F.year("o_orderdate").alias("order_year"),
        )
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == MKT_REGION
    )
    region_nations = F.broadcast(
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey")).select(
            F.col("n_nationkey").alias("rn_key")
        )
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    supp_nation = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    rev = _disc_price(1.0).cast("decimal(28,6)")
    joined = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(region_nations, F.col("c_nationkey") == F.col("rn_key"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(supp_nation, F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        joined.groupBy("order_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == MKT_NATION, rev).otherwise(
                    F.lit(0).cast("decimal(28,6)")
                )
            ).alias("num_d"),
            F.sum(rev).alias("den_d"),
        )
        .select(
            "order_year",
            F.round(
                F.col("num_d").cast("double") / F.col("den_d").cast("double"),
                6,
            ).alias("mkt_share"),
            F.round(F.col("den_d"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("order_year")
    )


NATION_MARKET_SHARE_SQL = f"""
WITH flows AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
         CAST(l.l_extendedprice * (1.0 - l.l_discount)
              AS DECIMAL(28,6)) AS rev,
         ns.n_name AS supp_nation
  FROM lineitem l
  JOIN part p     ON l.l_partkey = p.p_partkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation ncn ON c.c_nationkey = ncn.n_nationkey
  JOIN region r   ON ncn.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
  WHERE p.p_type = '{MKT_PART_TYPE}'
    AND r.r_name = '{MKT_REGION}'
    AND o.o_orderdate >= TIMESTAMP '{MKT_DATE_LO}'
    AND o.o_orderdate <  TIMESTAMP '{MKT_DATE_HI}'
)
SELECT order_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = '{MKT_NATION}'
                           THEN rev ELSE CAST(0 AS DECIMAL(28,6)) END)
                  AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share,
       CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS total_revenue
FROM flows
GROUP BY 1
ORDER BY order_year
"""


LATE_SHIP_DAYS = 90
LATE_DATE_LO = "1997-01-01"
LATE_DATE_HI = "1998-01-01"


def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape on this schema (no l_shipmode column): lineitems
    shipped >= 90 days after their order date during one year, rolled
    up per linestatus into high- vs low-priority order counts — the
    join-then-conditional-aggregate pattern where the interesting
    predicate (ship lag) spans BOTH join sides and can only evaluate
    post-join, while each side's date window still pushes to its scan.

    The lag predicate is timestamp + INTERVAL arithmetic (exact day
    semantics on both engines, no epoch math); the CASE counts are 0/1
    sums (A4 family)."""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(LATE_DATE_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(LATE_DATE_HI).cast("timestamp"))
        )
        .select("l_orderkey", "l_linestatus", "l_shipdate")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_SHIP_DAYS} DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


LATE_SHIPMENT_PRIORITY_SQL = f"""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '{LATE_DATE_LO}'
  AND l.l_shipdate <  TIMESTAMP '{LATE_DATE_HI}'
  AND l.l_shipdate >= o.o_orderdate + INTERVAL {LATE_SHIP_DAYS} DAY
GROUP BY 1
ORDER BY l_linestatus
"""


DIST_EXCLUDED_PRIORITY = "4-NOT SPECIFIED"


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts,
    INCLUDING zero-order customers — a LEFT OUTER join whose filter
    lives in the ON clause (filtering o_orderpriority in a WHERE would
    silently delete the zero bucket), then two stacked aggregations:
    count-per-customer, then histogram-of-counts.

    Scale: the first groupBy is keyed on c_custkey (same key as the
    join — one shuffle family); the second aggregates |customers| rows
    down to the handful of distinct counts. COUNT(o_orderkey) counts
    matched rows only (NULL-skipping), which is what makes the left
    join's unmatched rows land in bucket 0."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    joined = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != DIST_EXCLUDED_PRIORITY),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = f"""
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '{DIST_EXCLUDED_PRIORITY}'
  GROUP BY 1
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""


PROMO_DATE_LO = "1997-01-01"
PROMO_DATE_HI = "1997-04-01"


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the percentage of one quarter's revenue carried
    by PROMO-type parts — a conditional-aggregate ratio collapsing to a
    single row.

    Both sums are exact DECIMAL; the one division runs in double on the
    final 1-row result (bit-reproducible across engines, same policy as
    nation_market_share). Scale: the date window prunes lineitem at the
    scan; part joins keyed on partkey (growing dim, no broadcast hint —
    the Q9 note); the aggregate is map-side partial down to one row."""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(PROMO_DATE_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(PROMO_DATE_HI).cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _disc_price(1.0).cast("decimal(28,6)")
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == MKT_PART_TYPE, rev).otherwise(
                    F.lit(0).cast("decimal(28,6)")
                )
            ).alias("promo_d"),
            F.sum(rev).alias("total_d"),
        )
        .select(
            F.round(
                F.lit(100.0)
                * F.col("promo_d").cast("double")
                / F.col("total_d").cast("double"),
                4,
            ).alias("promo_share_pct"),
            F.round(F.col("promo_d"), 2).cast("double").alias("promo_revenue"),
            F.round(F.col("total_d"), 2).cast("double").alias("total_revenue"),
        )
    )


PROMO_REVENUE_SHARE_SQL = f"""
WITH q AS (
  SELECT CAST(l.l_extendedprice * (1.0 - l.l_discount)
              AS DECIMAL(28,6)) AS rev,
         p.p_type
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '{PROMO_DATE_LO}'
    AND l.l_shipdate <  TIMESTAMP '{PROMO_DATE_HI}'
)
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = '{MKT_PART_TYPE}'
                                   THEN rev
                                   ELSE CAST(0 AS DECIMAL(28,6)) END)
                          AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 4) AS promo_share_pct,
       CAST(ROUND(SUM(CASE WHEN p_type = '{MKT_PART_TYPE}'
                           THEN rev
                           ELSE CAST(0 AS DECIMAL(28,6)) END),
                  2) AS DOUBLE) AS promo_revenue,
       CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS total_revenue
FROM q
"""


# (brand, size_lo, size_hi, qty_lo, qty_hi) disjunctive branches.
DISJ_BRANCHES = (
    ("Brand#1", 1, 15, 1, 20),
    ("Brand#2", 10, 30, 10, 30),
    ("Brand#3", 20, 50, 20, 40),
)


def brand_size_disjunctive_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 shape: revenue from an OR-of-ANDs predicate mixing
    part-side (brand, size) and lineitem-side (quantity) conjuncts —
    the disjunctive-pushdown stress test. Catalyst's CNF conversion
    extracts the per-side residuals (p_brand IN (...) to the part
    scan, the quantity envelope to the lineitem side) while the full
    disjunction evaluates post-join; the join key stays a plain
    partkey equi-join, never a cartesian.

    Grouped per brand so each branch's contribution is separately
    hash-checked."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    cond = None
    for brand, slo, shi, qlo, qhi in DISJ_BRANCHES:
        branch = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        cond = branch if cond is None else (cond | branch)
    rev = _disc_price(1.0)
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(rev.cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("p_brand")
    )


_DISJ_SQL_BRANCHES = " OR ".join(
    f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi}"
    f" AND l.l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in DISJ_BRANCHES
)

BRAND_SIZE_DISJUNCTIVE_REVENUE_SQL = f"""
SELECT p.p_brand,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE {_DISJ_SQL_BRANCHES}
GROUP BY 1
ORDER BY p_brand
"""


CONCENTRATION_FRACTION = 0.042


def brand_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11 shape without partsupp: brands whose revenue exceeds a
    fixed fraction of GLOBAL revenue — GROUP BY ... HAVING against a
    scalar subquery over the whole fact. The global total is a 1-row
    decimal aggregate broadcast to the per-brand rows (no driver
    collect, no global window), the same pattern as idle_balance_audit.

    The threshold compare runs in double on both engines from IDENTICAL
    exact decimal inputs, so it is bit-reproducible; it is not an
    ulp-safe decimal gate only because fraction-of-total is inherently
    a ratio — the compared doubles are still deterministic."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = _disc_price(1.0).cast("decimal(28,6)")
    per_brand = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.sum(rev).alias("rev_d"), F.count(F.lit(1)).alias("n_lineitems"))
    )
    total = per_brand.agg(F.sum("rev_d").alias("total_d"))
    return (
        per_brand.crossJoin(F.broadcast(total))
        .filter(
            F.col("rev_d").cast("double")
            > F.col("total_d").cast("double") * F.lit(CONCENTRATION_FRACTION)
        )
        .select(
            "p_brand",
            F.round(F.col("rev_d"), 2).cast("double").alias("revenue"),
            "n_lineitems",
        )
        .orderBy("p_brand")
    )


BRAND_REVENUE_CONCENTRATION_SQL = f"""
WITH per_brand AS (
  SELECT p.p_brand,
         SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                  AS DECIMAL(28,6))) AS rev_d,
         COUNT(*) AS n_lineitems
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
),
total AS (SELECT SUM(rev_d) AS total_d FROM per_brand)
SELECT pb.p_brand,
       CAST(ROUND(pb.rev_d, 2) AS DOUBLE) AS revenue,
       pb.n_lineitems
FROM per_brand pb, total t
WHERE CAST(pb.rev_d AS DOUBLE)
      > CAST(t.total_d AS DOUBLE) * {CONCENTRATION_FRACTION}
ORDER BY p_brand
"""


SOLE_RETURNER_LIMIT = 20


def sole_returner_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape on this schema (no commit/receipt dates — the
    "kept waiting" predicate becomes the returned flag): suppliers who
    were the ONLY supplier with returned lines in a multi-supplier
    order. The reference form is a correlated EXISTS (another supplier
    in the order) AND NOT EXISTS (another supplier who also returned);
    both decorrelate into per-order aggregation — distinct supplier
    counts plus a conditional MAX that is provably the culprit key
    exactly when the distinct count is 1. No second scan of lineitem,
    no self-join.

    Scale (shuffle-audit rewrite): the naive form — two
    conditional COUNT(DISTINCT)s in one groupBy — plans through an
    Expand that multiplies every lineitem row 3× BEFORE the shuffle
    (measured 26.4 MiB shuffled at sf0.1, the registry's worst). The
    two-stage form aggregates to the DISTINCT (orderkey, suppkey)
    grain first — a plain map-side-combinable count shuffle, no
    Expand — and the second, far smaller aggregate derives the same
    three per-order stats from the deduped pairs (measured 13.1 MiB,
    2.0× less). The culprit roll-up keys on suppkey (bounded by
    |supplier|); supplier joins in for the name AFTER aggregation.
    Bounded top-k via TakeOrderedAndProject on the exact count with
    suppkey tiebreak."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    pairs = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("_returned")
    )
    ret = F.when(F.col("_returned") == 1, F.col("l_suppkey"))
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.count(ret).alias("n_ret_supp"),
        F.max(ret).alias("culprit"),
    )
    culprits = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_ret_supp") == 1)
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        culprits.groupBy("culprit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(s, F.col("culprit") == F.col("s_suppkey"))
        .orderBy(F.desc("n_orders"), F.asc("s_suppkey"))
        .limit(SOLE_RETURNER_LIMIT)
        .select("s_name", "n_orders")
    )


SOLE_RETURNER_SUPPLIERS_SQL = f"""
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                             THEN l_suppkey END) AS n_ret_supp,
         MAX(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS culprit
  FROM lineitem
  GROUP BY 1
),
rolled AS (
  SELECT culprit, COUNT(*) AS n_orders
  FROM per_order
  WHERE n_supp >= 2 AND n_ret_supp = 1
  GROUP BY 1
)
SELECT s.s_name, r.n_orders
FROM rolled r
JOIN supplier s ON r.culprit = s.s_suppkey
ORDER BY r.n_orders DESC, s.s_suppkey ASC
LIMIT {SOLE_RETURNER_LIMIT}
"""


def merge_writer_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6/S8 end-to-end as an adjudicated query: the writer lifecycle
    create-if-not-exists (twice — the second must be a no-op) → append
    batch A → GUARDED SCHEMA EVOLUTION (ensure_columns adds batch_tag
    as typed NULLs over the existing files) → append batch B carrying
    the new column → read back and roll up. The oracle recomputes the
    expected rollup straight from the source events, so a green verdict
    proves the create/append/evolve/append sequence loses nothing,
    duplicates nothing, and lands the evolved column on exactly the
    batch-B rows.

    Like orc_roundtrip_pricing this executes its writes eagerly at
    plan-construction time (disclosed exception to lazy construction);
    the work dir is keyed on (sf_dir, pid) so concurrent processes
    cannot race, and is rebuilt per call so the query is idempotent."""
    from myserver_datawarehouse_spark.operators.merge import (
        _versions_root,
        append,
        create_if_not_exists,
        drop_table,
        ensure_columns,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    batch_a = e.filter(F.pmod(F.col("event_id"), F.lit(3)) == 0)
    batch_b = e.filter(F.pmod(F.col("event_id"), F.lit(3)) == 1).withColumn(
        "batch_tag", F.lit("b")
    )
    target = _pid_tmpdir("msdw_writer_lifecycle", sf_dir)
    # drop_table, not rmtree: since the WAP unification the
    # evolved table is a snapshot symlink + hidden versions root, and a
    # plain rmtree would leave the old snapshots visible to the rerun.
    drop_table(target)
    _register_exit_cleanup(_versions_root(target))
    create_if_not_exists(spark, target, batch_a)
    create_if_not_exists(spark, target, batch_a)  # idempotent no-op
    append(batch_a, target)
    # RuntimeError, not assert: these evolution checks are part of the
    # adjudicated lifecycle and must survive `python -O`.
    added = ensure_columns(spark, target, {"batch_tag": "string"})
    if added != ["batch_tag"]:
        raise RuntimeError(f"ensure_columns added {added!r}")
    if ensure_columns(spark, target, {"batch_tag": "string"}) != []:
        raise RuntimeError("ensure_columns re-run was not a no-op")
    append(batch_b, target)
    back = spark.read.parquet(target)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("batch_tag").alias("n_tagged"),
            _sum_value(),
        )
        .orderBy("event_type")
    )


MERGE_WRITER_LIFECYCLE_SQL = """
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(COUNT(CASE WHEN ((event_id % 3) + 3) % 3 = 1 THEN 1 END)
            AS BIGINT) AS n_tagged,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value
FROM events
WHERE ((event_id % 3) + 3) % 3 IN (0, 1)
GROUP BY event_type
ORDER BY event_type
"""


NULL_KEY_SENTINEL = "click"


def null_key_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 NULL-keeping groupBy keys, adjudicated: one key value is
    mapped to NULL (NULLIF) before the rollup, and the NULL group must
    survive with its full population — SQL GROUP BY semantics, which
    Spark shares but pandas-style groupby (reference stack) silently
    drops. The oracle applies the same NULLIF, so a dropped or
    mis-bucketed NULL group is a row-count mismatch, not just a hash
    difference."""
    e = load_table(spark, sf_dir, "events")
    key = F.when(
        F.col("event_type") == NULL_KEY_SENTINEL, F.lit(None)
    ).otherwise(F.col("event_type"))
    return (
        e.groupBy(key.alias("event_group"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.asc_nulls_first("event_group"))
    )


NULL_KEY_ROLLUP_SQL = f"""
SELECT NULLIF(event_type, '{NULL_KEY_SENTINEL}') AS event_group,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
ORDER BY event_group NULLS FIRST
"""


APPROX_Q_ACCURACY = 10000
APPROX_Q_RANK_TOL = 0.02  # fraction of n; sketch guarantees 1/accuracy


def approx_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier quantile audit — the second member of the approx-swap
    family (approx_distinct_audit covers HLL): `approx_percentile`'s
    RANK guarantee adjudicated per event_type. The sketch promises the
    returned value's rank is within n/accuracy of the target rank; the
    audit recounts the actual rank exactly (COUNT of values ≤ the
    estimate, one broadcast join back over the fact) and flags
    |rank − q·n| ≤ 0.02·n + 1 — 200× headroom over the guarantee, so
    the flag is deterministic-stable while a sketch regression still
    trips it. Value-space comparison is deliberately NOT used: at small
    n the exact interpolated percentile and the sketch's dataset-value
    answer differ by tail quantization, which is not what the sketch
    promises. Exact interpolated percentiles ride along (they match
    DuckDB's quantile_cont bit-for-bit, the value_percentiles result).

    Scale: one grouped sketch pass (mergeable bounded state — the
    reason this tier exists), one broadcast of |types| rows, one
    conditional recount. No sort.

    NULL event_type rows are excluded up front (both here and in the
    oracle): the recount re-join uses plain equality, which would
    silently drop a NULL group that the oracle's GROUP BY keeps — the
    explicit filter makes both sides agree by construction."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    per_type = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"approx_percentile(value, 0.5, {APPROX_Q_ACCURACY})"
        ).alias("_a50"),
        F.expr(
            f"approx_percentile(value, 0.95, {APPROX_Q_ACCURACY})"
        ).alias("_a95"),
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.95D)"), 6).alias("p95_exact"),
    )
    j = e.select("event_type", "value").join(
        F.broadcast(per_type), "event_type"
    )
    tol = F.col("n") * F.lit(APPROX_Q_RANK_TOL) + F.lit(1)

    def _rank_ok(lt: str, le: str, q: float):
        # Tie-aware: a value with duplicate mass occupies the whole rank
        # interval [count(<v)+1, count(<=v)]; the sketch is correct if
        # that INTERVAL overlaps [q·n − tol, q·n + tol]. A single
        # max-rank compare would fail a correct sketch on a mass point.
        target = F.col("n") * F.lit(q)
        return (F.col(lt) < target + tol) & (F.col(le) > target - tol)

    return (
        j.groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.first("p50_exact").alias("p50_exact"),
            F.first("p95_exact").alias("p95_exact"),
            F.sum(
                F.when(F.col("value") < F.col("_a50"), 1).otherwise(0)
            ).alias("_lt50"),
            F.sum(
                F.when(F.col("value") <= F.col("_a50"), 1).otherwise(0)
            ).alias("_le50"),
            F.sum(
                F.when(F.col("value") < F.col("_a95"), 1).otherwise(0)
            ).alias("_lt95"),
            F.sum(
                F.when(F.col("value") <= F.col("_a95"), 1).otherwise(0)
            ).alias("_le95"),
        )
        .select(
            "event_type",
            "n",
            "p50_exact",
            "p95_exact",
            _rank_ok("_lt50", "_le50", 0.5).alias("rank_ok_p50"),
            _rank_ok("_lt95", "_le95", 0.95).alias("rank_ok_p95"),
        )
        .orderBy("event_type")
    )


APPROX_QUANTILE_AUDIT_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
       ROUND(quantile_cont(value, 0.95), 6) AS p95_exact,
       TRUE AS rank_ok_p50,
       TRUE AS rank_ok_p95
FROM events
WHERE value IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1
ORDER BY event_type
"""


# ----------- TPC-H Q2/Q10/Q15/Q16/Q20 shapes — the last five
# optimizer shapes of the sweep. No partsupp table exists in this
# schema, so the part<->supplier catalog derives from lineitem history
# (GROUP BY partkey, suppkey), which keeps every query joinable on real
# data while preserving the reference plan shapes: correlated-MIN
# decorrelation (Q2), returned-revenue top-k (Q10), max-over-view
# (Q15), NOT-IN + COUNT(DISTINCT) (Q16), stacked semi-joins (Q20).
# Reference-wise these complete the scalar-subquery/decorrelation
# family of fact_gold_price.py:408-412.

Q2_REGION = "EUROPE"
Q2_TYPE = "STANDARD"
Q2_MAX_SIZE = 15
Q2_LIMIT = 100


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for every qualifying part, the supplier(s) in
    one region offering the MINIMUM supply cost — the canonical
    correlated MIN subquery, decorrelated into one per-part aggregate
    joined back on (partkey, cost = min_cost). Supply cost is the
    cheapest observed offer MIN(l_extendedprice) per (part, supplier)
    pair from lineitem history (the no-partsupp catalog), kept in
    DECIMAL so the min-equality re-join is exact, never a float
    compare.

    Scale: the part filter (type + size) and the region filter prune
    both catalog legs before the pair aggregate; the per-part min
    frame is |parts|-sized and joins back on partkey (co-partitioned
    with the eligible frame — one shuffle key end-to-end). Dims
    broadcast. Bounded output via TakeOrderedAndProject
    (acctbal DESC with full key tiebreak)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_size") <= Q2_MAX_SIZE) & (F.col("p_type") == Q2_TYPE)
        )
        .select("p_partkey", "p_brand")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q2_REGION
    )
    sn = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name",
                 "s_acctbal", "n_name")
        .agg(
            F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "supply_cost_d"
            )
        )
    )
    part_min = eligible.groupBy(F.col("p_partkey").alias("_mk")).agg(
        F.min("supply_cost_d").alias("_min_cost")
    )
    return (
        eligible.join(
            part_min,
            (F.col("p_partkey") == F.col("_mk"))
            & (F.col("supply_cost_d") == F.col("_min_cost")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            F.col("supply_cost_d").cast("double").alias("supply_cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(Q2_LIMIT)
    )


MIN_COST_SUPPLIER_SQL = f"""
WITH eligible AS (
  SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, s.s_acctbal,
         n.n_name,
         MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS supply_cost_d
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
             AND p.p_size <= {Q2_MAX_SIZE} AND p.p_type = '{Q2_TYPE}'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
              AND r.r_name = '{Q2_REGION}'
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey, e.p_brand,
       CAST(e.supply_cost_d AS DOUBLE) AS supply_cost
FROM eligible e
WHERE e.supply_cost_d = (SELECT MIN(e2.supply_cost_d) FROM eligible e2
                         WHERE e2.p_partkey = e.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT {Q2_LIMIT}
"""


Q10_DATE_LO = "1996-10-01"
Q10_DATE_HI = "1997-01-01"
Q10_LIMIT = 20


def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to RETURNED lineitems per customer
    for one order quarter, top-20 by lost revenue with the broad
    customer projection (name, acctbal, nation) carried through.

    Scale: the orderdate window prunes orders at the scan and the
    returnflag filter prunes lineitem at the scan BEFORE the orderkey
    shuffle; customer joins on the already-aggregate-sized o_custkey
    side; nation broadcasts. Revenue accumulates in DECIMAL (exact,
    order-independent) and the top-k is TakeOrderedAndProject with a
    custkey tiebreak — ordering on a double derived from identical
    decimals is reproducible across engines."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(Q10_DATE_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(Q10_DATE_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _disc_price(1.0).cast("decimal(28,6)")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_returned"),
        )
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(Q10_LIMIT)
    )


RETURNED_ITEM_LOSSES_SQL = f"""
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE)
         AS lost_revenue,
       COUNT(*) AS n_returned
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
             AND o.o_orderdate >= TIMESTAMP '{Q10_DATE_LO}'
             AND o.o_orderdate <  TIMESTAMP '{Q10_DATE_HI}'
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY lost_revenue DESC, c_custkey
LIMIT {Q10_LIMIT}
"""


Q15_DATE_LO = "1996-01-01"
Q15_DATE_HI = "1996-04-01"


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose 3-month revenue equals
    the MAX over the per-supplier revenue view — max-over-aggregated-
    view, decorrelated as a 1-row broadcast of the max joined back by
    DECIMAL equality (exact: both the per-supplier totals and the max
    are the same decimal aggregate, so the equality can never miss by
    a ulp the way a double compare could).

    Scale: the shipdate window prunes lineitem at the scan; one
    suppkey-grouped aggregate (map-side partial), a 1-row max frame
    broadcast back, supplier dim broadcast for the name. No window, no
    global sort."""
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(Q15_DATE_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q15_DATE_HI).cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = _disc_price(1.0).cast("decimal(28,6)")
    per_supp = l.groupBy("l_suppkey").agg(
        F.sum(rev).alias("rev_d"), F.count(F.lit(1)).alias("n_lineitems")
    )
    top = per_supp.agg(F.max("rev_d").alias("_max_rev"))
    return (
        per_supp.crossJoin(F.broadcast(top))
        .filter(F.col("rev_d") == F.col("_max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_d"), 2).cast("double").alias("total_revenue"),
            "n_lineitems",
        )
        .orderBy("s_suppkey")
    )


TOP_SUPPLIER_REVENUE_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(28,6))) AS rev_d,
         COUNT(*) AS n_lineitems
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_DATE_LO}'
    AND l_shipdate <  TIMESTAMP '{Q15_DATE_HI}'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name,
       CAST(ROUND(r.rev_d, 2) AS DOUBLE) AS total_revenue,
       r.n_lineitems
FROM revenue r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.rev_d = (SELECT MAX(rev_d) FROM revenue)
ORDER BY s_suppkey
"""


Q16_EXCL_BRAND = "Brand#1"
Q16_EXCL_TYPE = "PROMO"
Q16_SIZES = (1, 5, 9, 14, 19, 23, 30, 36, 45, 49)


def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many DISTINCT suppliers can deliver each
    (brand, type, size) combination, excluding one brand, one type
    family, and every supplier on the deny list (negative account
    balance — the schema's stand-in for the complaints predicate).
    The NOT IN subquery is planned as a broadcast LEFT ANTI join
    (suppliers are non-null keys, so NOT IN == anti-join); the
    part<->supplier relationship is the distinct lineitem pair set.

    Scale: the pair-distinct collapses lineitem to |partsupp| before
    any join; the part filter broadcasts; the deny list is dim-sized
    and broadcast-anti. COUNT(DISTINCT suppkey) shuffles once on the
    3-attr group key."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != Q16_EXCL_BRAND)
            & (F.col("p_type") != Q16_EXCL_TYPE)
            & F.col("p_size").isin(*Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    denied = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    return (
        pairs.join(
            F.broadcast(denied.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


PART_SUPPLIER_VARIETY_SQL = f"""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON ps.l_partkey = p.p_partkey
WHERE p.p_brand <> '{Q16_EXCL_BRAND}'
  AND p.p_type <> '{Q16_EXCL_TYPE}'
  AND p.p_size IN {Q16_SIZES}
  AND ps.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


Q20_NAME_PREFIX = "red"
Q20_YEAR_LO = "1996-01-01"
Q20_YEAR_HI = "1997-01-01"
Q20_REGION = "ASIA"


def promotable_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: stacked semi-joins — suppliers (in one region)
    who, for at least one 'red%' part, shipped MORE of it in 1996 than
    in all other years combined (the availqty > ½·shipped-qty predicate
    re-expressed on shipment history: qty_1996 > ½·qty_total, compared
    as 2·qty_1996 > qty_total so the decimal arithmetic stays exact).
    The nesting — part-name semi-join inside a per-(supplier, part)
    correlated aggregate inside a supplier semi-join — collapses into
    one filtered aggregate plus one LEFT SEMI join, the decorrelation
    Catalyst cannot do for a user who writes the nested-IN SQL form.

    Scale: the 'red%' part filter broadcasts and prunes lineitem
    before its (suppkey, partkey) aggregate; the qualifying-pair frame
    reduces to a distinct suppkey set (dim-bounded) that SEMI-joins
    the supplier dim; nation/region broadcast. One fact shuffle."""
    p_red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith(Q20_NAME_PREFIX))
        .select("p_partkey")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    in_year = (
        (F.col("l_shipdate") >= F.lit(Q20_YEAR_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q20_YEAR_HI).cast("timestamp"))
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    qualifying = (
        l.join(F.broadcast(p_red), F.col("l_partkey") == F.col("p_partkey"),
               "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_year, qty).otherwise(F.lit(0).cast(
                "decimal(18,2)"))).alias("qty_year"),
            F.sum(qty).alias("qty_total"),
        )
        .filter(F.col("qty_year") * 2 > F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q20_REGION
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"),
              "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


PROMOTABLE_PART_SUPPLIERS_SQL = f"""
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
            AND r.r_name = '{Q20_REGION}'
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  WHERE l.l_partkey IN
        (SELECT p_partkey FROM part
         WHERE p_name LIKE '{Q20_NAME_PREFIX}%')
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '{Q20_YEAR_LO}'
                   AND l.l_shipdate <  TIMESTAMP '{Q20_YEAR_HI}'
                  THEN CAST(l.l_quantity AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) * 2
         > SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
)
ORDER BY s_suppkey
"""


# ----------- S1 completion: CSV/JSONL text round-trips +
# dynamic partition pruning over a hive-partitioned copy of the fact.

# The 7 columns the Q1-shape aggregate needs — written by every format
# round-trip (column pruning at the WRITE side).
_ROUNDTRIP_COLS = (
    "l_returnflag",
    "l_linestatus",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_shipdate",
)


def csv_roundtrip_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/CSV end-to-end: write the pruned lineitem projection to CSV
    (header + explicit schema on read-back, sources/files.py:read_csv),
    read it back, and run the SAME Q1-shape aggregate as
    `pricing_summary` against the SAME oracle over the parquet source —
    so a green verdict proves the TEXT format round-trips doubles
    (Java's shortest-round-trip Double formatting), timestamps
    (explicit microsecond timestampFormat: the CSV writer's default
    pattern truncates to millis, which would corrupt any sub-milli
    timestamp silently), and strings bit-exactly through
    write+parse+aggregate. Same eager-write convention and pid-keyed
    work dir as orc_roundtrip_pricing; only the 7 needed columns are
    written."""
    from myserver_datawarehouse_spark.sources.files import (
        read_csv,
        split_quarantine,
    )

    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    path = _pid_tmpdir("msdw_csv_lineitem", sf_dir)
    src = load_table(spark, sf_dir, "lineitem").select(*_ROUNDTRIP_COLS)
    (
        src.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", ts_fmt)
        .csv(path)
    )
    # The PRODUCTION reader path (read_csv + quarantine split), so the
    # round-trip adjudicates the shipped helper, not a re-implemented
    # read. "Nothing was quarantined" is part of the claim: a malformed
    # write diverts rows to the bad side and shrinks the aggregate
    # counts against the oracle.
    good, _bad = split_quarantine(
        read_csv(
            spark, path, src.schema, options={"timestampFormat": ts_fmt}
        ),
        persist=False,
    )
    return _pricing_block(good)


CSV_ROUNDTRIP_PRICING_SQL = PRICING_SUMMARY_SQL


DPP_YEAR = 1996


def dpp_partitioned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, end to end: lineitem is rewritten ONCE
    per process as a hive-partitioned table on ship_month (the layout a
    100 TB fact actually has), then joined to a month dimension DERIVED
    FROM ORDERS and filtered to one year. The month filter lives on the
    dim side only — static partition pruning cannot see it — so Catalyst
    must inject a dynamicpruningexpression subquery into the fact scan's
    PartitionFilters, and the scan reads 12 of ~84 partitions instead of
    all of them. `tests/test_plan_shapes.py` asserts the
    dynamicpruning expression is present; this query adjudicates that
    the pruned plan still computes the exact rollup (oracle: the same
    join over the unpartitioned parquet source).

    At 100 TB this is THE mechanism that turns star joins over
    partitioned facts from full scans into per-partition reads when the
    filter arrives through a dimension. Eager-write convention as
    orc_roundtrip_pricing (pid-keyed dir, atexit-cleaned); the write
    repartitions by ship_month so each hive partition is one file, not
    32 shards."""
    import os

    path = _pid_tmpdir("msdw_dpp_lineitem", sf_dir)
    # Write-once per (sf, pid), for real: the _SUCCESS marker gates the
    # rewrite, so repeated invocations (bench warm+timed reps) measure
    # the amortized partition-pruned READ the layout exists for, not a
    # fresh write every time. A crashed partial write has no _SUCCESS
    # and is rewritten.
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        # Only the columns the rollup reads (write-side pruning, same
        # convention as the round-trip twins).
        l = load_table(spark, sf_dir, "lineitem").select(
            "l_extendedprice",
            "l_discount",
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        )
        (
            l.repartition("ship_month")
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(path)
        )
    fact = spark.read.parquet(path)
    months = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == DPP_YEAR)
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        )
        .distinct()
    )
    rev = _disc_price(1.0).cast("decimal(28,6)")
    return (
        fact.join(
            F.broadcast(months),
            F.col("ship_month") == F.col("order_month"),
        )
        .groupBy("ship_month")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("ship_month")
    )


DPP_PARTITIONED_REVENUE_SQL = f"""
SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
WHERE strftime(l.l_shipdate, '%Y-%m') IN
      (SELECT DISTINCT strftime(o_orderdate, '%Y-%m')
       FROM orders WHERE EXTRACT(year FROM o_orderdate) = {DPP_YEAR})
GROUP BY 1
ORDER BY ship_month
"""


BLOOM_PRIORITY = "1-URGENT"


def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction, end to end: lineitem
    joins orders filtered to one priority class. The selective filter
    lives on the ORDERS side only — no partition layout or fact column
    encodes it, so neither static nor dynamic partition pruning can
    reach the fact scan. Catalyst's runtime row-level filtering
    (`spark.sql.optimizer.runtime.bloomFilter.*`) closes the gap: a
    `bloom_filter_agg` over the filtered build-side keys is injected as
    a scalar subquery and the fact scan gains a
    `might_contain(xxhash64(l_orderkey))` pre-filter, discarding most
    non-matching fact rows BEFORE the shuffle instead of after the
    join. The plan injection is RAISED on, not assumed (same discipline
    as dpp_partitioned_revenue's dynamicpruning assertion), and the
    oracle is the plain join — so both the pruned plan's correctness
    and its presence are adjudicated.

    At 100 TB the default thresholds trigger this naturally (the
    application side must be big enough that pre-shuffle pruning pays
    — 10 GiB scan size by default); at sf0.1 the threshold is lowered
    for the query's scope so the mechanism itself is exercised. The
    bloom filter is a fixed-size mergeable aggregate (one per build
    side), so the reduction costs one tiny broadcastable subquery
    against a shuffle of the UNFILTERED fact — the same trade a join
    index buys in a warehouse, with no layout precommitment."""
    import contextlib
    import io

    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    # Broadcast joins bypass the shuffle the bloom filter prunes; force
    # the shuffle join a 100 TB orders side would take anyway.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
        )
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == BLOOM_PRIORITY)
            .select("o_orderkey")
        )
        rev = _disc_price(1.0).cast("decimal(28,6)")
        out = (
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .agg(
                F.round(F.sum(rev), 2).cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_lineitems"),
            )
            .orderBy("l_returnflag")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        if "might_contain" not in buf.getvalue():
            raise RuntimeError(
                "runtime bloom filter was not injected into the fact scan"
            )
        # Materialize under the conf so later actions don't depend on
        # session state at action time (bucketed-join convention).
        from myserver_datawarehouse_spark.session import materialize

        return materialize(out)
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


BLOOM_PRUNED_JOIN_SQL = f"""
SELECT l.l_returnflag,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '{BLOOM_PRIORITY}'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


def jsonl_roundtrip_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/JSONL end-to-end, completing the format matrix (parquet,
    ORC, CSV, JSONL — every reader sources/files.py ships now has an
    adjudicated round-trip): write the pruned lineitem projection as
    JSON lines, read it back through read_jsonl's PERMISSIVE +
    quarantine-capture path, and run the SAME Q1-shape aggregate
    against the parquet oracle. Doubles survive via Jackson's
    shortest-round-trip formatting; timestamps carry an explicit
    microsecond timestampFormat (the default pattern truncates to
    millis on write). Same eager-write + pid-keyed-dir convention as
    the ORC/CSV twins."""
    from myserver_datawarehouse_spark.sources.files import (
        read_jsonl,
        split_quarantine,
    )

    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    path = _pid_tmpdir("msdw_jsonl_lineitem", sf_dir)
    src = load_table(spark, sf_dir, "lineitem").select(*_ROUNDTRIP_COLS)
    (
        src.write.mode("overwrite")
        .option("timestampFormat", ts_fmt)
        .json(path)
    )
    good, _bad = split_quarantine(
        read_jsonl(
            spark, path, src.schema, options={"timestampFormat": ts_fmt}
        ),
        persist=False,
    )
    return _pricing_block(good)


JSONL_ROUNDTRIP_PRICING_SQL = PRICING_SUMMARY_SQL


BUCKET_N = 8


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join, driver-adjudicated: lineitem and
    orders are bucket-written ONCE per (sf, pid) on orderkey — the
    write-once layout decision that converts every subsequent
    orderkey join from a two-sided shuffle into a zero-Exchange merge
    of pre-hashed buckets — then joined with broadcast DISABLED so the
    plan must rely on the bucket layout (the plan-shape test asserts no
    Exchange below the join). The rollup per order priority is the
    adjudicated output; its oracle is the plain join over the parquet
    source, so the bucketed path must be value-identical to the
    unbucketed one.

    At 100 TB this is the §2.3 co-location story made executable: the
    orderkey exchange is paid once at write time and amortized over
    every fact-to-fact join that follows (tests/test_bucketing.py
    proves the no-Exchange property in isolation; this query proves
    the end-to-end values). Eager-write convention as the round-trip
    twins; catalog table names carry the (sf, pid) key and the
    warehouse directories are atexit-cleaned."""
    import os

    from myserver_datawarehouse_spark.operators.merge import write_bucketed

    tag = _sf_pid_tag(sf_dir)
    t_l, t_o = f"msdw_bkt_l_{tag}", f"msdw_bkt_o_{tag}"
    # Bucket-write once per (sf, pid), for real: catalog existence gates
    # the rewrite, so repeated invocations measure the amortized
    # zero-Exchange join — the write-once layout claim — not a fresh
    # pair of bucketed writes every rep.
    if not spark.catalog.tableExists(t_l) or not spark.catalog.tableExists(
        t_o
    ):
        l = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        write_bucketed(
            l, t_l, ["l_orderkey"], BUCKET_N, sort_keys=["l_orderkey"]
        )
        write_bucketed(
            o, t_o, ["o_orderkey"], BUCKET_N, sort_keys=["o_orderkey"]
        )
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for t in (t_l, t_o):
        # Drop the catalog entry at exit, before the directory cleanup
        # (atexit is LIFO — drop registered last runs first): a
        # persistent metastore would otherwise accumulate stale
        # msdw_bkt_* tables pointing at deleted paths across processes.
        _register_exit_cleanup(os.path.join(warehouse, t))
        _register_exit_drop_table(spark, t)

    rev = _disc_price(1.0).cast("decimal(28,6)")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(t_l).join(
            spark.table(t_o),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        out = (
            joined.groupBy("o_orderpriority")
            .agg(
                F.round(F.sum(rev), 2).cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_lineitems"),
            )
            .orderBy("o_orderpriority")
        )
        # Materialize the plan choice under the no-broadcast conf; the
        # returned frame re-reads the tiny checkpointed rollup so later
        # actions don't depend on session conf at action time.
        from myserver_datawarehouse_spark.session import materialize

        return materialize(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


BUCKETED_COLOCATED_JOIN_SQL = """
SELECT o.o_orderpriority,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
ORDER BY o_orderpriority
"""


# ----------- sketch tier completion: count-min heavy hitters.

CM_W = 1024          # sketch width (buckets per row)
CM_DEPTH_PARAMS = (  # (a, b) per depth for ((a*k + b) mod P) mod W
    (1299721, 104729),
    (15485863, 32452843),
    (49979687, 67867967),
)
CM_P = 2147483647    # Mersenne prime 2^31-1; all math stays in int64
CM_TOPK = 5
CM_SLACK_NUM = 8     # bound flag: over-estimate <= 8*N/W (generous)


def _cm_bucket(col, a: int, b: int):
    """Integer-exact polynomial hash into [0, CM_W) — identical
    arithmetic is expressible in DuckDB, so the oracle rebuilds the
    SAME sketch (no engine-specific hash functions anywhere). The key
    is first reduced to pmod(key, P) ∈ [0, P): this (a) makes negative
    keys agree across engines (Spark pmod vs SQL % differ in sign
    convention on raw negatives) and (b) bounds the multiplicand so
    (P-1)·a ≈ 1.1e17 can never overflow int64 — the parity claim holds
    for EVERY int64 key, not just small non-negative fixture ids."""
    k = F.pmod(F.col(col), F.lit(CM_P))
    return F.pmod(
        F.pmod(k * F.lit(a) + F.lit(b), F.lit(CM_P)), F.lit(CM_W)
    )


def heavy_hitters_cm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier heavy hitters: a COUNT-MIN sketch built entirely from
    DataFrame primitives — one pass over the fact exploding each row
    into CM_DEPTH rows, a groupBy on (depth, bucket) whose state is
    bounded by depth x width (3 x 1024 counters) regardless of data
    volume, and a broadcast join of the exact top-k candidates back
    onto their buckets with MIN-over-depth as the estimate. The audit
    adjudicates the sketch's properties exactly: `never_under` (CM can
    only over-count) and `within_bound` (over-estimate <= 8N/W — far
    above the expected 2N/W collision mass, so the flag is stable while
    a broken sketch still trips it).

    The depth hashes are integer polynomial hashes mod a Mersenne
    prime — every operation is exact int64 arithmetic that DuckDB
    reproduces bit-for-bit, so the oracle rebuilds the identical sketch
    and the driver's hash compare adjudicates estimates, not just
    flags (the approx_distinct/approx_quantile audits can't do that —
    their engine sketches differ register-for-register; this one is
    the repo's own and therefore fully differential).

    At 100 TB: the sketch pass is map-side combinable into <= depth x
    width partials per task, the shuffle carries only those, and the
    candidate join broadcasts k rows. This is the mergeable-summary
    pattern (Cormode & Muthukrishnan 2005) for frequency, next to
    HLL (distinct) and KLL (quantiles) in the tier."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    n_total = e.groupBy().agg(F.count(F.lit(1)).alias("n_total"))

    depths = F.array(
        *[
            F.struct(
                F.lit(i).alias("depth"),
                _cm_bucket("user_id", a, b).alias("bucket"),
            )
            for i, (a, b) in enumerate(CM_DEPTH_PARAMS)
        ]
    )
    cm = (
        e.select(F.explode(depths).alias("db"))
        .groupBy(F.col("db.depth").alias("depth"), F.col("db.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(CM_TOPK)
    )
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(depths).alias("db"),
    ).select("user_id", "exact_n", F.col("db.depth").alias("depth"),
             F.col("db.bucket").alias("bucket"))
    est = (
        probes.join(cm, ["depth", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return (
        est.crossJoin(F.broadcast(n_total))
        .select(
            "user_id",
            "exact_n",
            "cm_estimate",
            (F.col("cm_estimate") >= F.col("exact_n")).alias("never_under"),
            (
                (F.col("cm_estimate") - F.col("exact_n")) * F.lit(CM_W)
                <= F.lit(CM_SLACK_NUM) * F.col("n_total")
            ).alias("within_bound"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


def _cm_oracle_sql() -> str:
    structs = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(CM_DEPTH_PARAMS)
    )
    return f"""
WITH d(depth, a, b) AS (VALUES {structs}),
e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
n AS (SELECT COUNT(*) AS n_total FROM e),
cm AS (
  SELECT d.depth,
         (((((e.user_id % {CM_P}) + {CM_P}) % {CM_P}) * d.a + d.b)
          % {CM_P}) % {CM_W} AS bucket,
         COUNT(*) AS c
  FROM e CROSS JOIN d
  GROUP BY 1, 2
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_n
  FROM e GROUP BY 1
  ORDER BY exact_n DESC, user_id
  LIMIT {CM_TOPK}
),
probes AS (
  SELECT x.user_id, x.exact_n, d.depth,
         (((((x.user_id % {CM_P}) + {CM_P}) % {CM_P}) * d.a + d.b)
          % {CM_P}) % {CM_W} AS bucket
  FROM exact x CROSS JOIN d
),
est AS (
  SELECT p.user_id, p.exact_n, MIN(cm.c) AS cm_estimate
  FROM probes p JOIN cm ON p.depth = cm.depth AND p.bucket = cm.bucket
  GROUP BY 1, 2
)
SELECT est.user_id, est.exact_n, est.cm_estimate,
       est.cm_estimate >= est.exact_n AS never_under,
       (est.cm_estimate - est.exact_n) * {CM_W}
         <= {CM_SLACK_NUM} * n.n_total AS within_bound
FROM est, n
ORDER BY exact_n DESC, user_id
"""


HEAVY_HITTERS_CM_AUDIT_SQL = _cm_oracle_sql()


ERASURE_MOD = 97


def _erased_user():
    """The GDPR erasure cohort, `user_id % ERASURE_MOD == 0`; its
    negation `~_erased_user()` selects the survivors."""
    return F.pmod(F.col("user_id"), F.lit(ERASURE_MOD)) == 0


def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten at table scope, end to end — and the
    driver adjudication of the WAP writer itself (operators/merge.py
    publish_overwrite was pytest-only before this): the events table is
    published as snapshot v1, an erasure set (user_id % 97 == 0) is
    removed via a broadcast LEFT ANTI join, and the result is published
    as snapshot v2 with the atomic manifest swap. The output rolls up
    the PUBLISHED table (read_published — i.e. through the manifest,
    not the staging path) plus a residual count of erased-user rows
    that must be zero; the oracle recomputes the same rollup from the
    source minus the erasure set, so a failed erasure, a partial
    publish, or a manifest pointing at the wrong snapshot all flip the
    hash. The superseded v1 stays readable until vacuum — the
    compliance caveat a real deployment handles with retention policy
    (vacuum_versions), exercised in tests/test_merge.py.

    Scale: the erasure is one broadcast anti-join over the fact (the
    erased-key set is user-grain, dim-sized), and the publish is one
    distributed write + an O(1) manifest swap — no read-modify-write
    of the live table at any point. Same eager-execution convention as
    the writer-lifecycle query (pid-keyed root, atexit-cleaned)."""
    from myserver_datawarehouse_spark.operators.merge import (
        publish_overwrite,
        read_published,
    )

    root = _fresh_work("msdw_erasure_table", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    publish_overwrite(spark, root, e)
    erase = e.filter(_erased_user()).select("user_id").distinct()
    erased = read_published(spark, root).join(
        F.broadcast(erase), "user_id", "left_anti"
    )
    publish_overwrite(spark, root, erased)
    published = read_published(spark, root)
    return (
        published.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            _sum_value(),
            F.count(F.when(_erased_user(), 1)).alias("n_residual"),
        )
        .orderBy("event_type")
    )


USER_ERASURE_AUDIT_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value,
       CAST(0 AS BIGINT) AS n_residual
FROM events
WHERE user_id % {ERASURE_MOD} <> 0 OR user_id IS NULL
GROUP BY event_type
ORDER BY event_type
"""


def table_time_travel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned reads end to end as a registry query with an oracle (so
    read_version/published_versions are not pytest-only): the events table
    is published as snapshot v1, a GDPR-style erasure
    (user_id % {ERASURE_MOD} == 0, same predicate as
    `user_erasure_audit`) is published as snapshot v2, and the output
    stacks THREE reads of the same table root side by side —
    `read_version(v1)` (time travel to the pre-erasure snapshot),
    `read_version(v2)`, and `read_published()` (the manifest's current
    pointer). The oracle recomputes v1's rollup from the full source and
    v2/published from the erased source, so a manifest pointing at the
    wrong version, a time-travel read leaking post-erasure state (or
    vice versa), or a publish that mutated the retained v1 snapshot all
    flip the hash. This is the compliance-facing contract of the WAP
    writer: superseded snapshots stay byte-stable and addressable until
    `vacuum_versions` reclaims them.

    Scale: two distributed writes + three scans; version resolution is
    O(1) manifest reads. Same eager-execution and pid-keyed-tmpdir
    convention as the erasure query."""
    from myserver_datawarehouse_spark.operators.merge import (
        publish_overwrite,
        published_versions,
        read_published,
        read_version,
    )

    root = _fresh_work("msdw_timetravel_table", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    v1 = publish_overwrite(spark, root, e)
    erase = e.filter(_erased_user()).select("user_id").distinct()
    erased = read_published(spark, root).join(
        F.broadcast(erase), "user_id", "left_anti"
    )
    v2 = publish_overwrite(spark, root, erased)
    versions, current = published_versions(root)
    if current != v2 or v1 not in versions:
        raise RuntimeError(
            f"version bookkeeping broken: current={current}, "
            f"retained={versions}"
        )

    def rollup(df: DataFrame, snapshot: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            _sum_value(),
        ).select(F.lit(snapshot).alias("snapshot"), "*")

    return (
        rollup(read_version(spark, root, v1), "v1")
        .unionByName(rollup(read_version(spark, root, v2), "v2"))
        .unionByName(rollup(read_published(spark, root), "published"))
        .orderBy("snapshot", "event_type")
    )


TABLE_TIME_TRAVEL_AUDIT_SQL = f"""
WITH full_roll AS (
  SELECT event_type, COUNT(*) AS n_rows,
         COUNT(DISTINCT user_id) AS n_users,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_value
  FROM events GROUP BY event_type
),
erased_roll AS (
  SELECT event_type, COUNT(*) AS n_rows,
         COUNT(DISTINCT user_id) AS n_users,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_value
  FROM events
  WHERE user_id % {ERASURE_MOD} <> 0 OR user_id IS NULL
  GROUP BY event_type
)
SELECT 'v1' AS snapshot, * FROM full_roll
UNION ALL
SELECT 'v2' AS snapshot, * FROM erased_roll
UNION ALL
SELECT 'published' AS snapshot, * FROM erased_roll
ORDER BY snapshot, event_type
"""


COMPACTION_BATCHES = 8


def table_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end to end, driver-adjudicated: the events
    table lands as {COMPACTION_BATCHES} separate appends of 2 files
    each (the fragmented layout a per-micro-batch streaming ingest
    produces), then `compact_table` rewrites the snapshot bin-packed
    through the WAP commit. The output is the post-compaction rollup
    (the oracle recomputes it from the source — any row lost or
    duplicated by the rewrite flips the hash) plus a `files_reduced`
    flag computed from the ACTUAL before/after data-file counts, which
    the oracle emits as literal TRUE — a compaction that failed to
    shrink the file count fails the gate, the approx_distinct_audit
    within-tolerance pattern applied to a maintenance operation.

    Scale: compaction is one distributed read + write of the current
    snapshot and an O(1) commit; at 100 TB it runs per-partition (the
    partitioned form repartitions on the partition columns) and only
    over partitions whose file counts degraded. Eager-execution,
    pid-keyed-dir convention as the other writer-lifecycle queries."""
    from myserver_datawarehouse_spark.operators.merge import (
        _versions_root,
        append,
        compact_table,
        data_file_count,
        drop_table,
    )

    root = _pid_tmpdir("msdw_compaction_table", sf_dir)
    # The compacted table's snapshots live in the hidden sibling
    # versions root — register it too or every bench/verify process
    # leaks a full copy of the events table past exit.
    _register_exit_cleanup(_versions_root(root))
    drop_table(root)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for i in range(COMPACTION_BATCHES):
        append(
            e.filter(
                F.pmod(F.col("event_id"), F.lit(COMPACTION_BATCHES)) == i
            ).repartition(2),
            root,
        )
    before = data_file_count(root)
    compact_table(spark, root)
    after = data_file_count(root)
    return (
        spark.read.parquet(root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_value(),
        )
        .withColumn("files_reduced", F.lit(bool(after < before)))
        .orderBy("event_type")
    )


TABLE_COMPACTION_AUDIT_SQL = """
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value,
       TRUE AS files_reduced
FROM events
GROUP BY event_type
ORDER BY event_type
"""


LISTAGG_TOPN = 3


def nation_top_customers_listagg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic group-concat (the LISTAGG / string_agg reporting
    shape): per nation, the top-3 customers by account balance as one
    comma-joined string. Spark has no ordered string_agg, so the
    ordered concat is built from primitives WITHOUT relying on
    collect_list's nondeterministic accumulation order: collect the
    (rank, name) structs, array_sort (ranks are unique, so the sort
    key is total), project the names, array_join — bit-identical to
    DuckDB's string_agg(... ORDER BY rank). Ranking tie-breaks on
    custkey so equal balances can't flip the string between engines.

    Scale: the rank window partitions by nation (dim-bounded groups),
    the concat aggregates at nation grain — |nation| rows of bounded
    strings, never an unbounded group blob."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    top = c.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= LISTAGG_TOPN
    )
    return (
        top.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "c_name"))
                    ),
                    lambda s: s["c_name"],
                ),
                ",",
            ).alias("top_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("top_balance_sum"),
        )
        .orderBy("n_name")
    )


NATION_TOP_CUSTOMERS_LISTAGG_SQL = f"""
WITH ranked AS (
  SELECT c_nationkey, c_name, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
  FROM customer
)
SELECT n.n_name,
       string_agg(r.c_name, ',' ORDER BY r.rk) AS top_customers,
       CAST(ROUND(SUM(CAST(r.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS top_balance_sum
FROM ranked r
JOIN nation n ON r.c_nationkey = n.n_nationkey
WHERE r.rk <= {LISTAGG_TOPN}
GROUP BY 1
ORDER BY n_name
"""


# --------------------------------------------------------- zone maps
# File-level data skipping on plain parquet — the manifest min/max
# pruning a lakehouse table format provides, built from primitives.

ZONEMAP_FILES = 16
ZONEMAP_LO = 30.0
ZONEMAP_HI = 40.0


def file_skipping_scan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping end to end, driver-adjudicated: the events
    table is CLUSTERED on `value` (repartitionByRange + sort-within, the
    layout step that makes per-file min/max tight), a file-level stats
    table is built in one distributed pass (min/max/rows per file — the
    zone map a Delta/Iceberg manifest records at write time), and a
    range predicate is planned AGAINST THE STATS: only files whose
    [min,max] intersects [{ZONEMAP_LO},{ZONEMAP_HI}] are read back, with
    the row-level filter still applied inside them (boundary files hold
    rows outside the band).

    The output is the pruned scan's rollup — the oracle recomputes it
    from the RAW events source with the same predicate, so a file
    wrongly skipped (rows lost) or a stats error (rows duplicated or
    out of band) flips the hash — plus a `files_skipped` flag computed
    from the ACTUAL kept/total file counts (oracle: literal TRUE, the
    compaction-audit pattern). Parquet row-group pushdown already skips
    WITHIN files Spark decides to open; this query demonstrates the
    layer ABOVE it — not opening the file at all, which is what matters
    when a 100 TB table is 100k files and footer reads alone are a
    listing storm. The stats pass is one aggregate over the table
    (amortized: a real manifest records it at write commit); candidate
    selection is driver-side over FILE METADATA (O(files), never rows —
    the planner's job, same as partition pruning); the pruned scan
    reads O(selectivity) files. Clustering quality degrades skipping,
    never correctness: an unclustered layout intersects every file and
    the plan falls back to a full scan with the same output.
    Eager-execution, pid-keyed-dir convention as the writer-lifecycle
    queries."""
    root = _fresh_work("msdw_zonemap_table", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    (
        e.repartitionByRange(ZONEMAP_FILES, F.col("value"), F.col("event_id"))
        .sortWithinPartitions("value")
        .write.mode("overwrite")
        .parquet(root)
    )
    from myserver_datawarehouse_spark.sources.files import file_stats

    stats = file_stats(spark, root, "value").collect()
    keep = [
        r["path"]
        for r in stats
        if not (r["hi"] < ZONEMAP_LO or r["lo"] > ZONEMAP_HI)
    ]
    if not keep:  # degenerate stats would otherwise read nothing
        raise RuntimeError(f"zone map kept 0 of {len(stats)} files")
    pruned = spark.read.parquet(*keep).filter(
        F.col("value").between(ZONEMAP_LO, ZONEMAP_HI)
    )
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_value(),
        )
        .withColumn("files_skipped", F.lit(bool(len(keep) < len(stats))))
        .orderBy("event_type")
    )


FILE_SKIPPING_SCAN_AUDIT_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value,
       TRUE AS files_skipped
FROM events
WHERE value BETWEEN {ZONEMAP_LO} AND {ZONEMAP_HI}
GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------------ bloom skipping

BLOOM_SKIP_FILES = 32
BLOOM_SKIP_BITS = 65536  # 8 KiB per file: fpp < 5% at sf0.1 row counts
BLOOM_PROBE_IDS = (11, 257, 761)  # exist at every SF (event_id is 0..N-1)


def bloom_file_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup file skipping via COMMITTED per-file bloom sidecars
    — the pruning layer zone maps can't provide: `file_skipping_scan_
    audit` prunes RANGE predicates on the clustered column, but a point
    lookup on an UNCLUSTERED key (here event_id under hash layout)
    intersects every file's [min,max], so min/max stats keep
    everything. A per-file bloom (what Parquet column indexes /
    split-block bloom filters and Delta's bloom-index sidecars record)
    answers 'might this file contain key k' instead.

    The blooms are registered AT WRITE COMMIT, not rebuilt per query:
    the table is published through the manifest-root committer with
    `bloom_columns=["event_id"]` (operators/merge.publish_overwrite →
    sources/files.write_bloom_sidecar), which stages one distributed
    bloom pass per column — bucket = xxhash64(event_id) mod
    {BLOOM_SKIP_BITS} JVM-side, one vectorized applyInPandas kernel
    folding each file's buckets into an 8 KiB bitset — into
    `v{{N}}/_blooms/event_id/` BEFORE the manifest swap, so a published
    version's blooms are never observable half-built. ~10 bits per
    distinct key keeps fpp under 5% at sf0.1's 3125 rows/file; the
    sidecar is O(files) x 8 KiB, corpus-independent, and later
    copy-on-write merges carry it incrementally (relative-path rows +
    hardlink carry, sources/files.carry_bloom_sidecar — rebuild cost
    O(rewritten files), tested in tests/test_bloom_sidecar.py).

    The lookup then prunes MANIFEST-side (sources/files.
    bloom_prune_files): the bit tests run executor-side over the
    sidecar scan and only candidate path strings reach the driver —
    the coordinator's manifest read, not a data read. Probe keys hash
    with the column type recorded in the sidecar's `_META.json`
    (xxhash64 is type-sensitive; a mistyped probe would silently
    reject files that DO contain the key, breaking the
    false-positives-only contract).

    The output is the probe rollup, oracle-recomputed from the raw
    source (a wrongly-skipped file — a false NEGATIVE, which a correct
    bloom can never produce — would drop rows and flip the hash), plus
    the actual files_skipped flag (oracle: literal TRUE). Scale: the
    bloom build is one pass amortized at write commit like any
    manifest stat; lookup cost is O(selectivity + fpp) files. With
    {BLOOM_SKIP_FILES} files and hash layout each probe lives in
    exactly one file, so the audit also demonstrates the best case:
    candidates ~= true files + fp. Eager-execution, pid-keyed-dir
    convention."""
    import os

    from myserver_datawarehouse_spark.operators.merge import publish_overwrite
    from myserver_datawarehouse_spark.sources.files import bloom_prune_files

    root = _fresh_work("msdw_bloomskip_table", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    version = publish_overwrite(
        spark,
        root,
        e.repartition(BLOOM_SKIP_FILES, "event_id"),
        bloom_columns=["event_id"],
    )
    snapshot = os.path.join(root, version)
    keep, total = bloom_prune_files(
        spark, snapshot, "event_id", BLOOM_PROBE_IDS
    )
    if not keep:
        raise RuntimeError(f"bloom kept 0 of {total} files")
    pruned = spark.read.parquet(*keep).filter(
        F.col("event_id").isin(*BLOOM_PROBE_IDS)
    )
    return (
        pruned.groupBy("event_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_value(),
        )
        .withColumn("files_skipped", F.lit(bool(len(keep) < total)))
        .orderBy("event_id")
    )


BLOOM_FILE_SKIP_AUDIT_SQL = f"""
SELECT event_id, event_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value,
       TRUE AS files_skipped
FROM events
WHERE event_id IN {BLOOM_PROBE_IDS}
GROUP BY event_id, event_type
ORDER BY event_id
"""


BLOOM_EVOLVE_UPDATE_MOD = 5  # event_id % 5 == 0 rows get value*2
BLOOM_EVOLVE_INSERT_MOD = 7  # event_id % 7 == 3 rows clone as inserts
BLOOM_EVOLVE_OFFSET = 100_000_000  # past any real event_id at every SF
# untouched key, updated key, two inserted keys (sources 10 and 31):
BLOOM_EVOLVE_PROBES = (
    11,
    760,
    BLOOM_EVOLVE_OFFSET + 10,
    BLOOM_EVOLVE_OFFSET + 31,
)


def bloom_evolved_carry_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar point-lookup pruning SURVIVING partition-spec
    evolution — a documented decay (evolution-path writes
    used to leave new files uncovered, silently degrading pruning to
    full-candidate), retired by operators/evolution._maintain_root_
    blooms: an evolved merge now carries bloom rows for hardlinked
    files verbatim and runs a fresh distributed pass over ONLY the
    files it wrote — the same O(touched files) commit contract as the
    plain merge path.

    Scenario: publish events hash-distributed over {BLOOM_SKIP_FILES}
    files with an event_id bloom sidecar at write commit; EVOLVE the
    partition spec to (event_type) — zero-copy relink, sidecar paths
    rebased under _layout-0; evolved-MERGE a batch (value*2 updates
    for the event_id % {umod} == 0 cohort, offset-id clones of the
    event_id % {imod} == 3 cohort as inserts). Probe four keys — one
    untouched, one updated, two that exist ONLY in the merge's new
    active-layout files — through sources/files.bloom_prune_files,
    then READ the candidates via sources/files.read_pruned, which
    pairs file pruning with each layout's merge-on-read `_deletes`
    anti-join: the updated key's legacy copy is admitted by its bloom
    row and must die by the delete sidecar, so a pruned read that
    bypassed deletes (the raw `spark.read.parquet(*keep)` footgun this
    helper exists to close) would resurface the pre-update value and
    flip the hash.

    Two flags computed from the actual filesystem ride the output:
      files_skipped — the probe pruned at least one data file;
      bloom_covered — the post-merge sidecar covers EVERY data file of
        the snapshot (the claim the old verbatim carry could not make:
        new files would be uncovered).
    The oracle recomputes the post-merge state from raw events (same
    update/insert rules in SQL) with both flags literal TRUE.

    Scale: the bloom maintenance is O(files the merge wrote) x 8 KiB;
    probes prune manifest-side (executor-side bit tests, candidate
    path strings only to the driver); the read touches O(probed keys
    + fpp) files across both layouts. Eager-execution, pid-keyed-dir
    convention."""
    import os
    from myserver_datawarehouse_spark.operators import evolution as EV
    from myserver_datawarehouse_spark.operators import merge as M
    from myserver_datawarehouse_spark.sources import files as _FS

    root = _fresh_work("msdw_bloomevolve_table", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    M.publish_overwrite(
        spark,
        root,
        e.repartition(BLOOM_SKIP_FILES, "event_id"),
        bloom_columns=["event_id"],
    )
    EV.evolve_partition_spec(spark, root, ["event_type"])
    updates = e.filter(
        F.pmod(F.col("event_id"), F.lit(BLOOM_EVOLVE_UPDATE_MOD)) == 0
    ).withColumn("value", F.col("value") * 2)
    inserts = e.filter(
        F.pmod(F.col("event_id"), F.lit(BLOOM_EVOLVE_INSERT_MOD)) == 3
    ).withColumn("event_id", F.col("event_id") + BLOOM_EVOLVE_OFFSET)
    EV.evolved_merge(
        spark, root, updates.unionByName(inserts), keys=["event_id"]
    )
    snapshot = os.path.join(root, M._published_version(root))
    keep, total = _FS.bloom_prune_files(
        spark, snapshot, "event_id", BLOOM_EVOLVE_PROBES
    )
    if not keep:
        raise RuntimeError(f"bloom kept 0 of {total} files")
    # Deliberately an INDEPENDENT read of the committed sidecar (not a
    # value surfaced by bloom_prune_files): the audit's coverage claim
    # must come from the on-disk artifact, so a prune-path bookkeeping
    # bug cannot vouch for itself. Manifest-scale paths only — read
    # driver-side from the sidecar's parquet footers with column
    # projection (same artifact, one fewer driver-blocking job per rep;
    # the writer-tier rule from sources/files._sidecar_paths_local).
    covered = _FS._sidecar_paths_local(_FS._bloom_dir(snapshot, "event_id"))
    bloom_covered = covered == set(_FS._data_files_relative(snapshot))
    # Reuse the flag probe's own candidate list for the read:
    # read_pruned would re-run the identical bloom prune — same keys,
    # same sidecar — a second time inside one audit.
    pruned = _FS.read_pruned_files(spark, snapshot, keep).filter(
        F.col("event_id").isin(*BLOOM_EVOLVE_PROBES)
    )
    return (
        pruned.groupBy("event_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_value(),
        )
        .withColumn("files_skipped", F.lit(bool(len(keep) < total)))
        .withColumn("bloom_covered", F.lit(bool(bloom_covered)))
        .orderBy("event_id")
    )


bloom_evolved_carry_audit.__doc__ = bloom_evolved_carry_audit.__doc__.format(
    BLOOM_SKIP_FILES=BLOOM_SKIP_FILES,
    umod=BLOOM_EVOLVE_UPDATE_MOD,
    imod=BLOOM_EVOLVE_INSERT_MOD,
)


BLOOM_EVOLVED_CARRY_AUDIT_SQL = f"""
WITH merged AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % {BLOOM_EVOLVE_UPDATE_MOD} = 0
              THEN value * 2 ELSE value END AS value
  FROM events
  UNION ALL
  SELECT event_id + {BLOOM_EVOLVE_OFFSET} AS event_id, event_type, value
  FROM events WHERE event_id % {BLOOM_EVOLVE_INSERT_MOD} = 3
)
SELECT event_id, event_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value,
       TRUE AS files_skipped,
       TRUE AS bloom_covered
FROM merged
WHERE event_id IN {BLOOM_EVOLVE_PROBES}
GROUP BY event_id, event_type
ORDER BY event_id
"""


# ------------------------------------------------- change data feed

CDF_INSERT_MOD = 97
CDF_INSERT_OFFSET = 100_000_000  # past any real event_id at every SF
CDF_UPDATE_BUMP = 1000.0  # always changes value (min(value) > 0)


def table_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two WAP snapshots, driver-adjudicated —
    the Delta CDF / Iceberg changelog capability computed from the
    versions the writer already retains (`operators/merge.table_changes`).
    The scenario exercises every change type in one diff:

      v1 = the events table;
      v2 = v1 minus the erased users (user_id % {ERASURE_MOD} == 0 →
           DELETEs), with purchase rows' value bumped by
           {CDF_UPDATE_BUMP} (→ UPDATEs), plus survivor rows with
           event_id % {CDF_INSERT_MOD} == 0 re-keyed past the id domain
           (→ INSERTs); everything else → unchanged.

    The output is the per-change-type rollup (row count + value sum,
    value taken from the TO side where present, FROM side for
    deletes — exactly what a CDC consumer applies downstream), and the
    oracle recomputes each class from the raw source by the same
    predicates — a misclassified key (a missed update, a delete
    surfacing as unchanged, an insert double-counted) shifts a class
    total and flips the hash.

    Scale: the diff is ONE key-shuffled full-outer join between the
    two snapshots — the same cost envelope as the merge that produced
    v2; a real table format derives the feed from per-commit file
    metadata instead, with identical semantics (which is what this
    adjudication pins). Null-safe column compare means value flips
    to/from NULL classify as updates, not noise. Eager-execution,
    pid-keyed-dir convention."""
    from myserver_datawarehouse_spark.operators.merge import (
        publish_overwrite,
        table_changes,
    )

    root = _fresh_work("msdw_cdf_table", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    v1 = publish_overwrite(spark, root, e)
    survivors = e.filter(~_erased_user())
    updated = survivors.withColumn(
        "value",
        F.when(
            F.col("event_type") == "purchase",
            F.col("value") + F.lit(CDF_UPDATE_BUMP),
        ).otherwise(F.col("value")),
    )
    inserts = survivors.filter(
        F.pmod(F.col("event_id"), F.lit(CDF_INSERT_MOD)) == 0
    ).select(
        (F.col("event_id") + F.lit(CDF_INSERT_OFFSET)).alias("event_id"),
        "user_id",
        "event_type",
        "value",
    )
    v2 = publish_overwrite(spark, root, updated.unionByName(inserts))
    changes = table_changes(spark, root, v1, v2, keys=["event_id"])
    return (
        changes.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_value(),
        )
        .orderBy("change_type")
    )


TABLE_CHANGES_FEED_SQL = f"""
SELECT 'delete' AS change_type, COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value
FROM events WHERE user_id % {ERASURE_MOD} = 0
UNION ALL
SELECT 'insert', COUNT(*),
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM events
WHERE user_id % {ERASURE_MOD} != 0 AND event_id % {CDF_INSERT_MOD} = 0
UNION ALL
SELECT 'unchanged', COUNT(*),
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM events
WHERE user_id % {ERASURE_MOD} != 0 AND event_type != 'purchase'
UNION ALL
SELECT 'update', COUNT(*),
       CAST(ROUND(SUM(CAST(value + {CDF_UPDATE_BUMP} AS DECIMAL(18,6))), 2)
            AS DOUBLE)
FROM events
WHERE user_id % {ERASURE_MOD} != 0 AND event_type = 'purchase'
ORDER BY change_type
"""


# -------------------------------------- merge-on-read deletion vectors


def deletion_vector_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion, driver-adjudicated (the Iceberg v2
    equality-delete / Delta deletion-vector capability the reference
    entirely lacks — erasure there is a full-table rewrite). The
    scenario: publish the events table, erase the GDPR cohort
    (user_id % {mod} == 0) through `operators/merge.delete_where`,
    which commits a new snapshot that HARDLINKS every data file and
    writes only a small deleted-keys sidecar; then run the survivor
    rollup through the merge-on-read reader, major-compact (folding
    the deletes into rewritten files), and run the rollup again.

    Three claims ride the output as checked flags, each computed from
    the actual filesystem / plans rather than assumed:

      zero_files_rewritten — every data file of the delete commit is
        the SAME INODE as the previous version's (true copy-on-write:
        O(deleted keys) bytes written for the erasure, not O(table));
      sidecar_small — the delete sidecar is smaller than the data it
        logically edits (the 100 TB argument in one bit);
      compaction_consistent — per-group row counts and value sums are
        null-safe identical before and after compaction (merge-on-read
        and copy-on-write views of the table agree exactly).

    The oracle recomputes the survivor rollup from the raw source; a
    reader that leaks a deleted row, drops a survivor, or a compaction
    that diverges flips a class total or a flag and fails the hash.

    Scale: the delete commit is metadata-sized; the MOR read adds one
    broadcast anti-join (delete set ≪ data) to the scan; compaction is
    the one deliberate rewrite, scheduled, not per-erasure.
    Reference parity: replaces the rewrite-everything erasure pattern
    (SURVEY.md §2.1 S4/S7)."""
    import os
    from myserver_datawarehouse_spark.operators.merge import (
        compact_table,
        delete_where,
        publish_overwrite,
        read_published,
    )

    def _data_files(vdir: str) -> dict[str, os.stat_result]:
        out = {}
        for r, dirs, files in os.walk(vdir):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for f in files:
                if not f.startswith((".", "_")):
                    out[f] = os.stat(os.path.join(r, f))
        return out

    root = _fresh_work("msdw_dv_table", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    v1 = publish_overwrite(spark, root, e)
    v1_files = _data_files(os.path.join(root, v1))
    v2 = delete_where(
        spark,
        root,
        _erased_user(),
        keys=["event_id"],
    )
    v2_dir = os.path.join(root, v2)
    v2_files = _data_files(v2_dir)
    zero_rewritten = bool(v2_files) and all(
        f in v1_files and st.st_ino == v1_files[f].st_ino
        for f, st in v2_files.items()
    )
    sidecar_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, files in os.walk(os.path.join(v2_dir, "_deletes"))
        for f in files
        if not f.startswith((".", "_"))
    )
    data_bytes = sum(st.st_size for st in v2_files.values())
    sidecar_small = 0 < sidecar_bytes < data_bytes

    def _rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_value(),
        )

    mor = _rollup(read_published(spark, root))  # plan pinned to v2
    compact_table(spark, root)
    cow = _rollup(read_published(spark, root)).withColumnsRenamed(
        {"n_rows": "c_rows", "sum_value": "c_sum"}
    )
    return (
        mor.join(cow, "event_type", "full_outer")
        .select(
            "event_type",
            "n_rows",
            "sum_value",
            F.lit(zero_rewritten).alias("zero_files_rewritten"),
            F.lit(sidecar_small).alias("sidecar_small"),
            (
                F.col("n_rows").eqNullSafe(F.col("c_rows"))
                & F.col("sum_value").eqNullSafe(F.col("c_sum"))
            ).alias("compaction_consistent"),
        )
        .orderBy("event_type")
    )


DELETION_VECTOR_AUDIT_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value,
       TRUE AS zero_files_rewritten,
       TRUE AS sidecar_small,
       TRUE AS compaction_consistent
FROM events
WHERE user_id % {ERASURE_MOD} != 0
GROUP BY event_type
ORDER BY event_type
"""


# -------------------------- incremental JOIN-view maintenance (IVM)

IVM_ORDERS_CUTOFF = "1997-01-01"
IVM_SHIP_CUTOFF = "1997-03-01"


def incremental_join_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO-SIDED incremental view maintenance for a JOIN view — the
    delta-algebra upgrade of `incremental_agg_maintenance` (which
    maintains a single-relation aggregate): for V = γ(A ⋈ B) with
    BOTH relations receiving new rows,

        ΔV = γ(ΔA ⋈ B₀) ⊕ γ(A₀ ⋈ ΔB) ⊕ γ(ΔA ⋈ ΔB)

    and the maintained view is base ⊕ ΔV (decimal partials are
    associative, so ⊕ is a union + re-aggregate). A = orders split at
    o_orderdate {oc}; B = lineitem split at l_shipdate {sc}; the
    view is revenue per o_orderpriority. All four quadrants are
    genuinely populated at every SF.

    The output carries the maintained rollup AND an `ivm_consistent`
    flag null-safe-comparing it against the full recompute γ(A ⋈ B)
    inside the same job — the oracle recomputes the rollup from
    scratch, so a wrong delta term (the classic bug: forgetting
    ΔA ⋈ ΔB, or double-counting it) breaks both the flag and the
    hash.

    Scale: this is the refresh plan a stored join-view runs at 100 TB
    — the base aggregate is a stored table (built inline here, like
    the agg-IVM query), and only delta-sized joins execute per
    refresh: ΔA ⋈ B₀ and A₀ ⋈ ΔB shuffle O(|Δ| + matched keys), with
    the runtime bloom/DPP pruning the stored side's scan; nothing
    rescans history ⋈ history."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        _disc_price(1.0)
        .cast("decimal(28,6)")
        .alias("rev"),
    )
    oc = F.lit(IVM_ORDERS_CUTOFF).cast("timestamp")
    sc = F.lit(IVM_SHIP_CUTOFF).cast("timestamp")
    a0 = o.filter(F.col("o_orderdate") < oc)
    da = o.filter(F.col("o_orderdate") >= oc)
    b0 = li.filter(F.col("l_shipdate") < sc)
    db = li.filter(F.col("l_shipdate") >= sc)

    def _agg(orders_side: DataFrame, items_side: DataFrame) -> DataFrame:
        return (
            orders_side.join(
                items_side,
                orders_side["o_orderkey"] == items_side["l_orderkey"],
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("rev").alias("s"),
            )
        )

    base = _agg(a0, b0)  # stands for the stored view
    maintained = (
        base.unionByName(_agg(da, b0))
        .unionByName(_agg(a0, db))
        .unionByName(_agg(da, db))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_items"),
            F.sum(F.col("s").cast("decimal(28,6)")).alias("s"),
        )
    )
    recomputed = (
        _agg(o, li)
        .withColumnsRenamed({"n": "rn", "s": "rs"})
    )
    return (
        maintained.join(recomputed, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            "n_items",
            F.round(F.col("s"), 2).cast("double").alias("revenue"),
            (
                F.col("n_items").eqNullSafe(F.col("rn"))
                & F.col("s")
                .cast("decimal(28,6)")
                .eqNullSafe(F.col("rs").cast("decimal(28,6)"))
            ).alias("ivm_consistent"),
        )
        .orderBy("o_orderpriority")
    )


incremental_join_maintenance.__doc__ = (
    incremental_join_maintenance.__doc__.format(
        oc=IVM_ORDERS_CUTOFF, sc=IVM_SHIP_CUTOFF
    )
)


INCREMENTAL_JOIN_MAINTENANCE_SQL = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       TRUE AS ivm_consistent
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
ORDER BY 1
"""


# ----------------------- numeric profiling: correlation/regression

CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def column_correlation_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multivariate numeric profiling: Pearson correlation and the OLS
    regression line (slope, intercept of y on x) for every pair of
    lineitem measures, from ONE pass of decimal-exact moments — the
    column-relationship scan a data-quality monitor runs before
    trusting a feature (is discount coupled to price? did a loader
    break the quantity/price relationship?).

    Exactness policy: the 15 moments (count, 4 sums, 4 sum-of-squares,
    6 cross-products) accumulate in DECIMAL — exact integers of scale
    12, so partition order cannot matter — and are cast to double
    once, after which corr/slope/intercept are identically-
    parenthesized double arithmetic in both engines (IEEE-determined,
    rounded to 6 dp). The oracle recomputes the same moments in SQL.

    Scale: a single map-side-combinable aggregate to ONE row — zero
    shuffle beyond the 32-partial reduce — then 6 driver-trivial
    projections. This is the textbook mergeable-moments pattern: the
    same 15 numbers maintain the profile incrementally forever."""
    li = load_table(spark, sf_dir, "lineitem").select(*CORR_COLS)
    d = {c: F.col(c).cast("decimal(18,6)") for c in CORR_COLS}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in CORR_COLS:
        aggs.append(F.sum(d[c]).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(d[c] * d[c]).cast("double").alias(f"q_{c}"))
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            aggs.append(F.sum(d[a] * d[b]).cast("double").alias(f"p_{a}_{b}"))
    m = li.agg(*aggs)
    out = None
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            n = F.col("n").cast("double")
            num = n * F.col(f"p_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            dx = n * F.col(f"q_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
            dy = n * F.col(f"q_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
            row = m.select(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col("n"),
                # + 0.0 normalizes IEEE negative zero (a slope that
                # rounds to -0.0 must hash like 0.0 in both engines)
                (F.round(num / F.sqrt(dx * dy), 6) + F.lit(0.0)).alias(
                    "corr"
                ),
                (F.round(num / dx, 6) + F.lit(0.0)).alias("slope"),
                (
                    F.round(
                        (F.col(f"s_{b}") - (num / dx) * F.col(f"s_{a}"))
                        / n,
                        6,
                    )
                    + F.lit(0.0)
                ).alias("intercept"),
            )
            out = row if out is None else out.unionByName(row)
    return out.orderBy("col_x", "col_y")


def _corr_profile_sql() -> str:
    moments = ["COUNT(*) AS n"]
    for c in CORR_COLS:
        moments.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) AS s_{c}"
        )
        # DECIMAL(19,6), not (18,6): forces DuckDB onto the int128
        # representation — the int64-backed width-18 multiply overflows
        # (Spark's BigDecimal path is width-agnostic; values identical)
        moments.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(19,6))"
            f" * CAST({c} AS DECIMAL(19,6))) AS DOUBLE) AS q_{c}"
        )
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            moments.append(
                f"CAST(SUM(CAST({a} AS DECIMAL(19,6))"
                f" * CAST({b} AS DECIMAL(19,6))) AS DOUBLE) AS p_{a}_{b}"
            )
    rows = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            n = "CAST(n AS DOUBLE)"
            num = f"({n} * p_{a}_{b} - s_{a} * s_{b})"
            dx = f"({n} * q_{a} - s_{a} * s_{a})"
            dy = f"({n} * q_{b} - s_{b} * s_{b})"
            rows.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, n,\n"
                f"  ROUND({num} / sqrt({dx} * {dy}), 6) + 0.0 AS corr,\n"
                f"  ROUND({num} / {dx}, 6) + 0.0 AS slope,\n"
                f"  ROUND((s_{b} - ({num} / {dx}) * s_{a}) / {n}, 6) + 0.0"
                f" AS intercept\nFROM m"
            )
    return (
        "WITH m AS (SELECT " + ",\n  ".join(moments)
        + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY col_x, col_y"
    )


COLUMN_CORRELATION_PROFILE_SQL = _corr_profile_sql()


# ------------------------- SCD2 point-in-time (PIT) dimension join


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against an SCD2 dimension — the consuming
    half of `scd2_user_history` (which builds versions but nothing
    reads them): non-purchase events are state observations collapsed
    into [valid_from, valid_to) versions per user, and each purchase
    is joined to the version VALID AT ITS TIMESTAMP — \"what state was
    this user in when they bought\" — the temporal-correctness join
    every warehouse needs to avoid leaking future dimension values
    into historical facts.

    Join shape: equi-join on user_id with the interval predicate in
    the join condition — per-user version counts are small, so the
    range filter rides the equi-join's hash exchange (no interval
    index needed); intervals are disjoint by construction, so each
    fact matches at most one version, and pre-first-observation
    purchases land in an explicit 'pre_history' bucket via the left
    join (never silently dropped).

    The oracle rebuilds the identical versions (same window algebra as
    the SCD2 history oracle) and the identical interval join — an
    off-by-one at a version boundary (purchase ts == valid_from must
    match the NEW version: [from, to) semantics) moves rows between
    states and flips the hash.

    Scale: one window pass over observations (user-keyed sort), one
    user-keyed equi-join; both shuffles are the minimum any
    per-entity history walk moves. 100 TB form unchanged."""
    e = load_table(spark, sf_dir, "events")
    obs = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = obs.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        F.sum(changed)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("version"),
    )
    versions = runs.groupBy("user_id", "version", "state").agg(
        F.min("ts").alias("valid_from")
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    high_date = F.lit("2200-01-01 00:00:00").cast("timestamp")
    dim = versions.withColumn(
        "valid_to",
        F.coalesce(F.lead("valid_from").over(wv), high_date),
    ).select(
        F.col("user_id").alias("d_user"), "state", "valid_from", "valid_to"
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    cond = (
        (p["user_id"] == dim["d_user"])
        & (dim["valid_from"] <= p["ts"])
        & (p["ts"] < dim["valid_to"])
    )
    return (
        p.join(dim, cond, "left")
        .select(
            F.coalesce(F.col("state"), F.lit("pre_history")).alias(
                "state_at_purchase"
            ),
            "value",
        )
        .groupBy("state_at_purchase")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            _sum_value(),
        )
        .orderBy("state_at_purchase")
    )


SCD2_POINT_IN_TIME_JOIN_SQL = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
         value
  FROM events
),
obs AS (SELECT * FROM e WHERE event_type <> 'purchase'),
flagged AS (
  SELECT *,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS changed
  FROM obs
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, event_type AS state, ts,
         SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
  FROM flagged
),
versions AS (
  SELECT user_id, version, state, MIN(ts) AS valid_from
  FROM runs GROUP BY 1, 2, 3
),
dim AS (
  SELECT user_id AS d_user, state, valid_from,
         COALESCE(lead(valid_from) OVER (PARTITION BY user_id
                                         ORDER BY version),
                  TIMESTAMP '2200-01-01 00:00:00') AS valid_to
  FROM versions
),
p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
SELECT COALESCE(d.state, 'pre_history') AS state_at_purchase,
       COUNT(*) AS n_purchases,
       CAST(ROUND(SUM(CAST(p.value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value
FROM p
LEFT JOIN dim d
  ON d.d_user = p.user_id
 AND d.valid_from <= p.ts AND p.ts < d.valid_to
GROUP BY 1
ORDER BY 1
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order MARKOV transition matrix over per-user event
    sequences: for every user's events ordered by (ts, event_id), the
    (from_type → to_type) transition counts, row-normalized into
    probabilities — the behavioral-analytics primitive under funnel
    prediction, anomaly scoring and synthetic-sequence generation.

    One user-keyed shuffle does everything: the LEAD window rides the
    (user_id, ts) sort, the transition rollup is a map-side-combinable
    count on the (from, to) pair, and row-normalization is a window
    SUM over the already-aggregated transition frame (event-type² rows
    — re-keying THAT costs nothing, while a join against a separately
    computed totals frame would duplicate the whole corpus scan +
    window subtree, which is exactly what the first cut of this plan
    did until PLANS.md showed the doubled Exchange tree). Probabilities
    are n/total on exact integers, rounded to 6 dp — identical in both
    engines.

    Scale: the only corpus-sized cost is the per-user sort (shared
    shape with user_sessionization, one Exchange); everything after
    is event-type-cardinality-sized. Reference parity: none — an
    analytics-tier addition."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_tot = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_tot),
            6,
        ).alias("p"),
    ).orderBy("from_type", "to_type")


EVENT_TRANSITION_MATRIX_SQL = """
WITH e AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events
),
seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM e
),
trans AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_type, SUM(n_transitions) AS tot
  FROM trans GROUP BY 1
)
SELECT t.from_type, t.to_type, t.n_transitions,
       ROUND(CAST(t.n_transitions AS DOUBLE) / tot.tot, 6) AS p
FROM trans t JOIN tot USING (from_type)
ORDER BY from_type, to_type
"""


# --------------------------- market-basket association rules (A-priori)

AFFINITY_MIN_SUPPORT = 5  # min co-occurring baskets for a rule


def brand_affinity_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: for every ordered
    brand pair co-occurring in >= {AFFINITY_MIN_SUPPORT} orders, emit
    support, confidence(a -> b) and lift — the frequent-itemset tier
    (k=2) of a recommender / assortment pipeline.

    Scale shape: the basket table is ONE hash aggregate
    (orderkey -> sorted distinct brand array, bounded by the 25-brand
    vocabulary), and pair generation is ARRAY-LOCAL inside that row —
    no self-join of the (order, brand) table on orderkey, so the
    shuffle is one groupBy on the fact key and the pair explosion is
    C(|basket|, 2) map-side rows. Supports and the rule join touch
    only the brand-pair vocabulary (<= 25*24 rows), all broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    baskets = b.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("bs")
    )
    n_total = baskets.agg(F.count(F.lit(1)).alias("n"))
    idx = F.sequence(F.lit(0), F.size("bs") - 2)
    pair_structs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(F.col("bs"), i + 2, F.size("bs")),
                lambda y: F.struct(
                    F.element_at(F.col("bs"), i + 1).alias("x"), y.alias("y")
                ),
            ),
        )
    )
    pairs = (
        baskets.filter(F.size("bs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= AFFINITY_MIN_SUPPORT)
    )
    singles = b.groupBy("p_brand").agg(F.count(F.lit(1)).alias("s"))
    directed = pairs.select("x", "y", "support").unionByName(
        pairs.select(
            F.col("y").alias("x"), F.col("x").alias("y"), "support"
        )
    )
    out = (
        directed.join(
            F.broadcast(
                singles.select(
                    F.col("p_brand").alias("x"), F.col("s").alias("s_x")
                )
            ),
            "x",
        )
        .join(
            F.broadcast(
                singles.select(
                    F.col("p_brand").alias("y"), F.col("s").alias("s_y")
                )
            ),
            "y",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            "support",
            F.round(
                F.col("support").cast("double") / F.col("s_x").cast("double"),
                6,
            ).alias("confidence"),
            F.round(
                (F.col("support") * F.col("n")).cast("double")
                / (F.col("s_x") * F.col("s_y")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )
    return out


brand_affinity_rules.__doc__ = brand_affinity_rules.__doc__.format(
    AFFINITY_MIN_SUPPORT=AFFINITY_MIN_SUPPORT
)


BRAND_AFFINITY_RULES_SQL = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n_total AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM b),
pairs AS (
  SELECT a.p_brand AS x, c.p_brand AS y, COUNT(*) AS support
  FROM b a JOIN b c
    ON a.l_orderkey = c.l_orderkey AND a.p_brand < c.p_brand
  GROUP BY 1, 2
  HAVING COUNT(*) >= {AFFINITY_MIN_SUPPORT}
),
singles AS (SELECT p_brand, COUNT(*) AS s FROM b GROUP BY 1),
directed AS (
  SELECT x, y, support FROM pairs
  UNION ALL
  SELECT y AS x, x AS y, support FROM pairs
)
SELECT d.x AS antecedent, d.y AS consequent, d.support,
       ROUND(CAST(d.support AS DOUBLE) / sx.s, 6) AS confidence,
       ROUND(CAST(d.support * n_total.n AS DOUBLE) / (sx.s * sy.s), 6)
         AS lift
FROM directed d
JOIN singles sx ON sx.p_brand = d.x
JOIN singles sy ON sy.p_brand = d.y
CROSS JOIN n_total
ORDER BY antecedent, consequent
"""


# ------------------------------- CUSUM changepoint over minute counts


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection per event type: CUSUM of per-minute event
    counts against the series' own mean; report the minute where the
    cumulative deviation peaks (the classic single-changepoint
    estimator — where the rate shifted, if it shifted).

    Exactness: CUSUM_k = prefix_k - k*mean is held as the INTEGER
    numerator n*prefix_k - k*total (mean = total/n never materializes
    as a float), so the argmax decision is exact bigint comparison;
    the reported cusum divides once at the output edge.

    Scale shape: the heavy reduction (events -> minute counts) is one
    map-side-combinable groupBy; the sequential pass runs per type
    over MINUTE rows, whose count is bounded by the calendar (~526k
    rows/type/year), not by event volume — so the per-type window
    partition stays small no matter how many raw events back it.
    """
    ev = load_table(spark, sf_dir, "events")
    mins = (
        ev.select(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .groupBy("event_type", "minute")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    cur = (
        mins.withColumn("prefix", F.sum("cnt").over(w))
        .withColumn("k", F.row_number().over(
            Window.partitionBy("event_type").orderBy("minute")
        ))
        .withColumn("n", F.count(F.lit(1)).over(tot))
        .withColumn("total", F.sum("cnt").over(tot))
        .withColumn(
            "dev_num", F.col("n") * F.col("prefix") - F.col("k") * F.col("total")
        )
    )
    pick = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.abs(F.col("dev_num")).desc(), F.col("minute").asc()
        )
    )
    return (
        cur.withColumn("rn", pick)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("minute").alias("cp_minute"),
            F.col("n").alias("n_minutes"),
            F.round(
                F.col("dev_num").cast("double") / F.col("n").cast("double"), 6
            ).alias("cusum_peak"),
        )
        .orderBy("event_type")
    )


CUSUM_CHANGEPOINT_SQL = """
WITH mins AS (
  SELECT event_type, date_trunc('minute', ts) AS minute, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
cur AS (
  SELECT event_type, minute,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY minute
                        ROWS UNBOUNDED PRECEDING) AS prefix,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY minute) AS k,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(cnt) OVER (PARTITION BY event_type) AS total
  FROM mins
),
dev AS (
  SELECT *, n * prefix - k * total AS dev_num FROM cur
)
SELECT event_type, minute AS cp_minute, n AS n_minutes,
       ROUND(CAST(dev_num AS DOUBLE) / n, 6) AS cusum_peak
FROM (
  SELECT dev.*, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY abs(dev_num) DESC, minute ASC) AS rn
  FROM dev)
WHERE rn = 1
ORDER BY event_type
"""


# ----------------- equi-depth histogram via distributed global rank

EQUI_DEPTH_BINS = 16


def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals: {EQUI_DEPTH_BINS} bins with
    (near-)equal row counts — the optimizer/statistics histogram shape
    (`value_histogram` is the equi-WIDTH twin). Bucket boundaries are
    exact NTILE semantics, but computed WITHOUT the single-partition
    global window: `operators/ranking.global_rank` range-partitions on
    (o_totalprice, o_orderkey), ranks locally, and shifts by broadcast
    partition offsets — every stage parallel, the one driver object a
    #partitions-row count list. The NTILE bucket is then pure integer
    arithmetic on the exact rank (ranking.ntile_from_rank), so the
    distributed plan reproduces the window function bit-for-bit — the
    oracle IS `NTILE({EQUI_DEPTH_BINS}) OVER (ORDER BY ...)`.
    """
    from myserver_datawarehouse_spark.operators.ranking import (
        global_rank,
        ntile_from_rank,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_rank(o, ["o_totalprice", "o_orderkey"], rank_col="r")
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    binned = ranked.crossJoin(F.broadcast(n)).withColumn(
        "bin", ntile_from_rank(F.col("r"), F.col("n"), EQUI_DEPTH_BINS)
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("bin_total"),
        )
        .orderBy("bin")
    )


equi_depth_histogram.__doc__ = equi_depth_histogram.__doc__.format(
    EQUI_DEPTH_BINS=EQUI_DEPTH_BINS
)


EQUI_DEPTH_HISTOGRAM_SQL = f"""
WITH q AS (
  SELECT o_totalprice,
         NTILE({EQUI_DEPTH_BINS}) OVER (
           ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT bin, COUNT(*) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS bin_total
FROM q GROUP BY bin ORDER BY bin
"""


# ------------------------------------ Pareto skyline (2-D dominance)


def supplier_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of suppliers on (revenue UP, returned revenue
    DOWN): the suppliers no other supplier beats on both axes — the
    multi-objective "best vendors" query a sourcing dashboard runs,
    and a genuinely non-SQL-native operator (dominance is a quantified
    NOT EXISTS, quadratic if evaluated naively).

    Plan: one exact-decimal fact aggregate per supplier, then
    `operators/ranking.skyline_2d` — the distributive local-skyline /
    global-skyline reduction (domination is transitive, so per-bucket
    survivors suffice), each phase a sort-based window sweep, never a
    pairwise self-join. The oracle IS the naive NOT EXISTS, so the
    adjudication proves the O(n log n) plan equals the O(n^2) spec.
    """
    from myserver_datawarehouse_spark.operators.ranking import skyline_2d

    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    per = li.groupBy("l_suppkey").agg(
        F.sum(rev).alias("revenue"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", rev).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        ).alias("returned_rev"),
    )
    sky = skyline_2d(
        per, maximize="revenue", minimize="returned_rev", tie_break="l_suppkey"
    )
    return sky.select(
        F.col("l_suppkey").alias("s_suppkey"),
        F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
        F.round(F.col("returned_rev").cast("double"), 2).alias("returned_rev"),
    ).orderBy("s_suppkey")


SUPPLIER_PARETO_SKYLINE_SQL = """
WITH per AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue,
         SUM(CASE WHEN l_returnflag = 'R'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))
                  ELSE 0 END) AS returned_rev
  FROM lineitem GROUP BY 1
)
SELECT l_suppkey AS s_suppkey,
       ROUND(CAST(revenue AS DOUBLE), 2) AS revenue,
       ROUND(CAST(returned_rev AS DOUBLE), 2) AS returned_rev
FROM per a
WHERE NOT EXISTS (
  SELECT 1 FROM per b
  WHERE b.revenue >= a.revenue AND b.returned_rev <= a.returned_rev
    AND (b.revenue > a.revenue OR b.returned_rev < a.returned_rev)
)
ORDER BY s_suppkey
"""


# --------------------------- partition-spec evolution (Iceberg shape)

EVOLVE_UPDATE_MOD = 5  # user_id % MOD == 0 rows get value*2 in the batch
EVOLVE_INSERT_MOD = 7  # user_id % MOD == 3 rows are cloned as inserts
EVOLVE_INSERT_OFFSET = 100_000_000


def partition_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION, driver-adjudicated (the Iceberg
    capability of repartitioning a table for future writes without
    rewriting existing data — the reference repartitions by dropping
    and reloading the whole table). Scenario: publish events
    partitioned by day; evolve the spec to (day, event_type); merge a
    batch (updates double the value of the user_id % {umod} == 0
    cohort, inserts clone the user_id % {imod} == 3 cohort under
    offset ids) through `operators/evolution.evolved_merge`; rollup
    per event type through the spec-union reader; major-compact into
    the active spec and roll up again.

    Four claims ride the output as flags computed from the actual
    filesystem, not assumed:

      evolve_zero_copy — the evolution commit hardlinked every data
        file (same inodes): re-partitioning wrote ZERO data bytes;
      legacy_untouched — the merge left every legacy-layout data file
        the same inode; superseded legacy rows died by an equality-
        delete sidecar, not a rewrite;
      new_files_active_only — every data file the merge created lives
        under the ACTIVE layout (new writes follow the new spec);
      compaction_consistent — the per-type rollup is identical through
        the multi-layout reader and after the compaction rewrite.

    The oracle recomputes the expected post-merge state from the raw
    source (same update/insert rules in SQL), so a reader that loses a
    legacy row, resurrects a superseded one, or double-counts across
    layouts flips a group total and fails the hash.

    Scale: evolution is O(files) metadata; the merge writes O(batch)
    data + O(batch keys) delete bytes; only the scheduled compaction
    rewrites — exactly the 100 TB repartitioning story.
    Reference parity: replaces populate_sources_dag.py's drop-and-
    reload repartitioning."""
    import os
    from myserver_datawarehouse_spark.operators import evolution as EV
    from myserver_datawarehouse_spark.operators import merge as M
    from myserver_datawarehouse_spark.session import parallel_actions

    def _data_inodes(base: str) -> dict[str, int]:
        out = {}
        for r, dirs, files in os.walk(base):
            dirs[:] = [d for d in dirs if d != "_deletes" and not d.startswith(".")]
            for f in files:
                if f.endswith(".parquet"):
                    out[os.path.join(os.path.relpath(r, base), f)] = os.stat(
                        os.path.join(r, f)
                    ).st_ino
        return out

    root = _fresh_work("msdw_evolve_table", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("day"),
    )
    M.publish_overwrite(spark, root, ev, partition_by=["day"])
    v1_dir = os.path.join(root, M._published_version(root))
    v1_inodes = _data_inodes(v1_dir)
    EV.evolve_partition_spec(spark, root, ["day", "event_type"])
    v2_dir = os.path.join(root, M._published_version(root))
    l0 = EV._layout_dir(v2_dir, 0)
    evolve_zero_copy = bool(v1_inodes) and _data_inodes(l0) == v1_inodes
    l0_before = _data_inodes(l0)
    updates = ev.filter(
        F.pmod(F.col("user_id"), F.lit(EVOLVE_UPDATE_MOD)) == 0
    ).withColumn("value", F.col("value") * 2)
    inserts = ev.filter(
        F.pmod(F.col("user_id"), F.lit(EVOLVE_INSERT_MOD)) == 3
    ).withColumn("event_id", F.col("event_id") + EVOLVE_INSERT_OFFSET)
    EV.evolved_merge(
        spark, root, updates.unionByName(inserts), keys=["event_id"]
    )
    v3_dir = os.path.join(root, M._published_version(root))
    l0_after = _data_inodes(EV._layout_dir(v3_dir, 0))
    legacy_untouched = l0_after == l0_before
    # New inodes introduced by the merge must all live under _layout-1.
    old_inodes = set(l0_before.values())
    new_outside_active = {
        p: ino
        for p, ino in _data_inodes(v3_dir).items()
        if ino not in old_inodes and "_layout-1" not in p
    }
    new_files_active_only = not new_outside_active and bool(
        _data_inodes(EV._layout_dir(v3_dir, 1))
    )
    rollup_cols = [
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_value"),
    ]
    # Pre-compaction rollup pinned to the published version dir, then
    # collected CONCURRENTLY with the compaction rewrite: both read the
    # same immutable v3 snapshot — the pin makes that explicit (no
    # read-through-manifest race), and the rollup's tasks back-fill the
    # rewrite's stage tails.
    v3_pre = os.path.join(root, M._published_version(root))
    rollup = (
        EV.read_snapshot_dir(spark, v3_pre)
        .groupBy("event_type")
        .agg(*rollup_cols)
    )
    before_rows, _ = parallel_actions(
        rollup.collect, lambda: EV.compact_evolved(spark, root)
    )
    before = {r.event_type: (r.n_rows, r.sum_value) for r in before_rows}
    after = {
        r.event_type: (r.n_rows, r.sum_value)
        for r in M.read_published(spark, root)
        .groupBy("event_type")
        .agg(*rollup_cols)
        .collect()
    }
    compaction_consistent = before == after
    flags = (
        F.lit(bool(evolve_zero_copy)).alias("evolve_zero_copy"),
        F.lit(bool(legacy_untouched)).alias("legacy_untouched"),
        F.lit(bool(new_files_active_only)).alias("new_files_active_only"),
        F.lit(bool(compaction_consistent)).alias("compaction_consistent"),
    )
    return (
        EV.read_evolved(spark, root)
        .groupBy("event_type")
        .agg(*rollup_cols)
        .select("event_type", "n_rows", "sum_value", *flags)
        .orderBy("event_type")
    )


partition_evolution_audit.__doc__ = partition_evolution_audit.__doc__.format(
    umod=EVOLVE_UPDATE_MOD, imod=EVOLVE_INSERT_MOD
)


PARTITION_EVOLUTION_AUDIT_SQL = f"""
WITH src AS (
  SELECT event_id, user_id, event_type, value FROM events
),
merged AS (
  -- rows not superseded by the update batch (NULL user_id is never
  -- in the batch, so it must survive — hence the explicit IS NULL arm)
  SELECT event_id, event_type, value FROM src
  WHERE user_id IS NULL OR user_id % {EVOLVE_UPDATE_MOD} <> 0
  UNION ALL
  -- the update batch's rows (value doubled)
  SELECT event_id, event_type, value * 2 AS value FROM src
  WHERE user_id % {EVOLVE_UPDATE_MOD} = 0
  UNION ALL
  -- the cloned inserts under offset ids
  SELECT event_id + {EVOLVE_INSERT_OFFSET} AS event_id, event_type, value
  FROM src WHERE user_id % {EVOLVE_INSERT_MOD} = 3
)
SELECT event_type,
       COUNT(*) AS n_rows,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_value,
       TRUE AS evolve_zero_copy,
       TRUE AS legacy_untouched,
       TRUE AS new_files_active_only,
       TRUE AS compaction_consistent
FROM merged
GROUP BY event_type
ORDER BY event_type
"""


# ------------------------- seasonal-naive forecast backtest

BACKTEST_TRAIN_DAYS = 20  # day-of-month <= N trains, rest tests


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST as dataflow: fit the seasonal-naive model
    (per event type, the mean value at each hour-of-day over the
    training window) and score it on the held-out tail — the
    train/score/evaluate loop every metrics-forecasting pipeline runs,
    expressed as two aggregates and a join, no driver-side model
    object.

    Exactness: the per-group MAE is assembled WITHOUT ever averaging
    in floats — each test row contributes |x*c_g - s_g| in exact
    decimal (x scaled by the group's training count so the training
    mean never materializes), the deviations sum exactly, and the two
    output doubles (seasonal_mean, mae) each come from ONE division at
    the output edge, rounded identically in the oracle.

    Scale: one map-side-combinable aggregate over the train split
    (group space = types x 24), a broadcast model join onto the test
    scan, one rollup. Test groups without training data drop (inner
    join) — the honest contract: the model cannot score a season it
    never saw."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    dec = F.col("value").cast("decimal(18,6)")
    train = ev.filter(F.dayofmonth("ts") <= BACKTEST_TRAIN_DAYS)
    test = ev.filter(F.dayofmonth("ts") > BACKTEST_TRAIN_DAYS)
    model = train.groupBy(
        "event_type", F.hour("ts").alias("hod")
    ).agg(
        F.sum(dec).alias("s_g"),
        F.count(F.lit(1)).alias("c_g"),
    )
    dev = F.abs(dec * F.col("c_g") - F.col("s_g"))
    scored = (
        test.select("event_type", F.hour("ts").alias("hod"), "value")
        .join(F.broadcast(model), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.first("s_g").alias("s_g"),
            F.first("c_g").alias("c_g"),
            F.sum(dev).alias("sum_dev"),
        )
    )
    return scored.select(
        "event_type",
        "hod",
        "n_test",
        F.round(
            F.col("s_g").cast("double") / F.col("c_g").cast("double"), 6
        ).alias("seasonal_mean"),
        F.round(
            F.col("sum_dev").cast("double")
            / (F.col("c_g") * F.col("n_test")).cast("double"),
            6,
        ).alias("mae"),
    ).orderBy("event_type", "hod")


SEASONAL_NAIVE_BACKTEST_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
train AS (SELECT * FROM ev WHERE day(ts) <= {BACKTEST_TRAIN_DAYS}),
test  AS (SELECT * FROM ev WHERE day(ts) >  {BACKTEST_TRAIN_DAYS}),
model AS (
  SELECT event_type, hour(ts) AS hod, SUM(v) AS s_g, COUNT(*) AS c_g
  FROM train GROUP BY 1, 2
),
scored AS (
  SELECT t.event_type, hour(t.ts) AS hod,
         COUNT(*) AS n_test,
         ANY_VALUE(m.s_g) AS s_g,
         ANY_VALUE(m.c_g) AS c_g,
         SUM(abs(t.v * m.c_g - m.s_g)) AS sum_dev
  FROM test t
  JOIN model m ON m.event_type = t.event_type AND m.hod = hour(t.ts)
  GROUP BY 1, 2
)
SELECT event_type, hod, n_test,
       ROUND(CAST(s_g AS DOUBLE) / c_g, 6) AS seasonal_mean,
       ROUND(CAST(sum_dev AS DOUBLE) / (c_g * n_test), 6) AS mae
FROM scored
ORDER BY event_type, hod
"""
