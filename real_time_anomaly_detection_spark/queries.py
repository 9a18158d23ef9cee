"""Driver-facing query suite: every operator family from SURVEY.md §2 expressed
over the driver's TPC-H-ish tables, each with a DuckDB oracle (ANSI SQL).

Conventions (driver compare contract):
- every computed/aggregate column is aliased IDENTICALLY in Spark and SQL;
- double-valued aggregates are rounded to 6 decimals on BOTH sides (true
  values carry <=4 decimals, so the 1e-6 grid is never on a rounding boundary
  while float noise is ~1e-8 — order-of-summation differences cannot flip);
- top-k queries carry deterministic tie-breaks.

Layout: QUERIES maps name -> callable(spark, sf_dir) -> DataFrame;
ORACLES maps the same name -> DuckDB SQL over pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings). Names absent from ORACLES are non-SQL-expressible (driver does a
rows-only check).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .caching import persist_tracked as _persist

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r6(c):
    return F.round(c, 6)


from .partitioning import spread as _spread_impl


def _spread(d: DataFrame, factor: int = 2) -> DataFrame:
    """Ensure a compute-heavy scan-local stage sees >= cores tasks.

    Parquet scans split only on row-group boundaries, and the small bench/
    test corpora are written with a handful of row groups — so without
    this, every per-document stage (regex, md5 chains, mapInPandas) runs
    on 3-7 of the 32 cores (guide §2.5 input skew / §6 input splits;
    measured: sf1 documents.parquet = 7 row groups). CONDITIONAL: when the
    scan already yields >= cores*factor splits — every real at-scale input
    — this is a no-op, so the corpus-scale round-robin Exchange the r6
    ADVICE flagged on q68 never happens on big inputs. Shared impl:
    `partitioning.spread` (operators use it too)."""
    return _spread_impl(d, factor)


# --------------------------------------------------------------------------
# Relational core (S2-S5, P1-P5, A1-A6, O1-O4)
# --------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: group agg over lineitem (A1/A4/A6; SURVEY §2.4)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r6(F.sum("l_quantity")).alias("sum_qty"),
            _r6(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            _r6(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                )
            ).alias("sum_charge"),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            _r6(F.avg("l_extendedprice")).alias("avg_price"),
            _r6(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q02_window_scan(spark, sf_dir):
    """S2: time-range scan + projection + predicate (pushed to parquet)."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-12") & (F.col("value") > 5.0)
    ).select("event_id", "ts", "user_id", "event_type", "value")


_Q02_SQL = """
SELECT event_id, ts, user_id, event_type, value FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-12' AND value > 5.0
"""


def q03_topk_recent(spark, sf_dir):
    """S5/O2: global top-k most recent (TakeOrderedAndProject, no full sort)."""
    ev = load(spark, sf_dir, "events")
    return ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(100).select(
        "event_id", "ts", "user_id", "event_type"
    )


_Q03_SQL = """
SELECT event_id, ts, user_id, event_type FROM events
ORDER BY ts DESC, event_id DESC LIMIT 100
"""


def q04_topk_per_key(spark, sf_dir):
    """W2: per-key top-3 recent via row_number window."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "ts", "event_type", "rn")
    )


_Q04_SQL = """
SELECT user_id, event_id, ts, event_type, rn FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn <= 3
"""


def q05_group_minmax(spark, sf_dir):
    """A3: per-key count + min/max time + distinct users, sorted by count."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct("user_id").alias("n_users"),
    )


_Q05_SQL = """
SELECT event_type, count(*) AS n_events, min(ts) AS first_ts, max(ts) AS last_ts,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q06_brand_revenue(spark, sf_dir):
    """J1: fact ⨝ broadcast dim + agg (broadcast hash join)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q06_SQL = """
SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q07_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, filter, agg, top-10 with tie-break."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q07_SQL = """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q08_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join with two broadcast dims (join reordering)."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
    )


_Q08_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q09_anti_join(spark, sf_dir):
    """J4 (referential-style anti-join): users who never purchased."""
    ev = load(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return (
        ev.select("user_id")
        .distinct()
        .join(buyers, "user_id", "left_anti")
        .orderBy("user_id")
    )


_Q09_SQL = """
SELECT DISTINCT user_id FROM events e
WHERE NOT EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase' AND p.user_id = e.user_id)
ORDER BY user_id
"""


def q10_semi_join(spark, sf_dir):
    """left-semi (EXISTS): orders containing a big line item, count by priority."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        o.join(li.select("l_orderkey"), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_Q10_SQL = """
SELECT o_orderpriority, count(*) AS n_orders FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
GROUP BY o_orderpriority
"""


def q11_uniqueness(spark, sf_dir):
    """J5: duplicate-key detection via two-phase salted aggregation.

    The salt phase is semantically a no-op (sum of partial counts) — proven by
    the oracle: a plain GROUP BY ... HAVING count > 1.
    """
    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber"))
    salted = li.select(key.alias("k")).withColumn(
        "_salt", F.pmod(F.xxhash64("k"), F.lit(16))
    )
    partial = salted.groupBy("k", "_salt").agg(F.count(F.lit(1)).alias("c"))
    return (
        partial.groupBy("k")
        .agg(F.sum("c").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select(F.col("k").alias("dup_key"), "n_copies")
    )


_Q11_SQL = """
SELECT concat(l_orderkey, '#', l_linenumber) AS dup_key, count(*) AS n_copies
FROM lineitem GROUP BY 1 HAVING count(*) > 1
"""


def q12_latest_snapshot(spark, sf_dir):
    """P5: latest row per key (filter-to-latest-snapshot)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


_Q12_SQL = """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Detection recasts (U1-U6, U15, W3) — reference-exact semantics
# --------------------------------------------------------------------------


def q13_sudden_change(spark, sf_dir):
    """W3: |first difference| > threshold per key series; first row never flags
    (lag NULL -> false; anomaly_detector.py:156-161)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    diff = F.col("value") - F.lag("value", 1).over(w)
    return (
        ev.withColumn("diff", diff)
        .filter(F.abs(F.col("diff")) > 80.0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_spikes"))
    )


_Q13_SQL = """
SELECT user_id, count(*) AS n_spikes FROM (
  SELECT user_id, value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS diff
  FROM events) WHERE abs(diff) > 80.0
GROUP BY user_id
"""


def q14_zscore_outliers(spark, sf_dir):
    """U1: 3-sigma with POPULATION std (np.std, anomaly_detector.py:117)."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(
            (F.col("value") > F.col("mu") + 3 * F.col("sigma"))
            | (F.col("value") < F.col("mu") - 3 * F.col("sigma"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )


_Q14_SQL = """
WITH s AS (SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
           FROM events GROUP BY event_type)
SELECT e.event_type, count(*) AS n_outliers
FROM events e JOIN s ON e.event_type = s.event_type
WHERE e.value > s.mu + 3 * s.sigma OR e.value < s.mu - 3 * s.sigma
GROUP BY e.event_type
"""


def q15_iqr_outliers(spark, sf_dir):
    """U2: IQR fences from EXACT percentiles (np.percentile linear interp)."""
    ev = load(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ev.join(F.broadcast(q), "event_type")
        .filter(
            (F.col("value") < F.col("q1") - 1.5 * iqr)
            | (F.col("value") > F.col("q3") + 1.5 * iqr)
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )


_Q15_SQL = """
WITH q AS (SELECT event_type, quantile_cont(value, 0.25) AS q1,
                  quantile_cont(value, 0.75) AS q3
           FROM events GROUP BY event_type)
SELECT e.event_type, count(*) AS n_outliers
FROM events e JOIN q ON e.event_type = q.event_type
WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1) OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
GROUP BY e.event_type
"""


def q16_mad_outliers(spark, sf_dir):
    """U3: MAD-scaled deviation > 3.5 (median/MAD per group, two-pass)."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("ad").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("ad") / (1.4826 * F.nullif(F.col("mad"), F.lit(0.0))) > 3.5)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )


_Q16_SQL = """
WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
dev AS (SELECT e.event_type, abs(e.value - med.med) AS ad
        FROM events e JOIN med ON e.event_type = med.event_type),
mad AS (SELECT event_type, median(ad) AS mad FROM dev GROUP BY event_type)
SELECT dev.event_type, count(*) AS n_outliers
FROM dev JOIN mad ON dev.event_type = mad.event_type
WHERE dev.ad / (1.4826 * nullif(mad.mad, 0.0)) > 3.5
GROUP BY dev.event_type
"""


def q17_health_check(spark, sf_dir):
    """U15: zero/null ratios (NULL-inclusive denominators,
    anomaly_detector.py:514-515), sample variance, threshold verdict."""
    ev = load(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    g = ev.groupBy("event_type").agg(
        n.alias("n_rows"),
        _r6(F.sum(F.when(F.col("value") == 0, 1).otherwise(0)) / n).alias("zero_ratio"),
        _r6((n - F.count("value")) / n).alias("null_ratio"),
        _r6(F.var_samp("value")).alias("variance"),
    )
    return g.withColumn(
        "status",
        F.when(
            (F.col("zero_ratio") > 0.3)
            | (F.col("null_ratio") > 0.5)
            | ((F.col("variance") < 0.1) & (F.col("null_ratio") < 0.9)),
            F.lit("critical"),
        ).otherwise(F.lit("healthy")),
    )


_Q17_SQL = """
WITH g AS (
  SELECT event_type, count(*) AS n_rows,
         round(count_if(value = 0) * 1.0 / count(*), 6) AS zero_ratio,
         round((count(*) - count(value)) * 1.0 / count(*), 6) AS null_ratio,
         round(var_samp(value), 6) AS variance
  FROM events GROUP BY event_type)
SELECT *, CASE WHEN zero_ratio > 0.3 OR null_ratio > 0.5
                OR (variance < 0.1 AND null_ratio < 0.9)
          THEN 'critical' ELSE 'healthy' END AS status
FROM g
"""


def q18_completeness(spark, sf_dir):
    """A11: observed vs expected cadence per key (days active, events/day)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("days_active"),
        _r6(F.count(F.lit(1)) / F.lit(30.0)).alias("events_per_day"),
    )


_Q18_SQL = """
SELECT user_id, count(*) AS n_events,
       count(DISTINCT CAST(ts AS DATE)) AS days_active,
       round(count(*) / 30.0, 6) AS events_per_day
FROM events GROUP BY user_id
"""


def q19_pivot(spark, sf_dir):
    """W5: long -> wide pivot with an explicit (bounded) key set."""
    ev = load(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=kinds)
    )


_Q19_SQL = """
SELECT CAST(ts AS DATE) AS day,
       CAST(count_if(event_type = 'click') AS BIGINT) AS click,
       CAST(count_if(event_type = 'view') AS BIGINT) AS view,
       CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count_if(event_type = 'signup') AS BIGINT) AS signup,
       CAST(count_if(event_type = 'error') AS BIGINT) AS error
FROM events GROUP BY 1
"""


def q20_correlation(spark, sf_dir):
    """A12: Pearson correlation per group (sample corr in both engines)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _r6(F.corr(F.col("value"), F.unix_timestamp("ts").cast("double"))).alias("corr_value_time"),
        F.count(F.lit(1)).alias("n"),
    )


_Q20_SQL = """
SELECT event_type, round(corr(value, epoch(ts)), 6) AS corr_value_time, count(*) AS n
FROM events GROUP BY event_type
"""


def q21_json_extract(spark, sf_dir):
    """F8: JSON shredding of the props column + agg."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        _r6(F.avg(k)).alias("avg_k"),
        F.max(k.cast("long")).alias("max_k"),
    )


_Q21_SQL = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q22_haversine_pairs(spark, sf_dir):
    """J2/F4: spatial theta join (haversine <= 200 km) on synthetic
    coordinates derived deterministically from keys.

    Scale path (SURVEY J2): grid-cell prefilter — equi-join on cell ids
    (one side exploded to its 3x3 neighborhood, lon wrap handled) BEFORE
    the exact distance predicate, so candidates are O(points x density), not
    O(points^2) like the reference's nested loop (anomaly_detector.py:224-232).
    Cell size proof: |lat| < 60 by construction, so 200 km spans < 1.8 deg lat
    and < 200/(111.19*cos 60) = 3.6 deg lon. Cells are 2 deg lat x 4 deg lon
    (r7: halved from 4x4 — 1.8 < 2 still fits one cell step, the 3x3
    neighborhood still covers every qualifying pair, and the candidate area
    drops from 12x12 to 6x12 deg^2, halving the join's pair enumeration —
    guide §1.2, the join was the measured wall after the r7 bbox prefilter).
    A conservative |dlat|/|dlon| bounding box rejects most survivors before
    the sin/cos/asin chain. The oracle is the exact all-pairs formulation;
    results are identical.
    """
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 12000) / 100.0 - 60.0).alias("lat"),
        ((F.col("c_custkey") * 91 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    cx = F.floor((F.col("lat") + 60.0) / 2.0)
    cy = F.floor((F.col("lon") + 180.0) / 4.0)
    a = c.select("*", cx.alias("cx"), cy.alias("cy")).alias("a")
    offsets = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
          for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    )
    b = (
        c.select("*", cx.alias("bcx"), cy.alias("bcy"), F.explode(offsets).alias("o"))
        .select(
            F.col("c_custkey"),
            F.col("lat"),
            F.col("lon"),
            (F.col("bcx") + F.col("o.dx")).alias("ncx"),
            F.pmod(F.col("bcy") + F.col("o.dy"), F.lit(90)).alias("ncy"),
        )
        .alias("b")
    )
    lat1, lat2 = F.radians(F.col("a.lat")), F.radians(F.col("b.lat"))
    dlat = lat2 - lat1
    dlon = F.radians(F.col("b.lon")) - F.radians(F.col("a.lon"))
    h = F.sin(dlat / 2) ** 2 + F.cos(lat1) * F.cos(lat2) * F.sin(dlon / 2) ** 2
    dist = 2 * 6371.0 * F.asin(F.sqrt(h))
    # r7 bounding-box prefilter (guide §1.2: cheap compares before the
    # trig chain — candidates are O(points x density), each paid
    # sin/cos/asin). CONSERVATIVE, so the result set is unchanged:
    # dist >= 111.1949 km/deg * |dlat| (haversine at dlon=0), so
    # dist <= 200 => |dlat| <= 1.7987 (bound 1.81); and with |lat| < 60,
    # cos(lat_a)cos(lat_b) >= 1/4 gives dist >= 2R asin(|sin(dlon/2)|/2),
    # so dist <= 200 => wrapped |dlon| <= 3.5976 (bound 3.61).
    dlat_deg = F.abs(F.col("b.lat") - F.col("a.lat"))
    dlon_raw = F.abs(F.col("b.lon") - F.col("a.lon"))
    dlon_deg = F.least(dlon_raw, 360.0 - dlon_raw)
    return (
        a.join(b, (F.col("a.cx") == F.col("b.ncx")) & (F.col("a.cy") == F.col("b.ncy")))
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .filter((dlat_deg <= 1.81) & (dlon_deg <= 3.61))
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= 200.0)
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
            _r6(F.col("dist_km")).alias("dist_km"),
        )
    )


_Q22_SQL = """
WITH c AS (SELECT c_custkey, (c_custkey * 37 % 12000) / 100.0 - 60.0 AS lat,
                  (c_custkey * 91 % 36000) / 100.0 - 180.0 AS lon FROM customer)
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       round(2 * 6371.0 * asin(sqrt(
         pow(sin(radians(b.lat - a.lat) / 2), 2) +
         cos(radians(a.lat)) * cos(radians(b.lat)) *
         pow(sin(radians(b.lon - a.lon) / 2), 2))), 6) AS dist_km
FROM c a, c b
WHERE a.c_custkey < b.c_custkey
  AND 2 * 6371.0 * asin(sqrt(
        pow(sin(radians(b.lat - a.lat) / 2), 2) +
        cos(radians(a.lat)) * cos(radians(b.lat)) *
        pow(sin(radians(b.lon - a.lon) / 2), 2))) <= 200.0
"""

# Large-scale twin of _Q22_SQL: the all-pairs oracle is O(n^2) BY DESIGN
# (maximal independence from the grid prefilter it verifies) and is
# infeasible past ~20k customers (11e9 pairs at sf1's 150k). This variant
# verifies the same query with the grid prefilter replicated in SQL —
# independent ENGINE, same algorithm — and is what the sf1 parity pass uses
# (tests/test_oracle_parity.py picks it via SPARK_GRAFT_GRID_ORACLE=1).
# The haversine expression and rounding are byte-identical to _Q22_SQL.
_Q22_SQL_GRID = """
WITH c AS (SELECT c_custkey, (c_custkey * 37 % 12000) / 100.0 - 60.0 AS lat,
                  (c_custkey * 91 % 36000) / 100.0 - 180.0 AS lon FROM customer),
a AS (SELECT *, floor((lat + 60.0) / 2.0) AS cx,
             floor((lon + 180.0) / 4.0) AS cy FROM c),
b AS (SELECT c.c_custkey, c.lat, c.lon,
             floor((lat + 60.0) / 2.0) + o.dx AS ncx,
             ((CAST(floor((lon + 180.0) / 4.0) AS BIGINT) + o.dy) % 90 + 90) % 90 AS ncy
      FROM c, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                      (1,-1),(1,0),(1,1)) o(dx, dy))
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       round(2 * 6371.0 * asin(sqrt(
         pow(sin(radians(b.lat - a.lat) / 2), 2) +
         cos(radians(a.lat)) * cos(radians(b.lat)) *
         pow(sin(radians(b.lon - a.lon) / 2), 2))), 6) AS dist_km
FROM a JOIN b ON a.cx = b.ncx AND a.cy = b.ncy
WHERE a.c_custkey < b.c_custkey
  AND 2 * 6371.0 * asin(sqrt(
        pow(sin(radians(b.lat - a.lat) / 2), 2) +
        cos(radians(a.lat)) * cos(radians(b.lat)) *
        pow(sin(radians(b.lon - a.lon) / 2), 2))) <= 200.0
"""


# --------------------------------------------------------------------------
# Training-data pipeline ops: text analysis, dedup, similarity
# --------------------------------------------------------------------------

_STOP_EN = ["the", "a", "and", "of", "to", "is", "in"]


def q23_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer) + length stats per language."""
    d = _spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), r"\s+")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        _r6(F.avg(F.size(toks))).alias("avg_tokens"),
        _r6(F.avg("n_chars")).alias("avg_chars"),
    )


_Q23_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS total_tokens,
       round(avg(len(regexp_split_to_array(text, '\\s+'))), 6) AS avg_tokens,
       round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY lang
"""


def q24_quality_score(spark, sf_dir):
    """Quality scoring: stopword ratio + mean token length + short-doc flag."""
    d = _spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), r"\s+")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOP_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    scored = d.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        _r6(n_stop / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
        _r6(F.length("text") / F.greatest(n_tok, F.lit(1))).alias("avg_token_len"),
        (n_tok < 20).cast("int").alias("too_short"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _r6(F.avg("stopword_ratio")).alias("mean_stopword_ratio"),
        _r6(F.avg("avg_token_len")).alias("mean_token_len"),
        F.sum("too_short").alias("n_too_short"),
    )


_Q24_SQL = """
WITH scored AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
         round(len(list_filter(regexp_split_to_array(text, '\\s+'),
                 t -> t IN ('the','a','and','of','to','is','in'))) * 1.0
               / greatest(len(regexp_split_to_array(text, '\\s+')), 1), 6) AS stopword_ratio,
         round(length(text) * 1.0
               / greatest(len(regexp_split_to_array(text, '\\s+')), 1), 6) AS avg_token_len,
         CAST(len(regexp_split_to_array(text, '\\s+')) < 20 AS INT) AS too_short
  FROM documents)
SELECT source, count(*) AS n_docs,
       round(avg(stopword_ratio), 6) AS mean_stopword_ratio,
       round(avg(avg_token_len), 6) AS mean_token_len,
       CAST(sum(too_short) AS BIGINT) AS n_too_short
FROM scored GROUP BY source
"""


def q25_dedup_exact(spark, sf_dir):
    """Exact dedup: normalized-text hash groups with multiplicity > 1."""
    d = load(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return (
        d.groupBy(F.sha2(norm, 256).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


_Q25_SQL = """
SELECT sha256(lower(trim(text))) AS text_hash, count(*) AS n_copies,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def q26_ngram_jaccard(spark, sf_dir):
    """Near-dup detection: distinct-token Jaccard >= 0.5 over candidate pairs.

    SMALL-DATA ORACLE TWIN ONLY: this all-pairs broadcast cross join is
    O(n^2) and exists to ground-truth the LSH path on small corpora. The
    canonical scale-safe near-dup query is q34_neardup_lsh_verified (LSH
    bucketed candidates -> exact Jaccard verify on candidates only).
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split(F.col("text"), r"\s+")).alias("toks")
    )
    # repartition the probe side: a broadcast NL join parallelizes over the
    # stream side's partitions, and a single parquet file scans as one task
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta")).repartition(64)
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    n_common = F.size(F.array_intersect("ta", "tb"))
    jac = n_common / (F.size("ta") + F.size("tb") - n_common)
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", _r6(jac))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


_Q26_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS tok
  FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (sa.n_tok + sb.n_tok - n_common), 6) AS jaccard
FROM common JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common * 1.0 / (sa.n_tok + sb.n_tok - n_common) >= 0.5
"""


def q27_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for probe vectors (vec_id < 10),
    computed JVM-side with array HOFs (zip_with + aggregate) in float64."""
    e = _spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    # r7: norms precomputed per VECTOR (same expression, so bit-identical
    # cosines) — the per-PAIR evaluation re-ran the interpreted 64-element
    # norm fold once per candidate, 2/3 of the verify arithmetic
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("p_emb"),
        norm("emb").alias("_np"),
    )
    cand = e.select(
        F.col("vec_id").alias("cand_id"), F.col("emb").alias("c_emb"),
        norm("emb").alias("_nc"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("p_emb"), F.col("c_emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        F.broadcast(probes)
        .crossJoin(cand)
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            _r6(dot / (F.col("_np") * F.col("_nc"))).alias("cosine"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


_Q27_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
pairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         round(list_dot_product(p.emb, c.emb) /
               (sqrt(list_dot_product(p.emb, p.emb)) *
                sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM e p, e c WHERE p.vec_id < 10 AND p.vec_id != c.vec_id)
SELECT probe_id, cand_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM pairs) WHERE rank <= 5
"""


def q28_embedding_label_stats(spark, sf_dir):
    """Vector column stats per label: count + mean L2 norm (array HOFs)."""
    e = load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v * v,
        )
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"), _r6(F.avg(norm)).alias("mean_norm")
    )


_Q28_SQL = """
SELECT label, count(*) AS n_vecs,
       round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 6) AS mean_norm
FROM embeddings GROUP BY label
"""


# MinHash parameters shared by q29/q34 and their DuckDB oracles. The token
# hash is engine-portable: the first 15 hex chars of md5 (a value < 2^60)
# interpreted as an integer, then universal-hashed mod a 1e9-scale prime —
# every step computes identically in Spark and DuckDB, so the LSH pipeline
# has a REAL value oracle (round-1's xxhash64 minhash was Spark-only).
_MH_P = 1_000_000_007
_MH_A = (472882049, 741103597, 284886941, 856201099,
         323780743, 976369231, 297971941, 613651349)
_MH_B = (86028157, 553105253, 15485867, 32452843,
         982451653, 49979687, 67867967, 104395301)
_MH_BANDS = 4  # 8 hashes -> 4 bands of 2


def _hashed_tokens(text_col):
    """Distinct whitespace tokens as 60-bit md5-portable longs. Hashing ONCE
    per token feeds both the minhash family (8 universal hashes over the
    SAME 60-bit value) and the exact-verify intersect — long-array
    array_intersect moves ~8 bytes/token where string arrays move the token
    text plus offsets, which matters because the verify stage is memory-
    bandwidth-bound (measured: string-verify 27.7s vs long-verify 18.1s on
    the identical sf0.1 plan at local[8]).

    r7: tokens dedup BEFORE the md5 transform (guide §1.2 "don't compute
    things you throw away" — natural text repeats tokens heavily, so the
    per-OCCURRENCE md5+conv chain did several times the needed digests).
    This is also the frozen oracle's own shape (_HTOKS_SQL transforms
    list_distinct); the outer array_distinct keeps the engine's
    collision-dedup semantics identical to r6."""
    return F.array_distinct(
        F.transform(
            F.array_distinct(F.split(text_col, r"\s+")),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    )


def _cosine_row_prob(s: float) -> float:
    """Per-hyperplane collision probability of a pair at cosine s:
    1 - acos(s)/pi (the random-hyperplane LSH identity)."""
    import math

    return 1.0 - math.acos(max(-1.0, min(1.0, s))) / math.pi


def _banding_for(threshold: float, per_row_prob=None,
                 band_budget: int = 8, max_rows: int = 32) -> tuple[int, int]:
    """(n_bands, rows_per_band) whose banded-LSH S-curve midpoint sits at
    `threshold` — the scale-safe DEFAULT derivation for every LSH entry
    point (VERDICT r4 #1: the sf1 pass proved a geometry mismatched to the
    threshold is a scale-killer — 0.82 random-pair collision at 6x2 planes,
    and recall ZERO once the bucket cap bites).

    The S-curve for b bands of r rows crosses 1/2 near s* = (1/b)^(1/r)
    (in PER-ROW collision probability space). Solving under a band budget:
    r = floor(ln(band_budget) / ln(1/t')), b = round((1/t')^r), with
    t' = per_row_prob(threshold) (identity for minhash/Jaccard;
    1 - acos(s)/pi for sign-plane cosine). Larger budgets buy a sharper
    curve at the cost of proportionally more hashes/planes; 8 keeps the
    derived configs in the range the round-4 planted-corpus measurements
    validated (cosine 0.9 -> 7x13 vs the hand-tuned 6x12; Jaccard 0.9 ->
    7x19 vs datasketch's 128-perm default)."""
    import math

    t = per_row_prob(threshold) if per_row_prob else threshold
    t = min(max(t, 0.05), 0.99)
    r = max(1, min(max_rows, math.floor(math.log(band_budget) / math.log(1.0 / t))))
    b = max(1, min(band_budget, round((1.0 / t) ** r)))
    return b, r


def _resolve_banding(n_bands, rows_per_band, threshold, per_row_prob=None):
    """Either both banding knobs explicitly, or neither (threshold-derived).
    A half-specified geometry is rejected rather than silently mixed with a
    default."""
    if n_bands is None and rows_per_band is None:
        return _banding_for(threshold, per_row_prob)
    if n_bands is None or rows_per_band is None:
        raise ValueError(
            "pass BOTH banding knobs or neither (neither = derived from "
            f"threshold); got n_bands={n_bands}, rows/planes={rows_per_band}"
        )
    return n_bands, rows_per_band


def _mh_constants(n: int) -> list[tuple[int, int]]:
    """n universal-hash (a, b) pairs. The first 8 are the literal
    oracle-pinned constants; extras (wide-band configs) come from a seeded
    LCG — deterministic, Spark-side only."""
    pairs = list(zip(_MH_A, _MH_B))
    s = 0x51AB1E5EED
    while len(pairs) < n:
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = s % (_MH_P - 1) + 1
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        pairs.append((a, s % _MH_P))
    return pairs[:n]


def _minhash_bands_spark(htoks, n_bands: int = _MH_BANDS, rows_per_band: int = 2):
    """[(band, bucket)] array column from HASHED tokens:
    mh_i = min((h % P) * a_i + b_i mod P); the default bucket combine is
    mh[2b] * P + mh[2b+1] (fits a long, byte-identical to the DuckDB
    oracle). `n_bands`/`rows_per_band` set the recall/candidate-volume
    trade exactly like q42's plane knobs: a pair at Jaccard s collides on a
    band with prob s^rows_per_band, so corpora with high BASE overlap
    (boilerplate) need wider bands at production thresholds — the 4x2
    default is for the value oracle's 0.5-threshold regime. Non-default
    configs combine rows via xxhash64 (P^r overflows a long past r=2) and
    are Spark-side only.

    The token array is bound ONCE as a lambda variable via
    transform(array(htoks), ...): the minhash array_mins below reference
    it once per row-hash, and a direct reference to the `htoks` EXPRESSION
    would make Catalyst re-evaluate the whole tokenize+md5 transform per
    reference (8x the md5 work — measured ~21s of a 25s bands derivation
    at 50k docs/6M tokens; bound, the md5 pass runs once)."""
    consts = _mh_constants(n_bands * rows_per_band)

    def _hash_fn(a: int, b: int):
        # factory closure: pyspark introspects HOF lambda arity, so the
        # (a, b) constants must be captured, not passed as defaulted params
        return lambda h: ((h % _MH_P) * a + b) % _MH_P

    def _bands_from(ht):
        mh = [
            F.array_min(F.transform(ht, _hash_fn(a, b)))
            for a, b in consts
        ]
        if rows_per_band == 2:
            bucket = lambda b: (  # noqa: E731 — oracle-pinned combine
                mh[2 * b] * _MH_P + mh[2 * b + 1]
            )
        else:
            bucket = lambda b: F.xxhash64(  # noqa: E731
                *mh[rows_per_band * b : rows_per_band * (b + 1)]
            )
        return F.array(
            *[
                F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
                for b in range(n_bands)
            ]
        )

    return F.element_at(F.transform(F.array(htoks), _bands_from), 1)


def _mh_bands_rows(d, n_bands: int, rows_per_band: int,
                   with_size: bool = False):
    """(doc_id, [sz,] band, bucket) rows from a documents (doc_id, text)
    relation, choosing the implementation by geometry width (the q42/
    `_nd_bands_rows` doctrine):

    - <= 8 hash functions (the oracle-pinned 4x2): Catalyst
      `_minhash_bands_spark` — codegen, byte-identical to the DuckDB twin;
    - wider (every threshold-derived production config, e.g. 8x3 at 0.5,
      7x19 at 0.9): ONE scan-local mapInPandas — md5 per distinct token at
      C speed (per-batch cache) and the whole (n_fns x n_tok) universal-
      hash min as one numpy mod-mul pass; the Catalyst HOF transform is
      interpreted per element and re-runs per hash function (measured
      8.9s for 24 fns over 20k docs where numpy is <2s). Products fit
      int64 exactly: (h%P) < 2^30 and a < 2^30, so (h%P)*a+b < 2^60.

    Bucket encoding on the wide path is an FNV-1a fold of the band's
    minhash values — NOT Spark's xxhash64 — which is fine because buckets
    are opaque join keys: every caller at a given geometry takes the same
    path, so candidate PAIRS are invariant. `with_size` adds sz =
    len(distinct tokens), the carry column for the exact Jaccard size
    prefilter."""
    if n_bands * rows_per_band <= 8:
        htoks = _hashed_tokens(F.col("text"))
        bands = _minhash_bands_spark(htoks, n_bands, rows_per_band)
        cols = [F.size(_hashed_tokens(F.col("text"))).alias("sz")] if with_size else []
        return d.select("doc_id", *cols, F.explode(bands).alias("bb")).select(
            "doc_id", *(["sz"] if with_size else []),
            F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
        )

    import pandas as pd

    consts = _mh_constants(n_bands * rows_per_band)
    schema = ("doc_id long, sz int, band int, bucket long" if with_size
              else "doc_id long, band int, bucket long")

    def mh_batches(batches):
        import hashlib
        import re

        import numpy as np

        ws = re.compile(r"\s+", re.ASCII)
        cache: dict[str, int] = {}

        def h60(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                if len(cache) >= 2_000_000:
                    # bound worker memory on huge-vocabulary partitions:
                    # the cache is a pure memo, dropping it only re-hashes
                    cache.clear()
                # top 60 bits of the digest == first 15 hex chars, minus the
                # hex-string round-trip
                v = int.from_bytes(
                    hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"
                ) >> 4
                cache[tok] = v
            return v

        A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
        B = np.array([b for _, b in consts], dtype=np.int64)[:, None]
        bands_idx = np.arange(n_bands, dtype=np.int32)
        for pdf in batches:
            ids, szs, buckets = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue  # Catalyst path emits no bands for null text
                hs = np.fromiter(
                    (h60(t) for t in set(ws.split(text))), dtype=np.int64
                )
                mins = (((hs % _MH_P)[None, :] * A) + B) % _MH_P
                mh = mins.min(axis=1).reshape(n_bands, rows_per_band)
                if rows_per_band == 2:
                    bk = mh[:, 0] * _MH_P + mh[:, 1]  # oracle combine
                else:
                    acc = np.full(n_bands, 0xCBF29CE484222325, dtype=np.uint64)
                    for j in range(rows_per_band):  # FNV-1a over the band rows
                        acc = (acc ^ mh[:, j].astype(np.uint64)) * np.uint64(
                            0x100000001B3
                        )
                    bk = acc.astype(np.int64)
                ids.append(doc_id)
                szs.append(len(hs))
                buckets.append(bk)
            n = len(ids)
            out = {
                "doc_id": np.repeat(np.array(ids, dtype=np.int64), n_bands),
                "band": np.tile(bands_idx, n),
                "bucket": (np.concatenate(buckets)
                           if buckets else np.array([], np.int64)),
            }
            if with_size:
                out["sz"] = np.repeat(np.array(szs, dtype=np.int32), n_bands)
            yield pd.DataFrame(out)[
                ["doc_id"] + (["sz"] if with_size else []) + ["band", "bucket"]
            ]

    return (
        d.select("doc_id", "text")
        .transform(_spread)  # few-row-group sources must not starve the UDF stage (r7)
        .mapInPandas(mh_batches, schema=schema)
    )


_HTOKS_SQL = (
    "list_transform(list_distinct(regexp_split_to_array(text, '\\s+')), "
    "t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))"
)


def _minhash_bands_sql() -> str:
    """DuckDB CTEs `docs` (doc_id, htoks) -> `bands` (doc_id, band, bucket)."""
    hm = "((h %% {p}) * {a} + {b}) %% {p}"
    mhs = ",\n         ".join(
        "list_min(list_transform(htoks, h -> "
        + hm.format(p=_MH_P, a=a, b=b).replace("%%", "%")
        + f")) AS m{i}"
        for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, m{2*b} * {_MH_P} + m{2*b+1} AS bucket FROM mh"
        for b in range(_MH_BANDS)
    )
    return f"""
docs AS (SELECT doc_id, {_HTOKS_SQL} AS htoks
         FROM documents),
mh AS (SELECT doc_id,
         {mhs}
       FROM docs),
bands AS ({band_rows})
"""


def _lsh_candidate_pairs(x, max_bucket_size: int | None = None,
                         salt: int | None = None,
                         carry: tuple[str, ...] = ()):
    """Distinct (doc_a, doc_b) candidate pairs from a (doc_id, band, bucket)
    table via ONE self-join on (band, bucket). `carry` names extra per-doc
    columns of `x` to propagate onto the pairs as <col>_a/<col>_b — they
    ride the already-tiny band rows (e.g. a token-array SIZE for the exact
    Jaccard prefilter), so downstream filters can drop pairs BEFORE any
    wide payload join; being functionally determined by doc_id they leave
    the distinct pair set unchanged.

    Two independent straggler mitigations for hot buckets (a bucket of size m
    emits m(m-1)/2 pairs from ONE join task):

    `max_bucket_size` — LOSSY: buckets with more than B members are dropped
    BEFORE the self-join (a boilerplate mega-bucket carries near-zero
    information; its members collide with everything). The count is a
    broadcastable aggregate on the join key itself, so the cap costs one
    map-side-combined groupBy + one broadcast ANTI-join on the few over-cap
    buckets, no extra shuffle of
    `x`. Default None (off): on this synthetic corpus the oracle-checked
    recall target depends on the giant buckets.

    `salt` — EXACT: split each bucket's quadratic work across R tasks. The
    left side gets a stable per-doc salt hash(doc_id) % R; the right side is
    replicated to all R salts; the join key becomes (band, bucket, salt), so
    every (a, b) pair still meets exactly once but a bucket's m(m-1)/2
    comparisons land on R tasks of ~m^2/2R each. Cost: the right side's
    shuffle volume xR (rows are (doc_id, band, bucket) — tiny). This is the
    same play as the engine's salted uniqueness check (operators/
    uniqueness.py) applied to an LSH self-join; AQE's skew-join split does
    not apply here because a single KEY cannot be split by partition-size
    heuristics. Note: when Catalyst broadcasts the build side (small bands
    table), the probe-side round-robin repartition below already spreads a
    hot bucket's pair emission across tasks, and salting adds nothing; salt
    is the mitigation for the SHUFFLE-join regime (bands too big to
    broadcast — the 10^12-row case), where the join co-partitions both sides
    by key and a hot key pins one task."""
    if max_bucket_size is not None:
        # Broadcast the OVER-cap buckets and anti-join: hot buckets are few
        # by definition, while the under-cap set is O(all buckets) — the r5
        # profile caught the inverted form shipping a corpus-sized broadcast
        # (q43's analogous rare-fp set was 6.5M rows / ~12s of a 17s query,
        # and would OOM the driver at 10^12 rows). Exactly equivalent:
        # the two sets partition the key space.
        hot = (
            x.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .drop("_n")
        )
        x = x.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    # Round-robin repartition of the PROBE side before the self-join. The
    # bands table is a handful of rows per doc, so when the source is a few
    # parquet files Catalyst broadcasts the build side and runs the join over
    # the probe side's file partitions — pair emission + the partial distinct
    # (the ACTUAL heavy work: a bucket of m docs emits m(m-1)/2 pairs) then
    # runs in as few tasks as there are files, serializing the whole stage
    # (measured: 13s single task at any core count on sf0.1). Round-robin —
    # not (band, bucket) hash — so one hot bucket's probe rows still spread
    # across all tasks. Costs one shuffle of the tiny id+band+bucket rows.
    par = x.sparkSession.sparkContext.defaultParallelism * 2
    if salt and salt > 1:
        a = x.repartition(par).withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt)).cast("int")
        )
        b = x.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        joined = a.alias("a").join(b.alias("b"), ["band", "bucket", "_salt"])
    else:
        joined = x.repartition(par).alias("a").join(x.alias("b"), ["band", "bucket"])
    return (
        joined.filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )


def q29_minhash_lsh(spark, sf_dir, max_bucket_size: int | None = None,
                    n_bands: int | None = None, rows_per_band: int | None = None,
                    threshold: float = 0.5):
    """MinHash-LSH near-dup candidates: minhash fns -> banded buckets ->
    ONE explode to (doc_id, band, bucket) -> ONE self-join on (band, bucket)
    -> distinct pairs. At scale this replaces q26's all-pairs join: the
    shuffle key is (band, bucket) so only colliding docs ever meet, and the
    bands table shuffles once (round 1 shuffled it 4x via per-band joins).

    Banding DEFAULTS to the threshold-matched derivation (`_banding_for`:
    S-curve midpoint ~ `threshold`), so a caller who states only their
    similarity regime gets a scale-safe geometry; the QUERIES registry pins
    the oracle's explicit 4x2 configuration. `threshold` here only drives
    the derivation — q29 emits CANDIDATES, no verify filter.

    Skew note: this synthetic corpus is degenerate (tiny vocabulary, ~73% of
    all pairs are true near-dups), so a few giant buckets emit most pairs
    from single join tasks. The standard mitigation is `max_bucket_size`
    (see `_lsh_candidate_pairs`); it defaults OFF here because the
    oracle-checked recall target depends on those buckets on this corpus."""
    n_bands, rows_per_band = _resolve_banding(n_bands, rows_per_band, threshold)
    d = load(spark, sf_dir, "documents")
    # persisted: the candidate self-join references the bands relation on
    # both sides — without this the tokenize+minhash derivation runs twice
    # (the q43 multi-reference pattern, r5); tracked so release_cached()
    # can drain it after the caller's action (ADVICE r5)
    x = _persist(_mh_bands_rows(d, n_bands, rows_per_band))
    return _lsh_candidate_pairs(x, max_bucket_size)


_Q29_SQL = f"""
WITH {_minhash_bands_sql()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band, bucket)
WHERE a.doc_id < b.doc_id
"""


def q34_neardup_lsh_verified(spark, sf_dir, max_bucket_size: int | None = None,
                             salt: int | None = None,
                             n_bands: int | None = None,
                             rows_per_band: int | None = None,
                             threshold: float = 0.5):
    """The canonical near-dup pipeline at scale: LSH candidate generation
    (q29's bucketed self-join — never all-pairs, optional `max_bucket_size`
    cap / exact `salt` straggler mitigations) -> exact hashed-token Jaccard
    >= `threshold` verification (q26's arithmetic over 60-bit token hashes —
    long arrays intersect ~1.5x faster than string arrays and the Jaccard is
    identical barring 60-bit collisions) on candidates only. Composition the
    round-1 review asked for: q26's O(n^2) cross join is now just the
    small-data oracle twin.

    Banding DEFAULTS to the threshold-matched derivation (`_banding_for`),
    so the verify threshold and the candidate geometry agree by
    construction; the QUERIES registry pins the oracle's explicit 4x2."""
    n_bands, rows_per_band = _resolve_banding(n_bands, rows_per_band, threshold)
    docs = load(spark, sf_dir, "documents")
    # persisted (r7): ta AND tb below otherwise re-run the tokenize+md5
    # scan once per verify side
    d = _persist(
        _spread(docs).select("doc_id", _hashed_tokens(F.col("text")).alias("toks"))
    )
    # persisted (tracked): both sides of the candidate self-join (r5)
    x = _persist(_mh_bands_rows(docs, n_bands, rows_per_band, with_size=True))
    # Exact size-ratio prefilter (VERDICT r4 #2): J(A,B) <= min|A|,|B| /
    # max|A|,|B| (intersection <= min, union >= max), so J >= t implies the
    # size ratio >= t. Sizes are 8-byte ints carried on the band rows — the
    # filter runs BEFORE the two wide token-array joins, skipping the array
    # shuffle for every size-incompatible pair at zero recall loss. The 1e-6
    # slack covers the final filter being on the ROUNDED jaccard (a true J
    # up to half a rounding step below t can still pass it).
    cands = (
        _lsh_candidate_pairs(x, max_bucket_size, salt, carry=("sz",))
        .filter(
            F.least("sz_a", "sz_b")
            >= (threshold - 1e-6) * F.greatest("sz_a", "sz_b")
        )
        .select("doc_a", "doc_b")
    )
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    n_common = F.size(F.array_intersect("ta", "tb"))
    jac = n_common / (F.size("ta") + F.size("tb") - n_common)
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard", _r6(jac))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


_Q34_SQL = f"""
WITH {_minhash_bands_sql()},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, bucket)
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       round(len(list_intersect(da.htoks, db.htoks)) * 1.0 /
             (len(da.htoks) + len(db.htoks) - len(list_intersect(da.htoks, db.htoks))),
             6) AS jaccard
FROM cands JOIN docs da ON cands.doc_a = da.doc_id
           JOIN docs db ON cands.doc_b = db.doc_id
WHERE len(list_intersect(da.htoks, db.htoks)) * 1.0 /
      (len(da.htoks) + len(db.htoks) - len(list_intersect(da.htoks, db.htoks))) >= 0.5
"""


def q35_geojson_shred(spark, sf_dir):
    """S1: GeoJSON-style structured ingestion — `from_json` with an explicit
    nested schema + `explode(features)` + nested field access, the Spark
    recast of the collector's schema shredding
    (streaming_collector_sqlite.py:360-389: features[*].properties +
    geometry.coordinates).

    The FeatureCollection documents are built deterministically from `events`
    rows in-query (`to_json(struct(...))` per feature, one doc per user), then
    parsed back through the full shredding path. The oracle computes the same
    aggregate directly from the base table, so a green result proves the
    encode -> explicit-schema parse -> explode -> nested-access round trip is
    lossless — never schema inference (X2/§1.3).
    """
    ev = load(spark, sf_dir, "events")
    lon = (F.col("user_id") % 360 - 180).cast("double")
    lat = (F.col("user_id") % 180 - 90).cast("double")
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.col("user_id"), F.col("event_type"), F.col("value")
            ).alias("properties"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(lon, lat).alias("coordinates"),
            ).alias("geometry"),
        )
    )
    docs = ev.groupBy("user_id").agg(
        F.concat(
            F.lit('{"type":"FeatureCollection","features":['),
            F.concat_ws(",", F.collect_list(feature)),
            F.lit("]}"),
        ).alias("doc")
    )
    fc_schema = (
        "struct<type:string,features:array<struct<"
        "type:string,"
        "properties:struct<user_id:bigint,event_type:string,value:double>,"
        "geometry:struct<type:string,coordinates:array<double>>>>>"
    )
    shredded = (
        docs.select(F.from_json("doc", fc_schema).alias("fc"))
        .select(F.explode("fc.features").alias("f"))
        .select(
            F.col("f.properties.event_type").alias("event_type"),
            F.col("f.properties.value").alias("value"),
            F.element_at("f.geometry.coordinates", 1).alias("lon"),
        )
    )
    return shredded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _r6(F.avg("value")).alias("avg_value"),
        _r6(F.avg("lon")).alias("avg_lon"),
    )


_Q35_SQL = """
SELECT event_type, count(*) AS n_events,
       round(avg(value), 6) AS avg_value,
       round(avg(CAST(user_id % 360 - 180 AS DOUBLE)), 6) AS avg_lon
FROM events GROUP BY event_type
"""


# Fixed +/-1 sign hyperplanes for the ANN bucket hash (cosine LSH): 4 bits ->
# 16 buckets. Deterministic formula, embedded as literals in BOTH the Spark
# expression and the DuckDB oracle so the bucketing is engine-identical.
_ANN_DIM = 64
_ANN_PLANES = [
    [1.0 if ((i * (2 * j + 3) + 7 * j) % 5) % 2 == 0 else -1.0 for i in range(_ANN_DIM)]
    for j in range(4)
]


def q37_ann_lsh_topk(spark, sf_dir):
    """Bucketed approximate-nearest-neighbor top-5 (the scale path q27's
    brute force lacks): sign-of-dot-product against 4 fixed hyperplanes ->
    16 cosine-LSH buckets -> MULTI-PROBE: each probe visits its own bucket
    plus the 4 buckets at Hamming distance 1 in bucket-bit space (the
    standard multi-probe LSH trick — a near neighbor that disagrees on ONE
    plane still meets the probe), candidates meet only inside a visited
    bucket (equi-join on bucket id), exact cosine + top-k within.

    Recall/planes tradeoff (pinned in tests/test_neardup.py): with 4 planes +
    Hamming-1 multi-probe a neighbor at angle theta collides with prob
    p^4 + 4p^3(1-p), p = 1 - theta/pi — measured top-5 recall vs q27 ground
    truth on this near-random corpus: 0.46 at sf0.001 / 0.58 at sf0.01
    (single-probe was 0.28; tests/test_neardup.py pins it). More planes
    shrink buckets (less exact work per probe) but cut recall; more probes
    (Hamming-2) or band-OR across independent plane sets (q42's construction)
    buy recall back at more candidate volume. At 10^9 vectors the join is
    5 probe-rows x n/16 bucket rows — never all-pairs, shuffle keyed on the
    bucket id only, the 512-byte vector rides the join exactly once per side."""
    e = _spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )

    def _dot_lit(plane):
        arr = F.array(*[F.lit(v) for v in plane])
        return F.aggregate(
            F.zip_with(F.col("emb"), arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bucket = None
    for j, plane in enumerate(_ANN_PLANES):
        bit = F.when(_dot_lit(plane) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    nrm_expr = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    # persisted (r7): probes and cands below both derive from b — without
    # this the 4-plane bucket HOF chain runs once per branch; _nrm rides
    # along so the verify divides by per-VEC norms (same expression,
    # bit-identical cosine) instead of re-folding 64 elements per pair
    b = _persist(e.withColumn("bucket", bucket).withColumn("_nrm", nrm_expr))
    # multi-probe fan-out: own bucket + the 4 single-bit flips (XOR masks)
    probe_buckets = F.explode(
        F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in (0, 1, 2, 4, 8)])
    )
    probes = (
        b.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("probe_id"), F.col("emb").alias("p_emb"),
                F.col("_nrm").alias("_np"), probe_buckets.alias("bucket"))
    )
    cands = b.select(F.col("vec_id").alias("cand_id"), F.col("emb").alias("c_emb"),
                     F.col("_nrm").alias("_nc"), "bucket")
    dot = F.aggregate(
        F.zip_with(F.col("p_emb"), F.col("c_emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        probes.join(cands, "bucket")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            _r6(dot / (F.col("_np") * F.col("_nc"))).alias("cosine"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


def _ann_sql() -> str:
    planes = [
        "[" + ", ".join(f"{v:.1f}" for v in plane) + "]" for plane in _ANN_PLANES
    ]
    bucket = " + ".join(
        f"{1 << j} * (CASE WHEN list_dot_product(emb, {p}) > 0 THEN 1 ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
b AS (SELECT vec_id, emb, {bucket} AS bucket FROM e),
probes AS (
  SELECT vec_id, emb, xor(bucket, m) AS bucket
  FROM b, unnest([0, 1, 2, 4, 8]) AS u(m)
  WHERE vec_id < 10),
pairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         round(list_dot_product(p.emb, c.emb) /
               (sqrt(list_dot_product(p.emb, p.emb)) *
                sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM probes p JOIN b c ON p.bucket = c.bucket
  WHERE p.vec_id != c.vec_id)
SELECT probe_id, cand_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM pairs) WHERE rank <= 5
"""


_Q37_SQL = _ann_sql()


# Hyperplanes for the BANDED embedding near-dup LSH (q42): 12 sign planes ->
# 6 bands x 2 planes (2-bit bucket per band). OR-amplification across bands:
# a pair is a candidate iff it agrees on BOTH planes of ANY band — for cosine
# s the collision prob is 1-(1-p^2)^6 with p = 1 - acos(s)/pi (~0.96 at the
# 0.45 verify threshold, higher for closer pairs; the recall pytest pins the
# measured value). Bands trade candidate volume for recall linearly; on a
# real near-dup corpus (cosine >= 0.9, p ~ 0.86) fewer, wider bands (e.g.
# 4 x 8 planes) cut candidates by orders of magnitude at the same recall.
# q37's plane formula repeats with period 5 in the plane index, so the planes
# here come from a seeded LCG instead — deterministic Python constants
# embedded as literals in BOTH engines, like _ANN_PLANES.
_ND_BANDS = 6
_ND_PLANES_PER_BAND = 2


def _nd_planes(n: int = None) -> list[list[float]]:
    s, out = 0x5EED1E55, []
    if n is None:
        n = _ND_BANDS * _ND_PLANES_PER_BAND
    for _ in range(n):
        row = []
        for _ in range(_ANN_DIM):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1.0 if (s >> 33) & 1 else -1.0)
        out.append(row)
    return out


_ND_PLANES = _nd_planes()


def _nd_bands_expr(emb_col: str, n_bands: int = _ND_BANDS,
                   planes_per_band: int = _ND_PLANES_PER_BAND):
    """[(band, bucket)] array column for the banded cosine LSH (q42's small
    geometries). `n_bands`/`planes_per_band` set
    the recall/candidate-volume trade: a RANDOM pair collides on a band
    with prob 0.5^planes_per_band, so at scale the band width must be
    matched to the verify threshold (see q42's docstring). Defaults
    reproduce the oracle-pinned 6x2 configuration (same LCG plane stream)."""
    planes = _nd_planes(n_bands * planes_per_band)

    def _dot_lit(plane):
        arr = F.array(*[F.lit(v) for v in plane])
        return F.aggregate(
            F.zip_with(F.col(emb_col), arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    F.when(
                        _dot_lit(planes[planes_per_band * b + j]) > 0,
                        F.lit(1 << j),
                    ).otherwise(F.lit(0))
                    for j in range(planes_per_band)
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )


def _nd_bands_rows(e, n_bands: int, planes_per_band: int,
                   id_col: str = "doc_id", emb_col: str = "emb"):
    """(id, band, bucket) rows for the banded cosine LSH, choosing the
    implementation by geometry width:

    - small geometries (<= 12 planes, i.e. the oracle-pinned 6x2): the
      Catalyst `_nd_bands_expr` — stays inside codegen and matches the
      static DuckDB SQL twin exactly;
    - wide geometries (every threshold-derived production config, e.g.
      7x13 at cosine 0.9): ONE scan-local numpy matmul via mapInPandas.
      The Catalyst HOF dot product is interpreted per element, so 91
      planes x 64 dims cost ~10s for 8k vectors where the equivalent
      (n x dim) @ (dim x planes) matmul is milliseconds — the same
      measured exception to built-ins-first as q43/q40. Sign bits pack
      into per-band buckets with a bit-weight matvec, all in the batch.

    Both paths emit identical schemas; at a given geometry every caller
    uses the same path."""
    if n_bands * planes_per_band <= 12:
        return e.select(
            id_col, F.explode(_nd_bands_expr(emb_col, n_bands, planes_per_band)).alias("bb")
        ).select(
            F.col(id_col).alias("doc_id"),
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )

    import numpy as np
    import pandas as pd

    planes_t = np.asarray(_nd_planes(n_bands * planes_per_band), dtype=np.float64).T
    weights = (1 << np.arange(planes_per_band, dtype=np.int64))

    def bands_batches(batches):
        for pdf in batches:
            # null-embedding rows: the Catalyst twin emits no rows for them
            # (explode of a null array) — drop before np.stack, which would
            # otherwise raise on the None and fail the whole task/epoch
            pdf = pdf[pdf[emb_col].notna()]
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            embs = np.stack(pdf[emb_col].to_numpy())  # (n, dim) float64
            bits = (embs @ planes_t) > 0  # (n, total_planes)
            buckets = (
                bits.reshape(len(ids), -1, len(weights)).astype(np.int64) @ weights
            )  # (n, n_bands)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(ids, buckets.shape[1]),
                    "band": np.tile(
                        np.arange(buckets.shape[1], dtype=np.int32), len(ids)
                    ),
                    "bucket": buckets.reshape(-1),
                }
            )

    return (
        e.select(id_col, emb_col)
        .transform(_spread)  # few-row-group sources must not starve the UDF stage (r7)
        .mapInPandas(bands_batches, schema="doc_id long, band int, bucket long")
    )


def q42_embedding_neardup_lsh(spark, sf_dir, max_bucket_size: int | None = None,
                              salt: int | None = None,
                              n_bands: int | None = None,
                              planes_per_band: int | None = None,
                              threshold: float = 0.45):
    """The canonical embedding near-dup pipeline at scale (q34's analog for
    vectors, closing round 2's last all-pairs hole): banded cosine-LSH
    candidate generation -> exact cosine >= 0.45 verification on candidates
    only. ONE explode to (vec_id, band, bucket) -> ONE self-join on
    (band, bucket) -> distinct id pairs -> join the vectors back and verify.
    The shuffle key is (band, bucket), never all-pairs, and the 512-byte
    embedding never rides through the banded join — only ids do; q39's O(n^2)
    cross join remains solely as this query's small-data oracle twin.
    Precision is exact (every emitted pair is verified); recall is the
    banded-LSH collision probability, pinned by tests/test_neardup.py.

    `max_bucket_size` / `salt` are q34's hot-bucket straggler mitigations
    (see `_lsh_candidate_pairs`), threaded through identically: a boilerplate
    embedding cluster (e.g. all-zero vectors hashing to one bucket) caps or
    salts the same way a boilerplate text bucket does. Defaults off — the
    oracle twin has no cap.

    `n_bands`/`planes_per_band`/`threshold` tune the LSH to the corpus and
    similarity regime. Banding DEFAULTS to the threshold-matched derivation
    (`_banding_for` with the hyperplane collision map 1-acos(s)/pi), so the
    bare call is scale-safe at whatever threshold the caller states. The
    QUERIES registry pins the oracle's explicit DENSE 6x2 geometry, kept
    because it is what the value oracle audits — it does NOT scale: 2-plane
    bands collide for a RANDOM pair with prob 1-(1-0.25)^6 = 0.82, so
    candidate volume approaches all-pairs as n grows (measured: 165M of
    200M possible pairs at 20k clustered vectors, sf1) — the 0.45 threshold
    this corpus demands (its max cosine is ~0.51) is simply not a
    bandable regime. At a production near-dup threshold the geometry works:
    at threshold 0.9 with 6 x 12-plane bands the same sf1 corpus yields
    ~0.8M candidates (500x fewer) and recall 1.0 on its planted
    cosine-0.997 duplicate pairs (pytest + BENCH/BASELINE.md, round 4).
    The hot-bucket cap is NOT a fix for mis-matched banding: capped at 200
    on the dense configuration every planted pair drowned in an over-cap
    bucket and recall went to ZERO (measured)."""
    n_bands, planes_per_band = _resolve_banding(
        n_bands, planes_per_band, threshold, _cosine_row_prob
    )
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    # persisted (tracked): both sides of the candidate self-join (r5)
    x = _persist(_nd_bands_rows(e, n_bands, planes_per_band, id_col="vec_id"))
    # shared candidate-join helper: probe-side repartition + cap/salt knobs
    cands = _lsh_candidate_pairs(x, max_bucket_size, salt).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    norm_expr = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    # persisted + per-vec norm (r7): ea/eb otherwise re-run the cast
    # transform per verify side, and the interpreted 64-element norm fold
    # ran once per PAIR; same expression per vector => bit-identical cosine
    ev = _persist(e.select("vec_id", "emb", norm_expr.alias("_nrm")))
    ea = ev.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"),
                   F.col("_nrm").alias("_na"))
    eb = ev.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"),
                   F.col("_nrm").alias("_nb"))
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine", _r6(dot / (F.col("_na") * F.col("_nb"))))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _nd_band_rows_sql() -> str:
    """The oracle-pinned 6x2 hyperplane band rows as DuckDB SQL over a CTE
    `e(vec_id, emb)` — shared by the q42 and q60 twins."""
    planes = [
        "[" + ", ".join(f"{v:.1f}" for v in plane) + "]" for plane in _ND_PLANES
    ]
    return " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " + ".join(
            f"{1 << j} * (CASE WHEN list_dot_product(emb, "
            f"{planes[_ND_PLANES_PER_BAND * b + j]}) > 0 THEN 1 ELSE 0 END)"
            for j in range(_ND_PLANES_PER_BAND)
        )
        + " AS bucket FROM e"
        for b in range(_ND_BANDS)
    )


def _q42_sql() -> str:
    band_rows = _nd_band_rows_sql()
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
bands AS ({band_rows}),
cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b USING (band, bucket)
  WHERE a.vec_id < b.vec_id)
SELECT vec_a, vec_b,
       round(list_dot_product(ea.emb, eb.emb) /
             (sqrt(list_dot_product(ea.emb, ea.emb)) *
              sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS cosine
FROM cands JOIN e ea ON cands.vec_a = ea.vec_id
           JOIN e eb ON cands.vec_b = eb.vec_id
WHERE round(list_dot_product(ea.emb, eb.emb) /
            (sqrt(list_dot_product(ea.emb, ea.emb)) *
             sqrt(list_dot_product(eb.emb, eb.emb))), 6) >= 0.45
"""
# ^ threshold on the ROUNDED cosine, matching the Spark filter — see the
# knife-edge note at _Q39_SQL.


_Q42_SQL = _q42_sql()


# IVF parameters: number of coarse cells and probed cells per query. The
# coarse quantizer uses the first _IVF_CELLS vectors (vec_id < 16) as fixed
# centroids — deterministic and expressible identically in both engines;
# production IVF would train centroids with k-means, which only changes how
# the centroid table is produced, not the query plan shape.
_IVF_CELLS = 16
_IVF_NPROBE = 2


def q44_ann_ivf_topk(spark, sf_dir):
    """IVF approximate-nearest-neighbor top-5 — the data-partitioned
    alternative to q37's LSH bucketing: every vector is assigned to its
    nearest coarse centroid (inverted-file cell); a probe searches its
    _IVF_NPROBE nearest cells; exact cosine + top-k runs only inside probed
    cells. Plan shape at 10^9 vectors: the _IVF_CELLS-row centroid table is
    collected once and embedded as literals, so assignment is a map-side
    array_sort argmax — NO shuffle anywhere before the probe-cell equi-join
    (which Catalyst broadcasts: the probe side is tiny). IVF beats LSH when
    the corpus is clustered (cells adapt to data where hyperplanes don't);
    nprobe trades recall for candidates exactly like q37's Hamming-1
    multi-probe."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    # The coarse quantizer is 16 rows — collect it ONCE to the driver
    # (metadata-sized, like the drift baselines) and embed it as a literal
    # array of (cell, unit-normalized centroid) structs, so cell assignment
    # is a genuinely map-side expression: at 10^9 vectors the alternative
    # (broadcast-join the centroids then window-rank per vector) shuffles a
    # 16n-row exploded table just to pick an argmax.
    cent_rows = sorted(
        e.filter(F.col("vec_id") < _IVF_CELLS).collect(), key=lambda r: r.vec_id
    )
    import math as _math

    cents = []
    for r in cent_rows:
        nrm = _math.sqrt(sum(v * v for v in r.emb)) or 1.0
        cents.append((int(r.vec_id), [v / nrm for v in r.emb]))
    return _ivf_topk_from_cents(e, cents)


def _ivf_topk_from_cents(e, cents, nprobe: int = _IVF_NPROBE):
    """Shared IVF probe plan (q44 fixed / q46 trained coarse quantizer):
    `cents` is a driver-side list of (cell_id, unit-normalized float64
    vector). Embedded as literals so cell assignment is map-side (see q44
    docstring for the 10^9-vector rationale). `nprobe` = probed cells per
    query vector (recall/candidate trade).

    r7: the literal centroid array is built ONLY on the Catalyst (<=16
    cell) branch — each F.lit/struct is a py4j round trip, so a 141-cell
    quantizer paid ~9k driver RPCs (~2s) constructing an expression the
    numpy branch never references."""

    def _cos_to(c_struct):
        # centroid pre-normalized, so cosine = dot(emb, c) / |emb|
        return F.aggregate(
            F.zip_with(F.col("emb"), c_struct["c_emb"], lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    if len(cents) <= 16:
        # oracle-pinned small quantizer (q44's static SQL twin): Catalyst
        # literal argmax. top-nprobe cells per vector: sort (neg_sim, cell)
        # structs asc -> best first; |emb| is a common positive factor, so
        # it cannot change the ordering and is dropped from the sort key
        cents_lit = F.array(
            *[
                F.struct(
                    F.lit(int(cell)).alias("cell"),
                    F.array(*[F.lit(float(v)) for v in vec]).alias("c_emb"),
                )
                for cell, vec in cents
            ]
        )
        ranked_cells = F.transform(
            F.slice(
                F.array_sort(
                    F.transform(
                        cents_lit,
                        lambda c: F.struct(
                            (-_cos_to(c)).alias("neg_sim"), c["cell"].alias("cell")
                        ),
                    )
                ),
                1,
                nprobe,
            ),
            lambda c: c["cell"],
        )
        scored = e.withColumn("_cells", ranked_cells)
    else:
        # derived sqrt-n quantizers (q46): the per-cell HOF dot product is
        # interpreted per element (45 cells x 64 dims cost ~3s for 2k
        # vectors), so rank cells with ONE numpy matmul per Arrow batch.
        # Stable argsort of -scores reproduces the exact (neg_sim, cell)
        # tie-break because cells are 0..k-1 in column order.
        import numpy as np
        import pandas as pd

        cents_arr = np.asarray([vec for _, vec in cents], dtype=np.float64)
        cell_ids = np.asarray([int(cell) for cell, _ in cents], dtype=np.int32)
    
        def rank_batches(batches):
            for pdf in batches:
                # null embeddings rank no cells on the Catalyst path (null
                # _cells -> join drops the row) — mirror that by dropping
                # them here instead of letting np.stack raise
                pdf = pdf[pdf["emb"].notna()]
                if not len(pdf):
                    continue
                embs = np.stack(pdf["emb"].to_numpy())
                order = np.argsort(-(embs @ cents_arr.T), axis=1, kind="stable")
                pdf = pdf[["vec_id", "emb"]].copy()
                pdf["_cells"] = list(cell_ids[order[:, :nprobe]])
                yield pdf

        scored = _persist(
            _spread(e.select("vec_id", "emb")).mapInPandas(
                rank_batches,
                schema="vec_id long, emb array<double>, _cells array<int>",
            )
            # referenced twice below (assigned + probes): persist so the
            # UDF pass runs once (the q40/q43 multi-reference pattern)
        )
    # r7: norms folded once per VECTOR on each branch (same expression,
    # bit-identical cosine) instead of once per candidate pair
    assigned = scored.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb2"),
        norm("emb").alias("_nc"),
        F.element_at("_cells", 1).alias("cell"),
    )
    probes = (
        scored.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("emb").alias("p_emb"),
            norm("emb").alias("_np"),
            F.explode("_cells").alias("cell"),
        )
    )
    pdot = F.aggregate(
        F.zip_with(F.col("p_emb"), F.col("c_emb2"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        probes.join(assigned, "cell")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select(
            "probe_id",
            "cand_id",
            _r6(pdot / (F.col("_np") * F.col("_nc"))).alias("cosine"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


_Q44_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cents AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {_IVF_CELLS}),
ranked AS (
  SELECT e.vec_id, e.emb, cents.cell,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(e.emb, cents.c_emb) /
                    (sqrt(list_dot_product(e.emb, e.emb)) *
                     sqrt(list_dot_product(cents.c_emb, cents.c_emb))) DESC,
                    cents.cell ASC) AS rk
  FROM e, cents),
assigned AS (SELECT vec_id AS cand_id, emb AS c_emb2, cell FROM ranked WHERE rk = 1),
probes AS (SELECT vec_id AS probe_id, emb AS p_emb, cell
           FROM ranked WHERE vec_id < 10 AND rk <= {_IVF_NPROBE}),
pairs AS (
  SELECT probe_id, cand_id,
         round(list_dot_product(p_emb, c_emb2) /
               (sqrt(list_dot_product(p_emb, p_emb)) *
                sqrt(list_dot_product(c_emb2, c_emb2))), 6) AS cosine
  FROM probes JOIN assigned USING (cell)
  WHERE probe_id != cand_id)
SELECT probe_id, cand_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM pairs) WHERE rank <= 5
"""


# Trained coarse quantizer (VERDICT r3 #5): spherical Lloyd's k-means over a
# bounded deterministic sample, replacing q44's first-16-vectors quantizer.
# Fixed iteration count (no convergence-dependent stop) keeps it bit-stable.
_IVF_TRAIN_ITERS = 12
_IVF_TRAIN_SAMPLE = 8192
_IVF_CENT_CACHE: dict = {}


def _ivf_cells_for(n: int) -> int:
    """Cell-count heuristic: ~sqrt(n) coarse cells (the standard IVF sizing
    — cell scan cost and cell count balance at sqrt), clamped to [16, 256].
    At 10^9 vectors the clamp keeps the literal centroid table bounded; a
    real deployment past ~10^7 rows would raise the cap and ship centroids
    as a broadcast table instead of literals (same plan shape)."""
    import math

    return max(16, min(256, round(math.sqrt(n))))


def _ivf_trained_centroids(sf_dir: str, n_cells: int | None = None) -> tuple:
    """Unit centroids from seeded spherical k-means, float64; n_cells
    defaults to the sqrt-n heuristic over the corpus (VERDICT r4 #8).

    Reads the embeddings parquet directly with pyarrow on the driver — the
    training set is a strided sample of <= _IVF_TRAIN_SAMPLE rows, so at 10^9
    vectors this is the bounded `df.sample().collect()` step (metadata-sized
    transfer either way; the strided read stands in for `TABLESAMPLE`).
    Fully deterministic: rows sorted by vec_id, stride = n // cap, init =
    evenly-strided sample rows, argmax assignment (ties -> lowest cell),
    empty cells keep their previous centroid. The SAME function feeds both
    the Spark literals (q46) and the DuckDB oracle literals (_q46_sql), so
    both engines rank against bit-identical centroids."""
    cached = _IVF_CENT_CACHE.get((sf_dir, n_cells))
    if cached is not None:
        return cached
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    rows = [
        (v, e)
        for v, e in zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
        if e is not None  # null embeddings train nothing (q68/r5 null convention)
    ]
    vid = np.asarray([v for v, _ in rows])
    x = np.asarray([e for _, e in rows], dtype=np.float64)
    x = x[np.argsort(vid, kind="stable")]
    k = _ivf_cells_for(len(x)) if n_cells is None else n_cells
    stride = max(1, len(x) // _IVF_TRAIN_SAMPLE)
    s = x[::stride][:_IVF_TRAIN_SAMPLE]

    def _unit(m):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return m / n

    s = _unit(s)
    c = _unit(s[np.linspace(0, len(s) - 1, k).astype(int)].copy())
    for _ in range(_IVF_TRAIN_ITERS):
        assign = np.argmax(s @ c.T, axis=1)
        for j in range(k):
            members = s[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
        c = _unit(c)
    out = tuple(tuple(float(v) for v in row) for row in c)
    _IVF_CENT_CACHE[(sf_dir, n_cells)] = out
    return out


def q46_ann_ivf_trained(spark, sf_dir, n_cells: int | None = None,
                        nprobe: int = _IVF_NPROBE):
    """q44 with a TRAINED coarse quantizer: same literal-centroid map-side
    assignment and broadcast probe join, but the _IVF_CELLS centroids come
    from seeded k-means over a bounded sample (see _ivf_trained_centroids)
    instead of the first 16 vectors. On held-out probes (vec_id not in the
    centroid set) the trained cells beat the fixed ones at equal nprobe —
    pytest-pinned in tests/test_neardup.py; the q44/q27 probe set (vec_id <
    10) is NOT a fair comparison because those probes ARE q44's centroids
    (each probe's own cell contains its neighborhood by construction).
    Recasts the reference's fit-then-apply detector pattern
    (anomaly_detector.py:282-340's train/apply split) onto ANN indexing.

    `n_cells` defaults to the sqrt-n heuristic (_ivf_cells_for; r4 #8 —
    16 fixed cells starved recall as corpora grew); `nprobe` is exposed
    for the recall/candidate trade. The generated oracle derives the SAME
    defaults from the same corpus, so parity holds at any scale."""
    cents = _ivf_trained_centroids(sf_dir, n_cells)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    return _ivf_topk_from_cents(e, list(enumerate(cents)), nprobe)


def _q46_sql(sf_dir: str = "/root/testdata/sf0.01",
             n_cells: int | None = None,
             nprobe: int = _IVF_NPROBE) -> str:
    """DuckDB oracle for q46, generated at call time: the trained centroids
    are data-dependent, so the SQL embeds the same unit-centroid literals the
    Spark plan uses (bit-identical floats via repr round-trip). Cell ranking
    uses the plain dot product — the |emb| factor is common to all cells on
    both engines, exactly as the Spark plan drops it."""
    cents = _ivf_trained_centroids(sf_dir, n_cells)
    rows = ",\n".join(
        f"({cell}, [{', '.join(repr(v) for v in vec)}]::DOUBLE[])"
        for cell, vec in enumerate(cents)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cents(cell, c_emb) AS (VALUES {rows}),
ranked AS (
  SELECT e.vec_id, e.emb, cents.cell,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(e.emb, cents.c_emb) DESC,
                    cents.cell ASC) AS rk
  FROM e, cents),
assigned AS (SELECT vec_id AS cand_id, emb AS c_emb2, cell FROM ranked WHERE rk = 1),
probes AS (SELECT vec_id AS probe_id, emb AS p_emb, cell
           FROM ranked WHERE vec_id < 10 AND rk <= {nprobe}),
pairs AS (
  SELECT probe_id, cand_id,
         round(list_dot_product(p_emb, c_emb2) /
               (sqrt(list_dot_product(p_emb, p_emb)) *
                sqrt(list_dot_product(c_emb2, c_emb2))), 6) AS cosine
  FROM probes JOIN assigned USING (cell)
  WHERE probe_id != cand_id)
SELECT probe_id, cand_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM pairs) WHERE rank <= 5
"""


def q39_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (dedup family): all pairs with cosine
    >= 0.45, computed exactly.

    SMALL-DATA ORACLE TWIN ONLY (cf. q26 for text): the canonical scale path
    is q42_embedding_neardup_lsh (banded cosine-LSH candidates -> exact
    verify). This corpus's embeddings are near-random (max pairwise cosine
    ~0.51), so the realistic-near-dup threshold (0.9+) would return nothing
    and 0.45 exercises the operator."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea")).repartition(32)
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", _r6(dot / (norm("ea") * norm("eb"))))
        .filter(F.col("cosine") >= 0.45)
        .select("vec_a", "vec_b", "cosine")
    )


_Q39_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.emb, b.emb) /
             (sqrt(list_dot_product(a.emb, a.emb)) *
              sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.emb, b.emb) /
            (sqrt(list_dot_product(a.emb, a.emb)) *
             sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.45
"""
# ^ the threshold is applied to the ROUNDED cosine in BOTH engines (the
# Spark side filters the _r6 column): filtering the raw float instead put
# the knife edge at 0.45 itself, where a 1-ulp summation-order difference
# between engines flips membership (observed: one pair in 263k at sf1).
# On the rounded value the hazard moves to the 0.4499995 rounding midpoint,
# where no computed cosine sits within 1 ulp.


# SimHash width: 60 bits (the full value of the portable 15-hex-char md5
# extraction — round 2's 16-bit fingerprint had a 65,536-value space that
# collides catastrophically past ~10^4 docs). Banded for the Hamming join as
# 4 x 15-bit bands; by pigeonhole any pair with Hamming distance <= 3 shares
# at least one full band, so the banded equi-join has recall 1 for the <= 3
# verify threshold.
_SH_BITS = 60
_SH_BANDS = 4
_SH_BAND_BITS = _SH_BITS // _SH_BANDS  # 15
_SH_HAM_MAX = _SH_BANDS - 1  # pigeonhole-exact verify threshold


def _simhash60_agg(d):
    """(doc_id, fp) via the Catalyst formulation: explode -> per-(doc, token)
    hash -> ONE hash-agg with 60 signed-vote sums (map-side partial agg,
    whole-stage codegen, md5 evaluated once per token — the HOF-fold
    formulation re-evaluated the token hash per bit). Kept as the
    equivalence reference for the scan-local `_simhash60`; the 60-branch
    CASE tree per token row was q40's residual cost (11.1s at sf1)."""
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), r"\s+"))).alias("t")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SH_BITS)
        ]
    )
    fp = None
    for b in range(_SH_BITS):
        bit_val = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit_val if fp is None else fp + bit_val
    return votes.select("doc_id", fp.cast("long").alias("fp"))


def _simhash60(d):
    """(doc_id, fp) with a 60-bit md5-portable simhash, computed SCAN-LOCALLY
    by an Arrow-batched mapInPandas (VERDICT r4 #4, the q43 pattern): per
    document, hash each distinct token once (hashlib.md5 at C speed, with a
    per-batch token->hash cache — the corpus vocabulary repeats heavily),
    then one numpy bit-matrix vote ((n_tok x 60) signs summed down the
    columns). No token explode, no shuffle of token rows, no 60-branch CASE
    tree per token: the first shuffle in the plan is the banded pair join
    over ONE row per doc. Token semantics match the Catalyst/DuckDB twin:
    ASCII \\s+ split (Java/RE2 semantics via re.ASCII), distinct, md5 of the
    utf-8 bytes, leading/trailing empty tokens preserved exactly as
    Java split(-1) does."""
    import pandas as pd  # local import: queries.py is otherwise JVM-only


    def simhash_batches(batches):
        import hashlib
        import re

        import numpy as np

        ws = re.compile(r"\s+", re.ASCII)
        cache: dict[str, int] = {}

        def h60(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                if len(cache) >= 2_000_000:
                    # bound worker memory on huge-vocabulary partitions:
                    # the cache is a pure memo, dropping it only re-hashes
                    cache.clear()
                # top 60 bits of the digest == first 15 hex chars, minus the
                # hex-string round-trip
                v = int.from_bytes(
                    hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"
                ) >> 4
                cache[tok] = v
            return v

        bits = np.arange(_SH_BITS, dtype=np.int64)
        weights = (np.int64(1) << bits)
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue  # agg formulation yields no row for null text
                hs = np.fromiter(
                    (h60(t) for t in set(ws.split(text))),
                    dtype=np.int64,
                )
                votes = (
                    ((hs[:, None] >> bits[None, :]) & 1) * 2 - 1
                ).sum(axis=0)
                ids.append(doc_id)
                fps.append(int(weights[votes > 0].sum()))
            yield pd.DataFrame(
                {"doc_id": pd.array(ids, dtype="int64"),
                 "fp": pd.array(fps, dtype="int64")}
            )

    return (
        d.select("doc_id", "text")
        .transform(_spread)  # few-row-group sources must not starve the UDF stage (r7)
        .mapInPandas(simhash_batches, schema="doc_id long, fp long")
    )


def q40_simhash_hamming(spark, sf_dir):
    """Document fingerprinting + Hamming near-dup join: 60-bit md5-based
    simhash -> band into 4 x 15-bit chunks -> pairs sharing ANY chunk at the
    same position (equi-join on (band, chunk) — by pigeonhole this captures
    EVERY pair with Hamming distance <= 3) -> verify bit_count(xor) <= 3.
    The banding keeps the join bucketed (never all-pairs) exactly like q29,
    and the banded join is exact (recall 1) for the verify threshold."""
    # one row per doc; persisted because the banded self-join below would
    # otherwise re-derive the whole explode + 60-vote simhash agg once per
    # join side (the q29/q43 multi-reference pattern)
    fp = _persist(_simhash60(load(spark, sf_dir, "documents")))
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("fp"), _SH_BAND_BITS * b)
                .bitwiseAND(F.lit((1 << _SH_BAND_BITS) - 1))
                .alias("chunk"),
            )
            for b in range(_SH_BANDS)
        ]
    )
    x = fp.select("doc_id", "fp", F.explode(chunks).alias("bb")).select(
        "doc_id", "fp", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    # hamming filter BEFORE the distinct: the verify predicate is available
    # right at the join output (fp travels with each side), so the dedup
    # shuffle only carries passing pairs, not the full banded pair stream
    return (
        x.alias("a")
        .join(x.alias("b"), ["band", "chunk"])
        .filter((F.col("a.doc_id") < F.col("b.doc_id")) & (ham <= _SH_HAM_MAX))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def _q40_sql() -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(_SH_BITS)
    )
    mask = (1 << _SH_BAND_BITS) - 1
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(text, '\\s+')) AS t FROM documents),
tok AS (
  SELECT doc_id, CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) AS h
  FROM toks, unnest(t) AS u(x)),
votes AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM votes),
bands AS (
  SELECT doc_id, fp, band, (fp >> ({_SH_BAND_BITS} * band)) & {mask} AS chunk
  FROM fp, unnest([0, 1, 2, 3]) AS u(band)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fa, b.fp AS fb
  FROM bands a JOIN bands b ON a.band = b.band AND a.chunk = b.chunk
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(fa, fb)) <= {_SH_HAM_MAX}
"""


_Q40_SQL = _q40_sql()


# BPE-ish pretokenizer regex (GPT-2 style, RE2-safe subset: no lookahead so
# the identical pattern runs in Spark's Java regex and DuckDB's RE2):
# leading-space word | leading-space number | leading-space punctuation run.
_BPE_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def q41_bpe_tokens(spark, sf_dir):
    """Token counting with a BPE-ish regex pretokenizer (vs q23's whitespace
    tokenizer): per source, total subword tokens, tokens/doc, and the ratio
    vs whitespace tokens — all from one hash agg; tokenization is
    regexp_extract_all, identical pattern in both engines."""
    d = _spread(load(spark, sf_dir, "documents"))
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0)
    ws = F.split(F.col("text"), r"\s+")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(bpe)).cast("bigint").alias("total_bpe_tokens"),
        _r6(F.avg(F.size(bpe))).alias("bpe_tokens_per_doc"),
        _r6(F.avg(F.size(bpe) / F.greatest(F.size(ws), F.lit(1)))).alias(
            "bpe_to_ws_ratio"
        ),
    )


_Q41_SQL = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(lower(text), '{_BPE_RE}'))) AS BIGINT)
         AS total_bpe_tokens,
       round(avg(len(regexp_extract_all(lower(text), '{_BPE_RE}'))), 6)
         AS bpe_tokens_per_doc,
       round(avg(len(regexp_extract_all(lower(text), '{_BPE_RE}')) * 1.0 /
                 greatest(len(regexp_split_to_array(text, '\\s+')), 1)), 6)
         AS bpe_to_ws_ratio
FROM documents GROUP BY source
"""


def q36_interval_window(spark, sf_dir):
    """F3: explicit INTERVAL arithmetic — the reference's detection window is
    `end_dt - timedelta(hours=window_hours)` (anomaly_detector.py:46-47);
    here the anchor is max(ts) (single-row agg, broadcast) and the window
    predicate is `ts > end - INTERVAL 6 HOURS`, evaluated in Catalyst."""
    ev = load(spark, sf_dir, "events")
    end = ev.agg(F.max("ts").alias("end_ts"))
    return (
        ev.join(F.broadcast(end))
        .filter(F.col("ts") > F.col("end_ts") - F.expr("INTERVAL 6 HOURS"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


_Q36_SQL = """
SELECT event_type, count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts
FROM events
WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 6 HOUR
GROUP BY event_type
"""


# Language-ID stopword profiles. Tiny on purpose: the heuristic is
# marker-token counting (the degenerate first stage of an n-gram profile
# classifier); the synthetic corpus's text does not actually vary by language
# (all docs share one vocabulary), so the correctness statement here is
# engine parity on the SPEC (Spark == DuckDB on identical scoring), not label
# recovery.
_LANGID_PROFILES = [
    ("en", ["the", "a", "and", "of", "to", "is", "in", "fast", "slow"]),
    ("fr", ["le", "la", "les", "et", "de", "un", "une", "est"]),
    ("es", ["el", "los", "las", "y", "de", "un", "una", "es"]),
    ("de", ["der", "die", "das", "und", "ein", "eine", "ist"]),
]


def q38_language_id(spark, sf_dir):
    """Text analysis: language identification via marker-token scoring —
    score_l = |tokens in lang l's stopword profile|, predicted = argmax
    (ties broken by profile order), 'und' when every score is 0. Pure
    Catalyst array HOFs per row; one hash agg for the rollup."""
    d = _spread(load(spark, sf_dir, "documents"))
    # explode(array(expr)) barriers: CollapseProject re-inlines a projected
    # expression into every downstream reference, so without them the token
    # split re-runs once per language profile and the whole entries array
    # (every profile's filter scan) re-runs for each of the three `best`
    # field accesses (~3x the row work, measured at 50k docs). A Generate
    # blocks the collapse; its output is an attribute, referenced for free.
    tokd = d.select(
        F.explode(F.array(F.split(F.col("text"), r"\s+"))).alias("_t")
    )

    def _score(words):
        stop_arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("_t"), lambda t: F.array_contains(stop_arr, t)))

    # argmax as ONE array_max over (score, -index, lang) structs — struct
    # ordering is lexicographic, so strict-greater score wins and equal
    # scores fall to the larger -index = EARLIER profile (deterministic,
    # matching the oracle). A when/otherwise fold here is a trap: each
    # best["score"] reference re-inlines the accumulated expression, growing
    # the tree exponentially in the profile count (measured 3.4s -> this
    # form is linear).
    entries = F.array(
        *[
            F.struct(
                _score(words).alias("score"),
                F.lit(-i).alias("neg_i"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, words) in enumerate(_LANGID_PROFILES)
        ]
    )
    bestd = tokd.select(
        F.explode(F.array(F.array_max(entries))).alias("_b"),
        F.greatest(F.size("_t"), F.lit(1)).alias("_n"),
    )
    scored = bestd.select(
        F.when(F.col("_b.score") > 0, F.col("_b.lang"))
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
        (F.col("_b.score") / F.col("_n")).alias("_conf"),
    )
    return scored.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _r6(F.avg("_conf")).alias("mean_confidence"),
    )


def _langid_sql() -> str:
    score_cols = []
    for lang, words in _LANGID_PROFILES:
        lst = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"len(list_filter(toks, t -> t IN ({lst}))) AS s_{lang}"
        )
    # argmax with earlier-profile-wins ties: fold right-to-left so earlier
    # profiles override on strict >
    langs = [lang for lang, _ in _LANGID_PROFILES]
    best_score = f"greatest({', '.join('s_' + lang for lang in langs)})"
    pick = "'und'"
    for lang in reversed(langs):
        pick = f"CASE WHEN s_{lang} = best AND best > 0 THEN '{lang}' ELSE {pick} END"
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
scored AS (
  SELECT doc_id, toks, {', '.join(score_cols)} FROM toks),
best AS (
  SELECT *, {best_score} AS best FROM scored),
pred AS (
  SELECT {pick} AS lang_pred,
         best * 1.0 / greatest(len(toks), 1) AS conf
  FROM best)
SELECT lang_pred, count(*) AS n_docs, round(avg(conf), 6) AS mean_confidence
FROM pred GROUP BY lang_pred
"""


_Q38_SQL = _langid_sql()


# q30_simhash (rows-only xxhash64 16-bit fingerprint) was retired in round 3:
# q40's 60-bit md5-portable simhash is the same operator with a full DuckDB
# value oracle, making the unoracled twin redundant (VERDICT r2 #2).


# Winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# fingerprinting scheme): k-char rolling grams, window of w consecutive gram
# hashes, keep the min of each window. Guarantee: any substring match of
# length >= k + w - 1 shares at least one selected fingerprint.
# k=16 spans ~3 words of this corpus's short vocabulary; _WN_MAX_DF drops
# fingerprints present in more than that many documents before the pair join
# (MOSS does the same): a ubiquitous fingerprint is boilerplate, carries no
# discriminative signal, and its bucket is the same m^2 straggler as a hot
# LSH bucket — without the cap this corpus's tiny vocabulary makes the pair
# join quadratic in practice (measured 322s at sf0.01 vs <10s capped).
_WN_K = 16
_WN_W = 8
_WN_MAX_DF = 50
_WN_MIN_SHARED = 5


def q43_winnowing_neardup(spark, sf_dir):
    """Document fingerprinting via rolling-hash winnowing + shared-fingerprint
    pair join: lowercase k-gram (k=16) hashes per position -> min of each
    w=8 window -> distinct fingerprints per doc -> drop fingerprints present
    in more than _WN_MAX_DF docs (stop-fingerprint removal, as in MOSS) ->
    explode -> self-join on the fingerprint -> pairs sharing >= 5
    fingerprints. Third member of the fingerprint family (q25 whole-doc hash,
    q40 simhash): winnowing detects CONTAINED/overlapping spans (any shared
    substring of >= k+w-1 chars is guaranteed a shared fingerprint), which
    whole-doc and bag-of-token fingerprints both miss.

    Scale shape: fingerprint selection is ENTIRELY scan-local — an
    Arrow-batched mapInPandas computes, per document, all gram hashes
    (vectorized single-block MD5, operators/md5x.py, packed across the
    batch's docs; bit-identical to hashlib), the w-window rolling min
    (numpy sliding_window_view), and the per-doc dedup (np.unique). The
    ONLY shuffle over the fingerprint relation is one hash repartition on
    fp + sortWithinPartitions; a streaming run-walker mapInPandas then
    emits each fingerprint run's doc pairs directly, applying the df cap
    (runs longer than _WN_MAX_DF are dropped AS THEY STREAM, O(cap) memory
    even for a boilerplate fingerprint held by millions of docs — strictly
    stronger than the r5 broadcast-anti-join guard, which still scanned
    the hot rows once more). r6 measured on the 20k-doc bench corpus: the
    r5 shape (df-cap agg pass 1.9s + broadcast-anti persist pass 1.5s +
    self-join 3.9s, three passes over 6.5M fingerprint rows) ran 7.2s
    warm; this one-shuffle shape runs 3.8s with the identical 602-pair
    output. The final pair count >= _WN_MIN_SHARED agg shuffles only the
    capped pair set.

    This is the measured exception to the built-ins-first rule: the
    per-gram CRYPTOGRAPHIC hash dominates the scan, and at 50k docs / 76M
    grams the UDF stage runs ~4s where the explode + (doc_id,
    chunk)-window formulation paid a 93s gram-row shuffle+sort and the
    all-HOF array formulation paid 160s+ of per-element interpreted
    lambdas (both measured, round 4). Two more formulation traps kept for
    the record: string substr at position i is an O(i) UTF-8 scan (a
    0.5 MB doc took ~20 min — slice bytes, not chars), and a
    lambda-indexed slice over an invariant hash-array expression
    re-evaluates the O(L) md5 transform per window (O(L^2) md5s, 490s on
    500 docs). Grams are CHARACTER k-grams hashed via their utf-8
    encoding — exactly the oracle's md5(substr(text)) — with a byte-slice
    fast path taken when the doc is pure ASCII (byte grams == char grams
    there).
    The df cap is ON by default because a ubiquitous fingerprint is
    definitionally boilerplate (MOSS drops them too). The k-gram hash is
    the md5-60bit extraction, so the whole pipeline has a DuckDB value
    oracle."""
    import pandas as pd  # local import: queries.py is otherwise JVM-only

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # round-robin repartition: a single parquet file would otherwise put the
    # whole UDF stage in one task (the measured probe-side pathology)
    d = d.repartition(spark.sparkContext.defaultParallelism * 2)

    def winnow_batches(batches):
        import hashlib

        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        from real_time_anomaly_detection_spark.operators.md5x import (
            md5_top60_sliding_multi,
        )

        def select_fps(doc_id, h, ids, fps):
            """w-window rolling min over the gram hashes + per-doc dedup."""
            if len(h) >= _WN_W:
                mins = sliding_window_view(h, _WN_W).min(axis=1)
            else:
                mins = h.min(keepdims=True)  # single short window
            u = np.unique(mins)
            ids.append(np.full(len(u), doc_id, np.int64))
            fps.append(u)

        for pdf in batches:
            ids, fps = [], []
            ascii_ids, ascii_bufs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # Catalyst formulation yields a null fingerprint here,
                    # which the fp equi-join drops — emitting nothing is the
                    # same final pair set
                    continue
                s = text.lower()
                b = s.encode("utf-8")
                # gram positions are CHARACTER positions (matching the SQL
                # oracle's substr semantics); on pure-ASCII text byte slices
                # of the encoding ARE the char-grams' utf-8 encodings, so the
                # byte path applies. Non-ASCII docs take the char-slice path:
                # hash the utf-8 encoding of each CHAR k-gram — identical
                # semantics, no silent divergence (ADVICE r4).
                if len(b) == len(s) and len(b) >= _WN_K:
                    # every gram is a fixed 16-byte single-block MD5
                    # message, so the position loop vectorizes (numpy
                    # 64-round compression, bit-identical to hashlib);
                    # deferred so the compression chunks pack ACROSS the
                    # batch's docs — per-doc calls don't amortize the
                    # ~448 numpy dispatches (r6 measured: per-doc ran no
                    # faster than the hashlib loop; packed runs ~3x)
                    ascii_ids.append(doc_id)
                    ascii_bufs.append(b)
                    continue
                n = max(len(s) - (_WN_K - 1), 1)
                # first 15 hex chars of md5 == top 60 bits of the digest:
                # int.from_bytes(digest[:8]) >> 4 skips the 32-char hex
                # string round-trip (measured ~33% off the gram-hash loop)
                md5, ifb = hashlib.md5, int.from_bytes
                h = np.fromiter(
                    (
                        ifb(
                            md5(s[i : i + _WN_K].encode("utf-8")).digest()[:8],
                            "big",
                        )
                        >> 4
                        for i in range(n)
                    ),
                    np.int64,
                    n,
                )
                select_fps(doc_id, h, ids, fps)
            if ascii_bufs:
                vals, counts = md5_top60_sliding_multi(ascii_bufs, _WN_K)
                off = 0
                for doc_id, cnt in zip(ascii_ids, counts):
                    select_fps(doc_id, vals[off : off + cnt], ids, fps)
                    off += cnt
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids) if ids else np.array([], np.int64),
                    "fp": np.concatenate(fps) if fps else np.array([], np.int64),
                }
            )

    def pair_runs(batches):
        """Walk fp-sorted rows of one partition; emit the C(run, 2) doc
        pairs of every fingerprint run with 2..=_WN_MAX_DF members. Runs
        over the cap are dropped AS THEY STREAM (the buffer is cleared the
        moment it exceeds cap), so worker memory is O(cap) per run no
        matter how many documents share a boilerplate fingerprint. State
        carries across Arrow batches: a run straddling a batch boundary is
        flushed only when the next fingerprint begins (or at end of
        partition)."""
        import numpy as np

        cap = _WN_MAX_DF
        cur_fp = None
        buf: list[int] = []
        dead = False

        def flush(out_a, out_b):
            if not dead and len(buf) >= 2:
                ds = np.sort(np.array(buf, np.int64))
                ia, ib = np.triu_indices(len(ds), k=1)
                out_a.append(ds[ia])
                out_b.append(ds[ib])

        def frame(out_a, out_b):
            return pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a)
                    if out_a
                    else np.array([], np.int64),
                    "doc_b": np.concatenate(out_b)
                    if out_b
                    else np.array([], np.int64),
                }
            )

        for pdf in batches:
            out_a, out_b = [], []
            for f_, d_ in zip(pdf["fp"].to_numpy(), pdf["doc_id"].to_numpy()):
                if f_ != cur_fp:
                    flush(out_a, out_b)
                    cur_fp = f_
                    buf = [d_]
                    dead = False
                elif not dead:
                    buf.append(d_)
                    if len(buf) > cap:
                        dead = True
                        buf = []
            yield frame(out_a, out_b)
        out_a, out_b = [], []
        flush(out_a, out_b)
        yield frame(out_a, out_b)

    x = d.mapInPandas(winnow_batches, schema="doc_id long, fp long")
    # the plan's ONE fingerprint shuffle: co-locate each fingerprint's rows
    # and sort so runs are contiguous for the streaming walker. (The r5
    # shape — df-cap agg + broadcast anti-join + fp self-join — made three
    # passes over the fingerprint relation and needed two persists; this
    # replaces all of it, 7.2s -> 3.8s warm at the bench corpus.)
    x = x.repartition(
        spark.sparkContext.defaultParallelism, "fp"
    ).sortWithinPartitions("fp")
    pairs = x.mapInPandas(pair_runs, schema="doc_a long, doc_b long")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WN_MIN_SHARED)
    )


_Q43_SQL = f"""
WITH d AS (SELECT doc_id, lower(text) AS txt,
                  greatest(length(text) - {_WN_K - 1}, 1) AS n
           FROM documents),
g AS (SELECT doc_id, n, i,
        CAST('0x' || substr(md5(substr(txt, CAST(i AS INT), {_WN_K})), 1, 15)
             AS BIGINT) AS h
      FROM d, unnest(range(1, n + 1)) AS u(i)),
wm AS (SELECT doc_id, n, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS fp
       FROM g),
x0 AS (SELECT DISTINCT doc_id, fp FROM wm
       WHERE i <= greatest(n - {_WN_W - 1}, 1)),
rare AS (SELECT fp FROM x0 GROUP BY fp HAVING count(*) <= {_WN_MAX_DF}),
x AS (SELECT doc_id, fp FROM x0 WHERE fp IN (SELECT fp FROM rare))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM x a JOIN x b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {_WN_MIN_SHARED}
"""


def q31_psi_drift(spark, sf_dir):
    """U18 recast with an oracle: PSI of `value` distribution, second half of
    the month vs first half, per event_type — same fixed-bin + eps-smoothed
    formula the engine's drift check uses (operators/drift.py)."""
    ev = load(spark, sf_dir, "events")
    t0 = "2024-01-16"
    eps = 1e-6
    bin_ = F.least(F.greatest(F.floor(F.col("value") / 10), F.lit(0)), F.lit(11))
    b = ev.groupBy("event_type", bin_.alias("bin")).agg(
        F.count_if(F.col("ts") < t0).alias("nb"),
        F.count_if(F.col("ts") >= t0).alias("no"),
    )
    w = W.partitionBy("event_type")
    b = b.withColumn("snb", F.sum("nb").over(w)).withColumn("sno", F.sum("no").over(w))
    p = F.col("no") / F.col("sno") + eps
    q = F.col("nb") / F.col("snb") + eps
    return b.groupBy("event_type").agg(
        _r6(F.sum((p - q) * (F.log(p) - F.log(q)))).alias("psi"),
        F.sum("nb").alias("n_base"),
        F.sum("no").alias("n_obs"),
    )


_Q31_SQL = """
WITH b AS (
  SELECT event_type, CAST(least(greatest(floor(value / 10), 0), 11) AS BIGINT) AS bin,
         count_if(ts < TIMESTAMP '2024-01-16') AS nb,
         count_if(ts >= TIMESTAMP '2024-01-16') AS no
  FROM events GROUP BY 1, 2),
t AS (SELECT *, sum(nb) OVER (PARTITION BY event_type) AS snb,
             sum(no) OVER (PARTITION BY event_type) AS sno FROM b)
SELECT event_type,
       round(sum((no * 1.0 / sno + 1e-6 - (nb * 1.0 / snb + 1e-6)) *
                 (ln(no * 1.0 / sno + 1e-6) - ln(nb * 1.0 / snb + 1e-6))), 6) AS psi,
       CAST(sum(nb) AS BIGINT) AS n_base, CAST(sum(no) AS BIGINT) AS n_obs
FROM t GROUP BY event_type
"""


# Deterministic 80/10/10 train/val/test split. Assignment is a pure function
# of doc_id — stable under reprocessing, reshuffling, and corpus growth (a
# doc never migrates between splits when new docs arrive), which is the
# property random()-based splitting lacks.
def q45_hash_split(spark, sf_dir):
    """Training-data split assignment: bucket = md5-60bit(doc_id) % 100 ->
    train/val/test by fixed bound (80/10/10). One map-side expression + one
    hash agg for the rollup (counts + mean doc length per split) — no
    shuffle beyond the agg; the same expression works as a WHERE filter to
    materialize any single split without computing the others."""
    d = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long") % 100
    # train < 80 <= val < 90 <= test (flat when-chain: no nested re-inlining)
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), F.length("text").alias("_len"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _r6(F.avg("_len")).alias("mean_len"),
        )
    )


_Q45_SQL = """
WITH s AS (
  SELECT CASE
           WHEN (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100) < 80
             THEN 'train'
           WHEN (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100) < 90
             THEN 'val'
           ELSE 'test'
         END AS split,
         length(text) AS _len
  FROM documents)
SELECT split, count(*) AS n_docs, round(avg(_len), 6) AS mean_len
FROM s GROUP BY split
"""


# --------------------------------------------------------------------------
# q51: benchmark decontamination (train-split docs sharing a token n-gram
# with the held-out test split). _DC_N=8 keeps grams discriminative on the
# synthetic corpus (docs are 10-99 tokens) while still surfacing the
# planted near-dup overlap.
_DC_N = 8


def q51_decontamination(spark, sf_dir, n: int = _DC_N):
    """Benchmark decontamination: find TRAIN-split documents that share any
    token n-gram with a TEST-split (held-out benchmark) document — the
    standard n-gram-overlap contamination check an LLM data pipeline runs
    before training. Splits reuse q45's deterministic md5-bucket assignment
    (train = bucket < 80, test/benchmark = bucket >= 90), so the check is a
    pure function of the corpus.

    Spark shape for 100 TB: the BENCHMARK side is small by definition, so
    its distinct (gram, bench_doc) relation is broadcast; corpus grams are
    generated scan-locally (shifted-slice arrays_zip — each slice is a
    projection-level expression evaluated once per row, NOT an invariant
    array indexed from inside a lambda, which Catalyst would re-inline per
    element) and probed map-side. Only MATCHED rows (contamination-scale,
    not corpus-scale) reach the per-doc aggregate, so the one shuffle is
    tiny regardless of corpus size.

    Output: one row per contaminated train doc with the number of distinct
    shared grams and of distinct benchmark docs hit."""
    d = _spread(load(spark, sf_dir, "documents"))
    h = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 100
    )
    base = (
        d.select(
            "doc_id", h.alias("h"), F.split(F.col("text"), r"\s+").alias("toks")
        )
        .filter(F.size("toks") >= n)
    )
    m = F.size(F.col("toks")) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(F.col("toks"), k + 1, m).alias(f"t{k}") for k in range(n)]
    )
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(n)])
    )
    g = base.select("doc_id", "h", F.explode(grams).alias("gram"))
    bench = (
        g.filter(F.col("h") >= 90)
        .select(F.col("doc_id").alias("bench_doc"), "gram")
        .distinct()
    )
    train = g.filter(F.col("h") < 80)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


_Q51_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS h,
         regexp_split_to_array(text, '\\s+') AS toks
  FROM documents),
g AS (
  SELECT doc_id, h, array_to_string(toks[CAST(i AS BIGINT):CAST(i AS BIGINT) + {_DC_N - 1}], ' ') AS gram
  FROM d, unnest(range(1, len(toks) - {_DC_N - 2})) AS u(i)),
b AS (SELECT DISTINCT doc_id AS bench_doc, gram FROM g WHERE h >= 90),
t AS (SELECT doc_id, gram FROM g WHERE h < 80)
SELECT t.doc_id,
       CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
       CAST(count(DISTINCT b.bench_doc) AS BIGINT) AS n_bench_docs
FROM t JOIN b ON t.gram = b.gram
GROUP BY t.doc_id
"""


# q52: deterministic stratified sampling — corpus-mixing rates per language,
# evaluated as one map-side salted-hash predicate + one rollup aggregate.
_Q52_RATES = {"en": 0.35, "de": 0.8, "es": 0.8, "fr": 0.8, "zh": 0.8}


def q52_stratified_sample(spark, sf_dir, rates: dict[str, float] | None = None):
    """Deterministic stratified (per-language) sampling — the corpus-mixing
    step of a training-data pipeline: downsample over-represented strata to
    target rates. Membership is a pure function of doc_id via a salted
    md5 bucket ('q52:'||doc_id -> 60-bit % 10000 < rate*10000), so the
    sample is reproducible across runs/engines and composes with q45's
    split assignment (different salt -> independent hash).

    Spark shape: one map-side predicate (no shuffle) + one hash aggregate
    over the strata — the same predicate works as a WHERE filter to
    materialize the sampled corpus without computing the rollup. At 100 TB
    this is a single scan with partial aggregation; nothing is collected.

    Output: per-stratum totals, kept counts, realized rate, and mean kept
    doc length (null if a stratum keeps nothing)."""
    rates = _Q52_RATES if rates is None else rates
    d = load(spark, sf_dir, "documents")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("q52:"), F.col("doc_id").cast("string"))),
                1, 15,
            ), 16, 10,
        ).cast("long")
        % 10000
    )
    # flat when-chain (no nested re-inlining, same convention as q45)
    thresh = None
    for lang, rate in rates.items():
        cond, val = F.col("lang") == lang, F.lit(int(rate * 10000))
        thresh = F.when(cond, val) if thresh is None else thresh.when(cond, val)
    thresh = thresh.otherwise(F.lit(10000))
    kept = h < thresh
    return (
        d.select("lang", kept.alias("kept"), F.length("text").alias("_len"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(F.col("kept")).cast("bigint").alias("n_kept"),
            _r6(F.count_if(F.col("kept")) / F.count(F.lit(1))).alias(
                "realized_rate"
            ),
            _r6(F.avg(F.when(F.col("kept"), F.col("_len")))).alias(
                "mean_len_kept"
            ),
        )
    )


_Q52_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {int(rate * 10000)}"
    for lang, rate in _Q52_RATES.items()
) + " ELSE 10000 END"

_Q52_SQL = f"""
WITH s AS (
  SELECT lang,
         (CAST('0x' || substr(md5('q52:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 10000) < ({_Q52_CASE}) AS kept,
         length(text) AS _len
  FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count_if(kept) AS BIGINT) AS n_kept,
       round(count_if(kept) / CAST(count(*) AS DOUBLE), 6) AS realized_rate,
       round(avg(CASE WHEN kept THEN _len END), 6) AS mean_len_kept
FROM s GROUP BY lang
"""


# q53: Gopher-style repetition quality signals (Rae et al. 2021, appendix
# A1.1). Thresholds: top-2-gram fraction 0.20 is Gopher's published cut;
# the duplicate-2-gram cut 0.60 is corpus-tuned (this synthetic corpus has
# a tiny vocabulary, so duplicate 2-grams are pervasive by construction —
# the published 5..10-gram duplicate cuts would be degenerate here).
_Q53_TOP2_MAX = 0.20
_Q53_DUP2_MAX = 0.60


def q53_repetition_signals(spark, sf_dir,
                           top2_max: float = _Q53_TOP2_MAX,
                           dup2_max: float = _Q53_DUP2_MAX):
    """Per-document repetition filter signals — the Gopher-class quality
    gate an LLM pipeline runs before training: documents dominated by a
    repeated phrase (SEO spam, boilerplate, degenerate generations) are
    flagged by the fraction of token mass inside their most frequent
    word / 2-gram and the fraction of duplicated 2-gram occurrences.

    Definitions (token = whitespace split, empties dropped; docs with <2
    tokens are excluded — no 2-gram is defined):
    - top_word_frac  = max word count / n_tokens
    - top_2gram_frac = 2 * max 2-gram count / n_tokens
    - dup_2gram_frac = (sum of counts of 2-grams occurring >1x) / (n_tokens-1)
    - keep           = top_2gram_frac <= `top2_max` AND dup_2gram_frac <=
      `dup2_max`, compared on the 6-decimal-rounded values (both engines
      divide identical integers, so the rounded doubles are bit-equal).

    Spark shape for 100 TB: every signal depends only on the document's own
    tokens, so the whole computation is ONE scan-local mapInPandas pass —
    zero shuffle, nothing corpus-scale ever leaves the scan (the naive
    explode+groupBy(doc, gram) formulation shuffles the entire token
    stream). Null texts are skipped inside the batch loop (ADVICE r5 null
    convention). Counter-per-doc in the Arrow batch is the same
    per-partition numpy/pandas idiom as `_mh_bands_rows`."""
    t2x, d2x = float(top2_max), float(dup2_max)

    def signals(batches):
        from collections import Counter

        import pandas as _pd

        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "n_tokens", "top_word_frac", "top_2gram_frac",
                    "dup_2gram_frac")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or (isinstance(text, float)):
                    continue  # null text: no signals (both engines skip)
                toks = text.split()
                n = len(toks)
                if n < 2:
                    continue
                wc = Counter(toks)
                gc = Counter(zip(toks, toks[1:]))
                out["doc_id"].append(doc_id)
                out["n_tokens"].append(n)
                # RAW IEEE fractions (exact-int divisions, identical in any
                # engine); rounding happens JVM-side below because python's
                # round() is half-even while F.round/DuckDB are HALF_UP —
                # dyadic ties like 2/256 flip the 6th decimal otherwise
                out["top_word_frac"].append(max(wc.values()) / n)
                out["top_2gram_frac"].append(2.0 * max(gc.values()) / n)
                out["dup_2gram_frac"].append(
                    sum(c for c in gc.values() if c > 1) / (n - 1)
                )
            yield _pd.DataFrame(out)

    raw = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(_spread)
        .mapInPandas(
            signals,
            schema="doc_id long, n_tokens long, top_word_frac double, "
                   "top_2gram_frac double, dup_2gram_frac double",
        )
    )
    top2, dup2 = _r6(F.col("top_2gram_frac")), _r6(F.col("dup_2gram_frac"))
    return raw.select(
        "doc_id",
        "n_tokens",
        _r6(F.col("top_word_frac")).alias("top_word_frac"),
        top2.alias("top_2gram_frac"),
        dup2.alias("dup_2gram_frac"),
        ((top2 <= F.lit(t2x)) & (dup2 <= F.lit(d2x))).alias("keep"),
    )


_Q53_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL),
d AS (SELECT doc_id, len(toks) AS n, toks FROM t WHERE len(toks) >= 2),
w AS (SELECT doc_id, unnest(toks) AS tok FROM d),
wc AS (SELECT doc_id, max(c) AS mw FROM
        (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY doc_id, tok)
       GROUP BY doc_id),
g AS (SELECT doc_id,
             toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT) + 1] AS gram
      FROM d, unnest(range(1, len(toks))) AS u(i)),
gs AS (SELECT doc_id, max(c) AS mg,
              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dups
       FROM (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
       GROUP BY doc_id)
SELECT d.doc_id,
       CAST(d.n AS BIGINT) AS n_tokens,
       round(wc.mw / CAST(d.n AS DOUBLE), 6) AS top_word_frac,
       round(2.0 * gs.mg / d.n, 6) AS top_2gram_frac,
       round(gs.dups / CAST(d.n - 1 AS DOUBLE), 6) AS dup_2gram_frac,
       (round(2.0 * gs.mg / d.n, 6) <= {_Q53_TOP2_MAX}
        AND round(gs.dups / CAST(d.n - 1 AS DOUBLE), 6) <= {_Q53_DUP2_MAX})
         AS keep
FROM d JOIN wc USING (doc_id) JOIN gs USING (doc_id)
"""


# q54: greedy sequential sequence packing — the final assembly step of a
# training pipeline: concatenate documents into fixed-token-budget training
# examples. Packing is inherently sequential WITHIN a stream, so the 100 TB
# parallelism unit is the number of independent streams (shards): each
# shard packs its own deterministic doc_id order.
_Q54_BUDGET = 256
_Q54_SHARDS = 8


def q54_sequence_packing(spark, sf_dir, budget: int = _Q54_BUDGET,
                         n_shards: int = _Q54_SHARDS):
    """Greedy token-budget sequence packing: assign each document (in
    deterministic doc_id order within its md5 shard) to the current pack
    until adding it would exceed `budget` tokens, then open a new pack.
    A document longer than the budget overflows a pack of its own (fill
    rate > 1) — truncation/splitting is a downstream tokenizer decision,
    not the packer's.

    Spark shape for 100 TB: token counts are a map-side expression; the
    only shuffle keys on `shard`, and each shard packs independently inside
    ONE applyInPandas group. Parallelism therefore equals `n_shards` — a
    real deployment sizes n_shards so a shard's (doc_id, ntok) pairs fit an
    executor (metadata-scale: ~16 bytes/doc, so 64k shards cover 10^12 docs
    at ~250 MB/shard); the default 8 matches this test corpus. The greedy
    scan itself never sees document TEXT — only id + count ride the
    shuffle.

    Output: one row per pack (shard, pack_id, n_docs, n_tokens, fill_rate).

    DuckDB oracle: recursive CTE walking rn -> rn+1 per shard — the exact
    same greedy recurrence, row by row."""
    import pandas as pd

    b = int(budget)
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("q54:"), F.col("doc_id").cast("string"))),
                1, 15,
            ), 16, 10,
        ).cast("long")
        % n_shards
    )
    ntok = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
    rows = d.select(shard.alias("shard"), "doc_id", ntok.alias("ntok"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        pack_ids, acc, pid = [], 0, 0
        first = True
        for nt in pdf["ntok"]:
            nt = int(nt)
            if not first and acc + nt > b:
                pid, acc = pid + 1, nt
            else:
                acc += nt
            first = False
            pack_ids.append(pid)
        pdf = pdf.assign(pack_id=pack_ids)
        return (
            pdf.groupby(["shard", "pack_id"], as_index=False)
            .agg(n_docs=("doc_id", "size"), n_tokens=("ntok", "sum"))
        )[["shard", "pack_id", "n_docs", "n_tokens"]]

    packed = rows.groupBy("shard").applyInPandas(
        pack,
        schema="shard long, pack_id long, n_docs long, n_tokens long",
    )
    # fill_rate rounds JVM-side: F.round is HALF_UP like DuckDB's round();
    # pandas .round is half-even and n/2^k budgets tie at the 6th decimal
    return packed.withColumn("fill_rate", _r6(F.col("n_tokens") / F.lit(b)))


_Q54_SQL = f"""
WITH RECURSIVE d0 AS (
  SELECT (CAST('0x' || substr(md5('q54:' || CAST(doc_id AS VARCHAR)), 1, 15)
          AS BIGINT) % {_Q54_SHARDS}) AS shard,
         doc_id,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
           AS ntok
  FROM documents WHERE text IS NOT NULL),
d AS (SELECT shard, doc_id, ntok,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM d0),
r AS (
  SELECT shard, rn, ntok, 0 AS pack_id, ntok AS acc FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.ntok,
         CASE WHEN r.acc + d.ntok > {_Q54_BUDGET}
              THEN r.pack_id + 1 ELSE r.pack_id END,
         CASE WHEN r.acc + d.ntok > {_Q54_BUDGET}
              THEN d.ntok ELSE r.acc + d.ntok END
  FROM r JOIN d ON d.shard = r.shard AND d.rn = r.rn + 1)
SELECT shard,
       CAST(pack_id AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       round(sum(ntok) / CAST({_Q54_BUDGET} AS DOUBLE), 6) AS fill_rate
FROM r GROUP BY shard, pack_id
"""


def q47_neardup_clusters(spark, sf_dir, max_bucket_size: int | None = None,
                         salt: int | None = None,
                         n_bands: int | None = None,
                         rows_per_band: int | None = None,
                         threshold: float = 0.5,
                         max_iters: int = 25,
                         algorithm: str = "star"):
    """Near-dup CLUSTERS + canonical keeper — the step that actually
    deduplicates a corpus (pairs alone do not: dropping one doc of every
    pair over-deletes transitively-linked groups and keeps no canonical
    representative). Connected components over the q34 verified-pair graph,
    cluster_id = min doc_id in the component, is_keeper marks that doc;
    emits only docs that belong to some near-dup pair (singletons are
    trivially their own keeper and would dominate the output).

    Spark shape: `operators.components.connected_components`. Default
    algorithm is large-star/small-star contraction (round count independent
    of cluster diameter — the scale-safe choice); `algorithm='min_label'`
    selects Pregel-style min-label propagation (rounds = component
    diameter, fine for near-clique clusters). Both raise rather than return
    silently-wrong labels on non-convergence, and both keep the driver loop
    metadata-only (per-round convergence counts).

    DuckDB oracle: WITH RECURSIVE min-label reachability closure over the
    same pair SQL — component ids are algorithm-independent (min doc_id),
    so the engines agree exactly regardless of `algorithm`."""
    from .operators.components import connected_components

    pairs = q34_neardup_lsh_verified(
        spark, sf_dir, max_bucket_size, salt, n_bands, rows_per_band, threshold
    ).select("doc_a", "doc_b")
    labels = connected_components(pairs, max_iters=max_iters, algorithm=algorithm)
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


def q48_dedup_corpus(spark, sf_dir, max_bucket_size: int | None = None,
                     salt: int | None = None,
                     n_bands: int | None = None,
                     rows_per_band: int | None = None,
                     threshold: float = 0.5,
                     broadcast: bool | None = None,
                     broadcast_max_rows: int | None = None,
                     clusters=None):
    """The end-user dedup operation: the corpus AFTER near-dup removal —
    every document except non-keeper members of q47's clusters (each
    cluster survives exactly once, via its canonical min-doc_id keeper;
    docs in no near-dup pair survive untouched). Pass `clusters` (a
    relation with doc_id + is_keeper, e.g. cluster-update's checkpointed
    labels) to apply dedup without recomputing the cluster stack (q50's
    materialized-input pattern; the bench times it that way — q47's own
    row times the cluster compute).

    Spark shape: left_anti join of `documents` against the non-keeper doc
    ids, strategy gated on drop-set size via
    `operators.components.drop_non_keepers`. At real LLM dedup rates
    (30-80% of a web corpus is near-duplicate) the non-keeper set is NOT
    metadata-scale — billions of ids — so the broadcast map-side probe is
    only taken below `broadcast_max_rows` (default 1e7); above it the
    anti-join runs as a shuffled sort-merge, which moves the corpus once
    but never materializes the drop set in memory. `broadcast=True/False`
    forces either regime."""
    from .operators.components import drop_non_keepers

    docs = load(spark, sf_dir, "documents").select("doc_id")
    if clusters is None:
        clusters = q47_neardup_clusters(
            spark, sf_dir, max_bucket_size, salt, n_bands, rows_per_band,
            threshold
        )
    drop = clusters.filter(~F.col("is_keeper")).select("doc_id")
    kw = {} if broadcast_max_rows is None else {"broadcast_max_rows": broadcast_max_rows}
    return drop_non_keepers(docs, drop, broadcast=broadcast, **kw)


def q49_embedding_clusters(spark, sf_dir, max_bucket_size: int | None = None,
                           salt: int | None = None,
                           n_bands: int | None = None,
                           planes_per_band: int | None = None,
                           threshold: float = 0.45,
                           max_iters: int = 25,
                           algorithm: str = "star"):
    """Embedding-modality twin of q47: connected components over the q42
    verified cosine-near-dup pair graph (cluster_id = min vec_id, is_keeper
    marks it) — the `operators.components` machinery is modality-agnostic,
    so this is the same star contraction over a different pair relation.
    Same recursive-CTE oracle pattern as q47, over _Q42_SQL."""
    from .operators.components import connected_components

    pairs = q42_embedding_neardup_lsh(
        spark, sf_dir, max_bucket_size, salt, n_bands, planes_per_band, threshold
    ).select("vec_a", "vec_b")
    labels = connected_components(pairs, max_iters=max_iters, algorithm=algorithm)
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


_CC_CTES = f"""WITH RECURSIVE base AS ({_Q34_SQL}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM base
  UNION ALL
  SELECT doc_b, doc_a FROM base),
reach(node, label) AS (
    SELECT DISTINCT u, u FROM edges
  UNION
    SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node)"""

_Q47_SQL = f"""
{_CC_CTES}
SELECT node AS doc_id, min(label) AS cluster_id,
       (node = min(label)) AS is_keeper
FROM reach GROUP BY node
"""

_Q48_SQL = f"""
{_CC_CTES},
drop_ids AS (
  SELECT node AS doc_id FROM reach GROUP BY node
  HAVING node <> min(label))
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM drop_ids x WHERE x.doc_id = d.doc_id)
"""

_Q49_SQL = f"""
WITH RECURSIVE base AS ({_Q42_SQL}),
edges AS (
  SELECT vec_a AS u, vec_b AS v FROM base
  UNION ALL
  SELECT vec_b, vec_a FROM base),
reach(node, label) AS (
    SELECT DISTINCT u, u FROM edges
  UNION
    SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node)
SELECT node AS vec_id, min(label) AS cluster_id,
       (node = min(label)) AS is_keeper
FROM reach GROUP BY node
"""


def q50_modality_reconciliation(spark, sf_dir,
                                text_n_bands: int | None = None,
                                rows_per_band: int | None = None,
                                emb_n_bands: int | None = None,
                                planes_per_band: int | None = None,
                                text_threshold: float = 0.5,
                                emb_threshold: float = 0.45,
                                text_clusters=None,
                                emb_clusters=None):
    """Cross-modality reconciliation (VERDICT r5 #7): the curation decision
    a real pipeline makes when the TEXT near-dup clusters (q47) and the
    EMBEDDING near-dup clusters (q49) disagree about a document. One row
    per doc appearing in either modality's cluster relation:

      status = text_only | emb_only      (the other modality saw no dup)
             | both_keeper | both_drop   (modalities agree on the verdict)
             | keeper_conflict           (one modality keeps, the other
                                          drops — the rows a human/curation
                                          policy must adjudicate)

    Spark shape: full outer join of the two cluster relations on doc id.
    Both sides are near-dup-doc-scale (metadata relative to the corpus), so
    the join is a small shuffle regardless of corpus size; absent-side
    cluster ids are encoded as -1 (keepers as false) to keep the schema
    null-free for byte-stable cross-engine comparison.

    ``text_clusters`` / ``emb_clusters``: optional PRECOMPUTED cluster
    relations (q47's (doc_id, cluster_id, is_keeper) / q49's (vec_id,
    cluster_id, is_keeper) schemas). A production pipeline materializes the
    per-modality labels once (`cluster-update` checkpoints them every
    epoch) and reconciliation joins those tables — recomputing both LSH →
    verify → contraction stacks inside every reconciliation report would
    repeat the pipeline's dominant cost. When given, the banding/threshold
    kwargs for that modality are ignored (they configured the upstream
    materialization). Defaults recompute, matching the static oracle."""
    t = (
        text_clusters
        if text_clusters is not None
        else q47_neardup_clusters(
            spark, sf_dir, n_bands=text_n_bands, rows_per_band=rows_per_band,
            threshold=text_threshold,
        )
    ).select(
        "doc_id",
        F.col("cluster_id").alias("_tc"),
        F.col("is_keeper").alias("_tk"),
    )
    e = (
        emb_clusters
        if emb_clusters is not None
        else q49_embedding_clusters(
            spark, sf_dir, n_bands=emb_n_bands, planes_per_band=planes_per_band,
            threshold=emb_threshold,
        )
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.col("cluster_id").alias("_ec"),
        F.col("is_keeper").alias("_ek"),
    )
    j = t.join(e, "doc_id", "full_outer")
    status = (
        F.when(F.col("_tc").isNull(), F.lit("emb_only"))
        .when(F.col("_ec").isNull(), F.lit("text_only"))
        .when(F.col("_tk") & F.col("_ek"), F.lit("both_keeper"))
        .when(~F.col("_tk") & ~F.col("_ek"), F.lit("both_drop"))
        .otherwise(F.lit("keeper_conflict"))
    )
    return j.select(
        "doc_id",
        F.coalesce("_tc", F.lit(-1)).alias("text_cluster"),
        F.coalesce("_tk", F.lit(False)).alias("text_keeper"),
        F.coalesce("_ec", F.lit(-1)).alias("emb_cluster"),
        F.coalesce("_ek", F.lit(False)).alias("emb_keeper"),
        status.alias("status"),
    )


_Q50_SQL = f"""
WITH t AS ({_Q47_SQL}), e AS ({_Q49_SQL})
SELECT COALESCE(t.doc_id, e.vec_id) AS doc_id,
       COALESCE(t.cluster_id, -1) AS text_cluster,
       COALESCE(t.is_keeper, FALSE) AS text_keeper,
       COALESCE(e.cluster_id, -1) AS emb_cluster,
       COALESCE(e.is_keeper, FALSE) AS emb_keeper,
       CASE WHEN t.doc_id IS NULL THEN 'emb_only'
            WHEN e.vec_id IS NULL THEN 'text_only'
            WHEN t.is_keeper AND e.is_keeper THEN 'both_keeper'
            WHEN NOT t.is_keeper AND NOT e.is_keeper THEN 'both_drop'
            ELSE 'keeper_conflict' END AS status
FROM t FULL OUTER JOIN e ON t.doc_id = e.vec_id
"""


# q55: Gopher-style document heuristic quality filter (Rae et al. 2021,
# appendix A1.1) — the NON-repetition half of the published rule set; q53
# carries the repetition rules. min_tokens=40 is corpus-tuned (Gopher's 50
# would drop 43% of this short-doc synthetic corpus; the point of the gate
# is the tail, and 40 flags the bottom ~30%). Symbol/bullet/ellipsis line
# rules are omitted: this corpus has no newlines, digits or symbols, so
# they are uncomputable-by-vacuity here, not implementation gaps.
_Q55_MIN_TOKENS = 40
_Q55_MAX_TOKENS = 100_000
_Q55_MWL_MIN = 3.0
_Q55_MWL_MAX = 10.0
_Q55_ALPHA_MIN = 0.8
_Q55_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# Gopher's published floor is 2 DISTINCT stop-set members; this synthetic
# vocabulary intersects the published set only at "the" (max distinct
# present = 1 corpus-wide), so 2 would zero the keep set the same way the
# published duplicate-5..10-gram cuts would zero q53's. Corpus-tuned to 1;
# the stop SET itself stays the published one.
_Q55_MIN_STOPWORDS = 1


def q55_quality_heuristics(spark, sf_dir,
                           min_tokens: int = _Q55_MIN_TOKENS,
                           max_tokens: int = _Q55_MAX_TOKENS,
                           mwl_min: float = _Q55_MWL_MIN,
                           mwl_max: float = _Q55_MWL_MAX,
                           alpha_min: float = _Q55_ALPHA_MIN,
                           min_stopwords: int = _Q55_MIN_STOPWORDS):
    """Per-document Gopher heuristic quality signals and keep gate:

    - n_tokens        in [min_tokens, max_tokens]  (whitespace tokens)
    - mean_word_len   in [mwl_min, mwl_max]        (Gopher: 3..10)
    - alpha_word_frac >= alpha_min                 (words with >=1 [A-Za-z])
    - n_stopwords     >= min_stopwords             (DISTINCT members of
      Gopher's published stop set present: the/be/to/of/and/that/have/with)

    Fractions compare on the 6-dp-rounded values (both engines divide
    identical integers — q53's rounding-parity convention). Docs with zero
    tokens are excluded (mean length undefined), mirroring q53's n<2 rule.

    Spark shape for 100 TB: every signal is a Catalyst higher-order-
    function expression over the doc's own token array (filter/aggregate/
    array_intersect) — scan-local, whole-stage-codegen, ZERO shuffle and
    zero Python. The lambda never indexes an invariant array (the O(L^2)
    HOF trap); each signal is one linear fold."""
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    d = (
        _spread(load(spark, sf_dir, "documents"))
        .filter(F.col("text").isNotNull())
        .select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    sum_len = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mwl = _r6(sum_len.cast("double") / F.col("n"))
    alpha = _r6(
        F.size(F.filter("toks", lambda x: x.rlike("[A-Za-z]"))).cast("double")
        / F.col("n")
    )
    nstop = F.size(
        F.array_intersect("toks", F.array(*[F.lit(s) for s in _Q55_STOPWORDS]))
    ).cast("long")
    return d.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        mwl.alias("mean_word_len"),
        alpha.alias("alpha_word_frac"),
        nstop.alias("n_stopwords"),
        (
            F.col("n").between(min_tokens, max_tokens)
            & mwl.between(mwl_min, mwl_max)
            & (alpha >= alpha_min)
            & (nstop >= min_stopwords)
        ).alias("keep"),
    )


_Q55_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL),
d AS (SELECT doc_id, len(toks) AS n, toks FROM t WHERE len(toks) > 0),
s AS (SELECT doc_id, n,
             round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                   / n, 6) AS mean_word_len,
             round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                   / CAST(n AS DOUBLE), 6) AS alpha_word_frac,
             CAST(len(list_intersect(toks,
                  ['the','be','to','of','and','that','have','with']))
                  AS BIGINT) AS n_stopwords
      FROM d)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       mean_word_len,
       alpha_word_frac,
       n_stopwords,
       (n BETWEEN {_Q55_MIN_TOKENS} AND {_Q55_MAX_TOKENS}
        AND mean_word_len BETWEEN {_Q55_MWL_MIN} AND {_Q55_MWL_MAX}
        AND alpha_word_frac >= {_Q55_ALPHA_MIN}
        AND n_stopwords >= {_Q55_MIN_STOPWORDS}) AS keep
FROM s
"""


# q56: PII detection + redaction — the masking pass public LLM pipelines
# (C4, Dolma's PII filter) run before training: emails, IPv4 addresses and
# phone numbers are replaced by typed placeholders, with per-doc match
# counts for the curation report. Patterns are chosen to parse AND mean
# the same thing under Java regex (Spark, backtracking leftmost-first)
# and RE2 (DuckDB, leftmost-longest): greedy-only quantifiers, no
# alternation, so both engines select identical spans. Redaction is
# STAGED (email -> ip -> phone) and each class is counted on the text the
# previous stage produced, so a digit run inside an already-redacted span
# can never double-count.
_Q56_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_Q56_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_Q56_PHONE = r"(\+?\d{1,3}[- ])?\(?\d{3}\)?[- ]?\d{3}[- ]?\d{4}\b"


def q56_pii_redaction(spark, sf_dir):
    """Per-document PII scan + redacted text: (doc_id, n_emails, n_ips,
    n_phones, n_pii, redacted). The synthetic corpus contains no PII by
    construction, so at the oracle scales every count is 0 and `redacted`
    round-trips the text — the value compare still audits the full
    regex/replace pipeline byte-for-byte; the planted-PII semantics are
    pinned by tests/test_curation.py's dual-engine golden.

    Spark shape for 100 TB: three regexp_count + three regexp_replace
    expressions per row — map-side only, whole-stage codegen, ZERO
    shuffle; the redacted corpus streams straight back to parquet."""
    d = (
        _spread(load(spark, sf_dir, "documents"))
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    s1 = F.regexp_replace(F.col("text"), _Q56_EMAIL, "<EMAIL>")
    d = d.withColumn(
        "n_emails", F.regexp_count("text", F.lit(_Q56_EMAIL)).cast("long")
    ).withColumn("_s1", s1)
    s2 = F.regexp_replace(F.col("_s1"), _Q56_IPV4, "<IP>")
    d = d.withColumn(
        "n_ips", F.regexp_count("_s1", F.lit(_Q56_IPV4)).cast("long")
    ).withColumn("_s2", s2)
    d = d.withColumn(
        "n_phones", F.regexp_count("_s2", F.lit(_Q56_PHONE)).cast("long")
    ).withColumn("redacted", F.regexp_replace(F.col("_s2"), _Q56_PHONE, "<PHONE>"))
    return d.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias("n_pii"),
        "redacted",
    )


_Q56_SQL = f"""
WITH s0 AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
s1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(text, '{_Q56_EMAIL}')) AS BIGINT)
                AS n_emails,
              regexp_replace(text, '{_Q56_EMAIL}', '<EMAIL>', 'g') AS t
       FROM s0),
s2 AS (SELECT doc_id, n_emails,
              CAST(len(regexp_extract_all(t, '{_Q56_IPV4}')) AS BIGINT)
                AS n_ips,
              regexp_replace(t, '{_Q56_IPV4}', '<IP>', 'g') AS t
       FROM s1)
SELECT doc_id, n_emails, n_ips,
       CAST(len(regexp_extract_all(t, '{_Q56_PHONE}')) AS BIGINT) AS n_phones,
       n_emails + n_ips
         + CAST(len(regexp_extract_all(t, '{_Q56_PHONE}')) AS BIGINT) AS n_pii,
       regexp_replace(t, '{_Q56_PHONE}', '<PHONE>', 'g') AS redacted
FROM s2
"""


# q57: leakage-safe deterministic split — q45's hash split made near-dup
# aware. A plain per-doc hash split puts ~19% of every near-dup cluster's
# members in a different split from their duplicates (0.8*0.1*2 + 0.1*0.1*2
# ... any cross-assignment), which is exactly the train->test leakage that
# benchmark decontamination (q51) exists to catch after the fact. The fix
# is assignment by CLUSTER: every member inherits the split of its q47
# cluster id (the canonical keeper, = min doc_id); singletons hash their
# own id — identical to q45 for them.
def q57_leakage_safe_split(spark, sf_dir,
                           n_bands: int | None = None,
                           rows_per_band: int | None = None,
                           threshold: float = 0.5,
                           max_iters: int = 25,
                           clusters=None):
    """Cluster-consistent train/val/test rollup: (split, n_docs,
    n_clustered, n_moved, mean_len) where n_moved counts docs whose own-id
    hash would have landed them in a DIFFERENT split than their cluster's
    — the leakage q45 would have created, now prevented.

    Spark shape for 100 TB: one left join of the corpus metadata against
    the q47 cluster relation (clustered docs only; at real 30-80% dup
    rates that side is corpus-scale, so no broadcast hint — AQE picks the
    join; the q48 gate precedent), then map-side md5 expressions and ONE
    rollup agg. The cluster relation is the expensive input and is exactly
    what `cluster-update` checkpoints per epoch — pass `clusters` (a
    (doc_id, cluster_id) relation) to read the label table instead of
    recomputing the whole dedup stack (q50's materialized-input pattern;
    the bench times it that way)."""
    if clusters is None:
        clusters = q47_neardup_clusters(
            spark, sf_dir, n_bands=n_bands, rows_per_band=rows_per_band,
            threshold=threshold, max_iters=max_iters,
        )
    clusters = clusters.select("doc_id", "cluster_id")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("_len")
    )
    joined = docs.join(clusters, "doc_id", "left").withColumn(
        "_anchor", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )

    def _split(idcol):
        h = F.conv(
            F.substring(F.md5(idcol.cast("string")), 1, 15), 16, 10
        ).cast("long") % 100
        return (
            F.when(h < 80, F.lit("train"))
            .when(h < 90, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    assigned = joined.select(
        _split(F.col("_anchor")).alias("split"),
        (_split(F.col("_anchor")) != _split(F.col("doc_id"))).alias("_moved"),
        F.col("cluster_id").isNotNull().alias("_clustered"),
        "_len",
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_clustered").cast("long")).alias("n_clustered"),
        F.sum(F.col("_moved").cast("long")).alias("n_moved"),
        _r6(F.avg("_len")).alias("mean_len"),
    )


_Q57_SQL = f"""
WITH c AS ({_Q47_SQL}),
a AS (
  SELECT d.doc_id, len(d.text) AS _len,
         COALESCE(c.cluster_id, d.doc_id) AS anchor,
         (c.doc_id IS NOT NULL) AS clustered
  FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id),
s AS (
  SELECT _len, clustered,
         CASE
           WHEN (CAST('0x' || substr(md5(CAST(anchor AS VARCHAR)), 1, 15) AS BIGINT) % 100) < 80
             THEN 'train'
           WHEN (CAST('0x' || substr(md5(CAST(anchor AS VARCHAR)), 1, 15) AS BIGINT) % 100) < 90
             THEN 'val'
           ELSE 'test' END AS split,
         CASE
           WHEN (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100) < 80
             THEN 'train'
           WHEN (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100) < 90
             THEN 'val'
           ELSE 'test' END AS own_split
  FROM a)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
       CAST(sum(CASE WHEN split <> own_split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved,
       round(avg(_len), 6) AS mean_len
FROM s GROUP BY split
"""


# Corpus vocabulary statistics — the document-frequency table every
# TF-IDF / stopword-discovery / tokenizer-training stage starts from.
_VOCAB_TOKEN_RE = "[a-z]+"


def _per_doc_term_counts(d: DataFrame) -> DataFrame:
    """(doc_id, term, cnt) — each document's distinct lowercase [a-z]+
    terms with occurrence counts, computed SCAN-LOCALLY via mapInPandas
    (Counter per doc in the Arrow batch, the q53 idiom).

    Why not explode+groupBy(doc_id, term): every (doc_id, term) group
    lives in exactly one scan partition, so the Catalyst formulation's
    partial agg already produces final counts map-side — and then pays a
    full Exchange of those per-doc-distinct (doc_id, term, cnt) rows
    (roughly half the token stream with full term strings at web scale)
    purely to satisfy the grouping contract. The scan-local pass emits
    the identical relation with ZERO shuffle; downstream term-level aggs
    (q58 df/cf, q59 model) then need only their own single
    vocabulary-scale Exchange. Null / token-free texts emit nothing
    (both engines' convention)."""
    import re

    rx = re.compile(_VOCAB_TOKEN_RE)

    def gen(batches):
        from collections import Counter

        import pandas as _pd

        for pdf in batches:
            ids, terms, cnts = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or isinstance(text, float):
                    continue
                c = Counter(rx.findall(text.lower()))
                ids.extend([doc_id] * len(c))
                terms.extend(c.keys())
                cnts.extend(c.values())
            yield _pd.DataFrame(
                {"doc_id": ids, "term": terms, "cnt": cnts},
                columns=["doc_id", "term", "cnt"],
            )

    return d.select("doc_id", "text").transform(_spread).mapInPandas(
        gen, "doc_id long, term string, cnt long"
    )


def q58_vocab_df_stats(spark, sf_dir, top_k: int = 100):
    """Top-k vocabulary terms by document frequency: (term, df, cf,
    df_frac) where df counts documents containing the term, cf counts
    total occurrences, df_frac = df / corpus size. The high-df head IS
    the corpus's empirical stopword list (q24/q55 consume a published
    one; this op derives it from the data), and (df, cf) is the exact
    input to IDF weighting and tokenizer-vocabulary selection.

    Spark shape for 100 TB: per-doc term counts computed scan-locally
    (`_per_doc_term_counts` — zero shuffle; the explode+groupBy twin
    pays a corpus-scale Exchange of per-doc-distinct rows), then ONE
    vocabulary-scale hash agg on term with map-side partial combine;
    corpus size is a single-row agg joined by broadcast (the q36 anchor
    pattern); top-k is a TakeOrderedAndProject with a deterministic
    (df desc, term asc) tiebreak, never a global sort."""
    d = load(spark, sf_dir, "documents")
    per_doc = _per_doc_term_counts(d)
    stats = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("cnt").alias("cf"),
    )
    n = d.agg(F.count(F.lit(1)).alias("_n_docs"))
    return (
        stats.join(F.broadcast(n))
        .select(
            "term",
            "df",
            "cf",
            _r6(F.col("df") / F.col("_n_docs")).alias("df_frac"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(top_k)
    )


_Q58_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{_VOCAB_TOKEN_RE}')) AS term
  FROM documents),
per_doc AS (
  SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term),
stats AS (
  SELECT term, count(*) AS df, sum(cnt) AS cf FROM per_doc GROUP BY term)
SELECT term, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
       round(df * 1.0 / (SELECT count(*) FROM documents), 6) AS df_frac
FROM stats ORDER BY df DESC, term ASC LIMIT 100
"""


def _unigram_scored(spark, sf_dir) -> DataFrame:
    """Shared scoring stage of the LM-quality family (q59 report, q66
    perplexity buckets): per-doc (doc_id, n_tokens, _mlp unrounded mean
    token logprob) under the self-trained add-one unigram model. Plan
    shape documented at q59."""
    d = load(spark, sf_dir, "documents")
    per_doc = _persist(_per_doc_term_counts(d))
    model = per_doc.groupBy("term").agg(F.sum("cnt").alias("cf"))
    totals = model.agg(
        F.sum("cf").alias("_t"), F.count(F.lit(1)).alias("_v")
    )
    lp = model.join(F.broadcast(totals)).select(
        "term",
        F.log((F.col("cf") + F.lit(1.0)) / (F.col("_t") + F.col("_v"))).alias(
            "_lp"
        ),
    )
    return (
        per_doc.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            (F.sum(F.col("cnt") * F.col("_lp")) / F.sum("cnt")).alias("_mlp"),
        )
    )


def q59_unigram_logprob(spark, sf_dir):
    """CCNet-class perplexity-proxy quality scoring, self-trained: a
    unigram LM with add-one smoothing over the corpus's own token stream,
    then per-document mean token log-probability and bits/token —
    the score CCNet/RedPajama threshold on (there a 5-gram KenLM; the
    unigram degenerates gracefully and needs no external model, which the
    sandbox forbids anyway). Zero-token docs emit no row (they have no
    tokens to score; q55's gates own that class).

    Spark shape for 100 TB: the token stream collapses scan-locally to
    per-doc (term, cnt) rows (`_per_doc_term_counts` — ZERO shuffle, and
    persisted: both the model agg and the scoring join read it, so the
    tokenization scan runs once, not twice), the model is ONE hash agg
    over those rows plus a single-row totals agg (broadcast), and scoring
    is an equi-join of per-doc counts against the model keyed on term.
    The model is vocabulary-scale: usually broadcastable, but a web
    corpus's typo tail can push it to billions of rows, so NO broadcast
    hint — AQE picks (the q48/q57 gate precedent). Means are weighted by
    cnt so the join input stays per-doc-distinct, never re-exploded
    occurrences."""
    scored = _unigram_scored(spark, sf_dir)
    return scored.select(
        "doc_id",
        "n_tokens",
        _r6(F.col("_mlp")).alias("mean_logprob"),
        _r6(-F.col("_mlp") / float(math.log(2.0))).alias("bits_per_token"),
    )


_Q59_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{_VOCAB_TOKEN_RE}')) AS term
  FROM documents),
per_doc AS (
  SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term),
model AS (
  SELECT term, sum(cnt) AS cf FROM per_doc GROUP BY term),
totals AS (
  SELECT sum(cf) AS t, count(*) AS v FROM model),
lp AS (
  SELECT term, ln((cf + 1.0) / (t + v)) AS lp FROM model, totals),
scored AS (
  SELECT doc_id, sum(cnt) AS n_tokens,
         sum(cnt * lp) / sum(cnt) AS mlp
  FROM per_doc JOIN lp USING (term) GROUP BY doc_id)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(mlp, 6) AS mean_logprob,
       round(-mlp / ln(2), 6) AS bits_per_token
FROM scored
"""


def q60_semantic_decontamination(spark, sf_dir,
                                 n_bands: int | None = None,
                                 planes_per_band: int | None = None,
                                 threshold: float = 0.45,
                                 test_pct: int = 10,
                                 max_bucket_size: int | None = None,
                                 salt: int | None = None):
    """SEMANTIC benchmark decontamination — q51's n-gram check catches
    verbatim leakage; this catches paraphrased leakage: train-split vectors
    whose embedding cosine to ANY test-split vector reaches `threshold`.
    Output (train_vec, test_vec, cosine), one row per contaminated
    cross-split pair. The split is q45's deterministic md5 bucket on the
    OWN id — train = bucket < 80 and test = top `test_pct` buckets,
    exactly q51's split semantics so the two checks compose into one
    report (q61); val-band docs (80..89) are in neither role: they are
    not trained on, so they cannot contaminate the benchmark. The op
    needs no split table.

    Spark shape for 100 TB: identical to q42's banded-LSH machinery — band
    rows once over ALL vectors (the split is a map-side function of the id,
    so no split join and no second banding pass), ONE (band, bucket)
    self-join for candidates, cross-split filter on id-derived expressions
    BEFORE the wide embedding join, exact rounded-cosine verify on the
    survivors. At scale the test split is `test_pct`% of the corpus, so the
    cross-split filter drops ~(1-2p(1-p)) of candidates before any payload
    moves; banding defaults derive from the threshold (`_banding_for`), the
    registry pins the oracle's dense 6x2. Hot-bucket cap/salt knobs are
    q42's, threaded through `_lsh_candidate_pairs`."""
    n_bands, planes_per_band = _resolve_banding(
        n_bands, planes_per_band, threshold, _cosine_row_prob
    )
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    x = _persist(_nd_bands_rows(e, n_bands, planes_per_band, id_col="vec_id"))
    cands = _lsh_candidate_pairs(x, max_bucket_size, salt)

    def _bucket(idcol):
        return F.conv(
            F.substring(F.md5(idcol.cast("string")), 1, 15), 16, 10
        ).cast("long") % 100

    def _is_test(idcol):
        return _bucket(idcol) >= 100 - test_pct

    def _is_train(idcol):
        return _bucket(idcol) < 80

    cross = cands.filter(
        (_is_test(F.col("doc_a")) & _is_train(F.col("doc_b")))
        | (_is_train(F.col("doc_a")) & _is_test(F.col("doc_b")))
    ).select(
        F.when(_is_test(F.col("doc_b")), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("train_vec"),
        F.when(_is_test(F.col("doc_a")), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("test_vec"),
    )
    norm_expr = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    # persisted + per-vec norm (r7, the q42 verify shape): one cast pass,
    # norms folded once per vector instead of once per pair — same
    # expression, bit-identical cosines
    ev = _persist(e.select("vec_id", "emb", norm_expr.alias("_nrm")))
    ea = ev.select(F.col("vec_id").alias("train_vec"), F.col("emb").alias("ea"),
                   F.col("_nrm").alias("_na"))
    eb = ev.select(F.col("vec_id").alias("test_vec"), F.col("emb").alias("eb"),
                   F.col("_nrm").alias("_nb"))
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cross.join(ea, "train_vec")
        .join(eb, "test_vec")
        .withColumn("cosine", _r6(dot / (F.col("_na") * F.col("_nb"))))
        .filter(F.col("cosine") >= threshold)
        .select("train_vec", "test_vec", "cosine")
    )


def _q60_sql() -> str:
    bucket = (
        "(CAST('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 15) AS BIGINT)"
        " % 100)"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
bands AS ({_nd_band_rows_sql()}),
cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b USING (band, bucket)
  WHERE a.vec_id < b.vec_id),
split AS (
  SELECT vec_a, vec_b,
         {bucket.format(id='vec_a')} >= 90 AS test_a,
         {bucket.format(id='vec_b')} >= 90 AS test_b,
         {bucket.format(id='vec_a')} < 80 AS train_a,
         {bucket.format(id='vec_b')} < 80 AS train_b
  FROM cands),
oriented AS (
  SELECT CASE WHEN test_b THEN vec_a ELSE vec_b END AS train_vec,
         CASE WHEN test_a THEN vec_a ELSE vec_b END AS test_vec
  FROM split
  WHERE (test_a AND train_b) OR (train_a AND test_b))
SELECT train_vec, test_vec,
       round(list_dot_product(ea.emb, eb.emb) /
             (sqrt(list_dot_product(ea.emb, ea.emb)) *
              sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS cosine
FROM oriented JOIN e ea ON oriented.train_vec = ea.vec_id
              JOIN e eb ON oriented.test_vec = eb.vec_id
WHERE round(list_dot_product(ea.emb, eb.emb) /
            (sqrt(list_dot_product(ea.emb, ea.emb)) *
             sqrt(list_dot_product(eb.emb, eb.emb))), 6) >= 0.45
"""
# ^ threshold on the ROUNDED cosine (the q39/q42 knife-edge convention);
# the 90 in the test predicate is 100 - test_pct at the pinned
# test_pct=10, the 80 is q45/q51's train cut.


_Q60_SQL = _q60_sql()


def q61_decontamination_report(spark, sf_dir,
                               n_bands: int | None = None,
                               planes_per_band: int | None = None,
                               threshold: float = 0.45,
                               verbatim=None, semantic=None):
    """The contamination adjudication table: per flagged train doc, the
    VERBATIM evidence (q51's shared n-gram counts) and the SEMANTIC
    evidence (q60's cross-split cosine pairs, aggregated per train
    vector) side by side, with status = verbatim_only / semantic_only /
    both — what a pipeline operator actually reviews before dropping
    training docs (verbatim hits are drop-on-sight; semantic-only hits
    get a threshold/policy decision). Ids join 1:1 across modality tables
    (doc i <-> vec i), the q50 reconciliation convention.

    Spark shape: both inputs are contamination-scale (never corpus-scale)
    relations, so the full-outer join is a small shuffle regardless of
    corpus size; absent sides are encoded 0 / -1.0 to keep the schema
    null-free for byte-stable cross-engine comparison (q50's
    convention).

    ``verbatim`` / ``semantic``: optional PRECOMPUTED q51 / q60 result
    relations (q48/q50/q57's materialized-input pattern) — a pipeline
    checkpoints both checks and the adjudication report joins the tables;
    the bench times it that way, with each check timed in its own row."""
    v = (
        verbatim if verbatim is not None
        else q51_decontamination(spark, sf_dir)
    )
    s = (
        (
            semantic if semantic is not None
            else q60_semantic_decontamination(
                spark, sf_dir, n_bands=n_bands,
                planes_per_band=planes_per_band, threshold=threshold,
            )
        )
        .groupBy(F.col("train_vec").alias("_vid"))
        .agg(
            F.count(F.lit(1)).alias("_n_sem"),
            F.max("cosine").alias("_mx"),
        )
    )
    j = v.join(s, v.doc_id == s._vid, "full_outer")
    return j.select(
        F.coalesce(v.doc_id, s._vid).alias("doc_id"),
        F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
        F.coalesce("n_bench_docs", F.lit(0)).alias("n_bench_docs"),
        F.coalesce("_n_sem", F.lit(0)).alias("n_sem_pairs"),
        F.coalesce("_mx", F.lit(-1.0)).alias("max_cosine"),
        F.when(
            v.doc_id.isNotNull() & s._vid.isNotNull(), F.lit("both")
        )
        .when(v.doc_id.isNotNull(), F.lit("verbatim_only"))
        .otherwise(F.lit("semantic_only"))
        .alias("status"),
    )


_Q61_SQL = f"""
WITH v AS ({_Q51_SQL}),
s0 AS ({_Q60_SQL}),
s AS (
  SELECT train_vec, CAST(count(*) AS BIGINT) AS n_sem_pairs,
         max(cosine) AS max_cosine
  FROM s0 GROUP BY train_vec)
SELECT COALESCE(v.doc_id, s.train_vec) AS doc_id,
       CAST(COALESCE(v.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
       CAST(COALESCE(v.n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
       CAST(COALESCE(s.n_sem_pairs, 0) AS BIGINT) AS n_sem_pairs,
       COALESCE(s.max_cosine, -1.0) AS max_cosine,
       CASE WHEN v.doc_id IS NOT NULL AND s.train_vec IS NOT NULL THEN 'both'
            WHEN v.doc_id IS NOT NULL THEN 'verbatim_only'
            ELSE 'semantic_only' END AS status
FROM v FULL OUTER JOIN s ON v.doc_id = s.train_vec
"""


def q62_tfidf_keywords(spark, sf_dir, top_k: int = 3):
    """Per-document TF-IDF keywords: the top-k most characteristic terms
    of each document — the standard corpus-exploration / weak-labeling /
    topic-seeding primitive. tf = cnt / doc_len, idf = ln(n_docs / df),
    deterministic (tfidf desc, term asc) tiebreak; docs with no [a-z]+
    token emit nothing.

    Spark shape for 100 TB: the scan-local per-doc counts
    (`_per_doc_term_counts`, persisted — the DF agg and the scoring pass
    both read it, one tokenization scan total) feed a vocabulary-scale DF
    agg (q58's shuffle) joined back WITHOUT a broadcast hint (typo-tail
    vocabularies — the q59 note; AQE picks). Doc length and the top-k
    rank are BOTH doc-keyed window functions, so they share ONE Exchange
    (sum over the unordered partition, then row_number over the sorted
    one — Catalyst reuses the partitioning); no separate doc-length
    agg+join ever touches the corpus-scale relation. Per-doc groups are
    vocabulary-per-doc-sized, so in-partition rank-k is cheap."""
    d = load(spark, sf_dir, "documents")
    per_doc = _persist(_per_doc_term_counts(d))
    df_tbl = per_doc.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n = d.agg(F.count(F.lit(1)).alias("_n_docs"))
    by_doc = W.partitionBy("doc_id")
    scored = (
        per_doc.join(df_tbl, "term")
        .join(F.broadcast(n))
        .withColumn(
            "_tfidf",
            (F.col("cnt") / F.sum("cnt").over(by_doc))
            * F.log(F.col("_n_docs") / F.col("_df")),
        )
    )
    w = by_doc.orderBy(F.col("_tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "doc_id",
            "rank",
            "term",
            _r6(F.col("_tfidf")).alias("tfidf"),
        )
    )


_Q62_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{_VOCAB_TOKEN_RE}')) AS term
  FROM documents),
per_doc AS (
  SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term),
doc_len AS (
  SELECT doc_id, sum(cnt) AS len FROM per_doc GROUP BY doc_id),
df_tbl AS (
  SELECT term, count(*) AS df FROM per_doc GROUP BY term),
scored AS (
  SELECT p.doc_id, p.term,
         (p.cnt * 1.0 / l.len) *
         ln((SELECT count(*) FROM documents) * 1.0 / d.df) AS tfidf
  FROM per_doc p JOIN doc_len l ON p.doc_id = l.doc_id
                 JOIN df_tbl d ON p.term = d.term),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, CAST(rank AS INT) AS rank, term, round(tfidf, 6) AS tfidf
FROM ranked WHERE rank <= 3
"""


# q63: token-budget mixture sampling. Target shares sum to 1; the corpus
# is cut to the LARGEST total budget at which every stratum can fill its
# share from the data (scale = min over langs of total_units/share), the
# standard "max corpus at target mixture" computation of a data-mixing
# step. The unit column is n_chars here — swap in any per-doc token count
# (q23 whitespace / q41 BPE) without changing the plan shape.
_Q63_SHARES = {"en": 0.5, "fr": 0.125, "es": 0.125, "de": 0.125, "zh": 0.125}
_Q63_BUCKETS = 256


def q63_token_budget_mix(spark, sf_dir,
                         shares: dict[str, float] | None = None):
    """Token-budget mixture sampling — the data-mixing step of a training
    pipeline: given target corpus shares per language, keep a
    deterministic, reproducible subset whose per-language unit totals hit
    floor(share * scale) where scale = min(total/share) over the strata
    PRESENT in the data (an absent stratum does not constrain the budget
    — it is detectable as a missing lang in the output; matching the
    oracle's totals-join semantics). Selection order is md5('q63:'||id) —
    a stable total order independent of storage layout, so reruns and
    engines agree row-for-row; langs outside the mixture are dropped.

    Spark shape for 100 TB: the naive formulation is a cumulative sum
    per lang over the hash order — a window with ONE reducer per lang
    (5 partitions for a 10^12-doc corpus: a non-starter). Instead the
    exact greedy-prefix cut is computed with the distributed
    quantile-cut pattern: (1) one map-side pass derives hash + a 256-way
    bucket from its leading byte; (2) ONE small hash agg produces per
    (lang, bucket) unit sums — <= 5*256 rows, collected (metadata-scale,
    the drift/centroid precedent); (3) the driver walks buckets in hash
    order to find each lang's boundary bucket and remaining budget;
    (4) whole buckets below the boundary pass with a map-side predicate
    (no shuffle), and ONLY the boundary bucket — 1/256 of one lang —
    pays a window cumsum. Exactly the oracle's greedy prefix, at a
    256th of the sort."""
    shares = _Q63_SHARES if shares is None else shares
    d = load(spark, sf_dir, "documents")
    hkey = F.md5(F.concat(F.lit("q63:"), F.col("doc_id").cast("string")))
    meta = _persist(
        d.filter(
            F.col("lang").isin(list(shares)) & F.col("n_chars").isNotNull()
        ).select(
            "doc_id", "lang", "n_chars",
            hkey.alias("_hkey"),
            F.conv(F.substring(hkey, 1, 2), 16, 10).cast("int").alias("_bkt"),
        )
    )
    bkt_rows = (
        meta.groupBy("lang", "_bkt").agg(F.sum("n_chars").alias("_u")).collect()
    )
    totals: dict[str, int] = {}
    bsums: dict[str, dict[int, int]] = {}
    for r in bkt_rows:
        totals[r["lang"]] = totals.get(r["lang"], 0) + r["_u"]
        bsums.setdefault(r["lang"], {})[r["_bkt"]] = r["_u"]
    # double arithmetic ordered exactly as the oracle's min(total/share);
    # a stratum with NO data does not constrain the budget (the oracle's
    # totals-join semantics) — callers detect the violated mixture by the
    # lang missing from the output, rather than getting an all-empty cut
    if not totals:
        return meta.filter(F.lit(False)).select("doc_id", "lang", "n_chars")
    scale = min(totals[lg] / shares[lg] for lg in totals)
    budgets = {lg: math.floor(s * scale) for lg, s in shares.items()}

    full_cond = None
    boundary: list[tuple[str, int, int]] = []  # (lang, bucket, remaining)
    for lg in shares:
        budget, prefix, b_star = budgets[lg], 0, None
        for b in sorted(bsums.get(lg, {})):
            if prefix + bsums[lg][b] > budget:
                b_star = b
                break
            prefix += bsums[lg][b]
        if b_star is None:
            cond = F.col("lang") == lg  # whole stratum fits the budget
        else:
            cond = (F.col("lang") == lg) & (F.col("_bkt") < b_star)
            boundary.append((lg, b_star, budget - prefix))
        full_cond = cond if full_cond is None else (full_cond | cond)
    kept = meta.filter(full_cond)
    if boundary:
        bcond, remc = None, None
        for lg, b, rem in boundary:
            c = (F.col("lang") == lg) & (F.col("_bkt") == b)
            bcond = c if bcond is None else (bcond | c)
            w_ = F.when(F.col("lang") == lg, F.lit(rem))
            remc = w_ if remc is None else remc.when(F.col("lang") == lg, F.lit(rem))
        wb = (
            W.partitionBy("lang")
            .orderBy("_hkey", "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        bkept = (
            meta.filter(bcond)
            .withColumn("_csum", F.sum("n_chars").over(wb))
            .filter(F.col("_csum") <= remc)
            .drop("_csum")
        )
        kept = kept.unionByName(bkept)
    return kept.select("doc_id", "lang", "n_chars")


_Q63_SHARES_SQL = ", ".join(
    f"('{lg}', {s!r})" for lg, s in _Q63_SHARES.items()
)

_Q63_SQL = f"""
WITH shares(lang, share) AS (VALUES {_Q63_SHARES_SQL}),
meta AS (
  SELECT doc_id, lang, n_chars,
         md5('q63:' || CAST(doc_id AS VARCHAR)) AS hkey
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IN (SELECT lang FROM shares)),
totals AS (
  SELECT lang, sum(n_chars) AS total FROM meta GROUP BY lang),
scale AS (
  SELECT min(total / share) AS s FROM totals JOIN shares USING (lang)),
budgets AS (
  SELECT lang, floor(share * (SELECT s FROM scale)) AS budget FROM shares),
ordered AS (
  SELECT doc_id, lang, n_chars,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY hkey, doc_id
                            ROWS UNBOUNDED PRECEDING) AS csum
  FROM meta)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM ordered JOIN budgets USING (lang)
WHERE csum <= budget
"""


# q64: exact-substring duplicate spans, Lee et al. 2022 ("Deduplicating
# Training Data Makes Language Models Better") recast for Spark: instead
# of a global suffix array, hash every k-token window; a window hash
# occurring more than once ANYWHERE in the corpus (same doc included,
# matching the paper) marks a duplicated span. k=8 against this corpus's
# ~54-token docs plays the role of the paper's 50-token windows.
_Q64_K = 8


# odd 64-bit multipliers (splitmix64 / xxhash constants) for the two
# independent polynomial window-hash lanes — 128 bits combined, the
# collision budget md5 bought, at numpy speed
_SPAN_M1 = 0x9E3779B97F4A7C15
_SPAN_M2 = 0xC2B2AE3D27D4EB4F


def _span_base_cov(spark, sf_dir, k: int):
    """Shared machinery of the exact-substring dedup family (q64 stats,
    q65 removal): ONE persisted mapInPandas pass per batch tokenizes the
    docs, md5s each DISTINCT token once to a 128-bit id (vocabulary-
    scale work, memoized), and hashes every k-token window with two
    independent mod-2^64 polynomial lanes over the ids — fully
    vectorized: the batch's token-id stream is ONE concatenated uint64
    array, windows come from sliding_window_view * power-vector sums,
    and window starts that would straddle a document boundary are
    excluded index-arithmetically, so no per-span Python executes
    (the per-span hashlib.md5 formulation this replaced measured ~40s
    per 2-core run on the 200k-doc corpus). Two int64 lanes = 16 bytes
    on the shuffle, half md5's hex width, same effective collision
    budget. `base` carries per-doc hash ARRAYS; the corpus-token-scale
    groupBy(lane1, lane2) finds windows seen more than once anywhere,
    joined back hint-free, and each duplicated window explodes to the k
    token positions it covers (`cov`: doc_id, pos, _t)."""
    import hashlib
    import re

    rx = re.compile(_VOCAB_TOKEN_RE)

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        mask = (1 << 64) - 1
        p1 = [1] * k
        p2 = [1] * k
        for j in range(k - 2, -1, -1):
            p1[j] = (p1[j + 1] * _SPAN_M1) & mask
            p2[j] = (p2[j + 1] * _SPAN_M2) & mask
        pw1 = _np.asarray(p1, dtype=_np.uint64)
        pw2 = _np.asarray(p2, dtype=_np.uint64)
        tok_ids: dict = {}

        def tid(w):
            v = tok_ids.get(w)
            if v is None:
                dg = hashlib.md5(w.encode()).digest()
                v = (int.from_bytes(dg[:8], "little"),
                     int.from_bytes(dg[8:], "little"))
                tok_ids[w] = v
            return v

        for pdf in batches:
            ids, nts, flat = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or isinstance(text, float):
                    continue
                t = rx.findall(text.lower())
                ids.append(doc_id)
                nts.append(len(t))
                flat.extend(tid(w) for w in t)
            nl = _np.asarray(nts, dtype=_np.int64)
            if flat and len(flat) >= k:
                arr = _np.asarray(flat, dtype=_np.uint64)  # (N, 2)
                win1 = _np.lib.stride_tricks.sliding_window_view(
                    arr[:, 0], k)
                win2 = _np.lib.stride_tricks.sliding_window_view(
                    arr[:, 1], k)
                h1 = (win1 * pw1).sum(axis=1).view(_np.int64)
                h2 = (win2 * pw2).sum(axis=1).view(_np.int64)
                starts = _np.concatenate(
                    ([0], _np.cumsum(nl)[:-1])) if len(nl) else nl
                counts = _np.maximum(nl - k + 1, 0)
                ends = _np.cumsum(counts)
                base_idx = _np.repeat(starts, counts)
                within = _np.arange(int(ends[-1]) if len(ends) else 0)
                within -= _np.repeat(ends - counts, counts)
                pos = base_idx + within  # valid window starts, concat space
                h1s = _np.split(h1[pos], ends[:-1])
                h2s = _np.split(h2[pos], ends[:-1])
            else:
                h1s = h2s = [_np.empty(0, dtype=_np.int64)] * len(ids)
            yield _pd.DataFrame(
                {"doc_id": ids, "_nt": nts,
                 "_h1s": [x.tolist() for x in h1s],
                 "_h2s": [x.tolist() for x in h2s]},
                columns=["doc_id", "_nt", "_h1s", "_h2s"],
            )

    d = load(spark, sf_dir, "documents")
    base = _persist(
        d.filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .transform(_spread)
        .mapInPandas(
            gen,
            "doc_id long, _nt int, _h1s array<bigint>, _h2s array<bigint>",
        )
    )
    spans = base.select(
        "doc_id", F.posexplode(F.arrays_zip("_h1s", "_h2s")).alias("_p0", "_z")
    ).select(
        "doc_id", (F.col("_p0") + 1).alias("pos"),
        F.col("_z._h1s").alias("_h1"), F.col("_z._h2s").alias("_h2"),
    )
    dup_h = (
        spans.groupBy("_h1", "_h2")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_h1", "_h2")
    )
    dup_spans = spans.join(dup_h, ["_h1", "_h2"]).select("doc_id", "pos")
    cov = dup_spans.select(
        "doc_id", "pos",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("_t"),
    )
    return base, cov


def q64_dup_span_stats(spark, sf_dir, k: int = _Q64_K):
    """Per-document duplicate-span statistics — the detection half of
    exact-substring deduplication: for each document, the number of
    k-token windows, how many of them are duplicated corpus-wide, and
    the fraction of token positions covered by at least one duplicated
    window (the quantity the paper's removal step cuts). Docs with null
    text emit nothing; docs with < k tokens report zero spans.

    Spark shape for 100 TB: window hashes are computed SCAN-LOCALLY in
    ONE mapInPandas pass (`_span_base_cov`: tokenize once, vectorized
    two-lane polynomial hash over md5 token ids — no per-span Python),
    emitted as per-doc hash ARRAYS and persisted, so tokenization runs
    exactly once however many consumers follow. A pure-Catalyst
    formulation (transform(sequence) -> md5(concat_ws(slice))) was
    measured 3x slower than even the per-span-Python version: higher-
    order array lambdas are evaluated interpreted, outside whole-stage
    codegen, per window. The groupBy(hash-lanes) Exchange that follows
    the explode is corpus-token-scale, and INHERENTLY so: exact
    inter-document span dedup needs global hash agreement (the paper
    pays a global suffix array for the same reason) — the corpus-scale
    shuffle IS the algorithm here, not a plan defect; the two int64
    lanes keep it at 16 bytes/span. The duplicated-hash relation joins
    back WITHOUT a broadcast
    hint (dup rates run 30-80% on web corpora — the q48 gate precedent;
    AQE picks), coverage is one agg over the minority dup-span rows
    (countDistinct(pos) counts spans, countDistinct of the exploded
    positions counts covered tokens — one Exchange for both), and the
    per-doc span count is pure arithmetic on n_tokens, never a second
    count over spans."""
    base, cov = _span_base_cov(spark, sf_dir, k)
    stats_ = cov.groupBy("doc_id").agg(
        F.countDistinct("pos").alias("_nds"),
        F.countDistinct("_t").alias("_ndt"),
    )
    per_doc = base.select(
        "doc_id",
        F.col("_nt").cast("bigint").alias("n_tokens"),
        F.greatest(F.col("_nt") - F.lit(k - 1), F.lit(0))
        .cast("bigint").alias("n_spans"),
    )
    return per_doc.join(stats_, "doc_id", "left").select(
        "doc_id", "n_tokens", "n_spans",
        F.coalesce(F.col("_nds"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
        _r6(
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("_ndt"), F.lit(0)) / F.col("n_tokens"),
            ).otherwise(F.lit(0.0))
        ).alias("dup_token_frac"),
    )


_Q64_SQL = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_VOCAB_TOKEN_RE}') AS toks
  FROM documents WHERE text IS NOT NULL),
base AS (
  SELECT doc_id, len(toks) AS n_tokens, toks FROM tok),
spans AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i + {_Q64_K} - 1], ' ')) AS h
  FROM base, unnest(generate_series(1, n_tokens - {_Q64_K} + 1)) AS t(i)
  WHERE n_tokens >= {_Q64_K}),
dup AS (
  SELECT h FROM spans GROUP BY h HAVING count(*) > 1),
dupspan AS (
  SELECT doc_id, pos FROM spans JOIN dup USING (h)),
cov AS (
  SELECT doc_id, count(DISTINCT pos) AS n_dup_spans,
         count(DISTINCT p) AS n_dup_tokens
  FROM (SELECT doc_id, pos, unnest(generate_series(pos, pos + {_Q64_K} - 1)) AS p
        FROM dupspan)
  GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(greatest(b.n_tokens - {_Q64_K} + 1, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(c.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       round(CASE WHEN b.n_tokens > 0
                  THEN coalesce(c.n_dup_tokens, 0) * 1.0 / b.n_tokens
                  ELSE 0.0 END, 6) AS dup_token_frac
FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id
"""


def q65_dup_span_removal(spark, sf_dir, k: int = _Q64_K):
    """Exact-substring dedup APPLIED — the removal half of Lee et al.
    2022 (q48 is to q47 what this is to q64): every token covered by a
    corpus-duplicated k-token window is cut, and the document is
    re-emitted as its kept-token stream (text_clean) with kept/removed
    accounting. The family operates on the normalized token stream
    ([a-z]+ lowercase — q41's parity convention), so text_clean is the
    cleaned TOKEN sequence space-joined, not the original spacing/
    punctuation; fully-duplicated docs survive as empty strings (the
    paper keeps one-per-cluster via the SEPARATE doc-level dedup q48 —
    span removal deliberately cuts every occurrence). Null-text docs
    emit nothing; token-free docs pass through empty.

    Spark shape for 100 TB: stages 1-3 are q64's (`_span_base_cov` —
    one persisted tokenize+hash pass, the inherent corpus-token-scale
    hash agg, hint-free dup join). The covered positions then collapse
    to ONE per-doc int-set row (collect_set — bounded by the doc's own
    token count), which left-joins the corpus WITHOUT a broadcast hint
    (dup-affected docs are 30-80% of a web corpus — q48 precedent), and
    one final mapInPandas scan re-tokenizes and cuts. Re-tokenizing the
    second scan is deliberate: carrying the token arrays inside the
    persisted base would pin corpus-scale payload in cache purely to
    save CPU — recompute beats caching at the design scale."""
    import re

    rx = re.compile(_VOCAB_TOKEN_RE)

    def rebuild(batches):
        import pandas as _pd

        for pdf in batches:
            ids, texts, kept, removed = [], [], [], []
            for doc_id, text, cut in zip(
                pdf["doc_id"], pdf["text"], pdf["_cut"]
            ):
                if text is None or isinstance(text, float):
                    continue
                t = rx.findall(text.lower())
                cuts = (
                    set() if cut is None or isinstance(cut, float)
                    else {int(x) for x in cut}
                )
                keep = [w for i, w in enumerate(t, 1) if i not in cuts]
                ids.append(doc_id)
                texts.append(" ".join(keep))
                kept.append(len(keep))
                removed.append(len(t) - len(keep))
            yield _pd.DataFrame(
                {"doc_id": ids, "text_clean": texts,
                 "n_kept": kept, "n_removed": removed},
                columns=["doc_id", "text_clean", "n_kept", "n_removed"],
            )

    _, cov = _span_base_cov(spark, sf_dir, k)
    covered = cov.groupBy("doc_id").agg(F.collect_set("_t").alias("_cut"))
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .join(covered, "doc_id", "left")
        .transform(_spread)
        .mapInPandas(
            rebuild,
            "doc_id long, text_clean string, n_kept long, n_removed long",
        )
    )


_Q65_SQL = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_VOCAB_TOKEN_RE}') AS toks
  FROM documents WHERE text IS NOT NULL),
base AS (
  SELECT doc_id, len(toks) AS n_tokens, toks FROM tok),
spans AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i + {_Q64_K} - 1], ' ')) AS h
  FROM base, unnest(generate_series(1, n_tokens - {_Q64_K} + 1)) AS t(i)
  WHERE n_tokens >= {_Q64_K}),
dup AS (
  SELECT h FROM spans GROUP BY h HAVING count(*) > 1),
dupspan AS (
  SELECT doc_id, pos FROM spans JOIN dup USING (h)),
cov AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, unnest(generate_series(pos, pos + {_Q64_K} - 1)) AS p
        FROM dupspan)),
pos AS (
  SELECT doc_id, i, toks[i] AS tok
  FROM base, unnest(generate_series(1, n_tokens)) AS t(i)),
kept AS (
  SELECT p.doc_id,
         string_agg(p.tok, ' ' ORDER BY p.i) AS text_clean,
         count(*) AS n_kept
  FROM pos p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.i = c.p
  WHERE c.p IS NULL
  GROUP BY p.doc_id)
SELECT b.doc_id,
       coalesce(k.text_clean, '') AS text_clean,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(b.n_tokens - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN kept k USING (doc_id)
"""


# q66: CCNet-style head/middle/tail (Wenzek et al. 2020): per language,
# documents sorted by LM quality score and split into three equal TOKEN-
# mass parts. 256-way fixed grid over bits/token for the quantile cut.
_Q66_GRID = 8       # buckets per bit -> [0, 32) bits/token resolution
_Q66_MAXBKT = 255


def q66_perplexity_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020): within each language, documents are ordered by the q59
    self-trained LM quality score (bits/token asc — most-fluent first,
    doc_id tiebreak) and split into head / middle / tail of equal TOKEN
    mass (cuts at floor(T/3) and floor(2T/3) of the lang's total, doc
    assigned by inclusive running sum). The head is what quality-
    stratified sampling upweights; zero-token docs emit no row (q59's
    convention — they have no score).

    Spark shape for 100 TB: scoring is q59's shared stages
    (`_unigram_scored`). The per-lang split is the q63 distributed
    quantile-cut generalized: a naive per-lang rank/cumsum window is ONE
    reducer per language — 5 partitions for a 10^12-doc corpus. Instead
    each doc gets a map-side grid bucket floor(score*8) clamped to
    [0,255] (bucket order refines score order, ties share a bucket, so
    bucket-then-(score,doc_id) IS the global order); ONE (lang,bucket)
    metadata agg (<= langs x 256 rows, collected — drift/centroid
    precedent) lets the driver label whole buckets head/middle/tail;
    the labeling broadcasts back as a metadata join (null-safe on lang)
    and ONLY the <=2 straddling buckets per language pay a window
    cumsum, seeded with the bucket's exact token prefix."""
    scored = _unigram_scored(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    meta = _persist(
        scored.join(docs, "doc_id")
        .select(
            "doc_id", "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            _r6(-F.col("_mlp") / float(math.log(2.0))).alias(
                "bits_per_token"
            ),
        )
        .withColumn(
            "_bkt",
            F.least(
                F.greatest(
                    F.floor(F.col("bits_per_token") * _Q66_GRID).cast("int"),
                    F.lit(0),
                ),
                F.lit(_Q66_MAXBKT),
            ),
        )
    )
    rows = (
        meta.groupBy("lang", "_bkt").agg(F.sum("n_tokens").alias("_u"))
        .collect()
    )
    bsums: dict = {}
    for r in rows:
        bsums.setdefault(r["lang"], {})[r["_bkt"]] = r["_u"]
    map_rows = []
    for lg, bs in bsums.items():
        total = sum(bs.values())
        t1, t2 = total // 3, (2 * total) // 3
        prefix = 0
        for b in sorted(bs):
            hi = prefix + bs[b]
            if hi <= t1:
                lab = "head"
            elif prefix >= t1 and hi <= t2:
                lab = "middle"
            elif prefix >= t2:
                lab = "tail"
            else:
                lab = None  # straddles a cut: exact split below
            map_rows.append((lg, b, lab, prefix, t1, t2))
            prefix = hi
    map_df = spark.createDataFrame(
        map_rows,
        "_mlang string, _mbkt int, _lab string, _prefix long, "
        "_t1 long, _t2 long",
    )
    j = meta.join(
        F.broadcast(map_df),
        meta["lang"].eqNullSafe(map_df["_mlang"])
        & (meta["_bkt"] == map_df["_mbkt"]),
    )
    out_cols = ["doc_id", "lang", "n_tokens", "bits_per_token"]
    done = j.filter(F.col("_lab").isNotNull()).select(
        *out_cols, F.col("_lab").alias("bucket")
    )
    wb = (
        W.partitionBy("lang", "_bkt")
        .orderBy("bits_per_token", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bnd = (
        j.filter(F.col("_lab").isNull())
        .withColumn("_csum", F.col("_prefix") + F.sum("n_tokens").over(wb))
        .select(
            *out_cols,
            F.when(F.col("_csum") <= F.col("_t1"), "head")
            .when(F.col("_csum") <= F.col("_t2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
    return done.unionByName(bnd)


_Q66_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{_VOCAB_TOKEN_RE}')) AS term
  FROM documents),
per_doc AS (
  SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term),
model AS (
  SELECT term, sum(cnt) AS cf FROM per_doc GROUP BY term),
totals AS (
  SELECT sum(cf) AS t, count(*) AS v FROM model),
lp AS (
  SELECT term, ln((cf + 1.0) / (t + v)) AS lp FROM model, totals),
scored AS (
  SELECT doc_id, sum(cnt) AS n_tokens,
         sum(cnt * lp) / sum(cnt) AS mlp
  FROM per_doc JOIN lp USING (term) GROUP BY doc_id),
s AS (
  SELECT sc.doc_id, d.lang, CAST(sc.n_tokens AS BIGINT) AS n_tokens,
         round(-sc.mlp / ln(2), 6) AS bits_per_token
  FROM scored sc JOIN documents d USING (doc_id)),
w AS (
  SELECT *,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY bits_per_token, doc_id
                             ROWS UNBOUNDED PRECEDING) AS csum,
         sum(n_tokens) OVER (PARTITION BY lang) AS t
  FROM s)
SELECT doc_id, lang, n_tokens, bits_per_token,
       CASE WHEN csum <= t // 3 THEN 'head'
            WHEN csum <= (2 * t) // 3 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM w
"""


# q67: deterministic training-order resharding — the write-side global
# shuffle between curation and the trainer. operators/reshard.py carries
# the full design note; the query surface is the assignment relation.
_Q67_SHARDS = 8


def q67_training_order(spark, sf_dir, n_shards: int = _Q67_SHARDS):
    """(doc_id, shard, pos): reproducible global shuffle of the corpus as
    `n_shards` balanced shards — shard = salted-md5 % n (map-side), pos =
    row_number within shard over an independently-salted md5 order. The
    trainer reads shards in any interleaving, each in pos order; a re-run
    (or a rebuilt single shard) is bit-identical because membership and
    order are pure functions of doc_id.

    Spark shape: the window's hashpartitioning(shard) is the ONLY
    Exchange and each shard sorts locally/spillably — never orderBy(ord),
    whose rangepartitioning adds a sampling pass and makes shard contents
    sample-dependent (plan-pinned: no rangepartitioning). Parallelism
    unit = n_shards, sized at 100 TB to the target shard bytes (10^4-5)."""
    from .operators.reshard import training_order

    return training_order(
        load(spark, sf_dir, "documents"), "doc_id", n_shards=n_shards
    )


_Q67_SQL = f"""
WITH a AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('q67s:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % {_Q67_SHARDS} AS shard,
         md5('q67o:' || CAST(doc_id AS VARCHAR)) AS ord
  FROM documents)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
            AS BIGINT) AS pos
FROM a
"""


def _pin_kwargs(fn, **kw):
    """Registry wrapper fixing keyword arguments. The LSH queries' bare
    defaults derive scale-safe banding from the threshold (`_banding_for`);
    the value-oracle entries below pin the explicit geometries the static
    DuckDB SQL encodes (q29/q34: 4x2 minhash bands; q42: the dense 6x2
    plane bands), so CORRECTNESS audits a fixed config while library users
    get the derived one."""
    def wrapped(spark, sf_dir):
        return fn(spark, sf_dir, **kw)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_window_scan": q02_window_scan,
    "q03_topk_recent": q03_topk_recent,
    "q04_topk_per_key": q04_topk_per_key,
    "q05_group_minmax": q05_group_minmax,
    "q06_brand_revenue": q06_brand_revenue,
    "q07_shipping_priority": q07_shipping_priority,
    "q08_regional_revenue": q08_regional_revenue,
    "q09_anti_join": q09_anti_join,
    "q10_semi_join": q10_semi_join,
    "q11_uniqueness": q11_uniqueness,
    "q12_latest_snapshot": q12_latest_snapshot,
    "q13_sudden_change": q13_sudden_change,
    "q14_zscore_outliers": q14_zscore_outliers,
    "q15_iqr_outliers": q15_iqr_outliers,
    "q16_mad_outliers": q16_mad_outliers,
    "q17_health_check": q17_health_check,
    "q18_completeness": q18_completeness,
    "q19_pivot": q19_pivot,
    "q20_correlation": q20_correlation,
    "q21_json_extract": q21_json_extract,
    "q22_haversine_pairs": q22_haversine_pairs,
    "q23_token_stats": q23_token_stats,
    "q24_quality_score": q24_quality_score,
    "q25_dedup_exact": q25_dedup_exact,
    "q26_ngram_jaccard": q26_ngram_jaccard,
    "q27_embedding_topk": q27_embedding_topk,
    "q28_embedding_label_stats": q28_embedding_label_stats,
    "q29_minhash_lsh": _pin_kwargs(q29_minhash_lsh, n_bands=_MH_BANDS, rows_per_band=2),
    "q31_psi_drift": q31_psi_drift,
    "q34_neardup_lsh_verified": _pin_kwargs(
        q34_neardup_lsh_verified, n_bands=_MH_BANDS, rows_per_band=2
    ),
    "q35_geojson_shred": q35_geojson_shred,
    "q36_interval_window": q36_interval_window,
    "q37_ann_lsh_topk": q37_ann_lsh_topk,
    "q38_language_id": q38_language_id,
    "q39_embedding_neardup": q39_embedding_neardup,
    "q40_simhash_hamming": q40_simhash_hamming,
    "q41_bpe_tokens": q41_bpe_tokens,
    "q42_embedding_neardup_lsh": _pin_kwargs(
        q42_embedding_neardup_lsh, n_bands=_ND_BANDS,
        planes_per_band=_ND_PLANES_PER_BAND
    ),
    "q43_winnowing_neardup": q43_winnowing_neardup,
    "q44_ann_ivf_topk": q44_ann_ivf_topk,
    "q45_hash_split": q45_hash_split,
    "q46_ann_ivf_trained": q46_ann_ivf_trained,
    "q47_neardup_clusters": _pin_kwargs(
        q47_neardup_clusters, n_bands=_MH_BANDS, rows_per_band=2
    ),
    "q48_dedup_corpus": _pin_kwargs(
        q48_dedup_corpus, n_bands=_MH_BANDS, rows_per_band=2
    ),
    "q49_embedding_clusters": _pin_kwargs(
        q49_embedding_clusters, n_bands=_ND_BANDS,
        planes_per_band=_ND_PLANES_PER_BAND
    ),
    "q50_modality_reconciliation": _pin_kwargs(
        q50_modality_reconciliation, text_n_bands=_MH_BANDS, rows_per_band=2,
        emb_n_bands=_ND_BANDS, planes_per_band=_ND_PLANES_PER_BAND
    ),
    "q51_decontamination": q51_decontamination,
    "q52_stratified_sample": q52_stratified_sample,
    "q53_repetition_signals": q53_repetition_signals,
    "q54_sequence_packing": q54_sequence_packing,
    "q55_quality_heuristics": q55_quality_heuristics,
    "q56_pii_redaction": q56_pii_redaction,
    "q57_leakage_safe_split": _pin_kwargs(
        q57_leakage_safe_split, n_bands=_MH_BANDS, rows_per_band=2
    ),
    "q58_vocab_df_stats": q58_vocab_df_stats,
    "q59_unigram_logprob": q59_unigram_logprob,
    "q60_semantic_decontamination": _pin_kwargs(
        q60_semantic_decontamination, n_bands=_ND_BANDS,
        planes_per_band=_ND_PLANES_PER_BAND
    ),
    "q61_decontamination_report": _pin_kwargs(
        q61_decontamination_report, n_bands=_ND_BANDS,
        planes_per_band=_ND_PLANES_PER_BAND
    ),
    "q62_tfidf_keywords": q62_tfidf_keywords,
    "q63_token_budget_mix": q63_token_budget_mix,
    "q64_dup_span_stats": q64_dup_span_stats,
    "q65_dup_span_removal": q65_dup_span_removal,
    "q66_perplexity_buckets": q66_perplexity_buckets,
    "q67_training_order": q67_training_order,
}

ORACLES = {
    "q01_pricing_summary": _Q01_SQL,
    "q02_window_scan": _Q02_SQL,
    "q03_topk_recent": _Q03_SQL,
    "q04_topk_per_key": _Q04_SQL,
    "q05_group_minmax": _Q05_SQL,
    "q06_brand_revenue": _Q06_SQL,
    "q07_shipping_priority": _Q07_SQL,
    "q08_regional_revenue": _Q08_SQL,
    "q09_anti_join": _Q09_SQL,
    "q10_semi_join": _Q10_SQL,
    "q11_uniqueness": _Q11_SQL,
    "q12_latest_snapshot": _Q12_SQL,
    "q13_sudden_change": _Q13_SQL,
    "q14_zscore_outliers": _Q14_SQL,
    "q15_iqr_outliers": _Q15_SQL,
    "q16_mad_outliers": _Q16_SQL,
    "q17_health_check": _Q17_SQL,
    "q18_completeness": _Q18_SQL,
    "q19_pivot": _Q19_SQL,
    "q20_correlation": _Q20_SQL,
    "q21_json_extract": _Q21_SQL,
    "q22_haversine_pairs": _Q22_SQL,
    "q23_token_stats": _Q23_SQL,
    "q24_quality_score": _Q24_SQL,
    "q25_dedup_exact": _Q25_SQL,
    "q26_ngram_jaccard": _Q26_SQL,
    "q27_embedding_topk": _Q27_SQL,
    "q28_embedding_label_stats": _Q28_SQL,
    "q29_minhash_lsh": _Q29_SQL,
    "q31_psi_drift": _Q31_SQL,
    "q34_neardup_lsh_verified": _Q34_SQL,
    "q35_geojson_shred": _Q35_SQL,
    "q36_interval_window": _Q36_SQL,
    "q37_ann_lsh_topk": _Q37_SQL,
    "q38_language_id": _Q38_SQL,
    "q39_embedding_neardup": _Q39_SQL,
    "q40_simhash_hamming": _Q40_SQL,
    "q41_bpe_tokens": _Q41_SQL,
    "q42_embedding_neardup_lsh": _Q42_SQL,
    "q43_winnowing_neardup": _Q43_SQL,
    "q44_ann_ivf_topk": _Q44_SQL,
    "q45_hash_split": _Q45_SQL,
    "q47_neardup_clusters": _Q47_SQL,
    "q48_dedup_corpus": _Q48_SQL,
    "q49_embedding_clusters": _Q49_SQL,
    "q50_modality_reconciliation": _Q50_SQL,
    "q51_decontamination": _Q51_SQL,
    "q52_stratified_sample": _Q52_SQL,
    "q53_repetition_signals": _Q53_SQL,
    "q54_sequence_packing": _Q54_SQL,
    "q55_quality_heuristics": _Q55_SQL,
    "q56_pii_redaction": _Q56_SQL,
    "q57_leakage_safe_split": _Q57_SQL,
    "q58_vocab_df_stats": _Q58_SQL,
    "q59_unigram_logprob": _Q59_SQL,
    "q60_semantic_decontamination": _Q60_SQL,
    "q61_decontamination_report": _Q61_SQL,
    "q62_tfidf_keywords": _Q62_SQL,
    "q63_token_budget_mix": _Q63_SQL,
    "q64_dup_span_stats": _Q64_SQL,
    "q65_dup_span_removal": _Q65_SQL,
    "q66_perplexity_buckets": _Q66_SQL,
    "q67_training_order": _Q67_SQL,
}


def q32_set_except(spark, sf_dir):
    """Set operation (SURVEY §2.7): users active early in the month but gone
    by the last week (EXCEPT / subtract)."""
    ev = load(spark, sf_dir, "events")
    early = ev.filter(F.col("ts") < "2024-01-08").select("user_id").distinct()
    late = ev.filter(F.col("ts") >= "2024-01-24").select("user_id").distinct()
    return early.subtract(late)


_Q32_SQL = """
SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-08'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-24'
"""


def q33_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (grouping-sets family; not in the reference but
    standard OLAP surface; grouping() disambiguates NULL-vs-subtotal)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(F.sum("l_quantity")).alias("sum_qty"),
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
        )
    )


_Q33_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 6) AS sum_qty,
       grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

QUERIES["q32_set_except"] = q32_set_except
QUERIES["q33_rollup"] = q33_rollup
ORACLES["q32_set_except"] = _Q32_SQL
ORACLES["q33_rollup"] = _Q33_SQL


# --------------------------------------------------------------------------
# q68: SemDeDup — semantic deduplication partitioned by a trained coarse
# quantizer (Abbas et al. 2023, arXiv:2303.09540). Complements q42/q49: the
# LSH path generates candidates by random-hyperplane collision; SemDeDup
# instead compares pairs ONLY within their k-means cluster and keeps, per
# duplicate relation, the member with the LOWEST cosine to its cluster
# centroid (the paper's "keep low-similarity-to-centroid" rule — the
# cluster outlier is retained, boilerplate near the centroid is cut).
# 0.45 is this corpus's similarity regime (see q39's docstring: the
# synthetic embeddings are near-random, max pairwise cosine ~0.51); web
# deployments run 0.95+ — the knob is exposed.
_SD_THRESHOLD = 0.45
# Row-block for the within-cell similarity pass: memory per task is
# O(_SD_BLOCK x cell_size) instead of O(cell_size^2), so a hot cell
# degrades to more matmul passes, never an OOM.
_SD_BLOCK = 2048


def q68_semdedup(spark, sf_dir, threshold: float = _SD_THRESHOLD,
                 n_cells: int | None = None):
    """SemDeDup: per embedding, (cell, cent_cos, keep) where keep=false iff
    some OTHER member of the same k-means cell has pairwise cosine >=
    `threshold` AND a strictly smaller (cent_cos, vec_id) key — i.e. the
    canonical keeper of a duplicate relation is the member farthest from
    the centroid (ties by vec_id). The EXISTS form (dropped iff any
    better-keyed neighbor is a duplicate) is the paper's per-cluster greedy
    made order-free: it needs no iteration and is expressible as one
    anti-condition, identical in Spark and the oracle.

    Spark shape for 10^9+ vectors: centroids from the SAME bounded
    deterministic k-means as q46 (`_ivf_trained_centroids` — metadata-sized
    sample, bit-stable), shipped to executors as a closure array; cell
    assignment + centroid cosine is ONE numpy-matmul mapInPandas pass
    (scan-local; on few-row-group local corpora `_spread` round-robins the
    input first so the pass sees >= cores tasks — a no-op at scale, where
    the scan's own splits drive parallelism; r7, closing the r6 ADVICE
    plan-narrative gap); then ONE Exchange keyed by cell and a
    per-cell applyInPandas that computes the within-cell dominance test
    BLOCKWISE (_SD_BLOCK rows x cell_size per matmul — the cell's vectors
    must fit a task, the cell_size^2 similarity matrix never materializes).
    No pair relation is ever shuffled; the quadratic stays inside the task
    exactly as the paper computes it per cluster. Cell count follows q46's
    sqrt-n heuristic, CLAMPED at 256 (the shared trained-centroid
    machinery's literal-table bound) — at 800k vectors that is ~3.1k-vector
    cells and the in-cell quadratic dominates; past ~10^6 rows pass
    n_cells ~ n/1000 explicitly (the paper's k; the closure array carries
    thousands of centroids fine, the clamp is q44/q46's Catalyst-literal
    inheritance, not a limit of this plan). The dedup stage pre-partitions
    hash(cell, 4 x cores) — groupBy alone lands on max(cores, 8)
    partitions, one task per core, and partition imbalance then bounds the
    stage (measured: 2->8 scaling 0.507 -> 0.886 at 800k vectors,
    BENCH/BASELINE.md). Cell skew beyond that is diagnosed by the
    cell-size histogram this query's output gives for free (group by
    cell); a corpus collapsing into ONE cell is the max_bucket_size/salt
    regime of q42.

    Recasts the reference's fit-then-apply detector split
    (anomaly_detector.py:282-340) as train-quantizer-then-dedup. Known
    SemDeDup recall limit (documented in the paper): duplicates whose
    members land in DIFFERENT cells are not compared — q42 is the
    complementary detector for those.
    """
    import numpy as np
    import pandas as pd

    cents_arr = np.asarray(_ivf_trained_centroids(sf_dir, n_cells),
                           dtype=np.float64)
    thr = float(threshold)

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    par = spark.sparkContext.defaultParallelism * 2

    def assign_batches(batches):
        for pdf in batches:
            # null / zero-norm embeddings have no defined cosine: drop them
            # here (the oracle's WHERE mirrors this) instead of letting
            # np.stack or the norm division blow up the task (r5 ADVICE
            # null-semantics convention).
            pdf = pdf[pdf["emb"].notna()]
            if not len(pdf):
                continue
            x = np.stack(pdf["emb"].to_numpy())
            nrm = np.sqrt((x * x).sum(axis=1))
            ok = nrm > 0.0
            if not ok.all():
                pdf, x, nrm = pdf[ok], x[ok], nrm[ok]
                if not len(pdf):
                    continue
            dots = x @ cents_arr.T
            cell = np.argmax(dots, axis=1)  # first max == (dot DESC, cell ASC)
            # np.round is HALF_EVEN where the oracle's round() is HALF_UP
            # (r6 ADVICE #3): the two differ only when cc*1e6 is an exactly
            # representable half — impossible for these irrational cosines
            # short of a measure-zero float coincidence, and the dual-engine
            # parity gate would surface it as a hash mismatch. Documented
            # rather than paying a per-value Decimal quantization here.
            cc = np.round(dots[np.arange(len(x)), cell] / nrm, 6)
            out = pdf[["vec_id", "emb"]].copy()
            out["cell"] = cell.astype(np.int32)
            out["cent_cos"] = cc
            yield out

    assigned = _spread(e).mapInPandas(
        assign_batches,
        schema="vec_id long, emb array<double>, cell int, cent_cos double",
    )

    def cell_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by the keeper key: j earlier in this order <=> j dominates i,
        # so dropped[i] = any duplicate strictly before i. Dominance ignores
        # whether j itself is dropped (EXISTS semantics — matches the SQL).
        order = np.lexsort((pdf["vec_id"].to_numpy(), pdf["cent_cos"].to_numpy()))
        pdf = pdf.iloc[order]
        x = np.stack(pdf["emb"].to_numpy())
        nrm = np.sqrt((x * x).sum(axis=1))
        m = len(pdf)
        dropped = np.zeros(m, dtype=bool)
        for s in range(0, m, _SD_BLOCK):
            t_end = min(s + _SD_BLOCK, m)
            sims = np.round((x[s:t_end] @ x.T) / np.outer(nrm[s:t_end], nrm), 6)
            before = np.arange(m)[None, :] < np.arange(s, t_end)[:, None]
            dropped[s:t_end] = ((sims >= thr) & before).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "cent_cos": pdf["cent_cos"].to_numpy(),
                "keep": ~dropped,
            }
        )

    # pre-partition the dedup stage by cell at a finer grain than the
    # session's shuffle_partitions: groupBy alone lands on max(cores, 8)
    # partitions, i.e. ONE task per core at local[8] — no work stealing, so
    # partition imbalance bounds the stage (measured: 2->8 scaling 0.507 at
    # 800k vectors; the hash(cell, 4x) layout restores bin-packing).
    # Catalyst sees hash(cell, N) already satisfies the groupBy's required
    # distribution and adds no second Exchange (plan-pinned).
    # par is already 2 x defaultParallelism, so par * 2 = the 4 x cores the
    # measurement used (hash(cell, 32) at local[8], plan-checked).
    return assigned.repartition(par * 2, "cell").groupBy("cell").applyInPandas(
        cell_dedup, schema="vec_id long, cell int, cent_cos double, keep boolean"
    )


def _q68_sql(sf_dir: str = "/root/testdata/sf0.01",
             threshold: float = _SD_THRESHOLD,
             n_cells: int | None = None) -> str:
    """DuckDB oracle for q68, generated at call time (q46's data-dependent
    pattern): embeds the SAME trained unit-centroid literals the Spark plan
    ships, assigns cells by (dot DESC, cell ASC) — the |emb| factor is
    cell-invariant, exactly as the Spark argmax drops it — and states the
    keeper rule as the NOT EXISTS the engine's blockwise pass implements.
    All cross-engine float compares are on 6-dp-rounded cosines (the q42
    parity convention)."""
    cents = _ivf_trained_centroids(sf_dir, n_cells)
    rows = ",\n".join(
        f"({cell}, [{', '.join(repr(v) for v in vec)}]::DOUBLE[])"
        for cell, vec in enumerate(cents)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           WHERE embedding IS NOT NULL
             AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[])) > 0),
cents(cell, c_emb) AS (VALUES {rows}),
ranked AS (
  SELECT e.vec_id, e.emb, cents.cell,
         list_dot_product(e.emb, cents.c_emb) /
           sqrt(list_dot_product(e.emb, e.emb)) AS cc,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(e.emb, cents.c_emb) DESC,
                    cents.cell ASC) AS rk
  FROM e, cents),
a AS (SELECT vec_id, emb, cell, round(cc, 6) AS cent_cos FROM ranked WHERE rk = 1)
SELECT x.vec_id, x.cell, x.cent_cos,
       NOT EXISTS (
         SELECT 1 FROM a y
         WHERE y.cell = x.cell AND y.vec_id <> x.vec_id
           AND round(list_dot_product(x.emb, y.emb) /
                     (sqrt(list_dot_product(x.emb, x.emb)) *
                      sqrt(list_dot_product(y.emb, y.emb))), 6) >= {threshold!r}
           AND (y.cent_cos < x.cent_cos
                OR (y.cent_cos = x.cent_cos AND y.vec_id < x.vec_id))
       ) AS keep
FROM a x
"""


QUERIES["q68_semdedup"] = q68_semdedup


# --------------------------------------------------------------------------
# q69: asymmetric token-set containment join (excerpt/quote detection) via
# prefix filtering — All-Pairs / PPJoin family (Bayardo et al., WWW 2007).
# Near-dup detectors (q34/q42, symmetric Jaccard) structurally miss a small
# doc embedded in a big one: J(A,B) <= |A|/|B| however complete the
# containment. C(A,B) = |A∩B|/|A| >= t finds exactly those pairs — the
# wire-story-inside-aggregator / quoted-reply / boilerplate-wrapper cases a
# curation pipeline deduplicates asymmetrically. Unlike LSH, prefix
# filtering is LOSSLESS (candidates provably complete), so the engine must
# match the all-pairs oracle EXACTLY — the correctness gate audits the
# filter's completeness theorem, not just the verify stage.
_CJ_THRESHOLD = 0.9


def _cj_doc_sets(d):
    """(doc_id, hs, n): each doc's DISTINCT [a-z]+ tokens as 60-bit md5
    longs (the q34 portable-hash form), built scan-locally; null-text and
    token-free docs excluded. Shared by q69 (containment join) and q72
    (containment canonical).

    r7: ONE scan-local mapInPandas replacing the Catalyst per-token
    md5+conv chain (guide §4.2 — the JVM expression re-derived a
    MessageDigest + hex string + radix parse per token OCCURRENCE;
    measured 5.6s of q69's 11.4s wall on the zipf bench corpus). Tokens
    dedup per doc BEFORE hashing, a per-worker vocab memo hashes each
    distinct token once per task, and md5x.md5_top60_batch computes the
    60-bit digests as one numpy sweep — bit-identical to
    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) (the frozen oracle
    form; md5x is the q43 machinery). A trailing distinct over the hash
    VALUES preserves the oracle's list_distinct(list_transform(...))
    semantics even under a 60-bit collision."""

    def batches(it):
        import re

        import numpy as np
        import pandas as pd

        from real_time_anomaly_detection_spark.operators.md5x import (
            md5_top60_batch,
        )

        rx = re.compile(_VOCAB_TOKEN_RE)
        memo: dict[str, int] = {}

        def fill(tokens):
            new = [t for t in tokens if t not in memo]
            if not new:
                return
            if len(memo) >= 4_000_000:
                # bound worker memory on huge-vocabulary partitions: the
                # memo is a pure cache, dropping it only re-hashes
                memo.clear()
            short = [t for t in new if len(t) <= 55]
            if short:
                vals = md5_top60_batch([t.encode("utf-8") for t in short])
                memo.update(zip(short, vals.tolist()))
            for t in new:  # [a-z]-runs beyond one md5 block: hashlib
                if len(t) > 55:
                    import hashlib

                    memo[t] = int.from_bytes(
                        hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
                    ) >> 4

        for pdf in it:
            ids, toks_per_doc = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = list(dict.fromkeys(rx.findall(text.lower())))
                if not toks:
                    continue
                ids.append(doc_id)
                toks_per_doc.append(toks)
            fill(list(dict.fromkeys(t for ts in toks_per_doc for t in ts)))
            arrs, ns = [], []
            for ts in toks_per_doc:
                hs = pd.unique(
                    np.fromiter((memo[t] for t in ts), np.int64, len(ts))
                )
                arrs.append(hs)
                ns.append(len(hs))
            out = pd.DataFrame({"doc_id": np.asarray(ids, np.int64)})
            # object dtype: equal-length docs would otherwise collapse the
            # column into one 2D block Arrow cannot convert
            out["hs"] = pd.Series(arrs, dtype=object)
            out["n"] = np.asarray(ns, np.int32)
            yield out

    return (
        d.select("doc_id", "text")
        .transform(_spread)  # few-row-group sources must not starve the UDF stage (r7)
        .mapInPandas(batches, schema="doc_id long, hs array<long>, n int")
    )


def q69_containment_join(spark, sf_dir, threshold: float = _CJ_THRESHOLD):
    """Ordered pairs (doc_inner, doc_outer, containment, n_inner) with
    containment = |distinct_tokens(inner) ∩ distinct_tokens(outer)| /
    |distinct_tokens(inner)| rounded to 6dp >= `threshold` (q41/q58's
    lowercase [a-z]+ token convention; 6dp compare is the cross-engine
    parity convention). Tokens travel as q34's 60-bit md5 longs — both
    engines hash identically, so even a hash collision is parity-exact —
    because the verify stage is memory-bandwidth-bound and 8-byte longs
    beat strings (the _hashed_tokens measurement). Token-free / null-text
    docs are excluded on both sides in both engines.

    Three LOSSLESS filters (All-Pairs/PPJoin, Bayardo et al. WWW'07 +
    Xiao et al. WWW'08), with o_min = ceil(t*|A| - 1e-3) — the smallest
    overlap that can pass the 6dp-rounded threshold (the 1e-3 slack only
    ever WEAKENS a filter, never loses a pair):
    - prefix: order every doc's tokens by a GLOBAL (df asc, hash asc)
      order; if B misses all of A's first p = |A| - o_min + 1 tokens, the
      overlap is < o_min — so only A's p prefix tokens probe the index.
    - length: |A∩B| <= |B|, so n_b >= o_min or the pair is impossible.
    - positional: for the FIRST shared token (global order), at position
      i in A and j in B, overlap <= 1 + min(n_a-i-1, n_b-j-1); a matched
      row failing the bound can be dropped because the first-shared-token
      row always passes for a truly qualifying pair. This is the filter
      that matters on a UNIFORM vocabulary (measured on the spans bench
      corpus: rarity ordering alone leaves ~22M raw candidates because
      every df is ~equal; the positional bound prunes deep-in-B matches
      independent of df skew).

    Spark shape for 100 TB: per-doc hashed-distinct arrays built
    SCAN-LOCALLY (text dies at the scan); df is ONE vocabulary-scale hash
    agg; ONE token-keyed join + ONE doc-keyed re-group of the LINEAR token
    stream produce the globally-sorted per-doc arrays (persisted — probe,
    index, and verify all derive from them map-side); the probe side
    explodes only prefixes, the index side is the linear positional
    stream; both length and positional bounds apply ON the join row before
    the distinct, so the pair relation is born small; verify joins the
    persisted arrays back hint-free (containment-affected docs are
    unbounded at web dup rates, q48 precedent) and intersects map-side.
    All-pairs exists ONLY as the oracle; the correctness gate audits the
    three filters' completeness theorems, not just the verify stage.

    r7 restructure (guide §2.4): the doc-set relation is persisted, so the
    tokenize+hash pass runs ONCE (r6 recomputed it per branch — once under
    the df agg, once under the join input); the df join rides AQE
    (vocabulary-scale build side broadcasts when it fits); q72 reuses the
    SAME persisted sorted-set relation instead of re-tokenizing. o_min
    carries a slack PROPORTIONAL to n — ceil(n*(thr - 5e-7) - 1e-6), the
    smallest overlap that can 6dp-round up to thr — replacing r6's fixed
    1e-3, which silently over-pruned once n > 2000 (the filter claimed
    lossless but dropped pairs the oracle emits; slack only ever WEAKENS
    a filter, so the fix is oracle-neutral on corpora below that size).
    """
    return _cj_pairs(_cj_sorted_sets(spark, sf_dir), float(threshold))


def _cj_sorted_sets(spark, sf_dir):
    """Persisted (doc_id, n, hs) with hs ordered by the GLOBAL
    (df asc, hash asc) rarity order — the shared spine of q69/q72. ONE
    tokenize+hash pass (the persisted doc-set relation feeds both the df
    agg and the join input), ONE vocabulary-scale df agg, ONE doc-keyed
    regroup."""
    raw = _persist(_cj_doc_sets(load(spark, sf_dir, "documents")))
    toks = raw.select("doc_id", "n", F.explode("hs").alias("h"))
    df_tbl = toks.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return _persist(
        toks.join(df_tbl, "h")
        .groupBy("doc_id", "n")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(df, h))), s -> s.h)")
            .alias("hs")
        )
    )


def _cj_o_min(n_col, thr: float):
    """Smallest integer overlap that can pass round(ov/n, 6) >= thr:
    ceil(n*(thr - 5e-7) - 1e-6). The 5e-7 term is the 6dp HALF_UP rounding
    radius (exactly-half rounds up); the 1e-6 guards the double product
    landing a hair above an exact integer. Both slacks only WEAKEN the
    filters (never lose a pair); proportional-in-n is what keeps the bound
    sound past n = 2000 where r6's fixed 1e-3 over-pruned."""
    return F.ceil(n_col * F.lit(thr - 5e-7) - 1e-6)


def _cj_pairs(sorted_sets, thr: float):
    """q69's pair relation from a rarity-ordered doc-set relation: prefix
    probe join + length/positional filters + exact verify (see
    q69_containment_join)."""
    o_min = _cj_o_min(F.col("n"), thr)
    p = (F.col("n") - o_min + 1).cast("int")
    probe = sorted_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        F.posexplode(F.slice("hs", F.lit(1), p)).alias("i", "h"),
    )
    index = sorted_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.posexplode("hs").alias("j", "h"),
    )
    o_min_a = _cj_o_min(F.col("n_a"), thr)
    cands = (
        probe.join(index, "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.col("n_b") >= o_min_a)  # length filter
        .filter(  # positional filter (posexplode is 0-based)
            1 + F.least(F.col("n_a") - F.col("i") - 1, F.col("n_b") - F.col("j") - 1)
            >= o_min_a
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sorted_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.col("n").alias("n_a")
    )
    b = sorted_sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.col("doc_a").alias("doc_inner"),
            F.col("doc_b").alias("doc_outer"),
            _r6(F.size(F.array_intersect("hs_a", "hs_b")) / F.col("n_a")).alias(
                "containment"
            ),
            F.col("n_a").cast("long").alias("n_inner"),
        )
        .filter(F.col("containment") >= thr)
    )


_CJ_HS_SQL = (
    f"list_distinct(list_transform(regexp_extract_all(lower(text), "
    f"'{_VOCAB_TOKEN_RE}'), t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)))"
)

_Q69_SQL = f"""
WITH t2 AS (
  SELECT doc_id, hs, len(hs) AS n FROM (
    SELECT doc_id, {_CJ_HS_SQL} AS hs
    FROM documents WHERE text IS NOT NULL)
  WHERE len(hs) > 0)
SELECT doc_inner, doc_outer, containment, n_inner FROM (
  SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
         round(len(list_intersect(a.hs, b.hs)) * 1.0 / a.n, 6) AS containment,
         CAST(a.n AS BIGINT) AS n_inner
  FROM t2 a JOIN t2 b ON a.doc_id <> b.doc_id)
WHERE containment >= {_CJ_THRESHOLD!r}
"""

QUERIES["q69_containment_join"] = q69_containment_join
ORACLES["q69_containment_join"] = _Q69_SQL


# --------------------------------------------------------------------------
# q70: source-overlap matrix — per-source MinHash signatures estimating the
# content Jaccard between every pair of sources (Broder 1997 resemblance
# sketches, aggregated at source granularity). The curation question this
# answers — "how much of source B is already in source A?" at the CORPUS
# level — comes before any doc-level dedup decision (drop a mirror feed
# wholesale vs pay per-doc dedup), and the sketch is the only shape that
# answers it at 10^12 docs: a MinHash signature is a min-aggregate, so it
# is map-side combinable and mergeable across shards/epochs; the shuffle
# carries n_sources x n_hashes longs (metadata), the corpus-scale token
# stream never leaves its scan stage, and no doc pair is ever formed.
_SO_HASHES = 8  # registry/oracle config (the pinned q29 constants);
#                 production would run 64+ lanes via the same agg —
#                 stderr ~ sqrt(J(1-J)/k) — with _mh_constants extras


def q70_source_overlap(spark, sf_dir, n_hashes: int = _SO_HASHES):
    """(source_a, source_b, n_matching_lanes, est_jaccard) for every source
    pair: est_jaccard = fraction of the n_hashes lanes whose per-source
    minimum agrees — the unbiased MinHash estimate of the Jaccard of the
    two sources' DISTINCT-token unions (q29's 60-bit md5 token hash and
    universal-hash family, so estimates are bit-identical cross-engine).

    Plan: ONE explode of per-doc distinct token hashes (scan-local arrays)
    -> ONE groupBy(source) with n_hashes min-aggregates (map-side partial
    combine collapses each task to n_sources x n_hashes longs before the
    Exchange) -> self-join of the metadata-scale signature relation
    (broadcast nested-loop on source_a < source_b; output is O(S^2) — at
    web scale S = domains, so a deployment thresholds or top-Ks the output;
    the signature table itself stays linear in S). Null/token-free docs
    contribute no tokens on either engine.

    Recasts the reference's peer-baseline comparison (spatial trend
    verification, anomaly_detector.py:317-373 — "does this series agree
    with its peers?") at the corpus-composition level."""
    consts = _mh_constants(n_hashes)
    d = _spread(load(spark, sf_dir, "documents")).filter(F.col("text").isNotNull())
    toks = d.select("source", F.explode(_hashed_tokens(F.col("text"))).alias("h"))
    sig = _persist(
        toks.groupBy("source").agg(
            *[
                F.min(((F.col("h") % _MH_P) * a + b) % _MH_P).alias(f"m{i}")
                for i, (a, b) in enumerate(consts)
            ]
        )
    )
    a, b = sig.alias("a"), sig.alias("b")
    matches = sum(
        F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        matches.cast("long").alias("n_matching_lanes"),
        _r6(matches / F.lit(float(n_hashes))).alias("est_jaccard"),
    )


def _q70_sql(n_hashes: int = _SO_HASHES) -> str:
    consts = _mh_constants(n_hashes)
    mins = ",\n         ".join(
        f"min(((h % {_MH_P}) * {a} + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(consts)
    )
    match_expr = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(n_hashes)
    )
    return f"""
WITH docs AS (SELECT source, {_HTOKS_SQL} AS htoks
              FROM documents WHERE text IS NOT NULL),
tok AS (SELECT source, unnest(htoks) AS h FROM docs),
sig AS (SELECT source,
         {mins}
        FROM tok GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       CAST({match_expr} AS BIGINT) AS n_matching_lanes,
       round(({match_expr}) / {float(n_hashes)!r}, 6) AS est_jaccard
FROM sig a JOIN sig b ON a.source < b.source
"""


_Q70_SQL = _q70_sql()

QUERIES["q70_source_overlap"] = q70_source_overlap
ORACLES["q70_source_overlap"] = _Q70_SQL


# --------------------------------------------------------------------------
# q71: corpus data-card rollup — the per-(lang, source) composition table a
# dataset release publishes (Datasheets for Datasets, Gebru et al. 2021;
# Dolma/ROOTS-style corpus reports): volume, token mass, length, split
# shares (q45's deterministic md5 assignment, so the card states the
# ACTUAL train/val/test composition any downstream run will see), and
# PII-bearing-document rates (q56's engine-parity patterns, existence
# form). ONE map-side expression set + ONE (lang, source) hash agg with
# map-side partial combine + a broadcast single-row corpus total (q58's
# anchor pattern): output is strata-scale metadata, the corpus never
# shuffles, and the agg state is O(strata) — the exact shape that holds at
# 10^12 docs.
def q71_corpus_card(spark, sf_dir):
    """Per (lang, source): n_docs, n_null_text, total_tokens (whitespace —
    q23's convention; null text contributes 0), mean_chars, n_train/n_val/
    n_test (q45 buckets), n_pii_docs (any q56 email/IPv4/phone match), and
    corpus_frac = n_docs / corpus size (6dp)."""
    d = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long") % 100
    toks = (
        F.when(F.col("text").isNotNull(), F.size(F.split(F.col("text"), r"\s+")))
        .otherwise(F.lit(0))
    )
    pii = F.col("text").isNotNull() & (
        F.col("text").rlike(_Q56_EMAIL)
        | F.col("text").rlike(_Q56_IPV4)
        | F.col("text").rlike(_Q56_PHONE)
    )
    g = _spread(d).groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("text").isNull()).alias("n_null_text"),
        F.sum(toks).alias("total_tokens"),
        _r6(F.avg("n_chars")).alias("mean_chars"),
        F.count_if(h < 80).alias("n_train"),
        F.count_if((h >= 80) & (h < 90)).alias("n_val"),
        F.count_if(h >= 90).alias("n_test"),
        F.count_if(pii).alias("n_pii_docs"),
    )
    total = d.agg(F.count(F.lit(1)).alias("_n"))
    return g.join(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_null_text",
        "total_tokens",
        "mean_chars",
        "n_train",
        "n_val",
        "n_test",
        "n_pii_docs",
        _r6(F.col("n_docs") / F.col("_n")).alias("corpus_frac"),
    )


_Q71_SQL = f"""
WITH base AS (
  SELECT lang, source, text, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 100 AS h,
         text IS NOT NULL AND (regexp_matches(text, '{_Q56_EMAIL}')
                               OR regexp_matches(text, '{_Q56_IPV4}')
                               OR regexp_matches(text, '{_Q56_PHONE}')) AS pii
  FROM documents)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count_if(text IS NULL) AS BIGINT) AS n_null_text,
       CAST(sum(CASE WHEN text IS NULL THEN 0
                ELSE len(regexp_split_to_array(text, '\\s+')) END) AS BIGINT)
         AS total_tokens,
       round(avg(n_chars), 6) AS mean_chars,
       CAST(count_if(h < 80) AS BIGINT) AS n_train,
       CAST(count_if(h >= 80 AND h < 90) AS BIGINT) AS n_val,
       CAST(count_if(h >= 90) AS BIGINT) AS n_test,
       CAST(count_if(pii) AS BIGINT) AS n_pii_docs,
       round(count(*) * 1.0 / (SELECT count(*) FROM documents), 6) AS corpus_frac
FROM base GROUP BY lang, source
"""

QUERIES["q71_corpus_card"] = q71_corpus_card
ORACLES["q71_corpus_card"] = _Q71_SQL


# --------------------------------------------------------------------------
# q72: containment canonical — the terminal op of the text containment path
# (q69 : q72 :: audio containment_pairs : containment_canonical). Excerpt
# chains nest in real corpora (a pull-quote of an article that is itself a
# syndicated excerpt of a wire story); a dedup sink must keep the TOP of
# each chain, not the middleman. Also the op that makes q69's symmetric
# 1.0/1.0 pairs (identical token sets) actionable: the keeper is the
# smaller doc_id, the twin maps to it.
def q72_containment_canonical(spark, sf_dir, threshold: float = _CJ_THRESHOLD,
                              pairs=None):
    """(doc_id, canonical) for every doc contained (>= threshold) in some
    other doc: the top of its containment chain. Parent arcs are made
    ACYCLIC by construction — the parent must be STRICTLY greater in the
    (n, -doc_id) order (bigger token set, or equal set and smaller id), so
    the mutual pairs q69 legitimately emits for identical docs collapse to
    one direction; best parent per inner = (containment desc, n_outer desc,
    doc_outer asc), fully deterministic. Chains collapse by pointer jumping
    (operators/components.py:collapse_parent_forest — O(log depth) rounds,
    localCheckpoint per round, raises on non-convergence). Spark shape:
    q69's candidate machinery produces the pair relation (containment-
    scale); the arc filter and window run on pairs, never the corpus.

    r7: the default path derives BOTH the pairs and the doc sizes from ONE
    persisted sorted-set relation (r6 re-ran the whole q69 stack AND a
    third tokenize pass for sizes — VERDICT r6 weak #2). ``pairs``: an
    optional MATERIALIZED q69 relation (the q48 ``clusters=``/q73 pattern)
    — a pipeline that checkpointed the pair table pays only the
    arc-filter + window + pointer-jump cost."""
    if pairs is None:
        sets_ = _cj_sorted_sets(spark, sf_dir)
        pairs = _cj_pairs(sets_, float(threshold))
        sizes = sets_.select(
            F.col("doc_id").alias("doc_outer"), F.col("n").alias("n_outer")
        )
    else:
        sizes = _cj_doc_sets(load(spark, sf_dir, "documents")).select(
            F.col("doc_id").alias("doc_outer"), F.col("n").alias("n_outer")
        )
    arcs = pairs.join(sizes, "doc_outer").filter(
        (F.col("n_outer") > F.col("n_inner"))
        | (
            (F.col("n_outer") == F.col("n_inner"))
            & (F.col("doc_outer") < F.col("doc_inner"))
        )
    )
    w = W.partitionBy("doc_inner").orderBy(
        F.col("containment").desc(), F.col("n_outer").desc(),
        F.col("doc_outer").asc(),
    )
    parent = (
        arcs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("doc_inner").alias("node"), F.col("doc_outer").alias("parent")
        )
    )
    from .operators.components import collapse_parent_forest

    return collapse_parent_forest(parent).select(
        F.col("node").alias("doc_id"), F.col("root").alias("canonical")
    )


_Q72_SQL = f"""
WITH RECURSIVE t2 AS (
  SELECT doc_id, hs, len(hs) AS n FROM (
    SELECT doc_id, {_CJ_HS_SQL} AS hs
    FROM documents WHERE text IS NOT NULL)
  WHERE len(hs) > 0),
pr AS (
  SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
         round(len(list_intersect(a.hs, b.hs)) * 1.0 / a.n, 6) AS containment,
         a.n AS n_inner, b.n AS n_outer
  FROM t2 a JOIN t2 b ON a.doc_id <> b.doc_id),
arcs AS (
  SELECT * FROM pr
  WHERE containment >= {_CJ_THRESHOLD!r}
    AND (n_outer > n_inner OR (n_outer = n_inner AND doc_outer < doc_inner))),
parent AS (
  SELECT doc_inner AS node, doc_outer AS parent FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_inner
        ORDER BY containment DESC, n_outer DESC, doc_outer ASC) AS rn
    FROM arcs) WHERE rn = 1),
r AS (
  SELECT node, parent AS cur FROM parent
  UNION ALL
  SELECT r.node, p.parent FROM r JOIN parent p ON r.cur = p.node)
SELECT node AS doc_id, cur AS canonical FROM r
WHERE cur NOT IN (SELECT node FROM parent)
"""

QUERIES["q72_containment_canonical"] = q72_containment_canonical
ORACLES["q72_containment_canonical"] = _Q72_SQL


# --------------------------------------------------------------------------
# q73: dedup DISPOSITION — the per-document terminal decision table the
# text-dedup stack writes: every doc's verdict across the three
# complementary detectors (exact normalized-hash groups = q25's convention;
# near-dup clusters + canonical keeper = q47; containment chains = q72),
# the final keep/drop bit, and a priority-ordered reason. Pairs/clusters
# alone are not actionable corpus-wide — this is the relation a curation
# sink actually filters the corpus by (and the audit a human reads when a
# doc is missing from the training set).
def q73_dedup_disposition(spark, sf_dir, n_bands: int | None = None,
                          rows_per_band: int | None = None,
                          near_threshold: float = 0.5,
                          containment_threshold: float = _CJ_THRESHOLD,
                          clusters=None, canon=None):
    """Per doc: (doc_id, exact_dup, exact_keeper, near_cluster, near_keeper,
    contained_in, status, keep). keep = not a non-keeper exact copy AND not
    a non-keeper near-dup AND not contained in anything; status = the first
    failing check in (exact_dup > near_dup > contained) priority, else
    'keep' (so keep == (status = 'keep')). Null-text docs hash to one exact
    group (q25's GROUP BY semantics) — all-empty content is mutually
    duplicate.

    Spark shape: exact flags are TWO window functions over ONE hash-keyed
    Exchange of (doc_id, 32B hash) — metadata-width, never the text; the
    cluster and canonical relations are dedup-scale and join the spine
    hint-free (30-80% dup rates at web scale, q48 precedent). ``clusters``
    / ``canon``: optional MATERIALIZED q47 / q72 relations — a pipeline
    joins its checkpointed label tables instead of recomputing the stacks
    (the q50/q61 pattern)."""
    d = load(spark, sf_dir, "documents")
    if clusters is None:
        clusters = q47_neardup_clusters(
            spark, sf_dir, n_bands=n_bands, rows_per_band=rows_per_band,
            threshold=near_threshold,
        )
    if canon is None:
        canon = q72_containment_canonical(
            spark, sf_dir, threshold=containment_threshold
        )
    wh = W.partitionBy("_h")
    spine = (
        d.select("doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("_h"))
        .withColumn("_n", F.count(F.lit(1)).over(wh))
        .withColumn("_mn", F.min("doc_id").over(wh))
    )
    out = (
        spine.join(
            clusters.select(
                "doc_id",
                F.col("cluster_id").alias("_nc"),
                F.col("is_keeper").alias("_nk"),
            ),
            "doc_id",
            "left",
        )
        .join(
            canon.select("doc_id", F.col("canonical").alias("_ci")),
            "doc_id",
            "left",
        )
    )
    exact_dup = F.col("_n") > 1
    exact_keeper = exact_dup & (F.col("doc_id") == F.col("_mn"))
    near_cluster = F.coalesce(F.col("_nc"), F.lit(-1).cast("long"))
    near_keeper = F.coalesce(F.col("_nk"), F.lit(False))
    contained_in = F.coalesce(F.col("_ci"), F.lit(-1).cast("long"))
    status = (
        F.when(exact_dup & ~exact_keeper, F.lit("exact_dup"))
        .when((near_cluster != -1) & ~near_keeper, F.lit("near_dup"))
        .when(contained_in != -1, F.lit("contained"))
        .otherwise(F.lit("keep"))
    )
    return out.select(
        "doc_id",
        exact_dup.alias("exact_dup"),
        exact_keeper.alias("exact_keeper"),
        near_cluster.alias("near_cluster"),
        near_keeper.alias("near_keeper"),
        contained_in.alias("contained_in"),
        status.alias("status"),
        (status == "keep").alias("keep"),
    )


_Q73_SQL = f"""
WITH ex AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY sha256(lower(trim(text)))) AS n,
         min(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS mn
  FROM documents),
t AS ({_Q47_SQL}),
c AS ({_Q72_SQL})
SELECT ex.doc_id,
       ex.n > 1 AS exact_dup,
       ex.n > 1 AND ex.doc_id = ex.mn AS exact_keeper,
       COALESCE(t.cluster_id, -1) AS near_cluster,
       COALESCE(t.is_keeper, FALSE) AS near_keeper,
       COALESCE(c.canonical, -1) AS contained_in,
       CASE WHEN ex.n > 1 AND ex.doc_id <> ex.mn THEN 'exact_dup'
            WHEN t.doc_id IS NOT NULL AND NOT t.is_keeper THEN 'near_dup'
            WHEN c.doc_id IS NOT NULL THEN 'contained'
            ELSE 'keep' END AS status,
       (NOT (ex.n > 1 AND ex.doc_id <> ex.mn))
         AND (t.doc_id IS NULL OR t.is_keeper)
         AND c.doc_id IS NULL AS keep
FROM ex
LEFT JOIN t ON ex.doc_id = t.doc_id
LEFT JOIN c ON ex.doc_id = c.doc_id
"""

QUERIES["q73_dedup_disposition"] = _pin_kwargs(
    q73_dedup_disposition, n_bands=_MH_BANDS, rows_per_band=2
)
ORACLES["q73_dedup_disposition"] = _Q73_SQL
