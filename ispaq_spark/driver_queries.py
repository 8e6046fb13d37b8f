"""Driver-contract query registry: (PySpark DataFrame plan, DuckDB oracle
SQL) pairs. The library-backed queries run a library operator —
`operators/`, `curation.py` or `functions/` — so the DuckDB oracle
certifies the code users run, not a copy of it. The rest are catalogue
queries: relational queries over the TPC-H-style fixtures, and text or
embedding operators that exist only here. Those that reach no library
function are listed in `tests/test_driver_contract.py`, which gates that
no other query skips the library.

The oracle states each operator relationally and independently of the
library. The driver compares row counts, column names, and
order-insensitive value hashes — so every computed column is aliased
identically on both sides, doubles are rounded to 6 decimals on both
sides, and every window/top-k has a total deterministic order.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import STOPWORDS
from .curation import (
    CurationPolicy,
    assign_split,
    cap_per_source,
    contamination_hits,
    quality_filter,
)
from .functions.heuristics import with_stopword_langid
from .operators.bpe import pair_counts, word_frequencies
from .operators.components import alternating_star_components
from .operators.crosscorr import cogroup_xcorr, collected_xcorr
from .operators.dedup import (
    N_MINHASH_DEFAULT,
    content_hash,
    exact_dedup,
    hex_hash,
    jaccard,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    shingles_of,
    signatures,
    simhash,
    word_set,
)
from .operators.similarity import lsh_bucket_col, make_planes
from .operators.spectral import (
    cogroup_welch,
    collected_welch,
    orientation_scan,
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def r6(c) -> F.Column:
    return F.round(c, 6)


def dsum(c) -> F.Column:
    """Accumulation-order-independent sum of a double column: each value is
    cast to DECIMAL(38,9) (a deterministic per-value quantization), summed
    in decimal (exact and associative, so partition layout and partial-agg
    order cannot change the result), and returned as double. A raw double
    sum() differs by ~n ulps between Spark's partial-aggregation tree and
    DuckDB's sequential scan, which flips round(,6) when the total sits at
    a .0000005 boundary (fuzz seed 101 hit exactly that in psd_windows).
    DuckDB twin: CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE)."""
    if isinstance(c, str):
        c = F.col(c)
    return F.sum(c.cast("decimal(38,9)")).cast("double")


def davg(c) -> F.Column:
    """Order-independent mean built from dsum / count(col) (count of
    NON-NULL values, matching avg()'s NULL semantics on both engines).
    DuckDB twin: CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE)/count(x)."""
    if isinstance(c, str):
        c = F.col(c)
    return dsum(c) / F.count(c)


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str


_DEFS: list[QueryDef] = []


def qdef(name: str, oracle: str):
    def deco(fn):
        _DEFS.append(QueryDef(name, fn, oracle))
        return fn

    return deco


# ===========================================================================
# §2.4 aggregations
# ===========================================================================


@qdef(
    "basic_stats",
    """
    WITH a AS (
      SELECT l_returnflag,
             count(*) AS n,
             round(min(l_quantity), 6)               AS sample_min,
             round(quantile_cont(l_quantity, 0.5), 6) AS sample_median,
             round(avg(l_quantity), 6)               AS sample_mean,
             round(max(l_quantity), 6)               AS sample_max,
             count(l_quantity) AS nq,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,9)))
                  AS DOUBLE) AS sxx,
             count(DISTINCT l_quantity)              AS sample_unique
      FROM lineitem GROUP BY l_returnflag
    ), b AS (
      SELECT *,
             CASE WHEN nq > 0
                  THEN sxx / CAST(nq AS DOUBLE)
                       - (sx / CAST(nq AS DOUBLE)) * (sx / CAST(nq AS DOUBLE))
             END AS vx
      FROM a
    )
    SELECT l_returnflag, n, sample_min, sample_median, sample_mean,
           sample_max,
           round(sqrt(CASE WHEN vx < 0 THEN 0 ELSE vx END), 6)
             AS sample_rms_var,
           sample_unique
    FROM b
    """,
)
def q_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """basicStats (IRISMustangMetrics/R/basicStatsMetric.R:25-59; rmsVariance
    Class-Stream.R:281-290 = population stddev; sample_unique :44-48) as one
    hash-aggregate with exact median via sort-based percentile. rmsVariance
    is the closed form sqrt(E[x^2] - E[x]^2) over decimal sums (dsum) with
    the identical expression shape in the oracle: Spark's Welford-style
    central-moment merge and DuckDB's sequential recurrence accumulate in
    different orders, so the built-in stddev_pop can land 1 ulp apart and
    flip round(,6) at a .0000005 boundary — the psd_windows fuzz finding,
    applied to the second-moment class."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    nq = F.col("nq")
    vx = F.when(
        nq > 0,
        F.col("sxx") / nq.cast("double")
        - (F.col("sx") / nq.cast("double")) * (F.col("sx") / nq.cast("double")),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.min("l_quantity")).alias("sample_min"),
            r6(F.percentile("l_quantity", F.lit(0.5))).alias("sample_median"),
            r6(F.avg("l_quantity")).alias("sample_mean"),
            r6(F.max("l_quantity")).alias("sample_max"),
            F.count("l_quantity").alias("nq"),
            dsum(q).alias("sx"),
            dsum(q * q).alias("sxx"),
            F.countDistinct("l_quantity").alias("sample_unique"),
        )
        .withColumn("vx", vx)
        .select(
            "l_returnflag",
            "n",
            "sample_min",
            "sample_median",
            "sample_mean",
            "sample_max",
            r6(
                F.sqrt(F.when(F.col("vx") < 0, F.lit(0.0)).otherwise(F.col("vx")))
            ).alias("sample_rms_var"),
            "sample_unique",
        )
    )


@qdef(
    "gaps",
    """
    WITH d AS (
      SELECT user_id,
             date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) AS gap_us
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN gap_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS num_gaps,
           max(gap_us) AS max_gap_us
    FROM d GROUP BY user_id
    """,
)
def q_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gaps/overlaps metric (IRISMustangMetrics/R/gapsMetric.R:31-93; gap
    detection via inter-trace deltas Class-Stream.R:328-417) as a lag()
    analytic window + conditional aggregation — no per-group loops."""
    # events.ts is TIMESTAMP_NTZ in the parquet; session TZ is UTC, so the
    # cast to TIMESTAMP is value-preserving.
    ev = t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.withColumn("gap_us", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("gap_us") > 600_000_000, 1).otherwise(0)).alias(
                "num_gaps"
            ),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


@qdef(
    "sessionize",
    """
    WITH d AS (
      SELECT user_id,
             CASE WHEN date_diff('microsecond',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM events
    )
    SELECT user_id, CAST(sum(brk) + 1 AS BIGINT) AS n_sessions
    FROM d GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (the batch analog of the reference's day-window loop,
    ispaq/simple_metrics.py:83-89): a 30-min-gap break flag summed per key."""
    ev = t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    brk = F.when(gap > 1_800_000_000, 1).otherwise(0)
    return (
        ev.withColumn("brk", brk)
        .groupBy("user_id")
        .agg((F.sum("brk") + F.lit(1)).alias("n_sessions"))
    )


@qdef(
    "hist2d",
    """
    SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bin,
           count(*) AS hits
    FROM events GROUP BY event_type, bin
    """,
)
def q_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF 2-D histogram (ispaq/PDF_aggregator.py:73-108: value_counts of
    (freq, round(power))) = groupBy(key, bin).count()."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / 10).cast("bigint").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("hits"))
    )


@qdef(
    "mode_per_group",
    """
    WITH h AS (
      SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bin,
             count(*) AS hits
      FROM events GROUP BY event_type, bin
    ), r AS (
      SELECT event_type, bin, hits,
             -- NULLS LAST pinned: DuckDB's ASC default is nulls-last,
             -- Spark's is nulls-FIRST — a NULL-value bin tying for the
             -- mode would otherwise resolve to opposite winners
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hits DESC, bin ASC NULLS LAST) AS rn
      FROM h
    )
    SELECT event_type, bin AS mode_bin, hits AS mode_hits FROM r WHERE rn = 1
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group histogram mode (ispaq/PDF_aggregator.py:122-124 per-freq
    mode) via deterministic row_number over (hits desc, bin asc)."""
    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.floor(F.col("value") / 10).cast("bigint").alias("bin")
    ).agg(F.count(F.lit(1)).alias("hits"))
    # asc_nulls_last matches DuckDB's ASC default; Spark's bare asc()
    # sorts NULLs first, flipping a mode tie against a NULL bin
    w = Window.partitionBy("event_type").orderBy(
        F.col("hits").desc(), F.col("bin").asc_nulls_last()
    )
    return (
        h.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "event_type",
            F.col("bin").alias("mode_bin"),
            F.col("hits").alias("mode_hits"),
        )
    )


@qdef(
    "psd_quantiles",
    """
    SELECT event_type,
           count(*) AS n,
           round(quantile_cont(value, 0.05), 6) AS pct_5,
           round(quantile_cont(value, 0.10), 6) AS pct_10,
           round(quantile_cont(value, 0.50), 6) AS pct_50,
           round(quantile_cont(value, 0.90), 6) AS pct_90,
           round(quantile_cont(value, 0.95), 6) AS pct_95
    FROM events GROUP BY event_type
    """,
)
def q_psd_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """psdStatistics percentile columns (IRISMustangMetrics/R/
    psdStatisticsMetric.R percent_5/10/50/90/95 per frequency bin) as ONE
    exact sort-based percentile aggregate: all five fractions share a single
    per-group sort, so the plan is one shuffle on the group key — no repeated
    scans and no approx sketch (psdStatistics is exact in the reference).
    At 100 TB the unbounded-group variant would swap to approx_percentile;
    per-frequency groups here are day-bounded, so exact is the right call."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.percentile("value", F.lit(0.05))).alias("pct_5"),
        r6(F.percentile("value", F.lit(0.10))).alias("pct_10"),
        r6(F.percentile("value", F.lit(0.50))).alias("pct_50"),
        r6(F.percentile("value", F.lit(0.90))).alias("pct_90"),
        r6(F.percentile("value", F.lit(0.95))).alias("pct_95"),
    )


@qdef(
    "corr_per_group",
    """
    WITH p AS (
      SELECT l_returnflag,
             CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                  THEN l_quantity END AS x,
             CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                  THEN l_extendedprice END AS y
      FROM lineitem
    ), a AS (
      SELECT l_returnflag,
             count(x) AS np,
             CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,9))) AS DOUBLE) AS syy,
             CAST(sum(CAST(x * y AS DECIMAL(38,9))) AS DOUBLE) AS sxy
      FROM p GROUP BY l_returnflag
    ), m AS (
      SELECT l_returnflag, np,
             sx / CAST(np AS DOUBLE) AS mx,
             sy / CAST(np AS DOUBLE) AS my,
             sxx / CAST(np AS DOUBLE) AS mxx,
             syy / CAST(np AS DOUBLE) AS myy,
             sxy / CAST(np AS DOUBLE) AS mxy
      FROM a
    ), v AS (
      SELECT l_returnflag, np,
             mxx - mx * mx AS vx,
             myy - my * my AS vy,
             mxy - mx * my AS cxy
      FROM m
    )
    SELECT l_returnflag,
           round(CASE WHEN np > 0 AND vx > 0 AND vy > 0
                      THEN cxy / (sqrt(vx) * sqrt(vy)) END, 6) AS qp_corr
    FROM v
    """,
)
def q_corr_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross_talk Pearson correlation (IRISMustangMetrics/R/
    correlationMetric.R:25-99, cor at :92) in closed form over decimal sums
    of x, y, x*x, y*y, x*y (dsum), with the identical expression shape in
    the oracle — the built-in corr's central-moment merge is accumulation-
    order-dependent, so it can differ by 1 ulp between engines and flip
    round(,6) at a boundary (the psd_windows fuzz finding, applied to the
    second-moment class). Pair semantics match corr: rows where either
    side is NULL are excluded from every sum."""
    li = t(spark, sf_dir, "lineitem")
    both = F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    x, y = F.col("x"), F.col("y")
    npd = F.col("np").cast("double")
    mx, my = F.col("sx") / npd, F.col("sy") / npd
    vx = F.col("sxx") / npd - mx * mx
    vy = F.col("syy") / npd - my * my
    cxy = F.col("sxy") / npd - mx * my
    return (
        li.select(
            "l_returnflag",
            F.when(both, F.col("l_quantity")).alias("x"),
            F.when(both, F.col("l_extendedprice")).alias("y"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("x").alias("np"),
            dsum(x).alias("sx"),
            dsum(y).alias("sy"),
            dsum(x * x).alias("sxx"),
            dsum(y * y).alias("syy"),
            dsum(x * y).alias("sxy"),
        )
        .withColumn("vx", vx)
        .withColumn("vy", vy)
        .withColumn("cxy", cxy)
        .select(
            "l_returnflag",
            r6(
                F.when(
                    (F.col("np") > 0) & (F.col("vx") > 0) & (F.col("vy") > 0),
                    F.col("cxy") / (F.sqrt("vx") * F.sqrt("vy")),
                )
            ).alias("qp_corr"),
        )
    )


# ===========================================================================
# §2.3 joins
# ===========================================================================


@qdef(
    "dim_join_agg",
    """
    SELECT r.r_name,
           count(*) AS n_customers,
           -- decimal sums: order-independent (see dsum); c_acctbal is
           -- fractional, so a raw double sum is accumulation-order noise
           round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(38,9))) AS DOUBLE), 6)
             AS sum_acctbal,
           round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(38,9))) AS DOUBLE)
                 / count(c.c_acctbal), 6) AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_dim_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availability ⋈ waveform dimension join (ispaq/simple_metrics.py:113-121
    does it as iterrows + per-row fetch) as broadcast-hash joins: both dims
    are tiny, so no shuffle of the fact side."""
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            r6(dsum("c_acctbal")).alias("sum_acctbal"),
            r6(davg("c_acctbal")).alias("avg_acctbal"),
        )
    )


@qdef(
    "interval_join",
    """
    SELECT e1.user_id, count(*) AS n_follow_clicks
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    WHERE e1.event_type = 'error' AND e2.event_type = 'click'
    GROUP BY e1.user_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event ⋈ waveform time-window interval join (ispaq/SNR_metrics.py:
    146-168: per-event [t+tt-w/2, t+tt+w/2] windows): equi-join on the key +
    range predicate on time, so Spark plans a hash join with the range as a
    post-filter instead of a cartesian product."""
    ev = t(spark, sf_dir, "events")
    e1 = ev.where(F.col("event_type") == "error").alias("e1")
    e2 = ev.where(F.col("event_type") == "click").alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    return (
        e1.join(e2, cond)
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_follow_clicks"))
    )


@qdef(
    "top1_per_key",
    """
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey AS best_order,
           round(o_totalprice, 6) AS best_total
    FROM r WHERE rn = 1
    """,
)
def q_top1_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-neighbor-with-data top-1-per-key (ispaq/crossCorrelation_
    metrics.py:258-323: sort by distance, take first) as row_number()=1."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_order"),
            r6(F.col("o_totalprice")).alias("best_total"),
        )
    )


@qdef(
    "semi_anti",
    """
    WITH w AS (
      SELECT c.c_custkey, c.c_nationkey FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ), wo AS (
      SELECT c.c_custkey, c.c_nationkey FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    )
    SELECT n.n_name,
           coalesce(ww.n, 0) AS with_orders,
           coalesce(aa.n, 0) AS without_orders
    FROM nation n
    LEFT JOIN (SELECT c_nationkey, count(*) n FROM w GROUP BY 1) ww
      ON ww.c_nationkey = n.n_nationkey
    LEFT JOIN (SELECT c_nationkey, count(*) n FROM wo GROUP BY 1) aa
      ON aa.c_nationkey = n.n_nationkey
    """,
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semi/anti joins ('only targets with metadata' ispaq/SNR_metrics.py:
    140-142; 'skip targets with no data' simple_metrics.py:122-140) as real
    left_semi / left_anti operators, stitched per nation."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").select("o_custkey")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_nationkey").alias("nk_semi"))
        .agg(F.count(F.lit(1)).alias("with_orders"))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nk_anti"))
        .agg(F.count(F.lit(1)).alias("without_orders"))
    )
    return (
        n.join(semi, n.n_nationkey == semi.nk_semi, "left")
        .join(anti, n.n_nationkey == anti.nk_anti, "left")
        .select(
            "n_name",
            F.coalesce("with_orders", F.lit(0)).alias("with_orders"),
            F.coalesce("without_orders", F.lit(0)).alias("without_orders"),
        )
    )


@qdef(
    "pairs_self_join",
    """
    SELECT n.n_name, count(*) AS n_pairs
    FROM supplier s1
    JOIN supplier s2 ON s1.s_nationkey = s2.s_nationkey
                    AND s1.s_suppkey < s2.s_suppkey
    JOIN nation n ON n.n_nationkey = s1.s_nationkey
    GROUP BY n.n_name
    """,
)
def q_pairs_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """channel-pairs-at-same-SN.L self-join (ispaq/crossTalk_metrics.py:
    158-260: all 2-3 channel pairs per group) as a self-equi-join with
    key1 < key2 — itertools.combinations as a relational operator."""
    s = t(spark, sf_dir, "supplier")
    s1, s2 = s.alias("s1"), s.alias("s2")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        s1.join(
            s2,
            (F.col("s1.s_nationkey") == F.col("s2.s_nationkey"))
            & (F.col("s1.s_suppkey") < F.col("s2.s_suppkey")),
        )
        .join(n, F.col("s1.s_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ===========================================================================
# §2.2 / §2.7 filters, dedup, sort/limit, set ops
# ===========================================================================


@qdef(
    "rlike_filter",
    """
    SELECT event_type, count(*) AS n
    FROM events
    WHERE regexp_matches(event_type, '^(cl|er)')
      AND json_extract(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def q_rlike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """channelFilter regex predicate (ispaq/simple_metrics.py:43,73-78 e.g.
    '[BH][HX].') as rlike, plus JSON field access on the props column."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.where(
            F.col("event_type").rlike("^(cl|er)")
            & F.get_json_object("props", "$.k").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@qdef(
    "unpivot_eav",
    """
    WITH a AS (
      SELECT l_returnflag,
             round(min(l_quantity), 6) AS min_qty,
             round(max(l_quantity), 6) AS max_qty,
             round(avg(l_quantity), 6) AS avg_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'min_qty' AS metricName, min_qty AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'max_qty', max_qty FROM a
    UNION ALL
    SELECT l_returnflag, 'avg_qty', avg_qty FROM a
    """,
)
def q_unpivot_eav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wide -> long EAV (metricList2DF, IRISMustangMetrics/R/
    Class-Metric.R:487-573) via the built-in unpivot operator."""
    li = t(spark, sf_dir, "lineitem")
    a = li.groupBy("l_returnflag").agg(
        r6(F.min("l_quantity")).alias("min_qty"),
        r6(F.max("l_quantity")).alias("max_qty"),
        r6(F.avg("l_quantity")).alias("avg_qty"),
    )
    return a.unpivot(
        ["l_returnflag"], ["min_qty", "max_qty", "avg_qty"], "metricName", "value"
    )


@qdef(
    "sigfig",
    """
    SELECT o_orderkey,
           round(o_totalprice / pow(10, floor(log10(abs(o_totalprice))) - 5))
             * pow(10, floor(log10(abs(o_totalprice))) - 5) AS sig6
    FROM orders
    """,
)
def q_sigfig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-significant-figure output formatting (ispaq/utils.py:364-370) as a
    closed-form scale-shift/round/unshift column expression (round's scale
    argument must be a literal in both engines, so the shift is explicit)."""
    o = t(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    p = F.pow(F.lit(10.0), F.floor(F.log10(F.abs(x))) - F.lit(5))
    return o.select(
        "o_orderkey",
        (F.round(x / p, 0) * p).alias("sig6"),
    )


# ===========================================================================
# Text analysis over `documents` (the training-data-pipeline layer)
# ===========================================================================


def _langid_sql_cascade() -> str:
    hits = {
        lang: (
            "len(list_filter(words, x -> list_contains(["
            + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
            + "], x)))"
        )
        for lang in sorted(STOPWORDS)
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = " ".join(
        f"WHEN {hits[lang]} = best THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, lang, str_split(text, ' ') AS words FROM documents
    ), s AS (
      SELECT doc_id, lang, words, {best} AS best FROM w
    )
    SELECT lang, CASE WHEN best <= 0 THEN 'und' {whens} ELSE 'und' END
             AS pred_lang,
           count(*) AS n
    FROM s GROUP BY lang, pred_lang
    """


@qdef("langid_confusion", _langid_sql_cascade())
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stopword-vote langid (the SQL-expressible twin of the pipeline's
    classifier langid stage) aggregated into a (labeled lang x predicted
    lang) confusion table."""
    h = with_stopword_langid(t(spark, sf_dir, "documents"), "text")
    return h.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


@qdef(
    "fingerprint",
    """
    SELECT doc_id, md5(text) AS fp FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """document fingerprinting via the dedup content hash (both engines
    agree on md5 hex)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", content_hash(F.col("text")).alias("fp")
    )


# ===========================================================================
# Dedup: MinHash / SimHash / n-gram Jaccard (training-data-pipeline layer)
# ===========================================================================


def _minhash_sql_cols() -> str:
    return ",\n           ".join(
        "list_min(list_transform(grams, s -> "
        f"(('0x' || substr(md5('{j}|' || s), 1, 8))::BIGINT))) AS mh{j}"
        for j in range(N_MINHASH_DEFAULT)
    )


@qdef(
    "minhash_signatures",
    f"""
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    )
    SELECT doc_id,
           {_minhash_sql_cols()}
    FROM g
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over 3-word shingles (shingle -> salted hash ->
    min), k=4 permutations — the signature stage of MinHash-LSH near-dup
    detection. Pure Catalyst: transform/slice/array_min, no Python."""
    return minhash_signatures(t(spark, sf_dir, "documents"))


@qdef(
    "simhash16",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS w
      FROM documents
    ), h AS (
      SELECT doc_id, (('0x' || substr(md5(w), 1, 8))::BIGINT) AS hw FROM tok
    ), bits AS (
      SELECT doc_id, b.b AS b,
             sum(CASE WHEN (hw >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q_simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) near-dup fingerprint: per distinct token a content
    hash votes +1/-1 on each bit; the sign vector packs into an int. A
    NULL text explodes to no tokens and so has no row, as in the oracle's
    unnest."""
    return simhash(t(spark, sf_dir, "documents"), bits=16)


_JACCARD_BLOCK_ORACLE = (
    """
    WITH w AS (
      SELECT doc_id, source, lang,
             list_distinct(str_split(text, ' ')) AS ws
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(
             len(list_filter(a.ws, x -> list_contains(b.ws, x)))
             / (len(a.ws) + len(b.ws)
                - len(list_filter(a.ws, x -> list_contains(b.ws, x)))),
             6) AS jaccard
    FROM w a JOIN w b
      ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
    """
)


def _blocked_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a < doc_b, jaccard) for every pair in one (source, lang)
    block, scored with the dedup word-set Jaccard. The blocked self-join
    is O(B^2) per block: fine at oracle scale, quadratic at corpus scale,
    where LSH band buckets prune first (`minhash_lsh_neardup`)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", word_set("text").alias("ws")
    )
    a, b = d.alias("a"), d.alias("b")
    return a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        jaccard(F.col("a.ws"), F.col("b.ws")).alias("jaccard"),
    )


@qdef("jaccard_pairs", _JACCARD_BLOCK_ORACLE)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup scoring — the verify stage of LSH dedup,
    fed here by a (source, lang)-blocked self-join candidate generator
    (the nearest-compatible-neighbor pattern,
    ispaq/crossCorrelation_metrics.py:182-323). A pair with a NULL-text
    member scores NULL on both engines."""
    return _blocked_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", r6("jaccard").alias("jaccard")
    )


# ===========================================================================
# Similarity search over `embeddings`
# ===========================================================================


_LSH_PLANES = make_planes(8, 64)


def _dot_sql(vec_expr: str, plane: list[int]) -> str:
    lit = "[" + ", ".join(str(v) for v in plane) + "]"
    return (
        f"list_sum(list_transform(range(1, 65), i -> "
        f"{vec_expr}[i] * ({lit}::DOUBLE[])[i]))"
    )


@qdef(
    "ann_lsh_buckets",
    f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE len(list_filter(embedding, x -> x <> 0)) > 0
    )
    SELECT
      { ' + '.join(f"(CASE WHEN {_dot_sql('v', p)} >= 0 THEN {1 << j} ELSE 0 END)" for j, p in enumerate(_LSH_PLANES)) }
        AS bucket,
      count(*) AS n
    FROM e GROUP BY bucket
    """,
)
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing — the scale path for ANN: 8 signed
    projections pack into a bucket id; search only needs the query's bucket
    (+ neighbors). Hyperplanes are deterministic (`make_planes`), shared
    verbatim with the oracle SQL; all-zero vectors have no direction and
    are left out."""
    e = t(spark, sf_dir, "embeddings").where(
        F.exists("embedding", lambda x: x != F.lit(0.0))
    )
    return e.groupBy(
        lsh_bucket_col("embedding", _LSH_PLANES).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


# ===========================================================================
# §2.5 batch window functions (rolling kernels -> SQL window frames)
# ===========================================================================


def _evw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with the NTZ->UTC timestamp cast used by every window query."""
    return t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


_W_ORDER = "PARTITION BY user_id ORDER BY ts, event_id"


@qdef(
    "rolling_range",
    f"""
    WITH d AS (
      SELECT user_id,
             max(value) OVER w - min(value) OVER w AS rng
      FROM events
      WINDOW w AS ({_W_ORDER} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, round(max(rng), 6) AS max_range
    FROM d GROUP BY user_id
    """,
)
def q_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_range metric (IRISMustangMetrics/R/maxRangeMetric.R:5-31: max of
    rolling max-min; C++ kernel seismicRoll/src/source_files.cpp:336-420) as
    a SQL window frame — the 150 s stride of the reference is a compute
    shortcut, not a semantic; the frame version is exact."""
    ev = _evw(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    rng = F.max("value").over(w) - F.min("value").over(w)
    return (
        ev.withColumn("rng", rng)
        .groupBy("user_id")
        .agg(r6(F.max("rng")).alias("max_range"))
    )


@qdef(
    "max_stalta",
    f"""
    WITH d AS (
      SELECT user_id,
             avg(value * value) OVER sta AS sta,
             avg(value * value) OVER lta AS lta
      FROM events
      WINDOW sta AS ({_W_ORDER} ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
             lta AS ({_W_ORDER} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, round(max(sta / lta), 6) AS max_stalta
    FROM d WHERE lta > 0 GROUP BY user_id
    """,
)
def q_max_stalta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_stalta (IRISMustangMetrics/R/STALTAMetric.R:30-93: max over a
    short-term/long-term rolling mean ratio of the squared signal; kernel
    source_files.cpp:289-331) as two window-frame averages + a ratio max.
    The reference's `increment` stride (simple_metrics.py:196-198) is a
    performance knob only and is dropped for exactness."""
    ev = _evw(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v2 = F.col("value") * F.col("value")
    sta = F.avg(v2).over(base.rowsBetween(-1, 0))
    lta = F.avg(v2).over(base.rowsBetween(-9, 0))
    return (
        ev.withColumn("sta", sta)
        .withColumn("lta", lta)
        .where(F.col("lta") > 0)
        .groupBy("user_id")
        .agg(r6(F.max(F.col("sta") / F.col("lta"))).alias("max_stalta"))
    )


@qdef(
    "spikes_hampel",
    f"""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN abs(value - median(value) OVER
                    ({_W_ORDER} ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
                  > 100 THEN 1 ELSE 0 END AS is_out
      FROM events
    ), runs AS (
      SELECT user_id, is_out,
             lag(is_out, 1, 0) OVER ({_W_ORDER}) AS prev_out
      FROM d
    )
    SELECT user_id,
           CAST(sum(is_out) AS BIGINT) AS n_outliers,
           CAST(sum(CASE WHEN is_out = 1 AND prev_out = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS num_spikes
    FROM runs GROUP BY user_id
    """,
)
def q_spikes_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """num_spikes (IRISMustangMetrics/R/spikesMetric.R:30-62: rolling-median
    outliers, counting runs of adjacent outliers once — `count(diff(idx)>1)+1`;
    hampel kernel seismicRoll/R/findOutliers.R:48-89) as a rolling exact
    median window frame + a lag() run-start counter."""
    ev = _evw(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    med = F.percentile("value", F.lit(0.5)).over(base.rowsBetween(-2, 2))
    is_out = F.when(F.abs(F.col("value") - med) > 100, 1).otherwise(0)
    d = ev.withColumn("is_out", is_out)
    d = d.withColumn("prev_out", F.lag("is_out", 1, 0).over(base))
    return d.groupBy("user_id").agg(
        F.sum("is_out").alias("n_outliers"),
        F.sum(
            F.when((F.col("is_out") == 1) & (F.col("prev_out") == 0), 1)
            .otherwise(0)
        ).alias("num_spikes"),
    )


@qdef(
    "argmax_peak",
    """
    SELECT user_id,
           arg_max(event_id, value) AS peak_event,
           round(max(value), 6) AS peak_value
    FROM events GROUP BY user_id
    """,
)
def q_argmax_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax — 'time of max STALTA' (STALTAMetric.R:78-79), peak-lag
    (crossCorrelationMetric.R:152-153) — as the built-in max_by aggregate
    (no self-join, no window). Max values are unique per key in the fixture,
    so the tie-free result is deterministic."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", "value").alias("peak_event"),
        r6(F.max("value")).alias("peak_value"),
    )


# ===========================================================================
# §2.4 regression / model-table aggregations
# ===========================================================================


@qdef(
    "ols_resid",
    """
    WITH p AS (
      SELECT l_returnflag,
             CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                  THEN l_quantity END AS x,
             CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                  THEN l_extendedprice END AS y
      FROM lineitem
    ), a AS (
      SELECT l_returnflag,
             count(x) AS np,
             CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,9))) AS DOUBLE) AS syy,
             CAST(sum(CAST(x * y AS DECIMAL(38,9))) AS DOUBLE) AS sxy
      FROM p GROUP BY l_returnflag
    ), v AS (
      SELECT l_returnflag, np,
             sx / CAST(np AS DOUBLE) AS mx,
             sy / CAST(np AS DOUBLE) AS my,
             sxx / CAST(np AS DOUBLE)
               - (sx / CAST(np AS DOUBLE)) * (sx / CAST(np AS DOUBLE)) AS vx,
             syy / CAST(np AS DOUBLE)
               - (sy / CAST(np AS DOUBLE)) * (sy / CAST(np AS DOUBLE)) AS vy,
             sxy / CAST(np AS DOUBLE)
               - (sx / CAST(np AS DOUBLE)) * (sy / CAST(np AS DOUBLE)) AS cxy
      FROM a
    ), s AS (
      SELECT l_returnflag, np, mx, my, vx, vy, cxy,
             CASE WHEN np > 0 AND vx > 0 THEN cxy / vx END AS slope
      FROM v
    ), r AS (
      SELECT l_returnflag, slope,
             my - slope * mx AS intercept,
             CASE WHEN slope IS NOT NULL
                  THEN vy - slope * cxy END AS rvar
      FROM s
    )
    SELECT l_returnflag,
           round(slope, 6) AS slope,
           round(intercept, 6) AS intercept,
           round(sqrt(CASE WHEN rvar < 0 THEN 0 ELSE rvar END), 6)
             AS resid_std
    FROM r
    """,
)
def q_ols_resid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dead_channel_lin (IRISMustangMetrics/R/PSDMetric.R:186-190: stddev of
    OLS-fit residuals) in closed form — single-pass algebraic aggregates
    over decimal sums of x, y, x*x, y*y, x*y (dsum) with the identical
    expression shape in the oracle: slope = cov/var(x),
    intercept = mean(y) - slope*mean(x), residual variance
    = var(y) - slope*cov (algebraically var(y)*(1-corr^2)). The built-in
    regr_slope/corr central-moment merges are accumulation-order-dependent
    and can flip round(,6) at a boundary between engines (the psd_windows
    fuzz finding, applied to the second-moment class). Pair semantics match
    regr_*: rows where either side is NULL are excluded from every sum."""
    li = t(spark, sf_dir, "lineitem")
    both = F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    x, y = F.col("x"), F.col("y")
    npd = F.col("np").cast("double")
    return (
        li.select(
            "l_returnflag",
            F.when(both, F.col("l_quantity")).alias("x"),
            F.when(both, F.col("l_extendedprice")).alias("y"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("x").alias("np"),
            dsum(x).alias("sx"),
            dsum(y).alias("sy"),
            dsum(x * x).alias("sxx"),
            dsum(y * y).alias("syy"),
            dsum(x * y).alias("sxy"),
        )
        .withColumn("mx", F.col("sx") / npd)
        .withColumn("my", F.col("sy") / npd)
        .withColumn(
            "vx",
            F.col("sxx") / npd - (F.col("sx") / npd) * (F.col("sx") / npd),
        )
        .withColumn(
            "vy",
            F.col("syy") / npd - (F.col("sy") / npd) * (F.col("sy") / npd),
        )
        .withColumn(
            "cxy",
            F.col("sxy") / npd - (F.col("sx") / npd) * (F.col("sy") / npd),
        )
        .withColumn(
            "slope",
            F.when((F.col("np") > 0) & (F.col("vx") > 0), F.col("cxy") / F.col("vx")),
        )
        .withColumn("intercept", F.col("my") - F.col("slope") * F.col("mx"))
        .withColumn(
            "rvar",
            F.when(
                F.col("slope").isNotNull(),
                F.col("vy") - F.col("slope") * F.col("cxy"),
            ),
        )
        .select(
            "l_returnflag",
            r6("slope").alias("slope"),
            r6("intercept").alias("intercept"),
            r6(
                F.sqrt(
                    F.when(F.col("rvar") < 0, F.lit(0.0)).otherwise(F.col("rvar"))
                )
            ).alias("resid_std"),
        )
    )


_MODEL_ROWS = [(0, 6, 40.0), (6, 12, 55.0), (12, 18, 60.0), (18, 24, 45.0)]
_MODEL_SQL = ", ".join(f"({lo}, {hi}, {lv})" for lo, hi, lv in _MODEL_ROWS)


@qdef(
    "piecewise_model",
    f"""
    WITH model(lo, hi, level) AS (VALUES {_MODEL_SQL})
    SELECT e.event_type,
           round(100.0 * avg(CASE WHEN e.value > m.level THEN 1.0 ELSE 0.0 END), 6)
             AS pct_above_model
    FROM events e
    JOIN model m ON extract(hour FROM e.ts) >= m.lo
                AND extract(hour FROM e.ts) < m.hi
    GROUP BY e.event_type
    """,
)
def q_piecewise_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSD ⋈ NLNM/NHNM noise-model comparison (IRISSeismic/R/
    spectralUtils.R:801-820; pct_above_nhnm psdStatistics :766-854): a
    broadcast range-join against a piecewise-constant literal table + a
    conditional average. The model table is a module constant shared
    verbatim with the oracle."""
    ev = _evw(spark, sf_dir)
    model = F.broadcast(
        spark.createDataFrame(_MODEL_ROWS, "lo INT, hi INT, level DOUBLE")
    )
    h = F.hour("ts")
    return (
        ev.join(model, (h >= F.col("lo")) & (h < F.col("hi")))
        .groupBy("event_type")
        .agg(
            r6(
                100.0
                * F.avg(F.when(F.col("value") > F.col("level"), 1.0).otherwise(0.0))
            ).alias("pct_above_model")
        )
    )


@qdef(
    "cube_totals",
    """
    SELECT event_type,
           CAST(extract(month FROM ts) AS BIGINT) AS m,
           count(*) AS n,
           -- decimal sum: order-independent at every grouping-set level
           round(CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE), 6)
             AS sum_value
    FROM events
    GROUP BY CUBE (event_type, m)
    """,
)
def q_cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional CUBE report (extends the rollup_periods grouping-sets
    family; the reference emits per-channel, per-month, and grand-total rows
    from separate R passes over the metrics frame, `ispaq/utils.py:119-147`).

    NOT Spark's .cube(): all four grouping sets are derived from ONE
    finest-grain aggregate. Two reasons. (1) Empty-day standard
    compliance: Spark's Expand-based CUBE emits ZERO rows on empty input,
    where the SQL standard (and DuckDB) emit the () grand-total row with
    count 0 — a production empty day would silently drop its rollup row
    (found by the zero-row fixture sweep). A global .agg() always emits
    one row, so the derived form matches the standard. (2) Scale: Expand
    multiplies EVERY input row x4 through the exchange; here the full
    fact stream shuffles once at (event_type, m) grain and the coarser
    sets re-aggregate the tiny grouped result."""
    ev = t(spark, sf_dir, "events").withColumn(
        "m", F.month("ts").cast("bigint")
    )
    # _s stays DECIMAL through the re-aggregation: decimal addition is
    # exact and associative, so every grouping-set level is independent of
    # accumulation order (see dsum); cast to double only at emission
    per = ev.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast("decimal(38,9)")).alias("_s"),
    )

    def roll(keys: list[str]) -> DataFrame:
        g = per.groupBy(*keys) if keys else per.groupBy()
        out = g.agg(
            F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("n"),
            r6(F.sum("_s").cast("double")).alias("sum_value"),
        )
        if "event_type" not in keys:
            out = out.withColumn(
                "event_type", F.lit(None).cast("string")
            )
        if "m" not in keys:
            out = out.withColumn("m", F.lit(None).cast("bigint"))
        return out.select("event_type", "m", "n", "sum_value")

    return (
        roll(["event_type", "m"])
        .unionByName(roll(["event_type"]))
        .unionByName(roll(["m"]))
        .unionByName(roll([]))
    )


@qdef(
    "state_flags",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           -- decimal-sum mean: accumulation-order-independent (see dsum)
           round(CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE)
                 / count(value), 6) AS avg_value
    FROM events GROUP BY user_id
    """,
)
def q_state_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stateOfHealth flag-counter pass-through + timing-quality mean
    (IRISMustangMetrics/R/stateOfHealthMetric.R:25-105: 15 flag counts +
    avg) as a pivot over a fixed category list + avg — one hash aggregate,
    no shuffle per flag."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = t(spark, sf_dir, "events")
    counts = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    for ty in types:
        counts = counts.withColumnRenamed(ty, f"n_{ty}").withColumn(
            f"n_{ty}", F.coalesce(F.col(f"n_{ty}"), F.lit(0))
        )
    avgv = ev.groupBy("user_id").agg(r6(davg("value")).alias("avg_value"))
    return counts.join(avgv, "user_id")


@qdef(
    "rollup_periods",
    """
    SELECT coalesce(strftime(date_trunc('month', l_shipdate), '%Y-%m'), 'ALL')
             AS period,
           count(*) AS n,
           round(sum(l_quantity), 6) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(date_trunc('month', l_shipdate))
    """,
)
def q_rollup_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daily + aggregated PDF intervals (ispaq/PSD_metrics.py:337-365 runs
    the same aggregation at two granularities) — grouping sets
    ((month), ()) derived from one per-month aggregate, NOT .rollup():
    Spark's Expand-based ROLLUP emits zero rows on an empty day where
    the SQL standard (and the DuckDB oracle) emit the grand-total row
    with count 0 (zero-row fixture finding; see q_cube_totals). The
    fact stream shuffles once at month grain; the total re-aggregates
    the months-sized result."""
    li = t(spark, sf_dir, "lineitem")
    month = F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM")
    per = (
        li.withColumn("period_m", month)
        .groupBy("period_m")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("l_quantity").alias("_s"),
        )
    )
    months = per.select(
        F.coalesce("period_m", F.lit("ALL")).alias("period"),
        F.col("_n").alias("n"),
        r6(F.col("_s")).alias("sum_qty"),
    )
    total = per.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("n"),
        r6(F.sum("_s")).alias("sum_qty"),
    ).select(F.lit("ALL").alias("period"), "n", "sum_qty")
    return months.unionByName(total)


# ===========================================================================
# §2.2 predicate surfaces: glob subset, epoch overlap
# ===========================================================================


def glob_to_regex(glob: str) -> str:
    """SNCL glob -> regex (ispaq/concierge.py:888-894: `*`->`.*`, `?`->`.`,
    anchored)."""
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in ".^$+{}[]()|\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"


_GLOBS = ("P*O", "?CONOMY")
_GLOB_RE = "|".join(f"({glob_to_regex(g)})" for g in _GLOBS)


@qdef(
    "glob_subset",
    f"""
    SELECT p_type, p_brand, count(*) AS n
    FROM part
    WHERE regexp_matches(p_type, '{_GLOB_RE}')
    GROUP BY p_type, p_brand
    """,
)
def q_glob_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNCL glob -> regex target subsetting (ispaq/concierge.py:888-894) —
    the translated pattern is a module constant shared with the oracle, and
    the rlike predicate is pushed into the scan by Catalyst."""
    p = t(spark, sf_dir, "part")
    return (
        p.where(F.col("p_type").rlike(_GLOB_RE))
        .groupBy("p_type", "p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@qdef(
    "epoch_overlap",
    """
    SELECT o_orderpriority, count(*) AS n_overlapping
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-03-01'
      AND o_orderdate + INTERVAL 30 DAY > TIMESTAMP '1996-01-01'
    GROUP BY o_orderpriority
    """,
)
def q_epoch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time-range epoch filter (ispaq/concierge.py:771-777: keep rows iff
    starttime < end AND endtime > start — there a mutating iterrows loop,
    here one sargable predicate)."""
    o = t(spark, sf_dir, "orders")
    start = F.col("o_orderdate")
    end = start + F.expr("INTERVAL 30 DAYS")
    return (
        o.where(
            (start < F.lit("1996-03-01").cast("timestamp"))
            & (end > F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_overlapping"))
    )


# ===========================================================================
# §2.3 remaining join shapes: geo-radius theta join, SNR event windows,
# idempotent upsert merge
# ===========================================================================


_GEO_RADIUS_ORACLE = """
    WITH s AS (
      SELECT s_suppkey,
             (s_suppkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
             (s_suppkey * 104729 % 36000) / 100.0 - 180.0 AS lon
      FROM supplier
    ), c AS (
      SELECT c_custkey,
             (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
             (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
      FROM customer
    )
    SELECT s.s_suppkey, count(*) AS n_within
    FROM s JOIN c
      ON degrees(acos(least(1.0, greatest(-1.0,
           sin(radians(s.lat)) * sin(radians(c.lat))
           + cos(radians(s.lat)) * cos(radians(c.lat))
             * cos(radians(s.lon - c.lon)))))) <= 20.0
    GROUP BY s.s_suppkey
    """


@qdef("geo_radius", _GEO_RADIUS_ORACLE)
def q_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ⋈ availability geo-radius theta join (ispaq/concierge.py:
    954-980: stations within [minradius,maxradius] degrees of the epicenter;
    callers SNR_metrics.py:106-108). Coordinates are derived
    deterministically from the keys.

    SIZE CONTRACT: this form is a deliberate broadcast nested-loop and is
    correct ONLY while BOTH sides are dimension-sized (station/epicenter
    catalogs — thousands to low millions of rows; the broadcast side must
    fit the autoBroadcastJoinThreshold). It must never be pointed at a
    fact table: the NLJ evaluates every pair. The fact-scale form is
    `geo_radius_banded` below — a lat-band equi-join with the same
    results — and a plan gate (tests/test_plans.py) pins this one to
    BroadcastNestedLoopJoin so a silent fallback to a cartesian product
    can't land."""
    sup = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919 % 18000) / 100.0 - 90.0).alias("slat"),
        ((F.col("s_suppkey") * 104729 % 36000) / 100.0 - 180.0).alias("slon"),
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("clat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("clon"),
    )
    central = F.degrees(
        F.acos(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(-1.0),
                    F.sin(F.radians("slat")) * F.sin(F.radians("clat"))
                    + F.cos(F.radians("slat"))
                    * F.cos(F.radians("clat"))
                    * F.cos(F.radians(F.col("slon") - F.col("clon"))),
                ),
            )
        )
    )
    # |Δlat| <= radius is a necessary condition for central angle <= radius:
    # the cheap comparison short-circuits the trig for ~2/3 of pairs. (With
    # fact-sized sides this would instead become a banded equi-join on
    # floor(lat/radius) ±1 so the pairs never materialize.)
    cond = (F.abs(F.col("slat") - F.col("clat")) <= 20.0) & (central <= 20.0)
    return (
        F.broadcast(sup)
        .join(cust, cond)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_within"))
    )


# Density dial for the banded geo join: the largest per-band customer
# sample evaluated exactly. Below the cap (every oracle/fixture scale —
# sf0.01's hottest band holds 168 customers) the lottery keeps EVERYTHING
# (p = 1) and the query is exact; above it, each band is thinned to ~CAP
# rows by a deterministic hash lottery and the per-band matches are
# Horvitz-Thompson scaled back up (weight = band_total / band_kept), so
# join work stays LINEAR in supplier count as corpus density grows while
# the true within-radius pair count grows quadratically. Relative SE per
# supplier ≈ 1/sqrt(matched_sampled); at 10x bench density that is ~5%.
_GEO_BAND_CAP = 600
_GEO_LOTTERY_M = 1_000_000  # lottery resolution


def _geo_banded_count(
    sup: DataFrame,
    cust: DataFrame,
    radius_deg: float = 20.0,
    cap: int = _GEO_BAND_CAP,
) -> DataFrame:
    """Latitude-band equi-join great-circle radius count with the
    density-capped estimator described above. `sup` needs columns
    (s_suppkey, slat, slon); `cust` (c_custkey, clat, clon). Exact when no
    band exceeds `cap`; a deterministic stratified estimate otherwise."""
    band = F.lit(float(radius_deg))
    sup = sup.select(
        "*",
        F.explode(
            F.array(
                F.floor(F.col("slat") / band) - 1,
                F.floor(F.col("slat") / band),
                F.floor(F.col("slat") / band) + 1,
            )
        ).alias("band"),
    )
    cust = cust.withColumn("band", F.floor(F.col("clat") / band))
    # Band stats are |bands| rows (a handful) — broadcast both ways. The
    # lottery threshold is ceil'd so a capped band can't round to p = 0.
    tot = cust.groupBy("band").agg(F.count(F.lit(1)).alias("n_tot"))
    thr = tot.withColumn(
        "thr",
        F.when(
            F.col("n_tot") <= cap, F.lit(_GEO_LOTTERY_M)
        ).otherwise(
            F.ceil(F.lit(_GEO_LOTTERY_M) * F.lit(cap) / F.col("n_tot"))
        ),
    )
    kept = (
        cust.join(F.broadcast(thr), "band")
        .where(
            F.pmod(F.xxhash64("c_custkey"), F.lit(_GEO_LOTTERY_M))
            < F.col("thr")
        )
        .drop("thr")
    )
    # n_kept as a window count, not a separate aggregate re-joined back:
    # `kept` is an uncached plan (cust scan + broadcast-thr join + hash
    # filter) and a groupBy+join would EXECUTE it twice — two full
    # customer scans. The window computes it in one pass, and its
    # per-band partitions are bounded by the lottery cap (~`cap` rows),
    # so the band shuffle cannot skew.
    kept = kept.withColumn(
        "w",
        F.col("n_tot")
        / F.count(F.lit(1)).over(Window.partitionBy("band")),
    )
    central = F.degrees(
        F.acos(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(-1.0),
                    F.sin(F.radians("slat")) * F.sin(F.radians("clat"))
                    + F.cos(F.radians("slat"))
                    * F.cos(F.radians("clat"))
                    * F.cos(F.radians(F.col("slon") - F.col("clon"))),
                ),
            )
        )
    )
    return (
        sup.hint("shuffle_hash")
        .join(kept, "band")
        .where(
            (F.abs(F.col("slat") - F.col("clat")) <= band) & (central <= band)
        )
        .groupBy("s_suppkey")
        .agg(F.round(F.sum("w")).cast("bigint").alias("n_within"))
    )


@qdef("geo_radius_banded", _GEO_RADIUS_ORACLE)
def q_geo_radius_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-scale form of `geo_radius`: the same great-circle radius query
    (ispaq/concierge.py:954-980) expressed as a latitude-band EQUI-join so
    neither side needs to broadcast and no pair outside adjacent bands is
    ever materialized.

    A central angle <= R degrees requires |Δlat| <= R, so with band width
    R=20° a matching pair's bands differ by at most 1. Each "station" row
    is exploded to its 3 candidate bands (3× a dimension-or-fact table —
    bounded, map-side), then an equi-join on the band key shuffles both
    sides by band and the exact great-circle predicate filters within each
    band. The plan is a plain shuffled equi-join + partial-agg count:
    survives both sides fact-sized, and AQE can skew-split hot bands
    (equatorial pileups). Shares `geo_radius`'s oracle — identical output.

    DENSITY DIAL (see `_geo_banded_count`): with a FIXED radius, a k×
    denser corpus has k² more true within-radius pairs — no exact
    algorithm's work can grow slower than its answer, so at high density
    the customer side of each band is thinned to ~`_GEO_BAND_CAP` rows by
    a deterministic hash lottery and matches are stratified-scaled back
    (weight = band_total/band_kept). Below the cap the lottery keeps all
    rows and the result is EXACT — every oracle fixture runs in that
    regime; the 10x scale-tail runs in the estimator regime with join
    work linear in suppliers. tests/test_round3_ops.py pins both regimes.
    """
    sup = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919 % 18000) / 100.0 - 90.0).alias("slat"),
        ((F.col("s_suppkey") * 104729 % 36000) / 100.0 - 180.0).alias("slon"),
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("clat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("clon"),
    )
    return _geo_banded_count(sup, cust)


@qdef(
    "snr_window",
    """
    WITH j AS (
      SELECT e1.event_id,
             CASE WHEN e2.ts < e1.ts THEN e2.value END AS pre,
             CASE WHEN e2.ts > e1.ts THEN e2.value END AS post
      FROM events e1 JOIN events e2
        ON e1.user_id = e2.user_id
       AND e2.ts >= e1.ts - INTERVAL 3 DAY
       AND e2.ts <= e1.ts + INTERVAL 3 DAY
       AND e2.event_id <> e1.event_id
      WHERE e1.event_type = 'error'
    ), a AS (
      SELECT event_id,
             count(pre) AS npre,
             count(post) AS npost,
             CAST(sum(CAST(pre AS DECIMAL(38,9))) AS DOUBLE) AS s1,
             CAST(sum(CAST(pre * pre AS DECIMAL(38,9))) AS DOUBLE) AS s2,
             CAST(sum(CAST(post AS DECIMAL(38,9))) AS DOUBLE) AS t1,
             CAST(sum(CAST(post * post AS DECIMAL(38,9))) AS DOUBLE) AS t2
      FROM j GROUP BY event_id
    ), v AS (
      SELECT event_id, npre, npost,
             s2 / CAST(npre AS DOUBLE)
               - (s1 / CAST(npre AS DOUBLE)) * (s1 / CAST(npre AS DOUBLE))
               AS vpre,
             t2 / CAST(npost AS DOUBLE)
               - (t1 / CAST(npost AS DOUBLE)) * (t1 / CAST(npost AS DOUBLE))
               AS vpost
      FROM a WHERE npre >= 2 AND npost >= 2
    ), s AS (
      SELECT event_id,
             sqrt(CASE WHEN vpre < 0 THEN 0 ELSE vpre END) AS sdpre,
             sqrt(CASE WHEN vpost < 0 THEN 0 ELSE vpost END) AS sdpost
      FROM v
    )
    SELECT event_id, round(sdpost / sdpre, 6) AS snr
    FROM s WHERE sdpre > 0
    """,
)
def q_snr_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_snr (IRISMustangMetrics/R/SNRMetric.R:28-91: rmsVariance of the
    signal half over rmsVariance of the noise half of an event-centered
    window; window placement SNR_metrics.py:156-209) as an interval self-join
    + two conditional population stddevs in closed form over decimal sums
    (dsum of v and v*v per half) with the identical expression shape in the
    oracle — the built-in stddev_pop's central-moment merge is accumulation-
    order-dependent, so it can differ by 1 ulp between engines and flip
    round(,6) at a boundary (the psd_windows fuzz finding, applied to the
    second-moment class)."""
    ev = _evw(spark, sf_dir)
    e1 = ev.where(F.col("event_type") == "error").alias("e1")
    e2 = ev.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") >= F.col("e1.ts") - F.expr("INTERVAL 3 DAYS"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 3 DAYS"))
        & (F.col("e2.event_id") != F.col("e1.event_id"))
    )
    pre, post = F.col("pre"), F.col("post")
    npre_d = F.col("npre").cast("double")
    npost_d = F.col("npost").cast("double")
    vpre = F.col("s2") / npre_d - (F.col("s1") / npre_d) * (F.col("s1") / npre_d)
    vpost = (
        F.col("t2") / npost_d - (F.col("t1") / npost_d) * (F.col("t1") / npost_d)
    )
    return (
        e1.join(e2, cond)
        .select(
            F.col("e1.event_id").alias("event_id"),
            F.when(F.col("e2.ts") < F.col("e1.ts"), F.col("e2.value")).alias(
                "pre"
            ),
            F.when(F.col("e2.ts") > F.col("e1.ts"), F.col("e2.value")).alias(
                "post"
            ),
        )
        .groupBy("event_id")
        .agg(
            F.count(pre).alias("npre"),
            F.count(post).alias("npost"),
            dsum(pre).alias("s1"),
            dsum(pre * pre).alias("s2"),
            dsum(post).alias("t1"),
            dsum(post * post).alias("t2"),
        )
        .where((F.col("npre") >= 2) & (F.col("npost") >= 2))
        .withColumn("vpre", vpre)
        .withColumn("vpost", vpost)
        .withColumn(
            "sdpre",
            F.sqrt(F.when(F.col("vpre") < 0, F.lit(0.0)).otherwise(F.col("vpre"))),
        )
        .withColumn(
            "sdpost",
            F.sqrt(
                F.when(F.col("vpost") < 0, F.lit(0.0)).otherwise(F.col("vpost"))
            ),
        )
        .where(F.col("sdpre") > 0)
        .select("event_id", r6(F.col("sdpost") / F.col("sdpre")).alias("snr"))
    )


@qdef(
    "merge_upsert",
    """
    WITH run1 AS (
      SELECT o_orderpriority, CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
             count(*) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,9))) AS DOUBLE), 6)
               AS total
      FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    ), run2 AS (
      SELECT o_orderpriority, CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
             count(*) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,9))) AS DOUBLE), 6)
               AS total
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    )
    SELECT coalesce(r2.o_orderpriority, r1.o_orderpriority) AS o_orderpriority,
           coalesce(r2.yr, r1.yr) AS yr,
           coalesce(r2.n, r1.n) AS n,
           coalesce(r2.total, r1.total) AS total
    FROM run1 r1 FULL OUTER JOIN run2 r2
      ON r1.o_orderpriority = r2.o_orderpriority AND r1.yr = r2.yr
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idempotent-rerun upsert (ispaq/utils.py:157-272: SQLite
    `INSERT ... ON CONFLICT(target,start,end) DO UPDATE`) as a keyed MERGE:
    full-outer join of the existing and new runs with new-wins coalesce —
    the relational core of Iceberg MERGE INTO. Overlapping 1997-1998 keys
    are recomputed identically, so the rerun is a no-op on them."""
    o = t(spark, sf_dir, "orders")

    def agg_run(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority",
            F.year("o_orderdate").cast("bigint").alias("yr"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: order-independent (see dsum)
            r6(dsum("o_totalprice")).alias("total"),
        )

    r1 = agg_run(o.where(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))).alias("r1")
    r2 = agg_run(o.where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))).alias("r2")
    return r1.join(
        r2,
        (F.col("r1.o_orderpriority") == F.col("r2.o_orderpriority"))
        & (F.col("r1.yr") == F.col("r2.yr")),
        "full_outer",
    ).select(
        F.coalesce("r2.o_orderpriority", "r1.o_orderpriority").alias(
            "o_orderpriority"
        ),
        F.coalesce("r2.yr", "r1.yr").alias("yr"),
        F.coalesce("r2.n", "r1.n").alias("n"),
        F.coalesce("r2.total", "r1.total").alias("total"),
    )


# ===========================================================================
# Similarity search, continued: embedding near-dup + IVF-style ANN
# ===========================================================================


def _cos_cols(lhs: str, rhs: str) -> F.Column:
    """Cosine over two array columns, JVM-side. CONTRACT: every similarity
    query excludes zero-norm vectors AT THE SCAN (exists(x != 0), SQL twin
    len(list_filter(...)) > 0) — a zero vector has no direction, and at
    10^12 docs empty documents DO produce them; under Spark's default ANSI
    mode the norm division then kills the whole job with DIVIDE_BY_ZERO
    while DuckDB yields NaN, so exclusion is the only cross-engine-stable
    semantics. Found by the hostile fixture (round 5)."""
    dot = F.aggregate(
        F.zip_with(lhs, rhs, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nl = F.sqrt(
        F.aggregate(
            F.zip_with(lhs, lhs, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nr = F.sqrt(
        F.aggregate(
            F.zip_with(rhs, rhs, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (nl * nr)


@qdef(
    "ivf_topk",
    """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      WHERE len(list_filter(embedding, x -> x <> 0)) > 0
    ), q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cent AS (
      SELECT label, i, avg(v[i]) AS c
      FROM e CROSS JOIN range(1, 65) t(i) GROUP BY label, i
    ), qpos AS (
      SELECT i, qv[i] AS qx FROM q CROSS JOIN range(1, 65) t(i)
    ), lc AS (
      SELECT label,
             sum(c * qx) / (sqrt(sum(c * c)) * sqrt(sum(qx * qx))) AS ccos
      FROM cent JOIN qpos USING (i) GROUP BY label
    ), top AS (
      -- probe selection on the 6dp-ROUNDED centroid cosine: ccos comes
      -- from avg() aggregates whose accumulation order differs per
      -- engine, so a raw near-tie could flip the probe set entirely
      SELECT label FROM lc ORDER BY round(ccos, 6) DESC, label ASC LIMIT 2
    ), s AS (
      SELECT a.vec_id,
             round(list_sum(list_transform(range(1, 65), i -> a.v[i] * q.qv[i]))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))),
               6) AS cos
      FROM e a JOIN top USING (label) CROSS JOIN q
      WHERE a.vec_id <> 0
    )
    SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label centroids (computed
    relationally via posexplode + hash agg), probe the 2 closest centroids,
    brute-force only inside those lists. At 10^12 scale the centroid table
    is broadcast and the fact side is pruned to the probed buckets before
    any distance math."""
    e = t(spark, sf_dir, "embeddings").where(
        F.exists("embedding", lambda x: x != F.lit(0.0))
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where("vec_id = 0").select(F.col("v").alias("qv"))
    cent = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
    )
    qpos = q.select(F.posexplode("qv").alias("i", "qx"))
    lc = (
        cent.join(F.broadcast(qpos), "i")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("c") * F.col("qx"))
                / (
                    F.sqrt(F.sum(F.col("c") * F.col("c")))
                    * F.sqrt(F.sum(F.col("qx") * F.col("qx")))
                )
            ).alias("ccos")
        )
    )
    # round-before-argmax: centroid cosines derive from avg() partials
    # whose accumulation order is engine- and partitioning-dependent; the
    # probe cut must order on the same 6dp value both engines emit
    top = lc.orderBy(r6("ccos").desc(), F.col("label").asc()).limit(2)
    a = e.alias("a")
    cos = _cos_cols("a.v", "qv")
    return (
        a.join(F.broadcast(top.select("label")), "label")
        .where("vec_id <> 0")
        .crossJoin(F.broadcast(q))
        .select("vec_id", r6(cos).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )


_LSH_SQL_BANDS = """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, list_distinct(grams) AS gset,
             {mh_cols}
      FROM g
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.gset AS ga, b.gset AS gb
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
    )
    SELECT doc_a, doc_b,
           round(len(list_filter(ga, x -> list_contains(gb, x)))
                 / (len(ga) + len(gb)
                    - len(list_filter(ga, x -> list_contains(gb, x)))),
                 6) AS jaccard
    FROM cand
    WHERE len(list_filter(ga, x -> list_contains(gb, x)))
          / (len(ga) + len(gb)
             - len(list_filter(ga, x -> list_contains(gb, x)))) >= 0.5
"""


def _scored_candidates(docs: DataFrame, sets: F.Column) -> DataFrame:
    """(doc_a < doc_b) pairs sharing a MinHash band bucket — the library's
    signatures and candidate generator, whose shuffle carries band keys
    and ids, never documents — with each member's `sets` value as sa/sb
    for a verify kernel. Only candidate pairs touch the sets."""
    cand = lsh_candidate_pairs(minhash_signatures(docs)).toDF("doc_a", "doc_b")
    s = docs.select("doc_id", sets.alias("s"))
    sa = s.toDF("doc_a", "sa")
    sb = s.toDF("doc_b", "sb")
    return cand.join(sa, "doc_a").join(sb, "doc_b")


@qdef("minhash_lsh_neardup", _LSH_SQL_BANDS.format(mh_cols=_minhash_sql_cols()))
def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: shingle -> 4 minhashes ->
    2 bands of 2 rows -> band-bucket candidates -> exact 3-gram-set
    Jaccard verify >= 0.5. The oracle states the same candidate set as an
    OR-join."""
    docs = t(spark, sf_dir, "documents")
    grams = F.array_distinct(shingles_of(F.split("text", " "), 3))
    jac = jaccard(F.col("sa"), F.col("sb"))
    return (
        _scored_candidates(docs, grams)
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", r6(jac).alias("jaccard"))
    )


# ===========================================================================
# §2.9 cogrouped two-stream UDF (apply_correlation_metric surface)
# ===========================================================================


_XCORR_ORACLE = """
    WITH e AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS ev
      FROM events WHERE event_type = 'error' GROUP BY user_id
    ), c AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS cv
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ), j AS (
      SELECT e.user_id, ev, cv, len(ev) AS le, len(cv) AS lc
      FROM e JOIN c USING (user_id)
    ), lags AS (SELECT unnest([-2, -1, 0, 1, 2]) AS lag),
    sl AS (
      SELECT user_id, lag, ev, cv,
             greatest(1, 1 - lag) AS lox,
             least(le, lc - lag) AS hix
      FROM j CROSS JOIN lags
    ), p AS (
      SELECT user_id, lag,
             CAST(hix - lox + 1 AS INT) AS n,
             ev[lox:hix] AS x,
             cv[lox + lag:hix + lag] AS y
      FROM sl WHERE hix - lox + 1 >= 4
    ), s AS (
      SELECT user_id, lag, n,
             list_sum(x) AS sx, list_sum(y) AS sy,
             list_sum(list_transform(x, v -> v * v)) AS sxx,
             list_sum(list_transform(y, v -> v * v)) AS syy,
             list_sum(list_transform(range(1, n + 1), i -> x[i] * y[i])) AS sxy
      FROM p
    ), r AS (
      SELECT user_id, lag, n,
             (n * sxy - sx * sy)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
      FROM s
      WHERE sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
    ), b AS (
      SELECT user_id, lag, corr, n,
             -- argmax on the 6dp-ROUNDED r (round-before-argmax):
             -- numpy's pairwise sums and list_sum's sequential sums can
             -- differ in the last ulp, flipping a tied-lag pick
             row_number() OVER (PARTITION BY user_id
                                ORDER BY round(corr, 6) DESC, lag ASC) AS rn
      FROM r
    )
    SELECT user_id, CAST(lag AS INT) AS best_lag,
           round(corr, 6) AS peak_corr, n AS n_pairs
    FROM b WHERE rn = 1
    """


def _event_stream(spark: SparkSession, sf_dir: str, evt: str) -> DataFrame:
    """(user_id, ts, event_id, value) of one event type. Each call is its
    own scan: a self-cogroup from a shared scan makes both sides carry the
    same expression IDs, and Spark's attribute dedup then prunes the right
    frame down to the key column."""
    return (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == evt)
        .select("user_id", "ts", "event_id", "value")
    )


def _xcorr_sides(spark: SparkSession, sf_dir: str):
    return (
        _event_stream(spark, sf_dir, "error"),
        _event_stream(spark, sf_dir, "click"),
    )


@qdef("cogroup_xcorr", _XCORR_ORACLE)
def q_cogroup_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """polarity_check two-stream peak cross-correlation
    (IRISMustangMetrics/R/crossCorrelationMetric.R:46-161, dispatched via
    apply_correlation_metric ispaq/irismustangmetrics.py:160-187) as a
    cogrouped applyInPandas: one Arrow batch per user carries both series;
    Pearson r over index lags -2..2, one-pass sum formula shared with the
    oracle (operators/crosscorr.py)."""
    out = cogroup_xcorr(*_xcorr_sides(spark, sf_dir))
    return out.select(
        "user_id", "best_lag", r6(F.col("peak_corr")).alias("peak_corr"), "n_pairs"
    )


@qdef("xcorr_collected", _XCORR_ORACLE)
def q_xcorr_collected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same two-stream peak cross-correlation, batch-vectorized: JVM-side
    sort_array(collect_list) per side -> equi-join -> one scalar pandas UDF
    scoring thousands of keys per Arrow batch (operators/crosscorr.py
    collected_xcorr). Identical oracle, identical results."""
    out = collected_xcorr(*_xcorr_sides(spark, sf_dir))
    return out.select(
        "user_id", "best_lag", r6(F.col("peak_corr")).alias("peak_corr"), "n_pairs"
    )


# ===========================================================================
# Round-2 additions: as-of join, C4-style span dedup, near-dup clustering
# (iterative connected components), skew-salted aggregation, int8-quantized
# ANN.
# ===========================================================================


@qdef(
    "asof_join",
    """
    WITH errors AS (
      SELECT event_id, ts, user_id, value FROM events
      WHERE event_type = 'error'
    ), clicks AS (
      -- one row per (user_id, ts): ties on click timestamp resolve to the
      -- max-event_id click, the same rule the Spark window applies
      SELECT user_id, ts, max_by(value, event_id) AS value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    )
    SELECT e.event_id,
           e.user_id,
           round(e.value, 6)  AS error_value,
           c.ts               AS last_click_ts,
           round(c.value, 6)  AS last_click_value
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every 'error' event, the most recent 'click' by the
    same user at or before the error's timestamp (inclusive). Spark has no
    ASOF JOIN operator (the oracle uses DuckDB's native one); a range
    self-join plans as a broadcast-nested-loop or explodes per-key pairs.
    The scalable formulation used here is union + window: tag both streams,
    sort once per user, and carry the latest click forward with
    last_value(..., ignorenulls) — ONE shuffle on user_id, zero joins,
    linear in the event count regardless of how many clicks precede each
    error. Tie rule (shared with the oracle): among clicks with the same
    (user_id, ts), the max-event_id click wins — here because clicks sort
    by event_id ascending inside the frame and last() takes the latest;
    the oracle pre-reduces clicks with max_by(value, event_id). Grafts the
    reference's event-window association
    (ispaq/crossCorrelation_metrics.py:120-181: closest preceding arrival
    per event)."""
    ev = t(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("error", "click")).select(
        "event_id",
        "ts",
        "user_id",
        "value",
        (F.col("event_type") == "error").alias("is_err"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("c_ts"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("c_val"),
    )
    # Clicks sort before errors at an equal timestamp (is_err ascending:
    # false < true), matching ASOF's inclusive `e.ts >= c.ts` bound.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_err", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_click_ts", F.last("c_ts", ignorenulls=True).over(w))
        .withColumn("last_click_value", F.last("c_val", ignorenulls=True).over(w))
        .where("is_err")
        .select(
            "event_id",
            "user_id",
            r6("value").alias("error_value"),
            "last_click_ts",
            r6("last_click_value").alias("last_click_value"),
        )
    )


_CHUNK_W = 8  # words per dedup span (C4 uses three-sentence spans)


@qdef(
    "chunk_dedup",
    f"""
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL
    ), spans AS (
      -- two parallel unnests zip; the span STRINGS are built linearly
      -- per doc first, so the word array is never copied per span row
      SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / {_CHUNK_W}.0) AS BIGINT)))
               AS chunk_idx,
             unnest(list_transform(
               range(0, CAST(ceil(len(ws) / {_CHUNK_W}.0) AS BIGINT)),
               -- indexed element list, NOT a slice: DuckDB list
               -- SLICING inside a lambda copies O(len) per call
               -- (quadratic on a 10^6-token doc); an out-of-range
               -- INDEX is a NULL, filtered for the ragged tail
               c -> array_to_string(list_filter(
                 [ws[c * {_CHUNK_W} + 1], ws[c * {_CHUNK_W} + 2], ws[c * {_CHUNK_W} + 3], ws[c * {_CHUNK_W} + 4], ws[c * {_CHUNK_W} + 5], ws[c * {_CHUNK_W} + 6], ws[c * {_CHUNK_W} + 7], ws[c * {_CHUNK_W} + 8]],
                 x -> x IS NOT NULL), ' ')))
               AS chunk
      FROM w
    ), ranked AS (
      SELECT doc_id, chunk_idx, chunk,
             row_number() OVER (
               PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      FROM spans
    )
    SELECT doc_id,
           coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                      FILTER (WHERE rn = 1), '') AS clean_text,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS removed_chunks
    FROM ranked GROUP BY doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span removal: split each document into fixed
    8-word spans, keep only the globally FIRST occurrence of each span
    (ordered by doc_id, chunk_idx), and reassemble documents from their
    surviving spans. This is the corpus-level "remove repeated boilerplate"
    stage of web-text pipelines (C4 drops duplicate three-sentence spans).

    Scale shape: posexplode is map-side; the first-occurrence ranking
    window partitions by xxhash64(span) — 8 bytes per span on the wire
    instead of the span string (same semantics modulo 64-bit hash
    collisions, which the string-ranked oracle quantifies: identical
    results on every certified run). Span text crosses the wire exactly
    ONCE, in the unavoidable reassembly join: winners collapse to a
    per-doc (doc_id, keep_idx[], removed) row before rejoining the word
    arrays on doc_id. The lang-string-ranked form this replaces shuffled
    the full corpus text TWICE (rank exchange + reassembly).
    tests/test_plans.py gates the window exchange key to the hash column.
    No self-join, no quadratic term. Grafts the reference's
    duplicate-epoch pruning (ispaq/utils.py:404-431) lifted from metadata
    rows to content spans."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    n_chunks = F.ceil(F.size("ws") / F.lit(float(_CHUNK_W))).cast("int")
    spans = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("ws"), i * _CHUNK_W + 1, _CHUNK_W), " "
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    # Drop the span text BEFORE the ranking exchange: only the 8-byte hash
    # travels.
    idx = spans.select(
        "doc_id", "chunk_idx", F.xxhash64("chunk").alias("h")
    )
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    )
    per_doc = (
        idx.withColumn("rn", rn)
        .groupBy("doc_id")
        .agg(
            # collect_list drops the NULLs when() leaves for losers
            F.array_sort(
                F.collect_list(
                    F.when(F.col("rn") == 1, F.col("chunk_idx"))
                )
            ).alias("keep_idx"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("removed_chunks"),
        )
    )
    return words.join(per_doc, "doc_id").select(
        "doc_id",
        F.array_join(
            F.transform(
                F.col("keep_idx"),
                lambda i: F.array_join(
                    F.slice(F.col("ws"), i * _CHUNK_W + 1, _CHUNK_W), " "
                ),
            ),
            " ",
        ).alias("clean_text"),
        "removed_chunks",
    )


_SUB_W = 8  # sliding-gram width for exact-substring dedup


@qdef(
    "substring_dedup",
    f"""
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL
    ), gr AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(ws) - {_SUB_W - 1}, 0))) AS pos,
             unnest(list_transform(
               range(0, greatest(len(ws) - {_SUB_W - 1}, 0)),
               p -> ws[p + 1] || ' ' || ws[p + 2] || ' ' || ws[p + 3] || ' ' || ws[p + 4] || ' ' || ws[p + 5] || ' ' || ws[p + 6] || ' ' || ws[p + 7] || ' ' || ws[p + 8]))
               AS gram
      FROM w
    ), ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos)
               AS rn
      FROM gr
    ), cov AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {_SUB_W})) AS tp
      FROM ranked WHERE rn > 1
    ), toks AS (
      SELECT doc_id, unnest(range(0, len(ws))) AS i, unnest(ws) AS tok
      FROM w
    ), kept AS (
      SELECT t.doc_id, t.i, t.tok
      FROM toks t LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.tp = t.i
      WHERE cov.tp IS NULL
    ), clean AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text
      FROM kept GROUP BY doc_id
    ), nr AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
      FROM cov GROUP BY doc_id
    )
    SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
           COALESCE(nr.n_removed, 0)::BIGINT AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM w LEFT JOIN nr ON w.doc_id = nr.doc_id
    LEFT JOIN clean c ON w.doc_id = c.doc_id
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring removal, the suffix-array dedup of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed relationally: a token is removed iff it lies
    inside a >= 8-token substring that already occurred earlier in
    the corpus. The sliding 8-gram grid makes that exact — every
    token of an L >= 8 duplicated run is covered by some duplicated
    8-gram inside the run, and only such tokens are. Keep-first:
    the rank over (doc_id, pos) leaves the earliest copy intact. This is
    the stronger cousin of `chunk_dedup`'s fixed grid (which misses
    duplicates straddling chunk boundaries).

    Scale shape: grams explode map-side and are hashed to 8 bytes BEFORE
    the first-occurrence ranking shuffle (xxhash64, same collision caveat
    as `chunk_dedup` — the string-ranked oracle certifies the semantics);
    covered positions are (doc_id, int) pairs, <= 8 x duplicate
    occurrences; reassembly joins the removed-index SET back to the word
    arrays on doc_id, so document text crosses the wire exactly once.
    Suffix arrays need a global sort of every suffix — this form needs one
    hash shuffle of 8-byte keys and matches it for fixed minimum length."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = words.select(
        "doc_id",
        F.posexplode(
            F.coalesce(
                shingles_of(F.col("ws"), _SUB_W),
                F.array().cast("array<string>"),
            )
        ).alias("pos", "gram"),
    )
    idx = grams.select(
        "doc_id", "pos", F.xxhash64("gram").alias("h")
    )
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")
    )
    covered = (
        idx.withColumn("rn", rn)
        .where(F.col("rn") > 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pos").cast("bigint"),
                    (F.col("pos") + _SUB_W - 1).cast("bigint"),
                )
            ).alias("tp"),
        )
    )
    rem = covered.groupBy("doc_id").agg(
        F.collect_set("tp").alias("rem")
    )
    joined = words.join(rem, "doc_id", "left").withColumn(
        "rem",
        F.coalesce("rem", F.expr("CAST(array() AS array<bigint>)")),
    )
    idxs = F.sequence(
        F.lit(0).cast("bigint"), (F.size("ws") - 1).cast("bigint")
    )
    # linear ordered set-difference: filter+array_contains would cost
    # O(n_tokens * n_removed) per doc on boilerplate-heavy documents
    kept = F.array_except(idxs, F.col("rem"))
    return joined.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.size("rem").cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                kept,
                lambda i: F.element_at("ws", (i + 1).cast("int")),
            ),
            " ",
        ).alias("clean_text"),
    )


@qdef(
    "intradoc_dedup",
    """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL
    ), g AS (
      SELECT doc_id, ws,
             list_transform(range(0, greatest(len(ws) - 2, 0)),
                            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
               AS gs
      FROM w
    ), r AS (
      SELECT doc_id, ws,
             list_filter(range(0, len(gs)),
                         i -> list_position(gs, gs[i + 1]) != i + 1)
               AS repstarts
      FROM g
    ), x AS (
      SELECT doc_id, ws, repstarts,
             list_distinct(flatten(
               list_transform(repstarts, i -> range(i, i + 3)))) AS rem
      FROM r
    ), remx AS (
      SELECT doc_id, unnest(rem) AS t FROM x
    ), tok AS (
      SELECT doc_id, unnest(range(0, len(ws))) AS t, unnest(ws) AS tk
      FROM x
    ), kept AS (
      -- positional ANTI-join instead of list_contains(rem, t) per token:
      -- a fully-repetitive doc has |rem| ~ |ws|, and the per-token
      -- membership probe would be O(len^2)
      SELECT tok.doc_id, tok.t, tok.tk
      FROM tok LEFT JOIN remx
        ON remx.doc_id = tok.doc_id AND remx.t = tok.t
      WHERE remx.t IS NULL
    ), clean AS (
      SELECT doc_id, string_agg(tk, ' ' ORDER BY t) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT x.doc_id,
           CAST(len(x.ws) AS BIGINT) AS n_tokens,
           CAST(len(x.repstarts) AS BIGINT) AS n_repeat_grams,
           CAST(len(x.rem) AS BIGINT) AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM x LEFT JOIN clean c ON x.doc_id = c.doc_id
    """,
)
def q_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition removal — the removal companion to
    `dup_3gram`'s repetition SCORE (Gopher's dup_ngram_fraction): every
    token covered by a 3-gram whose first occurrence in the SAME document
    is earlier gets dropped, collapsing looping boilerplate (nav menus,
    keyword stuffing) while the first copy survives. Runs before
    corpus-level dedup in a real pipeline, so it's certified as its own
    stage.

    Scale shape: ZERO exchanges — the whole operator is per-row Catalyst
    array expressions (gate in tests/test_plans.py), so it composes into
    any stage without a barrier and scales embarrassingly. Per-doc cost is
    O(len²) from the first-occurrence array_position probe — bounded by
    the doc-length cap upstream quality filters enforce; for unbounded
    docs the same semantics hash-buckets inside one Arrow UDF. Grams are
    built with the closure-free zip_with shingler
    (operators/dedup.py::shingles_of) — the transform-with-slice form is
    O(len^2) when the optimizer inlines split(text) into the per-element
    lambda body (hostile-fixture finding). On a pure k-cycle document the
    array_position probes all hit within the first k elements, so even a
    10^6-token repetition bomb stays linear. Grafts the reference's
    within-trace repeat collapse (ispaq/utils.py:404-431 duplicate-row
    pruning) at token grain."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    g = words.withColumn(
        "gs",
        F.coalesce(
            shingles_of(F.col("ws"), 3), F.array().cast("array<string>")
        ),
    )
    # Self-guarding index sequence: on an empty gs, sequence(0, size-1)
    # would descend to [0,-1] and element_at(gs, 1) would throw, so the
    # empty case takes an empty-array branch INSIDE the expression —
    # correctness must not depend on Catalyst pushing the size(gs) > 0
    # filter below this projection.
    gidx = F.when(
        F.size("gs") > 0, F.sequence(F.lit(0), F.size("gs") - 1)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    r = g.withColumn(
        "repstarts",
        F.filter(
            gidx,
            lambda i: F.array_position(
                F.col("gs"), F.element_at("gs", i + 1)
            )
            != (i + 1).cast("bigint"),
        ),
    ).where(F.size("gs") > 0)
    # docs with < 3 tokens have no grams; those rows take the trivial
    # branch below.
    trivial = g.where(F.size("gs") == 0).select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.lit(0).cast("bigint").alias("n_repeat_grams"),
        F.lit(0).cast("bigint").alias("n_removed"),
        F.array_join("ws", " ").alias("clean_text"),
    )
    x = r.withColumn(
        "rem",
        F.array_distinct(
            F.flatten(
                F.transform(
                    "repstarts", lambda i: F.sequence(i, i + 2)
                )
            )
        ),
    )
    full = x.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.size("repstarts").cast("bigint").alias("n_repeat_grams"),
        F.size("rem").cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                # linear ordered set-difference (see substring_dedup)
                F.array_except(
                    F.sequence(F.lit(0), F.size("ws") - 1), F.col("rem")
                ),
                lambda t: F.element_at("ws", t + 1),
            ),
            " ",
        ).alias("clean_text"),
    )
    return full.unionByName(trivial)


_CC_JACCARD = 0.8  # near-dup edge threshold for component clustering


@qdef(
    "neardup_components",
    f"""
    WITH w AS (
      SELECT doc_id, source, lang, list_distinct(str_split(text, ' ')) AS ws
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM w a JOIN w b
        ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_filter(a.ws, x -> list_contains(b.ws, x)))
            / (len(a.ws) + len(b.ws)
               - len(list_filter(a.ws, x -> list_contains(b.ws, x))))
            >= {_CC_JACCARD}
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), nodes AS (SELECT DISTINCT a AS n FROM edges),
    walk AS (
      WITH RECURSIVE r(n, c) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.b, r.c FROM r JOIN edges e ON e.a = r.n WHERE r.c < e.b
      ) SELECT * FROM r
    )
    SELECT n AS doc_id, min(c) AS comp FROM walk GROUP BY n
    """,
)
def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING: connected components over the graph whose
    edges are doc pairs with word-set Jaccard >= 0.8 (blocked on
    (source, lang) at test scale; behind MinHash-LSH candidates at corpus
    scale). Each doc maps to its component's minimum doc_id, i.e. the
    canonical representative the dedup stage would keep: pairs alone
    over-remove (A~B, B~C must not drop both B and C).

    Algorithm: the library's large-star/small-star alternation
    (operators/components.py), converging in O(log d) rounds; the oracle
    is an exact recursive-CTE closure. Grafts the reference's channel-set
    grouping (ispaq/simple_metrics.py:103-151: targets grouped into
    equivalence classes before per-class metrics)."""
    pairs = (
        _blocked_jaccard(spark, sf_dir)
        .where(F.col("jaccard") >= _CC_JACCARD)
        .select("doc_a", "doc_b")
    )
    # Materialize the pair join once, then size the iteration's shuffle
    # width to the edge count: iterating a small edge table across the
    # session's full shuffle width spends more time scheduling empty tasks
    # than rewiring stars.
    edges = pairs.localCheckpoint(eager=True)
    n_edges = edges.count()
    parts = max(2, min(spark.sparkContext.defaultParallelism,
                       n_edges // 250_000 + 1))
    return alternating_star_components(
        edges, shuffle_partitions=parts
    ).toDF("doc_id", "comp")


@qdef(
    "salted_skew_agg",
    """
    SELECT source,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6)       AS mean_chars
    FROM documents GROUP BY source
    """,
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-phase aggregation: per-source doc counts and char
    totals computed as groupBy(source, salt) partial aggregates followed by
    a groupBy(source) combine. The oracle is the plain one-phase GROUP BY —
    the salted plan must be value-identical.

    Why: web corpora are domain-skewed (a handful of hosts carry a large
    share of pages; the synthesizer draws domains from Zipf(1.3)). A plain
    groupBy(domain) sends every row of the hottest domain to ONE reducer;
    salting by a 16-way hash splits that key across 16 reducers and the
    tiny combine (|domains| x 16 rows) collapses it. Note Spark's own
    partial aggregation already does this for algebraic aggs — the salt
    pattern matters for the non-algebraic ones (collect_list, exact
    distinct, percentile) and is written out here as the reusable shape,
    with AQE skew-join handling the join-side analog (session.py:55-61).
    Grafts the reference's per-target metric rollup
    (ispaq/simple_metrics.py:60-101)."""
    d = t(spark, sf_dir, "documents").withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(16))
    )
    partial = d.groupBy("source", "salt").agg(
        F.count("*").alias("pn"),
        # avg() ignores NULLs: the mean's denominator is the NON-NULL
        # count (F.count(col)), not the row count — sum/count(*) would
        # silently deflate the mean the first time a NULL n_chars appears
        F.count("n_chars").alias("pnn"),
        F.sum("n_chars").alias("pchars"),
    )
    return partial.groupBy("source").agg(
        F.sum("pn").cast("bigint").alias("n_docs"),
        F.sum("pchars").cast("bigint").alias("total_chars"),
        r6(
            F.when(
                F.sum("pnn") > 0, F.sum("pchars") / F.sum("pnn")
            )
        ).alias("mean_chars"),
    )


@qdef(
    "int8_topk",
    """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE len(list_filter(embedding, x -> x <> 0)) > 0
    ), q8 AS (
      SELECT vec_id,
             127.0 / list_max(list_transform(v, x -> abs(x))) AS scale,
             list_transform(
               v, x -> CAST(floor(x * (127.0 / list_max(
                 list_transform(v, y -> abs(y))))) AS BIGINT)) AS q
      FROM e
    ), qq AS (SELECT q AS qv, scale AS qs FROM q8 WHERE vec_id = 0),
    s AS (
      SELECT q8.vec_id,
             round(
               (list_sum(list_transform(range(1, 65),
                  i -> CAST(q8.q[i] * qq.qv[i] AS DOUBLE))) / (q8.scale * qq.qs))
               / (sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(q8.q[i] * q8.q[i] AS DOUBLE))) ) / q8.scale
                  * sqrt(list_sum(list_transform(range(1, 65),
                      i -> CAST(qq.qv[i] * qq.qv[i] AS DOUBLE))) ) / qq.qs),
               6) AS cos
      FROM q8, qq WHERE q8.vec_id <> 0
    )
    SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized cosine top-k: per-vector symmetric quantization
    (scale = 127 / max|x|, q_i = floor(x_i * scale)) then cosine over the
    dequantized vectors. The quantized corpus is 4x smaller than fp32 —
    at 10^12-embedding scale that is the difference between the ANN index
    fitting in cluster RAM or not; int8 dot products also SIMD-vectorize
    4-wide vs fp32 on the same registers. floor() (not round) on both
    sides: Spark casts float->int by truncation while DuckDB casts by
    rounding, so the quantizer pins the rounding mode explicitly.
    Composes with `ivf_topk`/`ann_lsh_buckets` (quantize within each
    bucket). Brute-force ranking here so the oracle is exact."""
    e = t(spark, sf_dir, "embeddings").where(
        F.exists("embedding", lambda x: x != F.lit(0.0))
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    scale = F.lit(127.0) / F.array_max(F.transform("v", F.abs))
    q8 = e.select(
        "vec_id",
        scale.alias("scale"),
        F.transform(
            "v", lambda x: F.floor(x * scale).cast("bigint")
        ).alias("q"),
    )
    qq = q8.where(F.col("vec_id") == 0).select(
        F.col("q").alias("qv"), F.col("scale").alias("qs")
    )
    joined = q8.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qq))
    dot = F.aggregate(
        F.zip_with("q", "qv", lambda a, b: (a * b).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_q = F.sqrt(
        F.aggregate(
            F.transform("q", lambda a: (a * a).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norm_qv = F.sqrt(
        F.aggregate(
            F.transform("qv", lambda a: (a * a).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = (dot / (F.col("scale") * F.col("qs"))) / (
        (norm_q / F.col("scale")) * (norm_qv / F.col("qs"))
    )
    return (
        joined.select("vec_id", r6(cos).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


_BM25_TERMS = ("spark", "table", "query")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"len(list_filter(ws, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(
        f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1)"
        f" * d.tf{i} * ({_BM25_K1} + 1)"
        f" / (d.tf{i} + {_BM25_K1}"
        f"    * (1 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH d AS (
      SELECT doc_id, len(str_split(text, ' ')) AS dl,
             {tf_cols}
      FROM (SELECT doc_id, text, str_split(text, ' ') AS ws
            FROM documents WHERE text IS NOT NULL)
    ), s AS (
      SELECT count(*) AS n, avg(dl) AS avgdl,
             {df_cols}
      FROM d
    )
    SELECT d.doc_id, round({score}, 6) AS bm25
    FROM d, s
    WHERE d.tf0 + d.tf1 + d.tf2 > 0
    ORDER BY bm25 DESC, d.doc_id LIMIT 20
    """


@qdef("bm25_rank", _bm25_oracle())
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed term set — the relevance-scoring
    primitive behind quality-weighted corpus curation (retrieve docs about
    a topic, upweight them in the training mixture). Okapi BM25 with
    k1=1.2, b=0.75.

    Scale shape: per-document term frequencies and length are map-side
    array ops; the corpus-level statistics (N, avgdl, per-term df) reduce
    to ONE tiny row that broadcasts back — so the whole query is one
    partial-aggregating reduce plus a map, no explode of the posting list
    and no join keyed on terms (which would hot-spot on stopword-frequency
    terms). Grafts the reference's corpus-normalized metric scoring
    (ispaq/simple_metrics.py:60-101: per-target values scaled by
    network-wide statistics)."""
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    def _eq(tm: str):
        # NB: a two-parameter lambda here would be bound as (element, index)
        # by the higher-order-function API, not as a default-arg closure.
        return lambda x: x == F.lit(tm)

    for i, term in enumerate(_BM25_TERMS):
        d = d.withColumn(f"tf{i}", F.size(F.filter("ws", _eq(term))))
    d = d.withColumn("dl", F.size("ws")).drop("ws")
    stats = d.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    j = d.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1
        )
        tf = F.col(f"tf{i}")
        part = (
            idf
            * tf
            * (_BM25_K1 + 1)
            / (
                tf
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = part if score is None else score + part
    return (
        j.where(sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS))) > 0)
        .select("doc_id", r6(score).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# per-language sampling rates out of 100 (training-mixture weights)
_SAMPLE_RATES = {"en": 30, "de": 60, "fr": 60}
_SAMPLE_DEFAULT_RATE = 90


@qdef(
    "stratified_sample",
    f"""
    WITH h AS (
      SELECT doc_id, lang, source,
             (('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket
    FROM h
    WHERE bucket < CASE lang
      {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items()))}
      ELSE {_SAMPLE_DEFAULT_RATE} END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a document iff
    a content hash of its id falls under the stratum's rate (per-language
    training-mixture weights: downsample the dominant language, keep most
    of the tail). Hash-gating instead of rand() makes the sample
    REPRODUCIBLE — identical across retries, executor losses, and
    cluster sizes (a rand() sample changes under task re-execution, which
    breaks resumable pipelines and lineage), and it needs no shuffle at
    all: the predicate is map-side, evaluated inside the scan. Rates
    compose with `salted_skew_agg`'s rollup for post-sample mixture
    verification. Grafts the reference's SNCL-pattern target subsetting
    (ispaq/user_request.py:320-364) with quota semantics added."""
    d = t(spark, sf_dir, "documents")
    bucket = F.pmod(
        hex_hash(F.concat(F.lit("smp|"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    rate = F.lit(_SAMPLE_DEFAULT_RATE)
    for k, v in sorted(_SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        d.withColumn("bucket", bucket)
        .where(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


@qdef(
    "variant_extract",
    """
    -- TRY_CAST, not CAST: $.k can hold a non-scalar (hostile props carry
    -- nested objects) and DuckDB's CAST hard-errors where Spark's
    -- try_variant_get yields NULL; TRY matches the try_ semantics.
    -- Integrality gate via the DOUBLE twin: on a fractional k the engines'
    -- bigint casts DISAGREE (DuckDB rounds 5.5->6, Spark truncates 5.5->5),
    -- so both sides keep the exact BIGINT value only when the double view
    -- is integral — fractional k is excluded by both engines identically.
    WITH e AS (
      SELECT event_id,
             TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS kb,
             TRY_CAST(json_extract(props, '$.k') AS DOUBLE) AS kd
      FROM events
    )
    SELECT event_id, kb AS k
    FROM e
    WHERE kb IS NOT NULL AND kd = floor(kd) AND kb % 10 = 0
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the VARIANT type (Spark 4): parse_json once
    into Variant, then typed variant_get extraction with a pushable
    predicate. Versus get_json_object (string re-parse per access, used by
    `rlike_filter`), Variant parses once into a binary encoding and every
    subsequent field access is an O(log fields) binary probe — the right
    storage for web-page metadata bags (crawl headers, per-domain
    annotations) read by many metric stages at 10^12 rows. Oracle uses
    DuckDB's JSON extraction over the same column."""
    ev = t(spark, sf_dir, "events")
    v = ev.select(
        "event_id", F.parse_json("props").alias("pv")
    ).select(
        "event_id",
        # BIGINT carries the exact value (a >2^53 integer survives);
        # the DOUBLE twin gates integrality, because the engines' bigint
        # casts of a FRACTIONAL value disagree (truncate vs round).
        F.try_variant_get(F.col("pv"), "$.k", "bigint").alias("kb"),
        F.try_variant_get(F.col("pv"), "$.k", "double").alias("kd"),
    )
    return v.where(
        F.col("kb").isNotNull()
        & (F.col("kd") == F.floor("kd"))
        & (F.col("kb") % 10 == 0)
    ).select("event_id", F.col("kb").alias("k"))


@qdef(
    "vocab_topk",
    """
    WITH tok AS (
      SELECT lang, unnest(str_split(text, ' ')) AS token
      FROM documents WHERE text IS NOT NULL
    ), counts AS (
      SELECT lang, token, count(*) AS cnt
      FROM tok GROUP BY lang, token
    ), ranked AS (
      SELECT lang, token, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, token ASC) AS rk
      FROM counts
    )
    SELECT lang, token, cnt, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 10
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-K vocabulary — the tokenizer-training primitive
    (BPE/WordPiece vocab induction starts from exactly this table).

    Scale shape: explode is map-side; the first groupBy map-side-combines
    so the shuffle carries (lang, token, partial_count) — vocab-sized, not
    corpus-sized; the top-K window then runs over the COUNT table (again
    vocab-sized), partitioned by lang. Nothing in the plan is proportional
    to corpus length after the first partial aggregation. Deterministic
    tie-break (count desc, token asc) so the oracle hash is stable.
    Grafts the reference's per-target value ranking
    (ispaq/simple_metrics.py:247-258)."""
    toks = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
    )
    counts = toks.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    )
    return (
        counts.withColumn("rk", rk.cast("bigint"))
        .where(F.col("rk") <= 10)
        .select("lang", "token", "cnt", "rk")
    )


@qdef(
    "decontaminate",
    """
    WITH bench AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE doc_id % 97 = 0 AND text IS NOT NULL
    ), bench_grams AS (
      SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 1),
        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      FROM bench WHERE len(ws) >= 3
    ), cand AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE doc_id % 97 <> 0 AND text IS NOT NULL
    ), cand_grams AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      FROM cand WHERE len(ws) >= 3
    )
    SELECT DISTINCT c.doc_id
    FROM cand_grams c JOIN bench_grams b ON c.gram = b.gram
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any n-gram
    with a held-out benchmark set (here: every 97th document stands in for
    the eval suite) — the Lee et al. / GPT-3 appendix n-gram-overlap
    protocol. Production uses 8-13-gram windows on natural text; this
    fixture's 30-token synthetic vocabulary gives the same selectivity at
    3-grams (171/500 docs flagged at sf0.01 — the check has teeth).

    Scale shape: the benchmark gram set builds once and BROADCASTS into a
    left-semi join, so the corpus never shuffles for the containment
    check; only the final distinct on doc_id does."""
    docs = t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    cand = docs.where(F.col("doc_id") % 97 != 0)
    return contamination_hits(cand, bench, 3).distinct()


_PACK_BUDGET = 256  # tokens per training sequence (sandbox-sized)
_PACK_BUCKET_DOCS = 128  # docs per packing window partition (bounds skew)


@qdef(
    "pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, len(str_split(text, ' ')) AS n_tokens,
             CAST(floor(doc_id / {_PACK_BUCKET_DOCS}) AS BIGINT) AS bkt
      FROM documents WHERE text IS NOT NULL
    ), runs AS (
      SELECT doc_id, lang, n_tokens, bkt,
             sum(n_tokens) OVER (PARTITION BY lang, bkt ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           bkt * 4294967296
             + CAST(floor((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT)
             AS pack_id
    FROM runs
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget training
    sequences (per language, in deterministic doc_id order) via a running
    token count — the cumsum approximation of greedy packing (a doc may
    straddle a budget boundary and be split at tokenization time), which
    is what production packers do anyway — exact greedy is inherently
    sequential.

    Scale shape: ONE window over the token-count table, partitioned by
    (lang, doc_id-bucket) — NOT lang alone, because at corpus scale the
    dominant language is most of the corpus and a lang-only window sorts
    it in one task. The bucket bounds every window instance to
    _PACK_BUCKET_DOCS docs; packs never span a bucket boundary (one extra
    partially-filled pack per bucket, the same boundary-split semantics as
    the budget itself). pack_id stays globally unique within a language
    via the bucket prefix: bucket * 2^32 + local pack index (valid while a
    bucket's token total < budget * 2^32 — at 128 docs/bucket that allows
    ~4e12 tokens per bucket). Grafts the reference's day-windowed segment
    assembly (ispaq/simple_metrics.py:83-101)."""
    toks = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.floor(F.col("doc_id") / _PACK_BUCKET_DOCS)
            .cast("bigint")
            .alias("bkt"),
        )
    )
    w = (
        Window.partitionBy("lang", "bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return toks.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (
            F.col("bkt") * F.lit(4294967296).cast("bigint")
            + F.floor((cum - F.col("n_tokens")) / _PACK_BUDGET)
        )
        .cast("bigint")
        .alias("pack_id"),
    )


@qdef(
    "pivot_metrics",
    """
    SELECT user_id,
           -- decimal-sum means: order-independent (see dsum); the CASE
           -- yields NULL for other types, which both sum() and count(expr)
           -- skip, preserving avg()'s NULL semantics
           round(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END
                     AS DECIMAL(38,9))) AS DOUBLE)
                 / count(CASE WHEN event_type = 'click' THEN value END), 6)
             AS click_avg,
           round(CAST(sum(CAST(CASE WHEN event_type = 'view' THEN value END
                     AS DECIMAL(38,9))) AS DOUBLE)
                 / count(CASE WHEN event_type = 'view' THEN value END), 6)
             AS view_avg,
           round(CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value END
                     AS DECIMAL(38,9))) AS DOUBLE)
                 / count(CASE WHEN event_type = 'error' THEN value END), 6)
             AS error_avg,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE event_type IN ('click', 'view', 'error')
    GROUP BY user_id
    """,
)
def q_pivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long -> wide pivot (the inverse of `unpivot_eav`): per-user mean
    value per event type as columns — the EAV-to-wide reshaping every
    metric sink consumer does (the reference renders its long metricName
    table wide for reports, ispaq/utils.py:119-147).

    Written as explicit conditional aggregation, NOT `groupBy().pivot()`:
    an unpinned pivot adds a distinct-collect JOB to discover the columns
    (data-dependent schema — a drift hazard at 10^12 rows), and even a
    pinned `pivot(col, VALUES)` plans a two-exchange `pivotfirst` — a
    pre-aggregation on (user_id, event_type) followed by a second shuffle
    on user_id (measured on Spark 4.1). `avg(when(...))` is one
    partial+final aggregate and one exchange: strictly the better plan,
    and the output schema is pinned in code."""
    ev = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view", "error")
    )

    def avg_of(etype: str):
        # davg over the conditional: sum and count both skip the NULLs the
        # when() produces, so NULL semantics match avg(); the decimal sum
        # makes the mean accumulation-order-independent (see dsum)
        return davg(F.when(F.col("event_type") == etype, F.col("value")))

    return ev.groupBy("user_id").agg(
        r6(avg_of("click")).alias("click_avg"),
        r6(avg_of("view")).alias("view_avg"),
        r6(avg_of("error")).alias("error_avg"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# ===========================================================================
# Round-3 additions: frequency-domain Welch cross-spectra (gain / phase /
# coherence), 360-angle orientation scan, PSD windowing policy, LSH-fed
# jaccard verify.
# ===========================================================================

_WELCH_ORACLE = """
    WITH e AS (
      SELECT user_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t
      FROM events WHERE event_type = 'error'
    ), c AS (
      SELECT user_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t
      FROM events WHERE event_type = 'click'
    ), lens AS (
      SELECT le.user_id, least(le.n, lc.n) AS L
      FROM (SELECT user_id, count(*) AS n FROM e GROUP BY user_id) le
      JOIN (SELECT user_id, count(*) AS n FROM c GROUP BY user_id) lc
        USING (user_id)
      WHERE least(le.n, lc.n) >= 8
    ), pos AS (
      SELECT user_id, seg, unnest(range(0, 8)) AS p
      FROM (
        SELECT user_id,
               unnest(range(0, ((L - 8) // 4) + 1)) AS seg
        FROM lens
      )
    ), samp AS (
      SELECT pos.user_id, pos.seg, pos.p,
             (0.5 - 0.5 * cos(2 * pi() * pos.p / 7)) AS w,
             e.value AS xv, c.value AS yv
      FROM pos
      JOIN e ON e.user_id = pos.user_id AND e.t = pos.seg * 4 + pos.p
      JOIN c ON c.user_id = pos.user_id AND c.t = pos.seg * 4 + pos.p
    ), dft AS (
      SELECT user_id, seg, k,
             sum(w * xv * cos(2 * pi() * k * p / 8))  AS rex,
             -sum(w * xv * sin(2 * pi() * k * p / 8)) AS imx,
             sum(w * yv * cos(2 * pi() * k * p / 8))  AS rey,
             -sum(w * yv * sin(2 * pi() * k * p / 8)) AS imy
      FROM samp CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) bins
      GROUP BY user_id, seg, k
    ), spec AS (
      SELECT user_id, k,
             avg(rex * rex + imx * imx) AS pxx,
             avg(rey * rey + imy * imy) AS pyy,
             avg(rex * rey + imx * imy) AS pxy_re,
             avg(imx * rey - rex * imy) AS pxy_im
      FROM dft GROUP BY user_id, k
    )
    SELECT user_id, CAST(k AS INT) AS freq_bin,
           round((pxy_re * pxy_re + pxy_im * pxy_im) / (pxx * pyy), 6)
             AS coherence,
           round(sqrt(pxy_re * pxy_re + pxy_im * pxy_im) / pxx, 6) AS gain,
           CASE WHEN (pxy_re * pxy_re + pxy_im * pxy_im) / (pxx * pyy)
                     >= 0.001
                THEN round(atan2(pxy_im, pxy_re), 6) END AS phase
    FROM spec WHERE pxx > 0 AND pyy > 0
"""


def _welch_out(out: DataFrame) -> DataFrame:
    return out.select(
        "user_id",
        "freq_bin",
        r6("coherence").alias("coherence"),
        r6("gain").alias("gain"),
        r6("phase").alias("phase"),
    )


@qdef("welch_coherence", _WELCH_ORACLE)
def q_welch_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain Welch cross-spectrum between two streams per user:
    Hann-windowed 8-sample segments at 50% overlap, numpy rFFT per segment,
    segment-averaged auto/cross spectra -> transfer-function gain
    |Pxy|/Pxx, phase atan2(Im Pxy, Re Pxy), and magnitude-squared coherence
    |Pxy|^2/(Pxx*Pyy) at bins 1..3 — the semantics of `crossSpectrum`
    (IRISSeismic/R/spectralUtils.R:44-214) feeding `transferFunctionMetric`
    (IRISMustangMetrics/R/transferFunctionMetric.R:252-280), as a cogrouped
    applyInPandas (operators/spectral.py:cogroup_welch). The oracle states
    the DFT as explicit windowed cos/sin sums — the same numbers the FFT
    computes. Phase is NULL below coherence 1e-3 on both sides."""
    return _welch_out(cogroup_welch(*_xcorr_sides(spark, sf_dir)))


@qdef("welch_collected", _WELCH_ORACLE)
def q_welch_collected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same Welch semantics and oracle as `welch_coherence`, restructured
    for group-count scale: JVM-side sort_array(collect_list) per side,
    equi-join, ONE scalar pandas UDF scoring thousands of keys per Arrow
    batch (operators/spectral.py:collected_welch)."""
    return _welch_out(collected_welch(*_xcorr_sides(spark, sf_dir)))


@qdef(
    "orientation_scan",
    """
    WITH ix AS (
      SELECT user_id, event_type, value,
             row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) - 1
               AS t
      FROM events WHERE event_type IN ('error', 'click', 'view')
    ), tri AS (
      SELECT n.user_id, n.value AS nv, e.value AS ev, r.value AS rv
      FROM ix n
      JOIN ix e ON e.user_id = n.user_id AND e.t = n.t
               AND e.event_type = 'click'
      JOIN ix r ON r.user_id = n.user_id AND r.t = n.t
               AND r.event_type = 'view'
      WHERE n.event_type = 'error'
    ), sums AS (
      -- decimal sums: exact and associative, so the closed-form corr is
      -- accumulation-order-independent on both engines (see dsum)
      SELECT user_id, count(*) AS cnt,
             CAST(sum(CAST(nv AS DECIMAL(38,9))) AS DOUBLE) AS sn,
             CAST(sum(CAST(ev AS DECIMAL(38,9))) AS DOUBLE) AS se,
             CAST(sum(CAST(rv AS DECIMAL(38,9))) AS DOUBLE) AS sr,
             CAST(sum(CAST(nv * nv AS DECIMAL(38,9))) AS DOUBLE) AS snn,
             CAST(sum(CAST(ev * ev AS DECIMAL(38,9))) AS DOUBLE) AS see,
             CAST(sum(CAST(nv * ev AS DECIMAL(38,9))) AS DOUBLE) AS sne,
             CAST(sum(CAST(nv * rv AS DECIMAL(38,9))) AS DOUBLE) AS snr,
             CAST(sum(CAST(ev * rv AS DECIMAL(38,9))) AS DOUBLE) AS ser,
             CAST(sum(CAST(rv * rv AS DECIMAL(38,9))) AS DOUBLE) AS srr
      FROM tri GROUP BY user_id HAVING count(*) >= 8
    ), ang AS (
      SELECT s.*, a.angle,
             cos(radians(a.angle)) AS cth, sin(radians(a.angle)) AS sth
      FROM sums s
      CROSS JOIN (SELECT unnest(range(0, 360)) AS angle) a
    ), terms AS (
      SELECT user_id, cnt, angle, sr, srr,
             cth * sn + sth * se AS sbr,
             cth * cth * snn + 2 * cth * sth * sne + sth * sth * see
               AS sbrr,
             cth * snr + sth * ser AS sbrf
      FROM ang
    ), scored AS (
      SELECT user_id, cnt, angle,
             round((cnt * sbrf - sbr * sr)
               / (sqrt(cnt * sbrr - sbr * sbr)
                  * sqrt(cnt * srr - sr * sr)), 6) AS corr
      FROM terms
      WHERE cnt * sbrr - sbr * sbr > 0 AND cnt * srr - sr * sr > 0
    )
    SELECT user_id, angle AS best_angle, corr AS best_corr,
           cnt AS n_samples
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY corr DESC, angle ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_orientation_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """360-angle orientation scan (orientationCheck_metrics.py:298-368):
    rotate the horizontal pair (error, click streams as N/E analogs)
    through every integer azimuth and keep the angle maximizing Pearson
    correlation with the reference stream (view), all JVM-side
    (operators/spectral.py:orientation_scan). Ties break to the smaller
    angle on both engines."""
    return orientation_scan(
        _event_stream(spark, sf_dir, "error"),
        _event_stream(spark, sf_dir, "click"),
        _event_stream(spark, sf_dir, "view"),
    )


@qdef(
    "psd_windows",
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch(ts) AS tsec, value FROM events
    ), tr AS (
      SELECT user_id, event_type,
             min(tsec) AS t0, max(tsec) AS t1, count(*) AS n
      FROM ev GROUP BY user_id, event_type HAVING count(*) >= 2
    ), bands AS (
      SELECT *, CASE
               WHEN event_type IN ('click', 'error') THEN 172800.0
               WHEN event_type IN ('purchase', 'view') THEN 345600.0
               ELSE 691200.0 END AS wlen
      FROM tr
    ), wins AS (
      SELECT user_id, event_type, wlen, t0, t1, n,
             unnest(range(0,
               CAST(floor((t1 - t0 - wlen) / (wlen / 2.0)) AS BIGINT) + 1))
               AS widx
      FROM bands WHERE t1 - t0 >= wlen
    ), win2 AS (
      SELECT *, t0 + widx * wlen / 2.0 AS ws FROM wins
    ), agg AS (
      SELECT w.user_id, w.event_type, w.widx, w.ws, w.wlen,
             any_value(w.n) AS n_tr, any_value(w.t0) AS t0,
             any_value(w.t1) AS t1,
             count(*) AS n_obs,
             -- decimal sum: exact and associative, so the mean is
             -- independent of accumulation order on both engines (a raw
             -- double avg() can differ by 1 ulp and flip round(,6) at a
             -- .0000005 boundary — fuzz seed 101 hit exactly that)
             CAST(sum(CAST(ev.value AS DECIMAL(38,9))) AS DOUBLE)
               / count(*) AS vmean
      FROM win2 w JOIN ev
        ON ev.user_id = w.user_id AND ev.event_type = w.event_type
       AND ev.tsec >= w.ws AND ev.tsec < w.ws + wlen
      GROUP BY w.user_id, w.event_type, w.widx, w.ws, w.wlen
    )
    SELECT user_id, event_type, widx,
           round(ws, 6) AS win_start, n_obs,
           round(vmean, 6) AS mean_value,
           round(n_obs * ((t1 - t0) / (n_tr - 1)) / wlen, 6) AS coverage
    FROM agg
    WHERE n_obs * ((t1 - t0) / (n_tr - 1)) / wlen >= 0.99
    """,
)
def q_psd_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSD windowing policy (IRISSeismic/R/spectralUtils.R:395-461):
    band-dependent window length (here keyed by event_type, the channel
    band-code analog), 50% overlap, and the >=99% coverage rule (:437) —
    a window is kept only when observed samples cover >=99% of the
    window at the trace's nominal spacing (span/(n-1)). Windows generate
    relationally (sequence + explode off the per-trace extent aggregate,
    no Python); window aggregates (count, mean) feed from an equi-join on
    the trace key with the range condition as a residual filter — the
    windows side is trace-count-sized (a dimension even at 10^12 events),
    never the fact side."""
    # events.ts is TIMESTAMP_NTZ; session TZ is UTC, so the cast to
    # TIMESTAMP is value-preserving and epoch seconds match DuckDB epoch().
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)).alias(
            "tsec"
        ),
        "value",
    )
    tr = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.min("tsec").alias("t0"),
            F.max("tsec").alias("t1"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") >= 2)
    )
    wlen = (
        F.when(F.col("event_type").isin("click", "error"), 172800.0)
        .when(F.col("event_type").isin("purchase", "view"), 345600.0)
        .otherwise(691200.0)
    )
    bands = tr.withColumn("wlen", wlen).where(
        F.col("t1") - F.col("t0") >= F.col("wlen")
    )
    nwin_last = F.floor(
        (F.col("t1") - F.col("t0") - F.col("wlen")) / (F.col("wlen") / 2.0)
    )
    wins = bands.select(
        "user_id", "event_type", "wlen", "t0", "t1", "n",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), nwin_last)
        ).alias("widx"),
    ).withColumn(
        "ws", F.col("t0") + F.col("widx") * F.col("wlen") / 2.0
    )
    w, e = wins.alias("w"), ev.alias("e")
    joined = w.join(
        e,
        (F.col("w.user_id") == F.col("e.user_id"))
        & (F.col("w.event_type") == F.col("e.event_type"))
        & (F.col("e.tsec") >= F.col("w.ws"))
        & (F.col("e.tsec") < F.col("w.ws") + F.col("w.wlen")),
    )
    agg = joined.groupBy(
        F.col("w.user_id").alias("user_id"),
        F.col("w.event_type").alias("event_type"),
        F.col("w.widx").alias("widx"),
        F.col("w.ws").alias("ws"),
        F.col("w.wlen").alias("wlen"),
    ).agg(
        F.any_value(F.col("w.n")).alias("n_tr"),
        F.any_value(F.col("w.t0")).alias("t0"),
        F.any_value(F.col("w.t1")).alias("t1"),
        F.count(F.lit(1)).alias("n_obs"),
        # decimal sum -> one double division: exact, associative, and
        # therefore identical across engines regardless of partial-agg
        # order (see the oracle's matching comment; fuzz seed 101)
        (
            F.sum(F.col("e.value").cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("vmean"),
    )
    coverage = (
        F.col("n_obs")
        * ((F.col("t1") - F.col("t0")) / (F.col("n_tr") - 1))
        / F.col("wlen")
    )
    return agg.where(coverage >= 0.99).select(
        "user_id",
        "event_type",
        "widx",
        r6("ws").alias("win_start"),
        "n_obs",
        r6("vmean").alias("mean_value"),
        r6(coverage).alias("coverage"),
    )


_LSH_VERIFY_ORACLE = """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, {mh_cols} FROM g
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
    ), ws AS (
      SELECT doc_id, list_distinct(words) AS ws FROM w
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_filter(a.ws, x -> list_contains(b.ws, x)))
                 / (len(a.ws) + len(b.ws)
                    - len(list_filter(a.ws, x -> list_contains(b.ws, x)))),
                 6) AS jaccard
    FROM cand c
    JOIN ws a ON a.doc_id = c.doc_a
    JOIN ws b ON b.doc_id = c.doc_b
"""


@qdef(
    "lsh_jaccard_verify",
    _LSH_VERIFY_ORACLE.format(mh_cols=_minhash_sql_cols()),
)
def q_lsh_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-fed verify chain: MinHash band buckets generate the pair
    set and the same word-set Jaccard that `jaccard_pairs` runs over its
    quadratic block join scores ONLY those candidates — the production
    wiring for the verify stage at corpus scale: pair count is bounded by
    bucket collisions, not block sizes."""
    docs = t(spark, sf_dir, "documents")
    jac = jaccard(F.col("sa"), F.col("sb"))
    return _scored_candidates(docs, word_set("text")).select(
        "doc_a", "doc_b", r6(jac).alias("jaccard")
    )


# ===========================================================================
# Training-mixture selection: importance resampling, canonical docs, splits
# ===========================================================================

_DSIR_B = 64  # hashed-feature buckets


@qdef(
    "dsir_resample",
    f"""
    WITH tok AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(w), 1, 8))::BIGINT) % {_DSIR_B} AS bucket
      FROM (SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
            FROM documents)
    ), dist AS (
      SELECT bucket, count(*) AS cs,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
      FROM tok GROUP BY bucket
    ), tot AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM dist),
    ratio AS (
      SELECT bucket,
             ln((ct + 1.0) / (tt + {_DSIR_B}.0))
           - ln((cs + 1.0) / (ts + {_DSIR_B}.0)) AS lr
      FROM dist, tot
    ), docw AS (
      -- decimal-sum mean: quantizing lr at 1e-9 absorbs cross-engine
      -- ln() ulps and the exact sum removes accumulation-order noise
      SELECT t.doc_id, t.lang,
             CAST(sum(CAST(r.lr AS DECIMAL(38,9))) AS DOUBLE)
               / count(r.lr) AS w
      FROM tok t JOIN ratio r ON t.bucket = r.bucket
      GROUP BY t.doc_id, t.lang
    )
    SELECT doc_id, lang, round(w, 6) AS dsir_weight
    FROM docw ORDER BY round(w, 6) DESC, doc_id LIMIT 100
    """,
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log importance ratio of a target distribution over hashed unigram
    features vs the raw-corpus distribution, and take the top-k — the
    mixture-selection stage that follows quality filtering in a training
    pipeline. Target here = the English slice; features = md5-hashed
    64-bucket unigram histogram (portable across engines); per-doc weight
    = token-mean of per-bucket Laplace-smoothed log ratios.

    Scale shape: ONE pass builds both distributions (64-row conditional
    aggregate), the 64-row log-ratio table broadcasts back, scoring is
    map-side + one groupBy(doc_id), and top-k is TakeOrderedAndProject
    (no global sort). At 10^12 docs nothing here grows beyond the corpus
    scan + one doc-keyed shuffle. Tie-break on the ROUNDED weight then
    doc_id so the k-cutoff is deterministic cross-engine. Grafts the
    reference's metric-threshold target subsetting
    (ispaq/user_request.py:320-364) into a distributional criterion."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).withColumn("bucket", F.pmod(hex_hash(F.col("w")), F.lit(_DSIR_B)))
    dist = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    tot = dist.agg(F.sum("cs").alias("ts"), F.sum("ct").alias("tt"))
    ratio = dist.crossJoin(tot).select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.col("tt") + float(_DSIR_B)))
            - F.log((F.col("cs") + 1.0) / (F.col("ts") + float(_DSIR_B)))
        ).alias("lr"),
    )
    docw = (
        tok.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id", "lang")
        .agg(davg("lr").alias("w"))
    )
    return (
        docw.select("doc_id", "lang", r6(F.col("w")).alias("dsir_weight"))
        .orderBy(F.desc("dsir_weight"), "doc_id")
        .limit(100)
    )


@qdef(
    "canonical_docs",
    f"""
    WITH w AS (
      SELECT doc_id, n_chars, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id, n_chars,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, n_chars, {_minhash_sql_cols()} FROM g
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY mh0, mh1, mh2, mh3
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY mh0, mh1, mh2, mh3) AS members
      FROM sig
    )
    SELECT mh0, mh1, mh2, mh3, doc_id AS keep_id,
           CAST(n_chars AS BIGINT) AS keep_chars,
           CAST(members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
)
def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: collapse each duplicate cluster
    (keyed by the full 4-row MinHash signature — docs whose every minhash
    agrees) to its single best member, highest n_chars with min doc_id as
    tie-break. This is the KEEP side of dedup — `minhash_lsh_neardup`
    finds pairs, `neardup_components` labels clusters, this picks what
    survives into the training set.

    Scale shape: the signature projection carries n_chars, and one
    groupBy on the signature with `max_by(doc_id, struct(n_chars,
    -doc_id))` is a single shuffle with map-side partial aggregation, no
    window sort and no join (the oracle states the same row via
    row_number). Grafts the reference's epoch-preference dedup
    (ispaq/concierge.py:1001-1005: keep one row per target, preferring the
    most complete epoch)."""
    sig = signatures(
        t(spark, sf_dir, "documents"), "text", 3, N_MINHASH_DEFAULT,
        "doc_id", "n_chars",
    )
    return sig.groupBy("mh0", "mh1", "mh2", "mh3").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
        ).alias("keep_id"),
        F.max("n_chars").cast("bigint").alias("keep_chars"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )


@qdef(
    "split_assign",
    """
    WITH s AS (
      SELECT lang, n_chars,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang, n_chars,
                   (('0x' || substr(md5('split|' || doc_id), 1, 8))::BIGINT)
                   % 100 AS b
            FROM documents)
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY lang, split
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment at 80/10/10: a salted
    content hash of the document id buckets 0-99, and the query rolls the
    assignment up per (lang, split) — the mixture-verification report a
    dataset release ships with. A document's split is a pure function of
    its id: stable across retries, cluster sizes, and later incremental
    ingests. Map-side predicate + one tiny (lang x 3)-row aggregate.
    Grafts the reference's deterministic target->day work partitioning
    (ispaq/concierge.py:219-268)."""
    policy = CurationPolicy(split_train_pct=80, split_val_pct=10)
    d = assign_split(t(spark, sf_dir, "documents"), policy)
    return d.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@qdef(
    "pmi_bigrams",
    """
    WITH w AS (
      SELECT str_split(text, ' ') AS words FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(words)),
                     i -> words[i] || ' ' || words[i+1])) AS bigram
      FROM w WHERE len(words) >= 2
    ), uni AS (
      SELECT unnest(words) AS w FROM w
    ), bc AS (
      SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram
    ), uc AS (
      SELECT w, count(*) AS c FROM uni GROUP BY w
    ), nb AS (SELECT sum(c_ab) AS n_b FROM bc),
    nu AS (SELECT sum(c) AS n_u FROM uc),
    scored AS (
      SELECT bc.bigram, bc.c_ab,
             ln(bc.c_ab / nb.n_b) - ln(ua.c / nu.n_u) - ln(ub.c / nu.n_u)
               AS pmi
      FROM bc, nb, nu
      JOIN uc ua ON ua.w = str_split(bc.bigram, ' ')[1]
      JOIN uc ub ON ub.w = str_split(bc.bigram, ' ')[2]
      WHERE bc.c_ab >= 5
    )
    SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab, round(pmi, 6) AS pmi
    FROM scored ORDER BY round(pmi, 6) DESC, bigram LIMIT 50
    """,
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 bigrams by pointwise mutual information
    ln p(ab) - ln p(a) - ln p(b), minimum support 5 — the vocabulary/
    tokenizer-analysis primitive (which word pairs behave as one token).
    Companion to `vocab_topk` in the tokenizer-training family.

    Scale shape: bigram generation is map-side (slice over the token
    array); bigram and unigram counts are each ONE map-side-combined
    aggregate whose output is vocab-sized (Zipf-sublinear in corpus
    size), so the two count joins broadcast; totals are single rows; the
    top-k is TakeOrderedAndProject. If vocab ever outgrows broadcast the
    joins degrade gracefully to shuffle-hash on the word key. Tie-break
    on the rounded PMI then bigram text keeps the k-cutoff deterministic
    cross-engine. Grafts the reference's channel-pair metric family
    (correlationMetric.R pairwise statistics) onto the text layer."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bg = d.where(n >= 2).select(
        F.explode(shingles_of(toks, 2)).alias("bigram")
    )
    uni = d.select(F.explode(toks).alias("w"))
    bc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nb = bc.agg(F.sum("c_ab").alias("n_b"))
    nu = uc.agg(F.sum("c").alias("n_u"))
    parts = F.split("bigram", " ")
    scored = (
        bc.where(F.col("c_ab") >= 5)
        .withColumn("wa", parts.getItem(0))
        .withColumn("wb", parts.getItem(1))
        .join(
            F.broadcast(uc.select(F.col("w").alias("wa"), F.col("c").alias("ca"))),
            "wa",
        )
        .join(
            F.broadcast(uc.select(F.col("w").alias("wb"), F.col("c").alias("cb"))),
            "wb",
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "bigram",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            r6(
                F.log(F.col("c_ab") / F.col("n_b"))
                - F.log(F.col("ca") / F.col("n_u"))
                - F.log(F.col("cb") / F.col("n_u"))
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "bigram").limit(50)


@qdef(
    "adaptive_quality_cut",
    """
    WITH th AS (
      SELECT lang, quantile_cont(n_chars, 0.75) AS cut
      FROM documents GROUP BY lang
    )
    SELECT d.lang, round(th.cut, 6) AS cut,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN d.n_chars >= th.cut THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM documents d JOIN th ON d.lang = th.lang
    GROUP BY d.lang, th.cut
    """,
)
def q_adaptive_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-stratum thresholding: instead of a fixed global quality
    bar (which over-prunes low-resource languages — the Gopher-rule
    failure mode), the cut is each language's OWN 75th percentile, computed
    exactly, broadcast back, and applied map-side. Two passes over the
    stratum column: one exact-percentile aggregate (|langs| rows) and one
    conditional count against the broadcast threshold — no row ever
    shuffles on anything but the lang key. The same shape serves any
    quantile-calibrated filter (perplexity cut per domain, length cut per
    source). Grafts the reference's per-channel-type threshold tables
    (ispaq/concierge.py metric thresholds resolved per target class)."""
    d = t(spark, sf_dir, "documents")
    th = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.75)).alias("cut")
    )
    return (
        d.join(F.broadcast(th), "lang")
        .groupBy("lang", "cut")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("n_chars") >= F.col("cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select("lang", r6(F.col("cut")).alias("cut"), "n_total", "n_kept")
    )


@qdef(
    "source_overlap",
    """
    WITH h AS (
      SELECT DISTINCT source,
             md5(array_to_string(str_split(text, ' ')[1:8], ' ')) AS chash
      FROM documents WHERE text IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM h a JOIN h b ON a.chash = b.chash AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication audit: for every source pair, how many
    document prefixes (md5 of the first 8 words — cross-crawl duplicates
    share openings but diverge in trailing boilerplate, so prefix
    fingerprints catch what whole-text hashes miss) appear in BOTH — the
    dataset-composition matrix that decides which crawl snapshots are
    worth keeping. The join key is the fingerprint, so the self-join is a
    plain hash equi-join whose width is bounded by true duplicate
    multiplicity (after the per-source DISTINCT, a fingerprint appears
    once per source that carries it); no text ever shuffles. Grafts the
    reference's cross-SNCL coverage comparison (availability
    intersections, ispaq/concierge.py:954-1005)."""
    d = t(spark, sf_dir, "documents")
    # A null document has no prefix fingerprint — filter explicitly:
    # concat_ws silently resurrects NULL to "" (md5('') would then collide
    # with genuinely-empty docs across sources; hostile-sweep finding)
    h = d.where(F.col("text").isNotNull()).select(
        "source",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))).alias(
            "chash"
        ),
    ).distinct()
    a = h.select(F.col("source").alias("source_a"), "chash")
    b = h.select(F.col("source").alias("source_b"), "chash")
    return (
        a.join(b, "chash")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


@qdef(
    "domain_cap",
    """
    WITH r AS (
      SELECT source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY (('0x' || substr(md5('cap|' || doc_id), 1, 8))
                         ::BIGINT), doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn <= 60 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn <= 60 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM r GROUP BY source
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota capping (the C4/Gopher anti-skew curation rule: no
    host may contribute more than CAP documents): rank each source's docs
    by a salted content hash — a deterministic lottery, so the surviving
    set is reproducible across retries and identical on any cluster size
    — and keep the first 60. kept_chars proves the SELECTION matches
    cross-engine, not just the counts. The per-source doc count rides a
    window on the same partitioning as the cap's rank, so the query is one
    shuffle on source. Grafts the reference's per-target work quota
    (concierge chunked day processing, ispaq/concierge.py:219-268)."""
    d = t(spark, sf_dir, "documents").withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    return cap_per_source(d, 60).groupBy("source").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


@qdef(
    "inverted_index",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(str_split(text, ' '),
                                              w -> len(w) > 0))) AS token
      FROM documents
    ), r AS (
      SELECT token, doc_id,
             row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      FROM tok
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 20)),
                           ',') AS postings
    FROM r GROUP BY token
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token -> document frequency + a capped,
    id-ordered posting list (first 20 doc_ids) — the materialization stage
    of a retrieval index, complementing `bm25_rank` (which scores without
    ever building postings). Postings are emitted as a joined string so
    the cross-engine value hash is representation-stable.

    Scale shape: per-doc tokenize+distinct is in-row (explode of
    array_distinct — no pre-shuffle blowup from repeated tokens); then ONE
    hash exchange on token feeds both the rank-window and the final
    aggregate (same key → Catalyst reuses the partitioning, no second
    exchange). The row_number cap bounds what collect_list materializes
    per token — a stop-word token at 10^12 docs contributes 20 ids, not a
    multi-GB list; df still counts every posting. Grafts the reference's
    metric-store index tables (ispaq/utils.py:157-272) lifted from
    metadata keys to content tokens."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
            )
        ).alias("token"),
    )
    rn = F.row_number().over(Window.partitionBy("token").orderBy("doc_id"))
    r = toks.withColumn("rn", rn)
    return r.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.array_join(
            F.array_sort(
                F.collect_list(F.when(F.col("rn") <= 20, F.col("doc_id")))
            ),
            ",",
        ).alias("postings"),
    )


@qdef(
    "bpe_pair_counts",
    """
    WITH w AS (
      SELECT unnest(str_split(text, ' ')) AS word FROM documents
    ), f AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM w WHERE len(word) >= 2 GROUP BY word
    ), p AS (
      SELECT unnest(list_transform(range(1, len(word)),
                                   i -> substr(word, i, 2))) AS pair,
             freq
      FROM f
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First iteration of BPE tokenizer training: adjacent character-pair
    counts weighted by word frequency, top-20 by (count, pair) — the
    statistic every merge round of `operators/bpe.py::train_bpe` recomputes.
    Deterministic total order so the LIMIT is stable cross-engine.

    Scale shape: the corpus collapses to the word-frequency table first
    (map-side partial agg → vocab-sized shuffle), so pair generation runs
    on |vocab| rows, not |corpus|; the pair aggregate is bounded by
    alphabet² and the final top-k is a TakeOrdered (no global sort)."""
    vocab = word_frequencies(t(spark, sf_dir, "documents")).select(
        "freq", F.split("word", "").alias("sym")
    )
    return (
        pair_counts(vocab)
        .select(F.concat("a", "b").alias("pair"), "cnt")
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


@qdef(
    "char_entropy",
    """
    WITH k AS (
      -- ch <> '' drops DuckDB's str_split('', '') = [''] artifact so an
      -- EMPTY document contributes no phantom character row (Spark's
      -- array_remove twin does the same); found by the hostile fixture
      SELECT doc_id, source, ch, CAST(count(*) AS DOUBLE) AS cnt
      FROM (SELECT doc_id, source, unnest(str_split(text, '')) AS ch
            FROM documents)
      WHERE ch <> ''
      GROUP BY doc_id, source, ch
    ), e AS (
      -- decimal sums at both levels: each p*ln(p) addend quantized at
      -- 1e-9 (absorbs cross-engine ln ulps), summed exactly so neither
      -- alphabet order nor partition layout can move the entropy
      SELECT doc_id, source,
             -CAST(sum(CAST((cnt / len) * ln(cnt / len)
                            AS DECIMAL(38,9))) AS DOUBLE) AS ent
      FROM (SELECT *, sum(cnt) OVER (PARTITION BY doc_id) AS len FROM k)
      GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(ent AS DECIMAL(38,9))) AS DOUBLE)
                 / count(ent), 6) AS avg_entropy,
           round(min(ent), 6) AS min_entropy,
           round(max(ent), 6) AS max_entropy
    FROM e GROUP BY source
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy, aggregated per
    source — the gibberish/boilerplate detector that catches what
    stop-word and repetition heuristics miss (base64 blobs and minified JS
    score HIGH, template spam scores LOW; both fail a [lo, hi] band).

    Scale shape: explode to (doc, char) then count — the exchange is keyed
    by (doc_id, ch) with map-side combine, so the shuffle carries at most
    |alphabet| rows per doc, not one per character; the per-doc entropy
    window and the doc-level aggregate both key on doc_id; the final
    per-source rollup is dimension-sized. Grafts the reference's
    sample_unique/signal-entropy style stats (basicStatsMetric.R) lifted
    to text bytes."""
    d = t(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        "source",
        F.explode(F.array_remove(F.split("text", ""), "")).alias("ch"),
    )
    k = c.groupBy("doc_id", "source", "ch").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    wd = Window.partitionBy("doc_id")
    p = F.col("cnt") / F.col("len")
    e = (
        k.withColumn("len", F.sum("cnt").over(wd))
        .groupBy("doc_id", "source")
        # decimal sums at both levels, mirroring the oracle (see dsum)
        .agg((-dsum(p * F.log(p))).alias("ent"))
    )
    return e.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        r6(davg("ent")).alias("avg_entropy"),
        r6(F.min("ent")).alias("min_entropy"),
        r6(F.max("ent")).alias("max_entropy"),
    )


@qdef(
    "funnel_steps",
    """
    WITH x1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ), x2 AS (
      SELECT *, min(CASE WHEN event_type = 'view' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2 FROM x1
    ), x3 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3 FROM x2
    ), x4 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t3 THEN ts END)
                  OVER (PARTITION BY user_id) AS t4 FROM x3
    ), u AS (
      SELECT user_id, min(t1) AS t1, min(t2) AS t2,
             min(t3) AS t3, min(t4) AS t4
      FROM x4 GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT)  AS n_users,
           CAST(count(t1) AS BIGINT) AS n_signup,
           CAST(count(t2) AS BIGINT) AS n_view,
           CAST(count(t3) AS BIGINT) AS n_click,
           CAST(count(t4) AS BIGINT) AS n_purchase
    FROM u
    """,
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel sequential pattern match: per user, the first signup,
    then the first view strictly after it, the first click after that, and
    the first purchase after that — counting users surviving each stage.
    The strictly-greater chain means the stages must occur in order, not
    merely all occur.

    Scale shape: all four cascaded min-if windows PLUS the per-user
    collapse share a single exchange on user_id (windows over the same
    partitioning stack without re-shuffling); the final count is a
    one-row reduce. No joins, no self-scans — the naive formulation
    (4 self-joins on events) shuffles the fact table five times. Grafts
    the reference's state-of-health transition checks
    (ispaq/simple_metrics.py flag sequences) lifted to event funnels."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")

    def first_after(etype: str, prev):
        cond = F.col("event_type") == etype
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev))
        return F.min(F.when(cond, F.col("ts"))).over(w)

    x = (
        ev.withColumn("t1", first_after("signup", None))
        .withColumn("t2", first_after("view", "t1"))
        .withColumn("t3", first_after("click", "t2"))
        .withColumn("t4", first_after("purchase", "t3"))
    )
    u = x.groupBy("user_id").agg(
        F.min("t1").alias("t1"),
        F.min("t2").alias("t2"),
        F.min("t3").alias("t3"),
        F.min("t4").alias("t4"),
    )
    return u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count("t1").cast("bigint").alias("n_signup"),
        F.count("t2").cast("bigint").alias("n_view"),
        F.count("t3").cast("bigint").alias("n_click"),
        F.count("t4").cast("bigint").alias("n_purchase"),
    )


@qdef(
    "curation_report",
    f"""
    WITH d AS (
      SELECT doc_id, text, source FROM documents
    ), x AS (
      SELECT doc_id, text, source FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM d) WHERE rn = 1
    ), w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM x
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, {_minhash_sql_cols()}
      FROM g
    ), ws AS (
      SELECT doc_id, list_distinct(words) AS ws FROM w
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
    ), dup AS (
      SELECT DISTINCT c.id_b AS doc_id
      FROM cand c JOIN ws a ON c.id_a = a.doc_id
                  JOIN ws b ON c.id_b = b.doc_id
      WHERE len(list_filter(a.ws, t -> list_contains(b.ws, t)))
            / (len(a.ws) + len(b.ws)
               - len(list_filter(a.ws, t -> list_contains(b.ws, t))))
            >= 0.8
    ), s2 AS (
      SELECT x.* FROM x WHERE doc_id NOT IN (SELECT doc_id FROM dup)
    ), s3 AS (
      SELECT s2.*, str_split(text, ' ') AS words FROM s2
      WHERE len(str_split(text, ' ')) BETWEEN 5 AND 100000
        AND len(list_distinct(str_split(text, ' ')))
            / len(str_split(text, ' ')) >= 0.10
    ), s4 AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY (('0x' || substr(md5('cap|' || doc_id), 1, 8))
                           ::BIGINT), doc_id) AS rn
        FROM s3) WHERE rn <= 60
    ), s5 AS (
      SELECT doc_id,
             (('0x' || substr(md5('split|' || doc_id), 1, 8))::BIGINT)
               % 100 AS bucket
      FROM s4
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM d)  AS n_input,
      (SELECT CAST(count(*) AS BIGINT) FROM x)  AS n_exact,
      (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_neardup,
      (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_quality,
      (SELECT CAST(count(*) AS BIGINT) FROM s4) AS n_capped,
      (SELECT CAST(sum(CASE WHEN bucket < 90 THEN 1 ELSE 0 END) AS BIGINT)
       FROM s5) AS n_train,
      (SELECT CAST(sum(CASE WHEN bucket >= 90 AND bucket < 95
                            THEN 1 ELSE 0 END) AS BIGINT)
       FROM s5) AS n_val,
      (SELECT CAST(sum(CASE WHEN bucket >= 95 THEN 1 ELSE 0 END) AS BIGINT)
       FROM s5) AS n_test
    """,
)
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation recipe (`curation.py::curate_corpus`) as ONE
    driver-certified relational program: exact dedup -> MinHash-LSH
    near-dup removal (4 sigs, two 2-row bands, word-set Jaccard >= 0.8)
    -> quality band -> salted per-source cap (60) -> hash-gated 90/5/5
    split, reporting each stage's surviving count in a single row. This is
    the lineage rollup a production run writes to the metric sink — here
    value-matched against a second engine end-to-end, so the STACK of
    stages (not just each stage alone) is certified.

    Scale shape: inherited from the library operators — one aggregate on
    the content hash, one aggregate on LSH band buckets with the Jaccard
    verify inside each bucket, map-only predicates, per-source rank,
    zero-shuffle split; the count branches are independent 1-row
    aggregates crossJoined at the end (no driver-side collect)."""
    pol = CurationPolicy()
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    s1 = exact_dedup(d, "text")
    # four count branches hang off the LSH output; a lazy localCheckpoint
    # materializes it once inside the single job instead of re-running the
    # band join per branch (eager=False: no extra job at build time)
    s2 = minhash_dedup(
        s1, "doc_id", "text", pol.near_dup_threshold
    ).localCheckpoint(eager=False)
    s3 = quality_filter(s2, pol)
    s4 = cap_per_source(s3, pol.cap_per_source)
    s5 = assign_split(s4, pol)

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    splits = s5.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("bigint")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
    )
    return (
        cnt(d, "n_input")
        .crossJoin(cnt(s1, "n_exact"))
        .crossJoin(cnt(s2, "n_neardup"))
        .crossJoin(cnt(s3, "n_quality"))
        .crossJoin(cnt(s4, "n_capped"))
        .crossJoin(splits)
    )


_LSH_CONTAINMENT_ORACLE = """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, {mh_cols} FROM g
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
    ), ws AS (
      SELECT doc_id, list_distinct(words) AS ws FROM w
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_filter(a.ws, x -> list_contains(b.ws, x)))
                 / least(len(a.ws), len(b.ws)), 6) AS containment
    FROM cand c
    JOIN ws a ON a.doc_id = c.doc_a
    JOIN ws b ON b.doc_id = c.doc_b
"""


@qdef(
    "lsh_containment_verify",
    _LSH_CONTAINMENT_ORACLE.format(mh_cols=_minhash_sql_cols()),
)
def q_lsh_containment_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scoring over LSH band candidates:
    |A∩B| / min(|A|,|B|) — the quote/boilerplate detector Jaccard misses
    (a short doc wholly quoted inside a long one has LOW Jaccard but
    containment 1.0). Same candidates and word sets as
    `lsh_jaccard_verify`; only the kernel's denominator changes."""
    docs = t(spark, sf_dir, "documents")
    sa, sb = F.col("sa"), F.col("sb")
    inter = F.size(F.array_intersect(sa, sb))
    return _scored_candidates(docs, word_set("text")).select(
        "doc_a",
        "doc_b",
        r6(inter / F.least(F.size(sa), F.size(sb))).alias("containment"),
    )


@qdef(
    "dup_cluster_hist",
    """
    WITH c AS (
      SELECT md5(array_to_string(str_split(text, ' ')[1:8], ' ')) AS sig,
             CAST(count(*) AS BIGINT) AS sz
      FROM documents WHERE text IS NOT NULL GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_redundant
    FROM c GROUP BY sz
    """,
)
def q_dup_cluster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate cluster-size histogram over the 8-word prefix fingerprint
    (the same signature `source_overlap` joins on — boilerplate openings
    cluster long before whole documents match byte-for-byte) — the
    power-law audit run before choosing dedup policy: web corpora
    concentrate most duplicated bytes in a few huge clusters, and the
    histogram says whether keep-one dedup or domain capping is the binding
    lever. n_redundant is the row count a keep-first dedup on this
    signature would remove.

    Scale shape: corpus collapses to (16-byte sig, count) with map-side
    combine — text never shuffles; the second aggregate is over cluster
    rows and its output is bounded by the largest cluster size. Grafts the
    reference's PDF aggregation-by-bin counting (PDF_aggregator.py:28-70)
    onto content signatures."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sig = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " "))
    clusters = d.groupBy(sig.alias("sig")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_redundant"),
    )


# ===========================================================================
# Registry accessors (consumed by __spark_entry__.py)
# ===========================================================================


# The driver certifies only the first 50 entries of queries() per round, in
# this order: every library-backed query first, then catalogue queries.
# scripts/check_oracle.py sweeps all of queries() locally.
_DRIVER_PRIORITY: list[str] = [
    "langid_confusion",
    "fingerprint",
    "minhash_signatures",
    "simhash16",
    "jaccard_pairs",
    "ann_lsh_buckets",
    "minhash_lsh_neardup",
    "lsh_jaccard_verify",
    "lsh_containment_verify",
    "canonical_docs",
    "neardup_components",
    "decontaminate",
    "split_assign",
    "domain_cap",
    "curation_report",
    "cogroup_xcorr",
    "xcorr_collected",
    "welch_coherence",
    "welch_collected",
    "orientation_scan",
    "bpe_pair_counts",
    "geo_radius_banded",
    "intradoc_dedup",
    "char_entropy",
    "chunk_dedup",
    "int8_topk",
    "ivf_topk",
    "pmi_bigrams",
    "substring_dedup",
    "cube_totals",
    "merge_upsert",
    "mode_per_group",
    "psd_windows",
    "basic_stats",
    "corr_per_group",
    "ols_resid",
    "snr_window",
    "dim_join_agg",
    "salted_skew_agg",
    "source_overlap",
    "variant_extract",
    "adaptive_quality_cut",
    "asof_join",
    "bm25_rank",
    "funnel_steps",
    "gaps",
    "hist2d",
    "interval_join",
    "inverted_index",
    "psd_quantiles",
]


def _ordered_defs() -> list[QueryDef]:
    rank = {n: i for i, n in enumerate(_DRIVER_PRIORITY)}
    order = sorted(
        range(len(_DEFS)),
        key=lambda i: (rank.get(_DEFS[i].name, len(rank)), i),
    )
    return [_DEFS[i] for i in order]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {d.name: d.spark for d in _ordered_defs()}


def oracle_sql() -> dict[str, str]:
    return {d.name: d.oracle for d in _ordered_defs()}
