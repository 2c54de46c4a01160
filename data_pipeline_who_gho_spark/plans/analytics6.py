"""Sixth analytics batch: time-series smoothing and an iterative graph
algorithm, both engineered to stay under the exact DuckDB oracle.

- ``ewma_user_value``: exponentially weighted moving average per user.
  The recurrence ewma_t = α·x_t + (1−α)·ewma_{t−1} is order-dependent
  float math, normally un-checkable across engines; here both engines
  run the IDENTICAL left fold over the IDENTICAL total order
  (ts, event_id) — Spark ``aggregate()`` and DuckDB ``list_reduce``
  are both acc-first left folds, and α = 0.125 / 0.875 are exact
  binary doubles — so every intermediate IEEE operation matches
  bit-for-bit (memory/oracle-parity-rules: identical expression trees
  are bit-equal across engines).

- ``pagerank_customer_supplier``: 3 unrolled PageRank iterations over
  the bipartite customer↔supplier graph derived from orders⋈lineitem.
  Iterative algorithms are usually consigned to rows-only checks
  (float mass sums are addition-order-dependent); this one runs the
  whole recurrence in BIGINT fixed-point (rank scale 10^12, damping
  0.85 as ·85 //100, contributions via integer division) so the result
  is addition-order-independent and the oracle replays the iterations
  as unrolled CTEs. The graph is made bidirectional, which guarantees
  every node has out-degree ≥ 1 (no dangling-mass redistribution
  term needed).

Scale notes (100 TB posture): EWMA shuffles once on user_id and folds
map-side-collected arrays (bounded by per-user event counts — the
same contract as sessionization). PageRank persists the invariant
(edges ⋈ out-degree) relation once; each iteration is one shuffle on
dst for the contribution aggregate — the canonical distributed
PageRank shape; ranks are re-derived, never collected to the driver.

Reference ancestry: the reference has no time-series or graph surface
(SURVEY §2c); these extend the engine's north-star analytics the same
way dedup/ANN do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import memo
from ..operators.interval import interval_overlap_join
from ..operators.layout import morton2, morton2_sql
from ..sources.catalog import load_table, spread_by_hash, table_path

EWMA_ALPHA = 0.125  # exact binary fraction: 1/8

# fixed-point rank scale. Overflow headroom: a node's incoming mass is
# bounded by the total (n_nodes · PR_SCALE), and the damping step
# computes 85 · mass in BIGINT — with 10^9 that stays under 2^63 up to
# ~10^8 nodes (10^12 would cap at ~10^5 nodes, far below the 100 TB
# posture; the DuckDB oracle sums in HUGEINT and would not wrap, so
# Spark-side wrap would also silently break parity)
PR_SCALE = 1_000_000_000
PR_ITERS = 3


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA (α=1/8) of each user's event values in (ts, event_id)
    order, via one groupBy(user) + ordered left fold."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    agg = ev.groupBy("user_id").agg(
        arr.alias("seq"), F.count(F.lit(1)).alias("n_events")
    )
    vals = F.transform(F.col("seq"), lambda s: s.getField("value"))
    ewma = F.aggregate(
        F.expr("slice(transform(seq, s -> s.value), 2, size(seq) - 1)"),
        F.element_at(vals, 1),
        lambda acc, x: x * F.lit(EWMA_ALPHA) + acc * F.lit(1 - EWMA_ALPHA),
    )
    return (
        agg.select("user_id", "n_events", ewma.alias("ewma"))
        .orderBy("user_id")
    )


# DuckDB list_reduce has no explicit init: it folds the FULL list using
# element 1 as the accumulator — exactly Spark's
# aggregate(slice(vals, 2, n-1), element_at(vals, 1), f). The CASE guard
# keeps single-event users explicit (fold of a 1-list = that element).
EWMA_SQL = f"""
WITH seq AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id) AS vals,
         COUNT(*) AS n_events
  FROM events
  GROUP BY user_id
)
SELECT user_id, n_events,
       CASE WHEN n_events = 1 THEN vals[1]
            ELSE list_reduce(vals, (acc, x) ->
              x * CAST({EWMA_ALPHA} AS DOUBLE) + acc * CAST({1 - EWMA_ALPHA} AS DOUBLE))
       END AS ewma
FROM seq
ORDER BY user_id
"""


def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank over the customer↔supplier trade
    graph; 3 iterations; top 100 nodes. rank' = 0.15·S + 0.85·Σ
    incoming rank//deg, all in BIGINT (exact, order-independent)."""
    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        pairs = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("cnode"),
                (F.col("l_suppkey") * 2 + 1).alias("snode"),
            )
            .distinct()
        )
        edges = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst")).unionAll(
            pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # the invariant per-iteration relation: (src, dst, deg(src)),
        # referenced by every iteration
        return edges.join(deg, "src").persist()

    inputs = [table_path(sf_dir, "orders"), table_path(sf_dir, "lineitem")]
    edges_deg = memo(spark, "pagerank_edges", inputs, build, sf_dir)
    deg_nodes = edges_deg.select("src").distinct()
    ranks = deg_nodes.select(F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("rank"))
    # r14 examined, NOT taken: an explicit size-guarded F.broadcast(ranks)
    # hint (VERDICT r13 task 4) A/B'd no better — cold-JVM best-of-3
    # alternating runs read shuffle 1.78/1.91/1.99 s vs hinted
    # 2.21/1.84/2.49 s — because AQE ALREADY rewrites each iteration's
    # join to BroadcastHashJoin at runtime (the post-shuffle ranks side
    # is a few hundred KB, far under autoBroadcastJoinThreshold; the
    # executed plan shows BHJs in the iteration chain).  The hint adds
    # nothing at this scale and would force the broadcast before sizes
    # are known at 100 TB node counts, so the AQE-chosen shape stays.
    for _ in range(PR_ITERS):
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(15 * PR_SCALE // 100).cast("long")
             + F.expr(f"85 * mass div 100").cast("long")).alias("rank"),
        )
    return (
        ranks.select(
            "node",
            F.when(F.col("node") % 2 == 0, F.lit("customer")).otherwise(F.lit("supplier")).alias("node_type"),
            F.expr("node div 2").alias("entity_key"),
            "rank",
        )
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(100)
    )


_PR_ITER = """
r{i} AS (
  SELECT e.dst AS node,
         CAST(CAST({base} AS BIGINT) + 85 * SUM(r.rank // e.deg) // 100 AS BIGINT) AS rank
  FROM edges_deg e JOIN r{prev} r ON e.src = r.node
  GROUP BY e.dst
)"""

PAGERANK_SQL = (
    f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
edges_deg AS (SELECT e.src, e.dst, d.d AS deg FROM edges e JOIN deg d ON e.src = d.src),
r0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg),"""
    + ",".join(
        _PR_ITER.format(i=i, prev=i - 1, base=15 * PR_SCALE // 100)
        for i in range(1, PR_ITERS + 1)
    )
    + f"""
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       node // 2 AS entity_key,
       rank
FROM r{PR_ITERS}
ORDER BY rank DESC, node
LIMIT 100
"""
)


def locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: treat non-'view' events as gaps
    (NULL value) and fill each gap with the user's most recent 'view'
    value — ``last_value(..., ignorenulls)`` over a running frame, the
    canonical sparse-to-dense time-series densification.

    Scale: one shuffle on user_id; the running frame is a single
    ordered pass per partition (no self-join, no as-of join needed)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    sparse = F.when(F.col("event_type") == "view", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("filled", F.last(sparse, ignorenulls=True).over(w))
        .select("user_id", "event_id", "event_type", "filled")
        .orderBy("user_id", "event_id")
    )


LOCF_SQL = """
SELECT user_id, event_id, event_type,
       last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM events
ORDER BY user_id, event_id
"""


def zorder_event_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-curve) key kernel under the exact gate: interleave
    bucketed (user_id, minute-of-day) into one z key and summarize the
    curve's 1024-key cells. The kernel (operators/layout.py) is pure
    shift/mask integer arithmetic — identical in both engines; the
    layout operator built on it is locality-tested in
    tests/test_layout.py."""
    ev = load_table(spark, sf_dir, "events")
    z = morton2(F.col("user_id"), F.hour("ts") * 60 + F.minute("ts"))
    return (
        ev.withColumn("z", z)
        .groupBy(F.expr("z div 1024").alias("z_cell"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
        .orderBy("z_cell")
    )


ZORDER_SQL = f"""
WITH keyed AS (
  SELECT {morton2_sql('user_id', '(hour(ts) * 60 + minute(ts))')} AS z FROM events
)
SELECT z // 1024 AS z_cell, COUNT(*) AS n_events,
       MIN(z) AS z_min, MAX(z) AS z_max
FROM keyed
GROUP BY z_cell
ORDER BY z_cell
"""


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` ≡ IS NOT DISTINCT FROM): NULL keys
    match NULL keys instead of silently dropping — the semantics a
    plain equi-join gets wrong when dimension keys are nullable.
    'error' events are mapped to a NULL key on both sides; the NULL
    dimension row must capture them. Catalyst plans `<=>` as a hash
    join (null-safe keys hash like values), NOT a nested loop."""
    ev = load_table(spark, sf_dir, "events").select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("k"), "value"
    )
    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type").distinct()
        .select(
            F.nullif(F.col("event_type"), F.lit("error")).alias("dk"),
            F.upper("event_type").alias("label"),
        )
    )
    return (
        ev.join(F.broadcast(dim), ev.k.eqNullSafe(dim.dk))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("string").cast("double").alias("total_value"),
        )
        .orderBy("label")
    )


JOIN_NULL_SAFE_SQL = """
WITH ev AS (
  SELECT nullif(event_type, 'error') AS k, value FROM events
), dim AS (
  SELECT nullif(event_type, 'error') AS dk, upper(event_type) AS label
  FROM (SELECT DISTINCT event_type FROM events)
)
SELECT label, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.dk
GROUP BY label
ORDER BY label
"""


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of the orders table — the warehouse DQ
    scan (null counts, exact cardinality, typed min/max). ONE pass over
    the data: all per-column aggregates run in a single groupBy, then the
    one-row result is exploded into a row per column. Numeric extremes
    emit as doubles; string extremes as strings; NTZ timestamp extremes
    as ISO date strings (no session-TZ dependence). The off-type slot is
    a typed NULL in both engines."""
    # r13: six COUNT(DISTINCT)s rewrite to an Expand(×7) → Sort →
    # SortAggregate chain, and the fixture's single-row-group scan ran
    # that entire 7× row-multiplied sort on ONE core (4.3 s at sf0.1).
    # Spreading the scan first parallelizes the expand/sort/partial-agg
    # stage; no-op at production scale via the spread_by_hash guard.
    orders = spread_by_hash(load_table(spark, sf_dir, "orders"), "o_orderkey")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    ts_cols = ["o_orderdate"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in num_cols + str_cols + ts_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
    for c in num_cols:
        aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
        aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
    for c in str_cols:
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
    for c in ts_cols:  # NTZ timestamps: ISO date strings are the
        # engine-parity representation (no session-TZ dependence)
        aggs.append(F.min(c).cast("date").cast("string").alias(f"{c}__min"))
        aggs.append(F.max(c).cast("date").cast("string").alias(f"{c}__max"))
    one = orders.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for c in num_cols:
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_num"),
                F.col(f"{c}__max").alias("max_num"),
                null_s.alias("min_str"),
                null_s.alias("max_str"),
            )
        )
    for c in str_cols + ts_cols:
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                null_d.alias("min_num"),
                null_d.alias("max_num"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def _profile_row(col: str, kind: str) -> str:
    if kind == "num":
        lo, hi = f"CAST(MIN({col}) AS DOUBLE)", f"CAST(MAX({col}) AS DOUBLE)"
        s_lo = s_hi = "CAST(NULL AS VARCHAR)"
    elif kind == "ts":
        lo = hi = "CAST(NULL AS DOUBLE)"
        s_lo = f"CAST(CAST(MIN({col}) AS DATE) AS VARCHAR)"
        s_hi = f"CAST(CAST(MAX({col}) AS DATE) AS VARCHAR)"
    else:
        lo = hi = "CAST(NULL AS DOUBLE)"
        s_lo, s_hi = f"MIN({col})", f"MAX({col})"
    return f"""
  SELECT '{col}' AS col_name, COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         COUNT(DISTINCT {col}) AS n_distinct,
         {lo} AS min_num, {hi} AS max_num, {s_lo} AS min_str, {s_hi} AS max_str
  FROM orders"""


TABLE_PROFILE_SQL = "\nUNION ALL\n".join(
    [_profile_row(c, "num") for c in ("o_orderkey", "o_custkey", "o_totalprice")]
    + [_profile_row(c, "ts") for c in ("o_orderdate",)]
    + [_profile_row(c, "str") for c in ("o_orderstatus", "o_orderpriority")]
)


def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user — the correct mean for
    irregularly-sampled series (a value holds until the next sample).
    Weights are exact integer µs durations; value×duration products
    accumulate as decimals, so the sum is order-independent and the
    single double division at the end is bit-identical across engines.
    One window pass + one partial-aggregated shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    mus = F.unix_micros(F.col("ts"))
    dur = (F.lead(mus, 1).over(w) - mus).alias("dur")
    spans = ev.select("user_id", F.col("value"), dur).filter(F.col("dur").isNotNull())
    prod = F.col("value").cast("string").cast("decimal(12,2)") * F.col("dur")
    return (
        spans.groupBy("user_id")
        .agg(
            F.sum(prod.cast("decimal(30,2)")).alias("__wsum"),
            F.sum("dur").alias("span_us"),
        )
        .select(
            "user_id",
            "span_us",
            (
                F.col("__wsum").cast("string").cast("double")
                / F.col("span_us").cast("double")
            ).alias("twap"),
        )
    )


TWAP_SQL = """
WITH spans AS (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dur
  FROM events
)
SELECT user_id, CAST(SUM(dur) AS BIGINT) AS span_us,
       CAST(CAST(SUM(CAST(CAST(CAST(value AS VARCHAR) AS DECIMAL(12,2)) * dur
                          AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE)
         / CAST(SUM(dur) AS DOUBLE) AS twap
FROM spans WHERE dur IS NOT NULL
GROUP BY user_id
"""


INTERVAL_BUCKET_US = 3_600_000_000  # 1 hour


def interval_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping activity intervals per user: each event opens an
    interval [ts, ts + value minutes]; report every overlapping pair
    with its exact µs intersection. Runs on the bucketed interval join
    (`operators/interval.py`) — equi-join on (user, hour-bucket) instead
    of an O(n²) theta NLJ; the oracle IS the theta join, proving the
    bucketed plan loses nothing."""
    ev = load_table(spark, sf_dir, "events")
    mus = F.unix_micros(F.col("ts"))
    iv = ev.select(
        "user_id",
        F.col("event_id"),
        mus.alias("s_us"),
        (mus + F.floor(F.col("value") * 60_000_000).cast("long")).alias("e_us"),
    )
    return interval_overlap_join(
        iv, key="user_id", id_col="event_id", start_us="s_us", end_us="e_us",
        bucket_us=INTERVAL_BUCKET_US,
    )


INTERVAL_OVERLAP_SQL = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + CAST(FLOOR(value * 60000000) AS BIGINT) AS e_us
  FROM events
)
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS overlap_us
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s_us <= b.e_us AND b.s_us <= a.e_us
"""


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): BFS over the nation trade graph
# ---------------------------------------------------------------------------

# ONE SQL text, run verbatim by BOTH engines — the strongest possible
# A5-surface parity statement. The graph is nation-level (≤ 25 nodes), so
# the UNION ALL recursion with a hop bound stays tiny while the recursive
# join exercises the real iterative executor; min-hop per node = BFS
# distance from nation 0.
RECURSIVE_REACH_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(node, hop) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hop
  UNION ALL
  SELECT CAST(e.dst AS BIGINT) AS node, r.hop + 1 AS hop
  FROM reach r JOIN sym e ON e.src = r.node
  WHERE r.hop < 2
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hop
FROM reach GROUP BY node
"""


def recursive_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS distances from nation 0 over the customer→supplier trade graph
    via Spark 4's native WITH RECURSIVE — the declarative alternative to
    the hand-rolled iteration in ``operators/components.py``/PageRank for
    recursions the optimizer can manage itself. The oracle runs the SAME
    SQL string (see RECURSIVE_REACH_SQL) — dialect-identical recursion."""
    for t in ["orders", "lineitem", "customer", "supplier"]:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(RECURSIVE_REACH_SQL)


def interp_linear_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear time-series interpolation — LOCF's twin for metrics that
    trend between observations: non-'view' events are gaps, filled by
    interpolating the user's surrounding 'view' values in EVENT TIME
    (not row position). Leading gaps backfill from the next
    observation, trailing gaps carry the previous one forward.

    Scale: one shuffle on user_id, two single-pass ordered frames
    (last-non-null backward, first-non-null forward) — no self-join,
    no as-of join. The arithmetic is one double expression evaluated
    in the same order by both engines (µs-exact integer time deltas),
    so the interpolated doubles hash-match the oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    mus = F.unix_micros("ts")
    obs_val = F.when(F.col("event_type") == "view", F.col("value"))
    obs_ts = F.when(F.col("event_type") == "view", mus)
    order = [F.col("ts"), F.col("event_id")]
    back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    framed = ev.select(
        "user_id",
        "event_id",
        "event_type",
        mus.alias("t"),
        F.last(obs_val, ignorenulls=True).over(back).alias("pv"),
        F.last(obs_ts, ignorenulls=True).over(back).alias("pt"),
        F.first(obs_val, ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_ts, ignorenulls=True).over(fwd).alias("nt"),
    )
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("t") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        )
    )
    return framed.select(
        "user_id",
        "event_id",
        "event_type",
        F.round(interp, 6).alias("filled"),
    ).orderBy("user_id", "event_id")


INTERP_LINEAR_SQL = """
WITH framed AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
         last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM events
)
SELECT user_id, event_id, event_type,
       round(CASE
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         WHEN nt = pt THEN pv
         ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
       END, 6) AS filled
FROM framed
ORDER BY user_id, event_id
"""


ANALYTICS6_QUERIES = {
    "recursive_trade_reach": recursive_trade_reach,
    "table_profile": table_profile,
    "twap_user_value": twap_user_value,
    "interval_overlap_events": interval_overlap_events,
    "ewma_user_value": ewma_user_value,
    "pagerank_customer_supplier": pagerank_customer_supplier,
    "locf_gap_fill": locf_gap_fill,
    "interp_linear_fill": interp_linear_fill,
    "zorder_event_cells": zorder_event_cells,
    "join_null_safe": join_null_safe,
}

ANALYTICS6_ORACLE_SQL = {
    "recursive_trade_reach": RECURSIVE_REACH_SQL,
    "table_profile": TABLE_PROFILE_SQL,
    "twap_user_value": TWAP_SQL,
    "interval_overlap_events": INTERVAL_OVERLAP_SQL,
    "ewma_user_value": EWMA_SQL,
    "pagerank_customer_supplier": PAGERANK_SQL,
    "locf_gap_fill": LOCF_SQL,
    "interp_linear_fill": INTERP_LINEAR_SQL,
    "zorder_event_cells": ZORDER_SQL,
    "join_null_safe": JOIN_NULL_SAFE_SQL,
}
