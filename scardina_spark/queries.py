"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 (+ extensions) as a (spark, sf_dir) -> DataFrame callable with
a matching DuckDB oracle SQL string.

Conventions that make the driver's comparison exact:
* every computed column is aliased identically in Spark and SQL;
* integer-ish outputs are cast to long (DuckDB counts/len are BIGINT);
* floats are rounded (4-6 dp) on both sides;
* deterministic ORDER BY everywhere a result is positional.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import build_tpch_schema, load_table, load_tables
from .localrel import local_df
from .estimators import ExactEstimator
from .functions.dictionary import CODE, VALUE, build_dictionary, encode_with_dictionary
from .functions.factorize import factorization_spec, sub_code_expr
from .operators import dedup as DD
from .operators import multimodal as MM
from .operators import similarity as SIM
from .operators import textstats as TS
from .operators.fanout import adj_fanout_col, attach_adj_fanouts
from .operators.sampler import join_sample
from .operators.weights import WEIGHT, compute_weights
from .plans import parse_query, plan_query
from .plans.planner import execute_join

# --------------------------------------------------------------------------
# relational / estimation-pipeline operators (SURVEY §2.1-2.6)
# --------------------------------------------------------------------------

def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: parquet scan with projection + predicate pushed to the source."""
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_linenumber",
                                                "l_quantity"])
    return (li.where(F.col("l_quantity") > 45)
            .orderBy("l_orderkey", "l_linenumber"))


SQL_SCAN_PROJECT = """
select l_orderkey, l_linenumber, l_quantity from lineitem
where l_quantity > 45 order by l_orderkey, l_linenumber
"""


def q_fk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A1: per-key FK multiplicity (groupBy-count)."""
    from .operators.fanout import fk_counts
    li = load_table(spark, sf_dir, "lineitem")
    return (fk_counts(li, "l_partkey")
            .select(F.col("l_partkey"), F.col("count").alias("cnt"))
            .orderBy("l_partkey"))


SQL_FK_COUNTS = """
select l_partkey, count(*) as cnt from lineitem
group by l_partkey order by l_partkey
"""


def q_fanout_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: adjacency fanout outer-joined onto the PK side, unmatched -> 1."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    out = attach_adj_fanouts(sg, tables)
    col = adj_fanout_col("o_orderkey", "lineitem", "l_orderkey")
    return (out["orders"]
            .select(F.col("o_orderkey"), F.col(f"`{col}`").alias("fanout"))
            .orderBy("o_orderkey"))


SQL_FANOUT_ATTACH = """
select o_orderkey, coalesce(c, 1)::BIGINT as fanout from orders
left join (select l_orderkey, count(*) c from lineitem group by 1)
on o_orderkey = l_orderkey order by o_orderkey
"""


def q_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: bottom-up join-multiplicity weights (root=customer over
    customer<-orders<-lineitem chain)."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    from .schema import Subschema
    rels = tuple(r for r in sg.relationships()
                 if (r.pk_table, r.fk_table) in
                 (("customer", "orders"), ("orders", "lineitem")))
    ss = Subschema("chain", "lineitem", rels)
    w = compute_weights(ss, tables, "customer")
    return (w["customer"]
            .select(F.col("c_custkey"),
                    F.col(WEIGHT).cast("long").alias("weight"))
            .orderBy("c_custkey"))


SQL_WEIGHTS = """
select c_custkey, coalesce(s, 1)::BIGINT as weight from customer
left join (
  select o_custkey, sum(coalesce(c, 1))::BIGINT s from orders
  left join (select l_orderkey, count(*) c from lineitem group by 1)
  on o_orderkey = l_orderkey group by o_custkey)
on c_custkey = o_custkey order by c_custkey
"""


def q_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/A4: exact sub-join cardinality from weight aggregation (no join
    executed) - lineitem closed-in-neighborhood."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    from .estimators.sample import cin_tree
    tree = cin_tree(sg, "lineitem")
    w = compute_weights(tree, tables, "lineitem")
    return w["lineitem"].agg(F.sum(WEIGHT).cast("long").alias("n"))


SQL_JOIN_SIZE = """
select count(*)::BIGINT as n from lineitem l
join orders o on l.l_orderkey = o.o_orderkey
join part p on l.l_partkey = p.p_partkey
join supplier s on l.l_suppkey = s.s_suppkey
"""


def q_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/O1: sorted distinct-value dictionary with dense codes (2-based;
    0=MASK, 1=NULL)."""
    li = load_table(spark, sf_dir, "lineitem")
    d = build_dictionary(li, "l_returnflag")
    return (d.select(F.col(VALUE).alias("value"),
                     F.col(CODE).cast("long").alias("code"))
            .orderBy("code"))


SQL_DICTIONARY = """
select l_returnflag as value,
       (row_number() over (order by l_returnflag) + 1)::BIGINT as code
from (select distinct l_returnflag from lineitem where l_returnflag is not null)
order by code
"""


def q_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: dictionary-encode two columns of lineitem."""
    li = load_table(spark, sf_dir, "lineitem",
                    ["l_orderkey", "l_linenumber", "l_returnflag",
                     "l_linestatus"])
    rf = build_dictionary(li, "l_returnflag")
    ls = build_dictionary(li, "l_linestatus")
    enc = encode_with_dictionary(li, "l_returnflag", rf, "rf_code")
    enc = encode_with_dictionary(enc, "l_linestatus", ls, "ls_code")
    return (enc.select("l_orderkey", "l_linenumber",
                       F.col("rf_code").cast("long").alias("rf_code"),
                       F.col("ls_code").cast("long").alias("ls_code"))
            .orderBy("l_orderkey", "l_linenumber"))


SQL_ENCODE = """
select l_orderkey, l_linenumber,
       (dense_rank() over (order by l_returnflag) + 1)::BIGINT as rf_code,
       (dense_rank() over (order by l_linestatus) + 1)::BIGINT as ls_code
from lineitem order by l_orderkey, l_linenumber
"""


def q_factorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: bit-slice factorization of a large-domain code column."""
    part = load_table(spark, sf_dir, "part", ["p_partkey"])
    d = build_dictionary(part, "p_partkey")
    enc = encode_with_dictionary(part, "p_partkey", d, "code")
    n_codes = d.count() + 2
    # threshold chosen so the code always splits into exactly two windows
    # regardless of scale factor (keeps the output schema sf-stable and
    # matches the oracle's width formula)
    bits = n_codes.bit_length()
    spec = factorization_spec("code", n_codes, threshold=max(1, (bits + 1) // 2))
    out = enc.select(F.col("code"))
    for sub in spec.sub_cols:
        out = out.withColumn(sub.name.replace("code:", "sub_"),
                             sub_code_expr("code", sub))
    subs = [c for c in out.columns if c.startswith("sub_")]
    return (out.select(F.col("code").cast("long").alias("code"),
                       *[F.col(c).cast("long").alias(c) for c in subs])
            .orderBy("code"))


def sql_factorize(sf_dir: str | None = None) -> str:
    # widths depend only on the dictionary size; p_partkey is dense 0..n-1
    # so code = p_partkey + 2 and dist_size = n + 2
    return """
with d as (select count(distinct p_partkey) n from part),
enc as (
  select (dense_rank() over (order by p_partkey) + 1)::BIGINT as code
  from part)
select code,
       ((code >> 0) & ((1 << (cast(ceil(log2(n + 2 + 1)) as int)
           - (cast(ceil(log2(n + 2 + 1)) as int) // 2))) - 1)) + 1 as sub_0,
       ((code >> (cast(ceil(log2(n + 2 + 1)) as int)
           - (cast(ceil(log2(n + 2 + 1)) as int) // 2)))
         & ((1 << (cast(ceil(log2(n + 2 + 1)) as int) // 2)) - 1)) + 1 as sub_1
from enc, d order by code
"""


def q_filter_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P3: comparison, IN, BETWEEN predicates through the parser/planner
    and Catalyst pushdown."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = ExactEstimator(sg, tables)
    n = est.estimate(
        "SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 "
        "AND l_returnflag IN ('R', 'A') AND l_discount > 0.02")
    return local_df(spark, [(n,)], "n long")


SQL_FILTER_OPS = """
select count(*)::BIGINT as n from lineitem
where l_quantity between 10 and 20 and l_returnflag in ('R', 'A')
  and l_discount > 0.02
"""


def q_or_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-disjunction groups (beyond the reference's AND-only language):
    same-column, mixed-op, and cross-table disjunctions through the
    parser, planner and exact executor."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = ExactEstimator(sg, tables)
    n1 = est.estimate(
        "SELECT COUNT(*) FROM lineitem WHERE "
        "(l_quantity < 5 OR l_quantity > 45) AND l_discount > 0.01")
    n2 = est.estimate(
        "SELECT COUNT(*) FROM lineitem l, orders o, customer c "
        "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
        "AND (c.c_mktsegment = 'BUILDING' OR l.l_quantity > 40)")
    return local_df(spark, [(n1, n2)], "n_same_col long, n_cross long")


SQL_OR_FILTERS = """
select
  (select count(*) from lineitem
   where (l_quantity < 5 or l_quantity > 45)
     and l_discount > 0.01)::BIGINT as n_same_col,
  (select count(*) from lineitem l, orders o, customer c
   where l.l_orderkey = o.o_orderkey and o.o_custkey = c.c_custkey
     and (c.c_mktsegment = 'BUILDING' or l.l_quantity > 40))::BIGINT
    as n_cross
"""


def q_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: LIKE lowered to rlike."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = ExactEstimator(sg, tables)
    n = est.estimate("SELECT COUNT(*) FROM orders "
                     "WHERE o_orderpriority LIKE '%URGENT' "
                     "AND o_orderstatus IS NOT NULL")
    return local_df(spark, [(n,)], "n long")


SQL_FILTER_LIKE = """
select count(*)::BIGINT as n from orders
where o_orderpriority like '%URGENT' and o_orderstatus is not null
"""


def q_timestamp_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: explicit datetime literal syntax through the SQL front-end —
    ANSI ``TIMESTAMP '...'`` / ``DATE '...'`` prefixes and the
    reference's ``'...'::timestamp`` cast identifiers
    (scardina/parse.py:120-124; run.py:863-867 — grammar, NOT code) —
    evaluated over the events stream table's ``ts`` column."""
    sg = build_tpch_schema()
    ev = {"events": load_table(spark, sf_dir, "events")}
    est = ExactEstimator(sg, ev)
    n1 = est.estimate("SELECT COUNT(*) FROM events "
                      "WHERE ts < TIMESTAMP '2024-01-15 00:00:00'")
    n2 = est.estimate("SELECT COUNT(*) FROM events "
                      "WHERE ts >= '2024-01-20 12:00:00'::timestamp")
    n3 = est.estimate("SELECT COUNT(*) FROM events WHERE ts BETWEEN "
                      "DATE '2024-01-05' AND '2024-01-25'::timestamp")
    n4 = est.estimate("SELECT COUNT(*) FROM events WHERE ts IN "
                      "(TIMESTAMP '2024-01-05 00:00:00')")
    return local_df(spark,
        [("lt_ts", n1), ("ge_cast", n2), ("between_mixed", n3),
         ("in_exact", n4)],
        "q string, n long").orderBy("q")


SQL_TIMESTAMP_PREDS = """
select 'lt_ts' as q,
       (select count(*) from events
        where ts < timestamp '2024-01-15 00:00:00')::BIGINT as n
union all
select 'ge_cast',
       (select count(*) from events
        where ts >= '2024-01-20 12:00:00'::timestamp)::BIGINT
union all
select 'between_mixed',
       (select count(*) from events where ts between date '2024-01-05'
        and '2024-01-25'::timestamp)::BIGINT
union all
select 'in_exact',
       (select count(*) from events
        where ts in (timestamp '2024-01-05 00:00:00'))::BIGINT
order by q
"""


def q_join_two(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: PK-FK equi-join + predicate, counted."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = ExactEstimator(sg, tables)
    n = est.estimate(
        "SELECT COUNT(*) FROM lineitem l, orders o "
        "WHERE l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'")
    return local_df(spark, [(n,)], "n long")


SQL_JOIN_TWO = """
select count(*)::BIGINT as n from lineitem l
join orders o on l.l_orderkey = o.o_orderkey
where o.o_orderstatus = 'F'
"""


def q_join_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: 4-table tree join through the planner."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = ExactEstimator(sg, tables)
    n = est.estimate(
        "SELECT COUNT(*) FROM lineitem l, orders o, customer c, part p "
        "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
        "AND l.l_partkey = p.p_partkey AND c.c_mktsegment = 'BUILDING' "
        "AND p.p_size > 20")
    return local_df(spark, [(n,)], "n long")


SQL_JOIN_TREE = """
select count(*)::BIGINT as n from lineitem l
join orders o on l.l_orderkey = o.o_orderkey
join customer c on o.o_custkey = c.c_custkey
join part p on l.l_partkey = p.p_partkey
where c.c_mktsegment = 'BUILDING' and p.p_size > 20
"""


def q_join_translated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 join translation: FK-FK join routed through the PK table."""
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = ExactEstimator(sg, tables)
    n = est.estimate(
        "SELECT COUNT(*) FROM customer c, supplier s "
        "WHERE c.c_nationkey = s.s_nationkey")
    return local_df(spark, [(n,)], "n long")


SQL_JOIN_TRANSLATED = """
select count(*)::BIGINT as n from customer c
join supplier s on c.c_nationkey = s.s_nationkey
"""


def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A6-style grouped aggregation (TPC-H Q1 shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"),
             F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
             F.round(F.avg("l_discount"), 6).alias("avg_disc"),
             F.count(F.lit(1)).alias("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_GROUP_AGG = """
select l_returnflag, l_linestatus,
       sum(l_quantity)::DOUBLE as sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
       round(avg(l_discount), 6) as avg_disc,
       count(*) as count_order
from lineitem where l_shipdate <= '2024-09-01'
group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus
"""


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact interpolated percentiles (the reference's reporting
    percentiles over q-errors, applied to a data column)."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile(F.col("l_extendedprice"),
                       F.array(*[F.lit(p) for p in (0.5, 0.9, 0.95, 0.99, 1.0)]))
    row = li.agg(pct.alias("p"))
    return row.select(
        F.round(F.col("p")[0], 4).alias("p50"),
        F.round(F.col("p")[1], 4).alias("p90"),
        F.round(F.col("p")[2], 4).alias("p95"),
        F.round(F.col("p")[3], 4).alias("p99"),
        F.round(F.col("p")[4], 4).alias("p100"),
    )


SQL_QUANTILES = """
select round(quantile_cont(l_extendedprice, 0.5), 4) as p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) as p90,
       round(quantile_cont(l_extendedprice, 0.95), 4) as p95,
       round(quantile_cont(l_extendedprice, 0.99), 4) as p99,
       round(quantile_cont(l_extendedprice, 1.0), 4) as p100
from lineitem
"""


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: Shannon entropy (nats) of the event_type distribution."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    j = counts.crossJoin(F.broadcast(total))  # 1-row side: pin the
    # broadcast (plan stability; AQE would save it anyway)
    ent = j.agg(
        F.round(-F.sum((F.col("c") / F.col("t"))
                       * F.log(F.col("c") / F.col("t"))), 6).alias("entropy"))
    return ent


SQL_ENTROPY = """
with c as (select event_type, count(*)::DOUBLE c from events group by 1),
t as (select sum(c) t from c)
select round(-sum((c / t) * ln(c / t)), 6) as entropy from c, t
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-ops: global top-k with deterministic tie-break (per-partition
    top-k + k-row merge, not a full sort)."""
    o = load_table(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_totalprice")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(10))


SQL_TOPK = """
select o_orderkey, o_totalprice from orders
order by o_totalprice desc, o_orderkey limit 10
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 scalar surface: lower, log2, pow, datetime extraction."""
    o = load_table(spark, sf_dir, "orders")
    return (o.select(
        F.col("o_orderkey"),
        F.lower(F.col("o_orderpriority")).alias("prio_lower"),
        F.round(F.log2(F.col("o_totalprice")), 6).alias("price_log2"),
        F.round(F.pow(F.lit(2.0), F.col("o_totalprice") % 10), 6).alias("pow2_mod"),
        F.year(F.col("o_orderdate")).cast("long").alias("order_year"))
        .orderBy("o_orderkey"))


SQL_SCALAR_FUNCS = """
select o_orderkey, lower(o_orderpriority) as prio_lower,
       round(log2(o_totalprice), 6) as price_log2,
       round(pow(2.0, fmod(o_totalprice, 10)), 6) as pow2_mod,
       year(o_orderdate)::BIGINT as order_year
from orders order by o_orderkey
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction over events.props (the semi-structured
    column every event pipeline carries) — JVM-side get_json_object, no
    UDF."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"))
        .where(F.col("k") > 50)
        .orderBy("event_id"))


SQL_JSON_EXTRACT = """
select event_id, CAST(json_extract(props, '$.k') AS BIGINT) as k
from events where CAST(json_extract(props, '$.k') AS BIGINT) > 50
order by event_id
"""


def q_join_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective join → group → aggregate → top-k.  The
    full analytics pipeline in one plan (broadcast dim join, partial agg,
    TakeOrdered)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
         .where(F.col("c_mktsegment") == "BUILDING"))
    return (j.groupBy("o_orderkey", "o_orderdate")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


SQL_JOIN_GROUP_TOPK = """
select o_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
from lineitem join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING'
group by o_orderkey, o_orderdate
order by revenue desc, o_orderkey limit 10
"""


# --------------------------------------------------------------------------
# events: windowed + sessionized analytics (streaming-equivalent batch)
# --------------------------------------------------------------------------

def q_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation — the batch-equivalent of the
    structured-streaming windowed agg (streaming/windows.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").getField("start").alias("hour"),
                   "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             # decimal sum: exact and order-independent.  A rounded
             # sum/n quotient is NOT oracle-safe — when the double lands
             # within 1 ulp of a rounding midpoint (seen at sf0.1),
             # Spark's BigDecimal HALF_UP and DuckDB's binary rounding
             # disagree in the last decimal — so expose the exact sum
             # and let readers derive the mean.
             F.sum(F.col("value").cast("decimal(18,6)"))
             .cast("double").alias("sum_value"))
        .orderBy("hour", "event_type")
    )


SQL_WINDOW_HOURLY = """
select date_trunc('hour', ts) as hour, event_type,
       count(*) as n,
       sum(value::DECIMAL(18,6))::DOUBLE as sum_value
from events group by 1, 2 order by hour, event_type
"""


def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80 (per-entity activity anomaly flags — the ops-analytics gap
    beside the TPC-H a-family): hours where a user's event count sits
    ≥ 3 sample standard deviations above their own active-hour mean.
    EXACT arithmetic until the final division: the only aggregations
    are integer sums (count / Σn / Σn²), so mean/variance/z are single
    IEEE expressions over exact inputs — no summation-order dust at
    all, both engines bit-equal before the display rounding.  Users
    need ≥ 3 active hours and positive variance (constant series have
    no z).  The anomaly flag compares the ROUNDED z so the threshold
    is decided on the same value both engines hash."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("user_id",
                         F.window("ts", "1 hour").getField("start")
                         .alias("hour"))
              .agg(F.count(F.lit(1)).alias("n")))
    stats = (hourly.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.sum("n").alias("sx"),
                  F.sum(F.col("n") * F.col("n")).alias("sxx"))
             .where(F.col("cnt") >= 3))
    mean = F.col("sx") / F.col("cnt")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("cnt")) \
        / (F.col("cnt") - 1)
    z = F.round((F.col("n") - mean) / F.sqrt(var), 4)
    return (hourly.join(stats, "user_id")
            .where(var > 0)
            .select(F.col("user_id").cast("long").alias("user_id"),
                    "hour", F.col("n").cast("long").alias("n"),
                    F.round(mean, 4).alias("user_mean"),
                    z.alias("z"))
            .where(F.col("z") >= 3.0)
            .orderBy("user_id", "hour"))


SQL_EVENT_ANOMALIES = """
with h as (
  select user_id, date_trunc('hour', ts) as hour, count(*) as n
  from events group by 1, 2),
s as (
  select user_id, count(*) as cnt, sum(n) as sx, sum(n * n) as sxx
  from h group by 1),
zed as (
  select h.user_id, h.hour, h.n,
         round(sx / cnt, 4) as user_mean,
         round((h.n - sx / cnt) /
               sqrt((sxx - sx * sx / cnt) / (cnt - 1)), 4) as z
  from h join s using (user_id)
  where cnt >= 3 and (sxx - sx * sx / cnt) / (cnt - 1) > 0)
select user_id::BIGINT as user_id, hour, n::BIGINT as n, user_mean, z
from zed where z >= 3.0
order by user_id, hour
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counting: a session break is a >30-minute gap per user."""
    from pyspark.sql import Window
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return (flagged.groupBy("user_id")
            .agg(F.sum("new_session").cast("long").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events"))
            .orderBy("user_id"))


SQL_SESSIONIZE = """
with g as (
  select user_id, ts,
         epoch(ts) - epoch(lag(ts) over (partition by user_id order by ts)) gap
  from events)
select user_id,
       sum(case when gap is null or gap > 1800 then 1 else 0 end)::BIGINT as n_sessions,
       count(*) as n_events
from g group by user_id order by user_id
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 (SCD Type 2 dimension history, Kimball CDC compaction — the
    batch twin of x34's latest-per-key, which keeps only the CURRENT
    row): collapse each user's event-type observations into half-open
    validity intervals (consecutive identical states merge;
    ``valid_to`` = next interval's start, NULL on the current one;
    ``n_events`` = collapsed observations).  `operators/scd.py` — ONE
    shuffle: every step is a window over the same partitionBy(user_id)
    ordering, island event counts by row-number distance instead of a
    re-shuffling groupBy.  Total order (ts, event_id); users < 10 keep
    the gate artifact compact."""
    from .operators.scd import scd2_history

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    return (scd2_history(ev, key="user_id", attr="event_type", ts="ts",
                         tiebreak=["event_id"])
            .select(F.col("user_id").cast("long").alias("user_id"),
                    "event_type", "valid_from", "valid_to",
                    F.col("n_events").cast("long").alias("n_events"),
                    "is_current")
            .orderBy("user_id", "valid_from"))


def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73 (incremental SCD2 merge — the x62 incremental lesson applied
    to dimension history): build the history from events before
    2024-01-20, fold the later events in with `scd.scd2_merge`
    (untouched keys anti-join through; per touched key only the OPEN
    interval re-islands against the delta), and require the result to
    be BIT-IDENTICAL to the from-scratch x69 build over all events —
    the oracle IS the from-scratch SQL."""
    from .operators.scd import scd2_history, scd2_merge

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    cut = F.lit("2024-01-20").cast("timestamp")
    hist = scd2_history(ev.where(F.col("ts") < cut),
                        key="user_id", attr="event_type", ts="ts",
                        tiebreak=["event_id"])
    merged = scd2_merge(hist, ev.where(F.col("ts") >= cut),
                        key="user_id", attr="event_type", ts="ts",
                        tiebreak=["event_id"])
    return (merged
            .select(F.col("user_id").cast("long").alias("user_id"),
                    "event_type", "valid_from", "valid_to",
                    F.col("n_events").cast("long").alias("n_events"),
                    "is_current")
            .orderBy("user_id", "valid_from"))


SQL_SCD2_HISTORY = """
with e as (
  select user_id, event_type, ts, event_id from events where user_id < 10),
n as (
  select *,
         row_number() over (partition by user_id
                            order by ts, event_id) as rn,
         lag(event_type) over (partition by user_id
                               order by ts, event_id) as prev,
         count(*) over (partition by user_id) as nk
  from e),
c as (select * from n where rn = 1 or prev is distinct from event_type),
i as (
  select user_id, event_type, ts as valid_from,
         lead(ts) over (partition by user_id order by rn) as valid_to,
         coalesce(lead(rn) over (partition by user_id order by rn),
                  nk + 1) - rn as n_events
  from c)
select user_id::BIGINT as user_id, event_type, valid_from, valid_to,
       n_events::BIGINT as n_events, valid_to is null as is_current
from i order by user_id, valid_from
"""


def q_clicks_to_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join: clicks joined to the
    same user's purchases within 1 hour after the click."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user_id"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts")))
    cond = ((clicks["user_id"] == purchases["p_user_id"])
            & (purchases["purchase_ts"] >= clicks["click_ts"])
            & (purchases["purchase_ts"]
               <= clicks["click_ts"] + F.expr("INTERVAL 1 HOUR")))
    return (clicks.join(purchases, cond, "inner")
            .select("user_id", "click_id", "purchase_id",
                    "click_ts", "purchase_ts")
            .orderBy("user_id", "click_id", "purchase_id"))


SQL_CLICKS_TO_PURCHASES = """
select a.user_id as user_id, a.event_id as click_id,
       b.event_id as purchase_id,
       a.ts as click_ts, b.ts as purchase_ts
from events a, events b
where a.event_type = 'click' and b.event_type = 'purchase'
  and b.user_id = a.user_id
  and b.ts >= a.ts and b.ts <= a.ts + interval 1 hour
order by user_id, click_id, purchase_id
"""


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join drained with availableNow — must
    equal the batch q_clicks_to_purchases exactly (same oracle)."""
    from .streaming import (
        clicks_to_purchases_stream, read_events_stream, run_to_memory_sink)
    st = read_events_stream(spark, sf_dir)
    out = run_to_memory_sink(clicks_to_purchases_stream(st),
                             "q_stream_join", output_mode="append")
    return out.orderBy("user_id", "click_id", "purchase_id")


def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed agg drained with availableNow — must
    equal the batch q_window_hourly exactly (same oracle)."""
    from .streaming import read_events_stream, run_to_memory_sink, \
        windowed_counts_stream
    st = read_events_stream(spark, sf_dir)
    out = run_to_memory_sink(windowed_counts_stream(st), "q_stream_window")
    return out.orderBy("hour", "event_type")


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) via Structured Streaming."""
    from .streaming import read_events_stream, run_to_memory_sink, \
        sessionized_stream
    st = read_events_stream(spark, sf_dir)
    out = run_to_memory_sink(sessionized_stream(st), "q_stream_sessions")
    return (out.select("user_id", "session_start", "session_end",
                       F.col("n_events").cast("long").alias("n_events"))
            .orderBy("user_id", "session_start"))


SQL_STREAM_SESSIONS = """
with g as (
  select user_id, ts,
         case when epoch(ts) - epoch(lag(ts) over
              (partition by user_id order by ts)) > 1800
              or lag(ts) over (partition by user_id order by ts) is null
         then 1 else 0 end as new_session
  from events),
s as (
  select user_id, ts,
         sum(new_session) over (partition by user_id order by ts
                                rows unbounded preceding) as sid
  from g)
select user_id, min(ts) as session_start,
       max(ts) + interval 30 minute as session_end,
       count(*)::BIGINT as n_events
from s group by user_id, sid order by user_id, session_start
"""


# --------------------------------------------------------------------------
# extension operators: dedup / text / similarity / multimodal
# --------------------------------------------------------------------------

def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X43 (substring-level dedup, ExactSubstr protocol — Lee et al.
    ACL 2022): every maximal span whose 8-token windows occur at more
    than one (doc, position) in the corpus, all occurrences flagged,
    plus the corpus-level strip totals.  `operators/substring.py` —
    positional k-gram digests in O(k·n) per doc (arrays_zip of shifted
    slices), digest-keyed duplicate marking, per-doc gaps-and-islands
    span merge (window partitioned by doc, never global)."""
    from .operators.substring import duplicated_spans, strip_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    # the k-gram pipeline (tokenize -> digest -> global dup groupBy ->
    # islands) feeds BOTH outputs; without this eager checkpoint of the
    # small spans relation Spark executes it twice (no ReusedExchange in
    # the static plan — verified by explain)
    spans_raw = duplicated_spans(docs, k=8).localCheckpoint(eager=True)
    spans = (spans_raw
             .select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.col("span_start").cast("long").alias("span_start"),
                     F.col("span_end").cast("long").alias("span_end"),
                     F.col("span_tokens").cast("long").alias("span_tokens")))
    stripped = strip_duplicated_spans(docs, k=8, spans=spans_raw)
    totals = stripped.agg(
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit(-1).cast("long").alias("span_start"),
        F.sum("n_tokens").cast("long").alias("span_end"),
        F.sum("n_removed").cast("long").alias("span_tokens"))
    return spans.unionAll(totals).orderBy("doc_id", "span_start")


SQL_SUBSTRING_SPANS = """
with toks as (
  select doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                      ' ') as t
  from documents),
grams as (
  select doc_id, i - 1 as pos, md5(array_to_string(t[i:i+7], ' ')) as h
  from toks, unnest(generate_series(1, len(t) - 7)) as u(i)
  where len(t) >= 8),
dpos as (
  select doc_id, pos from grams
  where h in (select h from grams group by h having count(*) > 1)),
brk as (
  select doc_id, pos,
         case when pos - lag(pos) over
              (partition by doc_id order by pos) >= 8
              then 1 else 0 end as b
  from dpos),
isl as (
  select doc_id, pos,
         sum(b) over (partition by doc_id order by pos
                      rows unbounded preceding) as island
  from brk),
spans as (
  select doc_id::BIGINT as doc_id, min(pos)::BIGINT as span_start,
         (max(pos) + 8)::BIGINT as span_end,
         (max(pos) + 8 - min(pos))::BIGINT as span_tokens
  from isl group by doc_id, island)
select * from spans
union all
select -1, -1,
       (select sum(len(t)) from toks)::BIGINT,
       (select coalesce(sum(span_tokens), 0) from spans)::BIGINT
order by doc_id, span_start
"""


def q_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X45 (learned text classifier): hashed-BoW multinomial logistic
    regression — the fastText-style supervised pipeline (Joulin et al.
    EACL 2017) that CCNet/GPT-3-style curation uses in place of rule
    stacks.  `operators/textclf.py` — hashing-trick features (dimension
    fixed regardless of corpus vocab), MLlib LBFGS (one treeAggregate
    pass per iteration), broadcast-coefficient scoring.

    Validated on a NON-DEGENERATE task (the r04 verdict's ask): a
    deterministic 3-class topic-mixture corpus over one shared
    vocabulary (`textclf.topic_corpus`, labels keyed ``doc_id % 3``)
    where every class emits every word — genuine Bayes error, so the
    learner must separate real signal and cannot memorize.  Output: one
    row per label over the ``doc_id % 5 == 0`` holdout with the exact
    SQL-recomputable test count and an ``agree_ok`` band assertion
    0.55 <= agreement <= 0.98: the lower bound fails a majority-class
    baseline (~1/3), the upper bound fails a degenerate (perfectly
    separable) task.  Measured per-label agreement 0.70-0.94 across
    sf0.001/0.01/0.1."""
    from .operators.textclf import distill_heuristic, topic_corpus

    docs = load_table(spark, sf_dir, "documents")
    corpus = topic_corpus(docs.select("doc_id"))
    _, report = distill_heuristic(corpus, F.col("label"))
    return (report.select(
        "label", F.col("n_test").cast("long").alias("n_test"),
        ((F.col("n_agree") >= 0.55 * F.col("n_test"))
         & (F.col("n_agree") <= 0.98 * F.col("n_test"))).alias("agree_ok"))
        .orderBy("label"))


def sql_text_classifier() -> str:
    # label = doc_id % 3 (alpha/beta/gamma), holdout = doc_id % 5 = 0 —
    # both plain modulos, so the oracle recomputes the per-label holdout
    # counts exactly; agree_ok is the engine-side band assertion
    # (learned-model property, constant-true when the model actually
    # separates the mixture without memorizing it).
    return """
select case doc_id % 3 when 0 then 'alpha' when 1 then 'beta'
       else 'gamma' end as label,
       count(*)::BIGINT as n_test, true as agree_ok
from documents where doc_id % 5 = 0
group by 1 order by 1
"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46 (BPE tokenizer training, Sennrich et al. ACL 2016): the
    iteration-0 adjacent-symbol pair statistics the first merge is
    chosen from — top 20 under the trainer's deterministic
    ``(count desc, left, right)`` total order.  `operators/bpe.py` —
    ONE corpus-sized shuffle (word counts, map-side combined); every
    merge iteration then runs over the vocabulary-sized distinct-word
    relation, and encoding is a broadcast vocab join.  The learn loop
    itself is pinned exactly against a pure-Python reference in
    `tests/test_bpe.py` (argmax-iterative, so not SQL-expressible)."""
    from .operators.bpe import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return (bpe_pair_counts(docs)
            .select("left_sym", "right_sym",
                    F.col("pair_count").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(20))


SQL_BPE_PAIRS = """
with w as (
  select unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> len(x) > 0)) as word
  from documents),
wc as (select word, count(*)::BIGINT as cnt from w group by word),
syms as (select cnt,
                list_append(regexp_extract_all(word, '.'), '</w>') as s
         from wc),
pairs as (
  select s[i] as left_sym, s[i + 1] as right_sym, cnt
  from syms, unnest(generate_series(1, len(s) - 1)) as u(i))
select left_sym, right_sym, sum(cnt)::BIGINT as pair_count
from pairs group by 1, 2
order by pair_count desc, left_sym, right_sym limit 20
"""


# The frozen merge table x68 ships: stacked chain — 'the' needs the
# earlier 'th'.  None touches the END marker, so the oracle's
# single-character replacement trick (each merged symbol becomes one
# control char, adjacency in the string == adjacency in the symbol
# array) replays the leftmost-greedy fold exactly: string REPLACE
# scans left-to-right without re-examining replaced text, which IS the
# fold's greedy rule.
BPE_APPLY_MERGES = [("a", "r"), ("t", "h"), ("th", "e"), ("r", "o")]


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68 (BPE tokenizer INFERENCE with a shipped merge table —
    completes the tokenizer family beside x46's training statistics):
    apply the frozen 4-merge chain to every document and account
    per-document token counts, the number every training-data budget
    planner (x49/x67) consumes downstream.  `bpe.bpe_apply` is a pure
    shuffle-free projection (nested higher-order functions, no Python);
    the oracle replays each merge as a per-word single-character
    REPLACE chain (leftmost-greedy equivalence documented at
    BPE_APPLY_MERGES), with the ASCII/control-char corpus guard."""
    from .operators.bpe import bpe_apply

    docs = load_table(spark, sf_dir, "documents")
    return (bpe_apply(docs, BPE_APPLY_MERGES)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_words").cast("long").alias("n_words"),
                    F.col("n_bpe").cast("long").alias("n_bpe"))
            .orderBy("doc_id"))


SQL_BPE_APPLY = """
with guard as (
  select case when count(*) > 0 then error(
           'corpus violates byte-level oracle assumptions')
         else 0 end as ok
  from documents
  where length(coalesce(text, '')) <> octet_length(coalesce(text, '')::BLOB)
     or regexp_matches(text, '[\\x01-\\x04]')),
w as (
  select doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> len(x) > 0)) as word
  from documents cross join guard),
m as (
  select doc_id,
         replace(replace(replace(replace(word,
                 'ar', chr(1)),
                 'th', chr(2)),
                 chr(2) || 'e', chr(3)),
                 'ro', chr(4)) as mw
  from w),
agg as (select doc_id, count(*) as n_words,
               sum(len(mw) + 1) as n_bpe
        from m group by doc_id)
select d.doc_id::BIGINT as doc_id,
       coalesce(a.n_words, 0)::BIGINT as n_words,
       coalesce(a.n_bpe, 0)::BIGINT as n_bpe
from documents d left join agg a using (doc_id)
order by doc_id
"""


# x91's merge table leads with ("er", "s") — a pair whose LEFT symbol
# can only exist after the LATER ("e", "r") merge, so at its own turn
# it is a guaranteed no-op: the corpus is full of raw 'ers' character
# runs ("users", "others") that a min-rank-style tokenizer WOULD merge.
# The oracle simply omits that replace (sequentially, nothing matches
# at its turn), which pins the sequential-pass semantics on real data.
BPE_ARROW_MERGES = [("er", "s"), ("e", "r"), ("o", "n"), ("on", "g")]


def q_streaming_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92 (streaming→model loop, the r9 verdict's item 8 — beyond
    reference, which re-runs its whole prep on any append): split
    lineitem 90/10 at a hash cutoff, drive the 10% shard through the
    STANDING streaming count state (`streaming/stats.maintain_fk_counts`,
    idempotent per-batch snapshots) into
    `incremental.streaming_refresh_tree_sample` — fanouts, mixture
    sample and join-size metadata all refresh without rescanning the
    base fact rows for counts.  Output: one row per root FK edge with
    the MERGED (base ⊎ streamed-shard) count-table invariants, plus the
    refreshed join size and the clamped sample size; the oracle replays
    every number from the full table."""
    import tempfile

    from .estimators.sample import prepare_tree_sample, spanning_tree
    from .operators.incremental import streaming_refresh_tree_sample

    tables = load_tables(spark, sf_dir)
    li = tables["lineitem"]
    h = F.abs(F.hash(F.col("l_orderkey"), F.col("l_linenumber"))) % 10
    base, delta = li.where(h != 0), li.where(h == 0)
    t_base = {**tables, "lineitem": base}
    work = tempfile.mkdtemp(prefix="x92_")
    delta_dir = f"{work}/shard"
    delta.write.parquet(delta_dir)

    sg = build_tpch_schema()
    tree = spanning_tree(sg, "lineitem")
    ts0 = prepare_tree_sample(tree, t_base, "lineitem",
                              n_min=2_000, n_max=2_000, seed=7)
    ts, merged = streaming_refresh_tree_sample(
        ts0, t_base, delta_dir, f"{work}/state",
        n_min=2_000, n_max=2_000, seed=13)
    rows = [("join_size", int(ts.n_sample), int(ts.join_size))]
    for fk, cnts in merged.items():
        agg = cnts.agg(F.count(F.lit(1)).alias("k"),
                       F.sum("count").alias("t")).first()
        rows.append((fk, int(agg["k"]), int(agg["t"])))
    return local_df(spark,
        rows, "edge string, n_keys long, total long").orderBy("edge")


SQL_STREAMING_REFRESH = """
select 'join_size' as edge, 2000::BIGINT as n_keys,
       count(*)::BIGINT as total from lineitem
union all
select 'l_orderkey', count(distinct l_orderkey)::BIGINT,
       count(l_orderkey)::BIGINT from lineitem
union all
select 'l_partkey', count(distinct l_partkey)::BIGINT,
       count(l_partkey)::BIGINT from lineitem
union all
select 'l_suppkey', count(distinct l_suppkey)::BIGINT,
       count(l_suppkey)::BIGINT from lineitem
order by edge
"""


def q_imdb_schema_joinsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (shipped IMDB/JOB-light schema declarations,
    `datasets_imdb.py` — reference datasets.py:585-782/:812-890): build
    the JOB-light SchemaGraph, register an IMDB-SHAPED slice derived
    deterministically from the testdata relations (title := orders ids,
    movie_keyword := lineitem (orderkey, partkey%97), movie_companies
    := orders (orderkey%~2/3·N, custkey%50, custkey%4)), and compute
    two reference sub-join sizes (movie_keyword:movie_id=title.id and
    movie_companies:movie_id=title.id) through the SAME
    fanout→weights aggregation path as j9 — proving the shipped schema
    drives the engine's join machinery end-to-end.  The oracle replays
    the derivations and the inner-join counts in SQL."""
    from .datasets_imdb import build_job_light_schema
    from .estimators.sample import cin_tree

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n_t = orders.count()
    title = orders.select(F.col("o_orderkey").alias("id"),
                          (F.col("o_custkey") % 7 + 1).alias("kind_id"),
                          (F.lit(1900) + F.col("o_orderkey") % 120)
                          .alias("production_year"))
    mk = li.select(F.col("l_orderkey").alias("movie_id"),
                   (F.col("l_partkey") % 97).alias("keyword_id"))
    mc = orders.select((F.col("o_orderkey") % F.lit(max(n_t * 2 // 3, 1)))
                       .alias("movie_id"),
                       (F.col("o_custkey") % 50).alias("company_id"),
                       (F.col("o_custkey") % 4).alias("company_type_id"))
    sg = build_job_light_schema()
    tables = {"title": title, "movie_keyword": mk,
              "movie_companies": mc}
    out = []
    for center in ("movie_keyword", "movie_companies"):
        tree = cin_tree(sg, center)
        w = compute_weights(tree, tables, center)
        n = w[center].agg(F.sum(WEIGHT).cast("long")).first()[0]
        out.append((center, int(n)))
    return local_df(spark, out, "subschema string, join_size long") \
        .orderBy("subschema")


SQL_IMDB_SCHEMA_JOINSIZE = """
with title as (select o_orderkey as id from orders),
mk as (select l_orderkey as movie_id from lineitem),
mc as (select o_orderkey % (select greatest(2 * count(*) // 3, 1)
                            from orders) as movie_id
       from orders),
a as (select 'movie_companies' as subschema, count(*)::BIGINT as join_size
      from mc join title on mc.movie_id = title.id),
b as (select 'movie_keyword' as subschema, count(*)::BIGINT as join_size
      from mk join title on mk.movie_id = title.id)
select * from a union all select * from b order by subschema
"""


def q_single_table_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 (shipped one-table dataset declarations, `datasets_single.py`
    — reference datasets.py:425-455 dmv + :457-542 keep-list variants +
    :544-571 flight-delays): register dmv-SHAPED and
    flight-delays-SHAPED slices derived deterministically from the
    testdata relations under every declared schema variant, and drive
    the engine end-to-end on each: the predicate machinery + planner
    through `ExactEstimator` (two counts per variant), and — for the
    full dmv and flight_delays — the single-table UR fallback
    (`spanning_tree` with no edges → all weights 1 → uniform
    with-replacement sample) through `SampleEstimator`, whose estimate
    must land within 20 % of exact (n=20k draws: stderr is ~1 %, the
    band is pure anti-flake margin; NULL for variants not re-sampled).
    The oracle replays the derivations and counts in SQL."""
    from .datasets_single import (DMV_VARIANTS, FLIGHT_DELAYS_COLUMNS,
                                  build_dmv_schema,
                                  build_flight_delays_schema)
    from .estimators import ExactEstimator, SampleEstimator
    from .estimators.sample import prepare_tree_sample, spanning_tree

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dmv = orders.select(
        F.col("o_orderstatus").alias("Record Type"),
        F.concat(F.lit("CL"), (F.col("o_custkey") % 5).cast("string"))
        .alias("Registration Class"),
        F.concat(F.lit("S"), (F.col("o_custkey") % 30).cast("string"))
        .alias("State"),
        (F.col("o_custkey") % 60).cast("string").alias("County"),
        F.col("o_orderpriority").alias("Body Type"),
        F.substring("o_orderstatus", 1, 1).alias("Fuel Type"),
        F.col("o_orderdate").cast("timestamp").alias("Reg Valid Date"),
        F.concat(F.lit("C"), (F.col("o_orderkey") % 8).cast("string"))
        .alias("Color"),
        (F.col("o_orderkey") % 7 == 0).cast("string")
        .alias("Scofflaw Indicator"),
        (F.col("o_orderkey") % 11 == 0).cast("string")
        .alias("Suspension Indicator"),
        (F.col("o_orderkey") % 13 == 0).cast("string")
        .alias("Revocation Indicator"))
    fl = li.select(
        (F.lit(1990.0) + (F.col("l_orderkey") % 25).cast("float"))
        .alias("YEAR_DATE"),
        F.concat(F.lit("CA"), (F.col("l_suppkey") % 10).cast("string"))
        .alias("UNIQUE_CARRIER"),
        F.concat(F.lit("A"), (F.col("l_partkey") % 50).cast("string"))
        .alias("ORIGIN"),
        F.lit("XX").alias("ORIGIN_STATE_ABR"),
        F.concat(F.lit("B"), (F.col("l_suppkey") % 50).cast("string"))
        .alias("DEST"),
        F.lit("YY").alias("DEST_STATE_ABR"),
        F.col("l_quantity").cast("double").alias("DEP_DELAY"),
        F.lit(10.0).alias("TAXI_OUT"), F.lit(5.0).alias("TAXI_IN"),
        (F.col("l_quantity") - 5).cast("double").alias("ARR_DELAY"),
        F.lit(120.0).alias("AIR_TIME"),
        (F.col("l_orderkey") % 3000).cast("double").alias("DISTANCE"))

    def drive(dataset, variant, sg, table_name, frame, q1, q2,
              run_sampler):
        keep = (DMV_VARIANTS[variant] if dataset == "dmv"
                else FLIGHT_DELAYS_COLUMNS)
        frame = frame.select(*[F.col(f"`{c}`") for c in keep])
        ex = ExactEstimator(sg, {table_name: frame})
        c1, c2 = ex.estimate(q1), ex.estimate(q2)
        ok = None
        if run_sampler:
            ts = prepare_tree_sample(spanning_tree(sg, table_name),
                                     {table_name: frame}, table_name,
                                     n_min=20_000, n_max=20_000, seed=42)
            se = SampleEstimator()
            se.add(ts)
            e1 = se.estimate(q1)
            ok = bool(abs(e1 - c1) <= max(10.0, 0.2 * c1))
            ts.sample.unpersist()
        return (dataset, variant, len(keep), frame.count(),
                int(c1), int(c2), ok)

    rows = [drive("dmv", v, build_dmv_schema(v), "dmv", dmv,
                  "SELECT COUNT(*) FROM dmv WHERE Color = 'C3'",
                  "SELECT COUNT(*) FROM dmv WHERE Color <> 'C3'",
                  run_sampler=(v == "dmv"))
            for v in sorted(DMV_VARIANTS)]
    rows.append(drive(
        "flight_delays", "flight-delays", build_flight_delays_schema(),
        "flight_delays", fl,
        "SELECT COUNT(*) FROM flight_delays WHERE ORIGIN = 'A7'",
        "SELECT COUNT(*) FROM flight_delays WHERE DEP_DELAY > 30",
        run_sampler=True))
    return local_df(spark,
        rows, "dataset string, variant string, n_cols int, n_rows long,"
              " q1_cnt long, q2_cnt long, sample_ok boolean") \
        .orderBy("dataset", "variant")


SQL_SINGLE_TABLE_DATASETS = """
with dmv as (select 'C' || (o_orderkey % 8)::VARCHAR as color
             from orders),
fl as (select 'A' || (l_partkey % 50)::VARCHAR as origin,
              l_quantity::DOUBLE as dep_delay
       from lineitem),
d1 as (select count(*) filter (color = 'C3')::BIGINT as q1,
              count(*) filter (color <> 'C3')::BIGINT as q2,
              count(*)::BIGINT as n
       from dmv),
f1 as (select count(*) filter (origin = 'A7')::BIGINT as q1,
              count(*) filter (dep_delay > 30)::BIGINT as q2,
              count(*)::BIGINT as n
       from fl)
select * from (
  select 'dmv' as dataset, 'dmv' as variant, 11 as n_cols, n as n_rows,
         q1 as q1_cnt, q2 as q2_cnt, true as sample_ok from d1
  union all
  select 'dmv', 'dmv-1', 10, n, q1, q2, NULL from d1
  union all
  select 'dmv', 'dmv-2', 9, n, q1, q2, NULL from d1
  union all
  select 'dmv', 'dmv-5', 6, n, q1, q2, NULL from d1
  union all
  select 'flight_delays', 'flight-delays', 12, n, q1, q2, true from f1
) order by dataset, variant
"""


def q_bpe_apply_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91 (BPE inference on the Arrow path — `bpe.bpe_apply_arrow`,
    the mapInPandas twin of x68's codegen fold for merge tables past
    the projection cap; here value-checked against an independent
    DuckDB replay rather than against bpe_apply itself).  One
    corpus-sized Arrow projection with a per-partition distinct-word
    cache and a rank-heap per miss; no shuffle.  The merge chain leads
    with a pair whose turn precedes its left symbol's existence
    (BPE_ARROW_MERGES note) — the edge where sequential passes differ
    from a min-rank loop."""
    from .operators.bpe import bpe_apply_arrow

    docs = load_table(spark, sf_dir, "documents")
    return (bpe_apply_arrow(docs, BPE_ARROW_MERGES)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_words").cast("long").alias("n_words"),
                    F.col("n_bpe").cast("long").alias("n_bpe"))
            .orderBy("doc_id"))


SQL_BPE_APPLY_ARROW = """
with guard as (
  select case when count(*) > 0 then error(
           'corpus violates byte-level oracle assumptions')
         else 0 end as ok
  from documents
  where length(coalesce(text, '')) <> octet_length(coalesce(text, '')::BLOB)
     or regexp_matches(text, '[\\x01-\\x04]')),
w as (
  select doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> len(x) > 0)) as word
  from documents cross join guard),
m as (
  -- merge 0 ("er","s") is a deliberate no-op at its turn: symbol "er"
  -- cannot exist yet, so sequentially nothing matches — omitted.
  select doc_id,
         replace(replace(replace(word,
                 'er', chr(1)),
                 'on', chr(2)),
                 chr(2) || 'g', chr(3)) as mw
  from w),
agg as (select doc_id, count(*) as n_words,
               sum(len(mw) + 1) as n_bpe
        from m group by doc_id)
select d.doc_id::BIGINT as doc_id,
       coalesce(a.n_words, 0)::BIGINT as n_words,
       coalesce(a.n_bpe, 0)::BIGINT as n_bpe
from documents d left join agg a using (doc_id)
order by doc_id
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(load_table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
select min(doc_id) as keep_id, count(*) as n_dups from documents
group by md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
order by keep_id
"""


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_signatures(docs, n_hashes=4).orderBy("doc_id")


SQL_MINHASH_SIGS = """
with norm as (
  select doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') as toks
  from documents),
sh as (
  select doc_id, s
  from norm, unnest(list_distinct([
    array_to_string(toks[i:i+2], ' ')
    for i in range(1, greatest(len(toks) - 2, 1) + 1)
  ])) as t(s))
select doc_id,
       min(substring(md5('salt0:' || s), 1, 8)) as sig_0,
       min(substring(md5('salt0:' || s), 9, 8)) as sig_1,
       min(substring(md5('salt0:' || s), 17, 8)) as sig_2,
       min(substring(md5('salt0:' || s), 25, 8)) as sig_3
from sh group by doc_id order by doc_id
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60 (incremental near-dup probe; beyond reference): an arriving
    shard (``doc_id % 5 == 0``) checked against the STANDING corpus —
    the shard's MinHash signatures band-probe the index's (asymmetric
    join, no self-join over the old corpus; `dedup.lsh_probe_pairs` /
    `incremental_near_dup`), exact Jaccard verifies only the
    candidates.  The snapshot-ingest pattern: with a materialized index
    signature table, a shard arrival costs the shard's shingles plus a
    band-keyed join whose probe side is shard-sized.  Parity with the
    union-corpus self-join restricted to straddling pairs is
    test-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = docs.where(F.col("doc_id") % 5 != 0)
    out = DD.incremental_near_dup(new, idx, threshold=0.8)
    return out.select(F.col("new_id").cast("long").alias("new_id"),
                      F.col("index_id").cast("long").alias("index_id"),
                      "jaccard").orderBy("new_id", "index_id")


SQL_INCREMENTAL_NEARDUP = """
with norm as (
  select doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ',
                                     'g'), ' ') as toks
  from documents),
shl as (
  select doc_id, list_distinct([
    array_to_string(toks[i:i+2], ' ')
    for i in range(1, greatest(len(toks) - 2, 1) + 1)
  ]) as shingles from norm),
sh as (select doc_id, unnest(shingles) as s from shl),
sig as (
  select doc_id,
         min(substring(md5('salt0:' || s), 1, 8)) as sig_0,
         min(substring(md5('salt0:' || s), 9, 8)) as sig_1,
         min(substring(md5('salt0:' || s), 17, 8)) as sig_2,
         min(substring(md5('salt0:' || s), 25, 8)) as sig_3,
         min(substring(md5('salt1:' || s), 1, 8)) as sig_4,
         min(substring(md5('salt1:' || s), 9, 8)) as sig_5,
         min(substring(md5('salt1:' || s), 17, 8)) as sig_6,
         min(substring(md5('salt1:' || s), 25, 8)) as sig_7
  from sh group by doc_id),
bands as (
  select doc_id, 0 as band, md5(sig_0 || '|' || sig_1) as bh from sig
  union all
  select doc_id, 1, md5(sig_2 || '|' || sig_3) from sig
  union all
  select doc_id, 2, md5(sig_4 || '|' || sig_5) from sig
  union all
  select doc_id, 3, md5(sig_6 || '|' || sig_7) from sig),
cand as (
  select distinct a.doc_id as new_id, b.doc_id as index_id
  from bands a join bands b using (band, bh)
  where a.doc_id % 5 = 0 and b.doc_id % 5 != 0),
jac as (
  select c.new_id, c.index_id,
         round(len(list_intersect(s1.shingles, s2.shingles))::DOUBLE
               / greatest(len(list_distinct(
                     list_concat(s1.shingles, s2.shingles))), 1), 4)
           as jaccard
  from cand c
  join shl s1 on s1.doc_id = c.new_id
  join shl s2 on s2.doc_id = c.index_id)
select new_id::BIGINT as new_id, index_id::BIGINT as index_id, jaccard
from jac where jaccard >= 0.8
order by new_id, index_id
"""


def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12 (streaming near-dup probe; beyond reference): the x60
    shard split run as a STREAM — arriving documents (``doc_id % 5 ==
    0``) sign themselves row-wise (pure projection, no streaming agg),
    LSH-band-probe the standing corpus's materialized signature index
    via stream-static joins, verify exact Jaccard only on colliding
    candidates, and report each pair ONCE through a stateful
    suppression keyed by (new_id, index_id)
    (`streaming/neardup.py`).  Drained with availableNow; the batch
    probe over the same shards is the exact oracle (same pairs, same
    jaccard, pair-level dedup across micro-batches)."""
    from .streaming.curate import read_documents_stream
    from .streaming.events import run_to_memory_sink
    from .streaming.neardup import build_neardup_index, near_dup_probe_stream

    docs = load_table(spark, sf_dir, "documents")
    idx = docs.where(F.col("doc_id") % 5 != 0)
    bands, shingles = build_neardup_index(idx)
    st = (read_documents_stream(spark, sf_dir)
          .where(F.col("doc_id") % 5 == 0))
    out = run_to_memory_sink(
        near_dup_probe_stream(st, bands, shingles, threshold=0.8),
        "q_stream_neardup", output_mode="update")
    # suppression emits once per pair; the groupBy is belt-and-braces
    # against a sink-level replay (mirrors the st10/st11 final view)
    return (out.groupBy("new_id", "index_id")
            .agg(F.max("jaccard").alias("jaccard"))
            .select(F.col("new_id").cast("long").alias("new_id"),
                    F.col("index_id").cast("long").alias("index_id"),
                    "jaccard")
            .orderBy("new_id", "index_id"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on a deterministic candidate set (adjacent
    doc ids)."""
    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("id_a"),
                      (F.col("doc_id") + 1).alias("id_b"))
    pairs = ids.join(docs.select(F.col("doc_id").alias("id_b")), "id_b") \
        .where(F.col("id_a") < 50)
    return DD.ngram_jaccard(docs, pairs).orderBy("id_a", "id_b")


SQL_NGRAM_JACCARD = """
with norm as (
  select doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, greatest(len(toks) - 2, 1) + 1)
         ]) as sh
  from (select doc_id,
               string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') toks
        from documents))
select a.doc_id as id_a, b.doc_id as id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4) as jaccard
from norm a join norm b on b.doc_id = a.doc_id + 1
where a.doc_id < 50 order by id_a, id_b
"""


def q_allpairs_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74 (EXACT set-similarity self-join, AllPairs prefix filtering,
    Bayardo et al. WWW 2007 — the no-recall-loss counterpart of the
    MinHash path x11): every document pair with 3-word-shingle Jaccard
    ≥ 0.6 (`dedup.allpairs_sim_join`).  Because the algorithm is exact,
    the oracle is plain BRUTE FORCE — it certifies the prefix filter
    finds every pair, not merely that a replay agrees."""
    from .operators.dedup import allpairs_sim_join

    docs = load_table(spark, sf_dir, "documents")
    return (allpairs_sim_join(docs, threshold=0.6)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"), "jaccard")
            .orderBy("id_a", "id_b"))


SQL_ALLPAIRS_SIM_JOIN = """
with norm as (
  select doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, greatest(len(toks) - 2, 1) + 1)
         ]) as sh
  from (select doc_id,
               string_split(regexp_replace(trim(lower(text)), '\\s+', ' ',
                                           'g'), ' ') toks
        from documents
        where length(regexp_replace(trim(lower(coalesce(text, ''))),
                                    '\\s+', ' ', 'g')) > 0)),
p as (
  select a.doc_id as id_a, b.doc_id as id_b,
         len(list_intersect(a.sh, b.sh))::DOUBLE /
         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) as jac
  from norm a join norm b on a.doc_id < b.doc_id)
select id_a::BIGINT as id_a, id_b::BIGINT as id_b,
       round(jac, 6) as jaccard
from p where jac >= 0.6
order by id_a, id_b
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_table(docs).orderBy("doc_id")


def sql_simhash() -> str:
    bit_terms = []
    for bit in range(DD.SIMHASH_BITS):
        pos = bit // 4 + 1
        shift = 3 - bit % 4
        ones = (f"len(list_filter(hs, h -> "
                f"((strpos('0123456789abcdef', h[{pos}]) - 1) >> {shift}) & 1 = 1))")
        bit_terms.append(
            f"(case when 2 * {ones} > n then 1::BIGINT << {bit} else 0 end)")
    total = " + ".join(bit_terms)
    return f"""
with norm as (
  select doc_id,
         list_filter(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
                     x -> len(x) > 0) toks
  from documents),
hx as (select doc_id, list_transform(toks, t -> md5(t)) hs, len(toks) n from norm)
select doc_id, ({total})::BIGINT as simhash from hx order by doc_id
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select(
        "doc_id",
        TS.token_count().cast("long").alias("n_tokens"),
        TS.bpe_token_count().cast("long").alias("n_bpe_tokens"),
        TS.punct_ratio().alias("punct_ratio"),
        TS.stopword_ratio().alias("stopword_ratio"),
        TS.quality_score().alias("quality"))
        .orderBy("doc_id"))


def _sql_quality_expr() -> str:
    """DuckDB text of the quality formula over columns ``(text, ws)`` —
    ONE rendering shared by every oracle that scores quality (x5, x24,
    x40, st10), so the formula cannot drift between oracles."""
    stop_in = ",".join(repr(w) for w in TS.STOPWORDS)
    return f"""round(0.4 * (case when len(text) between 50 and 5000 then 1.0 else 0.3 end)
      + 0.3 * (case when round(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                           / greatest(len(text), 1), 4) <= 0.1 then 1.0 else 0.5 end)
      + 0.3 * (case when round(len(list_filter(ws, x -> lower(x) in ({stop_in})))
                           / greatest(len(ws), 1), 4) between 0.05 and 0.6
               then 1.0 else 0.5 end), 4)::DOUBLE"""


def _sql_lang_parts() -> tuple[str, str, str]:
    """``(sel, gst, cases)`` fragments for the lang-ID marker argmax —
    shared by x6/x24/x40/st10 (`order` sorted = the operator's
    first-argmax tie-break)."""
    hits = {
        lang: (f"len(list_filter(ws, x -> lower(x) in "
               f"({','.join(repr(w) for w in markers)})))")
        for lang, markers in TS.LANG_MARKERS.items()
    }
    order = sorted(hits)
    gst = "greatest(" + ", ".join(f"h_{lang}" for lang in order) + ")"
    cases = " ".join(
        f"when h_{lang} = {gst} then '{lang}'" for lang in order)
    sel = ", ".join(f"{expr} as h_{lang}" for lang, expr in hits.items())
    return sel, gst, cases


SQL_TEXT_STATS = f"""
with toks as (
  select doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) as ws
  from documents)
select doc_id,
  len(ws)::BIGINT as n_tokens,
  len(regexp_extract_all(lower(text), '{TS.TOKEN_REGEX}'))::BIGINT as n_bpe_tokens,
  round(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
        / greatest(len(text), 1), 4) as punct_ratio,
  round(len(list_filter(ws, x -> lower(x) in ({','.join(repr(w) for w in TS.STOPWORDS)})))
        / greatest(len(ws), 1), 4) as stopword_ratio,
  {_sql_quality_expr()} as quality
from toks order by doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id", TS.lang_id().alias("lang_pred"))
            .orderBy("doc_id"))


def sql_lang_id() -> str:
    sel, gst, cases = _sql_lang_parts()
    return f"""
with toks as (
  select doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) as ws
  from documents),
h as (select doc_id, {sel} from toks)
select doc_id,
       case when {gst} = 0 then 'und' {cases} end as lang_pred
from h order by doc_id
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id", TS.fingerprint().alias("fingerprint"))
            .orderBy("doc_id"))


SQL_FINGERPRINT = """
select doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) as fingerprint
from documents order by doc_id
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals (beyond reference):
    dup-token fraction and top-bigram coverage, both as shuffle-free
    codegen projections (the top bigram via sorted-runs F.aggregate, not
    explode+groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    return (TS.with_repetition_stats(docs)
            .select("doc_id", "dup_token_fraction", "top_bigram_fraction")
            .orderBy("doc_id"))


SQL_REPETITION_STATS = """
with toks as (
  select doc_id,
         list_filter(string_split_regex(text, '\\s+'),
                     x -> len(x) > 0) as t
  from documents
), bg as (
  select doc_id, t[i] || ' ' || t[i + 1] as bigram
  from toks, unnest(generate_series(1, len(t) - 1)) as u(i)
), topbg as (
  select doc_id, max(cnt) as best
  from (select doc_id, bigram, count(*) as cnt from bg group by 1, 2)
  group by 1
)
select k.doc_id,
       case when len(t) = 0 then 0.0
            else round(1.0 - len(list_distinct(t)) / len(t), 4)
       end as dup_token_fraction,
       round(least(1.0, coalesce(best, 0) * 2.0 / greatest(len(t), 1)), 4)
         as top_bigram_fraction
from toks k left join topbg using (doc_id)
order by doc_id
"""


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data pipeline: stats -> quality/lang gate ->
    fingerprint dedup -> greedy token-budget fill (distributed prefix
    sum).  Every stage is deterministic, so the whole composition has an
    exact SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    out = TS.select_training_corpus(docs, min_quality=0.7, langs=("en",),
                                    token_budget=5000)
    return out.orderBy("doc_id")


def sql_training_corpus() -> str:
    sel, gst, cases = _sql_lang_parts()
    return f"""
with toks as (
  select doc_id, text, source,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) as ws
  from documents),
s as (
  select doc_id, source,
    len(ws)::BIGINT as n_tokens,
    {_sql_quality_expr()} as quality,
    {sel},
    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) as fingerprint
  from toks),
lp as (
  select *, case when {gst} = 0 then 'und' {cases} end as lang_pred from s),
gated as (
  select doc_id, source, lang_pred, quality, n_tokens, fingerprint
  from lp where quality >= 0.7 and lang_pred in ('en')),
dedup as (
  select * from (select *, row_number() over
      (partition by fingerprint order by doc_id) as rn from gated)
  where rn = 1),
budget as (
  select doc_id, source, lang_pred, quality, n_tokens, fingerprint,
         coalesce(sum(n_tokens) over (order by quality desc, doc_id
                  rows between unbounded preceding and 1 preceding), 0) as cum
  from dedup)
select doc_id, source, lang_pred, quality, n_tokens, fingerprint
from budget where cum < 5000 order by doc_id
"""


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to vec_id 0's embedding."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return SIM.topk_cosine(emb, qv, 10)


SQL_SIM_TOPK = """
with q as (select embedding::DOUBLE[] v from embeddings where vec_id = 0)
select vec_id,
       round(list_dot_product(embedding::DOUBLE[], q.v) /
             greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.v, q.v)), 1e-12), 6) as cos_sim
from embeddings, q
order by cos_sim desc, vec_id limit 10
"""


def _plane_lits() -> list[str]:
    planes = SIM.hyperplanes(64, 8, seed=42)
    return ["[" + ",".join(repr(x) for x in p) + "]::DOUBLE[]" for p in planes]


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X44: k-NN classification over the embeddings table — per-label
    votes among vec 0's 15 exact-cosine nearest neighbours (self
    included, as in x8's top-k); row 1 is the prediction."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    v = SIM.knn_votes(emb, qv, k=15)
    return v.select(F.col("label").cast("long").alias("label"),
                    F.col("votes").cast("long").alias("votes"))


SQL_KNN_CLASSIFY = """
with q as (select embedding::DOUBLE[] v from embeddings where vec_id = 0),
top as (
  select vec_id,
         round(list_dot_product(embedding::DOUBLE[], q.v) /
               greatest(sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.v, q.v)), 1e-12),
               6) as cos_sim
  from embeddings, q
  order by cos_sim desc, vec_id limit 15)
select e.label::BIGINT as label, count(*)::BIGINT as votes
from top t join embeddings e using (vec_id)
group by e.label
order by votes desc, label
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 (hard-negative mining, FaceNet triplet protocol — the
    training-loop consumer of the similarity family): for each of the
    first 8 anchors, the most-similar embedding with a DIFFERENT label
    (`similarity.hard_negatives`).  The anchor batch broadcasts, the
    corpus streams through a broadcast nested-loop join, and the
    per-anchor argmax is a map-side-combinable min-struct aggregate;
    ties broken (sim desc, neg_id) after 6-dp rounding so the pick is
    oracle-replayable."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 8)
    return (SIM.hard_negatives(emb, anchors)
            .select(F.col("q_id").cast("long").alias("q_id"),
                    F.col("q_label").cast("long").alias("q_label"),
                    F.col("neg_id").cast("long").alias("neg_id"),
                    "neg_sim")
            .orderBy("q_id"))


SQL_HARD_NEGATIVES = """
with q as (select vec_id as q_id, label as q_label, embedding::DOUBLE[] v
           from embeddings where vec_id < 8),
s as (
  select q.q_id, q.q_label, e.vec_id as neg_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.v) /
               greatest(sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.v, q.v)), 1e-12),
               6) as neg_sim
  from embeddings e join q on e.label <> q.q_label),
r as (select *, row_number() over (partition by q_id
                                   order by neg_sim desc, neg_id) as rn
      from s)
select q_id::BIGINT as q_id, q_label::BIGINT as q_label,
       neg_id::BIGINT as neg_id, neg_sim
from r where rn = 1 order by q_id
"""


def q_edit_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 (edit-distance near-duplicates — the character-level dedup
    beside shingle-Jaccard x3 / MinHash x11 / SimHash x4): pairs within
    10% relative Levenshtein distance, candidates from affix blocking
    (four keys per doc: own + adjacent length-band × 8-char prefix /
    suffix — the adjacent band removes the boundary cliff), the
    quadratic DP only on colliding pairs surviving the free
    length-difference prune (`dedup.edit_near_dup`).  The oracle
    replays the identical blocking + DuckDB's levenshtein."""
    from .operators.dedup import edit_near_dup

    docs = load_table(spark, sf_dir, "documents")
    return (edit_near_dup(docs, max_rel_dist=0.1)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                    "dist", "edit_sim")
            .orderBy("id_a", "id_b"))


SQL_EDIT_NEAR_DUP = """
with n as (
  select doc_id as id,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') as t
  from documents
  where length(regexp_replace(trim(lower(coalesce(text, ''))),
                              '\\s+', ' ', 'g')) > 0),
b as (
  select id, t,
         unnest(['p|' || (len(t) // 16)::VARCHAR || '|' || left(t, 8),
                 's|' || (len(t) // 16)::VARCHAR || '|' || right(t, 8),
                 'p|' || (len(t) // 16 + 1)::VARCHAR || '|' || left(t, 8),
                 's|' || (len(t) // 16 + 1)::VARCHAR || '|' || right(t, 8)])
           as bk
  from n),
c as (select distinct a.id as id_a, b2.id as id_b, a.t as ta, b2.t as tb
      from b a join b b2 using (bk) where a.id < b2.id),
d as (select id_a, id_b, levenshtein(ta, tb) as dist,
             greatest(len(ta), len(tb)) as ml
      from c)
select id_a::BIGINT as id_a, id_b::BIGINT as id_b, dist::BIGINT as dist,
       round(1.0::DOUBLE - dist / ml, 6) as edit_sim
from d where dist <= floor(0.1::DOUBLE * ml)
order by id_a, id_b
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71 (PageRank, Page et al. 1999 — the host-level quality prior
    of web-corpus curation, here over the nation-level purchase graph):
    edges are (customer nation → supplier nation) pairs from lineitem ⋈
    orders ⋈ customer ⋈ supplier, parallel edges weighing 1 each; 6
    damped iterations (`operators/graphrank.pagerank`: edge-relational,
    rank lineage truncated per iteration, dangling mass redistributed).
    The oracle unrolls the identical recurrence as chained CTEs —
    literal-for-literal the same IEEE operand order, so ranks match at
    full precision before the 6-dp display rounding."""
    from .operators.graphrank import pagerank

    t = load_tables(spark, sf_dir)
    edges = (t["lineitem"]
             .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
             .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
             .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
             .select(F.col("c_nationkey").alias("src"),
                     F.col("s_nationkey").alias("dst")))
    return (pagerank(edges, n_iter=6, damping=0.85)
            .select(F.col("node").cast("long").alias("node"),
                    F.round("rank", 6).alias("rank"))
            .orderBy("node"))


def _sql_pagerank(n_iter: int = 6, d: float = 0.85) -> str:
    """Unrolled-CTE replay of the exact pagerank recurrence.  Float
    literals are emitted from the SAME Python doubles the operator uses
    (e.g. ``(1.0-d)`` is 0.15000000000000002 in both engines), so every
    iteration multiplies/divides identical IEEE operands."""
    parts = ["""
with ew as (
  select c.c_nationkey as src, s.s_nationkey as dst, count(*)::DOUBLE as w
  from lineitem l
  join orders o on l.l_orderkey = o.o_orderkey
  join customer c on o.o_custkey = c.c_custkey
  join supplier s on l.l_suppkey = s.s_suppkey
  group by 1, 2),
trans as (select src, dst, w / sum(w) over (partition by src) as p from ew),
nodes as (select src as node from ew union select dst from ew),
nn as (select count(*)::DOUBLE as n from nodes),
rk0 as (select node, 1.0 / nn.n as rank from nodes cross join nn)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
dm{i} as (select coalesce(sum(rank), 0.0) as m from rk{i - 1}
          where node not in (select src from trans)),
cb{i} as (select t.dst as node, sum(r.rank * t.p) as c
          from rk{i - 1} r join trans t on t.src = r.node group by t.dst),
rk{i} as (select n.node,
                 {(1.0 - d)!r} / nn.n
                 + {d!r} * (coalesce(cb{i}.c, 0.0) + dm{i}.m / nn.n) as rank
          from nodes n cross join nn cross join dm{i}
          left join cb{i} on cb{i}.node = n.node)""")
    parts.append(f"""
select node::BIGINT as node, round(rank, 6) as rank
from rk{n_iter} order by node""")
    return "".join(parts)


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket histogram — the partition layout of the ANN scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = SIM.hyperplanes(64, 8, seed=42)
    b = SIM.with_lsh_bucket(emb, planes)
    return (b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bucket"))


def sql_lsh_buckets() -> str:
    lits = _plane_lits()
    bucket = " + ".join(
        f"(case when list_dot_product(embedding::DOUBLE[], {lit}) > 0 "
        f"then 1::BIGINT << {i} else 0 end)"
        for i, lit in enumerate(lits))
    return f"""
select ({bucket})::BIGINT as bucket, count(*) as n
from embeddings group by 1 order by bucket
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79 (retrieval-quality evaluation IN-ENGINE — closes the loop
    on the search family: the ANN shortcuts x9/x16 trade recall for
    candidates, this MEASURES the trade): recall@10 and binary-nDCG@10
    of the LSH- and IVF-probed top-10 against the exact x8 baseline
    for vec 0's query (`similarity.ranking_metrics`; ranks from the
    family's own (cos_sim desc, id) total order, never physical row
    order).  The LSH arm pins probe_hamming=0 explicitly — the oracle
    replays the single-bucket probe; the operator's DEFAULT now
    derives a multi-probe radius (derive_probe_hamming)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = SIM.topk_cosine(emb, qv, 10)
    planes = SIM.hyperplanes(64, 8, seed=42)
    lsh = SIM.topk_cosine_lsh(emb, qv, 10, planes=planes,
                              probe_hamming=0)
    cents = _ivf_seed_centroids(emb)
    ivf = SIM.topk_cosine_ivf(emb, qv, 10, centroids=cents, nprobe=2)
    out = (SIM.ranking_metrics(ivf, exact, 10)
           .withColumn("method", F.lit("ivf"))
           .unionByName(SIM.ranking_metrics(lsh, exact, 10)
                        .withColumn("method", F.lit("lsh"))))
    return (out.select("method", F.col("k").cast("long").alias("k"),
                       "n_hits", "recall_at_k", "ndcg_at_k")
            .orderBy("method"))


def _sql_ann_recall(k: int = 10) -> str:
    lits = _plane_lits()
    bucket = " + ".join(
        f"(case when list_dot_product(embedding::DOUBLE[], {lit}) > 0 "
        f"then 1::BIGINT << {i} else 0 end)"
        for i, lit in enumerate(lits))
    cos = ("round(list_dot_product(e.embedding::DOUBLE[], q.v) /"
           " greatest(sqrt(list_dot_product(e.embedding::DOUBLE[],"
           " e.embedding::DOUBLE[]))"
           " * sqrt(list_dot_product(q.v, q.v)), 1e-12), 6)")
    return f"""
with q as (select embedding::DOUBLE[] as v from embeddings
           where vec_id = 0),
scored as (select e.vec_id, {cos} as cs from embeddings e, q),
exact as (select vec_id from scored order by cs desc, vec_id
          limit {k}),
buck as (select vec_id, ({bucket})::BIGINT as bk from embeddings),
lsh_r as (
  select s.vec_id, row_number() over (order by s.cs desc, s.vec_id)
           as rank
  from scored s join buck b using (vec_id)
  where b.bk = (select bk from buck where vec_id = 0)),
cents as (select vec_id as cell, embedding::DOUBLE[] as cv
          from embeddings where vec_id < 8),
assigned as (
  select e.vec_id, c.cell,
         row_number() over (partition by e.vec_id
             order by list_dot_product(e.embedding::DOUBLE[], c.cv) desc,
                      c.cell) as rn
  from embeddings e cross join cents c),
probe as (select cell from cents, q
          order by list_dot_product(q.v, cv) desc, cell limit 2),
ivf_r as (
  select s.vec_id, row_number() over (order by s.cs desc, s.vec_id)
           as rank
  from scored s
  join (select vec_id from assigned a join probe using (cell)
        where a.rn = 1) c using (vec_id)),
m as (
  select 'lsh' as method,
         count(*) filter (where e.vec_id is not null) as n_hits,
         coalesce(sum(1.0::DOUBLE / log2(r.rank + 1))
                  filter (where e.vec_id is not null), 0.0) as dcg
  from lsh_r r left join exact e using (vec_id) where r.rank <= {k}
  union all
  select 'ivf',
         count(*) filter (where e.vec_id is not null),
         coalesce(sum(1.0::DOUBLE / log2(r.rank + 1))
                  filter (where e.vec_id is not null), 0.0)
  from ivf_r r left join exact e using (vec_id) where r.rank <= {k}),
norm as (
  -- recall and ideal DCG both normalize by min(k, |exact|), matching
  -- ranking_metrics: a shorter exact result set must not deflate
  -- (recall) or inflate (nDCG) the score
  select count(*) as n_exact,
         sum(1.0::DOUBLE / log2(rn + 1)) as ideal
  from (select row_number() over () as rn from exact))
select method, {k}::BIGINT as k, n_hits::BIGINT as n_hits,
       round(n_hits / norm.n_exact::DOUBLE, 6) as recall_at_k,
       round(dcg / norm.ideal, 6) as ndcg_at_k
from m cross join norm order by method
"""


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83 (product-quantization ANN, Jégou et al. 2011 — the
    compressed member of the ANN family: brute x8 → LSH x9 → IVF
    x15/x16 → materialized/incremental x42/x77 → PQ): 64-dim vectors
    quantized to 4 one-byte codes under seed codebooks (subvectors of
    vec_id < 8 — iters=0, so training determinism rides the x41-pinned
    ivf_train machinery), then asymmetric-distance top-10 for vec_id
    0's un-quantized query.  The oracle replays the same subspace
    argmax + lookup-table sum in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = SIM.pq_train(emb, m=4, k_codes=8, iters=0)
    enc = SIM.pq_encode(emb, books)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return (SIM.pq_topk(enc, books, qv, 10)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    "adc_sim"))


SQL_PQ_TOPK = """
with q as (select embedding::DOUBLE[] as v from embeddings
           where vec_id = 0),
sub as (select unnest(range(0, 4)) as j),
seeds as (select vec_id as code, embedding::DOUBLE[] as sv
          from embeddings where vec_id < 8),
best as (
  select e.vec_id, s.j, c.code,
         row_number() over (partition by e.vec_id, s.j
             order by list_dot_product(
                 list_slice(e.embedding::DOUBLE[], s.j*16+1, s.j*16+16),
                 list_slice(c.sv, s.j*16+1, s.j*16+16)) desc,
             c.code) as rn,
         list_dot_product(list_slice(q.v, s.j*16+1, s.j*16+16),
                          list_slice(c.sv, s.j*16+1, s.j*16+16))
           as contrib
  from embeddings e cross join sub s cross join seeds c, q),
scored as (
  select vec_id, sum(contrib) as adc from best where rn = 1
  group by vec_id)
select vec_id::BIGINT as vec_id, round(adc, 6) as adc_sim
from scored order by adc_sim desc, vec_id limit 10
"""


def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84 (PQ-with-refine, the FAISS IndexRefineFlat pattern): the x83
    ADC search widened to a 50-candidate shortlist, then EXACT cosine
    re-ranks only those rows — membership approximate, scores exact
    (`similarity.pq_topk_rerank`).  At scale the corpus-sized scan
    touches the m-byte codes; the raw vectors are read for 50 rows.
    Oracle: the x83 replay's shortlist piped through the exact-cosine
    top-10."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = SIM.pq_train(emb, m=4, k_codes=8, iters=0)
    enc = SIM.pq_encode(emb, books)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return (SIM.pq_topk_rerank(enc, emb, books, qv, 10, shortlist=50)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    "cos_sim"))


SQL_PQ_RERANK = """
with q as (select embedding::DOUBLE[] as v from embeddings
           where vec_id = 0),
sub as (select unnest(range(0, 4)) as j),
seeds as (select vec_id as code, embedding::DOUBLE[] as sv
          from embeddings where vec_id < 8),
best as (
  select e.vec_id, s.j, c.code,
         row_number() over (partition by e.vec_id, s.j
             order by list_dot_product(
                 list_slice(e.embedding::DOUBLE[], s.j*16+1, s.j*16+16),
                 list_slice(c.sv, s.j*16+1, s.j*16+16)) desc,
             c.code) as rn,
         list_dot_product(list_slice(q.v, s.j*16+1, s.j*16+16),
                          list_slice(c.sv, s.j*16+1, s.j*16+16))
           as contrib
  from embeddings e cross join sub s cross join seeds c, q),
shortlist as (
  select vec_id, round(sum(contrib), 6) as adc from best where rn = 1
  group by vec_id order by adc desc, vec_id limit 50)
select e.vec_id::BIGINT as vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], q.v) /
             greatest(sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.v, q.v)), 1e-12), 6)
         as cos_sim
from embeddings e join shortlist using (vec_id), q
order by cos_sim desc, e.vec_id limit 10
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85 (HyperLogLog, Flajolet et al. 2007 — the fixed-size sibling
    of the KMV sketch x17: 64 one-byte registers per group however
    large the cardinality): per-event-type distinct-user estimates from
    the register relation (`sketches.hll_registers` — ONE map-side-
    combinable shuffle — then `hll_estimate` with linear-counting
    small-range correction).  Same portable md5-prefix hash as KMV, so
    the oracle replays registers bit-for-bit; rho comes from binary
    string length, never floor(log2) (engine-dependent at powers of
    two)."""
    from .operators import sketches as SK

    ev = load_table(spark, sf_dir, "events")
    return (SK.approx_distinct_hll(ev, "user_id",
                                   group_cols=["event_type"])
            .orderBy("event_type"))


def sql_hll_distinct(p: int = 6) -> str:
    poly = " + ".join(
        f"(instr('0123456789abcdef', substr(__h__, {i + 1}, 1)) - 1)"
        f" * {16 ** (8 - i - 1)}"
        for i in range(8))
    wb = 32 - p
    m = float(2 ** p)
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}[p]
    return f"""
with h as (
  select event_type, ({poly})::BIGINT as kh
  from (select event_type,
               substr(md5(user_id::VARCHAR), 1, 8) as __h__
        from events)),
regs as (
  select event_type, kh // {2 ** wb} as idx,
         max(case when kh % {2 ** wb} = 0 then {wb + 1}
             else {wb + 1} - length(bin(kh % {2 ** wb})) end) as rho
  from h group by event_type, kh // {2 ** wb}),
agg as (
  select event_type, count(*) as n,
         sum(pow(2.0, -rho)) as s
  from regs group by event_type)
select event_type,
       round(case when {alpha * m * m!r} / (s + ({m!r} - n)) <= {2.5 * m!r}
                   and n < {2 ** p}
             then {m!r} * ln({m!r} / ({m!r} - n))
             else {alpha * m * m!r} / (s + ({m!r} - n)) end,
             4) as distinct_est
from agg order by event_type
"""


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86 (Johnson-Lindenstrauss random projection — the pre-ANN
    compression: 64 dims → 16 Gaussian projections preserving dot
    products within 1±eps): per vector, the first projected component
    and the projected L2 norm (`similarity.random_project` — the
    deterministic seed-42 matrix ships as literals, the projection is
    16 in-codegen dot products, no shuffle).  The oracle carries the
    SAME matrix as SQL literals."""
    emb = load_table(spark, sf_dir, "embeddings")
    pr = SIM.random_project(emb, out_dim=16, seed=42)
    comp = F.element_at("proj", 1)
    nrm = F.sqrt(F.aggregate("proj", F.lit(0.0),
                             lambda a, x: a + x * x))
    return (pr.select(F.col("vec_id").cast("long").alias("vec_id"),
                      F.round(comp, 6).alias("p1"),
                      F.round(nrm, 6).alias("pnorm"))
            .orderBy("vec_id"))


def sql_jl_project() -> str:
    rows = SIM.projection_matrix(64, 16, seed=42)
    lits = ",\n    ".join(
        "[" + ",".join(repr(x) for x in r) + "]::DOUBLE[]" for r in rows)
    return f"""
with m as (
  select unnest(range(1, 17)) as i,
         unnest([
    {lits}
  ]) as row),
p as (
  select e.vec_id, m.i,
         list_dot_product(e.embedding::DOUBLE[], m.row) as c
  from embeddings e cross join m)
select vec_id::BIGINT as vec_id,
       round(max(case when i = 1 then c end), 6) as p1,
       round(sqrt(sum(c * c)), 6) as pnorm
from p group by vec_id order by vec_id
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16 (streaming exact dedup — the ingest twin of batch x1):
    ``dropDuplicatesWithinWatermark`` on (user_id, event_type) over the
    events stream with a horizon covering the corpus, drained append-
    mode, then counted per event_type.  Stream == batch because every
    duplicate lands inside the horizon, so survivors are exactly the
    distinct pairs — the oracle counts them directly; which physical
    row survives is arrival-dependent, so the QUERY aggregates to the
    pair level where the result is deterministic."""
    from .streaming import read_events_stream
    from .streaming.events import exact_dedup_stream, run_to_memory_sink

    st = read_events_stream(spark, sf_dir)
    dd = exact_dedup_stream(st, ["user_id", "event_type"],
                            horizon="3650 days")
    sunk = run_to_memory_sink(dd, f"st16_dedup_{abs(hash(sf_dir)) % 997}",
                              output_mode="append")
    return (sunk.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("event_type"))


SQL_STREAM_DEDUP = """
select event_type, count(distinct user_id)::BIGINT as n_pairs
from events group by event_type order by event_type
"""


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87 (per-key ordered feature engineering — lag / trailing-mean /
    windowed-EWMA features over each user's event history,
    `operators/features.rolling_features`): every feature rides ONE
    partitionBy(user) window pass (single Exchange, plan-pinned in
    tests).  The EWMA is the 8-term WINDOW-SEEDED recursion (pandas
    ewm(adjust=False) seeding — exact for histories within the window;
    st17's stateful stream carries the exact recursion unboundedly) —
    the unbounded form would need Python-per-key or an overflowing
    prefix-sum; the oracle replays the identical lag expansion with
    the same coefficient literals."""
    from .operators.features import rolling_features

    ev = load_table(spark, sf_dir, "events")
    out = rolling_features(ev, "user_id", "ts", "value",
                           tiebreak=["event_id"])
    return (out.select(F.col("user_id").cast("long").alias("user_id"),
                       F.col("event_id").cast("long").alias("event_id"),
                       F.round("lag1", 6).alias("lag1"),
                       F.round("ma5", 6).alias("ma5"),
                       F.round("ewma", 6).alias("ewma"))
            .orderBy("user_id", "event_id"))


def sql_rolling_features(alpha: float = 0.3, terms: int = 8) -> str:
    # the window-seeded convention: lag i weighs alpha*(1-alpha)^i,
    # except the oldest visible observation (no older lag, or the
    # window edge i = terms-1) which takes the full (1-alpha)^i mass —
    # identical coefficient literals and summation order as the
    # operator (0.0 + term_0 + term_1 + ...)
    parts = []
    for i in range(terms):
        x = "value" if i == 0 else f"lag(value, {i}) over w"
        full = float((1.0 - alpha) ** i)
        part = float(alpha * (1.0 - alpha) ** i)
        if i == terms - 1:
            c = f"{full!r}"
        else:
            older = f"lag(value, {i + 1}) over w"
            c = f"(case when {older} is null then {full!r} else {part!r} end)"
        parts.append(f"coalesce({x} * {c}, 0.0)")
    num = " + ".join(["0.0"] + parts)
    return f"""
select user_id::BIGINT as user_id, event_id::BIGINT as event_id,
       round(lag(value) over w, 6) as lag1,
       round(avg(value) over (partition by user_id order by ts, event_id
                              rows between 4 preceding and current row),
             6) as ma5,
       round({num}, 6) as ewma
from events
window w as (partition by user_id order by ts, event_id)
order by user_id, event_id
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88 (tokenizer-vocabulary coverage audit — the QA gate before
    shipping a tokenizer and the drift alarm after ingesting a new
    source): vocabulary = corpus words with >= 20 occurrences
    (`bpe.word_counts`), then per-document OOV counts via
    `bpe.vocab_coverage` (broadcast vocab join over a map-side-combined
    per-(doc, word) pre-aggregation — no corpus-sized shuffle beyond
    the explode)."""
    from .operators.bpe import vocab_coverage, word_counts

    docs = load_table(spark, sf_dir, "documents")
    vocab = word_counts(docs).where(F.col("cnt") >= 20)
    return (vocab_coverage(docs, vocab)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_words").cast("long").alias("n_words"),
                    F.col("n_oov").cast("long").alias("n_oov"),
                    "oov_rate")
            .orderBy("doc_id"))


SQL_VOCAB_COVERAGE = """
with w as (
  select doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '')) as w
  from documents),
vocab as (select w from w group by w having count(*) >= 20),
per_doc as (
  select w.doc_id, count(*) as n_words,
         sum(case when v.w is null then 1 else 0 end) as n_oov
  from w left join vocab v using (w)
  group by w.doc_id)
select d.doc_id::BIGINT as doc_id,
       coalesce(p.n_words, 0)::BIGINT as n_words,
       coalesce(p.n_oov, 0)::BIGINT as n_oov,
       case when coalesce(p.n_words, 0) > 0
            then round(p.n_oov / p.n_words::DOUBLE, 6) end as oov_rate
from documents d left join per_doc p using (doc_id)
order by d.doc_id
"""


def q_asha_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 (async ASHA on a REAL worker pool — the physical execution
    the reference gets from Ray Tune, `search.asha_async_search` with
    n_workers=4 threads whose NumPy trials overlap because BLAS
    releases the GIL): returns ONE row of timing-independent invariant
    checks — rung-0 starts cover the grid exactly once, every
    (rung, config) promotion is unique, higher rungs are subsets of
    the rung below, and the winner is the final-rung argmin — plus the
    observed concurrency high-water mark (INFORMATIONAL: whether the
    pool overlapped is a scheduling-timing fact, not an invariant, so
    it is reported as a number rather than gated as a boolean).  Job
    COUNT and order are completion-timing-dependent (exactly as on
    Ray), which is why this key is rows-only: the invariants are the
    deterministic surface.
    Scheduling-rule correctness itself is e14's literal oracle: the
    same scheduler at n_workers=1, every decision re-simulated."""
    from .model import TrainConfig
    from .model.bridge import training_matrix
    from .model.search import asha_async_search

    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount"]
    codes, domains = training_matrix(
        li, cols, max_rows=20_000, seed=42,
        id_cols=["l_orderkey", "l_linenumber"])
    bins = [(c, domains[c].dom_size) for c in cols]
    base = TrainConfig(epochs=8, batch_size=1024, seed=42)
    best, trials, infl = asha_async_search(
        bins, codes, base, d_words=(8, 16), d_ffs=(16, 32),
        eta=2, min_epochs=2, n_workers=4)
    grid = {(dw, dff) for dw in (8, 16) for dff in (16, 32)}
    starts = [(t.cfg.d_word, t.cfg.d_ff) for t in trials if t.rung == 0]
    promos = [(t.rung, t.cfg.d_word, t.cfg.d_ff)
              for t in trials if t.promoted_from is not None]
    by_rung: dict[int, set] = {}
    for t in trials:
        by_rung.setdefault(t.rung, set()).add(
            (t.cfg.d_word, t.cfg.d_ff))
    final = max(by_rung)
    finals = [(t.val_loss, t.cfg.d_word, t.cfg.d_ff)
              for t in trials if t.rung == final]
    return local_df(spark,
        [(sorted(starts) == sorted(grid),
          len(promos) == len(set(promos)),
          all(by_rung[r] <= by_rung[r - 1] for r in by_rung if r > 0),
          (best.cfg.d_word, best.cfg.d_ff) == min(finals)[1:],
          int(infl))],
        "starts_complete boolean, promos_unique boolean, "
        "rungs_nested boolean, winner_is_argmin boolean, "
        "max_inflight bigint")


def q_stream_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST17 (streaming rolling features — the ingest twin of x87, and
    the half of the duality batch can't have: state carries the EWMA
    forward, so the stream computes the EXACT recursion
    s_i = a·x_i + (1-a)·s_{i-1} that the batch operator deliberately
    truncates).  `streaming/stateful.rolling_features_stream`, drained
    append-mode; the oracle replays the exact recursion as a recursive
    CTE with the same coefficient literals and IEEE operand order.

    The stream is drained in ONE micro-batch (max_files_per_trigger
    covers the whole table): rolling_features_stream drops cross-batch
    out-of-order events (watermark-style late policy), and the oracle
    folds every event, so a per-file micro-batch schedule would
    silently diverge on any events layout whose per-key rows are not
    globally ts-ordered across files.  Single-batch drain makes the
    in-batch (ts, id) sort total, so parity holds for ANY file layout;
    test_streaming_stateful.py pins the divergence-and-fix pair on a
    deliberately out-of-order two-file table."""
    from .streaming import read_events_stream
    from .streaming.events import run_to_memory_sink
    from .streaming.stateful import rolling_features_stream

    st = read_events_stream(spark, sf_dir, max_files_per_trigger=1_000_000)
    out = run_to_memory_sink(
        rolling_features_stream(st, alpha=0.3),
        f"st17_feat_{abs(hash(sf_dir)) % 997}", output_mode="append")
    return (out.select(F.col("user_id").cast("long").alias("user_id"),
                       F.col("event_id").cast("long").alias("event_id"),
                       F.round("lag1", 6).alias("lag1"),
                       F.round("ewma", 6).alias("ewma"))
            .orderBy("user_id", "event_id"))


def sql_stream_features(alpha: float = 0.3) -> str:
    a, b = float(alpha), float(1.0 - alpha)
    return f"""
with recursive base as (
  select user_id, event_id, value::DOUBLE as value,
         row_number() over (partition by user_id
                            order by ts, event_id) as rn
  from events),
r as (
  select user_id, event_id, value, rn,
         cast(null as double) as lag1, value as ewma
  from base where rn = 1
  union all
  select b2.user_id, b2.event_id, b2.value, b2.rn,
         r.value as lag1,
         {a!r} * b2.value + {b!r} * r.ewma as ewma
  from base b2 join r on b2.user_id = r.user_id and b2.rn = r.rn + 1)
select user_id::BIGINT as user_id, event_id::BIGINT as event_id,
       round(lag1, 6) as lag1, round(ewma, 6) as ewma
from r order by user_id, event_id
"""


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89 (robust per-group outlier scoring — median/MAD modified
    z-scores + winsorized clipping, `profile.robust_outliers`: the
    heavy-tail-safe complement to x80's mean/std battery — outliers
    can't drag the scale estimate they're judged against).  Two exact
    grouped percentiles + two broadcast joins of group-domain-sized
    stat relations.  The oracle replays with quantile_cont (the same
    linear interpolation as Spark's percentile) and the identical
    0.6745 constant."""
    from .operators.profile import robust_outliers

    ev = load_table(spark, sf_dir, "events")
    out = robust_outliers(ev, "user_id", "value",
                          id_cols=["event_id"])
    return (out.select(F.col("user_id").cast("long").alias("user_id"),
                       F.col("event_id").cast("long").alias("event_id"),
                       F.round("value", 6).alias("value"),
                       F.round("robust_z", 6).alias("robust_z"),
                       "is_outlier",
                       F.round("clipped", 6).alias("clipped"))
            .orderBy("user_id", "event_id"))


SQL_ROBUST_OUTLIERS = """
with med as (
  select user_id,
         quantile_cont(value, 0.5) as med,
         quantile_cont(value, 0.05) as lo,
         quantile_cont(value, 0.95) as hi
  from events group by user_id),
mad as (
  select e.user_id,
         quantile_cont(abs(e.value - m.med), 0.5) as mad
  from events e join med m using (user_id) group by e.user_id),
z as (
  select e.user_id, e.event_id, e.value::DOUBLE as value,
         case when d.mad > 0
              then 0.6745 * (e.value - m.med) / d.mad end as rz,
         greatest(least(e.value::DOUBLE, m.hi), m.lo) as clipped
  from events e join med m using (user_id) join mad d using (user_id))
select user_id::BIGINT as user_id, event_id::BIGINT as event_id,
       round(value, 6) as value, round(rz, 6) as robust_z,
       coalesce(abs(rz) > 3.5, false) as is_outlier,
       round(clipped, 6) as clipped
from z order by user_id, event_id
"""


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 (balanced shard export — the corpus's LAST step: assign
    docs to 8 output shards with near-equal token budgets, since
    training ranks read one shard each and imbalance is step-time
    imbalance).  `packing.shard_plan`: boustrophedon round-robin by
    global token rank, the rank from `prefix.with_global_index`
    (partition-offset prefix sums — never a one-partition window).
    The oracle replays rank + the serpentine formula."""
    from .operators.bpe import word_counts  # noqa: F401 (doc xref)
    from .operators.packing import shard_plan
    from .operators.textstats import lower_words

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.coalesce(lower_words("text"),
                          F.array().cast("array<string>")))
        .alias("n_toks"))
    return (shard_plan(toks, n_shards=8)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_toks").cast("long").alias("n_toks"),
                    "shard")
            .orderBy("doc_id"))


SQL_SHARD_PLAN = """
with t as (
  select doc_id,
         len(list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
                                            '\\s+'),
                         x -> x <> '')) as n_toks
  from documents),
r as (
  select doc_id, n_toks,
         row_number() over (order by n_toks desc, doc_id) - 1 as idx
  from t)
select doc_id::BIGINT as doc_id, n_toks::BIGINT as n_toks,
       (case when idx % 16 < 8 then idx % 16
             else 15 - idx % 16 end)::INT as shard
from r order by doc_id
"""


NEAR_DUP_BANDS = 4
NEAR_DUP_ROWS_PER_BAND = 8


def q_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: banded sign-LSH candidate join
    (4 bands x 8 planes) + exact cosine verification (approximate by
    design; deterministic planes, so the oracle re-derives the same
    candidate set)."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = SIM.hyperplanes(
        64, NEAR_DUP_BANDS * NEAR_DUP_ROWS_PER_BAND, seed=42)
    return SIM.near_dup_pairs(emb, threshold=0.35, planes=planes,
                              n_bands=NEAR_DUP_BANDS,
                              rows_per_band=NEAR_DUP_ROWS_PER_BAND)


def sql_near_dup() -> str:
    planes = SIM.hyperplanes(
        64, NEAR_DUP_BANDS * NEAR_DUP_ROWS_PER_BAND, seed=42)
    lits = ["[" + ",".join(repr(x) for x in p) + "]::DOUBLE[]"
            for p in planes]
    r = NEAR_DUP_ROWS_PER_BAND
    band_selects = []
    for b in range(NEAR_DUP_BANDS):
        bucket = " + ".join(
            f"(case when list_dot_product(embedding::DOUBLE[], "
            f"{lits[b * r + i]}) > 0 then 1::BIGINT << {i} else 0 end)"
            for i in range(r))
        band_selects.append(
            f"select vec_id, {b} as band, ({bucket})::BIGINT as bk "
            f"from embeddings")
    bands = "\nunion all\n".join(band_selects)
    cos = ("list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /"
           " (sqrt(list_dot_product(ea.embedding::DOUBLE[],"
           " ea.embedding::DOUBLE[]))"
           " * sqrt(list_dot_product(eb.embedding::DOUBLE[],"
           " eb.embedding::DOUBLE[])))")
    return f"""
with x as (
{bands}),
cand as (
  select distinct a.vec_id as id_a, c.vec_id as id_b
  from x a join x c on a.band = c.band and a.bk = c.bk
                   and a.vec_id < c.vec_id)
select id_a, id_b, round({cos}, 6) as cos_sim
from cand
join embeddings ea on ea.vec_id = id_a
join embeddings eb on eb.vec_id = id_b
where round({cos}, 6) >= 0.35
order by id_a, id_b
"""


def _ivf_seed_centroids(emb: DataFrame, k: int = 8) -> list[list[float]]:
    rows = emb.where(F.col("vec_id") < k).orderBy("vec_id").collect()
    return [[float(x) for x in r["embedding"]] for r in rows]


def q_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization (ANN scale path): per-cell histogram under
    a sampled quantizer (centroids = embeddings of vec_id < 8).  At scale
    the assigned table is written partitioned by cell so probes become
    partition pruning."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_seed_centroids(emb)
    return (SIM.ivf_assign(emb, cents)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cell"))


SQL_IVF_CELLS = """
with cents as (
  select vec_id as cell, embedding::DOUBLE[] as cv
  from embeddings where vec_id < 8),
best as (
  select e.vec_id, c.cell,
         row_number() over (partition by e.vec_id
             order by list_dot_product(e.embedding::DOUBLE[], c.cv) desc,
                      c.cell) as rn
  from embeddings e cross join cents c)
select cell::INT as cell, count(*) as n
from best where rn = 1 group by cell order by cell
"""


def q_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (one Lloyd step) for the IVF quantizer
    (beyond reference): assignment under the deterministic seed
    centroids (vec_id < 8) + the per-cell centroid UPDATE
    (posexplode → groupBy(cell, pos) elementwise mean — map-side
    combinable, shuffle O(parts·k·d) not O(rows·d)).  Per cell: member
    count and the updated centroid's element sum (4 dp — float addition
    order differs between engines at ~1e-14, the rounding absorbs it)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents0 = _ivf_seed_centroids(emb)
    counts = (SIM.ivf_assign(emb, cents0)
              .groupBy("cell").agg(F.count(F.lit(1)).alias("n")))
    cents1 = SIM.ivf_train(emb, k=8, iters=1)
    # F.round (HALF_UP, matching DuckDB) — NOT Python round (half-even)
    csum = local_df(spark,
        [(i, float(sum(v))) for i, v in enumerate(cents1)],
        "cell int, raw double").select(
        "cell", F.round("raw", 4).alias("centroid_sum"))
    return (counts.join(csum, "cell")
            .select("cell", "n", "centroid_sum").orderBy("cell"))


SQL_KMEANS_ITER = """
with cents as (
  select vec_id as cell, embedding::DOUBLE[] as cv
  from embeddings where vec_id < 8),
best as (
  select e.vec_id, e.embedding, c.cell,
         row_number() over (partition by e.vec_id
             order by list_dot_product(e.embedding::DOUBLE[], c.cv) desc,
                      c.cell) as rn
  from embeddings e cross join cents c),
a as (select vec_id, cell, embedding from best where rn = 1)
select cell::INT as cell, count(*)::BIGINT as n,
       round(sum(list_sum(embedding::DOUBLE[])) / count(*), 4)
         as centroid_sum
from a group by cell order by cell
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-10 to vec_id 0's embedding, probing the 2 nearest
    of 8 cells; exact cosine inside the probed cells only."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_seed_centroids(emb)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return SIM.topk_cosine_ivf(emb, qv, 10, centroids=cents, nprobe=2)


SQL_IVF_TOPK = """
with cents as (
  select vec_id as cell, embedding::DOUBLE[] as cv
  from embeddings where vec_id < 8),
q as (select embedding::DOUBLE[] as v from embeddings where vec_id = 0),
assigned as (
  select e.vec_id, e.embedding, c.cell,
         row_number() over (partition by e.vec_id
             order by list_dot_product(e.embedding::DOUBLE[], c.cv) desc,
                      c.cell) as rn
  from embeddings e cross join cents c),
probe as (
  select cell from cents, q
  order by list_dot_product(q.v, cv) desc, cell limit 2)
select a.vec_id,
       round(list_dot_product(a.embedding::DOUBLE[], q.v) /
             greatest(sqrt(list_dot_product(a.embedding::DOUBLE[],
                                            a.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.v, q.v)), 1e-12), 6)
         as cos_sim
from assigned a join probe using (cell), q
where a.rn = 1
order by cos_sim desc, a.vec_id limit 10
"""


def q_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-IVF ANN (beyond reference): the index saves cells as
    parquet PARTITIONS (probe filter → partition pruning, the 100 TB
    layout) + centroids through a Spark writer; a save/load round-trip
    then answers the same probe as the in-memory path — with iters=0 the
    quantizer equals the seed centroids, so the x16 oracle applies
    verbatim."""
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    idx = SIM.ivf_build_index(emb, k=8, iters=0)
    path = os.path.join(tempfile.gettempdir(),
                        f"scardina_ivfidx_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    idx.save(path)
    loaded = SIM.ivf_load_index(spark, path)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    out = SIM.topk_cosine_ivf_indexed(loaded, qv, 10, nprobe=2)
    rows = out.collect()  # materialize before the index dir is removed
    shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


def q_ivf_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77 (incremental IVF maintenance — the x62/x73 lesson applied
    to ANN): build the index on vectors < 400, APPEND the rest into the
    saved partition-per-cell layout against the frozen seed quantizer
    (only new files under touched partitions; existing cells never
    rewritten), reload, probe.  Because assignment is a pure per-row
    function of (vector, centroids), the appended index answers the
    probe identically to a full build — the oracle is the x16 SQL
    verbatim."""
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    idx = SIM.ivf_build_index(emb.where(F.col("vec_id") < 400),
                              k=8, iters=0)
    path = os.path.join(tempfile.gettempdir(),
                        f"scardina_ivfappend_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    idx.save(path)
    SIM.ivf_append_saved(spark, path, emb.where(F.col("vec_id") >= 400))
    loaded = SIM.ivf_load_index(spark, path)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    out = SIM.topk_cosine_ivf_indexed(loaded, qv, 10, nprobe=2)
    rows = out.collect()  # materialize before the index dir is removed
    shutil.rmtree(path, ignore_errors=True)
    return local_df(spark, rows, out.schema)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (beyond reference): per event_type,
    approximate distinct users from the 32 smallest md5 hash values —
    the mergeable, bounded-size stand-in for COUNT(DISTINCT) at scale."""
    from .operators import sketches as SK
    ev = load_table(spark, sf_dir, "events")
    return (SK.approx_distinct(ev, "user_id", k=32,
                               group_cols=["event_type"])
            .orderBy("event_type"))


def sql_kmv_distinct(k: int = 32) -> str:
    poly = " + ".join(
        f"(instr('0123456789abcdef', substr(__h__, {i + 1}, 1)) - 1)"
        f" * {16 ** (8 - i - 1)}"
        for i in range(8))
    return f"""
with h as (
  select distinct event_type,
         ({poly}) as kh
  from (select event_type,
               substr(md5(user_id::VARCHAR), 1, 8) as __h__
        from events)),
r as (
  select event_type, kh,
         row_number() over (partition by event_type order by kh) as rn
  from h)
select event_type,
       round(case when count(*) < {k} then count(*)::DOUBLE
                  else {float(k - 1)} * 4294967296.0
                       / max(case when rn = {k} then kh end)::DOUBLE
             end, 4) as distinct_est
from r where rn <= {k}
group by event_type order by event_type
"""


def _duck_kmv_poly(inner: str) -> str:
    """DuckDB expression for sketches.kmv_hash(inner): first 8 md5 hex
    chars as an integer, via a nibble polynomial (bit-exact parity)."""
    return "(" + " + ".join(
        f"(instr('0123456789abcdef', substr(md5({inner}), {i + 1}, 1)) - 1)"
        f" * {16 ** (8 - i - 1)}"
        for i in range(8)) + ")"


def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra (beyond reference): union / intersection /
    Jaccard of two user populations (click vs view events) estimated from
    the sketches alone — theta-sketch-style, never re-reading base data."""
    from .operators.sketches import kmv_set_estimates, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    k = 32
    a = kmv_sketch(ev.where(F.col("user_id") % 3 != 0), "user_id", k)
    b = kmv_sketch(ev.where(F.col("user_id") % 3 != 1), "user_id", k)
    return kmv_set_estimates(a, b, k)


def sql_kmv_setops(k: int = 32) -> str:
    poly = _duck_kmv_poly("user_id::VARCHAR")
    side = ("select kh from (select kh, row_number() over (order by kh) rn "
            "from (select distinct {poly} as kh from events "
            "where user_id % 3 != {m})) where rn <= {k}")
    sa = side.format(poly=poly, m=0, k=k)
    sb = side.format(poly=poly, m=1, k=k)
    return f"""
with sa as ({sa}), sb as ({sb}),
u as (select kh from sa union select kh from sb),
ru as (select kh, row_number() over (order by kh) as rn from u),
stats as (
  select count(*) as kp,
         max(case when rn = {k} then kh end) as kth,
         sum(case when kh in (select kh from sa)
                   and kh in (select kh from sb) then 1 else 0 end)
           as overlap
  from ru where rn <= {k})
select round(union_est, 4) as union_est,
       round((overlap::DOUBLE / kp) * union_est, 4) as intersect_est,
       round(overlap::DOUBLE / kp, 4) as jaccard_est
from (select kp, overlap,
             case when kp < {k} then kp::DOUBLE
                  else {float(k - 1)} * 4294967296.0 / kth::DOUBLE
             end as union_est
      from stats)
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (beyond reference): 5 documents
    per language, selected by smallest md5-hash rank — a seeded uniform
    draw that is reproducible across engines and cluster layouts."""
    from .operators import sampling as SA
    docs = load_table(spark, sf_dir, "documents")
    return (SA.stratified_sample(docs, ["lang"], 5, "doc_id")
            .select("lang", F.col("doc_id").cast("long").alias("doc_id"))
            .orderBy("lang", "doc_id"))


def sql_stratified_sample(n: int = 5) -> str:
    kh = _duck_kmv_poly("doc_id::VARCHAR")
    return f"""
with r as (
  select lang, doc_id,
         row_number() over (partition by lang
                            order by {kh} asc, doc_id asc) as rk
  from documents)
select lang, doc_id::BIGINT as doc_id
from r where rk <= {n} order by lang, doc_id
"""


def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout split (beyond reference): membership
    is a pure function of the row id, so the split survives reruns and
    stays aligned across derived tables.  Returns per-split counts."""
    from .operators import sampling as SA
    docs = load_table(spark, sf_dir, "documents")
    train, hold = SA.split_train_holdout(docs, 0.2, "doc_id")
    t = train.select(F.lit("train").alias("split"), "doc_id")
    h = hold.select(F.lit("holdout").alias("split"), "doc_id")
    return (t.unionByName(h).groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").cast("long").alias("min_id"))
            .orderBy("split"))


def sql_holdout_split(holdout: float = 0.2) -> str:
    kh = _duck_kmv_poly("'split' || doc_id::VARCHAR")
    return f"""
select case when {kh} / 4294967296.0 < {holdout}
            then 'holdout' else 'train' end as split,
       count(*) as n, min(doc_id)::BIGINT as min_id
from documents group by 1 order by split
"""


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.2}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus mixture (beyond reference): per-source keep
    rates applied as one hash comparison per row — no shuffle,
    deterministic, and monotone in the rate (raising a source's rate
    keeps a superset).  Returns per-source kept counts."""
    from .operators.sampling import mixture_sample
    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(docs, _MIX_RATES, "source", "doc_id")
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("doc_id").alias("min_id"))
            .orderBy("source"))


def sql_mixture_sample() -> str:
    kh = _duck_kmv_poly("'mix' || doc_id::VARCHAR")
    rate = "0.0"
    for g, r in sorted(_MIX_RATES.items()):
        rate = f"case when source = '{g}' then {r} else {rate} end"
    return f"""
select source, count(*) as n_kept, min(doc_id)::BIGINT as min_id
from documents
where {kh} / 4294967296.0 < ({rate})
group by source order by source
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540; beyond reference):
    semantic dedup confined to k-means cells — a row is dropped when a
    lower-id member of its own cell has cosine >= 0.35 (6 dp).  The
    quantizer is the deterministic seed (embeddings of vec_id < 8) so
    the oracle can replicate the assignment; at scale the quantizer
    comes from `ivf_train` / `derive_ivf_params` and the only shuffle
    keys on the cell id (pair work n^1.5, never all-pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_seed_centroids(emb)
    return (SIM.semdedup_flags(emb, cents, threshold=0.35)
            .select("vec_id", "cell", "kept")
            .orderBy("vec_id"))


SQL_SEMDEDUP = """
with cents as (
  select vec_id as cell, embedding::DOUBLE[] as cv
  from embeddings where vec_id < 8),
best as (
  select e.vec_id, e.embedding::DOUBLE[] as v, c.cell,
         row_number() over (partition by e.vec_id
             order by list_dot_product(e.embedding::DOUBLE[], c.cv) desc,
                      c.cell) as rn
  from embeddings e cross join cents c),
a as (select vec_id, v, cell from best where rn = 1),
dropped as (
  select distinct y.vec_id
  from a x join a y on x.cell = y.cell and x.vec_id < y.vec_id
  where round(list_dot_product(x.v, y.v) /
              greatest(sqrt(list_dot_product(x.v, x.v))
                       * sqrt(list_dot_product(y.v, y.v)), 1e-12), 6)
        >= 0.35)
select a.vec_id, a.cell::INT as cell,
       a.vec_id not in (select vec_id from dropped) as kept
from a order by a.vec_id
"""


def q_pareto_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3 quality-weighted sampling (arXiv:2005.14165 Appendix A;
    beyond reference): keep a document with probability
    (2 - quality)^-9 — the paper's pareto(9) > 1 - score rule with the
    id hash as the deterministic coin.  Kept-count and smallest kept id
    per quality level."""
    from .operators.sampling import pareto_quality_sample
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", TS.quality_score().alias("quality"))
    kept = pareto_quality_sample(scored, "quality", "doc_id")
    return (kept.groupBy("quality")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("doc_id").cast("long").alias("min_id"))
            .orderBy("quality"))


def sql_pareto_sample(alpha: float = 9.0) -> str:
    kh = _duck_kmv_poly("'quality' || doc_id::VARCHAR")
    return f"""
with toks as (
  select doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) as ws
  from documents),
scored as (select doc_id, {_sql_quality_expr()} as quality from toks)
select quality, count(*) as n_kept, min(doc_id)::BIGINT as min_id
from scored
where {kh} / 4294967296.0 < pow(2.0 - quality, -{alpha})
group by quality order by quality
"""


_BUDGET_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture token budgeting (GPT-3 Table 2.2 / LLaMA Table 1
    protocol; beyond reference): per-source available tokens vs a 1M
    total-token budget under target weights — token target, sampling
    rate, epoch count.  Sources outside the mixture are excluded."""
    from .operators.sampling import token_budget_plan
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source",
                       TS.token_count().alias("n_tokens"))
    return token_budget_plan(toks, _BUDGET_WEIGHTS, budget_tokens=1_000_000)


def sql_token_budget(budget: int = 1_000_000) -> str:
    wsum = sum(_BUDGET_WEIGHTS.values())
    share = "null"
    for g, w in sorted(_BUDGET_WEIGHTS.items()):
        share = f"case when source = '{g}' then {w / wsum!r} else {share} end"
    return f"""
with toks as (
  select source,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> len(x) > 0)) as n_tokens
  from documents),
avail as (
  select source, count(*) as n_docs, sum(n_tokens)::BIGINT as avail_tokens,
         round(({share})::DOUBLE, 6) as weight
  from toks group by source),
plan as (
  select *, round(weight * {float(budget)}) / nullif(avail_tokens, 0) as q
  from avail where weight is not null)
select source, n_docs, avail_tokens, weight,
       round(weight * {float(budget)})::BIGINT as target_tokens,
       round(q, 6) as rate, ceil(q)::INT as epochs
from plan order by source
"""


def q_perplexity_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity filtering (Wenzek et al., arXiv:1911.00359;
    beyond reference): unigram-LM self-perplexity per document and the
    head/middle/tail band under fixed thresholds (CCNet derives them
    as per-language percentiles; 30.0/30.5 split this corpus at every
    SF).  LM training is one word-count shuffle; scoring is a
    token-keyed join — see operators/perplexity.py."""
    from .operators import perplexity as PX
    docs = load_table(spark, sf_dir, "documents")
    lm = PX.train_unigram_lm(docs)
    return (PX.perplexity_band(docs, lm, 30.0, 30.5)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_toks", "ppl", "ppl_band")
            .orderBy("doc_id"))


SQL_PERPLEXITY_BAND = """
with toks as (
  select doc_id, lower(t) as token
  from documents,
       unnest(list_filter(string_split_regex(text, '\\s+'),
                          x -> len(x) > 0)) as u(t)),
counts as (select token, count(*) as n from toks group by token),
tot as (select sum(n) as nt, count(*) as v from counts),
lm as (select token, ln((n + 1.0) / (nt + 1.0 * (v + 1))) as logp
       from counts, tot),
scored as (
  select doc_id, count(*)::BIGINT as n_toks,
         round(exp(-sum(logp) / count(*)), 4) as ppl
  from toks join lm using (token) group by doc_id),
oov as (select ln(1.0 / (nt + 1.0 * (v + 1))) as o from tot),
-- zero-token docs fall out of the inner join; score them at the OOV
-- floor (mirrors doc_perplexity's explode_outer path), computing ppl
-- exactly once so the band always reads the same value
full_scored as (
  select d.doc_id, coalesce(s.n_toks, 0)::BIGINT as n_toks,
         coalesce(s.ppl, (select round(exp(-o), 4) from oov)) as ppl
  from documents d left join scored s using (doc_id))
select doc_id::BIGINT as doc_id, n_toks, ppl,
       case when ppl < 30.0 then 'head'
            when ppl < 30.5 then 'middle'
            else 'tail' end as ppl_band
from full_scored order by doc_id
"""


def q_ccnet_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55 (CCNet per-language derived banding, Wenzek et al. §4.3;
    beyond reference): the full protocol in one plan — unigram-LM
    scoring, PER-LANGUAGE tercile thresholds via exact percentile, and
    banding each document against its own language's cuts
    (`perplexity.perplexity_band_derived`).  Output: docs + derived
    (lo, hi) per (lang, band).  One scoring pass; the thresholds
    relation is #languages-sized and broadcast."""
    from .operators import perplexity as PX

    docs = load_table(spark, sf_dir, "documents")
    lm = PX.train_unigram_lm(docs)
    banded = PX.perplexity_band_derived(docs, lm, lang_col="lang")
    return (banded.groupBy("lang", "ppl_band", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select("lang", "ppl_band", F.col("n_docs").cast("long")
                    .alias("n_docs"), "lo", "hi")
            .orderBy("lang", "ppl_band"))


SQL_CCNET_BANDS = """
with toks as (
  select doc_id, lower(t) as token
  from documents,
       unnest(list_filter(string_split_regex(text, '\\s+'),
                          x -> len(x) > 0)) as u(t)),
counts as (select token, count(*) as n from toks group by token),
tot as (select sum(n) as nt, count(*) as v from counts),
lm as (select token, ln((n + 1.0) / (nt + 1.0 * (v + 1))) as logp
       from counts, tot),
scored as (
  select doc_id, round(exp(-sum(logp) / count(*)), 4) as ppl
  from toks join lm using (token) group by doc_id),
oov as (select ln(1.0 / (nt + 1.0 * (v + 1))) as o from tot),
full_scored as (
  select d.doc_id, d.lang,
         coalesce(s.ppl, (select round(exp(-o), 4) from oov)) as ppl
  from documents d left join scored s using (doc_id)),
thr as (
  select lang, round(quantile_cont(ppl, 1.0/3), 4) as lo,
         round(quantile_cont(ppl, 2.0/3), 4) as hi
  from full_scored group by lang),
banded as (
  select f.lang,
         case when ppl < lo then 'head'
              when ppl < hi then 'middle'
              else 'tail' end as ppl_band, lo, hi
  from full_scored f join thr using (lang))
select lang, ppl_band, count(*)::BIGINT as n_docs, lo, hi
from banded group by lang, ppl_band, lo, hi
order by lang, ppl_band
"""


def q_stream_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST11 (streaming DSIR scoring; beyond reference): documents
    stream through the token explode (pure projection), two
    STREAM-STATIC joins against batch-trained target/raw LMs, and an
    update-mode per-document aggregation (`streaming/dsir.py`) —
    ingestion-time importance tagging.  Drained with availableNow; a
    multi-batch source can emit partial revisions per key, so the final
    per-doc row (max n_toks, i.e. the complete aggregate) is the
    score; must equal the batch scorer row for row."""
    from .streaming.curate import read_documents_stream
    from .streaming.dsir import dsir_score_stream, train_reference_lms
    from .streaming.events import run_to_memory_sink

    docs = load_table(spark, sf_dir, "documents")
    lm_t, lm_r, oov_t, oov_r = train_reference_lms(
        docs, docs.where(F.col("source") == "src0"))
    st = read_documents_stream(spark, sf_dir)
    out = run_to_memory_sink(
        dsir_score_stream(st, lm_t, lm_r, oov_t, oov_r),
        "q_stream_dsir", output_mode="update")
    final = (out.groupBy("doc_id")
             .agg(F.max(F.struct("n_toks", "log_iw")).alias("m")))
    return (final.select(F.col("doc_id").cast("long").alias("doc_id"),
                         F.col("m.n_toks").alias("n_toks"),
                         F.col("m.log_iw").alias("log_iw"))
            .orderBy("doc_id"))


SQL_STREAM_DSIR = """
with tok as (
  select doc_id,
         lower(unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> len(x) > 0))) as token
  from documents),
tgt_c as (
  select token, count(*) as n from tok
  join documents using (doc_id) where source = 'src0' group by token),
raw_c as (select token, count(*) as n from tok group by token),
tgt_tot as (select sum(n) as nt, count(*) as v from tgt_c),
raw_tot as (select sum(n) as nt, count(*) as v from raw_c),
sc as (
  select t.doc_id,
         ln((coalesce(tc.n, 0) + 1.0) / (tt.nt + 1.0 * (tt.v + 1)))
           - ln((coalesce(rc.n, 0) + 1.0) / (rt.nt + 1.0 * (rt.v + 1)))
           as dlw
  from tok t
  left join tgt_c tc using (token)
  left join raw_c rc using (token)
  cross join tgt_tot tt cross join raw_tot rt),
agg as (select doc_id, count(*) as n_toks, round(sum(dlw), 4) as log_iw
        from sc group by doc_id)
select d.doc_id::BIGINT as doc_id,
       coalesce(a.n_toks, 0)::BIGINT as n_toks,
       coalesce(a.log_iw, 0.0) as log_iw
from documents d left join agg a using (doc_id)
order by doc_id
"""


def q_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM self-perplexity (beyond reference; CCNet n-gram
    fidelity step over the x50 unigram): add-k-smoothed p(token|prev)
    with per-context floors and a uniform unseen-context fallback —
    see operators/perplexity.train_bigram_lm.  Predecessors come from
    shifting the token array (no window, no shuffle)."""
    from .operators import perplexity as PX
    docs = load_table(spark, sf_dir, "documents")
    # materialize(): keep only the two vocab-sized LM relations; the
    # trainer's pair-count cache would otherwise live for the session
    lm = PX.train_bigram_lm(docs).materialize()
    return (PX.doc_perplexity_bigram(docs, lm)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_toks", "ppl")
            .orderBy("doc_id"))


SQL_BIGRAM_PPL = """
with toks as (
  select doc_id,
         list_transform(list_filter(string_split_regex(text, '\\s+'),
                                    x -> len(x) > 0),
                        x -> lower(x)) as ws
  from documents),
pairs as (
  select doc_id, u2[1] as prev, u2[2] as token
  from toks,
       unnest(list_zip(list_prepend('<s>',
                                    list_slice(ws, 1,
                                               greatest(len(ws)-1, 0))),
                       ws)) as z(u2)
  -- list_zip pads the shorter list with NULL, so an empty document
  -- yields a ('<s>', NULL) row: drop it (the engine filters
  -- token-not-null before training and excludes it from n_toks)
  where u2[2] is not null),
bi as (select prev, token, count(*) as n from pairs group by 1, 2),
ctx as (select prev, sum(n) as cn from bi group by 1),
v as (select count(distinct token) as vocab from bi),
lm as (
  select prev, token,
         ln((n + 1.0) / (cn + 1.0 * (vocab + 1))) as logp
  from bi join ctx using (prev), v),
fl as (
  select prev, ln(1.0 / (cn + 1.0 * (vocab + 1))) as floor_logp
  from ctx, v),
scored as (
  select p.doc_id, count(*)::BIGINT as n_toks,
         round(exp(-sum(coalesce(lm.logp, fl.floor_logp,
                                 (select ln(1.0 / (vocab + 1)) from v)))
                   / count(*)), 4) as ppl
  from pairs p
  left join lm on lm.prev = p.prev and lm.token = p.token
  left join fl on fl.prev = p.prev
  group by p.doc_id),
-- zero-token docs have no pairs: uniform 1/(V+1) floor, mirrors
-- doc_perplexity_bigram
full_scored as (
  select d.doc_id, coalesce(s.n_toks, 0)::BIGINT as n_toks,
         coalesce(s.ppl,
                  (select round(exp(-ln(1.0 / (vocab + 1))), 4) from v))
           as ppl
  from documents d left join scored s using (doc_id))
select doc_id::BIGINT as doc_id, n_toks, ppl
from full_scored order by doc_id
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76 (PMI collocation mining, Church & Hanks CL 1990 — the
    phrase-inventory pass before tokenizer-merge decisions, word2phrase
    lineage): adjacent-pair PMI over the corpus with a min-count floor
    (`textstats.pmi_collocations`).  Two map-side-combinable count
    shuffles + two scalar totals; joins are vocabulary-keyed."""
    from .operators.textstats import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5)


SQL_PMI_COLLOCATIONS = """
with toks as (
  select list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> len(x) > 0) as ws
  from documents),
pairs as (
  select ws[i] as left_w, ws[i + 1] as right_w
  from toks, unnest(generate_series(1, len(ws) - 1)) as u(i)),
bi as (select left_w, right_w, count(*) as pair_n
       from pairs group by 1, 2),
uni as (select unnest(ws) as w from toks),
uc as (select w, count(*) as wc from uni group by 1),
np as (select sum(pair_n)::DOUBLE as n from bi),
nw as (select sum(wc)::DOUBLE as n from uc)
select b.left_w, b.right_w, b.pair_n::BIGINT as pair_n,
       round(ln((b.pair_n / np.n) /
                ((ua.wc / nw.n) * (ub.wc / nw.n))), 6) as pmi
from bi b
join uc ua on ua.w = b.left_w
join uc ub on ub.w = b.right_w
cross join np cross join nw
where b.pair_n >= 5
order by pmi desc, left_w, right_w
"""


def q_kn_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75 (interpolated Kneser-Ney bigram perplexity, Kneser & Ney
    1995 / Chen & Goodman 1999 — the smoothing family CCNet's actual
    KenLM filter uses, completing the LM ladder x50 unigram → x52
    add-k bigram → KN): absolute discount D=0.75, discount mass
    re-spent on the CONTINUATION distribution N1+(·w), add-k floor so
    OOV stays finite (`perplexity.train_bigram_kn`).  Same scale shape
    as x52: one pair-count shuffle + vocabulary-sized rollups."""
    from .operators import perplexity as PX

    docs = load_table(spark, sf_dir, "documents")
    lm = PX.train_bigram_kn(docs).materialize()
    return (PX.doc_perplexity_kn(docs, lm)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_toks", "ppl")
            .orderBy("doc_id"))


SQL_KN_PPL = """
with toks as (
  select doc_id,
         list_transform(list_filter(string_split_regex(text, '\\s+'),
                                    x -> len(x) > 0),
                        x -> lower(x)) as ws
  from documents),
pairs as (
  select doc_id, u2[1] as prev, u2[2] as token
  from toks,
       unnest(list_zip(list_prepend('<s>',
                                    list_slice(ws, 1,
                                               greatest(len(ws)-1, 0))),
                       ws)) as z(u2)
  where u2[2] is not null),
bi as (select prev, token, count(*) as n from pairs group by 1, 2),
ctx as (select prev, sum(n) as cn, count(*) as n1p_fwd from bi group by 1),
cont as (select token, count(*) as n1p_bwd from bi group by 1),
t as (select count(*)::DOUBLE as tt from bi),
v as (select count(distinct token) as vocab from bi),
scored as (
  select p.doc_id, count(*)::BIGINT as n_toks,
         round(exp(-sum(ln(
           case when bi.n is not null then
             (bi.n - 0.75::DOUBLE) / ctx.cn
             + (0.75::DOUBLE * ctx.n1p_fwd / ctx.cn)
               * ((coalesce(cont.n1p_bwd, 0) + 1.0::DOUBLE)
                  / (tt + 1.0 * (vocab + 1)))
           when ctx.cn is not null then
             (0.75::DOUBLE * ctx.n1p_fwd / ctx.cn)
               * ((coalesce(cont.n1p_bwd, 0) + 1.0::DOUBLE)
                  / (tt + 1.0 * (vocab + 1)))
           else
             (coalesce(cont.n1p_bwd, 0) + 1.0::DOUBLE)
               / (tt + 1.0 * (vocab + 1))
           end)) / count(*)), 4) as ppl
  from pairs p
  left join bi on bi.prev = p.prev and bi.token = p.token
  left join ctx on ctx.prev = p.prev
  left join cont on cont.token = p.token
  cross join t cross join v
  group by p.doc_id),
full_scored as (
  select d.doc_id, coalesce(s.n_toks, 0)::BIGINT as n_toks,
         coalesce(s.ppl,
                  (select round((tt + 1.0 * (vocab + 1)) / 1.0, 4)
                   from t, v))
           as ppl
  from documents d left join scored s using (doc_id))
select doc_id::BIGINT as doc_id, n_toks, ppl
from full_scored order by doc_id
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (beyond reference): 32-token windows with
    8-token overlap — the context-window preparation of
    embedding/retrieval pipelines (per-document, unlike the cross-doc
    packed layout of x39).  Shuffle-free row-parallel JVM plan; see
    operators/packing.chunk_documents."""
    from .operators.packing import chunk_documents
    docs = load_table(spark, sf_dir, "documents")
    return (chunk_documents(docs, 32, 8)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "chunk_id", "chunk_text", "n_chunk_toks")
            .orderBy("doc_id", "chunk_id"))


SQL_CHUNK_DOCS = """
with toks as (
  select doc_id,
         coalesce(list_filter(string_split_regex(text, '\\s+'),
                              x -> len(x) > 0),
                  []) as ws
  from documents),
c as (
  select doc_id, ws,
         greatest(ceil((greatest(len(ws), 1) - 8) / 24)::INT, 1) as k
  from toks),
e as (select doc_id, ws, unnest(range(k)) as chunk_id from c)
select doc_id::BIGINT as doc_id, chunk_id::INT as chunk_id,
       -- coalesce: an empty slice stringifies to NULL in DuckDB but to
       -- '' in Spark's array_join (zero-token documents)
       coalesce(array_to_string(
           list_slice(ws, chunk_id*24 + 1, chunk_id*24 + 32), ' '), '')
         as chunk_text,
       len(list_slice(ws, chunk_id*24 + 1, chunk_id*24 + 32))::INT
         as n_chunk_toks
from e order by doc_id, chunk_id
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (beyond reference): count lineitems whose
    l_shipdate falls inside each probe order's [orderdate, orderdate +
    30 days) window — a pure interval join with no equi-key, rewritten
    as a bucket equi-join.  The interval side is filtered small and
    broadcast; the point side (the fact table) never shuffles."""
    from .operators.rangejoin import range_join
    li = load_table(spark, sf_dir, "lineitem") \
        .select(F.unix_timestamp("l_shipdate").alias("p"), "l_orderkey")
    win = 30 * 86400
    orders = F.broadcast(
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 100)
        .select("o_orderkey",
                F.unix_timestamp("o_orderdate").alias("lo"),
                (F.unix_timestamp("o_orderdate") + win).alias("hi")))
    j = range_join(li, orders, "p", "lo", "hi", bucket_width=float(win))
    return (j.groupBy(F.col("o_orderkey").cast("long").alias("o_orderkey"))
            .agg(F.count(F.lit(1)).alias("n_items"))
            .orderBy("o_orderkey"))


SQL_RANGE_JOIN = """
select o.o_orderkey::BIGINT as o_orderkey, count(*) as n_items
from orders o join lineitem l
  on l.l_shipdate >= o.o_orderdate
 and l.l_shipdate < o.o_orderdate + interval 30 day
where o.o_orderkey <= 100
group by 1 order by o_orderkey
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup (beyond reference): hour/day/week aggregates of
    events where each coarser level re-aggregates the finer aggregate —
    one base-table scan for all levels."""
    from .operators.rollup import time_rollup
    ev = load_table(spark, sf_dir, "events") \
        .withColumn("value", F.col("value").cast("decimal(18,6)"))
    return (time_rollup(ev, "ts", "value")
            .orderBy("level", "bucket_start"))


SQL_TIME_ROLLUP = """
with ev as (select ts, value::DECIMAL(18,6) as v from events),
lv as (
  select 'hour' as level, date_trunc('hour', ts) as bucket_start,
         count(*) as n, sum(v) as sv from ev group by 1, 2
  union all
  select 'day', date_trunc('day', ts), count(*), sum(v)
  from ev group by 1, 2
  union all
  select 'week', date_trunc('week', ts), count(*), sum(v)
  from ev group by 1, 2)
select level, bucket_start, n,
       round(sv::DOUBLE, 4) as sum_value
from lv order by level, bucket_start
"""


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (absent in the reference, SURVEY §2.4): order
    counts and revenue across all subtotal combinations of
    (orderstatus, orderpriority).  Spark expands the cube map-side into
    grouping-set tuples — one scan, one shuffle for all 4 subtotal
    levels."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(18,2)")).cast("double"), 2)
                 .alias("revenue"))
            .orderBy(F.col("o_orderstatus").asc_nulls_first(),
                     F.col("o_orderpriority").asc_nulls_first()))


SQL_CUBE_AGG = """
select o_orderstatus, o_orderpriority, count(*) as n,
       round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE, 2) as revenue
from orders
group by cube (o_orderstatus, o_orderpriority)
order by o_orderstatus asc nulls first, o_orderpriority asc nulls first
"""


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function analytics (absent in the reference, SURVEY §2.5):
    per customer's order history — rank by price, previous order's
    price (lag), and 3-order moving average.  One shuffle on the
    partition key serves all three frames."""
    from pyspark.sql import Window
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return (orders
            .where(F.col("o_custkey") < 50)
            .select(
                F.col("o_custkey").cast("long").alias("o_custkey"),
                F.col("o_orderkey").cast("long").alias("o_orderkey"),
                F.rank().over(
                    Window.partitionBy("o_custkey")
                    .orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
                .alias("price_rank"),
                F.round(F.lag(price).over(w).cast("double"), 2)
                .alias("prev_price"),
                F.round((F.sum(price).over(w.rowsBetween(-2, 0))
                         / F.count(F.lit(1)).over(w.rowsBetween(-2, 0)))
                        .cast("double"), 4)
                .alias("moving_avg3"))
            .orderBy("o_custkey", "o_orderkey"))


SQL_WINDOW_FUNCS = """
with o as (select *, o_totalprice::DECIMAL(18,2) as price
           from orders where o_custkey < 50)
select o_custkey::BIGINT as o_custkey, o_orderkey::BIGINT as o_orderkey,
       rank() over (partition by o_custkey
                    order by o_totalprice desc, o_orderkey) as price_rank,
       round((lag(price) over w)::DOUBLE, 2) as prev_price,
       round((sum(price) over (w rows between 2 preceding and current row)
              / count(*) over (w rows between 2 preceding and current row)
             )::DOUBLE, 4) as moving_avg3
from o
window w as (partition by o_custkey order by o_orderdate, o_orderkey)
order by o_custkey, o_orderkey
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL set operations (absent in the reference, SURVEY §2.5 O5):
    nations that supply parts (via supplier) vs nations with customers —
    INTERSECT and EXCEPT both ways, one labeled union.  Each set op is a
    distinct-aggregate-shaped shuffle on the key."""
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    both = sup.intersect(cust).withColumn("which", F.lit("both"))
    sup_only = sup.subtract(cust).withColumn("which", F.lit("supplier_only"))
    cust_only = cust.subtract(sup).withColumn("which", F.lit("customer_only"))
    return (both.unionByName(sup_only).unionByName(cust_only)
            .select("which", F.col("nationkey").cast("long")
                    .alias("nationkey"))
            .orderBy("which", "nationkey"))


SQL_SET_OPS = """
with s as (select s_nationkey as nationkey from supplier),
     c as (select c_nationkey as nationkey from customer),
lab as (
  select 'both' as which, nationkey from (
    select nationkey from s intersect select nationkey from c)
  union all
  select 'supplier_only', nationkey from (
    select nationkey from s except select nationkey from c)
  union all
  select 'customer_only', nationkey from (
    select nationkey from c except select nationkey from s))
select which, nationkey::BIGINT as nationkey
from lab order by which, nationkey
"""


def q_stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    first-seen dedup — each user's earliest event emitted once, replays
    suppressed by per-key state.  Drained with availableNow; must equal
    the batch earliest-event-per-user oracle."""
    from .streaming import first_seen_dedup_stream, read_events_stream, \
        run_to_memory_sink
    st = read_events_stream(spark, sf_dir)
    out = run_to_memory_sink(first_seen_dedup_stream(st),
                             "q_stream_first_seen", output_mode="update")
    return (out.select(F.col("user_id").cast("long").alias("user_id"),
                       F.col("event_id").cast("long").alias("event_id"),
                       "ts")
            .orderBy("user_id"))


SQL_STREAM_FIRST_SEEN = """
select user_id::BIGINT as user_id, event_id::BIGINT as event_id, ts
from (select user_id, event_id, ts,
             row_number() over (partition by user_id
                                order by ts, event_id) as rn
      from events)
where rn = 1 order by user_id
"""


def _stream_state_dir(kind: str, sf_dir: str) -> str:
    """Fixed per-(query, sf_dir, process) streaming-state dir under the
    system tmp dir, wiped on entry: repeated invocations (including
    ``explain``, which executes st* queries' drain as a side effect of
    plan construction) reuse ONE directory instead of leaking a fresh
    ``mkdtemp`` per call.  The pid suffix keeps two concurrent processes
    (e.g. bench + a contract run on one box) from clobbering each
    other's checkpoint mid-run; an atexit hook removes this process's
    dirs so dead pids don't accumulate state under tmp."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    # atexit doesn't run on SIGKILL/crash, so dead-pid siblings would
    # otherwise accumulate under tmp forever: sweep any sibling dir of
    # this (kind, tag) whose pid is no longer alive before creating ours
    import glob
    for stale in glob.glob(os.path.join(tmp, f"scardina_{kind}_{tag}_*")):
        try:
            pid = int(stale.rsplit("_", 1)[-1])
            os.kill(pid, 0)   # raises if no such process
        except ValueError:
            continue          # not a pid-suffixed dir of ours
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass              # pid alive under another user: leave it
    d = os.path.join(tmp, f"scardina_{kind}_{tag}_{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    _register_stream_state_cleanup(d)
    return d


_STREAM_STATE_DIRS: set = set()


def _register_stream_state_cleanup(d: str) -> None:
    import atexit
    import shutil

    if not _STREAM_STATE_DIRS:
        atexit.register(lambda: [shutil.rmtree(p, ignore_errors=True)
                                 for p in _STREAM_STATE_DIRS])
    _STREAM_STATE_DIRS.add(d)


def q_stream_fk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the estimator's J1 statistic: events
    stream through foreachBatch writing idempotent per-batch count
    deltas; the current per-user counts are the read-time semigroup
    merge and must equal the batch recompute."""
    from .streaming import read_events_stream
    from .streaming.stats import maintain_fk_counts, read_fk_counts

    state = _stream_state_dir("stream_fk_counts", sf_dir)
    maintain_fk_counts(read_events_stream(spark, sf_dir), "user_id", state)
    return (read_fk_counts(spark, state)
            .select(F.col("key").cast("long").alias("user_id"),
                    F.col("cnt").cast("long").alias("cnt"))
            .orderBy("user_id"))


SQL_STREAM_FK_COUNTS = """
select user_id::BIGINT as user_id, count(*)::BIGINT as cnt
from events where user_id is not null
group by 1 order by user_id
"""


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a KMV distinct sketch (beyond
    reference): per-batch sketch deltas written idempotently via
    foreachBatch, read-time semigroup fold — the streamed estimate must
    equal the batch sketch bit-for-bit (deterministic md5 hashing), so
    the oracle is the same SQL as the batch x17 entry."""
    from .operators.sketches import kmv_estimate
    from .streaming import read_events_stream
    from .streaming.stats import maintain_kmv_sketch, read_kmv_sketch

    state = _stream_state_dir("stream_kmv", sf_dir)
    maintain_kmv_sketch(read_events_stream(spark, sf_dir), "user_id",
                        state, k=32, group_cols=["event_type"])
    sk = read_kmv_sketch(spark, state, k=32, group_cols=["event_type"])
    return (kmv_estimate(sk, k=32, group_cols=["event_type"])
            .orderBy("event_type"))


def q_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a per-group quantile sketch (beyond
    reference): per-batch bottom-k-by-hash deltas written idempotently
    via foreachBatch, read-time semigroup fold — the streamed summary
    equals the batch sketch bit-for-bit (deterministic md5 hashing), so
    the oracle recomputes the same bottom-k quantiles in SQL."""
    from .operators.sketches import quantile_estimate
    from .streaming import read_events_stream
    from .streaming.stats import (
        maintain_quantile_sketch, read_quantile_sketch)

    state = _stream_state_dir("stream_quantiles", sf_dir)
    maintain_quantile_sketch(read_events_stream(spark, sf_dir), "value",
                             "event_id", state, k=128,
                             group_cols=["event_type"])
    sk = read_quantile_sketch(spark, state, k=128,
                              group_cols=["event_type"])
    return (quantile_estimate(sk, [0.25, 0.5, 0.75],
                              group_cols=["event_type"])
            .orderBy("event_type"))


def sql_stream_quantiles(k: int = 128) -> str:
    poly = _duck_kmv_poly("event_id::VARCHAR")
    return f"""
with h as (
  select event_type, {poly} as kh, value::DOUBLE as v from events),
r as (
  select event_type, kh, v,
         row_number() over (partition by event_type order by kh, v) as rn
  from h)
select event_type,
       round(quantile_cont(v, 0.25), 4) as p25,
       round(quantile_cont(v, 0.50), 4) as p50,
       round(quantile_cont(v, 0.75), 4) as p75
from r where rn <= {k}
group by event_type order by event_type
"""


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered semi join (beyond reference): lineitem rows whose part
    is oversized, with the probe side pre-pruned map-side by a broadcast
    hash-bucket filter built from the (small) matching part keys.  Exact
    semi-join semantics; at 100 TB the bucket table broadcasts even when
    the build side's distinct keys do not."""
    from .operators.bloomjoin import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    build = load_table(spark, sf_dir, "part").where(F.col("p_size") > 40)
    kept = bloom_semi_join(li, build, "l_partkey", "p_partkey",
                           num_buckets=1 << 12)
    return (kept.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("l_quantity").alias("sum_qty"))
            .orderBy("l_returnflag"))


SQL_BLOOM_SEMI_JOIN = """
select l_returnflag, count(*) as n_rows, sum(l_quantity) as sum_qty
from lineitem l
where exists (select 1 from part p
              where p.p_partkey = l.l_partkey and p.p_size > 40)
group by 1 order by l_returnflag
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (beyond reference): event types covering >= 20% of
    events, via per-partition Misra-Gries candidate pruning + exact
    recount — never materializes the full distinct-value histogram.
    The 0.2 threshold splits the near-uniform 5-type distribution, so
    the fixture is discriminating (some types pass, some fail) at every
    test scale factor."""
    from .operators.heavyhitters import heavy_hitters

    hh = heavy_hitters(load_table(spark, sf_dir, "events"), "event_type", 0.2)
    return (hh.select(F.col("value").alias("event_type"),
                      F.col("cnt").alias("cnt"))
            .orderBy("event_type"))


SQL_HEAVY_HITTERS = """
select event_type, count(*) as cnt
from events where event_type is not null
group by 1
having count(*) >= ceil(0.2 * (select count(*) from events
                               where event_type is not null))
order by event_type
"""


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (beyond reference; GPT-3-lineage n-gram
    collision protocol): per training doc (source != src0), the fraction
    of its word 3-grams that appear anywhere in the held-out benchmark
    slice (source = src0).  The benchmark gram set broadcasts; the train
    side never shuffles grams (per-doc rollup map-side combines)."""
    from .operators.decontam import contamination_scores

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("source") != "src0")
    bench = docs.where(F.col("source") == "src0")
    return (contamination_scores(train, bench, n=3)
            .orderBy("doc_id"))


SQL_DECONTAM = """
with norm as (
  select doc_id, source,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, greatest(len(toks) - 2, 1) + 1)
         ]) as sh
  from (select doc_id, source,
               string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') toks
        from documents)),
bench as (select distinct unnest(sh) as g from norm where source = 'src0'),
train as (select doc_id, unnest(sh) as g from norm where source != 'src0'),
hits as (
  select t.doc_id, count(*) as n_grams,
         count(b.g) as n_hits
  from train t left join bench b on t.g = b.g
  group by t.doc_id)
select doc_id, n_grams, n_hits::BIGINT as n_hits,
       round(n_hits::DOUBLE / greatest(n_grams, 1), 4) as contamination
from hits order by doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (beyond reference): typed-placeholder redaction of
    emails/SSNs/phones/IPs as one regexp_replace codegen chain.  The
    fixture plants deterministic PII spans derived from doc_id (the
    corpus itself is synthetic and clean), so the scrub is
    discriminating: every planted span must be redacted, surrounding
    text untouched."""
    from .operators.decontam import scrub_pii

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4"),
            F.lpad(F.pmod(F.col("doc_id"), 1000).cast("string"), 3, "0"),
            F.lit(" ip 10.0."), F.pmod(F.col("doc_id"), 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 end")).alias("text"))
    return (scrub_pii(planted).orderBy("doc_id")
            .select("doc_id", "text"))


SQL_PII_SCRUB = """
with planted as (
  select doc_id,
         substring(text, 1, 40)
         || ' contact u' || doc_id || '@example.com or 555-123-4'
         || lpad((doc_id % 1000)::VARCHAR, 3, '0')
         || ' ip 10.0.' || (doc_id % 256) || '.7 ssn 123-45-6789 end'
           as text
  from documents where doc_id < 200)
select doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
      '(\\+?\\d{1,2}[ .-])?\\(?\\d{3}\\)?[ .-]\\d{3}[ .-]\\d{4}\\b',
      '<PHONE>', 'g'),
    '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') as text
from planted order by doc_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (beyond reference): lay the corpus on one global
    token line in doc-id order and cut fixed 256-token training
    sequences; per doc, its pack id / offset / span.  The layout is the
    distributed prefix sum (range partition + partition offsets), never
    a single-partition window, and is exactly reproducible by the
    oracle's window cumsum."""
    from .operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, 256).orderBy("doc_id")


SQL_PACK_SEQUENCES = """
with toks as (
  select doc_id,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> len(x) > 0))::BIGINT as n_tokens
  from documents),
laid as (
  select doc_id, n_tokens,
         coalesce(sum(n_tokens) over (order by doc_id
                  rows between unbounded preceding and 1 preceding),
                  0)::BIGINT as s
  from toks)
select doc_id, n_tokens,
       (s // 256)::BIGINT as pack_id,
       (s % 256)::BIGINT as pack_offset,
       ((case when n_tokens > 0 then (s + n_tokens - 1) // 256
              else s // 256 end) - s // 256 + 1)::BIGINT as n_packs
from laid order by doc_id
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composition (beyond reference):
    benchmark decontamination (4-gram, ≤2% overlap) → repetition gate →
    quality/language gate → fingerprint dedup → fixed-128 sequence
    packing.  Each stage is individually oracled elsewhere (x37, x27,
    x24, x39); this entry pins the COMPOSITION — stage order, filter
    semantics, and the packed layout of the survivors — against one
    end-to-end SQL oracle."""
    from .operators.curate import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    return curate_corpus(docs, seq_len=128).orderBy("doc_id")


def sql_curate_corpus() -> str:
    sel, gst, cases = _sql_lang_parts()
    return f"""
with norm as (
  select doc_id, source,
         list_distinct([array_to_string(toks[i:i+3], ' ')
           for i in range(1, greatest(len(toks) - 3, 1) + 1)]) as sh
  from (select doc_id, source,
        string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                     ' ') toks
        from documents)),
bench_g as (select distinct unnest(sh) as g from norm
            where source = 'src0'),
train_g as (select doc_id, unnest(sh) as g from norm
            where source != 'src0'),
contam as (select t.doc_id, count(*) n_grams, count(b.g) n_hits
           from train_g t left join bench_g b on t.g = b.g group by 1),
clean as (select doc_id from contam
          where n_hits::DOUBLE / n_grams <= 0.02),
rt as (select d.doc_id, d.text, d.source,
              list_filter(string_split_regex(d.text, '\\s+'),
                          x -> len(x) > 0) t
       from documents d join clean using (doc_id)),
bg as (select doc_id, t[i] || ' ' || t[i+1] bigram
       from rt, unnest(generate_series(1, len(t)-1)) u(i)),
topbg as (select doc_id, max(cnt) best
          from (select doc_id, bigram, count(*) cnt from bg
                group by 1, 2) group by 1),
kept as (
  select rt.doc_id, rt.text, rt.source
  from rt left join topbg using (doc_id)
  where round(case when len(t) = 0 then 0.0
              else 1.0 - len(list_distinct(t)) / len(t) end, 4) <= 0.5
    and round(least(1.0, coalesce(best, 0) * 2.0
              / greatest(len(t), 1)), 4) <= 0.2),
toks as (select doc_id, text, source,
                list_filter(string_split_regex(text, '\\s+'),
                            x -> len(x) > 0) ws
         from kept),
s as (
  select doc_id, source,
    len(ws)::BIGINT as n_tokens,
    {_sql_quality_expr()} as quality,
    {sel},
    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
      as fingerprint
  from toks),
lp as (select *, case when {gst} = 0 then 'und' {cases} end
       as lang_pred from s),
gated as (select doc_id, lang_pred, quality, n_tokens, fingerprint
          from lp where quality >= 0.7 and lang_pred in ('en')),
dedup as (select * from (select *, row_number() over
              (partition by fingerprint order by doc_id) as rn
          from gated) where rn = 1),
laid as (
  select doc_id, lang_pred, quality, n_tokens,
         coalesce(sum(n_tokens) over (order by doc_id
                  rows between unbounded preceding and 1 preceding),
                  0)::BIGINT as st
  from dedup)
select doc_id, lang_pred, quality, n_tokens,
       (st // 128)::BIGINT as pack_id,
       (st % 128)::BIGINT as pack_offset,
       ((case when n_tokens > 0 then (st + n_tokens - 1) // 128
              else st // 128 end) - st // 128 + 1)::BIGINT as n_packs
from laid order by doc_id
"""


def q_stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST13 (streaming multimodal decode, beyond reference): arriving
    documents are PNG-encoded and codec-decoded to features ON THE
    STREAM — the batch codec stages are stateless Arrow-batched
    projections, so they compose with the file source unchanged
    (append mode, no state, no watermark; `streaming/media.py`).
    Drained with availableNow; the batch x63 oracle is exact."""
    from .streaming.curate import read_documents_stream
    from .streaming.events import run_to_memory_sink
    from .streaming.media import decode_media_stream

    st = read_documents_stream(spark, sf_dir)
    out = run_to_memory_sink(decode_media_stream(st, codec="png"),
                             "q_stream_media", output_mode="append")
    return out.orderBy("media_id")


def q_stream_token_account(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST14 (streaming tokenizer accounting, beyond reference):
    arriving documents are BPE-tokenized on the stream with the frozen
    x68 merge table (pure stateless projection — the st13 composition
    lesson) and per-source running token/doc totals maintained by one
    map-side-combinable groupBy (complete mode, |sources|-sized state,
    no watermark; `streaming/stats.token_account_stream`).  Drained
    with availableNow; the oracle is the batch per-source replay of the
    x68 REPLACE-chain semantics."""
    from .streaming.curate import read_documents_stream
    from .streaming.events import run_to_memory_sink
    from .streaming.stats import token_account_stream

    st = read_documents_stream(spark, sf_dir)
    out = run_to_memory_sink(
        token_account_stream(st, BPE_APPLY_MERGES),
        "q_stream_token_account", output_mode="complete")
    return (out.select("source",
                       F.col("n_docs").cast("long").alias("n_docs"),
                       F.col("total_bpe").cast("long").alias("total_bpe"))
            .orderBy("source"))


SQL_STREAM_TOKEN_ACCOUNT = """
with guard as (
  select case when count(*) > 0 then error(
           'corpus violates byte-level oracle assumptions')
         else 0 end as ok
  from documents
  where length(coalesce(text, '')) <> octet_length(coalesce(text, '')::BLOB)
     or regexp_matches(text, '[\\x01-\\x04]')),
w as (
  select doc_id, source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> len(x) > 0)) as word
  from documents cross join guard),
m as (
  select source,
         replace(replace(replace(replace(word,
                 'ar', chr(1)),
                 'th', chr(2)),
                 chr(2) || 'e', chr(3)),
                 'ro', chr(4)) as mw
  from w),
t as (select source, sum(len(mw) + 1) as total_bpe from m group by source),
d as (select source, count(*) as n_docs from documents group by source)
select d.source, d.n_docs::BIGINT as n_docs,
       coalesce(t.total_bpe, 0)::BIGINT as total_bpe
from d left join t using (source)
order by d.source
"""


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST15 (streaming SCD2, the ingest twin of x69/x73): each user's
    current validity interval lives in GroupState and is emitted the
    moment the closing state-change arrives — append mode, closed
    intervals are final under the per-key append-only CDC contract
    (`streaming/stateful.scd2_stream`).  Drained with availableNow; the
    oracle is the batch history restricted to CLOSED intervals."""
    from .streaming.events import read_events_stream, run_to_memory_sink
    from .streaming.stateful import scd2_stream

    ev = read_events_stream(spark, sf_dir).where(F.col("user_id") < 10)
    out = run_to_memory_sink(scd2_stream(ev), "q_stream_scd2",
                             output_mode="append")
    return (out.select(F.col("user_id").cast("long").alias("user_id"),
                       "event_type", "valid_from", "valid_to",
                       F.col("n_events").cast("long").alias("n_events"))
            .orderBy("user_id", "valid_from"))


SQL_STREAM_SCD2 = """
with e as (
  select user_id, event_type, ts, event_id from events where user_id < 10),
n as (
  select *,
         row_number() over (partition by user_id
                            order by ts, event_id) as rn,
         lag(event_type) over (partition by user_id
                               order by ts, event_id) as prev
  from e),
c as (select * from n where rn = 1 or prev is distinct from event_type),
i as (
  select user_id, event_type, ts as valid_from,
         lead(ts) over (partition by user_id order by rn) as valid_to,
         coalesce(lead(rn) over (partition by user_id order by rn),
                  0) - rn as n_events
  from c)
select user_id::BIGINT as user_id, event_type, valid_from, valid_to,
       n_events::BIGINT as n_events
from i where valid_to is not null
order by user_id, valid_from
"""


def q_stream_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation (beyond reference): documents stream
    through the stateless quality/language/repetition gates, then a
    stateful lowest-id-per-fingerprint dedup (applyInPandasWithState,
    update mode) admits each content fingerprint once.  Drained with
    availableNow; must equal the batch gates + min(doc_id) per
    fingerprint."""
    from .streaming.curate import curate_doc_stream, read_documents_stream
    from .streaming.events import run_to_memory_sink

    from pyspark.sql import Window

    st = read_documents_stream(spark, sf_dir)
    out = run_to_memory_sink(curate_doc_stream(st), "q_stream_curate",
                             output_mode="update")
    # The update-mode memory sink keeps the per-key REVISION HISTORY
    # (a multi-file source can admit doc 5 in batch 1 and revise to
    # doc 3 in batch 2); the corpus view is the final state — the
    # lowest-id row per fingerprint.
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (out.withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") == 1).drop("__rn__")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "fingerprint", "n_tokens", "quality", "lang_pred")
            .orderBy("doc_id"))


def sql_stream_curate() -> str:
    sel, gst, cases = _sql_lang_parts()
    return f"""
with rt as (
  select doc_id, text,
         list_filter(string_split_regex(text, '\\s+'),
                     x -> len(x) > 0) t
  from documents),
bg as (select doc_id, t[i] || ' ' || t[i+1] bigram
       from rt, unnest(generate_series(1, len(t)-1)) u(i)),
topbg as (select doc_id, max(cnt) best
          from (select doc_id, bigram, count(*) cnt from bg
                group by 1, 2) group by 1),
rep as (
  select rt.doc_id, rt.text, rt.t as ws
  from rt left join topbg using (doc_id)
  where round(case when len(t) = 0 then 0.0
              else 1.0 - len(list_distinct(t)) / len(t) end, 4) <= 0.5
    and round(least(1.0, coalesce(best, 0) * 2.0
              / greatest(len(t), 1)), 4) <= 0.2),
s as (
  select doc_id,
    len(ws)::BIGINT as n_tokens,
    {_sql_quality_expr()} as quality,
    {sel},
    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
      as fingerprint
  from rep),
lp as (select *, case when {gst} = 0 then 'und' {cases} end
       as lang_pred from s),
gated as (select doc_id, fingerprint, n_tokens, quality, lang_pred
          from lp where quality >= 0.7 and lang_pred in ('en')),
win as (select *, row_number() over
            (partition by fingerprint order by doc_id) as rn from gated)
select doc_id, fingerprint, n_tokens, quality, lang_pred
from win where rn = 1 order by doc_id
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (absent in the reference, SURVEY §2.3): per market
    segment, customers with at least one order (left_semi) and with none
    (left_anti).  Both sides prune to the join key before the shuffle;
    Catalyst broadcasts the distinct-key build side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    semi = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                      "left_semi")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_with_orders")))
    anti = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                      "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_without_orders")))
    return (semi.join(anti, "c_mktsegment", "full_outer")
            .select("c_mktsegment",
                    F.coalesce("n_with_orders", F.lit(0))
                    .alias("n_with_orders"),
                    F.coalesce("n_without_orders", F.lit(0))
                    .alias("n_without_orders"))
            .orderBy("c_mktsegment"))


SQL_SEMI_ANTI_JOIN = """
select c_mktsegment,
       count(*) filter (where exists (
         select 1 from orders o where o.o_custkey = c.c_custkey))
         as n_with_orders,
       count(*) filter (where not exists (
         select 1 from orders o where o.o_custkey = c.c_custkey))
         as n_without_orders
from customer c group by 1 order by c_mktsegment
"""


def q_incremental_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh (beyond reference): fk counts merged from an
    80/20 old/delta split must equal the from-scratch full counts — the
    append path never rescans history."""
    from .operators.incremental import merge_fk_counts
    from .operators.fanout import fk_counts
    li = load_table(spark, sf_dir, "lineitem")
    h = F.abs(F.hash(F.col("l_orderkey"), F.col("l_linenumber"))) % 5
    old, delta = li.where(h != 0), li.where(h == 0)
    merged = merge_fk_counts(fk_counts(old, "l_partkey"), delta, "l_partkey")
    return (merged.select(F.col("l_partkey"),
                          F.col("count").cast("long").alias("cnt"))
            .orderBy("l_partkey"))


SQL_INCREMENTAL_COUNTS = """
select l_partkey, count(*) as cnt from lineitem
group by l_partkey order by l_partkey
"""


def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components dedup groups (beyond reference): transitive
    closure of a deterministic near-dup pair graph; keep_id = component
    minimum."""
    from .operators.components import dup_groups
    d = load_table(spark, sf_dir, "documents", ["doc_id"])
    d2 = d.withColumnRenamed("doc_id", "doc_id2")
    p1 = d.join(d2, F.col("doc_id2") == F.col("doc_id") + 2) \
        .where(F.col("doc_id") % 7 == 0)
    p2 = d.join(d2, F.col("doc_id2") == F.col("doc_id") + 4) \
        .where(F.col("doc_id") % 14 == 0)
    pairs = (p1.unionByName(p2)
             .select(F.col("doc_id").alias("id_a"),
                     F.col("doc_id2").alias("id_b")).distinct())
    g = dup_groups(pairs)
    return g.select(F.col("member_id").cast("long").alias("member_id"),
                    F.col("keep_id").cast("long").alias("keep_id")) \
        .orderBy("member_id")


_PAIRS_SQL = """
        select d1.doc_id as id_a, d2.doc_id as id_b
        from documents d1 join documents d2 on d2.doc_id = d1.doc_id + 2
        where d1.doc_id % 7 = 0
        union
        select d1.doc_id, d2.doc_id
        from documents d1 join documents d2 on d2.doc_id = d1.doc_id + 4
        where d1.doc_id % 14 = 0
"""

SQL_DUP_GROUPS = f"""
with recursive und as (
  select id_a a, id_b b from ({_PAIRS_SQL})
  union select id_b, id_a from ({_PAIRS_SQL})),
reach(n, m) as (
  select a, a from und
  union
  select r.n, u.b from reach r join und u on r.m = u.a)
select n::BIGINT as member_id, min(m)::BIGINT as keep_id
from reach group by n order by member_id
"""


def q_exact_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78 (exact near-dup dedup END TO END — the composition the
    curation pipeline actually runs: x74's exact similarity pairs →
    connected components → canonical keep-id): every document in a
    Jaccard-0.6 group maps to its group's minimum id.  Both stages are
    individually oracle-certified; this key certifies the COMPOSITION
    against brute-force pairs + a recursive-CTE transitive closure —
    no recall loss anywhere in the chain (the LSH path x13/x58 trades
    that recall for fewer candidates)."""
    from .operators.components import connected_components
    from .operators.dedup import allpairs_sim_join

    docs = load_table(spark, sf_dir, "documents")
    pairs = allpairs_sim_join(docs, threshold=0.6)
    return (connected_components(pairs)
            .select(F.col("node").cast("long").alias("member_id"),
                    F.col("component").cast("long").alias("keep_id"))
            .orderBy("member_id"))


SQL_EXACT_NEARDUP_GROUPS = """
with recursive norm as (
  select doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, greatest(len(toks) - 2, 1) + 1)
         ]) as sh
  from (select doc_id,
               string_split(regexp_replace(trim(lower(text)), '\\s+', ' ',
                                           'g'), ' ') toks
        from documents
        where length(regexp_replace(trim(lower(coalesce(text, ''))),
                                    '\\s+', ' ', 'g')) > 0)),
p as (
  select a.doc_id as id_a, b.doc_id as id_b
  from norm a join norm b on a.doc_id < b.doc_id
  where len(list_intersect(a.sh, b.sh))::DOUBLE /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
und as (select id_a a, id_b b from p
        union select id_b, id_a from p),
reach(n, m) as (
  select a, a from und
  union
  select r.n, u.b from reach r join und u on r.m = u.a)
select n::BIGINT as member_id, min(m)::BIGINT as keep_id
from reach group by n order by member_id
"""


def q_incremental_components(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """X62 (incremental dup-component maintenance; beyond reference —
    completes the ingest pair: x60 probes an arriving shard for
    near-dup PAIRS, this folds those pairs into the standing
    canonical GROUPS without recomputing the corpus graph).  The x13
    pair graph splits into a standing corpus (pairs with id_a % 3 !=
    0, labeled by `connected_components`) and an arriving delta
    (id_a % 3 == 0) merged via `components.merge_components` — only
    components the delta touches re-enter label propagation.  The
    oracle is x13's from-scratch transitive closure over the FULL
    graph: the incremental result must reproduce it bit for bit."""
    from .operators.components import (
        connected_components, merge_components)
    d = load_table(spark, sf_dir, "documents", ["doc_id"])
    d2 = d.withColumnRenamed("doc_id", "doc_id2")
    p1 = d.join(d2, F.col("doc_id2") == F.col("doc_id") + 2) \
        .where(F.col("doc_id") % 7 == 0)
    p2 = d.join(d2, F.col("doc_id2") == F.col("doc_id") + 4) \
        .where(F.col("doc_id") % 14 == 0)
    pairs = (p1.unionByName(p2)
             .select(F.col("doc_id").alias("id_a"),
                     F.col("doc_id2").alias("id_b")).distinct())
    old = pairs.where(F.col("id_a") % 3 != 0)
    delta = pairs.where(F.col("id_a") % 3 == 0)
    assign = connected_components(old)
    merged = merge_components(assign, delta)
    return (merged.select(
        F.col("node").cast("long").alias("member_id"),
        F.col("component").cast("long").alias("keep_id"))
        .orderBy("member_id"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59 (corpus-wide line dedup — CCNet §3.1's first preprocessing
    step): drop every line whose trimmed text repeats anywhere in the
    corpus (boilerplate lives exactly there), reassemble surviving
    lines in document order (`dedup.line_dedup`).  posexplode
    projection -> ONE map-side-combinable count shuffle on the line
    key -> line-keyed join back -> per-doc reassembly; no windows.  On
    this corpus (single-line docs) the dropped lines are exactly the
    exact-duplicate texts, so the entry is non-vacuous and
    discriminating."""
    from .operators.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = line_dedup(docs)
    return (out.select(F.col("doc_id").cast("long").alias("doc_id"),
                       "text", "n_lines", "n_kept")
            .orderBy("doc_id"))


SQL_LINE_DEDUP = """
with d as (
  select doc_id, string_split(coalesce(text, ''), chr(10)) as ls
  from documents),
lines as (
  select doc_id, i as pos, ls[i] as line, trim(ls[i]) as key,
         len(trim(ls[i])) >= 1 as countable
  from d, unnest(generate_series(1, len(ls))) as u(i)),
counts as (select key, count(*) as c from lines
           where countable group by key),
kept as (
  select l.doc_id, l.pos, l.line, l.countable,
         ((not l.countable) or c <= 1) as keep
  from lines l left join counts using (key)),
asm as (
  select doc_id,
         sum(case when countable then 1 else 0 end)::BIGINT as n_lines,
         sum(case when countable and keep then 1 else 0 end)::BIGINT
           as n_kept,
         coalesce(string_agg(case when keep then line end,
                             chr(10) order by pos), '') as text
  from kept group by doc_id)
select d2.doc_id::BIGINT as doc_id, coalesce(a.text, '') as text,
       coalesce(a.n_lines, 0) as n_lines, coalesce(a.n_kept, 0) as n_kept
from documents d2 left join asm a using (doc_id)
order by doc_id
"""


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58 (quality-aware canonical dedup; beyond reference): collapse
    each near-dup component to its BEST member — keeper = argmax
    n_chars, lowest id on ties (`components.canonical_groups`, a
    struct-max per component, no window) — the canonical-document rule
    curation stacks apply instead of keep-lowest-id.  Same
    deterministic pair graph as x13, so the two entries differ exactly
    where quality disagrees with id order."""
    from .operators.components import canonical_groups

    d = load_table(spark, sf_dir, "documents", ["doc_id", "n_chars"])
    ids = d.select("doc_id")
    d2 = ids.withColumnRenamed("doc_id", "doc_id2")
    p1 = ids.join(d2, F.col("doc_id2") == F.col("doc_id") + 2) \
        .where(F.col("doc_id") % 7 == 0)
    p2 = ids.join(d2, F.col("doc_id2") == F.col("doc_id") + 4) \
        .where(F.col("doc_id") % 14 == 0)
    pairs = (p1.unionByName(p2)
             .select(F.col("doc_id").alias("id_a"),
                     F.col("doc_id2").alias("id_b")).distinct())
    g = canonical_groups(d, pairs, "n_chars")
    return g.select(F.col("member_id").cast("long").alias("member_id"),
                    F.col("keep_id").cast("long").alias("keep_id")) \
        .orderBy("member_id")


SQL_CANONICAL_DEDUP = f"""
with recursive und as (
  select id_a a, id_b b from ({_PAIRS_SQL})
  union select id_b, id_a from ({_PAIRS_SQL})),
reach(n, m) as (
  select a, a from und
  union
  select r.n, u.b from reach r join und u on r.m = u.a),
comp as (select n as member_id, min(m) as root from reach group by n),
scored as (
  select c.member_id, c.root, d.n_chars
  from comp c join documents d on d.doc_id = c.member_id),
keepers as (
  select root, member_id as keep_id from (
    select root, member_id,
           row_number() over (partition by root
                              order by n_chars desc, member_id) as rn
    from scored) where rn = 1)
select s.member_id::BIGINT as member_id, k.keep_id::BIGINT as keep_id
from scored s join keepers k using (root)
order by member_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond reference): each purchase event joined to the
    user's latest signup at or before it."""
    from .operators.asof import asof_join
    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts", "value")
    right = ev.where(F.col("event_type") == "signup") \
        .select("user_id", "ts", F.col("value").alias("signup_value"))
    out = asof_join(left, right, on="user_id")
    return out.select(F.col("event_id").cast("long").alias("event_id"),
                      F.col("user_id").cast("long").alias("user_id"),
                      F.round(F.col("value"), 4).alias("value"),
                      F.round(F.col("signup_value"), 4).alias("signup_value")) \
        .orderBy("event_id")


SQL_ASOF_JOIN = """
select l.event_id::BIGINT as event_id, l.user_id::BIGINT as user_id,
       round(l.value, 4) as value, round(r.value, 4) as signup_value
from (select * from events where event_type = 'purchase') l
asof left join (select * from events where event_type = 'signup') r
  on l.user_id = r.user_id and l.ts >= r.ts
order by event_id
"""


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs)
    return MM.metadata_only(media).orderBy("media_id")


SQL_MEDIA_META = """
select doc_id::BIGINT as media_id,
       case when doc_id % 3 = 0 then 'image'
            when doc_id % 3 = 1 then 'audio' else 'video' end as kind,
       octet_length(text::BLOB)::BIGINT as n_bytes,
       md5(text) as digest
from documents order by media_id
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: evenly-spaced frames decoded from binary
    payloads via Arrow-batched ``mapInPandas`` (JVM-side frame planning,
    Python-side decode kernel).  Deterministic stub -> oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs).where(F.col("kind") == "video")
    return MM.sample_frames(media, n_frames=4, frame_bytes=4) \
        .orderBy("media_id", "frame_idx")


SQL_FRAME_SAMPLE = """
with media as (
  select doc_id::BIGINT as media_id, lower(hex(text::BLOB)) as payload_hex,
         octet_length(text::BLOB)::BIGINT as n_bytes
  from documents where doc_id % 3 = 2
), planned as (
  select media_id, payload_hex, i::INT as frame_idx,
         (((i * greatest(1, n_bytes // 4)) // 4) * 4)::BIGINT as frame_offset
  from media cross join generate_series(0, 3) as t(i)
)
select media_id, frame_idx, frame_offset,
       substring(payload_hex, frame_offset::INT * 2 + 1, 8) as frame_hex
from planned order by media_id, frame_idx
"""


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61 (REAL audio decode; upgrades the multimodal 'weak' item):
    every document's utf-8 bytes become the 8-bit PCM of a genuine
    RIFF/WAVE container (stdlib ``wave`` encoder, Arrow-batched
    assembly), then ``decode_wav_features`` parses the containers back
    with the stdlib ``wave`` READER — header, format block, frame
    extraction — and emits exact-integer features (sample count,
    duration, PCM sum, centered sum-of-squares, peak).  The oracle
    recomputes every value from the text's character codes (the corpus
    is ASCII at all SFs, so code point == PCM byte), certifying the
    encode -> container -> decode -> features loop end to end."""
    docs = load_table(spark, sf_dir, "documents")
    wav = MM.documents_as_wav(docs)
    return MM.decode_wav_features(wav).orderBy("media_id")


#: The WAV/PNG oracles equate character count with utf-8 byte count and
#: ascii() code with payload byte — valid ONLY for a pure-ASCII corpus.
#: This guard CTE makes that assumption loud: a non-ASCII document makes
#: the oracle ERROR (driver records err) instead of silently diverging.
SQL_ASCII_GUARD = """
  select case when count(*) > 0 then error(
           'non-ASCII corpus: byte-level oracle assumptions violated')
         else 0 end as ok
  from documents
  where length(coalesce(text, '')) <> octet_length(coalesce(text, '')::BLOB)
"""

SQL_WAV_DECODE = f"""
with guard as ({SQL_ASCII_GUARD}),
d as (select doc_id, coalesce(text, '') as t,
                  length(coalesce(text, '')) as n
           from documents cross join guard),
b as (
  select doc_id, ascii(substr(t, i, 1)) as v
  from d, unnest(range(1, n + 1)) as u(i)),
agg as (
  select doc_id, sum(v) as pcm_sum,
         sum((v - 128) * (v - 128)) as sq,
         max(abs(v - 128)) as pk
  from b group by doc_id)
select d.doc_id::BIGINT as media_id,
       8000::INT as sample_rate,
       d.n::BIGINT as n_samples,
       (d.n * 1000000 // 8000)::BIGINT as duration_us,
       coalesce(a.pcm_sum, 0)::BIGINT as pcm_sum,
       coalesce(a.sq, 0)::BIGINT as pcm_sq_sum,
       coalesce(a.pk, 0)::INT as peak
from d left join agg a using (doc_id)
order by media_id
"""


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63 (REAL image decode; closes the last multimodal 'weak'):
    every document's utf-8 bytes become the grayscale pixels of a
    genuine PNG container (``encode_png``: IHDR/IDAT/IEND chunk framing
    with CRC-32, zlib DEFLATE, all five scanline filters cycled per
    row), then ``decode_png_features`` parses the containers back with
    a from-scratch PNG READER — signature, CRC-verified chunk walk,
    inflate, per-filter-type reconstruction — and emits exact-integer
    features.  The oracle recomputes every value from the text's
    character codes (ASCII corpus guard built into the SQL), certifying
    the encode → container → decode → features loop end to end.  The
    codec is additionally cross-validated against the JVM's independent
    javax.imageio reader in tests."""
    docs = load_table(spark, sf_dir, "documents")
    png = MM.documents_as_png(docs)
    return MM.decode_png_features(png).orderBy("media_id")


SQL_PNG_DECODE = f"""
with guard as ({SQL_ASCII_GUARD}),
d as (select doc_id, coalesce(text, '') as t,
             length(coalesce(text, '')) as n
      from documents cross join guard),
b as (
  select doc_id, ascii(substr(t, i, 1)) as v
  from d, unnest(range(1, n + 1)) as u(i)),
agg as (
  select doc_id, sum(v) as s, sum(v * v) as sq, max(v) as pk
  from b group by doc_id)
select d.doc_id::BIGINT as media_id,
       32::INT as width,
       greatest(1, (d.n + 31) // 32)::INT as height,
       (32 * greatest(1, (d.n + 31) // 32))::BIGINT as n_pixels,
       coalesce(a.s, 0)::BIGINT as pixel_sum,
       coalesce(a.sq, 0)::BIGINT as pixel_sq_sum,
       coalesce(a.pk, 0)::INT as peak,
       3::INT as n_chunks
from d left join agg a using (doc_id)
order by media_id
"""


def q_png_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64 (image transform across REAL codec boundaries): PNG-encode
    every document, decode → nearest-neighbor downsample ×2 →
    RE-ENCODE as a new PNG → decode features of the result.  The
    oracle recomputes the surviving pixel set (even rows × even cols
    of the source grid) straight from the text — certifying the full
    decode/transform/encode/decode chain, not just one decode."""
    docs = load_table(spark, sf_dir, "documents")
    png = MM.documents_as_png(docs)
    small = MM.png_downsample(png, factor=2)
    return MM.decode_png_features(small).orderBy("media_id")


SQL_PNG_DOWNSAMPLE = f"""
with guard as ({SQL_ASCII_GUARD}),
d as (select doc_id, coalesce(text, '') as t,
             length(coalesce(text, '')) as n
      from documents cross join guard),
b as (
  select doc_id, ascii(substr(t, i, 1)) as v
  from d, unnest(range(1, n + 1)) as u(i)
  where ((i - 1) // 32) % 2 = 0 and ((i - 1) % 32) % 2 = 0),
agg as (
  select doc_id, sum(v) as s, sum(v * v) as sq, max(v) as pk
  from b group by doc_id)
select d.doc_id::BIGINT as media_id,
       16::INT as width,
       ((greatest(1, (d.n + 31) // 32) + 1) // 2)::INT as height,
       (16 * ((greatest(1, (d.n + 31) // 32) + 1) // 2))::BIGINT
         as n_pixels,
       coalesce(a.s, 0)::BIGINT as pixel_sum,
       coalesce(a.sq, 0)::BIGINT as pixel_sq_sum,
       coalesce(a.pk, 0)::INT as peak,
       3::INT as n_chunks
from d left join agg a using (doc_id)
order by media_id
"""


def q_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65 (REAL video decode — with this, all three modalities run
    genuine container codecs: WAV x61, PNG x63, AVI here): every
    document's utf-8 bytes become the frames of an uncompressed 8-bit
    DIB video in a genuine RIFF/AVI container (``encode_avi``:
    MainAVIHeader + AVISTREAMHEADER + BITMAPINFOHEADER + palette,
    bottom-up stride-padded frames, idx1 index), then
    ``decode_avi_features`` parses the containers back — chunk walk,
    header/format validation, idx1 cross-check against the actual movi
    layout, DIB un-flip — and emits exact-integer features including
    the MIDDLE frame's pixel sum (per-frame random access).  The
    oracle recomputes every value from the text's character codes
    (ASCII guard in the SQL)."""
    docs = load_table(spark, sf_dir, "documents")
    avi = MM.documents_as_avi(docs)
    return MM.decode_avi_features(avi).orderBy("media_id")


SQL_AVI_DECODE = f"""
with guard as ({SQL_ASCII_GUARD}),
d as (select doc_id, coalesce(text, '') as t,
             length(coalesce(text, '')) as n,
             greatest(1, (length(coalesce(text, '')) + 127) // 128)
               as nf
      from documents cross join guard),
b as (
  select doc_id, (i - 1) as idx, ascii(substr(t, i, 1)) as v
  from d, unnest(range(1, n + 1)) as u(i)),
agg as (
  select doc_id, sum(v) as s, sum(v * v) as sq, max(v) as pk
  from b group by doc_id),
midagg as (
  select b.doc_id, sum(b.v) as ms
  from b join d using (doc_id)
  where b.idx >= (d.nf // 2) * 128 and b.idx < (d.nf // 2 + 1) * 128
  group by b.doc_id)
select d.doc_id::BIGINT as media_id,
       16::INT as width, 8::INT as height,
       d.nf::BIGINT as n_frames,
       coalesce(a.s, 0)::BIGINT as pixel_sum,
       coalesce(a.sq, 0)::BIGINT as pixel_sq_sum,
       coalesce(a.pk, 0)::INT as peak,
       coalesce(m.ms, 0)::BIGINT as mid_frame_sum
from d left join agg a using (doc_id) left join midagg m using (doc_id)
order by media_id
"""


def q_video_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66 (cross-codec composition): AVI-encode every document, then
    ``avi_thumbnail`` decodes each video, picks the MIDDLE frame and
    re-encodes it as a standalone PNG — two real codecs composing in
    one Arrow batch — and ``decode_png_features`` reads the thumbnails
    back.  The oracle recomputes every thumbnail feature from the
    middle frame's byte span of the source text."""
    docs = load_table(spark, sf_dir, "documents")
    avi = MM.documents_as_avi(docs)
    thumbs = MM.avi_thumbnail(avi)
    return MM.decode_png_features(thumbs).orderBy("media_id")


SQL_VIDEO_THUMBNAIL = f"""
with guard as ({SQL_ASCII_GUARD}),
d as (select doc_id, coalesce(text, '') as t,
             length(coalesce(text, '')) as n,
             greatest(1, (length(coalesce(text, '')) + 127) // 128)
               as nf
      from documents cross join guard),
b as (
  select doc_id, (i - 1) as idx, ascii(substr(t, i, 1)) as v
  from d, unnest(range(1, n + 1)) as u(i)),
midagg as (
  select b.doc_id, sum(b.v) as s, sum(b.v * b.v) as sq, max(b.v) as pk
  from b join d using (doc_id)
  where b.idx >= (d.nf // 2) * 128 and b.idx < (d.nf // 2 + 1) * 128
  group by b.doc_id)
select d.doc_id::BIGINT as media_id,
       16::INT as width, 8::INT as height,
       128::BIGINT as n_pixels,
       coalesce(m.s, 0)::BIGINT as pixel_sum,
       coalesce(m.sq, 0)::BIGINT as pixel_sq_sum,
       coalesce(m.pk, 0)::INT as peak,
       3::INT as n_chunks
from d left join midagg m using (doc_id)
order by media_id
"""


def q_resize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize with size-class co-location: rows range-partitioned
    by payload size so each Arrow batch holds similarly-sized blobs, then a
    batched resize kernel (deterministic truncate stub)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs)
    return MM.resize_batch(media, target_bytes=64).orderBy("media_id")


SQL_RESIZE_BATCH = """
with media as (
  select doc_id::BIGINT as media_id,
         case when doc_id % 3 = 0 then 'image'
              when doc_id % 3 = 1 then 'audio' else 'video' end as kind,
         lower(hex(text::BLOB)) as payload_hex,
         octet_length(text::BLOB)::BIGINT as orig_bytes
  from documents
)
select media_id, kind, orig_bytes,
       least(orig_bytes, 64)::BIGINT as resized_bytes,
       case when orig_bytes = 0 then 0
            else (least(orig_bytes, 64) * 10000) // orig_bytes end::BIGINT
         as scale_bp,
       substring(payload_hex, 1, 16) as resized_head
from media order by media_id
"""


# --------------------------------------------------------------------------
# non-SQL-expressible (rows-only checks): sampling + estimation
# --------------------------------------------------------------------------

def q_join_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: distributed weighted join sample, driver-checked through its
    deterministic marginals (reference join.py:73-245 semantics — NOT
    code).  The sample itself is seeded-random, so the contract row
    asserts the provable invariants instead of raw rows:

    - exactly n samples with distinct sample ids (multinomial draw);
    - every sampled customer key exists in the base table;
    - every (c_custkey, o_orderkey) pair with ``__in__:orders`` set is a
      real pair of the true join;
    - the ``__in__:orders`` rate matches the closed-form expectation
      sum(n_orders)/sum(max(1, n_orders)) within 0.05 (5+ sigma at
      n=2000);
    - per-mktsegment sample shares match the weighted expectation
      w_seg/W within 0.05 per segment (weighted-with-replacement law).
    """
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    from .estimators.sample import cin_tree
    tree = cin_tree(sg, "orders")
    drawn, _, _ = join_sample(tree, tables, "customer", 2000, 2000, seed=42)
    samp = drawn.select(
        F.col("`__sample_id__`").alias("sample_id"),
        F.col("`customer.c_custkey`").alias("c_custkey"),
        F.col("`orders.o_orderkey`").alias("o_orderkey"),
        F.col("`__in__:orders`").alias("has_order"))

    cust = tables["customer"]
    orders = tables["orders"]
    n = samp.count()
    n_ids = samp.select("sample_id").distinct().count()
    bad_ids = samp.join(F.broadcast(cust.select("c_custkey")),
                        "c_custkey", "left_anti").count()
    true_pairs = orders.select(F.col("o_custkey").alias("c_custkey"),
                               "o_orderkey")
    bad_pairs = (samp.where("has_order")
                 .join(true_pairs, ["c_custkey", "o_orderkey"], "left_anti")
                 .count())
    # closed-form weights: w_c = max(1, n_orders(c)) under outer-join
    # null-extension semantics
    wdf = (cust.select("c_custkey", "c_mktsegment")
           .join(orders.groupBy(F.col("o_custkey").alias("c_custkey"))
                 .agg(F.count(F.lit(1)).alias("n_o")),
                 "c_custkey", "left")
           .withColumn("n_o", F.coalesce("n_o", F.lit(0)))
           .withColumn("w", F.greatest(F.col("n_o"), F.lit(1))))
    tot = wdf.agg(F.sum("w").alias("w"), F.sum("n_o").alias("n_o")).first()
    exp_rate = tot["n_o"] / tot["w"]
    got_rate = samp.agg(
        F.avg(F.col("has_order").cast("double"))).first()[0]
    exp_seg = {r["c_mktsegment"]: r["ws"] / tot["w"] for r in
               wdf.groupBy("c_mktsegment").agg(F.sum("w").alias("ws"))
               .collect()}
    got_seg = {r["c_mktsegment"]: r["cnt"] / n for r in
               samp.join(F.broadcast(cust.select("c_custkey",
                                                 "c_mktsegment")),
                         "c_custkey")
               .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("cnt"))
               .collect()}
    seg_dev = max(abs(exp_seg.get(s, 0.0) - got_seg.get(s, 0.0))
                  for s in set(exp_seg) | set(got_seg))
    drawn.unpersist()
    row = (int(n), int(n_ids), bad_ids == 0, bad_pairs == 0,
           abs(got_rate - exp_rate) <= 0.05, seg_dev <= 0.05)
    return local_df(spark,
        [row], "n_samples long, n_distinct_ids long, ids_valid boolean, "
               "pairs_valid boolean, rate_ok boolean, segments_ok boolean")


SQL_JOIN_SAMPLE = """
select 2000::BIGINT as n_samples, 2000::BIGINT as n_distinct_ids,
       true as ids_valid, true as pairs_valid,
       true as rate_ok, true as segments_ok
"""


def _qerror_check_df(spark, est_fn, exact, bench: dict, bound: float
                     ) -> DataFrame:
    """Shared shape for the estimator contract rows: per benchmark query,
    the exact truth (deterministic — the oracle recomputes it in SQL) and
    a q-error-bounded boolean (the seeded estimate stays private so the
    row is oracle-comparable; reference protocol run.py:60-67 golden
    q-error checks, semantics NOT code)."""
    rows = []
    for name, sql in bench.items():
        e = est_fn(sql)
        t = exact.estimate(sql)
        q = max(e / t, t / e) if e > 0 and t > 0 else (
            1.0 if e == t else float("inf"))
        rows.append((name, int(t), bool(q <= bound)))
    return (local_df(spark, rows, "query string, truth long, ok boolean")
            .orderBy("query"))


def _qerror_check_sql(bench: dict) -> str:
    """DuckDB oracle for :func:`_qerror_check_df`: recompute each truth
    as a scalar subquery; `ok` certifies the Spark-side q-error bound."""
    parts = [
        f"select '{name}' as query, ({sql})::BIGINT as truth, true as ok"
        for name, sql in bench.items()
    ]
    return "\nunion all\n".join(parts) + "\norder by query"


def q_estimate_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6/J8-analog: sample-backed cardinality estimates vs exact truth.
    Deterministic contract: truth values (oracle-recomputed) plus a
    q-error <= 2 assertion on the seeded estimate (observed max 1.04 at
    sf0.001/sf0.01)."""
    from .estimators import SampleEstimator, prepare_tree_sample
    from .estimators.sample import spanning_tree
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = SampleEstimator()
    est.add(prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                                "lineitem", n_min=50_000, seed=42))
    exact = ExactEstimator(sg, tables)
    return _qerror_check_df(spark, est.estimate, exact, BENCH_QUERIES, 2.0)


def q_nar_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3-M7: NumPy NAR masked-autoencoder trained on the Spark-encoded
    matrix; progressive-sampling estimates vs exact truth.  Deterministic
    contract: oracle-recomputed truths + q-error <= 3 assertion on the
    seeded estimate (observed max 1.04)."""
    from .model import TrainConfig
    from .model.bridge import train_single_table
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount"]
    cfg = TrainConfig(epochs=10, d_word=12, d_ff=48, batch_size=1024, seed=42)
    nar = train_single_table(li, cols, cfg, sample_size=1000,
                             id_cols=["l_orderkey", "l_linenumber"])
    exact = ExactEstimator(build_tpch_schema(), {"lineitem": li})
    return _qerror_check_df(spark, nar.estimate, exact,
                            NAR_BENCH_QUERIES, 3.0)


def q_nar_ur_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full UR-mode learned estimator (NAR over the join sample with
    existence markers + fanout scaling) vs exact truth.  Deterministic
    contract: oracle-recomputed truths + q-error <= 4 assertion on the
    seeded estimate (observed max 1.45)."""
    from .estimators import prepare_tree_sample
    from .estimators.sample import spanning_tree
    from .model import TrainConfig
    from .model.join_bridge import train_join_estimator
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=50_000, seed=42)
    cfg = TrainConfig(epochs=6, d_word=12, d_ff=48, batch_size=1024, seed=42)
    nar = train_join_estimator(ts, [
        "lineitem.l_quantity", "lineitem.l_returnflag",
        "orders.o_orderstatus", "orders.o_orderpriority",
        "customer.c_mktsegment", "customer.c_acctbal"],
        cfg, sample_size=1000, max_rows=100_000)
    exact = ExactEstimator(sg, tables)
    return _qerror_check_df(spark, nar.estimate, exact, BENCH_QUERIES, 4.0)


def q_nar_cin_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIN mode: per-subschema NAR models chained via inherited-sample
    conditioning (reference ProgressiveSamplingCIN) vs exact truth.
    Deterministic contract: oracle-recomputed truths + q-error <= 4
    assertion on the seeded estimate (observed max 1.12)."""
    from .estimators import prepare_tree_sample
    from .estimators.cin import NarCinEstimator
    from .estimators.sample import cin_tree
    from .model import TrainConfig
    from .model.bridge import base_domains
    from .model.join_bridge import train_join_estimator
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    cfg = TrainConfig(epochs=12, d_word=12, d_ff=48, batch_size=512, seed=11)
    model_cols = {
        "customer": ["customer.c_mktsegment", "customer.c_acctbal",
                     "nation.n_name"],
        "nation": ["nation.n_name", "region.r_name"],
    }
    doms = base_domains(tables, sorted(
        {c for cols in model_cols.values() for c in cols}))
    est = NarCinEstimator()
    for center, cols in model_cols.items():
        tscin = prepare_tree_sample(cin_tree(sg, center), tables, center,
                                    n_min=30_000, seed=11)
        est.add(train_join_estimator(tscin, cols, cfg, sample_size=800,
                                     dictionaries=doms))
    exact = ExactEstimator(sg, tables)
    return _qerror_check_df(spark, est.estimate, exact, CIN_BENCH_QUERIES,
                            4.0)


CIN_BENCH_QUERIES = {
    # single-model path
    "c1_single": "SELECT COUNT(*) FROM customer c, nation n WHERE "
                 "c.c_nationkey = n.n_nationkey AND "
                 "n.n_name LIKE 'NATION_1%'",
    # chained path: customer-model conditions the nation-model
    "c2_chain": "SELECT COUNT(*) FROM customer c, nation n, region r "
                "WHERE c.c_nationkey = n.n_nationkey AND "
                "n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'",
}


def q_trm_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 (Transformer arch): the non-autoregressive Transformer NAR
    (reference scardina/models.py:435-475 — stacked self-attention blocks
    over per-column word embeddings, semantics NOT code) trained on the
    Spark-encoded matrix; progressive-sampling estimates vs exact truth.
    Deterministic contract: oracle-recomputed truths + q-error <= 3
    assertion on the seeded estimate (same protocol as e2)."""
    from .model.bridge import train_single_table
    from .model.transformer import TrmConfig
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount"]
    cfg = TrmConfig(epochs=8, d_word=12, d_ff=48, batch_size=1024,
                    seed=42, n_blocks=1, n_heads=2)
    nar = train_single_table(li, cols, cfg, sample_size=1000, arch="trm",
                             id_cols=["l_orderkey", "l_linenumber"])
    exact = ExactEstimator(build_tpch_schema(), {"lineitem": li})
    return _qerror_check_df(spark, nar.estimate, exact,
                            NAR_BENCH_QUERIES, 3.0)


def _subquery_slice(sf_dir: str) -> list[tuple[str, str, int]]:
    """Deterministic representative slice of the recorded per-subquery
    artifact (benchmarks/tpch/job-light-subqueries-<sf>.csv): the first
    recorded row of each node size 1..5.  The SQL text is identical
    across the per-sf artifacts (same seed-fixed suite, same to_sql), so
    the oracle can rebuild the same slice from the sf0.01 file."""
    from .estimators.subqueries import (
        load_subqueries_csv, subqueries_csv_path)
    picked: dict[int, dict] = {}
    rows = load_subqueries_csv(subqueries_csv_path(sf_dir, "job-light"))
    rows += load_subqueries_csv(
        subqueries_csv_path(sf_dir, "job-light-ext"))
    for r in rows:
        k = len(r["node"].split())
        if k not in picked:
            picked[k] = r
    return [(f"n{k}", picked[k]["sql"], picked[k]["card"])
            for k in sorted(picked)]


def q_subquery_truths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 (per-subquery benchmark artifact): the recorded truths of the
    subquery exports (reference protocol run.py:980-990 +
    benchmarks/imdb/job-light_subqueries.csv format — 420 connected
    sub-joins of the 82-query jl suite plus 746 of the 35-query
    6-7-table p-error suite, truths at all three SFs) re-execute through
    the relational planner; each representative row (one per node size
    1..7) asserts recorded == recomputed.  The jm artifact
    (job-m-subqueries-<sf>.csv) is pinned by tests + the bench p-error
    stage — its cyclic join graphs are out of the tree-planner's scope."""
    sg = build_tpch_schema()
    est = ExactEstimator(sg, load_tables(spark, sf_dir))
    out = []
    for label, sql, recorded in _subquery_slice(sf_dir):
        t = est.estimate(sql)
        out.append((label, int(t), int(t) == recorded))
    return (local_df(spark, out, "q string, truth long, ok boolean")
            .orderBy("q"))


def _sql_subquery_truths() -> str:
    """Oracle: recompute the same slice's truths straight in DuckDB."""
    parts = [f"select '{label}' as q, ({sql})::BIGINT as truth, true as ok"
             for label, sql, _ in _subquery_slice("sf0.01")]
    return "\nunion all\n".join(parts) + "\norder by q"


_PPC_QUERY = "px_7t_l_o_c_s_p_n_r_0"


def _ppc_rows(sf_dir: str) -> list[dict]:
    from .estimators.subqueries import (
        load_subqueries_csv, subqueries_csv_path)
    rows = load_subqueries_csv(
        subqueries_csv_path(sf_dir, "job-light-ext"))
    return [r for r in rows if r["name"] == _PPC_QUERY]


def q_ppc_inject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 (plan-cost injection, the reference's PPC loop without
    Postgres — run.py:980-1008 protocol): every connected subquery card
    of a 7-table suite query writes into the bundled Derby database
    through Spark's JDBC writer, reads back through the partitioned JDBC
    source, and the C_out/C_smj planner consumes the injected cards.
    Output: the round-tripped card per node (the oracle recomputes each
    from the base tables — so a match certifies store+read preserved
    exact truths end to end) plus the planner verdict rows (injecting
    truths must choose a truth-optimal join order under both models)."""
    from .benchmarks import perror_suite
    from .estimators.ppc import inject_cards, plan_with_injected

    rows = _ppc_rows(sf_dir)
    cards = inject_cards(spark, rows)
    truths = {r["node"]: r["card"] for r in rows}
    pe = plan_with_injected(perror_suite()[_PPC_QUERY], cards, truths)
    out = [(f"node:{r['node']}", int(cards[r["node"]])) for r in rows]
    out.append(("pe_out_is_1", int(pe["pe_out"] == 1.0)))
    out.append(("pe_smj_is_1", int(pe["pe_smj"] == 1.0)))
    return (local_df(spark, out, "q string, v long").orderBy("q"))


def _sql_ppc_inject() -> str:
    """Oracle: recompute every injected node card straight from the base
    tables (the artifact SQL), plus the planner-verdict literals."""
    parts = [f"select 'node:{r['node']}' as q, ({r['sql']})::BIGINT as v"
             for r in _ppc_rows("sf0.01")]
    parts.append("select 'pe_out_is_1', 1")
    parts.append("select 'pe_smj_is_1', 1")
    return "\nunion all\n".join(parts) + "\norder by q"


def q_pg_plan_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 (live-Postgres plan cost — the reference's PPC back end,
    run.py:992-1008 + eval_ppc 1011-1127): per-subquery cards of the
    7-table suite query store into a REAL embedded PostgreSQL 15
    (COPY-loaded from the sf parquet, unix socket, vanilla binaries)
    and read back before planning; the DP planner picks the join TREE
    the cards imply — over the FULL BUSHY plan space (DPccp-style
    enumeration, the reference's full-planner-freedom protocol) — and
    the LIVE Postgres planner costs it under ``join_collapse_limit =
    1`` forcing of the explicit nesting (`estimators/pg.py`).  Output:
    the round-tripped card per node (oracle recomputes each from the
    base tables — a match certifies the store+read loop) plus three
    live-planner verdicts: truth-card p-error is exactly 1, the forced
    join TREE matches the requested shape structurally (EXPLAIN join
    nodes == the tree's internal alias sets; build/probe sides stay
    free, as in the reference harness), and the free planner never
    beats its own forced-order cost."""
    from .benchmarks import perror_suite
    from .estimators import pg as PG

    rows = _ppc_rows(sf_dir)
    srv = PG.ensure_server()
    db = PG.load_sf_tables(srv, sf_dir)
    cards = PG.store_cards(srv, db, rows)
    truths = {r["node"]: r["card"] for r in rows}

    def as_sets(d: dict) -> dict:
        return {frozenset(k.split()): float(v) for k, v in d.items()}

    res = PG.pg_plan_error(srv, db, perror_suite()[_PPC_QUERY],
                           as_sets(cards), as_sets(truths))
    out = [(f"node:{n}", int(c)) for n, c in cards.items()]
    out.append(("pe_truth_is_1", int(res["pe_pg"] == 1.0)))
    out.append(("order_respected", int(res["order_respected"])))
    out.append(("native_le_forced", int(res["native_le_forced"])))
    return local_df(spark, out, "q string, v long").orderBy("q")


def _sql_pg_plan_cost() -> str:
    """Oracle: recompute every stored node card straight from the base
    tables, plus the live-planner verdict literals."""
    parts = [f"select 'node:{r['node']}' as q, ({r['sql']})::BIGINT as v"
             for r in _ppc_rows("sf0.01")]
    parts.append("select 'pe_truth_is_1', 1")
    parts.append("select 'order_respected', 1")
    parts.append("select 'native_le_forced', 1")
    return "\nunion all\n".join(parts) + "\norder by q"


_ASHA_D_WORDS = (8, 12, 16)
_ASHA_D_FFS = (32, 48, 64)
_ASHA_MAX_EPOCHS = 8
_ASHA_ETA = 2
_ASHA_MIN_EPOCHS = 2


def q_asha_async(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 (ASYNC ASHA — Li et al. MLSys 2020, the algorithm the
    reference's Ray scheduler actually runs, deterministically
    serialized at W=1; closes the last gap in the M8 search family):
    promotions fire on PARTIAL rung information via the verbatim
    get_job rule.  Job count and per-job rungs are loss-dependent, so
    the oracle emits one literal parameter row; `ok` certifies
    Spark-side that (a) a full re-simulation of the scheduler from the
    recorded trial table reproduces every decision (start vs promote,
    which config, which rung), (b) every promotion was legal at its
    decision point (top floor(n_seen/eta), not yet promoted), (c)
    every config started exactly once at rung 0 in grid order, (d) a
    promotion interleaves before rung 0 fills (the async property),
    (e) budgets follow the rung ladder and all losses are finite, and
    (f) the winner is the final-rung argmin with config tie-break."""
    import math

    from .model import TrainConfig
    from .model.bridge import training_matrix
    from .model.search import asha_async_search
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    base = TrainConfig(epochs=_ASHA_MAX_EPOCHS, batch_size=1024, seed=42)
    codes, domains = training_matrix(li, cols, max_rows=20_000,
                                     seed=base.seed,
                                     id_cols=["l_orderkey",
                                              "l_linenumber"])
    bins = [(c, domains[c].dom_size) for c in cols]
    best_model, trials, _infl = asha_async_search(
        bins, codes, base, d_words=_ASHA_D_WORDS, d_ffs=_ASHA_D_FFS,
        eta=_ASHA_ETA, min_epochs=_ASHA_MIN_EPOCHS)
    grid = [(dw, dff) for dw in _ASHA_D_WORDS for dff in _ASHA_D_FFS]

    def budget(r: int) -> int:
        return min(_ASHA_MIN_EPOCHS * _ASHA_ETA ** r, _ASHA_MAX_EPOCHS)

    ok = all(math.isfinite(t.val_loss) and math.isfinite(t.train_loss)
             for t in trials)
    results: dict[int, list] = {}
    promoted: dict[int, set] = {}
    started = 0
    for t in trials:
        c = (t.cfg.d_word, t.cfg.d_ff)
        want = None
        for r in sorted(results, reverse=True):
            if budget(r) >= _ASHA_MAX_EPOCHS:
                continue
            done = sorted(results[r])
            k = len(done) // _ASHA_ETA
            cands = [x for x in done[:k]
                     if (x[1], x[2]) not in promoted.get(r, set())]
            if cands:
                want = ("promote", r, cands[0][1], cands[0][2])
                break
        if want is None and started < len(grid):
            want = ("start", None, *grid[started])
            started += 1
        if t.promoted_from is None:
            ok = ok and want == ("start", None, *c) and t.rung == 0
        else:
            ok = ok and want == ("promote", t.promoted_from, *c)
            ok = ok and t.rung == t.promoted_from + 1
            promoted.setdefault(t.promoted_from, set()).add(c)
        ok = ok and t.epochs == budget(t.rung)
        results.setdefault(t.rung, []).append((t.val_loss, *c))
    starts = [(t.cfg.d_word, t.cfg.d_ff) for t in trials
              if t.promoted_from is None]
    ok = ok and starts == grid
    up = [t.job for t in trials if t.rung > 0]
    r0 = [t.job for t in trials if t.rung == 0]
    ok = ok and bool(up) and min(up) < max(r0)
    final = max(t.rung for t in trials)
    best = min((t for t in trials if t.rung == final),
               key=lambda t: (t.val_loss, t.cfg.d_word, t.cfg.d_ff))
    ok = ok and (best_model.cfg.d_word, best_model.cfg.d_ff) == (
        best.cfg.d_word, best.cfg.d_ff)
    return local_df(spark,
        [(len(grid), _ASHA_ETA, _ASHA_MIN_EPOCHS, _ASHA_MAX_EPOCHS,
          bool(ok))],
        "n_configs int, eta int, min_epochs int, max_epochs int, "
        "ok boolean")


def _sql_asha_async() -> str:
    n = len(_ASHA_D_WORDS) * len(_ASHA_D_FFS)
    return (f"select {n}::INT as n_configs, {_ASHA_ETA}::INT as eta, "
            f"{_ASHA_MIN_EPOCHS}::INT as min_epochs, "
            f"{_ASHA_MAX_EPOCHS}::INT as max_epochs, true as ok")


_TPE_D_WORDS = (8, 12, 16)
_TPE_D_FFS = (32, 48, 64)
_TPE_N_TRIALS = 6
_TPE_N_STARTUP = 3


def q_tpe_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 (TPE sampler — the reference's Optuna TPESampler semantics,
    scardina/run.py:611-657, made deterministic per Bergstra et al.
    NIPS'11 categorical TPE; completes the M8 search family beside
    e8's grid and e12's ASHA scheduler): fixed maximin startup spread,
    then each trial scores every untried config by the product of
    per-dimension smoothed good/bad density ratios and trains the
    argmax.  Output: one row per trial with `ok` certifying Spark-side
    that (a) all trial configs are distinct and n_trials < |grid| (the
    adaptivity claim), (b) the startup picks follow the documented
    spread order, (c) every adaptive pick equals the independently
    recomputed acquisition argmax over the untried configs given the
    prior history (`tpe_scores` re-run outside the search loop), (d)
    the returned winner is the val-loss argmin with config tie-break,
    and (e) every loss is finite.  The oracle emits the literal pick
    schedule; which configs win is loss-dependent and carried by the
    booleans."""
    import math

    from .model import TrainConfig
    from .model.bridge import training_matrix
    from .model.search import tpe_scores, tpe_search, tpe_startup_order
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    base = TrainConfig(epochs=4, batch_size=1024, seed=42)
    codes, domains = training_matrix(li, cols, max_rows=20_000,
                                     seed=base.seed,
                                     id_cols=["l_orderkey",
                                              "l_linenumber"])
    bins = [(c, domains[c].dom_size) for c in cols]
    best_model, trials = tpe_search(bins, codes, base,
                                    d_words=_TPE_D_WORDS,
                                    d_ffs=_TPE_D_FFS,
                                    n_trials=_TPE_N_TRIALS,
                                    n_startup=_TPE_N_STARTUP)
    grid = [(dw, dff) for dw in _TPE_D_WORDS for dff in _TPE_D_FFS]
    cfgs = [(t.cfg.d_word, t.cfg.d_ff) for t in trials]
    ok = (len(cfgs) == _TPE_N_TRIALS < len(grid)
          and len(set(cfgs)) == len(cfgs))
    ok = ok and all(math.isfinite(t.val_loss)
                    and math.isfinite(t.train_loss) for t in trials)
    ok = ok and cfgs[:_TPE_N_STARTUP] == tpe_startup_order(
        _TPE_D_WORDS, _TPE_D_FFS)[:_TPE_N_STARTUP]
    hist: list[tuple[int, int, float]] = []
    for t in trials:
        c = (t.cfg.d_word, t.cfg.d_ff)
        ok = ok and t.startup == (t.trial < _TPE_N_STARTUP)
        if not t.startup:
            untried = [g for g in grid
                       if g not in {h[:2] for h in hist}]
            s = tpe_scores(hist, untried, _TPE_D_WORDS, _TPE_D_FFS)
            ok = ok and c == min(untried,
                                 key=lambda g: (-s[g], g[0], g[1]))
        hist.append((c[0], c[1], t.val_loss))
    best = min(trials, key=lambda t: (t.val_loss, t.cfg.d_word,
                                      t.cfg.d_ff))
    ok = ok and (best_model.cfg.d_word, best_model.cfg.d_ff) == (
        best.cfg.d_word, best.cfg.d_ff)
    out = [(t.trial, bool(t.startup), bool(ok)) for t in trials]
    return (local_df(spark,
        out, "trial int, startup boolean, ok boolean")
        .orderBy("trial"))


def _sql_tpe_search() -> str:
    parts = [
        f"select {t}::INT as trial, "
        f"{'true' if t < _TPE_N_STARTUP else 'false'} as startup, "
        f"true as ok"
        for t in range(_TPE_N_TRIALS)]
    return "\nunion all\n".join(parts) + "\norder by trial"


def q_asha_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 (ASHA successive-halving search — the reference's scheduler
    semantics, scardina/run.py:611-657 Ray Tune + ASHA, made
    deterministic; complements e8's exhaustive grid): rung ladder of
    epoch budgets (r, r·eta, ...), each rung keeping the top 1/eta
    configs by validation loss with a config tie-break
    (`model/search.asha_search`).  Output: one row per rung with its
    schedule (budget, configs trained, configs kept) and `ok`
    certifying Spark-side that (a) each rung's promotions equal the
    independently recomputed top-k of its trial rows, (b) the winner is
    the final rung's argmin, (c) every loss is finite, and (d) the run
    really was resource-adaptive (total epochs spent < exhaustive
    full-budget cost).  The oracle emits the literal ladder — which
    configs survive is loss-dependent and carried by the booleans."""
    import math

    from .model import TrainConfig
    from .model.bridge import training_matrix
    from .model.search import asha_schedule, asha_search
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    base = TrainConfig(epochs=_ASHA_MAX_EPOCHS, batch_size=1024, seed=42)
    codes, domains = training_matrix(li, cols, max_rows=20_000,
                                     seed=base.seed,
                                     id_cols=["l_orderkey",
                                              "l_linenumber"])
    bins = [(c, domains[c].dom_size) for c in cols]
    best_model, trials = asha_search(bins, codes, base,
                                     d_words=_ASHA_D_WORDS,
                                     d_ffs=_ASHA_D_FFS,
                                     eta=_ASHA_ETA,
                                     min_epochs=_ASHA_MIN_EPOCHS)
    sched = asha_schedule(len(_ASHA_D_WORDS) * len(_ASHA_D_FFS),
                          _ASHA_MAX_EPOCHS, _ASHA_ETA, _ASHA_MIN_EPOCHS)
    ok = all(math.isfinite(t.val_loss) and math.isfinite(t.train_loss)
             for t in trials)
    by_rung: dict[int, list] = {}
    for t in trials:
        by_rung.setdefault(t.rung, []).append(t)
    n_prev = len(_ASHA_D_WORDS) * len(_ASHA_D_FFS)
    for rung, (budget, keep) in enumerate(sched):
        rows = by_rung.get(rung, [])
        ok = ok and len(rows) == n_prev
        ok = ok and all(t.epochs == budget for t in rows)
        # promotions == independently recomputed top-k
        order = sorted(rows, key=lambda t: (t.val_loss, t.cfg.d_word,
                                            t.cfg.d_ff))
        want = {(t.cfg.d_word, t.cfg.d_ff) for t in order[:keep]}
        got = {(t.cfg.d_word, t.cfg.d_ff) for t in rows if t.promoted}
        ok = ok and want == got
        n_prev = keep
    final = sorted(by_rung[len(sched) - 1],
                   key=lambda t: (t.val_loss, t.cfg.d_word, t.cfg.d_ff))
    ok = ok and (best_model.cfg.d_word, best_model.cfg.d_ff) == (
        final[0].cfg.d_word, final[0].cfg.d_ff)
    spent = sum(t.epochs for t in trials)
    exhaustive = (len(_ASHA_D_WORDS) * len(_ASHA_D_FFS)
                  * _ASHA_MAX_EPOCHS)
    ok = ok and spent < exhaustive
    out = [(rung, budget, (len(by_rung.get(rung, []))), keep, bool(ok))
           for rung, (budget, keep) in enumerate(sched)]
    return (local_df(spark,
        out, "rung int, epochs int, n_trained int, n_kept int, "
             "ok boolean")
        .orderBy("rung"))


def _sql_asha_search() -> str:
    from .model.search import asha_schedule
    sched = asha_schedule(len(_ASHA_D_WORDS) * len(_ASHA_D_FFS),
                          _ASHA_MAX_EPOCHS, _ASHA_ETA, _ASHA_MIN_EPOCHS)
    n_prev = len(_ASHA_D_WORDS) * len(_ASHA_D_FFS)
    parts = []
    for rung, (budget, keep) in enumerate(sched):
        parts.append(f"select {rung}::INT as rung, {budget}::INT as "
                     f"epochs, {n_prev}::INT as n_trained, "
                     f"{keep}::INT as n_kept, true as ok")
        n_prev = keep
    return "\nunion all\n".join(parts) + "\norder by rung"


def q_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: deterministic hyperparameter grid search (reference
    scardina/run.py:611-657 — Ray Tune/Optuna over {d_word, d_ff},
    scored by validation loss; semantics NOT code).  Contract: one row
    per grid config with `selected` = (grid_search returned this config)
    and `ok` certifying Spark-side that (a) the returned model's config
    equals the independently recomputed argmin of the exported per-trial
    validation-loss table and (b) every trial loss is finite.  The oracle
    emits the literal grid; which config wins is loss-dependent so it is
    carried by the booleans, not the hashed values."""
    import math

    from .model import TrainConfig
    from .model.bridge import training_matrix
    from .model.search import grid_search
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    base = TrainConfig(epochs=4, batch_size=1024, seed=42)
    codes, domains = training_matrix(li, cols, max_rows=20_000,
                                     seed=base.seed,
                                     id_cols=["l_orderkey",
                                              "l_linenumber"])
    bins = [(c, domains[c].dom_size) for c in cols]
    d_words, d_ffs = (8, 16), (32, 64)
    best_model, trials = grid_search(bins, codes, base,
                                     d_words=d_words, d_ffs=d_ffs)
    argmin = min(trials, key=lambda t: t.val_loss)
    sel = best_model.cfg
    ok = (sel.d_word == argmin.cfg.d_word and sel.d_ff == argmin.cfg.d_ff
          and all(math.isfinite(t.val_loss) and math.isfinite(t.train_loss)
                  for t in trials)
          and len(trials) == len(d_words) * len(d_ffs))
    rows = [(t.cfg.d_word, t.cfg.d_ff, bool(ok)) for t in trials]
    return (local_df(spark, rows, "d_word int, d_ff int, ok boolean")
            .orderBy("d_word", "d_ff"))


def _sql_grid_search(d_words=(8, 16), d_ffs=(32, 64)) -> str:
    parts = [f"select {dw}::INT as d_word, {dff}::INT as d_ff, true as ok"
             for dw in d_words for dff in d_ffs]
    return "\nunion all\n".join(parts) + "\norder by d_word, d_ff"


def q_spark_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 (cluster-distributed hyperparameter search — the reference's
    Ray Tune DISTRIBUTION leg, run.py:643-657, as Spark jobs:
    `search.grid_search(..., spark=spark)`): one row per grid config
    with booleans certifying Spark-side that the distributed run (a)
    executed the identical trial schedule as the local run, (b)
    reproduced every loss to float32 cross-process BLAS kernel noise
    (1e-5 relative — executor GEMMs may re-associate), and (c) picked
    the same winner,
    whose shipped-back weights match to the same tolerance.  The oracle
    emits the literal grid; correctness is carried by the booleans
    (e8's protocol)."""
    import math

    from .model import TrainConfig
    from .model.bridge import training_matrix
    from .model.search import grid_search

    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    base = TrainConfig(epochs=4, batch_size=1024, seed=42)
    codes, domains = training_matrix(li, cols, max_rows=20_000,
                                     seed=base.seed,
                                     id_cols=["l_orderkey",
                                              "l_linenumber"])
    bins = [(c, domains[c].dom_size) for c in cols]
    d_words, d_ffs = (8, 16), (32, 64)
    m_s, t_s = grid_search(bins, codes, base, d_words=d_words,
                           d_ffs=d_ffs)
    m_d, t_d = grid_search(bins, codes, base, d_words=d_words,
                           d_ffs=d_ffs, spark=spark)
    sched = ([(t.cfg.d_word, t.cfg.d_ff) for t in t_s]
             == [(t.cfg.d_word, t.cfg.d_ff) for t in t_d])
    close = all(math.isclose(a.val_loss, b.val_loss, rel_tol=1e-5)
                and math.isclose(a.train_loss, b.train_loss,
                                 rel_tol=1e-5)
                for a, b in zip(t_s, t_d))
    winner = ((m_s.cfg.d_word, m_s.cfg.d_ff)
              == (m_d.cfg.d_word, m_d.cfg.d_ff))
    import numpy as np
    weights = (np.allclose(m_s.W1, m_d.W1, rtol=1e-4, atol=1e-6)
               and np.allclose(m_s.W2, m_d.W2, rtol=1e-4, atol=1e-6))
    ok = bool(sched and close and winner and weights)
    rows = [(t.cfg.d_word, t.cfg.d_ff, ok) for t in t_s]
    return (local_df(spark, rows,
                                  "d_word int, d_ff int, ok boolean")
            .orderBy("d_word", "d_ff"))


def q_spark_asha_async(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 (cluster-wide ASYNC ASHA — the reference's actual Ray Tune
    semantics, run.py:643-657: trials asynchronous across machines,
    promotions on partial rung information; the last M8 search delta):
    `search.asha_async_search(..., spark=spark)` runs its get_job
    scheduler on a driver-side worker pool whose workers submit trials
    as concurrent single-task Spark jobs against once-broadcast
    train/val matrices.

    One row of booleans (e17's literal-oracle protocol): at
    n_workers=1 the cluster run's trial schedule — (job, rung, budget,
    config, promoted_from) per trial — EQUALS the local run's at
    n_workers=1 (the deterministic serialized schedule that e14
    re-simulates), losses match to float32
    cross-process BLAS noise (1e-5 rel) and the winner agrees; at
    n_workers=4 the timing-independent e16 invariants hold (rung-0
    starts cover the grid once, promotions unique, rungs nested,
    winner is the final-rung argmin)."""
    import math

    from .model import TrainConfig
    from .model.bridge import training_matrix
    from .model.search import asha_async_search

    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    base = TrainConfig(epochs=8, batch_size=1024, seed=42)
    codes, domains = training_matrix(li, cols, max_rows=20_000,
                                     seed=base.seed,
                                     id_cols=["l_orderkey",
                                              "l_linenumber"])
    bins = [(c, domains[c].dom_size) for c in cols]
    d_words, d_ffs = (8, 16), (16, 32)
    kw = dict(d_words=d_words, d_ffs=d_ffs, eta=2, min_epochs=2)
    m_s, t_s, _ = asha_async_search(bins, codes, base, **kw)
    m_1, t_1, _ = asha_async_search(bins, codes, base, n_workers=1,
                                    spark=spark, **kw)

    def sched(ts):
        return [(t.job, t.rung, t.epochs, t.cfg.d_word, t.cfg.d_ff,
                 t.promoted_from) for t in ts]

    sched_eq = sched(t_s) == sched(t_1)
    losses_close = len(t_s) == len(t_1) and all(
        math.isclose(a.val_loss, b.val_loss, rel_tol=1e-5)
        and math.isclose(a.train_loss, b.train_loss, rel_tol=1e-5)
        for a, b in zip(t_s, t_1))
    winner_eq = ((m_s.cfg.d_word, m_s.cfg.d_ff)
                 == (m_1.cfg.d_word, m_1.cfg.d_ff))

    best, trials, _infl = asha_async_search(bins, codes, base,
                                            n_workers=4, spark=spark,
                                            **kw)
    grid = {(dw, dff) for dw in d_words for dff in d_ffs}
    starts = [(t.cfg.d_word, t.cfg.d_ff) for t in trials if t.rung == 0]
    promos = [(t.rung, t.cfg.d_word, t.cfg.d_ff)
              for t in trials if t.promoted_from is not None]
    by_rung: dict[int, set] = {}
    for t in trials:
        by_rung.setdefault(t.rung, set()).add((t.cfg.d_word, t.cfg.d_ff))
    final = max(by_rung)
    finals = [(t.val_loss, t.cfg.d_word, t.cfg.d_ff)
              for t in trials if t.rung == final]
    return local_df(spark,
        [(bool(sched_eq), bool(losses_close), bool(winner_eq),
          sorted(starts) == sorted(grid),
          len(promos) == len(set(promos)),
          all(by_rung[r] <= by_rung[r - 1] for r in by_rung if r > 0),
          (best.cfg.d_word, best.cfg.d_ff) == min(finals)[1:])],
        "sched_eq boolean, losses_close boolean, winner_eq boolean, "
        "starts_complete boolean, promos_unique boolean, "
        "rungs_nested boolean, winner_is_argmin boolean")


SQL_SPARK_ASHA_ASYNC = """
select true as sched_eq, true as losses_close, true as winner_eq,
       true as starts_complete, true as promos_unique,
       true as rungs_nested, true as winner_is_argmin
"""


def q_pq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93 (PQ reconstruction-error monitor — the retrain trigger the
    FAISS-add append paths document: frozen codebooks drift as the
    distribution moves; `similarity.pq_reconstruction_error`): mean
    squared quantization error over the corpus under the x83 seed
    codebooks, plus the same statistic over the vec_id>=250 half —
    the pair a production monitor compares (baseline vs newly-added).
    Pure codegen decode (literal codebooks, element_at + zip_with +
    fold); the oracle replays the subspace argmax and the squared
    slice distance in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = SIM.pq_train(emb, m=4, k_codes=8, iters=0)
    whole = SIM.pq_reconstruction_error(emb, books) \
        .withColumn("cohort", F.lit("all"))
    tail = SIM.pq_reconstruction_error(
        emb.where(F.col("vec_id") >= 250), books) \
        .withColumn("cohort", F.lit("tail"))
    return (whole.unionByName(tail)
            .select("cohort", F.col("n").cast("long").alias("n"),
                    "mean_sq_err", "rmse")
            .orderBy("cohort"))


SQL_PQ_DRIFT = """
with sub as (select unnest(range(0, 4)) as j),
seeds as (select vec_id as code, embedding::DOUBLE[] as sv
          from embeddings where vec_id < 8),
best as (
  select e.vec_id, s.j,
         row_number() over (partition by e.vec_id, s.j
             order by list_dot_product(
                 list_slice(e.embedding::DOUBLE[], s.j*16+1, s.j*16+16),
                 list_slice(c.sv, s.j*16+1, s.j*16+16)) desc,
             c.code) as rn,
         power(list_distance(
             list_slice(e.embedding::DOUBLE[], s.j*16+1, s.j*16+16),
             list_slice(c.sv, s.j*16+1, s.j*16+16)), 2) as sqerr
  from embeddings e cross join sub s cross join seeds c),
per_vec as (
  select vec_id, sum(sqerr) as err from best where rn = 1
  group by vec_id),
stats as (
  select 'all' as cohort, count(*)::BIGINT as n,
         round(avg(err), 6) as mean_sq_err,
         round(sqrt(avg(err)), 6) as rmse
  from per_vec
  union all
  select 'tail', count(*)::BIGINT, round(avg(err), 6),
         round(sqrt(avg(err)), 6)
  from per_vec where vec_id >= 250)
select * from stats order by cohort
"""


def q_stage_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 stage sinks + S2 checkpoint-resume: a lineitem projection
    round-trips through parquet/CSV/JSON writers (reference: the cache
    tree's parquet/csv sinks, scardina/datasets.py — semantics NOT
    code), and a PrepPipeline dictionary stage re-invocation must serve
    the checkpointed parquet (same rows, no rewrite).  Each row carries
    the read-back (count, sum) so sink fidelity is oracle-checked; the
    resume row's checksum is the dictionary code sum (codes dense from
    2 in value order — A3/M1 semantics through a parquet round-trip)."""
    import os
    import shutil
    import tempfile

    from .operators.pipeline import PrepPipeline

    base = os.path.join(tempfile.gettempdir(),
                        f"scardina_sinks_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_quantity"])
    rows = []
    for fmt in ("csv", "json", "parquet"):
        p = os.path.join(base, fmt)
        w = li.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        getattr(w, fmt)(p)
        if fmt == "parquet":
            back = spark.read.parquet(p)
        elif fmt == "csv":
            back = (spark.read.option("header", True)
                    .schema("l_orderkey long, l_quantity double").csv(p))
        else:
            back = (spark.read
                    .schema("l_orderkey long, l_quantity double").json(p))
        # l_quantity is an integral-valued double; the sum is exact well
        # below 2^53, so a long checksum is lossless
        a = back.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("l_quantity").cast("long").alias("s")).first()
        rows.append((fmt, int(a["n"]), int(a["s"]), True))

    nat = load_table(spark, sf_dir, "nation", ["n_name"])
    pipe = PrepPipeline(spark, os.path.join(base, "prep"))
    d1 = pipe.dictionary(nat, "nation", "n_name")
    s1 = d1.agg(F.count(F.lit(1)).alias("n"),
                F.sum(CODE).alias("s")).first()
    mark = os.path.join(base, "prep", "distinct_vals", "nation.n_name",
                        "_SUCCESS")
    mtime = os.path.getmtime(mark)
    d2 = pipe.dictionary(nat, "nation", "n_name")  # resume path
    s2 = d2.agg(F.count(F.lit(1)).alias("n"),
                F.sum(CODE).alias("s")).first()
    resumed = (tuple(s1) == tuple(s2)
               and os.path.getmtime(mark) == mtime)
    rows.append(("stage_resume", int(s1["n"]), int(s1["s"]), resumed))
    out = local_df(spark,
        rows, "sink string, n_rows long, checksum long, ok boolean")
    shutil.rmtree(base, ignore_errors=True)
    return out.orderBy("sink")


SQL_STAGE_SINKS = """
with li as (select count(*)::BIGINT as n, sum(l_quantity)::BIGINT as s
            from lineitem),
d as (select count(*)::BIGINT as n, sum(rn + 1)::BIGINT as s
      from (select row_number() over (order by n_name) as rn
            from (select distinct n_name from nation)))
select sink, n_rows, checksum, true as ok from (
  select 'csv' as sink, n as n_rows, s as checksum from li
  union all select 'json', n, s from li
  union all select 'parquet', n, s from li
  union all select 'stage_resume', n, s from d)
order by sink
"""


def q_benchmark_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: the reference-format benchmark CSV (``true_cardinality,sql``,
    reference benchmarks/<ds>/<bench>.csv + loader run.py:791-794 —
    format, NOT code) scans, and its recorded truths match a fresh
    evaluation: the first three job-light queries are re-executed
    through the relational planner and each row asserts
    recorded == recomputed."""
    from .runner import load_benchmark_csv

    rows_csv = load_benchmark_csv(_benchmark_csv_path(sf_dir))[:3]
    exact = ExactEstimator(build_tpch_schema(), load_tables(spark, sf_dir))
    out = []
    for i, (truth_csv, sql) in enumerate(rows_csv, 1):
        t = exact.estimate(sql)
        out.append((f"q{i}", int(t),
                    truth_csv is not None and int(truth_csv) == int(t)))
    return (local_df(spark,
        out, "query string, truth long, ok boolean").orderBy("query"))


def _benchmark_csv_path(sf_dir: str) -> str:
    import os
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "benchmarks", "tpch",
        f"job-light-{tag}.csv")


def _sql_benchmark_csv() -> str:
    """Oracle: recompute the same three truths (the SQL text is
    identical across the per-sf CSVs — same generator, same seed)."""
    from .runner import load_benchmark_csv

    rows = load_benchmark_csv(_benchmark_csv_path("sf0.01"))[:3]
    parts = [f"select 'q{i}' as query, ({sql})::BIGINT as truth, true as ok"
             for i, (_, sql) in enumerate(rows, 1)]
    return "\nunion all\n".join(parts) + "\norder by query"


def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (JDBC source): nation writes to the bundled Derby embedded
    database through Spark's JDBC writer and reads back through
    ``load_jdbc_table``'s partitioned range read (4 range queries — the
    shape that splits a large table across executors; reference analog:
    the Postgres reader, scardina/run.py:992-1008).  The aggregate of
    the read-back rows must equal the parquet table's."""
    import os

    from .catalog import load_jdbc_table

    db = f"memory:scardina_jdbc_{os.getpid()}"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nat = load_table(spark, sf_dir, "nation",
                     ["n_nationkey", "n_regionkey"])
    (nat.write.format("jdbc")
     .option("url", f"jdbc:derby:{db};create=true")
     .option("dbtable", "nation_rt").option("driver", props["driver"])
     .mode("overwrite").save())
    hi = int(nat.agg(F.max("n_nationkey")).first()[0])
    back = load_jdbc_table(spark, f"jdbc:derby:{db}", "nation_rt",
                           properties=props,
                           partition_column="n_nationkey",
                           num_partitions=4, lower_bound=0,
                           upper_bound=hi + 1)
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
        F.countDistinct("n_regionkey").cast("long").alias("n_regions"))


SQL_JDBC_ROUNDTRIP = """
select count(*)::BIGINT as n_rows, sum(n_nationkey)::BIGINT as key_sum,
       count(distinct n_regionkey)::BIGINT as n_regions
from nation
"""


O3_BENCH_QUERIES = {
    "o3_chain2": "SELECT COUNT(*) FROM customer c, nation n, region r "
                 "WHERE c.c_nationkey = n.n_nationkey AND "
                 "n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'",
    "o3_chain3": "SELECT COUNT(*) FROM supplier s, nation n, region r "
                 "WHERE s.s_nationkey = n.n_nationkey AND "
                 "n.n_regionkey = r.r_regionkey AND "
                 "r.r_name IN ('ASIA', 'EUROPE') AND s.s_acctbal > 0",
}


def q_stitch_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 (model-visit ordering): queries no single sample covers route
    through the stitched estimator's greedy cover — largest-covering
    fragment first, BFS over the remainder (reference: root = largest
    hyperedge + visit order, scardina/estimators.py:1196-1232, semantics
    NOT code).  Deterministic contract: oracle-recomputed truths +
    q-error <= 3 on the seeded chain (observed max 1.5 in repo tests)."""
    from .estimators import StitchedEstimator, prepare_tree_sample
    from .estimators.sample import cin_tree
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = StitchedEstimator()
    for center in ("customer", "nation", "supplier"):
        est.add(prepare_tree_sample(cin_tree(sg, center), tables, center,
                                    n_min=30_000, seed=13))
    exact = ExactEstimator(sg, tables)
    out = _qerror_check_df(spark, est.estimate, exact, O3_BENCH_QUERIES,
                           3.0)
    for ts in est.samples:
        if ts.sample is not None:
            ts.sample.unpersist()
    return out


O4_ORDERINGS = ("domain-size", "inv", "nat", "prop", "prop-ratio",
                "prop-ratio-inv")


def q_sampling_orderings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 (column sampling order): every ordering heuristic —
    prop-ratio / prop / domain-size / natural, with -inv reversals
    (reference scardina/estimators.py:833-910 + run.py:158-163,
    semantics NOT code) — drives the progressive sampler to a
    consistent estimate: orderings change variance, never the target.
    One model, one query, q-error <= 3 per ordering against the
    oracle-recomputed truth."""
    from .model import TrainConfig
    from .model.bridge import train_single_table
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount"]
    cfg = TrainConfig(epochs=10, d_word=12, d_ff=48, batch_size=1024,
                      seed=42)
    nar = train_single_table(li, cols, cfg, sample_size=1000,
                             id_cols=["l_orderkey", "l_linenumber"])
    exact = ExactEstimator(build_tpch_schema(), {"lineitem": li})
    sql = NAR_BENCH_QUERIES["n3_conj"]
    t = exact.estimate(sql)
    rows = []
    for ob in O4_ORDERINGS:
        nar.order_by = ob
        e = nar.estimate(sql)
        q = max(e / t, t / e) if e > 0 and t > 0 else (
            1.0 if e == t else float("inf"))
        rows.append((ob, int(t), bool(q <= 3.0)))
    return (local_df(spark,
        rows, "ordering string, truth long, ok boolean")
        .orderBy("ordering"))


def _sql_sampling_orderings() -> str:
    sql = NAR_BENCH_QUERIES["n3_conj"]
    parts = [f"select '{ob}' as ordering, ({sql})::BIGINT as truth, "
             "true as ok" for ob in O4_ORDERINGS]
    return "\nunion all\n".join(parts) + "\norder by ordering"


def q_perror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-quality (p-error) of the sample-backed estimator: C_out AND
    C_smj (sort-merge) costs over the FULL BUSHY plan space (DPccp-
    style enumeration — the reference's CEB/Postgres protocol scores
    the planner's whole freedom, run.py:1011-1127) and, for
    comparison, the left-deep slice rounds 1-6 used; per-subquery
    cards, DuckDB truth.  Deterministic contract: p-error <= 1.5 under
    both cost models in both spaces per query (observed exactly 1.0 —
    estimates never change the chosen plan even with bushy trees in
    play)."""
    from .benchmarks import duckdb_connection
    from .estimators import SampleEstimator, prepare_tree_sample
    from .estimators.perror import p_error, to_sql
    from .estimators.sample import spanning_tree
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = SampleEstimator()
    est.add(prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                                "lineitem", seed=42).localize())
    con = duckdb_connection(sf_dir)
    # memoize by fragment SQL: the smj pass re-enumerates the SAME
    # connected subsets as the out pass (plus the size-1 sets), so
    # without the caches every truth query and estimate runs twice
    _truths: dict[str, float] = {}
    _ests: dict[str, float] = {}

    def true_fn(frag):
        sql = to_sql(frag)
        if sql not in _truths:
            _truths[sql] = con.sql(sql).fetchone()[0]
        return _truths[sql]

    def est_fn(frag):
        sql = to_sql(frag)
        if sql not in _ests:
            _ests[sql] = est.estimate(frag)
        return _ests[sql]

    queries = {
        "p1_3way": "SELECT COUNT(*) FROM lineitem l, orders o, customer c "
                   "WHERE l.l_orderkey = o.o_orderkey AND "
                   "o.o_custkey = c.c_custkey AND "
                   "c.c_mktsegment = 'BUILDING'",
        "p2_4way": "SELECT COUNT(*) FROM lineitem l, supplier s, nation n, "
                   "region r WHERE l.l_suppkey = s.s_suppkey AND "
                   "s.s_nationkey = n.n_nationkey AND "
                   "n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'",
        "p3_5way": "SELECT COUNT(*) FROM lineitem l, orders o, customer c, "
                   "supplier s, part p WHERE l.l_orderkey = o.o_orderkey "
                   "AND o.o_custkey = c.c_custkey AND "
                   "l.l_suppkey = s.s_suppkey AND l.l_partkey = p.p_partkey "
                   "AND p.p_size > 25",
    }
    rows = [(name,
             bool(all(p_error(sql, est_fn, true_fn, cost_model=cm,
                              plan_space=ps) <= 1.5
                      for cm in ("out", "smj")
                      for ps in ("bushy", "left_deep"))))
            for name, sql in queries.items()]
    return (local_df(spark, rows, "query string, ok boolean")
            .orderBy("query"))


SQL_PERROR = """
select 'p1_3way' as query, true as ok
union all select 'p2_4way', true
union all select 'p3_5way', true
order by query
"""


def q_perror_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 (plan-choice robustness under cardinality noise — the
    'does cardinality estimation matter' experiment, Leis et al.
    VLDB'15 §6 protocol): perturb every sub-plan estimate by a
    DETERMINISTIC direction-varying 2x factor (up or down by the
    fragment-SQL hash — a uniform factor would cancel out of both cost
    models), pick plans with the noisy cards, cost them with TRUTH.
    Contract: p-error stays ≤ 1.5 under both cost models over the full
    bushy space (`ok`), and the noise genuinely flips the 5-way plan
    (`flipped` — the harness discriminates; observed ~1.08-1.15 at
    every SF) while the shallow queries stay optimal."""
    import zlib

    from .benchmarks import duckdb_connection
    from .estimators import SampleEstimator, prepare_tree_sample
    from .estimators.perror import p_error, to_sql
    from .estimators.sample import spanning_tree
    sg = build_tpch_schema()
    tables = load_tables(spark, sf_dir)
    est = SampleEstimator()
    est.add(prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                                "lineitem", seed=42).localize())
    con = duckdb_connection(sf_dir)
    _truths: dict[str, float] = {}
    _ests: dict[str, float] = {}

    def true_fn(frag):
        sql = to_sql(frag)
        if sql not in _truths:
            _truths[sql] = con.sql(sql).fetchone()[0]
        return _truths[sql]

    def noisy_fn(frag):
        sql = to_sql(frag)
        if sql not in _ests:
            _ests[sql] = est.estimate(frag)
        f = 2.0 if (zlib.crc32(sql.encode()) & 1) else 0.5
        return _ests[sql] * f

    queries = {
        "p1_3way": "SELECT COUNT(*) FROM lineitem l, orders o, customer c "
                   "WHERE l.l_orderkey = o.o_orderkey AND "
                   "o.o_custkey = c.c_custkey AND "
                   "c.c_mktsegment = 'BUILDING'",
        "p2_4way": "SELECT COUNT(*) FROM lineitem l, supplier s, nation n, "
                   "region r WHERE l.l_suppkey = s.s_suppkey AND "
                   "s.s_nationkey = n.n_nationkey AND "
                   "n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'",
        "p3_5way": "SELECT COUNT(*) FROM lineitem l, orders o, customer c, "
                   "supplier s, part p WHERE l.l_orderkey = o.o_orderkey "
                   "AND o.o_custkey = c.c_custkey AND "
                   "l.l_suppkey = s.s_suppkey AND l.l_partkey = p.p_partkey "
                   "AND p.p_size > 25",
    }
    rows = []
    for name, sql in queries.items():
        pes = [p_error(sql, noisy_fn, true_fn, cost_model=cm,
                       plan_space="bushy") for cm in ("out", "smj")]
        rows.append((name, bool(max(pes) <= 1.5),
                     bool(max(pes) > 1.0)))
    return (local_df(spark, rows,
                                  "query string, ok boolean, "
                                  "flipped boolean")
            .orderBy("query"))


SQL_PERROR_ROBUSTNESS = """
select 'p1_3way' as query, true as ok, false as flipped
union all select 'p2_4way', true, false
union all select 'p3_5way', true, true
order by query
"""


JM_BENCH_QUERIES = {
    # one per job-m template family: parallel-edge alternatives (u/v),
    # multi-fact chains (l-o-h), and the plain shipments star
    "m1_h": "SELECT COUNT(*) FROM shipments h WHERE h.sh_mode = 'AIR'",
    "m2_ho": "SELECT COUNT(*) FROM shipments h, orders o "
             "WHERE h.sh_orderkey = o.o_orderkey "
             "AND o.o_orderstatus = 'F'",
    "m3_hu": "SELECT COUNT(*) FROM shipments h, supplier u "
             "WHERE h.sh_from_suppkey = u.s_suppkey AND u.s_acctbal > 0",
    "m4_hv": "SELECT COUNT(*) FROM shipments h, supplier v "
             "WHERE h.sh_carrier_suppkey = v.s_suppkey "
             "AND v.s_nationkey < 12",
    "m5_hoc": "SELECT COUNT(*) FROM shipments h, orders o, customer c "
              "WHERE h.sh_orderkey = o.o_orderkey "
              "AND o.o_custkey = c.c_custkey "
              "AND c.c_mktsegment = 'BUILDING'",
    "m6_hun": "SELECT COUNT(*) FROM shipments h, supplier u, nation n "
              "WHERE h.sh_from_suppkey = u.s_suppkey "
              "AND u.s_nationkey = n.n_nationkey "
              "AND n.n_name LIKE 'NATION_1%'",
    "m7_loh": "SELECT COUNT(*) FROM lineitem l, orders o, shipments h "
              "WHERE l.l_orderkey = o.o_orderkey "
              "AND h.sh_orderkey = o.o_orderkey AND h.sh_cost < 500 "
              "AND l.l_returnflag = 'R'",
    "m8_lohu": "SELECT COUNT(*) FROM lineitem l, orders o, shipments h, "
               "supplier u WHERE l.l_orderkey = o.o_orderkey "
               "AND h.sh_orderkey = o.o_orderkey "
               "AND h.sh_from_suppkey = u.s_suppkey AND u.s_acctbal > 2500",
}


def q_jobm_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job-m-shape estimation under the hard gate: HT over the two
    parallel-edge variant UR samples vs Spark-exact truth on the derived
    shipments schema (the shipments table is derivation-deterministic
    but not an oracle view, so truths stay Spark-side and the contract
    row asserts the seeded q-error bound; observed max 1.38 at sf0.01).
    Exercises parallel-FK routing and the multi-fact chain in one
    deterministic check."""
    from .estimators import ExactEstimator, SampleEstimator
    from .estimators.sample import prepare_tree_sample
    from .jobm import build_jobm_schema, jm_sample_trees, load_jobm_tables

    tables = load_jobm_tables(spark, sf_dir)
    sg = build_jobm_schema()
    est = SampleEstimator(name="jm-ht")
    for t in jm_sample_trees():
        est.add(prepare_tree_sample(t, tables, "shipments", n_min=20_000,
                                    n_max=50_000, seed=42).localize())
    exact = ExactEstimator(sg, tables)
    rows = []
    for name, sql in JM_BENCH_QUERIES.items():
        e = est.estimate(sql)
        t = exact.estimate(sql)
        q = max(e / t, t / e) if e > 0 and t > 0 else (
            1.0 if e == t else float("inf"))
        rows.append((name, bool(q <= 3.0)))
    return (local_df(spark, rows, "query string, ok boolean")
            .orderBy("query"))


SQL_JOBM_QERROR = "\nunion all\n".join(
    f"select '{name}' as query, true as ok"
    for name in sorted(JM_BENCH_QUERIES)) + "\norder by query"


NAR_BENCH_QUERIES = {
    "n1_eq": "SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R'",
    "n2_range": "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30",
    "n3_conj": "SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R' "
               "AND l_quantity <= 25",
    "n4_between": "SELECT COUNT(*) FROM lineitem WHERE l_quantity "
                  "BETWEEN 10 AND 20 AND l_discount > 0.02",
}


def _d6(col):
    """Per-row cast to decimal(18,6) before SUM: the double expression is
    identical IEEE arithmetic in Spark and DuckDB, and the decimal sum is
    exact and order-independent — the only oracle-safe way to aggregate
    doubles (see q_window_hourly)."""
    return col.cast("decimal(18,6)")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (beyond reference): scan-heavy grouped aggregation.
    At scale this is the partial-aggregation showcase: map-side combine
    collapses to 6 groups per partition before the shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(_d6(F.col("l_quantity"))).cast("double").alias("sum_qty"),
             F.sum(_d6(F.col("l_extendedprice"))).cast("double")
             .alias("sum_base_price"),
             F.sum(_d6(disc_price)).cast("double").alias("sum_disc_price"),
             F.sum(_d6(charge)).cast("double").alias("sum_charge"),
             F.count(F.lit(1)).alias("count_order"))
        .orderBy("l_returnflag", "l_linestatus"))


SQL_PRICING_SUMMARY = """
select l_returnflag, l_linestatus,
       sum((l_quantity)::DECIMAL(18,6))::DOUBLE as sum_qty,
       sum((l_extendedprice)::DECIMAL(18,6))::DOUBLE as sum_base_price,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE
         as sum_disc_price,
       sum((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(18,6))
         ::DOUBLE as sum_charge,
       count(*) as count_order
from lineitem where l_shipdate <= TIMESTAMP '1998-09-02'
group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (beyond reference): 6-way join with explicit
    broadcasts for the dimension tables (nation/region never justify a
    shuffle at any scale) and a local-supplier equality that makes the
    customer join selective."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        t["lineitem"]
        .join(t["orders"].where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")) &
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["customer"],
              (F.col("o_custkey") == F.col("c_custkey")) &
              (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(t["nation"]),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]),
              F.col("n_regionkey") == F.col("r_regionkey")))
    return (joined.groupBy("r_name", "n_name")
            .agg(F.sum(_d6(rev)).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy("r_name", "n_name"))


SQL_REGION_REVENUE = """
select r_name, n_name,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE
         as revenue,
       count(*) as n_items
from lineitem
join orders on l_orderkey = o_orderkey
  and o_orderdate >= TIMESTAMP '1996-01-01'
  and o_orderdate < TIMESTAMP '1998-01-01'
join supplier on l_suppkey = s_suppkey
join customer on o_custkey = c_custkey and c_nationkey = s_nationkey
join nation on s_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by r_name, n_name order by r_name, n_name
"""


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (beyond reference): selective dim filter broadcast
    into a fact-fact join, grouped top-k by revenue."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    cutoff = F.lit("1997-06-01").cast("timestamp")
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    joined = (
        t["orders"].where(F.col("o_orderdate") < cutoff)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"].where(F.col("l_shipdate") > cutoff),
              F.col("l_orderkey") == F.col("o_orderkey")))
    return (joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(_d6(rev)).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "o_orderkey")
            .limit(10))


SQL_SHIP_PRIORITY = """
select o_orderkey, o_orderdate, o_orderpriority,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE
         as revenue
from orders
join customer on o_custkey = c_custkey and c_mktsegment = 'BUILDING'
join lineitem on l_orderkey = o_orderkey
where o_orderdate < TIMESTAMP '1997-06-01'
  and l_shipdate > TIMESTAMP '1997-06-01'
group by o_orderkey, o_orderdate, o_orderpriority
order by revenue desc, o_orderkey limit 10
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (beyond reference): conditional aggregation over a
    fact-dim join — the CASE-WHEN sum stays inside the same partial
    aggregate as the unconditional one, so no extra pass."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    joined = (
        t["lineitem"]
        .where((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
               & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey")))
    return joined.agg(
        F.sum(_d6(promo)).cast("double").alias("promo_revenue"),
        F.sum(_d6(rev)).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_items"))


SQL_PROMO_REVENUE = """
select sum((case when p_type = 'PROMO'
                 then l_extendedprice * (1 - l_discount)
                 else 0.0 end)::DECIMAL(18,6))::DOUBLE as promo_revenue,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE
         as total_revenue,
       count(*) as n_items
from lineitem join part on l_partkey = p_partkey
where l_shipdate >= TIMESTAMP '1997-01-01'
  and l_shipdate < TIMESTAMP '1998-01-01'
"""


def q_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (beyond reference): per-priority counts of orders
    with at least one late line — EXISTS as a left-semi join (one pass,
    no fact-side duplication before the aggregate)."""
    t = load_tables(spark, sf_dir)
    late = t["lineitem"].where(F.col("l_shipdate") > F.lit("1999-01-01")
                               .cast("timestamp"))
    return (
        t["orders"]
        .join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority"))


SQL_PRIORITY_ORDERS = """
select o_orderpriority, count(*) as order_count
from orders
where exists (select 1 from lineitem
              where l_orderkey = o_orderkey
                and l_shipdate > TIMESTAMP '1999-01-01')
group by o_orderpriority order by o_orderpriority
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (beyond reference): orders whose total line quantity
    exceeds a threshold, joined back to the customer — the HAVING filter
    runs inside the first aggregate (map-side partial over l_orderkey), so
    only qualifying keys reach the orders/customer joins, and both joins
    key on the already-shuffled o_orderkey/o_custkey."""
    t = load_tables(spark, sf_dir)
    big = (t["lineitem"].groupBy("l_orderkey")
           .agg(F.sum(_d6(F.col("l_quantity"))).alias("sum_qty"))
           .where(F.col("sum_qty") > 200))
    return (t["orders"]
            .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "o_orderkey", "o_totalprice",
                    F.col("sum_qty").cast("double").alias("sum_qty"))
            .orderBy(F.desc("o_totalprice"), "o_orderkey")
            .limit(100))


SQL_LARGE_ORDERS = """
select c_name, o_orderkey, o_totalprice, sum_qty::DOUBLE as sum_qty
from (select l_orderkey, sum(l_quantity::DECIMAL(18,6)) as sum_qty
      from lineitem group by l_orderkey having sum_qty > 200) big
join orders on o_orderkey = big.l_orderkey
join customer on c_custkey = o_custkey
order by o_totalprice desc, o_orderkey limit 100
"""


def q_brand_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (beyond reference): COUNT(DISTINCT) per group —
    distinct suppliers shipping each brand (lineitem as the part-supplier
    bridge).  Spark expands the distinct agg into a two-phase aggregate
    over (p_brand, l_suppkey) with map-side partials; no row-level
    distinct materialization."""
    t = load_tables(spark, sf_dir)
    return (t["part"].where(F.col("p_size").between(1, 15))
            .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("p_brand")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy(F.desc("supplier_cnt"), "p_brand"))


SQL_BRAND_SUPPLIER_COUNT = """
select p_brand, count(distinct l_suppkey) as supplier_cnt,
       count(*) as n_lines
from part join lineitem on l_partkey = p_partkey
where p_size between 1 and 15
group by p_brand order by supplier_cnt desc, p_brand
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (beyond reference): revenue under three OR'd
    brand/size/quantity conjunct groups spanning a fact-dim join.
    Catalyst extracts the per-table common sub-predicates out of the
    disjunction (l_quantity/p_size bounds reach the scans as pushed
    range filters) and the part side broadcasts — the disjunction costs
    no extra pass or shuffle."""
    t = load_tables(spark, sf_dir)
    j = t["lineitem"].join(
        t["part"], F.col("l_partkey") == F.col("p_partkey"))
    g1 = ((F.col("p_brand") == "Brand#3")
          & F.col("p_size").between(1, 15)
          & F.col("l_quantity").between(1, 20))
    g2 = ((F.col("p_brand") == "Brand#11")
          & F.col("p_size").between(10, 30)
          & F.col("l_quantity").between(10, 35))
    g3 = ((F.col("p_brand") == "Brand#24")
          & F.col("p_size").between(20, 50)
          & F.col("l_quantity").between(25, 50))
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.where(g1 | g2 | g3).agg(
        F.sum(_d6(rev)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


SQL_DISJUNCTIVE_REVENUE = """
select sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE
         as revenue,
       count(*) as n_items
from lineitem join part on l_partkey = p_partkey
where (p_brand = 'Brand#3' and p_size between 1 and 15
       and l_quantity between 1 and 20)
   or (p_brand = 'Brand#11' and p_size between 10 and 30
       and l_quantity between 10 and 35)
   or (p_brand = 'Brand#24' and p_size between 20 and 50
       and l_quantity between 25 and 50)
"""


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation with grouping_id (beyond reference, completes
    the grouping-sets family next to a9_cube): hierarchical subtotals
    over (l_returnflag, l_linestatus).  Spark expands the rollup into
    grouping-set tuples map-side — one scan, one shuffle for all three
    levels; ``grouping_id`` uses the same bitmask as SQL GROUPING()."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(_d6(F.col("l_quantity"))).cast("double")
                 .alias("sum_qty"),
                 F.grouping_id().alias("lvl"))
            .orderBy(F.col("lvl"),
                     F.col("l_returnflag").asc_nulls_first(),
                     F.col("l_linestatus").asc_nulls_first()))


SQL_ROLLUP_AGG = """
select l_returnflag, l_linestatus, count(*) as n,
       sum(l_quantity::DECIMAL(18,6))::DOUBLE as sum_qty,
       grouping(l_returnflag, l_linestatus) as lvl
from lineitem
group by rollup (l_returnflag, l_linestatus)
order by lvl, l_returnflag asc nulls first, l_linestatus asc nulls first
"""


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (beyond reference): order counts by priority with one
    column per order status.  With the pivot values declared up front
    the plan is a single groupBy with conditional aggregates — one
    shuffle, no per-value passes and no value-discovery job."""
    orders = load_table(spark, sf_dir, "orders")
    p = (orders.groupBy("o_orderpriority")
         .pivot("o_orderstatus", ["F", "O", "P"])
         .agg(F.count(F.lit(1))))
    return (p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}")
          for s in ["F", "O", "P"]])
        .orderBy("o_orderpriority"))


SQL_PIVOT_COUNTS = """
select o_orderpriority,
       count(*) filter (where o_orderstatus = 'F') as n_f,
       count(*) filter (where o_orderstatus = 'O') as n_o,
       count(*) filter (where o_orderstatus = 'P') as n_p
from orders
group by o_orderpriority order by o_orderpriority
"""


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k-by-hash quantile sketch (beyond reference):
    per return flag, linear-interpolated price quantiles from the 256
    rows with smallest deterministic row-key hash — a bounded, mergeable
    summary reproducible by the SQL oracle bit-for-bit."""
    from .operators.sketches import quantile_estimate, quantile_sketch
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber"))
    sk = quantile_sketch(li, "l_extendedprice", key, k=256,
                         group_cols=["l_returnflag"])
    return (quantile_estimate(sk, [0.25, 0.5, 0.75, 0.95],
                              group_cols=["l_returnflag"])
            .orderBy("l_returnflag"))


def sql_quantile_sketch(k: int = 256) -> str:
    poly = _duck_kmv_poly(
        "l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR")
    return f"""
with h as (
  select l_returnflag, {poly} as kh, l_extendedprice::DOUBLE as v
  from lineitem),
r as (
  select l_returnflag, kh, v,
         row_number() over (partition by l_returnflag order by kh, v) as rn
  from h)
select l_returnflag,
       round(quantile_cont(v, 0.25), 4) as p25,
       round(quantile_cont(v, 0.50), 4) as p50,
       round(quantile_cont(v, 0.75), 4) as p75,
       round(quantile_cont(v, 0.95), 4) as p95
from r where rn <= {k}
group by l_returnflag order by l_returnflag
"""


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (beyond reference): per part, the minimum line
    price and the supplier achieving it — the correlated-min-subquery
    pattern.  One shuffle on the part key serves both the window min
    and the tie-break aggregate; the part dimension broadcasts."""
    from pyspark.sql import Window
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("l_partkey")
    li = (t["lineitem"]
          .withColumn("__minp__", F.min("l_extendedprice").over(w))
          .where(F.col("l_extendedprice") == F.col("__minp__")))
    best = (li.groupBy("l_partkey")
            .agg(F.round(F.min("l_extendedprice"), 2).alias("min_price"),
                 F.min("l_suppkey").alias("best_suppkey")))
    return (best.join(t["part"].where(F.col("p_size") == 10),
                      F.col("l_partkey") == F.col("p_partkey"))
            .select("p_partkey", "p_name", "min_price", "best_suppkey")
            .orderBy("p_partkey"))


SQL_CHEAPEST_SUPPLIER = """
with m as (
  select l_partkey, min(l_extendedprice) as minp
  from lineitem group by l_partkey)
select p_partkey, p_name,
       round(m.minp, 2) as min_price,
       min(l_suppkey) as best_suppkey
from part
join m on m.l_partkey = p_partkey
join lineitem l on l.l_partkey = p_partkey and l.l_extendedprice = m.minp
where p_size = 10
group by p_partkey, p_name, m.minp
order by p_partkey
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (beyond reference): customers with above-average
    positive balance and no urgent orders, counted per market segment — a
    scalar aggregate subquery (broadcast 1-row cross join, never a
    driver collect) plus a left-anti join on the order keys."""
    t = load_tables(spark, sf_dir)
    cust, orders = t["customer"], t["orders"]
    avg_bal = (cust.where(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("__avg_bal__")))
    rich = (cust.crossJoin(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("__avg_bal__")))
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    idle = rich.join(urgent, rich["c_custkey"] == urgent["o_custkey"],
                     "left_anti")
    return (idle.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 F.sum(_d6(F.col("c_acctbal"))).cast("double")
                 .alias("total_bal"))
            .orderBy("c_mktsegment"))


SQL_IDLE_RICH_CUSTOMERS = """
select c_mktsegment, count(*) as n_cust,
       sum(c_acctbal::DECIMAL(18,6))::DOUBLE as total_bal
from customer
where c_acctbal > (select avg(c_acctbal) from customer
                   where c_acctbal > 0)
  and not exists (select 1 from orders where o_custkey = c_custkey
                  and o_orderpriority = '1-URGENT')
group by c_mktsegment order by c_mktsegment
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation in the driver contract: the salted
    two-phase groupBy (`operators/skew.salted_group_agg`) must produce
    exactly the result of a plain GROUP BY — decimal sums make the
    re-merge order-insensitive, so the oracle is the unsalted SQL."""
    from .operators.skew import salted_group_agg
    li = (load_table(spark, sf_dir, "lineitem")
          .withColumn("__q6__", _d6(F.col("l_quantity"))))
    out = salted_group_agg(li, ["l_returnflag"],
                           sum_cols={"__q6__": "sum_qty"},
                           count_alias="n", n_salts=8)
    return (out.select("l_returnflag",
                       F.col("sum_qty").cast("double").alias("sum_qty"),
                       "n")
            .orderBy("l_returnflag"))


SQL_SALTED_AGG = """
select l_returnflag,
       sum(l_quantity::DECIMAL(18,6))::DOUBLE as sum_qty,
       count(*) as n
from lineitem group by l_returnflag order by l_returnflag
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analytics (beyond reference): users who did
    view → click → purchase in strict timestamp order, each step within
    24 h of the previous.  ONE shuffle on user_id builds per-user event
    arrays; the ordered-stage walk is three array projections
    (filter + transform + array_min) in whole-stage codegen — no
    window function, no re-join per stage."""
    from .operators.funnel import funnel_counts
    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"],
                         horizon="INTERVAL 24 HOURS")


SQL_EVENT_FUNNEL = """
with v as (
  select user_id, min(ts) as t1 from events
  where event_type = 'view' and user_id is not null
    and ts is not null group by 1),
c as (
  select e.user_id, min(e.ts) as t2 from events e
  join v on e.user_id = v.user_id
  where e.event_type = 'click' and e.ts > v.t1
    and e.ts <= v.t1 + interval 24 hours group by 1),
p as (
  select e.user_id, min(e.ts) as t3 from events e
  join c on e.user_id = c.user_id
  where e.event_type = 'purchase' and e.ts > c.t2
    and e.ts <= c.t2 + interval 24 hours group by 1)
select (select count(*) from v) as n_view,
       (select count(*) from c) as n_click,
       (select count(*) from p) as n_purchase
"""


_BM25_TERMS = ["spark", "join", "window"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the documents table (beyond
    reference): per-term frequencies as array projections, corpus stats
    as one broadcast aggregate row, top-k via TakeOrderedAndProject —
    all JVM-side, and the fixed-order double arithmetic is reproduced
    bit-for-bit by the SQL oracle."""
    from .operators.bm25 import bm25_topk
    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, _BM25_TERMS, k=10)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _bm25_sql_parts(k1: float = 1.2, b: float = 0.75) -> tuple[str, str]:
    """Shared DuckDB fragments for every BM25-based oracle: the
    ``t``/``s``/``g`` CTE text and the per-row score expression — one
    source of truth so x31 and x32 can never disagree on the math."""
    tf_defs = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) as tf{i}"
        for i, t in enumerate(_BM25_TERMS))
    df_defs = ",\n         ".join(
        f"sum(case when tf{i} > 0 then 1 else 0 end)::DOUBLE as df{i}"
        for i in range(len(_BM25_TERMS)))
    score = " + ".join(
        f"(ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * {k1 + 1.0}"
        f" / (tf{i} + {k1} * ({1.0 - b} + {b} * dl / avgdl)))"
        for i in range(len(_BM25_TERMS)))
    ctes = f"""t as (
  select doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') as toks
  from documents),
s as (
  select doc_id, len(toks) as dl_int, len(toks)::DOUBLE as dl,
         {tf_defs}
  from t),
g as (
  select count(*)::DOUBLE as n,
         sum(dl_int)::DOUBLE / count(*)::DOUBLE as avgdl,
         {df_defs}
  from s)"""
    return ctes, score


def sql_bm25_topk(k1: float = 1.2, b: float = 0.75) -> str:
    ctes, score = _bm25_sql_parts(k1, b)
    return f"""
with {ctes}
select doc_id, round(score, 4) as score from (
  select doc_id, score from (
    select doc_id, {score} as score
    from s, g)
  where score > 0
  -- rank on the RAW score (the rounded alias would re-order near-ties)
  order by score desc, doc_id limit 10)
order by score desc, doc_id
"""


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (beyond reference): customers ranked by revenue
    lost to returned items — a 4-table join where the two dimension
    sides broadcast, the fact-side join shuffles once on the order key,
    and the ranking is TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (t["lineitem"].where(F.col("l_returnflag") == "R")
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
         .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(_d6(rev)).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
            .limit(20))


SQL_RETURNED_REVENUE = """
select c_custkey, c_name, n_name,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE
         as revenue,
       count(*) as n_items
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
where l_returnflag = 'R'
group by c_custkey, c_name, n_name
order by revenue desc, c_custkey limit 20
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (beyond reference): late-shipped lines (shipped
    more than 60 days after the order date — a cross-table date
    predicate that evaluates inside the join's codegen span) counted by
    line status and order priority class, both classes in ONE
    conditional aggregate pass."""
    t = load_tables(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = (t["lineitem"]
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .where(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")))
    return (j.groupBy("l_linestatus")
            .agg(F.sum(high.cast("long")).alias("high_line_count"),
                 F.sum((~high).cast("long")).alias("low_line_count"))
            .orderBy("l_linestatus"))


SQL_LATE_SHIPMENT_PRIORITY = """
select l_linestatus,
       sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')
                then 1 else 0 end)::BIGINT as high_line_count,
       sum(case when o_orderpriority not in ('1-URGENT', '2-HIGH')
                then 1 else 0 end)::BIGINT as low_line_count
from lineitem join orders on l_orderkey = o_orderkey
where l_shipdate > o_orderdate + interval 60 day
group by l_linestatus order by l_linestatus
"""


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (beyond reference): suppliers who were the ONLY
    late shipper on a multi-supplier order — EXISTS (another supplier's
    line) + NOT EXISTS (another supplier's late line), lowered to a
    left-semi and a left-anti join on the order key.  All three passes
    over lineitem reduce BEFORE joining (distinct keys / late keys), so
    the anti/semi build sides stay small; late = shipped > 60 days
    after the order date (the schema's Q12 convention — no receipt
    dates in the testdata)."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (li.join(t["orders"].select("o_orderkey", "o_orderdate"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
            .where(F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .select("l_orderkey", "l_suppkey").distinct()
            # consumed twice (candidates + the NOT EXISTS probe):
            # materialize the small distinct-pair relation once instead
            # of scanning lineitem again per consumer
            .localCheckpoint())
    multi = (li.select("l_orderkey", "l_suppkey").distinct()
             .groupBy("l_orderkey")
             .agg(F.count(F.lit(1)).alias("n_supp"))
             .where(F.col("n_supp") > 1)
             .select("l_orderkey"))
    # candidate: a late (order, supplier) pair on a multi-supplier order
    cand = late.join(multi, "l_orderkey", "left_semi")
    # NOT EXISTS another late supplier on the same order
    other_late = late.select(F.col("l_orderkey").alias("__o__"),
                             F.col("l_suppkey").alias("__s__"))
    sole = cand.join(
        other_late,
        (F.col("l_orderkey") == F.col("__o__"))
        & (F.col("l_suppkey") != F.col("__s__")),
        "left_anti")
    return (sole.join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_suppkey", "s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_suppkey")
            .limit(25))


SQL_SOLE_LATE_SUPPLIER = """
with late as (
  select distinct l_orderkey, l_suppkey
  from lineitem join orders on l_orderkey = o_orderkey
  where l_shipdate > o_orderdate + interval 60 day),
multi as (
  select l_orderkey from (select distinct l_orderkey, l_suppkey
                          from lineitem)
  group by 1 having count(*) > 1),
cand as (
  select la.* from late la where la.l_orderkey in
    (select l_orderkey from multi)),
sole as (
  select c.* from cand c
  where not exists (select 1 from late x
                    where x.l_orderkey = c.l_orderkey
                      and x.l_suppkey <> c.l_suppkey))
select s_suppkey, s_name, count(*) as numwait
from sole join supplier on l_suppkey = s_suppkey
group by 1, 2 order by numwait desc, s_suppkey limit 25
"""


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (beyond reference): supplier(s) achieving the
    global maximum 3-month revenue — the revenue "view" is one grouped
    aggregate, its max is a 1-row broadcast scalar, and the equality
    filter reuses the aggregated relation (no second scan of
    lineitem)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
        .groupBy("l_suppkey")
        .agg(F.sum(_d6(F.col("l_extendedprice")
                       * (1 - F.col("l_discount")))).alias("__rev__"))
        # the revenue "view" feeds both the max scalar and the equality
        # filter: one supplier-sized materialization, one lineitem scan
        .localCheckpoint())
    mx = rev.agg(F.max("__rev__").alias("__mx__"))
    sup = load_table(spark, sf_dir, "supplier")
    return (rev.join(F.broadcast(mx), F.col("__rev__") == F.col("__mx__"))
            .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                    "s_name",
                    F.round(F.col("__rev__").cast("double"), 4)
                    .alias("total_revenue"))
            .orderBy("s_suppkey"))


SQL_TOP_REVENUE_SUPPLIER = """
with rev as (
  select l_suppkey,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) as r
  from lineitem
  where l_shipdate >= timestamp '1996-01-01'
    and l_shipdate < timestamp '1996-04-01'
  group by 1)
select s_suppkey::BIGINT as s_suppkey, s_name,
       round(r::DOUBLE, 4) as total_revenue
from rev join supplier on l_suppkey = s_suppkey
where r = (select max(r) from rev)
order by s_suppkey
"""


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (beyond reference): groups whose aggregate
    exceeds a FRACTION OF THE GLOBAL TOTAL — the global scalar comes
    from re-aggregating the per-group aggregates (no second base scan)
    and broadcasts into the HAVING filter."""
    t = load_tables(spark, sf_dir)
    rev = _d6(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_nation = (t["lineitem"]
                  .join(t["supplier"],
                        F.col("l_suppkey") == F.col("s_suppkey"))
                  .join(F.broadcast(t["nation"]),
                        F.col("s_nationkey") == F.col("n_nationkey"))
                  .groupBy("n_name")
                  .agg(F.sum(rev).alias("__val__")))
    total = per_nation.agg(F.sum("__val__").alias("__tot__"))
    return (per_nation.crossJoin(F.broadcast(total))
            .where(F.col("__val__") > F.col("__tot__") * 0.05)
            .select("n_name",
                    F.round(F.col("__val__").cast("double"), 4)
                    .alias("value"))
            .orderBy(F.col("value").desc(), "n_name"))


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (beyond reference): revenue shipped between
    distinct nation pairs (keys < 5, both directions) by year — the two-role nation self-join (supplier
    nation x customer nation) the estimator suite's single-alias
    grammar cannot express, handled by the analytics engine directly.
    Both nation sides broadcast."""
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"),
                            F.col("n_name").alias("cust_nation"))
    rev = _d6(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (t["lineitem"]
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
         .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
         .where((F.col("s_nk") < 5) & (F.col("c_nk") < 5)
                & (F.col("s_nk") != F.col("c_nk"))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("l_year"))
            .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


SQL_VOLUME_SHIPPING = """
select n1.n_name as supp_nation, n2.n_name as cust_nation,
       year(l_shipdate) as l_year,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))
             ::DOUBLE, 4) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join supplier on l_suppkey = s_suppkey
join nation n1 on s_nationkey = n1.n_nationkey
join nation n2 on c_nationkey = n2.n_nationkey
where n1.n_nationkey < 5 and n2.n_nationkey < 5
  and n1.n_nationkey != n2.n_nationkey
group by 1, 2, 3 order by 1, 2, 3
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (beyond reference): per-(nation, year) profit over
    a part-name filter — the testdata has no partsupp table, so supply
    cost is the documented substitute ``0.5 * p_retailprice`` (the
    SHAPE under test is the 4-join aggregate over a LIKE-filtered
    dimension, not the cost constant)."""
    t = load_tables(spark, sf_dir)
    amount = _d6(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                 - F.lit(0.5) * F.col("p_retailprice")
                 * F.col("l_quantity"))
    j = (t["lineitem"]
         .join(t["part"].where(F.col("p_name").like("%a%")),
               F.col("l_partkey") == F.col("p_partkey"))
         .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(t["nation"]),
               F.col("s_nationkey") == F.col("n_nationkey")))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("l_shipdate").alias("o_year"))
            .agg(F.round(F.sum(amount).cast("double"), 4)
                 .alias("sum_profit"))
            .orderBy("nation", F.col("o_year").desc()))


SQL_PRODUCT_PROFIT = """
select n_name as nation, year(l_shipdate) as o_year,
       round(sum((l_extendedprice * (1 - l_discount)
                  - 0.5 * p_retailprice * l_quantity)
                 ::DECIMAL(18,6))::DOUBLE, 4) as sum_profit
from lineitem
join part on l_partkey = p_partkey and p_name like '%a%'
join supplier on l_suppkey = s_suppkey
join nation on s_nationkey = n_nationkey
group by 1, 2 order by 1, 2 desc
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (beyond reference): NATION_3's share of ASIA-market
    revenue by order year over MEDIUM-type parts — conditional-fraction
    aggregation over a 7-table join.  Nation/region dimensions broadcast;
    numerator and denominator are exact decimal sums so the final double
    division is engine-reproducible."""
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"),
                            F.col("n_regionkey").alias("c_rk"))
    vol = _d6(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (t["lineitem"]
         .join(t["part"].where(F.col("p_type") == "MEDIUM"),
               F.col("l_partkey") == F.col("p_partkey"))
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
         .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
         .join(F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
               F.col("c_rk") == F.col("r_regionkey")))
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                .otherwise(F.lit(0).cast("decimal(18,6)")))
    den = F.sum(vol)
    return (j.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.round(num.cast("double") / den.cast("double"), 6)
                 .alias("mkt_share"))
            .orderBy("o_year"))


SQL_MARKET_SHARE = """
select year(o_orderdate) as o_year,
       round(sum(case when n1.n_name = 'NATION_3'
                      then (l_extendedprice * (1 - l_discount))
                           ::DECIMAL(18,6)
                      else 0::DECIMAL(18,6) end)::DOUBLE
             / sum((l_extendedprice * (1 - l_discount))
                   ::DECIMAL(18,6))::DOUBLE, 6) as mkt_share
from lineitem
join part on l_partkey = p_partkey and p_type = 'MEDIUM'
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join supplier on l_suppkey = s_suppkey
join nation n1 on s_nationkey = n1.n_nationkey
join nation n2 on c_nationkey = n2.n_nationkey
join region on n2.n_regionkey = r_regionkey
where r_name = 'ASIA'
group by 1 order by 1
"""


def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (beyond reference): distribution of per-customer
    order counts through a FILTERED left outer join — customers with zero
    qualifying orders must survive as c_count=0 (the filter lives in the
    join condition, not a post-filter).  Two cascaded aggregations; the
    second runs over a distinct-count-sized relation."""
    t = load_tables(spark, sf_dir)
    ords = (t["orders"]
            .where(F.col("o_orderpriority") != "1-URGENT")
            .select("o_custkey", "o_orderkey"))
    per_cust = (t["customer"].select("c_custkey")
                .join(ords, F.col("c_custkey") == F.col("o_custkey"),
                      "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


SQL_ORDER_COUNT_DIST = """
select c_count, count(*) as custdist
from (select c_custkey, count(o_orderkey) as c_count
      from customer
      left join orders on c_custkey = o_custkey
           and o_orderpriority <> '1-URGENT'
      group by c_custkey) t
group by c_count
order by custdist desc, c_count desc
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (beyond reference): average yearly revenue lost if
    small-quantity orders stopped — the correlated per-part AVG subquery
    lowered to a broadcast agg-join (per-part thresholds are a
    part-dimension-sized relation, never a window over lineitem).
    Thresholds use an exact decimal sum / count before the double
    multiply, so the cut value is engine-reproducible."""
    t = load_tables(spark, sf_dir)
    parts = (t["part"]
             .where((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15))
             .select("p_partkey"))
    li = t["lineitem"].join(F.broadcast(parts),
                            F.col("l_partkey") == F.col("p_partkey"))
    cuts = (li.groupBy(F.col("l_partkey").alias("t_partkey"))
            .agg(((F.sum(_d6(F.col("l_quantity"))).cast("double")
                   / F.count(F.lit(1))) * F.lit(0.2)).alias("qty_cut")))
    small = (li.join(F.broadcast(cuts),
                     F.col("l_partkey") == F.col("t_partkey"))
             .where(F.col("l_quantity") < F.col("qty_cut")))
    return small.agg(
        F.round(F.sum(_d6(F.col("l_extendedprice"))).cast("double")
                / F.lit(7.0), 4).alias("avg_yearly"))


SQL_SMALL_QTY_REVENUE = """
with li as (
  select l_partkey, l_quantity, l_extendedprice
  from lineitem join part on l_partkey = p_partkey
  where p_brand = 'Brand#1' and p_size < 15),
cuts as (
  select l_partkey as t_partkey,
         (sum(l_quantity::DECIMAL(18,6))::DOUBLE / count(*)) * 0.2
           as qty_cut
  from li group by 1)
select round(sum(l_extendedprice::DECIMAL(18,6))::DOUBLE / 7.0, 4)
       as avg_yearly
from li join cuts on l_partkey = t_partkey
where l_quantity < qty_cut
"""


def q_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (beyond reference): suppliers whose shipped volume
    of a LIKE-filtered part family exceeds 1.05x the per-supplier average
    — a nested aggregate-of-aggregate scalar (broadcast one-row cross
    join) feeding a LEFT SEMI join into the supplier dimension.  The
    scalar cut is an exact decimal sum / count, double math after."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].join(
        t["part"].where(F.col("p_name").like("%b%")).select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"))
    shipped = (li.groupBy("l_suppkey")
               .agg(F.sum(_d6(F.col("l_quantity"))).alias("qty")))
    cut = shipped.agg(
        ((F.sum("qty").cast("double") / F.count(F.lit(1)))
         * F.lit(1.05)).alias("cut"))
    heavy = (shipped.crossJoin(F.broadcast(cut))
             .where(F.col("qty").cast("double") > F.col("cut"))
             .select("l_suppkey"))
    return (t["supplier"]
            .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"),
                  "left_semi")
            .join(F.broadcast(t["nation"]),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_name", "n_name")
            .orderBy("s_name"))


SQL_EXCESS_SHIPPERS = """
with shipped as (
  select l_suppkey, sum(l_quantity::DECIMAL(18,6)) as qty
  from lineitem join part on l_partkey = p_partkey
  where p_name like '%b%'
  group by 1),
cut as (
  select (sum(qty)::DOUBLE / count(*)) * 1.05 as cut from shipped)
select s_name, n_name
from supplier
join nation on s_nationkey = n_nationkey
where s_suppkey in (
  select l_suppkey from shipped, cut where qty::DOUBLE > cut)
order by s_name
"""


SQL_NATION_REVENUE_SHARE = """
with per_nation as (
  select n_name,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) as v
  from lineitem
  join supplier on l_suppkey = s_suppkey
  join nation on s_nationkey = n_nationkey
  group by 1)
select n_name, round(v::DOUBLE, 4) as value
from per_nation
where v > (select sum(v) from per_nation) * 0.05
order by value desc, n_name
"""


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderpriority"]


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling (beyond reference — the prep stats its
    dictionaries come from): null counts, exact distincts and numeric
    ranges for the orders table, one aggregation pass + constant-size
    unpivot."""
    from .operators.profile import profile_table
    orders = load_table(spark, sf_dir, "orders")
    out = profile_table(orders, _PROFILE_COLS, exact=True)
    return out.select("column", "n_rows", "n_nulls", "n_distinct",
                      F.round("min_num", 4).alias("min_num"),
                      F.round("max_num", 4).alias("max_num"))


def sql_profile_table() -> str:
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    parts = []
    for c in _PROFILE_COLS:
        mn = (f"round(min({c})::DOUBLE, 4)" if c in numeric
              else "NULL::DOUBLE")
        mx = (f"round(max({c})::DOUBLE, 4)" if c in numeric
              else "NULL::DOUBLE")
        parts.append(
            f"select '{c}' as \"column\", count(*) as n_rows, "
            f"count(*) - count({c}) as n_nulls, "
            f"count(distinct {c}) as n_distinct, "
            f"{mn} as min_num, {mx} as max_num from orders")
    return " union all ".join(parts) + ' order by "column"'


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81 (two-sample Kolmogorov-Smirnov drift statistic — the
    distribution alarm a pipeline runs between an incoming shard and
    the standing corpus before mixing): KS D between src0's and the
    rest's document-length distributions (`profile.ks_drift`).  ECDFs
    materialize per DISTINCT VALUE only (one count shuffle + one
    window over the domain-sized relation); integer counts make every
    gap a single IEEE expression — no dust."""
    from .operators.profile import ks_drift

    docs = load_table(spark, sf_dir, "documents")
    return ks_drift(docs.where(F.col("source") == "src0"),
                    docs.where(F.col("source") != "src0"), "n_chars")


SQL_KS_DRIFT = """
with a as (select n_chars as v from documents
           where source = 'src0' and n_chars is not null),
b as (select n_chars as v from documents
      where source <> 'src0' and n_chars is not null),
na as (select count(*)::DOUBLE as n from a),
nb as (select count(*)::DOUBLE as n from b),
per_v as (
  select v, sum(ca) as ka, sum(cb) as kb
  from (select v, 1 as ca, 0 as cb from a
        union all select v, 0, 1 from b)
  group by v),
gaps as (
  select v,
         round(abs(sum(ka) over (order by v rows between unbounded
                                 preceding and current row) / na.n
                   - sum(kb) over (order by v rows between unbounded
                                   preceding and current row) / nb.n),
               6) as g
  from per_v cross join na cross join nb)
select (select count(*)::BIGINT from a) as n_a,
       (select count(*)::BIGINT from b) as n_b,
       (select max(g) from gaps) as d_stat,
       (select min(v) from gaps
        where g = (select max(g) from gaps))::BIGINT as at_value
"""


def q_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82 (chi-square homogeneity drift — the categorical sibling of
    x81's KS): event-type distribution of even-user events vs odd-user
    events (`profile.chisq_drift`; two-sample contingency form,
    category-sized aggregation)."""
    from .operators.profile import chisq_drift

    ev = load_table(spark, sf_dir, "events")
    return chisq_drift(ev.where(F.col("user_id") % 2 == 0),
                       ev.where(F.col("user_id") % 2 == 1),
                       "event_type")


SQL_CHISQ_DRIFT = """
with a as (select event_type as v from events
           where user_id % 2 = 0 and event_type is not null),
b as (select event_type as v from events
      where user_id % 2 = 1 and event_type is not null),
na as (select count(*) as n from a),
nb as (select count(*) as n from b),
per as (
  select v, sum(ca) as ka, sum(cb) as kb
  from (select v, 1 as ca, 0 as cb from a
        union all select v, 0, 1 from b)
  group by v),
t as (
  select count(*) as k,
         sum((ka - (ka + kb) * (na.n::DOUBLE / (na.n + nb.n)))
             * (ka - (ka + kb) * (na.n::DOUBLE / (na.n + nb.n)))
             / ((ka + kb) * (na.n::DOUBLE / (na.n + nb.n)))
           + (kb - (ka + kb) * (nb.n::DOUBLE / (na.n + nb.n)))
             * (kb - (ka + kb) * (nb.n::DOUBLE / (na.n + nb.n)))
             / ((ka + kb) * (nb.n::DOUBLE / (na.n + nb.n)))) as chi2
  from per cross join na cross join nb)
select na.n::BIGINT as n_a, nb.n::BIGINT as n_b,
       t.k::INT as n_categories, (t.k - 1)::INT as dof,
       round(t.chi2, 4) as chi2
from t cross join na cross join nb
"""


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version dedup (beyond reference): each user's latest event as a
    single struct-max aggregation — map-side combinable, one row of
    per-group state — instead of a window sort over every group."""
    from .operators.dedup import keep_latest
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .select("user_id", "ts", "event_id", "event_type", "value"))
    out = keep_latest(ev, ["user_id"], ["ts", "event_id"])
    return (out.select("user_id", "ts", "event_id", "event_type",
                       F.round("value", 4).alias("value"))
            .orderBy("user_id"))


SQL_LATEST_PER_KEY = """
select user_id, ts, event_id, event_type, round(value, 4) as value
from (
  select user_id, ts, event_id, event_type, value,
         row_number() over (partition by user_id
                            order by ts desc, event_id desc) as rn
  from events where user_id is not null)
where rn = 1 order by user_id
"""


def q_simsel_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-selection cardinality (beyond reference, paper-anchored
    sampling baseline): |{v : cos(v, q) >= 0.2}| estimated from a
    deterministic bottom-k-by-hash sample next to the exact count."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    from .operators.similarity import similarity_selection_card
    return similarity_selection_card(emb, qv, threshold=0.2, k=128)


def sql_simsel_card(threshold: float = 0.2, k: int = 128) -> str:
    poly = _duck_kmv_poly("vec_id::VARCHAR")
    return f"""
with q as (select embedding::DOUBLE[] v from embeddings where vec_id = 0),
s as (
  select vec_id, {poly} as h,
         list_dot_product(embedding::DOUBLE[], q.v) /
         greatest(sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.v, q.v)), 1e-12) as sim
  from embeddings, q),
t as (
  select count(*) as n_total,
         sum(case when sim >= {threshold} then 1 else 0 end)::BIGINT
           as true_card
  from s),
sk as (
  select count(*) as n_sample,
         sum(case when sim >= {threshold} then 1 else 0 end) as hits
  from (select * from s order by h, vec_id limit {k}))
select n_total, n_sample,
       round(n_total::DOUBLE * hits::DOUBLE / n_sample::DOUBLE, 4)
         as est_card,
       true_card
from t, sk
"""


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (beyond reference): BM25 lexical top-20 fused
    with embedding-cosine top-20 by reciprocal-rank fusion.  Both input
    lists are bounded before fusion, so the rank windows and the
    full-outer id join run on k-sized relations at any corpus scale."""
    from .operators import similarity as SIM
    from .operators.bm25 import bm25_topk
    from .operators.fusion import rrf_fuse
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, _BM25_TERMS, k=20)
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    sem = SIM.topk_cosine(emb, qv, 20) \
        .withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse([(lex, "score"), (sem, "cos_sim")], k=10)


def sql_hybrid_search(k1: float = 1.2, b: float = 0.75) -> str:
    ctes, score = _bm25_sql_parts(k1, b)
    return f"""
with {ctes},
bm as (
  select doc_id, score from (
    select doc_id, {score} as score from s, g)
  where score > 0 order by score desc, doc_id limit 20),
bmr as (
  select doc_id, row_number() over (order by score desc, doc_id) as r1
  from bm),
q as (select embedding::DOUBLE[] v from embeddings where vec_id = 0),
cs as (
  select vec_id as doc_id,
         round(list_dot_product(embedding::DOUBLE[], q.v) /
               greatest(sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.v, q.v)), 1e-12), 6)
           as cos_sim
  from embeddings, q
  order by cos_sim desc, doc_id limit 20),
csr as (
  select doc_id, row_number() over (order by cos_sim desc, doc_id) as r2
  from cs),
f as (
  select doc_id,
         coalesce(1.0 / (60.0 + r1), 0.0)
           + coalesce(1.0 / (60.0 + r2), 0.0) as rrf
  from bmr full outer join csr using (doc_id))
select doc_id, round(rrf, 6) as rrf_score
from f order by rrf desc, doc_id limit 10
"""


# The synthetic corpus's own function words ("the", "a" are the only
# ones its vocabulary contains): ONE constant shared by the x54 Spark
# query, its DuckDB oracle (interpolated below), and bench.py, so the
# three sites cannot silently desynchronize.
SYNTH_STOP_WORDS = ("the", "a")
_SYNTH_STOP_SQL = "[" + ",".join(f"'{w}'" for w in SYNTH_STOP_WORDS) + "]"


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54 (Gopher quality-filter rule battery, Rae et al. 2021 App.
    A1.1): the seven doc-level heuristic gates — word-count bounds,
    mean word length, symbol-to-word ratio, bullet/ellipsis line
    ratios, alphabetic-word fraction, stop-word presence — as pure JVM
    column expressions over one tokenization (`operators/gopher.py`;
    shuffle-free, row-parallel).  Output: per document the word count,
    every rule verdict, and the conjunctive keep flag.

    The stop-word rule runs with the synthetic corpus's own function
    words ("the", "a" — the only ones its vocabulary contains) so the
    composed ``gopher_keep`` has BOTH outcomes at every SF (~half the
    docs pass); with the paper's English set the rule is degenerate
    here (0 keeps).  The operator default remains the paper's set."""
    from .operators.gopher import with_gopher_flags

    docs = load_table(spark, sf_dir, "documents")
    g = with_gopher_flags(docs, stop_words=SYNTH_STOP_WORDS)
    return (g.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.filter(F.split(F.coalesce(F.col("text"), F.lit("")),
                                r"\s+"),
                        lambda w: F.length(w) > 0))
        .cast("long").alias("n_words"),
        "g_word_count", "g_mean_word_len", "g_symbol_ratio",
        "g_bullet_lines", "g_ellipsis_lines", "g_alpha_words",
        "g_stop_words", "gopher_keep")
        .orderBy("doc_id"))


SQL_GOPHER_RULES = """
with d as (select doc_id, coalesce(text, '') as t from documents),
w as (select doc_id, t,
             list_filter(string_split_regex(t, '\\s+'),
                         x -> len(x) > 0) as ws
      from d),
ls as (select doc_id,
              list_filter(list_transform(string_split(t, chr(10)),
                                          x -> trim(x)),
                          x -> len(x) > 0) as lns
       from d),
calc as (
  select w.doc_id, len(ws) as nw,
         case when len(ws) = 0 then 0.0
              else list_sum(list_transform(ws, x -> len(x)))::DOUBLE
                   / len(ws) end as mwl,
         (len(t) - len(replace(t, '#', ''))) as nhash,
         (len(t) - len(replace(t, '...', ''))) / 3
           + (len(t) - len(replace(t, '…', ''))) as nell,
         len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
           as nalpha,
         len(list_intersect(
             list_distinct(list_transform(ws, x -> lower(x))),
             {stops})) as nstop,
         greatest(len(lns), 1) as nl,
         len(list_filter(lns, x -> substr(x, 1, 1) in
             ('•','‣','▪','-','*'))) as nbull,
         len(list_filter(lns, x -> x like '%...'
             or x like '%…')) as nellend
  from w join ls using (doc_id)),
flags as (
  select doc_id, nw,
         (nw >= 50 and nw <= 100000) as g_word_count,
         (mwl >= 3.0 and mwl <= 10.0) as g_mean_word_len,
         ((nhash + nell)::DOUBLE / greatest(nw, 1)) <= 0.1
           as g_symbol_ratio,
         (nbull::DOUBLE / nl) <= 0.90 as g_bullet_lines,
         (nellend::DOUBLE / nl) <= 0.30 as g_ellipsis_lines,
         (nalpha::DOUBLE / greatest(nw, 1)) >= 0.80 as g_alpha_words,
         (nstop >= 2) as g_stop_words
  from calc)
select doc_id::BIGINT as doc_id, nw::BIGINT as n_words,
       g_word_count, g_mean_word_len, g_symbol_ratio, g_bullet_lines,
       g_ellipsis_lines, g_alpha_words, g_stop_words,
       (g_word_count and g_mean_word_len and g_symbol_ratio
        and g_bullet_lines and g_ellipsis_lines and g_alpha_words
        and g_stop_words) as gopher_keep
from flags order by doc_id
""".format(stops=_SYNTH_STOP_SQL)


def q_repetition_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56 (Gopher repetition battery, Rae et al. 2021 App. A1.2;
    completes x27's two signals): duplicate line/paragraph fractions
    (count + character), top-{2,3,4}-gram character fractions, and
    duplicate-{5..10}-gram character fractions, plus the conjunctive
    ``rep_keep`` under the paper's thresholds
    (`operators/gopher.repetition_signals`).  One exploded
    (id, kind, unit) relation (~9x token count, the x43 digest-relation
    shape) serves all 13 signals; only its count groupBy is
    corpus-token-scale (map-side combinable) — downstream regroupings
    shrink to distinct units, then 13 rows/doc."""
    from .operators.gopher import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    out = repetition_signals(docs)
    return (out.select(F.col("doc_id").cast("long").alias("doc_id"),
                       *[c for c in out.columns if c != "doc_id"])
            .orderBy("doc_id"))


SQL_REPETITION_BATTERY = """
with d as (
  select doc_id, coalesce(text, '') as t,
         len(coalesce(text, '')) as doc_chars
  from documents),
toks as (
  select doc_id, doc_chars, t,
         list_filter(string_split_regex(t, '\\s+'),
                     x -> len(x) > 0) as ws
  from d),
units as (
  select doc_id, doc_chars, 'line' as kind, u as unit
  from (select doc_id, doc_chars,
               list_filter(list_transform(string_split(t, chr(10)),
                                           x -> trim(x)),
                           x -> len(x) > 0) as ls
        from d), unnest(ls) as un(u)
  union all
  select doc_id, doc_chars, 'para' as kind, u as unit
  from (select doc_id, doc_chars,
               list_filter(list_transform(
                   string_split_regex(t, '\\n\\n+'), x -> trim(x)),
                           x -> len(x) > 0) as ps
        from d), unnest(ps) as un(u)
  union all
  select doc_id, doc_chars, n::VARCHAR || 'gram' as kind,
         array_to_string(ws[i:i+n-1], ' ') as unit
  from toks, range(2, 11) as r(n),
       unnest(generate_series(1, len(ws) - n + 1)) as u(i)
  where len(ws) >= n),
per_unit as (
  select doc_id, doc_chars, kind, unit, count(*) as c
  from units group by all),
top_pick as (
  -- coverage of the MOST FREQUENT gram, ties by (chars, gram text) —
  -- the same total order as the engine's max_by struct
  select doc_id, kind, c * len(unit) as top_cover
  from (select doc_id, kind, unit, c,
               row_number() over (partition by doc_id, kind
                                  order by c desc, len(unit) desc,
                                           unit desc) as rn
        from per_unit) where rn = 1),
per_kind as (
  select doc_id, doc_chars, kind,
         sum(c) as occ, count(*) as distinct_u,
         sum(c * len(unit)) as occ_chars,
         sum((c - 1) * len(unit)) as extra_chars,
         sum(case when c >= 2 then c * len(unit) else 0 end) as dup_cover
  from per_unit group by all),
per_kind_t as (
  select k.*, t.top_cover
  from per_kind k join top_pick t using (doc_id, kind)),
sig as (
  select doc_id, kind,
         round((occ - distinct_u)::DOUBLE / greatest(occ, 1), 4)
           as dup_frac,
         round(extra_chars::DOUBLE / greatest(occ_chars, 1), 4)
           as dup_char_frac,
         least(round(top_cover::DOUBLE / greatest(doc_chars, 1), 4),
               1.0) as top_frac,
         least(round(dup_cover::DOUBLE / greatest(doc_chars, 1), 4),
               1.0) as dup_cover_frac
  from per_kind_t),
wide as (
  select d.doc_id,
    coalesce(max(case when kind = 'line' then dup_frac end), 0.0)
      as dup_line_frac,
    coalesce(max(case when kind = 'line' then dup_char_frac end), 0.0)
      as dup_line_char_frac,
    coalesce(max(case when kind = 'para' then dup_frac end), 0.0)
      as dup_para_frac,
    coalesce(max(case when kind = 'para' then dup_char_frac end), 0.0)
      as dup_para_char_frac,
    coalesce(max(case when kind = '2gram' then top_frac end), 0.0)
      as top_2gram_char_frac,
    coalesce(max(case when kind = '3gram' then top_frac end), 0.0)
      as top_3gram_char_frac,
    coalesce(max(case when kind = '4gram' then top_frac end), 0.0)
      as top_4gram_char_frac,
    coalesce(max(case when kind = '5gram' then dup_cover_frac end), 0.0)
      as dup_5gram_char_frac,
    coalesce(max(case when kind = '6gram' then dup_cover_frac end), 0.0)
      as dup_6gram_char_frac,
    coalesce(max(case when kind = '7gram' then dup_cover_frac end), 0.0)
      as dup_7gram_char_frac,
    coalesce(max(case when kind = '8gram' then dup_cover_frac end), 0.0)
      as dup_8gram_char_frac,
    coalesce(max(case when kind = '9gram' then dup_cover_frac end), 0.0)
      as dup_9gram_char_frac,
    coalesce(max(case when kind = '10gram' then dup_cover_frac end), 0.0)
      as dup_10gram_char_frac
  from d left join sig using (doc_id)
  group by d.doc_id)
select doc_id::BIGINT as doc_id,
       dup_line_frac, dup_line_char_frac, dup_para_frac,
       dup_para_char_frac, top_2gram_char_frac, top_3gram_char_frac,
       top_4gram_char_frac, dup_5gram_char_frac, dup_6gram_char_frac,
       dup_7gram_char_frac, dup_8gram_char_frac, dup_9gram_char_frac,
       dup_10gram_char_frac,
       (dup_line_frac <= 0.30 and dup_line_char_frac <= 0.20
        and dup_para_frac <= 0.30 and dup_para_char_frac <= 0.20
        and top_2gram_char_frac <= 0.20 and top_3gram_char_frac <= 0.18
        and top_4gram_char_frac <= 0.16 and dup_5gram_char_frac <= 0.15
        and dup_6gram_char_frac <= 0.14 and dup_7gram_char_frac <= 0.13
        and dup_8gram_char_frac <= 0.12 and dup_9gram_char_frac <= 0.11
        and dup_10gram_char_frac <= 0.10) as rep_keep
from wide order by doc_id
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 (temperature mixture weights, XLM §3.1 / mT5 / UNIMAX
    lineage): per-source weights ``n_s^alpha / sum n_t^alpha`` over
    available token counts — the standard flattening that up-samples
    low-resource sources without hand-tuned tables
    (`sampling.temperature_weights`; alpha = 0.5 here).  One
    map-side-combinable groupBy, O(#sources) output; composes with
    x49's epochs table and x36's mixture sampler."""
    from .operators.sampling import temperature_weights

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens",
        F.greatest(F.size(F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
            lambda w: F.length(w) > 0)), F.lit(0)))
    return (temperature_weights(docs, alpha=0.5)
            .select("source", F.col("n_docs").cast("long").alias("n_docs"),
                    "avail_tokens", "weight"))


SQL_TEMPERATURE_MIX = """
with per as (
  select source, count(*)::BIGINT as n_docs,
         sum(len(list_filter(string_split_regex(coalesce(text, ''),
                                                '\\s+'),
                             x -> len(x) > 0)))::BIGINT as avail_tokens
  from documents group by source),
tot as (select sum(pow(avail_tokens, 0.5)) as z from per)
select source, n_docs, avail_tokens,
       round(pow(avail_tokens, 0.5) / z, 6) as weight
from per, tot order by source
"""


def q_unimax_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67 (UNIMAX mixture allocation, Chung et al. ICLR 2023;
    completes the mixture family beside x57's temperature flattening
    and x49's weighted budget): distribute a token budget as uniformly
    as possible across sources under a per-source epoch cap — greedy
    water-filling ascending by availability, cap-bound surplus flowing
    to larger sources (`sampling.unimax_plan`; budget 140k chars, cap
    1 epoch — a discriminating split: some sources cap, some don't).
    The oracle replays the exact greedy with a recursive CTE."""
    from .operators.sampling import unimax_plan

    docs = load_table(spark, sf_dir, "documents")
    return unimax_plan(docs, budget_tokens=140_000, max_epochs=1.0,
                       token_col="n_chars")


SQL_UNIMAX_PLAN = """
with recursive per as (
  select source, count(*)::BIGINT as n_docs,
         sum(n_chars)::BIGINT as avail
  from documents group by source),
ord as (
  select *, row_number() over (order by avail, source) as rn
  from per),
k as (select count(*)::INT as n from per),
alloc as (
  select 0 as rn, cast(140000 as double) as remaining,
         (select n from k) as left_n,
         cast(null as varchar) as source, 0::BIGINT as n_docs,
         0::BIGINT as avail, cast(0 as double) as a,
         false as capped
  union all
  select o.rn,
         alloc.remaining - least(1.0 * o.avail,
                                 alloc.remaining / alloc.left_n),
         alloc.left_n - 1, o.source, o.n_docs, o.avail,
         least(1.0 * o.avail, alloc.remaining / alloc.left_n),
         1.0 * o.avail < alloc.remaining / alloc.left_n
  from alloc join ord o on o.rn = alloc.rn + 1)
select source, n_docs, avail as avail_tokens,
       round(a, 4) as alloc_tokens,
       round(a / avail, 6) as epochs, capped
from alloc where rn > 0
order by source
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53 (DSIR data selection, Xie et al. NeurIPS 2023): score every
    document by the log importance weight between an add-1 unigram LM
    trained on the TARGET slice (source = 'src0') and one trained on
    the full raw corpus, and keep the top 20 (`operators/dsir.py`).
    Both LMs are one map-side-combinable count shuffle with
    vocabulary-sized output; scoring is the perplexity join pattern
    (token-keyed joins against broadcast-sized LM relations); selection
    is a TakeOrdered top-k.  Deterministic rank (log_iw desc, doc_id);
    the Gumbel-resampling variant is test-pinned
    (content-hash noise)."""
    from .operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return (dsir_select(docs, target, 20)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_toks", "log_iw"))


SQL_DSIR_SELECT = """
with tok as (
  select doc_id,
         lower(unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> len(x) > 0))) as token
  from documents),
tgt_c as (
  select token, count(*) as n from tok
  join documents using (doc_id) where source = 'src0' group by token),
raw_c as (select token, count(*) as n from tok group by token),
tgt_tot as (select sum(n) as nt, count(*) as v from tgt_c),
raw_tot as (select sum(n) as nt, count(*) as v from raw_c),
sc as (
  select t.doc_id,
         ln((coalesce(tc.n, 0) + 1.0) / (tt.nt + 1.0 * (tt.v + 1)))
           - ln((coalesce(rc.n, 0) + 1.0) / (rt.nt + 1.0 * (rt.v + 1)))
           as dlw
  from tok t
  left join tgt_c tc using (token)
  left join raw_c rc using (token)
  cross join tgt_tot tt cross join raw_tot rt),
agg as (select doc_id, count(*) as n_toks, round(sum(dlw), 4) as log_iw
        from sc group by doc_id),
alldocs as (
  select d.doc_id, coalesce(a.n_toks, 0) as n_toks,
         coalesce(a.log_iw, 0.0) as log_iw
  from documents d left join agg a using (doc_id))
select doc_id::BIGINT as doc_id, n_toks::BIGINT as n_toks, log_iw
from alldocs
order by log_iw desc, doc_id limit 20
"""


BENCH_QUERIES = {
    "b1_filter": "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30",
    "b2_filter2": "SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R' "
                  "AND l_quantity <= 25",
    "b3_join2": "SELECT COUNT(*) FROM lineitem l, orders o "
                "WHERE l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'",
    "b4_join3": "SELECT COUNT(*) FROM lineitem l, orders o, customer c "
                "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
                "AND c.c_mktsegment = 'BUILDING' AND l.l_quantity > 10",
    "b5_dim": "SELECT COUNT(*) FROM orders o, customer c "
              "WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 0",
    "b6_like": "SELECT COUNT(*) FROM orders WHERE o_orderpriority LIKE '%URGENT'",
}


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def queries() -> dict:
    # Registry order matters: the driver's correctness gate checks the
    # first ~50 entries in order (r01-r10 each recorded exactly 50 rows).
    # The window is generated by staleness math — never-driver-checked
    # keys first, then keys whose code was rewritten this round, then
    # ascending latest-driver-round; audit with
    # ``python tools/preflight.py --stalest 50`` (warns when a stalest
    # key falls outside the window prefix).  Key names are stable
    # across rounds.
    # Staleness math (r11): registry 186 keys vs the 50-row driver
    # window -> worst-case revisit ~4 rounds.  If growth continues,
    # retire REDUNDANT keys first (candidates: the TPC-H analytics
    # block a11-a34 overlaps heavily with a2/a4/a9/a10 on operator
    # coverage — e.g. a15/a16/a21/a22/a26/a27 each pin one join+agg
    # shape already covered; dropping ~8 of them buys 2 rounds) before
    # asking for a wider window.
    return {
        # --- window: the r11 gate (first 50, driver-checked in order) —
        # the 5 never-driver-checked round-10 keys, x81 (ks_drift ECDF
        # rewritten to prefix sums this round, owed a regate), then the
        # stalest driver-green keys (the 29 r07 keys + the oldest r08
        # block).  Generated from tools/preflight.py --stalest math. ---
        "e18_spark_asha_async": q_spark_asha_async,
        "s8_single_table_datasets": q_single_table_datasets,
        "x91_bpe_apply_arrow": q_bpe_apply_arrow,
        "s7_imdb_joblight": q_imdb_schema_joinsize,
        "x92_streaming_refresh": q_streaming_refresh,
        "e17_spark_search": q_spark_search,
        "x93_pq_drift": q_pq_drift,
        "x81_ks_drift": q_ks_drift,
        "x10_media_meta": q_media_meta,
        "x22_frame_sample": q_frame_sample,
        "x23_resize_batch": q_resize_batch,
        "a11_pricing_summary": q_pricing_summary,
        "a12_region_revenue": q_region_revenue,
        "a13_ship_priority": q_ship_priority,
        "a14_promo_revenue": q_promo_revenue,
        "a19_rollup": q_rollup_agg,
        "a20_pivot": q_pivot_counts,
        "a23_event_funnel": q_event_funnel,
        "x29_quantile_sketch": q_quantile_sketch,
        "x30_salted_agg": q_salted_agg,
        "x31_bm25_topk": q_bm25_topk,
        "x32_hybrid_search": q_hybrid_search,
        "x34_latest_per_key": q_latest_per_key,
        "x35_profile": q_profile_table,
        "x11_near_dup": q_near_dup,
        "x12_incremental_counts": q_incremental_counts,
        "x13_dup_groups": q_dup_groups,
        "x14_asof_join": q_asof_join,
        "j4_join_sample": q_join_sample,
        "e1_estimate_qerror": q_estimate_qerror,
        "e2_nar_qerror": q_nar_qerror,
        "e3_nar_ur_qerror": q_nar_ur_qerror,
        "e4_nar_cin_qerror": q_nar_cin_qerror,
        "e6_jobm_qerror": q_jobm_qerror,
        "x20_range_join": q_range_join,
        "x26_heavy_hitters": q_heavy_hitters,
        "x60_incremental_neardup": q_incremental_neardup,
        "x63_png_decode": q_png_decode,
        "x64_png_downsample": q_png_downsample,
        "x65_avi_decode": q_avi_decode,
        "x62_incremental_components": q_incremental_components,
        "x47_semdedup": q_semdedup,
        "x59_line_dedup": q_line_dedup,
        "st11_stream_dsir": q_stream_dsir,
        "x48_pareto_sample": q_pareto_sample,
        "x49_token_budget": q_token_budget,
        "x50_perplexity_band": q_perplexity_band,
        "x51_chunk_docs": q_chunk_docs,
        "x52_bigram_ppl": q_bigram_ppl,
        "x45_text_classifier": q_text_classifier,
        # --- past the cap: the r12 schedule, stalest-first (rest of the
        # r08 block, then the r09 window, then the r10 window, freshest
        # last).  New r11 keys are inserted into the window above as
        # they land; run tools/preflight.py --stalest 50 to re-audit. ---
        "x53_dsir_select": q_dsir_select,
        "x55_ccnet_bands": q_ccnet_bands,
        "x57_temperature_mix": q_temperature_mix,
        "x58_canonical_dedup": q_canonical_dedup,
        "a29_volume_shipping": q_volume_shipping,
        "a30_product_profit": q_product_profit,
        "a31_market_share": q_market_share,
        "a32_order_count_dist": q_order_count_dist,
        "a33_small_qty_revenue": q_small_qty_revenue,
        "a34_excess_shippers": q_excess_shippers,
        "x19_holdout_split": q_holdout_split,
        "x36_mixture_sample": q_mixture_sample,
        "a15_priority_orders": q_priority_orders,
        "a16_large_orders": q_large_orders,
        "a17_brand_supplier_count": q_brand_supplier_count,
        "a18_disjunctive_revenue": q_disjunctive_revenue,
        "a21_cheapest_supplier": q_cheapest_supplier,
        "a22_idle_rich_customers": q_idle_rich_customers,
        "a24_returned_revenue": q_returned_revenue,
        "a26_sole_late_supplier": q_sole_late_supplier,
        "a27_top_revenue_supplier": q_top_revenue_supplier,
        "a28_nation_revenue_share": q_nation_revenue_share,
        "st9_stream_quantiles": q_stream_quantiles,
        "x37_decontam": q_decontam,
        "x38_pii_scrub": q_pii_scrub,
        "x39_pack_sequences": q_pack_sequences,
        "s1_scan_project": q_scan_project,
        "j1_fk_counts": q_fk_counts,
        "j2_fanout_attach": q_fanout_attach,
        "j3_weights": q_weights,
        "j5_join_two": q_join_two,
        "j6_join_tree": q_join_tree,
        "j6_join_translated": q_join_translated,
        "j9_join_size": q_join_size,
        "a2_group_agg": q_group_agg,
        "a3_dictionary": q_dictionary,
        "a4_join_group_topk": q_join_group_topk,
        "st1_window_hourly": q_window_hourly,
        "st2_sessionize": q_sessionize,
        "st3_stream_window": q_stream_window,
        "st4_stream_sessions": q_stream_sessions,
        "st5_stream_first_seen": q_stream_first_seen,
        "st6_stream_join": q_stream_join,
        "st7_stream_fk_counts": q_stream_fk_counts,
        "st8_stream_kmv": q_stream_kmv,
        "x1_dedup_exact": q_dedup_exact,
        "x2_minhash_sigs": q_minhash_sigs,
        "x3_ngram_jaccard": q_ngram_jaccard,
        "x4_simhash": q_simhash,
        "x5_text_stats": q_text_stats,
        "x6_lang_id": q_lang_id,
        "x7_fingerprint": q_fingerprint,
        "x8_sim_topk": q_sim_topk,
        "x9_lsh_buckets": q_lsh_buckets,
        "x15_ivf_cells": q_ivf_cells,
        "x16_ivf_topk": q_ivf_topk,
        "x17_kmv_distinct": q_kmv_distinct,
        "x18_stratified_sample": q_stratified_sample,
        "x21_time_rollup": q_time_rollup,
        "x24_training_corpus": q_training_corpus,
        "x25_bloom_semi": q_bloom_semi_join,
        "x28_kmv_setops": q_kmv_setops,
        "x33_simsel_card": q_simsel_card,
        "a5_quantiles": q_quantiles,
        "a7_entropy": q_entropy,
        "a25_late_shipment_priority": q_late_shipment_priority,
        "e7_trm_qerror": q_trm_qerror,
        "e8_search": q_grid_search,
        "f1_scalar_funcs": q_scalar_funcs,
        "f2_json_extract": q_json_extract,
        "m1_encode": q_encode,
        "m2_factorize": q_factorize,
        "o1_topk": q_topk,
        "p1_filter_ops": q_filter_ops,
        "p2_filter_like": q_filter_like,
        "p9_or_filters": q_or_filters,
        "s2_stage_sinks": q_stage_sinks,
        "s3_benchmark_csv": q_benchmark_csv,
        "s5_jdbc_roundtrip": q_jdbc_roundtrip,
        "o3_stitch_chain": q_stitch_chain,
        "o4_sampling_orderings": q_sampling_orderings,
        "x40_curate_corpus": q_curate_corpus,
        "x41_kmeans_iter": q_kmeans_iter,
        "e13_tpe_search": q_tpe_search,
        "x66_video_thumbnail": q_video_thumbnail,
        "st13_stream_media": q_stream_media_decode,
        "x67_unimax_plan": q_unimax_plan,
        "e14_asha_async": q_asha_async,
        "x68_bpe_apply": q_bpe_apply,
        "x69_scd2_history": q_scd2_history,
        "x70_hard_negatives": q_hard_negatives,
        "x71_pagerank": q_pagerank,
        "x72_edit_near_dup": q_edit_near_dup,
        "st14_stream_tokens": q_stream_token_account,
        "x73_scd2_merge": q_scd2_merge,
        "x74_allpairs_sim_join": q_allpairs_sim_join,
        "st15_stream_scd2": q_stream_scd2,
        "x75_kneser_ney_ppl": q_kn_ppl,
        "x76_pmi_collocations": q_pmi_collocations,
        "x77_ivf_append_topk": q_ivf_append_topk,
        "x78_exact_neardup_groups": q_exact_neardup_groups,
        "x79_ann_recall": q_ann_recall,
        "x80_event_anomalies": q_event_anomalies,
        "x82_chisq_drift": q_chisq_drift,
        "x83_pq_topk": q_pq_topk,
        "x84_pq_rerank": q_pq_rerank,
        "x85_hll_distinct": q_hll_distinct,
        "x86_jl_project": q_jl_project,
        "st16_stream_dedup": q_stream_dedup,
        "x87_rolling_features": q_rolling_features,
        "x88_vocab_coverage": q_vocab_coverage,
        "e16_asha_pool": q_asha_pool,
        "st17_stream_features": q_stream_features,
        "x89_robust_outliers": q_robust_outliers,
        "x90_shard_plan": q_shard_plan,
        "e15_perror_robustness": q_perror_robustness,
        "st12_stream_neardup": q_stream_neardup,
        "x61_wav_decode": q_wav_decode,
        "e12_asha_search": q_asha_search,
        "e5_perror": q_perror,
        "e11_pg_plan_cost": q_pg_plan_cost,
        "x56_repetition_battery": q_repetition_battery,
        "x54_gopher_rules": q_gopher_rules,
        "x42_ivf_indexed_topk": q_ivf_indexed_topk,
        "st10_stream_curate": q_stream_curate,
        "p10_timestamp_preds": q_timestamp_preds,
        "e9_subquery_truths": q_subquery_truths,
        "e10_ppc_inject": q_ppc_inject,
        "x43_substring_spans": q_substring_spans,
        "x44_knn_classify": q_knn_classify,
        "x46_bpe_pairs": q_bpe_pairs,
        "x27_repetition": q_repetition_stats,
        "j10_semi_anti": q_semi_anti_join,
        "a9_cube": q_cube_agg,
        "a10_window_funcs": q_window_funcs,
        "o2_set_ops": q_set_ops,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "s1_scan_project": SQL_SCAN_PROJECT,
        "j1_fk_counts": SQL_FK_COUNTS,
        "j2_fanout_attach": SQL_FANOUT_ATTACH,
        "j3_weights": SQL_WEIGHTS,
        "j9_join_size": SQL_JOIN_SIZE,
        "a3_dictionary": SQL_DICTIONARY,
        "m1_encode": SQL_ENCODE,
        "m2_factorize": sql_factorize(),
        "p1_filter_ops": SQL_FILTER_OPS,
        "p2_filter_like": SQL_FILTER_LIKE,
        "p9_or_filters": SQL_OR_FILTERS,
        "j5_join_two": SQL_JOIN_TWO,
        "j6_join_tree": SQL_JOIN_TREE,
        "j6_join_translated": SQL_JOIN_TRANSLATED,
        "a2_group_agg": SQL_GROUP_AGG,
        "a4_join_group_topk": SQL_JOIN_GROUP_TOPK,
        "f2_json_extract": SQL_JSON_EXTRACT,
        "a5_quantiles": SQL_QUANTILES,
        "a7_entropy": SQL_ENTROPY,
        "o1_topk": SQL_TOPK,
        "f1_scalar_funcs": SQL_SCALAR_FUNCS,
        "st1_window_hourly": SQL_WINDOW_HOURLY,
        "st2_sessionize": SQL_SESSIONIZE,
        "st3_stream_window": SQL_WINDOW_HOURLY,
        "st4_stream_sessions": SQL_STREAM_SESSIONS,
        "st5_stream_first_seen": SQL_STREAM_FIRST_SEEN,
        "st6_stream_join": SQL_CLICKS_TO_PURCHASES,
        "st7_stream_fk_counts": SQL_STREAM_FK_COUNTS,
        "st8_stream_kmv": sql_kmv_distinct(),
        "x1_dedup_exact": SQL_DEDUP_EXACT,
        "x2_minhash_sigs": SQL_MINHASH_SIGS,
        "x3_ngram_jaccard": SQL_NGRAM_JACCARD,
        "x4_simhash": sql_simhash(),
        "x5_text_stats": SQL_TEXT_STATS,
        "x6_lang_id": sql_lang_id(),
        "x7_fingerprint": SQL_FINGERPRINT,
        "x24_training_corpus": sql_training_corpus(),
        "x8_sim_topk": SQL_SIM_TOPK,
        "x9_lsh_buckets": sql_lsh_buckets(),
        "x15_ivf_cells": SQL_IVF_CELLS,
        "x16_ivf_topk": SQL_IVF_TOPK,
        "x17_kmv_distinct": sql_kmv_distinct(),
        "x28_kmv_setops": sql_kmv_setops(),
        "x18_stratified_sample": sql_stratified_sample(),
        "x19_holdout_split": sql_holdout_split(),
        "x36_mixture_sample": sql_mixture_sample(),
        "x20_range_join": SQL_RANGE_JOIN,
        "x21_time_rollup": SQL_TIME_ROLLUP,
        "x25_bloom_semi": SQL_BLOOM_SEMI_JOIN,
        "x26_heavy_hitters": SQL_HEAVY_HITTERS,
        "x27_repetition": SQL_REPETITION_STATS,
        "j10_semi_anti": SQL_SEMI_ANTI_JOIN,
        "a9_cube": SQL_CUBE_AGG,
        "a10_window_funcs": SQL_WINDOW_FUNCS,
        "o2_set_ops": SQL_SET_OPS,
        "x10_media_meta": SQL_MEDIA_META,
        "x22_frame_sample": SQL_FRAME_SAMPLE,
        "x23_resize_batch": SQL_RESIZE_BATCH,
        "a11_pricing_summary": SQL_PRICING_SUMMARY,
        "a12_region_revenue": SQL_REGION_REVENUE,
        "a13_ship_priority": SQL_SHIP_PRIORITY,
        "a14_promo_revenue": SQL_PROMO_REVENUE,
        "a15_priority_orders": SQL_PRIORITY_ORDERS,
        "a16_large_orders": SQL_LARGE_ORDERS,
        "a17_brand_supplier_count": SQL_BRAND_SUPPLIER_COUNT,
        "a18_disjunctive_revenue": SQL_DISJUNCTIVE_REVENUE,
        "a19_rollup": SQL_ROLLUP_AGG,
        "a20_pivot": SQL_PIVOT_COUNTS,
        "a21_cheapest_supplier": SQL_CHEAPEST_SUPPLIER,
        "a22_idle_rich_customers": SQL_IDLE_RICH_CUSTOMERS,
        "a23_event_funnel": SQL_EVENT_FUNNEL,
        "a24_returned_revenue": SQL_RETURNED_REVENUE,
        "a25_late_shipment_priority": SQL_LATE_SHIPMENT_PRIORITY,
        "x29_quantile_sketch": sql_quantile_sketch(),
        "x30_salted_agg": SQL_SALTED_AGG,
        "x31_bm25_topk": sql_bm25_topk(),
        "x32_hybrid_search": sql_hybrid_search(),
        "x33_simsel_card": sql_simsel_card(),
        "x34_latest_per_key": SQL_LATEST_PER_KEY,
        "x35_profile": sql_profile_table(),
        "x11_near_dup": sql_near_dup(),
        "x12_incremental_counts": SQL_INCREMENTAL_COUNTS,
        "x13_dup_groups": SQL_DUP_GROUPS,
        "x14_asof_join": SQL_ASOF_JOIN,
        # randomized-but-seeded paths, checked via deterministic marginals
        # and oracle-recomputed truths (see _qerror_check_sql)
        "x37_decontam": SQL_DECONTAM,
        "x38_pii_scrub": SQL_PII_SCRUB,
        "a26_sole_late_supplier": SQL_SOLE_LATE_SUPPLIER,
        "a27_top_revenue_supplier": SQL_TOP_REVENUE_SUPPLIER,
        "a28_nation_revenue_share": SQL_NATION_REVENUE_SHARE,
        "x39_pack_sequences": SQL_PACK_SEQUENCES,
        "st9_stream_quantiles": sql_stream_quantiles(),
        "j4_join_sample": SQL_JOIN_SAMPLE,
        "e1_estimate_qerror": _qerror_check_sql(BENCH_QUERIES),
        "e2_nar_qerror": _qerror_check_sql(NAR_BENCH_QUERIES),
        "e3_nar_ur_qerror": _qerror_check_sql(BENCH_QUERIES),
        "e4_nar_cin_qerror": _qerror_check_sql(CIN_BENCH_QUERIES),
        "e5_perror": SQL_PERROR,
        "e6_jobm_qerror": SQL_JOBM_QERROR,
        "e7_trm_qerror": _qerror_check_sql(NAR_BENCH_QUERIES),
        "e8_search": _sql_grid_search(),
        "s2_stage_sinks": SQL_STAGE_SINKS,
        "s3_benchmark_csv": _sql_benchmark_csv(),
        "s5_jdbc_roundtrip": SQL_JDBC_ROUNDTRIP,
        "o3_stitch_chain": _qerror_check_sql(O3_BENCH_QUERIES),
        "o4_sampling_orderings": _sql_sampling_orderings(),
        "x40_curate_corpus": sql_curate_corpus(),
        "x41_kmeans_iter": SQL_KMEANS_ITER,
        "x42_ivf_indexed_topk": SQL_IVF_TOPK,
        "st10_stream_curate": sql_stream_curate(),
        "p10_timestamp_preds": SQL_TIMESTAMP_PREDS,
        "e9_subquery_truths": _sql_subquery_truths(),
        "e10_ppc_inject": _sql_ppc_inject(),
        "x43_substring_spans": SQL_SUBSTRING_SPANS,
        "x44_knn_classify": SQL_KNN_CLASSIFY,
        "x45_text_classifier": sql_text_classifier(),
        "x46_bpe_pairs": SQL_BPE_PAIRS,
        "e11_pg_plan_cost": _sql_pg_plan_cost(),
        "x53_dsir_select": SQL_DSIR_SELECT,
        "x54_gopher_rules": SQL_GOPHER_RULES,
        "x55_ccnet_bands": SQL_CCNET_BANDS,
        "x56_repetition_battery": SQL_REPETITION_BATTERY,
        "x57_temperature_mix": SQL_TEMPERATURE_MIX,
        "x58_canonical_dedup": SQL_CANONICAL_DEDUP,
        "st11_stream_dsir": SQL_STREAM_DSIR,
        "x59_line_dedup": SQL_LINE_DEDUP,
        "x60_incremental_neardup": SQL_INCREMENTAL_NEARDUP,
        # st12 streams the same shard split, so the x60 recomputation
        # is its exact oracle too
        "st12_stream_neardup": SQL_INCREMENTAL_NEARDUP,
        "x61_wav_decode": SQL_WAV_DECODE,
        "x63_png_decode": SQL_PNG_DECODE,
        "x64_png_downsample": SQL_PNG_DOWNSAMPLE,
        "x65_avi_decode": SQL_AVI_DECODE,
        "e12_asha_search": _sql_asha_search(),
        "e13_tpe_search": _sql_tpe_search(),
        "x66_video_thumbnail": SQL_VIDEO_THUMBNAIL,
        # the stream runs the same codec projections -> the batch PNG
        # oracle is exact for the drained stream
        "st13_stream_media": SQL_PNG_DECODE,
        "x67_unimax_plan": SQL_UNIMAX_PLAN,
        "e14_asha_async": _sql_asha_async(),
        "x68_bpe_apply": SQL_BPE_APPLY,
        "x91_bpe_apply_arrow": SQL_BPE_APPLY_ARROW,
        "s7_imdb_joblight": SQL_IMDB_SCHEMA_JOINSIZE,
        "x92_streaming_refresh": SQL_STREAMING_REFRESH,
        "e17_spark_search": _sql_grid_search(),
        "e18_spark_asha_async": SQL_SPARK_ASHA_ASYNC,
        "s8_single_table_datasets": SQL_SINGLE_TABLE_DATASETS,
        "x93_pq_drift": SQL_PQ_DRIFT,
        "x69_scd2_history": SQL_SCD2_HISTORY,
        "x70_hard_negatives": SQL_HARD_NEGATIVES,
        "x71_pagerank": _sql_pagerank(),
        "x72_edit_near_dup": SQL_EDIT_NEAR_DUP,
        "st14_stream_tokens": SQL_STREAM_TOKEN_ACCOUNT,
        # the merge's oracle IS the from-scratch build: bit-identical
        # incremental maintenance, the x62 pattern
        "x73_scd2_merge": SQL_SCD2_HISTORY,
        # exact algorithm ⇒ brute-force oracle certifies completeness
        "x74_allpairs_sim_join": SQL_ALLPAIRS_SIM_JOIN,
        "st15_stream_scd2": SQL_STREAM_SCD2,
        "x75_kneser_ney_ppl": SQL_KN_PPL,
        "x76_pmi_collocations": SQL_PMI_COLLOCATIONS,
        # append == full build under frozen centroids: the x16 oracle
        # applies verbatim (the x73 bit-identical-maintenance pattern)
        "x77_ivf_append_topk": SQL_IVF_TOPK,
        "x78_exact_neardup_groups": SQL_EXACT_NEARDUP_GROUPS,
        "x79_ann_recall": _sql_ann_recall(),
        "x80_event_anomalies": SQL_EVENT_ANOMALIES,
        "x81_ks_drift": SQL_KS_DRIFT,
        "x82_chisq_drift": SQL_CHISQ_DRIFT,
        "x83_pq_topk": SQL_PQ_TOPK,
        "x84_pq_rerank": SQL_PQ_RERANK,
        "x85_hll_distinct": sql_hll_distinct(),
        "x86_jl_project": sql_jl_project(),
        "st16_stream_dedup": SQL_STREAM_DEDUP,
        "x87_rolling_features": sql_rolling_features(),
        "x88_vocab_coverage": SQL_VOCAB_COVERAGE,
        "st17_stream_features": sql_stream_features(),
        "x89_robust_outliers": SQL_ROBUST_OUTLIERS,
        "x90_shard_plan": SQL_SHARD_PLAN,
        "e15_perror_robustness": SQL_PERROR_ROBUSTNESS,
        # the incremental merge must reproduce x13's from-scratch
        # closure bit for bit — same oracle
        "x62_incremental_components": SQL_DUP_GROUPS,
        "a29_volume_shipping": SQL_VOLUME_SHIPPING,
        "a30_product_profit": SQL_PRODUCT_PROFIT,
        "a31_market_share": SQL_MARKET_SHARE,
        "a32_order_count_dist": SQL_ORDER_COUNT_DIST,
        "a33_small_qty_revenue": SQL_SMALL_QTY_REVENUE,
        "a34_excess_shippers": SQL_EXCESS_SHIPPERS,
        "x47_semdedup": SQL_SEMDEDUP,
        "x48_pareto_sample": sql_pareto_sample(),
        "x49_token_budget": sql_token_budget(),
        "x50_perplexity_band": SQL_PERPLEXITY_BAND,
        "x51_chunk_docs": SQL_CHUNK_DOCS,
        "x52_bigram_ppl": SQL_BIGRAM_PPL,
    }
