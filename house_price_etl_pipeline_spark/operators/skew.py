"""Skew-handling join: explicit key salting.

AQE's skew-join splitting (on in `session.py`) handles most skew at
runtime, but it only splits partitions of an already-shuffled sort-merge
join. Salting is the plan-level tool for the pathological case — a
handful of hot keys (the power-law reality of user_id / doc-domain keys
in training-data pipelines) — and works for aggregations too. It trades
an R-fold replication of the small side for an even distribution of the
hot side:

  big side:    key → (key, salt = hash(row) % R)
  small side:  each row replicated R times, salt = 0..R-1
  join on (key, salt) — every (key, salt) bucket is ~1/R of the hot key.

R (`n_salts`) bounds the replication cost; choose ~ max-key-share x
partition count. Result is row-identical to the unsalted join (asserted
in tests/test_skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame, on: str,
                n_salts: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join ``big ⋈ small`` on column ``on`` with ``n_salts``-way
    salting of the big side. Returns the same columns as
    ``big.join(small, on, how)``.

    Only ``inner`` and ``left`` are supported: the small side is
    replicated once per salt, which is invisible to inner/left results
    (every small row that matches, matches exactly the salts the big rows
    carry) but would emit each UNMATCHED small-side row ``n_salts`` times
    under right/full outer. Use AQE skew-join for outer flavors."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left', got {how!r}: the "
            f"replicated small side would duplicate unmatched rows "
            f"{n_salts}x under right/full outer joins"
        )
    # pmod, not abs(...)%n: abs(Long.MIN_VALUE) overflows back to
    # MIN_VALUE, whose sign-following % yields a NEGATIVE salt the
    # replicated small side never carries — a silently dropped row
    # (2^-64 per row, but a correctness hole in a generic helper)
    salt = F.pmod(F.xxhash64(*big.columns), F.lit(n_salts)).cast("int")
    big_s = big.withColumn("_salt", salt)
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = big_s.join(small_s, [on, "_salt"], how)
    return out.drop("_salt")


# Catalog entry: the salted path under the driver's value-hash gate —
# salting must be result-invariant, so the oracle is the PLAIN join SQL.
from ..functions.numeric import dec_sum_expr, fixed_sum  # noqa: E402
from ..plans.catalog import register  # noqa: E402
from ..sources.tables import load_table  # noqa: E402


@register(
    "join_salted_skew",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_expr('o.o_totalprice')} AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def join_salted_skew(spark, sf_dir):
    """orders ⋈ customer through the salted path: the hot side spreads
    each key over 8 salt buckets, the small side replicates 8x — and the
    oracle is the PLAIN join, proving salting is a pure physical rewrite
    (identical result bits, value-hash checked)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey")
    joined = salted_join(o, c, on="o_custkey", n_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_rows"),
             fixed_sum("o_totalprice", 2).alias("sum_price"))
        .orderBy("c_mktsegment")
    )


@register(
    "join_bloom_runtime_filter",
    oracle=f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dec_sum_expr('l.l_extendedprice')} AS sum_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#13'
    GROUP BY p.p_brand
    """,
)
def join_bloom_runtime_filter(spark, sf_dir):
    """Runtime bloom-filter join pruning — the 100 TB mechanism for a
    selective dim filter that Catalyst can't push into the fact scan
    statically (l_partkey's qualifying set is only known after filtering
    part): Spark's InjectRuntimeFilter builds a bloom filter over the
    filtered dim keys (bloom_filter_agg) and inserts a might_contain()
    predicate on the fact side, so the big join input is pre-filtered
    BEFORE the shuffle — at scale this is the difference between
    shuffling 2% and 100% of a fact table. The query is built on a
    private session with broadcasting disabled (with a broadcast join
    Spark correctly skips the bloom: the hash table already prunes), so
    the join genuinely shuffles however the result is planned later,
    and the caller's session is never edited. Plan assertion
    (might_contain + bloom_filter_agg) lives in tests/test_plans.py;
    the oracle is the PLAIN join — the bloom is a pure physical
    rewrite, identical result bits."""
    from ..session import private_session

    own = private_session(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # local parquet files sit below the default 10GB application-side
        # gate that assumes cluster-scale scans; the bloom mechanism is
        # what's demonstrated, thresholds are deploy tuning
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    })
    li = load_table(own, sf_dir, "lineitem")
    p = load_table(own, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_rows"),
             fixed_sum("l_extendedprice", 2).alias("sum_price"))
    )
