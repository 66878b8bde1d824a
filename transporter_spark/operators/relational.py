"""Scale utilities for the relational surface: skew-aware aggregation
and salted joins.

AQE's skew-join splitting handles most cases at runtime; these
explicit tools are for the cases AQE can't see — a groupBy whose
reduce-side explodes on one hot key, or a deliberate two-stage
aggregation pattern.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transporter_spark.registry import register


def salted_sum(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-proof two-stage sum+count per key: partial-agg on
    (keys, salt) spreads a hot key over `salt_buckets` reducers, then a
    second agg merges partials. Result: keys..., sum_<col>, n.

    Note: built-in hash aggregation already combines map-side, which
    de-skews low-cardinality hot keys for free; salting matters when
    the hot key's rows arrive pre-shuffled on too few partitions (e.g.
    after a join on the same key) — or for high-cardinality aggs where
    the combine can't compress (collect_list-like)."""
    salted = df.withColumn("_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(
        F.sum(value_col).alias("_ps"), F.count("*").alias("_pn")
    )
    return partial.groupBy(*keys).agg(
        F.sum("_ps").alias(f"sum_{value_col}"), F.sum("_pn").alias("n")
    )


@register("salted_sum")
def salted_sum_op(keys: Sequence[str], value_col: str, salt_buckets: int = 16):
    def apply(df: DataFrame) -> DataFrame:
        return salted_sum(df, keys, value_col, salt_buckets)

    return apply


def broadcast_dim_join(
    fact: DataFrame, dims: List[tuple], how: str = "inner"
) -> DataFrame:
    """Join a fact table against N small dimensions, all broadcast:
    dims = [(dim_df, join_expr), ...]. The fact side never shuffles."""
    out = fact
    for dim, cond in dims:
        out = out.join(F.broadcast(dim), cond, how)
    return out


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join for when AQE can't save you: the fact side
    salts its key into `salt_buckets` sub-keys, the dim side replicates
    each row once per bucket, and the join runs on (key, salt) — a hot
    fact key's rows land on `salt_buckets` reducers instead of one.

    When to use over alternatives (the decision AQE makes for you when
    it can): broadcast beats this whenever dim fits in memory; AQE
    skew-split beats it when the skew is visible in shuffle stats at
    runtime. Salting is for the remaining case — dim too big to
    broadcast AND the skew introduced upstream of the final exchange
    (e.g. the fact side arrives pre-partitioned on the hot key, so no
    single exchange shows the imbalance). Cost: dim shuffles
    `salt_buckets`x its size; fact pays nothing extra.

    Only `how='inner'`/'left' are meaningful (dim replication makes
    right/full-side null-extension ambiguous).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins only")
    f = fact.withColumn("_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = f.join(d, [key, "_salt"], how)
    return out.drop("_salt")
