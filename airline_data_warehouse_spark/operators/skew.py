"""Skew mitigation: salted aggregation and salted broadcast-side
replication join.

AQE's skew-join splitting handles most cases at runtime
(session.py enables it), but two shapes still need explicit salting at
100 TB: (a) a high-cardinality aggregate where one key holds a double-
digit percentage of all rows (the shuffle partition for that key becomes
the straggler), and (b) a shuffle join where the skewed side can't be
broadcast. Both helpers preserve exact semantics — results are identical
to the unsalted plan, verified by the registry oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salted_agg(df: DataFrame, key_cols: list[str],
               partial_aggs: list[Column], final_aggs: list[Column],
               n_salts: int = DEFAULT_SALT) -> DataFrame:
    """Two-stage aggregation: stage 1 groups by (key, random salt) so a
    hot key spreads over ``n_salts`` partitions; stage 2 re-aggregates
    the per-salt partials by key alone (n_salts rows per key — trivial).

    ``partial_aggs`` run in stage 1 (aliased), ``final_aggs`` combine the
    partial columns in stage 2 (referencing those aliases). Example:

        salted_agg(events, ["user_id"],
                   [F.count("*").alias("c"), F.sum("v").alias("s")],
                   [F.sum("c").alias("n"), F.sum("s").alias("total")])
    """
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    partial = salted.groupBy(*key_cols, "_salt").agg(*partial_aggs)
    return partial.groupBy(*key_cols).agg(*final_aggs)


def salted_join(skewed: DataFrame, small: DataFrame, key: str,
                n_salts: int = DEFAULT_SALT, how: str = "inner") -> DataFrame:
    """Skewed-side salting: the skewed table gets a random salt in
    [0, n_salts); the other side is replicated n_salts times (explode of
    a salt array) so every (key, salt) pair finds its match. Use when the
    small side is too big to broadcast but far smaller than the skewed
    side — replication costs |small| × n_salts."""
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    skewed_s = skewed.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    small_s = small.withColumn("_salt", F.explode(salts))
    out = skewed_s.join(small_s, [key, "_salt"], how)
    return out.drop("_salt")
