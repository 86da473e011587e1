"""Blocked fuzzy record linkage as a reusable operator.

Classic entity resolution: blocking turns the O(N²) all-pairs
edit-distance into an equi-join whose quadratic lives only inside each
block; the blocking key (extra equality columns + a name prefix) is
part of the operator contract, so oracles mirror it exactly.  Catalyst
extracts the equality conjuncts into join keys and folds the `<`
ordering, the length filter and the edit-distance threshold into the
join condition — a salted sort-merge join, no nested loop (plan-pinned
in tests/test_plans.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocked_fuzzy_pairs(
    df: DataFrame,
    *,
    key_col: str,
    name_col: str,
    block_cols: Sequence[str] = (),
    prefix_len: int = 14,
    max_dist: int = 2,
) -> DataFrame:
    """Candidate pairs within (block_cols × name prefix) blocks at
    Levenshtein ≤ ``max_dist``; each unordered pair appears once
    (left_key < right_key).  Output: (left_key, right_key, left_name,
    right_name, edit_dist), in no particular order."""
    # SALTED pair join (dedup.block_pairs): the edit-distance work is
    # Σ block², and hashing by block key alone lands each whole
    # block's quadratic on ONE task — the r11 skewed-corpus probe
    # measured 7.05× (9.9 s → 70 s at sf1) when 3% of customers share
    # a single (nation, 14-char surname prefix) block.  At 100 TB the
    # hot block is the expected shape (real name distributions are
    # power-law), so the salt is unconditional.
    #
    # shuffle_merge forbids broadcasting the replicated side: its
    # Catalyst size estimate predates the salt explode (a 3 MB
    # customer scan reads as broadcastable while the exploded
    # relation is 32× that), and the planner's broadcast build of the
    # replicated table is exactly what the 4 GB memory-pressure tier
    # killed (notEnoughMemoryToBuildAndBroadcastTableError at sf5).  A
    # merge join sorts and SPILLS both sides, so the plan survives any
    # heap and any scale; the sort cost is on light (key, name, block)
    # rows.
    from core2_spark.dedup import block_pairs

    keyed = df.withColumn("_pfx", F.substring(F.col(name_col), 1, prefix_len))
    pairs = block_pairs(
        keyed, key_col, ("_pfx", *block_cols), (name_col,), "shuffle_merge"
    )
    a_name, b_name = F.col(f"a_{name_col}"), F.col(f"b_{name_col}")
    # exact filter before the O(len²) edit distance: names whose
    # lengths differ by more than max_dist are farther apart than
    # that; the bounded levenshtein stops at max_dist (-1 past it)
    dist = F.levenshtein(a_name, b_name, max_dist)
    return (
        pairs.filter(
            (F.abs(F.length(a_name) - F.length(b_name)) <= max_dist) & (dist >= 0)
        )
        .select(
            F.col("a_id").alias("left_key"),
            F.col("b_id").alias("right_key"),
            a_name.alias("left_name"),
            b_name.alias("right_name"),
            dist.cast("int").alias("edit_dist"),
        )
    )


def blocked_fuzzy_oracle_sql(
    *,
    table: str,
    key_col: str,
    name_col: str,
    block_cols: Sequence[str] = (),
    prefix_len: int = 14,
    max_dist: int = 2,
) -> str:
    """DuckDB mirror of :func:`blocked_fuzzy_pairs`."""
    block_conds = "".join(
        f" AND a.{c} = b.{c}" for c in block_cols
    )
    return f"""
    SELECT a.{key_col} AS left_key,
           b.{key_col} AS right_key,
           a.{name_col} AS left_name,
           b.{name_col} AS right_name,
           CAST(levenshtein(a.{name_col}, b.{name_col}) AS INTEGER) AS edit_dist
    FROM {table} a
    JOIN {table} b
      ON substr(a.{name_col}, 1, {prefix_len}) = substr(b.{name_col}, 1, {prefix_len})
     AND a.{key_col} < b.{key_col}{block_conds}
    WHERE levenshtein(a.{name_col}, b.{name_col}) <= {max_dist}
    ORDER BY left_key, right_key
    """
