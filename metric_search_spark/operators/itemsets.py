"""Frequent-itemset mining — level-wise Apriori (Agrawal & Srikant 1994),
the market-basket staple: find every itemset contained in at least
``num/den`` of the baskets.

Scale shape (r5 — the fully-relational k-way-join Apriori of
Sarawagi/Thomas/Agrawal 1998, replacing the r4 broadcast nested-loop):
the engine maintains a distributed CONTAINMENT table Tk = one row per
(basket, frequent k-itemset contained in it). T1 is the distinct
(basket, item) table semi-joined to the frequent items; Tk+1 = Tk
equi-joined to T1 ON THE BASKET KEY with ``item > last(itemset)`` (sorted
extension ⇒ unique candidates), so support counting is a plain
map-side-combined groupBy over Tk+1 — candidate generation and counting
are the same join, there is no driver-side candidate list, no broadcast
nested loop, and every shuffle is an equi-join on the basket key or an
aggregate on the itemset key. Each level keeps only rows whose itemset
survived the threshold (broadcast semi-join against the tiny frequent
set) before extending. The Apriori property applied is prefix+item
frequency — exactly the candidate set the r4 code generated, so results
are identical. |Tk| = Σ_b #(frequent k-subsets ⊆ b): bounded by the real
containment structure rather than |candidates|·|baskets| subset tests.

Determinism: support thresholds compare as INTEGER cross-multiplications
(support·den ≥ n_baskets·num) — no float fraction ever enters, so the
DuckDB twin (a fully independent bitmask enumeration over the global item
vocabulary, no level-wise join at all) matches exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["apriori"]


def apriori(
    items: DataFrame,
    *,
    basket_cols: list[str],
    item_col: str = "item",
    min_support_num: int = 1,
    min_support_den: int = 20,
    max_size: int = 3,
) -> DataFrame:
    """``items``: one row per (basket, item) — duplicates allowed (they are
    collapsed; support is basket-level containment). Returns
    (itemset, k, support) for every itemset of size ≤ ``max_size`` with
    support·den ≥ n_baskets·num, itemset rendered as the comma-joined
    sorted items.

    Driver actions: one count() for the threshold and one small collect of
    the per-level FREQUENT sets (the mining result itself — needed both
    for loop termination and as the broadcast survivor filter); basket and
    containment rows never leave the cluster."""
    if min_support_num < 1 or min_support_den < 1:
        raise ValueError("min support fraction must be positive")
    sp = items.sparkSession
    distinct = (
        items.select(*basket_cols, F.col(item_col).alias("_item"))
        .distinct()
        .localCheckpoint(eager=True)  # re-scanned once per level (T1 side)
    )
    n = distinct.select(*basket_cols).distinct().count()
    if n == 0:
        return sp.createDataFrame([], "itemset string, k int, support long")
    frequent = F.col("support") * min_support_den >= n * min_support_num

    # L1: frequent single items — thresholded in Spark, so only the
    # frequent ones reach the driver
    l1_rows = (
        distinct.groupBy("_item")
        .agg(F.count("*").alias("support"))
        .where(frequent)
        .collect()
    )
    freq1 = sorted((r["_item"], int(r["support"])) for r in l1_rows)
    out_frames: list[tuple[str, int, int]] = [
        (it, 1, sup) for it, sup in freq1
    ]
    if not freq1 or max_size < 2:
        return sp.createDataFrame(
            out_frames or [], "itemset string, k int, support long"
        )
    freq_items_df = F.broadcast(
        sp.createDataFrame([(it,) for it, _ in freq1], "_item string")
    )
    t1 = distinct.join(freq_items_df, "_item").select(
        *basket_cols, F.col("_item")
    )
    # containment table T1: (basket, [item], last=item)
    tk = t1.select(
        *basket_cols,
        F.array("_item").alias("_set"),
        F.col("_item").alias("_last"),
    )
    ext = t1.select(*basket_cols, F.col("_item").alias("_ext"))
    k = 2
    while k <= max_size:
        tk1 = (
            tk.join(ext, basket_cols)
            .where(F.col("_ext") > F.col("_last"))
            .select(
                *basket_cols,
                F.concat(F.col("_set"), F.array("_ext")).alias("_set"),
                F.col("_ext").alias("_last"),
            )
        )
        counted = (
            tk1.groupBy("_set")
            .agg(F.count("*").alias("support"))
            .where(frequent)
            .collect()
        )
        level = sorted((tuple(r["_set"]), int(r["support"])) for r in counted)
        if not level:
            break
        out_frames.extend((",".join(s), len(s), sup) for s, sup in level)
        if k == max_size:
            break
        surv = F.broadcast(
            sp.createDataFrame(
                [(list(s),) for s, _ in level], "_set array<string>"
            )
        )
        tk = tk1.join(surv, "_set").select(
            *basket_cols, "_set", "_last"
        ).localCheckpoint(eager=True)
        k += 1
    return sp.createDataFrame(
        out_frames or [], "itemset string, k int, support long"
    )
