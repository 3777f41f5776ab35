"""The datasketches-server parity layer: every reference endpoint x family
(SURVEY.md section 2.1, operators #1-27) re-expressed as DataFrame ops.

Reference model (SketchStorage.java:49): named mutable sketches in a
process heap, updated item-at-a-time (UpdateHandler.java:72-94), merged
on demand (MergeHandler.java:82-138), queried as JSON
(DataQueryHandler.java:52-98).  Here a "named sketch" is a row of a
sketch-state DataFrame keyed by arbitrary group columns; update is
``groupBy().agg(<sketch_agg>)`` (Catalyst gives partial aggregation ==
the reference's mergeability for free), merge is ``*_union_agg`` at any
rollup level, query is a select of evaluator expressions.

Family tiers (SURVEY.md section 7.4 risk #2):

* theta / hll / kll -- Spark natives; binary images are Apache
  DataSketches compatible (serialize parity with
  SerializationHandler.java:53-107 via base64).
* cpc -- no Spark native; substituted by hll (same role: compact
  distinct count, no set ops).  Documented substitution, not a silent one.
* frequency -- exact weighted counts (groupBy + sum + top-k): strictly
  stronger than the reference's ItemsSketch at any scale Spark can hold
  the distinct item set; `count_min_sketch` offered as the sketched tier.
* reservoir -- bottom-k-by-hash over ROW identities (occurrence
  semantics: duplicate items sample with multiplicity, matching
  ReservoirItemsSketch's stream sampling, UpdateHandler.java:166-168);
  deterministic and mergeable (bottom-k of a union == bottom-k of
  concatenated bottom-k's).  Pass ``row_key_col`` (any unique row id)
  for occurrence semantics; without one the key derives from the item
  alone (distinct-item semantics, documented degradation).
* varopt -- Duffield-Lund-Thorup PRIORITY SAMPLING: priority q_i =
  w_i / u_i, keep the k largest, threshold tau = (k+1)-th priority,
  subset-sum estimator weight = max(w_i, tau).  Priority sampling is
  the published near-optimal subset-sum sample (the role VarOpt plays
  in the reference, DataQueryHandler.java:349-361) built entirely from
  exactly-rounded IEEE ops (division, comparison, max) -- so the DuckDB
  oracle replays it bit-identically; no logarithms (libm ln is not
  correctly rounded and differs across engines).

All sampling randomness comes from functions/portable.py's u01 (md5
based) -- deterministic across runs, executors, resume, and engines.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import SketchConfig
from .portable import u01

DISTINCT_FAMILIES = ("theta", "hll", "cpc")  # SketchStorage.java:56-58


# ---------------------------------------------------------------------------
# /update  (UpdateHandler.java:97-282, ops #1-8)
# ---------------------------------------------------------------------------

def sketch_update(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    family: str,
    cfg: SketchConfig = SketchConfig(),
    weight_col: str | None = None,
    row_key_col: str | None = None,
) -> DataFrame:
    """Stream items into per-group sketch state (the /update endpoint).

    Returns one row per group with a ``sketch`` column (BINARY for
    theta/hll/cpc/kll) or exact/sample state for the non-native families.

    row_key_col: a unique row identity column for the sampling families
    (reservoir/varopt).  With it, sampling has the reference's
    occurrence semantics (duplicate items sample with multiplicity,
    UpdateHandler.java:166-185); without it the key derives from the
    item value alone (distinct-item semantics).
    """
    g = df.groupBy(*group_cols) if group_cols else df.groupBy()
    if family == "theta":
        return g.agg(F.theta_sketch_agg(item_col, cfg.theta_lg_k).alias("sketch"))
    if family in ("hll", "cpc"):  # cpc substituted by hll (documented)
        return g.agg(F.hll_sketch_agg(item_col, cfg.hll_lg_k).alias("sketch"))
    if family == "kll":
        return g.agg(
            F.kll_sketch_agg_float(F.col(item_col).cast("float"), cfg.kll_k).alias("sketch")
        )
    if family == "frequency":
        w = F.col(weight_col) if weight_col else F.lit(1.0)  # bare item -> weight 1
        keys = [*group_cols, item_col]
        return df.groupBy(*keys).agg(F.sum(w).cast("double").alias("weight"))
    if family == "reservoir":
        return _bottom_k_sample(df, group_cols, item_col, cfg.sample_k, row_key_col)
    if family == "varopt":
        if weight_col is None:
            df = df.withColumn("_w", F.lit(1.0))
            weight_col = "_w"
        return _priority_sample(df, group_cols, item_col, weight_col, cfg.sample_k, row_key_col)
    raise ValueError(f"unknown family {family!r}")


def _sample_u(item_col: str, row_key_col: str | None, salt: str) -> Column:
    """Deterministic uniform (0,1] driving the sampling families --
    portable md5 arithmetic (functions/portable.py) so the DuckDB oracle
    replays the exact sample."""
    return u01(F.col(row_key_col if row_key_col else item_col), salt=salt)


def _bottom_k_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    k: int,
    row_key_col: str | None = None,
) -> DataFrame:
    """Bottom-k-by-key uniform sample per group.

    Mergeable by construction: bottom-k of a union == bottom-k of the
    concatenated bottom-k's (ReservoirItemsUnion analog,
    MergeHandler.java:330-346); the ``sample`` column keeps the keys so
    sketch_merge can re-take the k smallest after a union.
    """
    keyed = df.withColumn("_key", _sample_u(item_col, row_key_col, "res|"))
    w = Window.partitionBy(*[F.col(c) for c in group_cols] or [F.lit(1)]).orderBy(
        "_key", item_col
    )
    g = keyed.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    base = g.groupBy(*group_cols) if group_cols else g.groupBy()
    tot = df.groupBy(*group_cols) if group_cols else df.groupBy()
    totals = tot.agg(F.count("*").cast("long").alias("stream_n"))
    out = base.agg(
        F.sort_array(F.collect_list(F.struct("_key", F.col(item_col).alias("item")))).alias("sample")
    ).select(
        *group_cols, "sample", F.transform("sample", lambda s: s["item"]).alias("items")
    )
    return out.join(totals, list(group_cols)) if group_cols else out.crossJoin(totals)


def _priority_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    weight_col: str,
    k: int,
    row_key_col: str | None = None,
) -> DataFrame:
    """Duffield-Lund-Thorup priority sample (varopt analog): priority
    q_i = w_i/u_i, keep the k largest == keep the k smallest keys
    u_i/w_i.  The state retains k+1 entries so the threshold
    tau = (k+1)-th priority survives merging: bottom-(k+1) of a union
    of bottom-(k+1)'s is the global bottom-(k+1)."""
    keyed = df.withColumn(
        "_key", _sample_u(item_col, row_key_col, "vo|") / F.col(weight_col).cast("double")
    )
    w = Window.partitionBy(*[F.col(c) for c in group_cols] or [F.lit(1)]).orderBy(
        "_key", item_col
    )
    g = keyed.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k + 1)
    base = g.groupBy(*group_cols) if group_cols else g.groupBy()
    tot = df.groupBy(*group_cols) if group_cols else df.groupBy()
    totals = tot.agg(
        F.sum(F.col(weight_col).cast("double")).alias("stream_weight"),
        F.count("*").cast("long").alias("stream_n"),
    )
    out = base.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "_key",
                    F.col(item_col).alias("item"),
                    F.col(weight_col).cast("double").alias("weight"),
                )
            )
        ).alias("sample")
    ).select(
        *group_cols,
        "sample",
        F.transform(
            F.slice("sample", 1, k),
            lambda s: F.struct(s["item"].alias("item"), s["weight"].alias("weight")),
        ).alias("items"),
    )
    return out.join(totals, list(group_cols)) if group_cols else out.crossJoin(totals)


def query_sampling(state: DataFrame, family: str, k: int) -> DataFrame:
    """Sampling query (op #13, DataQueryHandler.java:324-375): exploded
    sample rows.  For varopt, attaches the priority-sampling subset-sum
    estimator weight max(w_i, tau) with tau = the (k+1)-th priority
    (exact mode: stream shorter than k+1 -> tau = 0 -> weight = w_i).
    """
    cols = [c for c in state.columns if c not in ("sample", "items")]
    if family == "reservoir":
        return state.select(
            *cols, F.explode(F.transform("sample", lambda s: s["item"])).alias("item")
        )
    if family == "varopt":
        kth = F.element_at("sample", k + 1)
        tau = F.when(F.size("sample") > k, 1.0 / kth["_key"]).otherwise(F.lit(0.0))
        sampled = state.withColumn("tau", tau).withColumn(
            "_s", F.explode(F.slice("sample", 1, k))
        )
        return sampled.select(
            *cols,
            F.col("_s.item").alias("item"),
            F.col("_s.weight").alias("weight"),
            F.greatest(F.col("_s.weight"), F.col("tau")).alias("adjusted_weight"),
            "tau",
        )
    raise ValueError(f"{family!r} is not a sampling family")


# ---------------------------------------------------------------------------
# /merge  (MergeHandler.java:238-369, ops #14-21)
# ---------------------------------------------------------------------------

def sketch_merge(
    state: DataFrame,
    family: str,
    group_cols: Sequence[str] = (),
    cfg: SketchConfig = SketchConfig(),
) -> DataFrame:
    """Union per-group sketch state up to coarser groups (or globally).

    This is the distributable final-agg the reference performs serially
    (MergeHandler.java:82-138); Catalyst runs it partial+final."""
    g = state.groupBy(*group_cols) if group_cols else state.groupBy()
    if family == "theta":
        return g.agg(F.theta_union_agg("sketch", cfg.theta_lg_k).alias("sketch"))
    if family in ("hll", "cpc"):
        return g.agg(F.hll_union_agg("sketch", True).alias("sketch"))
    if family == "kll":
        return g.agg(F.kll_merge_agg_float("sketch", cfg.kll_k).alias("sketch"))
    if family == "frequency":
        item_cols = [c for c in state.columns if c not in group_cols and c != "weight"]
        return state.groupBy(*group_cols, *item_cols).agg(
            F.sum("weight").cast("double").alias("weight")
        )
    if family in ("reservoir", "varopt"):
        # union of bottom-k samples -> re-take the k smallest keys
        # (ReservoirItemsUnion / VarOptItemsUnion analog,
        # MergeHandler.java:330-364); valid because the hash keys are a
        # global total order over the stream.  varopt retains k+1 so the
        # DLT threshold tau survives merging (see _priority_sample).
        k = cfg.sample_k
        keep = k if family == "reservoir" else k + 1
        total_cols = [c for c in ("stream_n", "stream_weight") if c in state.columns]
        merged = state.groupBy(*group_cols) if group_cols else state.groupBy()
        merged = merged.agg(
            F.slice(F.sort_array(F.flatten(F.collect_list("sample"))), 1, keep).alias("sample"),
            *[F.sum(c).alias(c) for c in total_cols],
        )
        if family == "reservoir":
            items = F.transform("sample", lambda s: s["item"])
        else:
            items = F.transform(
                F.slice("sample", 1, k),
                lambda s: F.struct(s["item"].alias("item"), s["weight"].alias("weight")),
            )
        return merged.select(*group_cols, "sample", items.alias("items"), *total_cols)
    raise ValueError(f"merge not supported for family {family!r}")


def theta_set_ops(a: Column, b: Column) -> dict[str, Column]:
    """Set operations the theta library supports; union is the only one
    the reference exposes (MergeHandler.java:244-262), intersection and
    difference exceed parity (SURVEY.md section 2.2)."""
    return {
        "union": F.theta_sketch_estimate(F.theta_union(a, b)),
        "intersection": F.theta_sketch_estimate(F.theta_intersection(a, b)),
        "difference": F.theta_sketch_estimate(F.theta_difference(a, b)),
    }


# ---------------------------------------------------------------------------
# /query  (DataQueryHandler.java:52-375, ops #9-13)
# ---------------------------------------------------------------------------

def query_distinct(
    state: DataFrame, family: str, cfg: SketchConfig = SketchConfig()
) -> DataFrame:
    """Distinct-count query (op #10): estimate, estimationMode, +/-1/2/3
    stddev bounds.

    Spark exposes no bound evaluators, so bounds use the published
    analytic RSE (theta: 1/sqrt(k-1) in estimation mode; hll: 1.04/sqrt(m))
    -- the 'analytic tier' noted in SURVEY.md #10.  In exact mode
    (theta below nominal entries) bounds collapse to the estimate,
    matching the reference's behavior for small streams.

    Why not sketch-native bounds from the binary (the reference calls
    getLower/UpperBound, DataQueryHandler.java:131-162): Spark 4 emits
    *compressed* compact theta images (serial version 4), whose retained
    count/theta fields are not at fixed offsets -- parsing them is
    format-fragile, and for a quickselect sketch in estimation mode the
    library's bound is itself the ~1/sqrt(k-1) RSE of a full sketch, so
    the analytic tier matches it wherever the regime gate (exact vs
    estimation) is decided correctly.
    """
    if family == "theta":
        est = "theta_sketch_estimate(sketch)"
        k = 2**cfg.theta_lg_k
        rse = 1.0 / math.sqrt(k - 1)
        exact_below = float(k)
    elif family in ("hll", "cpc"):
        est = "hll_sketch_estimate(sketch)"
        rse = 1.04 / math.sqrt(2**cfg.hll_lg_k)
        # HLL is exact while the sketch is still in coupon (LIST/SET)
        # mode; the reference then reports estimation_mode=false and
        # collapsed bounds (DataQueryHandler.java:144-162).  Spark
        # exposes no mode flag, so gate WELL below the analytic
        # promotion point (~k/4 coupons for HLL_4): k/8 keeps a 2x
        # margin so an estimation-mode sketch whose estimate dips near
        # the boundary is never reported exact with collapsed bounds
        # (coverage property-tested across n in {k/8..4k} in
        # tests/test_sketches.py::test_hll_bounds_coverage_across_boundary).
        exact_below = float(2**cfg.hll_lg_k) / 8.0
    else:
        raise ValueError(f"{family!r} is not a distinct-counting family")
    # one SQL select list, parsed in a single py4j call: the later items
    # read the estimate through lateral column aliases, so the sketch is
    # evaluated once
    cols = ["`" + c.replace("`", "``") + "`" for c in state.columns if c != "sketch"]
    sel = [
        *cols,
        f"CAST({est} AS DOUBLE) AS estimate",
        f"NOT (estimate < {exact_below!r}D) AS estimation_mode",
    ]
    for z in (1, 2, 3):
        for side, f in (("lb", 1 - z * rse), ("ub", 1 + z * rse)):
            sel.append(f"IF(estimation_mode, estimate * {f!r}D, estimate) AS {side}_{z}")
    return state.selectExpr(*sel)


def query_quantiles(
    state: DataFrame,
    fractions: Sequence[float] = (0.25, 0.5, 0.75),
    split_points: Sequence[float] = (),
    result_type: str = "cdf",
) -> DataFrame:
    """KLL quantile query (op #11): estimatedQuantiles for the given
    ranks, estimatedCDF/PMF over split points, streamLength, min/max.

    PMF is the first difference of the CDF (DataQueryHandler.java:238-256,
    whose trailing bucket is the mass above the last split point)."""
    cols = [c for c in state.columns if c != "sketch"]
    fr = F.array(*[F.lit(float(x)) for x in fractions])
    out = state.select(
        *cols,
        F.kll_sketch_get_quantile_float("sketch", fr).alias("quantiles"),
        F.kll_sketch_get_n_float("sketch").alias("stream_length"),
        F.kll_sketch_get_quantile_float("sketch", F.lit(0.0)).alias("min_value"),
        F.kll_sketch_get_quantile_float("sketch", F.lit(1.0)).alias("max_value"),
    )
    if split_points:
        sp = F.array(*[F.lit(float(x)) for x in split_points])
        cdf = F.kll_sketch_get_rank_float(state["sketch"], sp)
        out = state.select(
            *cols,
            F.kll_sketch_get_quantile_float("sketch", fr).alias("quantiles"),
            F.kll_sketch_get_n_float("sketch").alias("stream_length"),
            F.kll_sketch_get_quantile_float("sketch", F.lit(0.0)).alias("min_value"),
            F.kll_sketch_get_quantile_float("sketch", F.lit(1.0)).alias("max_value"),
            cdf.alias("cdf"),
        )
        if result_type == "pmf":
            # first difference + trailing bucket (mass above last split)
            n = F.size("cdf")
            pmf = F.concat(
                F.array(F.element_at("cdf", 1)),
                F.transform(
                    F.sequence(F.lit(2), n),
                    lambda i: F.element_at("cdf", i.cast("int")) - F.element_at("cdf", (i - 1).cast("int")),
                ),
                F.array(F.lit(1.0) - F.element_at("cdf", -1)),
            )
            out = out.withColumn("pmf", pmf)
    return out


def query_frequency(
    state: DataFrame,
    group_cols: Sequence[str] = (),
    top_k: int | None = None,
    cfg: SketchConfig = SketchConfig(),
) -> DataFrame:
    """Heavy hitters (op #12).  Exact counts => upper == lower == estimate,
    which matches the reference's exact-mode output shape
    (README.md:226-248); the noFalsePositives/noFalseNegatives errorType
    distinction vanishes (SURVEY.md #12)."""
    k = top_k or cfg.frequency_top_k
    item_cols = [c for c in state.columns if c not in group_cols and c != "weight"]
    w = Window.partitionBy(*[F.col(c) for c in group_cols] or [F.lit(1)]).orderBy(
        F.desc("weight"), *item_cols
    )
    return (
        state.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            *group_cols,
            *item_cols,
            F.col("weight").alias("estimate"),
            F.col("weight").alias("lower_bound"),
            F.col("weight").alias("upper_bound"),
            F.col("_rn").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# /serialize  (SerializationHandler.java:53-107, op #23)
# ---------------------------------------------------------------------------

def serialize_sketch(state: DataFrame, family: str) -> DataFrame:
    """base64 image of the sketch binary.  theta/hll/kll binaries are
    Apache DataSketches format-compatible, so these images interoperate
    with the reference's /merge base64 inputs (MergeHandler.java:203-235)."""
    cols = [c for c in state.columns if c != "sketch"]
    return state.select(*cols, F.lit(family).alias("family"), F.base64("sketch").alias("image"))


def deserialize_sketch(df: DataFrame, image_col: str = "image") -> DataFrame:
    return df.withColumn("sketch", F.unbase64(image_col))


# ---------------------------------------------------------------------------
# /status + /reset  (StatusHandler.java:34-36, ResetHandler.java:43-83)
# ---------------------------------------------------------------------------

def sketch_status(state: DataFrame, family: str, group_cols: Sequence[str]) -> DataFrame:
    """List configured sketch state (op #25): one row per named sketch."""
    return state.select(
        F.concat_ws("/", *[F.col(c).cast("string") for c in group_cols]).alias("name"),
        F.lit(family).alias("family"),
    ).orderBy("name")
# /reset (op #24) is INSERT OVERWRITE of the state table partition --
# see plans/lineage.py reset_stage(); sketches are recomputed from data,
# never mutated in place.
