"""Property scalers (gds.scaleProperties).

Reference: scaling-utils/src/main/java/org/neo4j/gds/scaling/
  MinMax.java:97  (v - min) / (max - min)
  Mean.java:49    (v - avg) / (max - min)
  Max.java:47     v / max(|v|)
  Center.java:47  v - avg
  L1Norm.java:90  v / sum(|v|)
  L2Norm.java:51  v / sqrt(sum(v^2))
  LogScaler.java:44  ln(v + offset)
  StdScore.java:50   (v - avg) / std      (population std, StdScore.java:86-91)
Degenerate ranges (|max-min| ~ 0 etc.) scale to 0, matching the reference's
ZeroScaler fallback (MinMax.java:86-88).

Spark shape: one global agg (a single reduce of 2-3 doubles, broadcast back
as a literal crossJoin) + one projection -- both whole-stage codegen'd, no
Python, no shuffle of the data itself. At 100 TB the agg is a map-side
partial aggregate; the projection is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CLOSE_TO_ZERO = 1e-15

SCALERS = ("minmax", "mean", "max", "center", "l1norm", "l2norm", "log", "stdscore")


def scale_property(
    df: DataFrame,
    value_col: str,
    scaler: str,
    id_col: str = "id",
    out_col: str | None = None,
    log_offset: float = 0.0,
) -> DataFrame:
    """(id, <out_col>): scaled value per row. One global agg + one projection."""
    out = out_col or f"{value_col}_{scaler}"
    v = F.col(value_col).cast("double")
    stats_exprs = {
        "minmax": [F.min(v).alias("_min"), F.max(v).alias("_max")],
        "mean": [F.min(v).alias("_min"), F.max(v).alias("_max"), F.avg(v).alias("_avg")],
        "max": [F.max(F.abs(v)).alias("_maxabs")],
        "center": [F.avg(v).alias("_avg")],
        "l1norm": [F.sum(F.abs(v)).alias("_l1")],
        "l2norm": [F.sqrt(F.sum(v * v)).alias("_l2")],
        "log": [],
        "stdscore": [F.avg(v).alias("_avg"),
                     F.sum(v).alias("_sum"),
                     F.sum(v * v).alias("_sq"),
                     F.count(v).alias("_n")],
    }
    if scaler not in stats_exprs:
        raise ValueError(f"unknown scaler {scaler!r}; one of {SCALERS}")

    if scaler == "log":
        return df.select(F.col(id_col).alias("id"),
                         F.log(v + F.lit(log_offset)).alias(out))

    s = df.agg(*stats_exprs[scaler]).collect()[0].asDict()
    zero = F.lit(0.0)
    if scaler == "minmax":
        diff = s["_max"] - s["_min"]
        expr = zero if abs(diff) < CLOSE_TO_ZERO else (v - F.lit(s["_min"])) / F.lit(diff)
    elif scaler == "mean":
        diff = s["_max"] - s["_min"]
        expr = zero if abs(diff) < CLOSE_TO_ZERO else (v - F.lit(s["_avg"])) / F.lit(diff)
    elif scaler == "max":
        m = s["_maxabs"] or 0.0
        expr = zero if abs(m) < CLOSE_TO_ZERO else v / F.lit(m)
    elif scaler == "center":
        expr = v - F.lit(s["_avg"])
    elif scaler == "l1norm":
        l1 = s["_l1"] or 0.0
        expr = zero if abs(l1) < CLOSE_TO_ZERO else v / F.lit(l1)
    elif scaler == "l2norm":
        l2 = s["_l2"] or 0.0
        expr = zero if abs(l2) < CLOSE_TO_ZERO else v / F.lit(l2)
    else:  # stdscore: population variance = (sum(v^2) - avg*sum(v)) / n
        var = (s["_sq"] - s["_avg"] * s["_sum"]) / s["_n"] if s["_n"] else 0.0
        std = var ** 0.5 if var > 0 else 0.0
        expr = zero if std < CLOSE_TO_ZERO else (v - F.lit(s["_avg"])) / F.lit(std)
    return df.select(F.col(id_col).alias("id"), expr.alias(out))
