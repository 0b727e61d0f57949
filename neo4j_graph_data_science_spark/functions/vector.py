"""Vector similarity scalar functions (reference section 2.5: gds.similarity.*).

All Catalyst-native Column expressions over array columns -- no Python UDFs:
F.zip_with + F.aggregate stay inside whole-stage codegen. Mirrors
gds.similarity.{cosine,jaccard,overlap,euclidean,euclideanDistance,pearson}
(proc/.../UserFunctions); inputs are array<numeric> columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL (sorts last in any
    # similarity ranking) instead of an ANSI DIVIDE_BY_ZERO error
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def euclidean_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over array elements (gds.similarity.jaccard)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def overlap(a: Column, b: Column) -> Column:
    """|A n B| / min(|A|,|B|) (gds.similarity.overlap)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    mn = F.least(F.size(F.array_distinct(a)), F.size(F.array_distinct(b))).cast("double")
    return F.when(mn > 0, inter / mn).otherwise(F.lit(0.0))


def pearson(a: Column, b: Column) -> Column:
    n = F.size(a).cast("double")
    ma = dot(a, F.transform(a, lambda _: F.lit(1.0))) / n
    mb = dot(b, F.transform(b, lambda _: F.lit(1.0))) / n
    ca = F.transform(a, lambda x: x.cast("double") - ma)
    cb = F.transform(b, lambda x: x.cast("double") - mb)
    return dot(ca, cb) / (norm(ca) * norm(cb))
