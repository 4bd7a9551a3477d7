"""Seeded input generators.

Every generator is hash arithmetic over ``spark.range``: a row's values
depend only on its id and the seed, so the same seed gives byte-identical
inputs at any parallelism, and another seed gives a different graph of the
same shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: size of the hub set that every tenth edge points into (heavy-hitter skew)
HUB_VERTICES = 1000
SUBJECTS = 8


def _h(seed: int, salt: int):
    return F.xxhash64("id", F.lit(seed), F.lit(salt))


def hub_graph(
    spark: SparkSession, n_edges: int, n_vertices: int, seed: int
) -> DataFrame:
    """Directed (src int, dst int) edges: about 90% uniform endpoints, and
    every tenth edge pointed at the first ``HUB_VERTICES`` ids.  Self-loops
    are dropped, so the result has slightly fewer than ``n_edges`` rows."""
    dst = _h(seed, 2)
    return spark.range(n_edges).select(
        F.pmod(_h(seed, 1), F.lit(n_vertices)).cast("int").alias("src"),
        F.when(F.col("id") % 10 == 0, F.pmod(dst, F.lit(HUB_VERTICES)))
        .otherwise(F.pmod(dst, F.lit(n_vertices)))
        .cast("int")
        .alias("dst"),
    ).filter(F.col("src") != F.col("dst"))


def with_years_subjects(
    vertices: DataFrame, first_year: int, n_years: int, seed: int
) -> DataFrame:
    """``vertices`` (id) with ``year`` int, uniform over ``n_years`` years
    from ``first_year``, and ``subjects`` array<string>: one of
    ``SUBJECTS`` subjects each, and a second (possibly equal, then
    deduplicated) subject on about 30% of vertices."""

    def subject(salt: int):
        return F.concat(F.lit("s"), F.pmod(_h(seed, salt), F.lit(SUBJECTS)))

    return vertices.select(
        "id",
        (F.lit(first_year) + F.pmod(_h(seed, 3), F.lit(n_years)))
        .cast("int")
        .alias("year"),
        F.when(
            F.pmod(_h(seed, 6), F.lit(10)) < 3,
            F.array_distinct(F.array(subject(4), subject(5))),
        )
        .otherwise(F.array(subject(4)))
        .alias("subjects"),
    )
