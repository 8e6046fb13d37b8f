"""Random-hyperplane LSH buckets over embedding columns (array<float|double>).

8+ signed projections pack each vector into a bucket id, computed in-row
via zip_with + aggregate (no explode, no shuffle). Hyperplanes are
deterministic module constants so every executor, every run, and the
DuckDB oracle agree (the `ann_lsh_buckets` driver query).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def make_planes(n_planes: int, dim: int, seed: str = "lsh-planes") -> list[list[int]]:
    """Deterministic ±1 hyperplanes (module-constant quality: same seed ->
    same planes everywhere, incl. oracle SQL literals)."""
    rng = random.Random(seed)
    return [[rng.choice([-1, 1]) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket_col(vec_col: str, planes: list[list[int]]) -> F.Column:
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0)
    for j, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(_dot(v, plane) >= 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
    return bucket
