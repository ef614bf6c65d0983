"""LIME distance + kernel weighting (SURVEY.md §2j row L5).

Upstream analogue [public, unverified locally]: ``lime/lime_base.py``'s
exponential kernel ``sqrt(exp(-d^2 / width^2))`` (note the sqrt — upstream
applies it in ``kernel_fn``) with default width ``0.75 * sqrt(d)`` over
euclidean distance (tabular) / cosine distance ×100 (text). Everything
here is pure JVM column expressions — kernel weighting of 5000
perturbations × millions of instances is a scan, not a UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def default_kernel_width(dim: int) -> float:
    return 0.75 * math.sqrt(dim)


def euclidean_distance(a: Column, b: Column) -> Column:
    """L2 distance between two array<double> columns, JVM-side. The tabular
    explainers take the same value, bit for bit, from the sampler's Arrow
    pass instead (``perturb._tabular_samples(with_dist=True)``)."""
    sq = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda s, v: s + v))


def exponential_kernel(dist: Column, width: float) -> Column:
    """sqrt(exp(-d^2 / w^2)) = exp(-d^2 / (2 w^2)) — LIME's locality weight.

    The sqrt matches upstream lime_base's default ``kernel_fn``; omitting it
    would make the locality twice as narrow as the cited analogue.
    """
    return F.sqrt(F.exp(-(dist * dist) / F.lit(float(width * width))))
