"""LIME on Spark — the explainability API (SURVEY.md §2j).

Public surface for a user switching from the reference:

- :func:`explain_tabular` / :func:`explain_text` — batch L8 explainers
  (one shuffle-free Arrow pipeline each: sample, score, fit).
- :func:`submodular_pick` — SP-LIME greedy coverage over a fitted
  explanation matrix (L9).
- :func:`weighted_ridge` / :func:`explain_with_data` — the closed-form
  surrogate fit + feature selection (L6/L7), NumPy-only.
- :func:`discretize` — exact-percentile binning (L1).
- :func:`perturb_tabular` / :func:`perturb_text` — deterministic
  perturbation samplers (L2/L3).
"""

from lime_on_spark_spark.lime.discretize import discretize
from lime_on_spark_spark.lime.explain import explain_tabular, explain_text
from lime_on_spark_spark.lime.perturb import perturb_tabular, perturb_text
from lime_on_spark_spark.lime.pick import submodular_pick
from lime_on_spark_spark.lime.ridge import explain_with_data, weighted_ridge

__all__ = [
    "discretize",
    "explain_tabular",
    "explain_text",
    "explain_with_data",
    "perturb_tabular",
    "perturb_text",
    "submodular_pick",
    "weighted_ridge",
]
