"""Stage 4: canonicalization — co-reference components → canonical entities.

Maps every normalized surface form to its component's canonical form (the
lexicographically smallest member — deterministic under distribution) and
builds the canonical entity IRI with the same URI-encoding function the
extraction stage uses.  Connected components run on the ``norm`` strings
themselves, so the component id already is that smallest member: no id
dictionary, no join back, and two forms can never merge by a hash
collision.

The form dictionary (distinct normalized mentions) grows with the
vocabulary, so the mention→canonical rewrite joins it with no broadcast
hint: the planner broadcasts it from its checkpoint's file size while small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopper_spark.compiler import pct_encode_native
from mopper_spark.pipeline.cc import connected_components

EX = "http://example.com/"


def canonical_map(forms: DataFrame, edges: DataFrame) -> DataFrame:
    """(norm) forms + accepted (norm_a, norm_b) edges → canonical dictionary.

    Returns (norm, canonical_norm, canonical_iri); singleton forms map to
    themselves.
    """
    # an edge counts only when both of its forms are in ``forms``
    known = forms.select("norm")
    linked = (
        edges.join(known.withColumnRenamed("norm", "norm_a"), "norm_a", "left_semi")
        .join(known.withColumnRenamed("norm", "norm_b"), "norm_b", "left_semi")
        .select(F.col("norm_a").alias("u"), F.col("norm_b").alias("v"))
    )
    comp = connected_components(linked)
    canon = "coalesce(component, norm)"
    return known.join(comp.withColumnRenamed("node", "norm"), "norm", "left").selectExpr(
        "norm",
        f"{canon} AS canonical_norm",
        f"concat('{EX}entity/', {pct_encode_native(canon)}) AS canonical_iri",
    )
