"""Stage 3: connected components over the co-reference graph.

DataFrame-only alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-friendly CC algorithm:

- *large-star*: every node points its strictly-larger neighbours at the
  minimum of its neighbourhood (incl. itself);
- *small-star*: every node points its smaller-or-equal neighbours at that
  minimum.

Each round is two shuffles (groupBy node); convergence in O(log n) rounds
even on path graphs, and hot components are handled by the groupBy's
map-side partial aggregation.  Lineage is cut with ``localCheckpoint``
every round (iterative plans otherwise grow unboundedly and re-execute).

Convergence: edges stay oriented child ``u`` > parent ``v`` and star steps
preserve connectivity, so a round whose output is a star forest (no child
in a second edge) is final: each center is its component's minimum.

Node ids are of any one orderable type (``long``, ``string``, …): callers
pass their natural keys, with no id dictionary and no hash to collide.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def _star(edges: DataFrame, large: bool) -> DataFrame:
    """One large- or small-star round over canonical (u, v) edges."""
    # symmetrize: neighbourhood of u must include both directions (one scan
    # of the input: a self-union would compute an uncheckpointed input twice)
    flip = F.struct(F.col("v").alias("u"), F.col("u").alias("v"))
    sym = edges.select(F.inline(F.array(F.struct("u", "v"), flip)))
    # collect_set also drops the duplicate edges the previous step emits
    grouped = sym.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    m = F.least(F.col("u"), F.array_min("nbrs")).alias("m")
    if large:
        # connect strictly-larger neighbours to the neighbourhood minimum
        targets = F.filter(F.col("nbrs"), lambda x: x > F.col("u"))
    else:
        # connect smaller-or-equal neighbours AND u itself to the minimum
        # (omitting u would disconnect it from its re-homed neighbours)
        targets = F.array_union(
            F.filter(F.col("nbrs"), lambda x: x <= F.col("u")),
            F.array(F.col("u")),
        )
    out = grouped.select(m, F.explode(targets).alias("n")).filter(
        F.col("n") != F.col("m")
    )
    return out.select(F.greatest("n", "m").alias("u"), F.least("n", "m").alias("v"))


def _is_star_forest(edges: DataFrame) -> bool:
    """True when no child ``u`` of the distinct edges is in a second edge."""
    roles = edges.select(F.col("u").alias("node"), F.lit(True).alias("child")).union(
        edges.select(F.col("v").alias("node"), F.lit(False).alias("child"))
    )
    bad = (
        roles.groupBy("node")
        .agg(F.max("child").alias("child"), F.count("*").alias("n"))
        .filter(F.col("child") & (F.col("n") > 1))
    )
    return bad.isEmpty()


def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Edge list (u, v) → (node, component), ids of one orderable type.

    ``component`` is the minimum node id in the component; every node of a
    non-self-loop edge appears once, roots included.  A run that hits
    ``max_iter`` (logged as a warning) returns the unfinished forest.
    """
    cur = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    for i in range(max_iter):
        cur = _star(_star(cur, large=True), large=False).distinct().localCheckpoint()
        if _is_star_forest(cur):
            log.info("connected_components converged after %d rounds", i + 1)
            break
    else:
        log.warning("connected_components hit max_iter=%d", max_iter)

    # in a star forest children and roots are disjoint and each child has
    # one parent, so the two parts need no join or dedup against each other
    membership = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return membership.union(roots)
