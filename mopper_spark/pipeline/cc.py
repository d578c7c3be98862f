"""Stage 3: connected components over the co-reference graph.

DataFrame-only alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-friendly CC algorithm:

- *large-star*: every node points its strictly-larger neighbours at the
  minimum of its neighbourhood (incl. itself);
- *small-star*: every node points its smaller-or-equal neighbours at that
  minimum.

Each round reads and writes the grouped adjacency ``(u, nbrs)``: every
node with the distinct set of its neighbours in both directions.
Large-star is then a narrow step over the adjacency; grouping its output
for small-star is one shuffle, and re-grouping small-star's output into
the next round's adjacency is the other (``collect_set`` also drops the
duplicate edges the steps emit).  Hot components are handled by the
groupBy's map-side partial aggregation.  Lineage is cut with
``localCheckpoint`` every round (iterative plans otherwise grow unboundedly
and re-execute).  Convergence takes O(log n) rounds even on path graphs.

Convergence: edges stay oriented child ``u`` > parent ``v`` and star steps
preserve connectivity, so a round whose output is a star forest (no child
in a second edge) is final: each center is its component's minimum.  The
test is a ``DataFrame.observe`` aggregate counting the nodes that have a
smaller neighbour and more than one neighbour, collected by the round's own
``localCheckpoint`` job, so it costs no job of its own.

Node ids are of any one orderable type (``long``, ``string``, …): callers
pass their natural keys, with no id dictionary and no hash to collide.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# the neighbourhood minimum, u included
_MIN = "least(u, array_min(nbrs))"
# large-star: each strictly-larger neighbour n becomes a child of the minimum
_LARGE_STAR = f"inline(transform(filter(nbrs, x -> x > u), n -> struct(n AS u, {_MIN} AS v)))"
# small-star: smaller-or-equal neighbours AND u itself (omitting u would
# disconnect it from its re-homed neighbours) point at the minimum
_SMALL_STAR = (
    f"inline(transform(filter(array_union(filter(nbrs, x -> x <= u), array(u)), n -> n != {_MIN}),"
    f" n -> struct(greatest(n, {_MIN}) AS u, least(n, {_MIN}) AS v)))"
)
# a child (it has a smaller neighbour) in a second edge: not yet a star forest
_NOT_STAR = "count_if(exists(nbrs, x -> x < u) AND size(nbrs) > 1) AS not_star"


def _adjacency(edges: DataFrame) -> DataFrame:
    """(u, v) edges → (u, nbrs): each node's distinct neighbours, both directions."""
    # one scan of the input: a self-union would compute it twice
    sym = edges.selectExpr("inline(array(struct(u, v), struct(v AS u, u AS v)))")
    return sym.groupBy("u").agg(F.expr("collect_set(v) AS nbrs"))


def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Edge list (u, v) → (node, component), ids of one orderable type.

    ``component`` is the minimum node id in the component; every node of a
    non-self-loop edge appears once, roots included.  A run that hits
    ``max_iter`` (logged as a warning) returns the unfinished forest, still
    one row per node: its component is the smallest of the node and its
    neighbours in that forest, which need not be the component's minimum.
    """
    adj = _adjacency(edges.where("u != v"))
    for i in range(max_iter):
        small = _adjacency(adj.selectExpr(_LARGE_STAR)).selectExpr(_SMALL_STAR)
        stars = Observation()
        adj = _adjacency(small).observe(stars, F.expr(_NOT_STAR)).localCheckpoint()
        if stars.get["not_star"] == 0:
            log.info("connected_components converged after %d rounds", i + 1)
            break
    else:
        log.warning("connected_components hit max_iter=%d", max_iter)

    # in a star forest a child's one neighbour is its parent and a root's
    # neighbours are all larger, so the minimum is the component
    return adj.selectExpr("u AS node", f"{_MIN} AS component")
