"""mopper_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the query/data-processing capabilities of the reference engine
(ghsnd/mopper, an actor-model RML mapping engine in Rust; see
``/root/reference``) as declarative Spark DataFrame pipelines:

- ``rules``      : the mapping-rule / function-tree model (mopper's Extend
                   expression language, ``src/operator/extension.rs:124-190``)
- ``plan``       : AlgeMapLoom plan JSON → PlanGraph IR (``src/plan.rs``)
- ``rewriter``   : plan rewrites (``src/plan_rewriter.rs``)
- ``compiler``   : function trees → Spark SQL expression text
- ``serializer`` : N-Triples/N-Quads statement templating
                   (``src/operator/serializer.rs``)
- ``engine``     : end-to-end plan execution (``src/lib.rs``)
- ``turtle``     : Turtle-subset parser for mapping documents
- ``rml``        : RML/R2RML mapping → plan translation (``-l rml``)
- ``shexml``     : ShExML mapping → plan translation (``-l shexml``)
- ``sources``    : CSV / JSON / XML / parquet / table source resolution
- ``streaming``  : Structured Streaming surface (incremental extraction)
- ``pipeline``   : the transcript→KG job (extract, link, canonicalize,
                   materialize, checkpoint/resume)
- ``textops``    : large-scale corpus operations (dedup, similarity search,
                   text analysis, multimodal plumbing)
- ``scan``       : the bucketed exclusive running sum / max that ranks and
                   offsets use instead of a single-partition window
"""

__version__ = "0.1.0"
