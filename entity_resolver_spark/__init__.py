"""entity_resolver_spark — a from-scratch PySpark-native record-linkage engine.

Re-expresses the capabilities of the reference single-GPU pipeline
(andrewjordan3/entity-resolver) as an idiomatic, distributed Spark
DataFrame pipeline over multi-turn conversation/agent transcripts:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
      -> collapse   (window-ordered turn concatenation)
      -> normalize  (NFKC / lower / regex pipeline)
      -> block      (deterministic token keys + MinHash/LSH bands)
      -> pair-score (native C kernels: Jaro-Winkler, Levenshtein;
                     Arrow-batched NumPy: token-set cosine over hashed
                     TF-IDF)
      -> cluster    (large-star/small-star connected components)
      -> validate   (metadata conflict splits, invariant gates)
      -> canonical  (per-cluster canonical record + chain numbering)
      -> score      (confidence + review flags)

Design notes: everything is declarative DataFrame/SQL so Catalyst can
push filters, prune columns and pick join strategies; Python appears
only in Arrow-batched pandas UDFs (never per-row); iterative graph
steps checkpoint per iteration to cut lineage.
"""

__version__ = "0.1.0"

from entity_resolver_spark.config import ResolverConfig
from entity_resolver_spark.pipeline import EntityResolverPipeline
from entity_resolver_spark.resolver import SparkEntityResolver

__all__ = [
    "ResolverConfig",
    "EntityResolverPipeline",
    "SparkEntityResolver",
    "__version__",
]
