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

import os
import sys
import zipimport


def _keep_spark_archive_directories() -> None:
    """Stop importlib.invalidate_caches() re-reading Spark's own archives.

    pyspark.worker calls importlib.invalidate_caches() at the start of
    every task. Before CPython 3.13 every zipimporter in
    sys.path_importer_cache then re-parses its archive's whole central
    directory: 14 importers over pyspark.zip (1,328 entries) and the
    py4j zip, plus 2 over the spark-core jar, 0.13-0.2 s of CPU per
    task before it reads a row. Archives under SPARK_HOME are Spark's
    installation and cannot change while the application runs, so
    their importers keep the directory they already read. Every other
    archive keeps stock behaviour: --py-files, addPyFile and anything
    else in the SparkFiles directory (which a standalone executor keeps
    under SPARK_HOME/work), and zips on a user's PYTHONPATH.

    Runs when the package is imported, which a Python worker does once,
    while it unpickles the first UDF that uses the package. Importers
    created after that keep stock behaviour. A no-op without SPARK_HOME.
    """
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        return
    spark_root = os.path.join(os.path.realpath(spark_home), "")
    # a worker sets the SparkFiles root before it unpickles a UDF; it is
    # None on a driver, and the module is absent from a Connect client
    files = sys.modules.get("pyspark.core.files")
    files_dir = files.SparkFiles._root_directory if files else None
    files_root = os.path.join(os.path.realpath(files_dir), "") if files_dir else None
    for finder in list(sys.path_importer_cache.values()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        archive = os.path.realpath(finder.archive)
        if archive.startswith(spark_root) and not (
            files_root and archive.startswith(files_root)
        ):
            # an instance attribute shadows zipimporter.invalidate_caches
            finder.invalidate_caches = lambda: None


_keep_spark_archive_directories()

from entity_resolver_spark.config import ResolverConfig
from entity_resolver_spark.pipeline import EntityResolverPipeline
from entity_resolver_spark.resolver import SparkEntityResolver

__all__ = [
    "ResolverConfig",
    "EntityResolverPipeline",
    "SparkEntityResolver",
    "__version__",
]
