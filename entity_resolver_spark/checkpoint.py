"""Per-stage checkpoint / resume manager (north rule: every stage
checkpoints with lineage + match-count metrics; the pipeline resumes
mid-run).

Storage: parquet directories + a JSON manifest per stage. On a real
cluster with an Iceberg catalog this writes `writeTo(table).replace()`
instead — the layout (stage table + manifest/metrics row) is identical;
parquet is used here because the sandbox has no Iceberg jars.
Reference analog: model/canonical-map persistence,
/root/reference/entity_resolver/persistence.py:23-144 (already parquet
for the canonical map, persistence.py:141-144).

Resume contract: a stage re-runs iff (a) no manifest, or (b) the
config+input fingerprint changed. Metrics rows accumulate in
<dir>/_metrics.jsonl — the per-stage lineage record (stage, rows,
match counts, wall seconds, fingerprint, codegen compiles).

`codegen_compiles` on every row is how many classes the driver JVM's
Janino compiled over the row's wall (Spark's CodegenMetrics; in local
mode that includes the tasks' whole-stage code). A session whose
generated-class cache holds the working set compiles a repeated resolve
in a handful; a stage that reads hundreds is recompiling its plans.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from entity_resolver_spark.lineage import counted_cut, release_checkpoint


def codegen_compiles(spark: SparkSession) -> int | None:
    """Janino compiles so far in the driver JVM, or None without a JVM
    handle (Spark Connect) or where CodegenMetrics moved."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return None  # Spark Connect: no JVM handles on the driver
    try:
        cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(cm.METRIC_COMPILATION_TIME().getCount())
    except Exception:  # any JVM-side signature drift
        return None


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str | None, run_fingerprint: str = "",
                 resume: bool = True) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.resume = resume
        self.run_fingerprint = run_fingerprint
        self.metrics: list[dict] = []
        self._pass: dict = {}
        if base_dir:
            os.makedirs(base_dir, exist_ok=True)

    @staticmethod
    def fingerprint(*parts: str) -> str:
        h = hashlib.sha256()
        for p in parts:
            h.update(p.encode())
            h.update(b"\x00")
        return h.hexdigest()[:16]

    def _paths(self, stage: str) -> tuple[str, str]:
        assert self.base_dir is not None
        d = os.path.join(self.base_dir, stage)
        return d, os.path.join(self.base_dir, f"{stage}.manifest.json")

    def stage(
        self,
        name: str,
        compute: Callable[[], DataFrame],
        extra_metrics: Callable[[DataFrame, int], dict] | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage; returns the stage DataFrame.
        `extra_metrics(df, rows)` receives the stage's row count.

        Without a base_dir this degrades to compute() + localCheckpoint
        (lineage cut only — still required for iterative stages); the
        job that fills the checkpoint also counts its rows. A compute
        that ends in `cut_pass` is not cut a second time."""
        t0 = time.time()
        c0 = codegen_compiles(self.spark)
        self._pass = {"stage": name, "t": t0, "c": c0, "cut": None, "rows": None}
        if self.base_dir is None:
            df = compute()
            if df is self._pass["cut"]:
                rows = self._pass["rows"]
            else:
                df, rows = counted_cut(df)
            self._record(name, df, t0, c0, resumed=False, extra=extra_metrics, rows=rows)
            return df

        data_dir, manifest_path = self._paths(name)
        if self.resume and os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
            if manifest.get("fingerprint") == self.run_fingerprint:
                df = self.spark.read.parquet(data_dir)
                self._record(name, df, t0, c0, resumed=True, extra=None,
                             rows=manifest.get("rows"))
                return df

        df = compute()
        # the single write gate: Iceberg writeTo when the target is a
        # catalog table and a catalog is configured, parquet dir here
        from entity_resolver_spark.sinks import write_table

        write_table(df, data_dir, mode="overwrite")
        df = self.spark.read.parquet(data_dir)  # re-read: truncated lineage
        rows = df.count()
        with open(manifest_path, "w") as f:
            json.dump(
                {"stage": name, "rows": rows, "fingerprint": self.run_fingerprint,
                 "written_at": time.time()},
                f,
            )
        self._record(name, df, t0, c0, resumed=False, extra=extra_metrics, rows=rows)
        return df

    def cut_pass(self, name: str, df: DataFrame) -> DataFrame:
        """Materialize one pass inside the running stage's compute and
        record it as a `<stage>.<name>` metrics row: rows from the job
        that fills the cut, seconds and codegen compiles since the
        stage's previous pass.

        The stage's pass chain is linear, so once the new generation is
        materialized the one it supersedes is released — otherwise a
        stage holds one records-sized generation per pass and later
        stages pay storage eviction (lineage.release_checkpoint). The
        stage's input and the frames of earlier stages are never
        released. A pass that handed back the previous cut unchanged is
        not cut again."""
        p = self._pass
        if df is p["cut"]:
            rows = p["rows"]
        else:
            df, rows = counted_cut(df)
            if p["cut"] is not None:
                release_checkpoint(p["cut"])
        now, c = time.time(), codegen_compiles(self.spark)
        self.metrics.append(
            {
                "stage": f"{p['stage']}.{name}",
                "rows": rows,
                "seconds": round(now - p["t"], 3),
                "codegen_compiles": _delta(p["c"], c),
                "resumed": False,
            }
        )
        p.update(t=now, c=c, cut=df, rows=rows)
        return df

    def _record(self, name, df, t0, c0, resumed, extra, rows=None):
        m = {
            "stage": name,
            "rows": rows if rows is not None else df.count(),
            "seconds": round(time.time() - t0, 3),
            "codegen_compiles": _delta(c0, codegen_compiles(self.spark)),
            "resumed": resumed,
            "fingerprint": self.run_fingerprint,
        }
        if extra is not None:
            m.update(extra(df, m["rows"]))
        self.metrics.append(m)
        if self.base_dir:
            with open(os.path.join(self.base_dir, "_metrics.jsonl"), "a") as f:
                f.write(json.dumps(m) + "\n")


def _delta(c0: int | None, c1: int | None) -> int | None:
    return None if c0 is None or c1 is None else c1 - c0
