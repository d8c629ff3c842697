"""Benchmark-side tracing: spans around the calls into each layer, plus
the Spark task metrics of the jobs each layer ran.

Nothing here edits the program. `Tracer.install` swaps module
attributes (`resolve`, the stage runner, the pipeline's pass entry
points, `break_bridges`, `embed_texts`, the dedup/ann operators and
every imported `eager_cut`) for wrappers, and `uninstall` puts the
originals back.

Spark plans lazily, so a pass's work runs in the action that follows
it (usually an `eager_cut`). A layer wrapper therefore sets the Spark
job group `layer:<name>` when it is entered and leaves it set after it
returns; `eager_cut` and actions record spans but never switch groups,
so their jobs land in the group of the pass that planned them. The
same switch points split wall time: `<layer>.wall_s` is the time during
which that layer was the active one.

After the run, `layer_metrics` reads each group's Spark stages from
`AppStatusStore` through py4j (reachable with `spark.ui.enabled=false`).
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# Layers named after the program's modules, in pipeline order.
PIPELINE_LAYERS = (
    "collapse", "normalize", "vectorize", "blocking", "pairs", "components",
    "communities", "refine", "validate", "canonical", "confidence",
)
DEDUP_LAYERS = ("minhash", "simhash", "ngram", "embedding", "ann.topk")
LAYER_FIELDS = ("wall_s", "executor_run_s", "tasks", "shuffle_write_mb", "spill_mb")

# CheckpointManager.stage name -> layer (the module its compute calls)
STAGE_LAYER = {
    "collapse": "collapse",
    "normalize": "normalize",
    "token_stats": "vectorize",
    "pairs": "blocking",
    "vectorize": "vectorize",
    "pair_scores": "pairs",
    "edges": "pairs",
    "components": "components",
    "clustered": "components",
    "canonical": "canonical",
    "resolved": "canonical",
}

# pass entry points that pipeline.py imports as module globals
PIPELINE_PASSES = {
    "attach_labels": "components",
    "merge_clusters_vector": "refine",
    "evict_outliers": "refine",
    "reassign_singletons": "refine",
    "merge_clusters_string": "refine",
    "enrich_metadata": "refine",
    "split_on_metadata": "validate",
    "consolidate_identical": "validate",
    "enforce_canonical_fd": "validate",
    "q1_violations": "validate",
    "q2_violations": "validate",
    "apply_canonical_map": "canonical",
    "cluster_edge_stats": "confidence",
    "score_confidence": "confidence",
}

DEDUP_FUNCS = {
    "minhash_lsh_pairs": "minhash",
    "simhash_pairs": "simhash",
    "ngram_jaccard_pairs": "ngram",
    "embedding_dup_pairs": "embedding",
}
ANN_FUNCS = {"brute_force_topk": "ann.topk", "ivf_topk": "ann.topk"}

MB = 1024.0 * 1024.0


class Tracer:
    """Spans kept in memory, layer wall time by active job group, and
    the attribute swaps that feed both."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.layer_wall: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._layer: str | None = None
        self._since = 0.0
        self._undo: list[tuple[object, str, object]] = []
        self.groups: dict[str, dict] = {}

    # -- spans and layer switches ----------------------------------------
    def switch(self, layer: str | None) -> None:
        """Make `layer` the active one: close the previous layer's wall
        segment and point new Spark jobs at its group."""
        now = time.perf_counter()
        if self._layer is not None:
            self.layer_wall[self._layer] += now - self._since
        self._layer, self._since = layer, now
        group = f"layer:{layer}" if layer else "untraced"
        self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        """Record a span; when `layer` is given, enter that layer."""
        if layer is not None:
            self.switch(layer)
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def stop(self) -> None:
        """Close the active layer's wall segment."""
        self.switch(None)

    # -- wrappers ----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrapper(self, fn, name: str, layer: str | None):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return wrapped

    def install(self) -> None:
        from entity_resolver_spark import checkpoint, lineage, pipeline
        from entity_resolver_spark.functions import embed
        from entity_resolver_spark.operators import ann, communities, dedup

        stage = checkpoint.CheckpointManager.stage
        tracer = self

        @functools.wraps(stage)
        def traced_stage(mgr, name, compute, extra_metrics=None):
            with tracer.span(f"stage:{name}", STAGE_LAYER.get(name, name)):
                return stage(mgr, name, compute, extra_metrics)

        self._patch(checkpoint.CheckpointManager, "stage", traced_stage)
        resolve = pipeline.EntityResolverPipeline.resolve

        @functools.wraps(resolve)
        def traced_resolve(pipe, *args, **kwargs):
            with tracer.span("resolve"):
                return resolve(pipe, *args, **kwargs)

        self._patch(pipeline.EntityResolverPipeline, "resolve", traced_resolve)
        entry_points = [(pipeline, fn, layer) for fn, layer in PIPELINE_PASSES.items()]
        entry_points += [(communities, "break_bridges", "communities")]
        entry_points += [(embed, "embed_texts", "embedding")]
        entry_points += [(dedup, fn, layer) for fn, layer in DEDUP_FUNCS.items()]
        entry_points += [(ann, fn, layer) for fn, layer in ANN_FUNCS.items()]
        for mod, fn, layer in entry_points:
            self._patch(mod, fn, self._wrapper(getattr(mod, fn), fn, layer))
        # every module that imported eager_cut by name, pipeline.py included;
        # a cut keeps the active layer, so it is charged to the pass before it
        cut = self._wrapper(lineage.eager_cut, "lineage.cut", None)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("entity_resolver_spark.")
                    and mod is not lineage
                    and getattr(mod, "eager_cut", None) is lineage.eager_cut):
                self._patch(mod, "eager_cut", cut)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # -- output --------------------------------------------------------------
    def span_seconds(self, prefix: str) -> float:
        """Summed duration of the top-most spans whose name starts with
        `prefix` (nested matches are not counted twice)."""
        total = 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix) or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and not self.spans[p]["name"].startswith(prefix):
                p = self.spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def dump(self, path: str) -> None:
        """Write every span with its self time: its duration minus the
        part of it that its child spans cover."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out = []
        for i, s in enumerate(self.spans):
            dur = (s["end"] or s["start"]) - s["start"]
            out.append({**s, "id": i, "seconds": dur, "self_seconds": dur - child_s[i]})
        with open(path, "w") as f:
            json.dump({"spans": out, "job_groups": self.groups,
                       "layer_wall_s": dict(self.layer_wall)}, f, indent=1)


def group_metrics(spark) -> dict[str, dict]:
    """Per job group: jobs, tasks, failed tasks, executor run seconds,
    GC seconds, shuffle-write MB, spill MB and records read, summed over
    the group's Spark stages (each stage counted once, under the group
    of the first job that listed it)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # let the store catch up
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()

    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    job_list = store.jobsList(None)
    job_rows = []
    for i in range(job_list.length()):
        j = job_list.apply(i)
        grp = j.jobGroup()
        job_rows.append((j.jobId(), grp.get() if grp.isDefined() else "none", j.stageIds()))
    for _, grp, stage_ids in sorted(job_rows, key=lambda r: r[0]):
        jobs[grp] += 1
        for k in range(stage_ids.length()):
            stage_group.setdefault(stage_ids.apply(k), grp)

    empty_q = sc._gateway.new_array(jvm.double, 0)
    stages = store.stageList(None, False, False, empty_q, jvm.java.util.ArrayList())
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for i in range(stages.length()):
        s = stages.apply(i)
        m = out[stage_group.get(s.stageId(), "none")]
        m["tasks"] += s.numCompleteTasks()
        m["failed_tasks"] += s.numFailedTasks()
        m["executor_run_s"] += s.executorRunTime() / 1000.0
        m["gc_s"] += s.jvmGcTime() / 1000.0
        m["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
        m["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        m["rows"] += s.inputRecords() + s.shuffleReadRecords()
    for grp, n in jobs.items():
        out[grp]["jobs"] = n
    return {g: dict(m) for g, m in out.items()}


def layer_metrics(spark, tracer: Tracer, workload, samples: list[float],
                  storage_mb: float, storage_rdds: int) -> dict:
    """Every per-layer metric of one traced run, per timed operation
    (a run times as many as fit in its seconds). Layers the workload
    never entered read 0."""
    groups = group_metrics(spark)
    tracer.groups = groups
    n_ops = max(len(samples), 1)

    def grp(layer):
        return groups.get(f"layer:{layer}", {})

    v: dict[str, float] = {}
    named = [(layer, layer, "rows") for layer in PIPELINE_LAYERS]
    named += [(layer, f"dedup.{layer}", None) for layer in DEDUP_LAYERS]
    for layer, prefix, count in named:
        g = grp(layer)
        v[f"{prefix}.wall_s"] = tracer.layer_wall.get(layer, 0.0) / n_ops
        for field in LAYER_FIELDS[1:]:
            v[f"{prefix}.{field}"] = g.get(field, 0.0) / n_ops
        if count:
            v[f"{prefix}.{count}"] = g.get(count, 0.0) / n_ops

    resolve_s = tracer.span_seconds("resolve")
    v.update({
        "lineage.cuts": sum(s["name"] == "lineage.cut" for s in tracer.spans) / n_ops,
        "lineage.cut_s": tracer.span_seconds("lineage.cut") / n_ops,
        "lineage.held_mb": storage_mb,
        "lineage.held_rdds": storage_rdds,
        "resolve.unattributed_s": (
            (resolve_s - tracer.span_seconds("stage:")) / n_ops if resolve_s else 0.0),
        "failed_tasks": sum(g.get("failed_tasks", 0.0) for g in groups.values()),
        "trace.op_p50_s": statistics.median(samples) if samples else 0.0,
    })
    v.update(workload.layer_extras())
    return v
