"""Reference-shaped user API (SURVEY §3; resolver.py:200-326,568-596).

`SparkEntityResolver` mirrors the reference `EntityResolver` surface —
fit / transform / fit_transform / generate_report /
get_review_dataframe / save / load — so a user of the reference can
switch 1:1:

    res = SparkEntityResolver(config)
    res.fit(spark, turns)                  # resolver.py:200-242
    out = res.transform(spark, new_turns)  # resolver.py:244-290
    res.generate_report()                  # resolver.py:568-596
    res.save(path); SparkEntityResolver.load(spark, path)

The crucial difference from the reference: there is NO pickled model
state (persistence.py:23-144 pickles encoders + cuml models). The
fitted state IS the resolved table plus the config — `transform`
re-derives everything it needs from that table with the same
operators, which is what makes save/load a plain parquet+YAML round
trip and the whole thing resumable on a cluster.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from entity_resolver_spark.config import ResolverConfig
from entity_resolver_spark.pipeline import EntityResolverPipeline
from entity_resolver_spark.lineage import eager_cut


class SparkEntityResolver:
    def __init__(self, config: ResolverConfig | None = None) -> None:
        self.config = config or ResolverConfig()
        self.resolved_: DataFrame | None = None
        self.fitted_: dict[str, DataFrame] | None = None
        self.metrics: list[dict] = []

    # ------------------------------------------------------------------
    def fit(self, spark: SparkSession, turns: DataFrame) -> "SparkEntityResolver":
        pipe = EntityResolverPipeline(self.config)
        self.resolved_ = pipe.resolve(spark, turns)
        self.fitted_ = None  # rebuilt lazily on first transform
        self.metrics = pipe.metrics
        return self

    def fit_transform(self, spark: SparkSession, turns: DataFrame) -> DataFrame:
        self.fit(spark, turns)
        assert self.resolved_ is not None
        return self.resolved_

    def transform(
        self, spark: SparkSession, new_turns: DataFrame, assign_floor: float = 0.80
    ) -> DataFrame:
        """Incremental assignment of unseen conversations against the
        fitted state (G16; no refit). The fitted tables (IDF, state
        keys, state vectors) are derived once on the first transform
        and reused — each batch touches only batch-sized data plus the
        precomputed state tables."""
        if self.resolved_ is None:
            raise RuntimeError("fit (or load) must run before transform")
        from entity_resolver_spark.operators.predict import assign_new, derive_fitted_state

        if self.fitted_ is None:
            self.fitted_ = {
                k: v.transform(eager_cut)
                for k, v in derive_fitted_state(self.resolved_, self.config).items()
            }
        return assign_new(
            spark, self.resolved_, new_turns, self.config,
            assign_floor=assign_floor, fitted=self.fitted_,
        )

    # ------------------------------------------------------------------
    def generate_report(self) -> dict:
        if self.resolved_ is None:
            raise RuntimeError("fit must run before generate_report")
        from entity_resolver_spark.operators.report import summary_report

        return summary_report(self.resolved_)

    def get_review_dataframe(self) -> DataFrame:
        if self.resolved_ is None:
            raise RuntimeError("fit must run before get_review_dataframe")
        from entity_resolver_spark.operators.report import review_dataframe

        return review_dataframe(self.resolved_)

    # ------------------------------------------------------------------
    # S3: persistence — resolved table as parquet + config as YAML
    # (reference persistence.py:23-144; its canonical map was already
    # parquet, persistence.py:141-144)
    def save(self, path: str) -> None:
        if self.resolved_ is None:
            raise RuntimeError("fit must run before save")
        os.makedirs(path, exist_ok=True)
        self.resolved_.write.mode("overwrite").parquet(os.path.join(path, "resolved"))
        # persist the fitted transform-side tables too, so a loaded
        # model's transform never pays the O(state) re-derivation
        from entity_resolver_spark.operators.predict import derive_fitted_state

        fitted = self.fitted_ or derive_fitted_state(self.resolved_, self.config)
        for name, df in fitted.items():
            df.write.mode("overwrite").parquet(os.path.join(path, f"fitted_{name}"))
        self.config.to_yaml(os.path.join(path, "config.yaml"))
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump({"format": self._SAVE_FORMAT, "metrics": self.metrics}, f)

    # config keys that existed in older save formats but were removed;
    # load() strips them instead of letting extra='forbid' fail with an
    # opaque pydantic error on an older save dir
    _REMOVED_CONFIG_KEYS: dict[int, tuple[str, ...]] = {
        1: ("random_seed", "suffix_passes"),
        2: ("columns", "lowercase", "strip_punctuation", "collapse_whitespace"),
    }
    _SAVE_FORMAT = 3

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SparkEntityResolver":
        manifest_path = os.path.join(path, "manifest.json")
        manifest: dict = {}
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
        fmt = int(manifest.get("format", 1))
        if fmt > cls._SAVE_FORMAT:
            raise RuntimeError(
                f"save dir {path!r} has format {fmt}, newer than this "
                f"version's {cls._SAVE_FORMAT} — upgrade the library to load it"
            )

        import yaml

        with open(os.path.join(path, "config.yaml")) as f:
            data = yaml.safe_load(f) or {}
        # migrate: drop keys removed since `fmt` (anywhere in the tree —
        # older formats carried them at top level and per-section)
        removed = {
            k for v, keys in cls._REMOVED_CONFIG_KEYS.items() if v >= fmt for k in keys
        }

        def _strip(node):
            if isinstance(node, dict):
                return {k: _strip(v) for k, v in node.items() if k not in removed}
            return node

        try:
            cfg = ResolverConfig.model_validate(_strip(data))
        except Exception as e:
            raise RuntimeError(
                f"save dir {path!r} (format {fmt}) has a config.yaml this "
                f"version cannot validate: {e}"
            ) from e

        obj = cls(cfg)
        obj.resolved_ = spark.read.parquet(os.path.join(path, "resolved"))
        fitted = {}
        for name in ("idf", "state_keys", "state_vec"):
            d = os.path.join(path, f"fitted_{name}")
            if os.path.exists(d):
                fitted[name] = spark.read.parquet(d)
        if len(fitted) == 3:
            obj.fitted_ = fitted
        obj.metrics = manifest.get("metrics", [])
        return obj
