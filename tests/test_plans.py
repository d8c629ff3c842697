"""Physical-plan regression tests for the driver-contract queries.

These pin the plan SHAPES the round-4 perf work established, so a code
change that silently degrades them fails here instead of only showing up
as a bench regression:

  * the same-nation similarity pair queries must generate their pairs
    inside the C kernel, with no join in the plan;
  * no driver query may plan an unbounded CartesianProduct (broadcast
    nested-loop is allowed — the ANN brute-force is broadcast-bounded by
    contract);
  * `_read` must spread a single-split scan across the session's cores
    (the test tables are single-row-group parquet files; without the
    spread, all pre-shuffle work runs on one core);
  * hashed TF-IDF must compute each row's L2 norm once, not once per
    vector slot.

Plans are inspected unexecuted (explain only), so the whole module is
cheap at sf0.001.
"""

from __future__ import annotations

import contextlib
import io

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="extended")
    return buf.getvalue()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def test_pair_queries_generate_kernel_side(spark, entry):
    # r6: same-nation pairs are generated INSIDE the C block kernel
    # (ckernels.block_pairs_map) — the plan must contain the
    # mapInArrow node and, crucially, no join at all: a join would mean
    # the 450M-row pair table crosses the JVM->Python Arrow boundary
    # again (measured ~130-170s at sf1.0 vs ~10s for kernel-side
    # generation).
    qs = entry.queries()
    for name in ("lev_similarity", "jaro_winkler"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "MapInArrow" in plan, f"{name}: C block kernel not in plan"
        assert "Join" not in plan, f"{name}: unexpected join around the kernel"


def test_no_query_plans_a_cartesian_product(spark, entry):
    # BroadcastNestedLoopJoin is acceptable (ANN brute-force is broadcast-
    # bounded by contract); a plain CartesianProduct never is.
    for name, fn in entry.queries().items():
        if name == "resolve_entities":
            continue  # flagship executes eagerly inside fit; covered E2E
        plan = _plan(fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, f"{name}: unbounded cartesian join"


def test_read_spreads_single_split_scans(spark, entry):
    par = spark.sparkContext.defaultParallelism
    df = entry._read(spark, SF_DIR, "documents")
    assert df.rdd.getNumPartitions() >= min(par, 4), (
        "single-row-group scan not spread across cores"
    )
    # and the spread is an exchange on the leading key column, not a
    # round-robin (retry-deterministic, no sort-before-repartition pass)
    plan = _plan(df)
    assert "RoundRobinPartitioning" not in plan


def test_scan_prunes_columns(spark, entry):
    # token_stats reads only (doc_id, text) — the scan must not drag the
    # full documents schema through the exchange.
    df = entry.queries()["token_stats"](spark, SF_DIR)
    plan = _plan(df)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "lang" not in scan, f"column pruning lost: {scan}"


def test_read_spread_picks_high_cardinality_column(spark, entry, tmp_path):
    """A table whose LEADING column is low-cardinality (role/status
    shape) must still spread across cores: the spread column is chosen
    by max approx distinct count, not position (VERDICT r4 wrong #3 —
    hashing a 2-value column re-creates the skew the spread removes)."""
    import pyspark.sql.functions as F

    n = 4_000
    (
        spark.range(n)
        .select(
            (F.col("id") % 2).cast("string").alias("status"),  # leading, 2 values
            F.col("id").alias("rowkey"),
            (F.col("id") * 7).alias("payload"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{tmp_path}/skewed.parquet")
    )
    df = entry._read(spark, str(tmp_path), "skewed")
    par = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == par
    sizes = df.rdd.glom().map(len).collect()
    nonempty = [s for s in sizes if s > 0]
    # hash on the 2-value leading column would yield <= 2 non-empty
    # partitions; the distinct-count choice (rowkey) spreads evenly
    assert len(nonempty) > 2, f"partition spread degenerate: {sizes}"
    assert max(sizes) < n, "all rows landed in one partition"


def test_read_spread_cache_keyed_on_schema(spark, entry, tmp_path):
    """Rewriting a same-path table with a DIFFERENT schema in one
    session must re-derive the spread column instead of reusing the
    stale cached choice (VERDICT r5 #7: the cache was keyed on path
    alone)."""
    import pyspark.sql.functions as F

    p = f"{tmp_path}/reused.parquet"
    spark.range(1000).select(
        F.col("id").alias("hi_card"), (F.col("id") % 2).alias("lo_card")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    entry._read(spark, str(tmp_path), "reused")
    assert entry._SPREAD_COL[(p, ("hi_card", "lo_card"))] == "hi_card"

    # same path, different schema: the old column name is gone entirely
    spark.range(1000).select(
        (F.col("id") % 2).alias("flag"), F.col("id").alias("uniq")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = entry._read(spark, str(tmp_path), "reused")
    assert entry._SPREAD_COL[(p, ("flag", "uniq"))] == "uniq"
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def _optimized_alias(df, name: str) -> str:
    """The expression an Alias `name` computes in `df`'s optimized plan."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        exprs = node.expressions()
        for i in range(exprs.size()):
            e = exprs.apply(i)
            if e.nodeName() == "Alias" and e.name() == name:
                return e.toString()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    raise AssertionError(f"no alias {name} in the optimized plan")


def test_tfidf_norm_folds_once_per_row(spark):
    """vec_val divides by a norm computed once per row: if the optimizer
    inlines the norm's aggregate into the per-slot lambda, every row
    re-folds it once per slot (up to top_k times)."""
    from entity_resolver_spark.operators.vectorize import hashed_tfidf, idf_table

    records = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["b", "c", "d"])], "conv_id long, tokens array<string>"
    )
    vec = hashed_tfidf(records, idf_table(records, n_records=2))
    assert "aggregate" not in _optimized_alias(vec, "vec_val")
    assert "aggregate" in _optimized_alias(vec, "norm")


def test_bench_effective_cores_env_cap():
    """bench.py's core cap is an env override, not a hard-coded host
    property (VERDICT r4 directive #5): requested>cap clamps, raising
    the cap honors the request, cap<=0 disables clamping."""
    import bench

    assert bench.effective_cores(32, 8) == 8      # default host cap
    assert bench.effective_cores(4, 8) == 4       # request below cap
    assert bench.effective_cores(32, 16) == 16    # raised cap honored
    assert bench.effective_cores(32, 0) == 32     # cap disabled
