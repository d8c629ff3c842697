"""End-to-end pipeline: F1 >= 0.99 (north rule), gates, determinism,
resume (FIXTURES.md F9)."""

import tempfile

import pyspark.sql.functions as F
import pytest

from entity_resolver_spark import EntityResolverPipeline, ResolverConfig
from entity_resolver_spark.operators.validate import q1_violations


@pytest.fixture(scope="module")
def resolved(spark, corpus):
    turns, _ = corpus
    pipe = EntityResolverPipeline()
    res = pipe.resolve(spark, turns)
    res.cache().count()
    return res, pipe


def _prf1(res, labeled):
    cl = res.select("conv_id", "cluster")
    j = (
        labeled.join(
            cl.withColumnRenamed("conv_id", "conv_id_a").withColumnRenamed("cluster", "ca"),
            "conv_id_a",
        ).join(
            cl.withColumnRenamed("conv_id", "conv_id_b").withColumnRenamed("cluster", "cb"),
            "conv_id_b",
        )
    ).cache()
    tp = j.filter("is_match and ca = cb").count()
    fp = j.filter("not is_match and ca = cb").count()
    fn = j.filter("is_match and ca != cb").count()
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    return p, r, 2 * p * r / (p + r)


def test_pairwise_f1_at_least_0_99(resolved, corpus):
    _, labeled = corpus
    res, _ = resolved
    p, r, f1 = _prf1(res, labeled)
    assert f1 >= 0.99, f"P={p:.4f} R={r:.4f} F1={f1:.4f}"


def test_q1_gate_holds(resolved):
    res, _ = resolved
    assert q1_violations(res).count() == 0


def test_every_conversation_present_exactly_once(resolved, corpus):
    turns, _ = corpus
    res, _ = resolved
    n_convs = turns.select("conv_id").distinct().count()
    assert res.count() == n_convs
    assert res.select("conv_id").distinct().count() == n_convs


def test_confidence_in_range_and_categorized(resolved):
    res, _ = resolved
    bad = res.where(
        (F.col("confidence_score") < 0) | (F.col("confidence_score") > 1)
        | F.col("confidence_category").isNull()
    ).count()
    assert bad == 0


def test_canonical_text_nonnull(resolved):
    res, _ = resolved
    assert res.where(F.col("canonical_text").isNull()).count() == 0


def test_determinism_two_runs(spark, corpus, resolved):
    """A second run, and a third under another shuffle partition count,
    give the same clusters and a BIT-equal confidence_score (its edge
    moments are exact sums, so shuffle-block arrival order cannot move
    the last ulp)."""
    turns, _ = corpus
    res1, _ = resolved
    cols = ["conv_id", "cluster", "confidence_score"]
    runs = [EntityResolverPipeline().resolve(spark, turns)]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        runs.append(EntityResolverPipeline().resolve(spark, turns))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    a = res1.select(cols)
    for res in runs:
        b = res.select(cols)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


# Spark jobs one resolve() of the guard corpus below starts: 209 when
# measured (8 local cores, 8 shuffle partitions), against 328-331 before
# row counts came from the materializing job and small label
# propagation ran on the driver. Each job costs tens to hundreds of ms
# whatever its input, so at these sizes the job count sets the
# resolve's speed — a change that adds per-question actions back
# (isEmpty probes, count-after-cut, per-round LPA jobs) fails here.
RESOLVE_JOB_BOUND = 230


def test_resolve_spark_job_count_bounded(spark):
    from entity_resolver_spark.datagen import corpus_distributed

    # one 40-member viral family among 4-member ones: exercises bridge
    # breaking (label propagation) and every refinement pass
    turns = corpus_distributed(
        spark, n_families=20, members=4, seed=405, viral_families=1, viral_members=40
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "test_resolve_spark_job_count_bounded"
    sc.setJobGroup(group, group)
    try:
        res = EntityResolverPipeline().resolve(spark, turns)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res.count() == turns.select("conv_id").distinct().count()
    assert 0 < n_jobs <= RESOLVE_JOB_BOUND, n_jobs


def test_stage_metrics_recorded(resolved):
    _, pipe = resolved
    stages = [m["stage"] for m in pipe.metrics if "." not in m["stage"]]
    assert stages == [
        "collapse", "normalize", "token_stats", "pairs", "vectorize",
        "pair_scores", "edges", "components", "clustered", "canonical",
        "resolved",
    ]
    assert all(m["rows"] >= 0 for m in pipe.metrics if "." not in m["stage"])
    # clustered sub-pass walls are recorded (rows deliberately -1: no
    # extra count job per pass)
    subs = [m["stage"] for m in pipe.metrics if m["stage"].startswith("clustered.")]
    assert "clustered.attach_labels" in subs
    assert "clustered.splits_consolidate" in subs


# ---------------------------------------------------------------------------
# round-3 E2E: bridge-breaking (G4/G8 in the flagship) + metadata splits
# ---------------------------------------------------------------------------

def _single_turn_corpus(spark, rows):
    """rows: (conv_id, text, tool) -> a one-turn-per-conversation frame."""
    import datetime as dt

    data = [
        (cid, 0, "assistant" if tool else "user", text, tool, dt.datetime(2026, 1, 1))
        for cid, text, tool in rows
    ]
    return spark.createDataFrame(
        data,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


_FAM_A = ("case90001 alpha bravo charlie delta echo foxtrot golf hotel "
          "india juliet kilo lima mike november")
_FAM_B = ("case90002 oscar papa quebec romeo sierra tango uniform victor "
          "whiskey xray yankee zulu green stone")


def _bridged_corpus(spark):
    rows = []
    for i in range(8):
        rows.append((f"a{i}", _FAM_A + f" extra{i}", ""))
        rows.append((f"b{i}", _FAM_B + f" other{i}", ""))
    # the bridge: half of A's opening + half of B's — similar enough to
    # both families to clear a low edge threshold, member of neither
    bridge = ("case90001 alpha bravo charlie delta echo foxtrot "
              "case90002 oscar papa quebec romeo sierra tango")
    rows.append(("x0", bridge, ""))
    return _single_turn_corpus(spark, rows)


def _bridge_cfg(break_bridges):
    # rare_tokens_per_record widened so the bridge's family-shared
    # tokens (df 9 vs the family-exclusive df 8) still emit keys —
    # verified to produce bridge edges at 0.47-0.56 vs intra ~0.9
    return ResolverConfig.model_validate(
        {
            "scoring": {"edge_threshold": 0.30},
            "blocking": {"rare_tokens_per_record": 40},
            "clustering": {"break_bridges": break_bridges},
        }
    )


def test_bridge_breaking_splits_fused_families_e2e(spark):
    turns = _bridged_corpus(spark)
    res_on = EntityResolverPipeline(_bridge_cfg(True)).resolve(spark, turns)
    got = {r["conv_id"]: r["cluster"] for r in res_on.collect()}
    a_labels = {got[f"a{i}"] for i in range(8)}
    b_labels = {got[f"b{i}"] for i in range(8)}
    assert len(a_labels) == 1 and len(b_labels) == 1, (a_labels, b_labels)
    assert a_labels != b_labels
    assert q1_violations(res_on).count() == 0


def test_bridge_breaking_off_fuses_families_e2e(spark):
    turns = _bridged_corpus(spark)
    res_off = EntityResolverPipeline(_bridge_cfg(False)).resolve(spark, turns)
    got = {r["conv_id"]: r["cluster"] for r in res_off.collect()}
    # sanity that the bridge actually fused the component without the pass
    assert got["a0"] == got["b0"]


def test_tool_conflict_family_splits_e2e(spark):
    """A metadata-conflicting merged family (identical text, disjoint
    tool sets) must split under the default config (Q3 analog on by
    default, reference validator.py:87-141)."""
    base = "case70001 widget order refund status check please help now"
    rows = [(f"t{i}", base + f" v{i}", "search_tool" if i < 3 else "mailer_tool")
            for i in range(6)]
    turns = _single_turn_corpus(spark, rows)
    res = EntityResolverPipeline().resolve(spark, turns)
    got = {r["conv_id"]: r["cluster"] for r in res.collect()}
    search_side = {got[f"t{i}"] for i in range(3)}
    mailer_side = {got[f"t{i}"] for i in range(3, 6)}
    assert len(search_side) == 1 and len(mailer_side) == 1
    assert search_side != mailer_side
    assert q1_violations(res).count() == 0


def test_precision_perfect_on_shared_block_negatives(resolved, corpus):
    """The north rule scores F1 at shared blocking keys: the corpus's
    `hard_negative_shared_block` pairs are co-blocked by construction
    (identical first turn, same rare anchor), so every one the pipeline
    clusters together is a precision miss the blocker could not have
    hidden. The head+tail-window string scoring (pairs.py) is what
    earns this — head-only scoring merged ~1/4 of these pairs."""
    _, labeled = corpus
    res, _ = resolved
    cl = res.select("conv_id", "cluster")
    j = (
        labeled.where("perturbation = 'hard_negative_shared_block'")
        .join(cl.withColumnRenamed("conv_id", "conv_id_a").withColumnRenamed("cluster", "ca"), "conv_id_a")
        .join(cl.withColumnRenamed("conv_id", "conv_id_b").withColumnRenamed("cluster", "cb"), "conv_id_b")
    )
    n = j.count()
    fp = j.filter("ca = cb").count()
    assert n > 0, "shared-block negatives missing from the labeled pairs"
    assert fp == 0, f"{fp}/{n} co-blocked non-duplicates were clustered together"


# ---------------------------------------------------------------------------
# round-5: golden value checks (VERDICT r4 directive #3). Determinism of
# the pipeline is proven by test_determinism_two_runs; pinning the content
# hash turns the flagship's rows-only driver entry into a de-facto value
# check — a wrong-but-deterministic semantic regression now fails HERE.
#
# UPDATE PROCEDURE (deliberate semantic changes only): re-run
#   python -c "from entity_resolver_spark.session import get_spark; \
#     s = get_spark(app_name='entity_resolver_tests', cores=8, shuffle_partitions=8); \
#     import __spark_entry__ as e; \
#     from entity_resolver_spark.operators.report import content_hash; \
#     print(content_hash(e.entry(s)))"
# (and the corpus_spark(n_base=60) equivalent below), review WHY the
# output changed (the diff of res.collect() against main), then update
# the constants in the same commit as the semantic change.
# ---------------------------------------------------------------------------

GOLDEN_FLAGSHIP_SF0001 = "22:-5120476690676114170"
GOLDEN_CORPUS_60 = "223:-646269032542509084"


def test_golden_flagship_content_hash(spark):
    import __spark_entry__ as entry
    from entity_resolver_spark.operators.report import content_hash

    assert content_hash(entry.entry(spark)) == GOLDEN_FLAGSHIP_SF0001


def test_golden_corpus_content_hash(resolved):
    from entity_resolver_spark.operators.report import content_hash

    res, _ = resolved
    assert content_hash(res) == GOLDEN_CORPUS_60
