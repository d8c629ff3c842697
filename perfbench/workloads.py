"""The benchmark's workloads. Each one is a closed loop with one client:
`step` runs the next operation only after the previous one returned.

A workload builds its inputs from `corpus_distributed(seed=...)` in
`setup`, runs timed operations in `step`, checks every output it gets
back, and reports output quality in `quality`. A failed check raises
`CheckFailed` or is counted in the step's `failed`; any other exception
is counted as a failure by the runner.
"""

from __future__ import annotations

import sys
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import functions as F


class CheckFailed(Exception):
    """An output broke one of the workload's correctness rules."""


@dataclass(frozen=True)
class Sizes:
    resolve_turns: int      # turns of the resolve_mixed corpus, to one family
    viral_members: int      # members of its one viral family
    neardup_turns: int      # turns of the neardup_docs corpus, to one family
    queries: int            # top-k queries per neardup pass


FULL = Sizes(resolve_turns=3000, viral_members=200, neardup_turns=3000, queries=20)
TINY = Sizes(resolve_turns=500, viral_members=20, neardup_turns=360, queries=4)

MEMBERS = 4  # members per ordinary family
MIN_FAMILY_TURNS = MEMBERS * 3  # 4 turns, one of them lost to truncation


def sized_corpus(spark, turns: int, seed: int, viral_members: int = 0):
    """(corpus, families): the fewest families of `corpus_distributed`
    whose turns reach `turns`, plus one viral family if `viral_members`.

    A family's conversations all draw one turn count, 4 to 11, so a
    corpus of a fixed number of families moves with the seed (the viral
    family alone by a fifth); sizing by turns keeps `turns_per_s` a
    measure of speed. A smaller corpus is a prefix of a larger one
    (every value hashes from its family, member and turn, and the
    keyword pool has one size below 1000 families), so the count comes
    from one oversized corpus."""
    from entity_resolver_spark.datagen import corpus_distributed

    def corpus(n_families):
        return corpus_distributed(
            spark, n_families, members=MEMBERS, seed=seed,
            viral_families=int(viral_members > 0), viral_members=viral_members)

    cap = turns // MIN_FAMILY_TURNS + 1
    assert cap < 1000, "the corpus would not be a prefix of the oversized one"
    per_family = dict(corpus(cap).groupBy(family_col()).count().collect())
    total = 0
    for fam in range(cap):
        total += per_family[fam]
        if total >= turns:
            return corpus(fam + 1), fam + 1
    raise AssertionError(f"{cap} families hold only {total} turns")


@dataclass
class Step:
    """One timed operation's accounting."""
    attempted: int
    failed: int
    turns: int   # input turns the operation processed


def family_col(conv_col="conv_id"):
    """Family id from a corpus_distributed conv_id (`f<fam>_m<member>`)."""
    return F.substring(conv_col, 2, 7).cast("long")


def member_col(conv_col="conv_id"):
    return F.split(conv_col, "_m").getItem(1).cast("int")


def _family(conv_id: str) -> int:
    return int(conv_id[1:8])


def pairwise_f1(cluster_of: dict, family_of: dict) -> float:
    """Pairwise F1 of a clustering against family ground truth, by
    contingency counting (the same rule as datagen.pairwise_prf)."""
    def pairs(counts):
        return sum(n * (n - 1) // 2 for n in counts.values())

    cell, by_cluster, by_family = defaultdict(int), defaultdict(int), defaultdict(int)
    for conv, cl in cluster_of.items():
        fam = family_of[conv]
        cell[(fam, cl)] += 1
        by_cluster[cl] += 1
        by_family[fam] += 1
    tp, tp_fp, tp_fn = pairs(cell), pairs(by_cluster), pairs(by_family)
    p = tp / tp_fp if tp_fp else 1.0
    r = tp / tp_fn if tp_fn else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


class ResolveMixed:
    """`EntityResolverPipeline.resolve` on ordinary families plus one
    viral family, to a materialized output."""

    name = "resolve_mixed"

    def __init__(self, spark, seed: int, sizes: Sizes) -> None:
        self.spark, self.seed, self.sizes = spark, seed, sizes
        self.pipe = self.last = None  # the latest timed resolve

    def setup(self) -> None:
        from entity_resolver_spark.lineage import eager_cut

        corpus, _ = sized_corpus(self.spark, self.sizes.resolve_turns, self.seed,
                                 viral_members=self.sizes.viral_members)
        self.turns = eager_cut(corpus)
        row = self.turns.agg(F.count("*"), F.countDistinct("conv_id")).first()
        self.n_turns, self.n_convs = row[0], row[1]

    def step(self) -> Step:
        from entity_resolver_spark import EntityResolverPipeline

        pipe = EntityResolverPipeline()
        res = pipe.resolve(self.spark, self.turns)
        n, n_ids = res.agg(F.count("*"), F.countDistinct("conv_id")).first()
        if (n, n_ids) != (self.n_convs, self.n_convs):
            raise CheckFailed(
                f"resolve returned {n} rows for {n_ids} conversations; "
                f"expected one row for each of {self.n_convs}")
        self.pipe, self.last = pipe, res
        return Step(1, 0, self.n_turns)

    def quality(self) -> dict:
        rows = self.last.select("conv_id", "cluster").collect()
        cluster_of = {r[0]: r[1] for r in rows}
        family_of = {c: _family(c) for c in cluster_of}
        base_cluster = {family_of[c]: cl for c, cl in cluster_of.items() if c.endswith("_m0")}
        probes = [c for c in cluster_of if not c.endswith("_m0")]
        placed = sum(cluster_of[c] == base_cluster[family_of[c]] for c in probes)
        return {
            "pairwise_f1": pairwise_f1(cluster_of, family_of),
            "assign_recall": placed / len(probes),
        }

    def layer_extras(self) -> dict:
        m = {r["stage"]: r for r in self.pipe.metrics}
        return {"blocking.edge_yield": m["edges"]["match_edges"] / max(m["pairs"]["rows"], 1)}


# operator -> (score column, rule the score must meet)
_FLOORS = {
    "minhash": ("jaccard", lambda v: v >= 0.7),
    "simhash": ("hamming", lambda v: v <= 3),
    "ngram": ("jaccard", lambda v: v >= 0.5),
    "embedding": ("cosine", lambda v: v >= 0.95),
}
TOPK = 10
DOC_STRIDE = 16  # doc_id = family * DOC_STRIDE + member


def _report(op: str, ok: bool) -> bool:
    if not ok:
        print(f"perfbench: {op} output failed its check", file=sys.stderr)
    return ok


class NeardupDocs:
    """The standalone near-duplicate and top-k operators over the
    collapsed documents of a corpus. One step is one pass over all six
    operators."""

    name = "neardup_docs"

    def __init__(self, spark, seed: int, sizes: Sizes) -> None:
        self.spark, self.seed, self.sizes = spark, seed, sizes
        self.found: set[tuple[int, int]] = set()
        self.pairs: dict[str, int] = defaultdict(int)
        self.passes = 0

    def setup(self) -> None:
        from entity_resolver_spark.lineage import eager_cut
        from entity_resolver_spark.operators.collapse import collapse_turns

        turns, self.n_families = sized_corpus(self.spark, self.sizes.neardup_turns, self.seed)
        # integral ids keep embedding_dup_pairs on its verify kernel
        self.docs = eager_cut(collapse_turns(turns).select(
            (family_col() * DOC_STRIDE + member_col()).alias("doc_id"), "doc", "n_turns"))
        self.n_turns = self.docs.agg(F.sum("n_turns")).first()[0]

    def _check_pairs(self, op: str, rows) -> bool:
        col, meets = _FLOORS[op]
        keys = [(r["id_a"], r["id_b"]) for r in rows]
        self.pairs[op] += len(rows)
        ok = (all(a < b for a, b in keys) and len(set(keys)) == len(keys)
              and all(meets(r[col]) for r in rows))
        self.found.update(keys)
        return _report(op, ok)

    def _check_topk(self, op: str, rows, queries: set, exact: bool) -> bool:
        """Ranks 1..n without gaps, no self match, no repeated neighbour,
        scores non-increasing; n == k when the search is exact (IVF may
        find fewer than k in the cells it probes)."""
        by_q = defaultdict(list)
        for r in rows:
            by_q[r["query_id"]].append(r)
        ok = set(by_q) <= queries and (not exact or set(by_q) == queries)
        for q, hits in by_q.items():
            hits.sort(key=lambda r: r["rk"])
            n = TOPK if exact else len(hits)
            ok &= [r["rk"] for r in hits] == list(range(1, n + 1)) and n <= TOPK
            ok &= all(r["nn_id"] != q for r in hits)
            ok &= len({r["nn_id"] for r in hits}) == len(hits)
            ok &= all(a["cosine"] >= b["cosine"] for a, b in zip(hits, hits[1:]))
        return _report(op, ok)

    def step(self) -> Step:
        from entity_resolver_spark.functions.embed import embed_texts
        from entity_resolver_spark.lineage import eager_cut
        from entity_resolver_spark.operators import ann, dedup

        docs = self.docs.select("doc_id", "doc")
        failed = 0
        for op, fn in (("minhash", dedup.minhash_lsh_pairs),
                       ("simhash", dedup.simhash_pairs),
                       ("ngram", dedup.ngram_jaccard_pairs)):
            failed += not self._check_pairs(op, fn(docs, "doc", "doc_id").collect())

        emb = eager_cut(embed_texts(docs, text_col="doc"))
        rows = dedup.embedding_dup_pairs(emb, id_col="doc_id").collect()
        failed += not self._check_pairs("embedding", rows)

        queries = (
            emb.orderBy(F.xxhash64("doc_id", F.lit(self.seed)), "doc_id")
            .limit(self.sizes.queries).withColumnRenamed("doc_id", "query_id")
        )
        qids = {r[0] for r in queries.select("query_id").collect()}
        for fn, exact in ((ann.brute_force_topk, True), (ann.ivf_topk, False)):
            rows = fn(emb, queries, k=TOPK, id_col="doc_id").collect()
            self.pairs["ann.topk"] += len(rows)
            failed += not self._check_topk(fn.__name__, rows, qids, exact)
        self.passes += 1
        return Step(6, failed, self.n_turns)

    def quality(self) -> dict:
        n_fam = self.n_families
        true_pairs = n_fam * MEMBERS * (MEMBERS - 1) // 2
        tp = sum(a // DOC_STRIDE == b // DOC_STRIDE for a, b in self.found)
        p = tp / len(self.found) if self.found else 1.0
        r = tp / true_pairs
        base_linked = {b for a, b in self.found
                       if a % DOC_STRIDE == 0 and a // DOC_STRIDE == b // DOC_STRIDE}
        return {
            "pairwise_f1": 2 * p * r / (p + r) if p + r else 0.0,
            "assign_recall": len(base_linked) / (n_fam * (MEMBERS - 1)),
        }

    def layer_extras(self) -> dict:
        return {f"dedup.{op}.pairs": n / self.passes for op, n in self.pairs.items()}


WORKLOADS = {w.name: w for w in (NeardupDocs, ResolveMixed)}
