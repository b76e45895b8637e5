"""Connected-components clustering + binned interval join.
(dedup_clusters / join_range_binned value-correctness vs DuckDB is in
the parametrized oracle test; here we pin transitivity and the plan.)"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gmt_dbt_spark.operators.graph import connected_components
from gmt_dbt_spark.registry import all_queries

from tests.conftest import SF_DIR
from tests.test_plans import plan_of, tree_of


def test_components_merge_chains(spark):
    """A~B and B~C (but never A~C directly) must land in ONE
    component — the transitive property that makes clusters differ
    from raw pair output. Plus an isolated node and a 4-chain."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 8)], "src bigint, dst bigint"
    )
    got = {
        r.id: r.comp for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 5, 8: 5}


def test_components_direction_irrelevant(spark):
    """Edges are undirected: a high→low edge must still pull the
    high node down to the low label."""
    nodes = spark.createDataFrame([(i,) for i in (10, 20, 30)], "id bigint")
    edges = spark.createDataFrame([(30, 20), (20, 10)], "src bigint, dst bigint")
    got = {r.id: r.comp for r in connected_components(nodes, edges).collect()}
    assert got == {10: 10, 20: 10, 30: 10}


def test_dedup_clusters_nontrivial(spark):
    """The documents corpus must yield at least one multi-document
    cluster (near-dups exist by construction) and label every doc."""
    out = all_queries()["dedup_clusters"](spark, SF_DIR)
    n_docs = out.count()
    from gmt_dbt_spark.catalog import table

    assert n_docs == table(spark, SF_DIR, "documents").count()
    sizes = out.groupBy("cluster_id").count()
    assert sizes.filter(F.col("count") > 1).count() >= 1


def test_range_binned_join_no_nested_loop(spark):
    """The binned interval join must plan as an equi-join on
    (user, bin) — never a nested-loop/cartesian — at ANY size; this
    is the whole point of the binning rewrite."""
    tree = tree_of(plan_of(all_queries()["join_range_binned"](spark, SF_DIR)))
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference implementation: union-find with min-label roots."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller id as root so labels are min-ids
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {i: find(i) for i in range(n_nodes)}


def test_components_match_union_find_on_random_graphs(spark):
    """The distributed min-label loop must agree with a sequential
    union-find on arbitrary random graphs (seeded; several shapes:
    sparse, dense-ish, self-loops, duplicate and reversed edges)."""
    import random

    rng = random.Random(20260813)
    for trial in range(6):
        n = rng.randint(2, 40)
        m = rng.randint(0, 60)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        expect = _union_find_components(n, edges)

        nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
        if edges:
            edf = spark.createDataFrame(edges, "src bigint, dst bigint")
        else:
            edf = spark.createDataFrame([], "src bigint, dst bigint")
        got = {r.id: r.comp for r in connected_components(nodes, edf).collect()}
        assert got == expect, f"trial {trial}: n={n} edges={edges}"


def test_star_contraction_matches_union_find_on_random_graphs(spark):
    """Large-star/small-star must agree with sequential union-find on
    the same randomized graph shapes as the propagation test."""
    import random

    from gmt_dbt_spark.operators.graph import connected_components_star

    rng = random.Random(20260814)
    for trial in range(6):
        n = rng.randint(2, 40)
        m = rng.randint(0, 60)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        expect = _union_find_components(n, edges)

        nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
        if edges:
            edf = spark.createDataFrame(edges, "src bigint, dst bigint")
        else:
            edf = spark.createDataFrame([], "src bigint, dst bigint")
        got = {
            r.id: r.comp for r in connected_components_star(nodes, edf).collect()
        }
        assert got == expect, f"trial {trial}: n={n} edges={edges}"


def test_star_contraction_handles_high_diameter_chain(spark):
    """A 60-node path has diameter 59: min-label propagation cannot
    converge within its 25-round budget (it raises — the documented
    boundary), while star contraction collapses it in O(log² n)
    rounds. This is exactly the regime the SoCC'14 algorithm exists
    for."""
    import pytest as _pytest

    from gmt_dbt_spark.operators.graph import (
        CC_MAX_ITER,
        connected_components,
        connected_components_star,
    )

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    with _pytest.raises(RuntimeError, match="did not converge") as err:
        connected_components(nodes, chain)
    # round r lowers the labels of nodes r..59: the error lists them
    lowered = ", ".join(str(n - 1 - r) for r in range(CC_MAX_ITER))
    assert f"labels lowered per round: [{lowered}]" in str(err.value)
    got = {r.id: r.comp for r in connected_components_star(nodes, chain).collect()}
    assert got == {i: 0 for i in range(n)}


def test_group_components_match_union_find_on_random_hypergraphs(spark):
    """Propagation over group memberships must agree with sequential
    union-find, where a group of q members is q−1 edges (seeded; group
    sizes 1–5, NULL keys, NULL and empty key arrays, singletons)."""
    import random

    from gmt_dbt_spark.operators.graph import group_components

    rng = random.Random(20261020)
    for trial in range(4):
        n = rng.randint(2, 40)
        groups = [rng.sample(range(n), rng.randint(1, min(5, n)))
                  for _ in range(rng.randint(0, 15))]
        keys: dict[int, list] = {i: [] for i in range(n)}
        for g, members in enumerate(groups):
            for i in members:
                keys[i].append(f"g{g}")
        rows = []
        for i, ks in keys.items():
            roll = rng.random()
            if not ks and roll < 0.3:
                rows.append((i, None))
            else:
                rows.append((i, ks + [None] * (roll < 0.5)))
        expect = _union_find_components(
            n, [(m[0], x) for m in groups for x in m[1:]]
        )
        members = spark.createDataFrame(rows, "id bigint, groups array<string>")
        got = {r.id: r.comp for r in group_components(members).collect()}
        assert got == expect, f"trial {trial}: n={n} groups={groups}"


def test_dedup_clusters_build_jobs(spark):
    """dedup_clusters spreads labels through its key groups: on the
    sf0.01 fixture it builds in two rounds of 3 jobs, with no edge
    list and no identity-label checkpoint."""
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    q = all_queries()["dedup_clusters"]
    q(spark, sf)  # a session's first scan of a file infers its schema
    j0 = _jobs(spark)
    q(spark, sf)
    assert _jobs(spark) - j0 <= 6


def test_dedup_clusters_star_equals_propagation(spark):
    """Both CC algorithms must label the fixture corpus identically."""
    qs = all_queries()
    a = {(r.doc_id, r.cluster_id) for r in qs["dedup_clusters"](spark, SF_DIR).collect()}
    b = {
        (r.doc_id, r.cluster_id)
        for r in qs["dedup_clusters_star"](spark, SF_DIR).collect()
    }
    assert a == b and len(a) > 0


def test_triangles_broadcast_guard_fallback_identical(spark):
    """graph_triangles' wedge-probe broadcast is size-guarded by
    spark.sql.autoBroadcastJoinThreshold at 16 B per edge: past it
    (here: broadcasts disabled) the probes fall back to hinted
    SHUFFLE_HASH instead of an unconditional broadcast that would OOM
    executors on an uncapped edge list. The fallback must produce the
    identical surface — and must actually be the shuffled-hash plan,
    not a silently re-broadcast one."""
    from gmt_dbt_spark.session import scoped_conf

    sf = "/root/testdata/sf0.001"
    q = all_queries()["graph_triangles"]
    base = {tuple(r) for r in q(spark, sf).collect()}
    with scoped_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = q(spark, sf)
        got = {tuple(r) for r in df.collect()}
        tree = tree_of(plan_of(df))
    assert got == base
    assert "ShuffledHashJoin" in tree, tree


def _jobs(spark) -> int:
    """The DAG scheduler's next job id: the delta across a block is the
    number of Spark jobs submitted inside it."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_checkpoint_observes_empty_frames(spark):
    """An empty frame and a zero-partition join result both observe a
    count of 0 — the checkpoint job must not block waiting for
    metrics that no task reports."""
    from gmt_dbt_spark.session import checkpoint

    empty = spark.createDataFrame([], "a bigint")
    zero = spark.createDataFrame(spark.sparkContext.emptyRDD(), "a bigint")
    joined = zero.join(zero.withColumnRenamed("a", "b"), F.col("a") == F.col("b"))
    assert joined.rdd.getNumPartitions() == 0
    for df in (empty, joined):
        out, obs = checkpoint(df, n=F.count(F.lit(1)), hi=F.count_if(F.col("a") > 0))
        assert (obs.n, obs.hi) == (0, 0)
        assert out.collect() == []


def test_checkpoint_metrics_cost_no_extra_job(spark):
    """checkpoint(df, n=count) launches exactly the jobs of the eager
    localCheckpoint alone: the count rides the checkpoint job."""
    from gmt_dbt_spark.session import checkpoint

    def frame():
        # a fresh plan each time, so no shuffle is reused across runs
        return spark.range(1000).repartition(4).withColumn("k", F.col("id") % 7)

    j0 = _jobs(spark)
    frame().localCheckpoint(eager=True)
    j1 = _jobs(spark)
    _, obs = checkpoint(frame(), n=F.count(F.lit(1)))
    j2 = _jobs(spark)
    assert obs.n == 1000
    assert j2 - j1 == j1 - j0, (j1 - j0, j2 - j1)


def test_components_jobs_per_round(spark):
    """Each extra propagation round costs at most 3 jobs (the key
    window's shuffle, the id aggregate's shuffle and the observed
    checkpoint — no separate convergence job): a 12-node chain needs
    6 rounds more than a 6-node chain."""

    def run(n: int) -> int:
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
        )
        j0 = _jobs(spark)
        got = {r.id: r.comp for r in connected_components(nodes, chain).collect()}
        assert got == {i: 0 for i in range(n)}
        return _jobs(spark) - j0

    assert run(12) - run(6) <= 18
