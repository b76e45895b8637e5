"""Graph-shaped operators: connected-components dedup clustering and
the binned interval join.

Near-dup detection (dedup.py) emits PAIRS; a curation pipeline needs
CLUSTERS — the transitive closure of the pair relation, one canonical
id per group — because near-duplication chains (A~B, B~C, A≁C) must
collapse to one kept document. Connected components over the pair
graph is the standard formulation (the reference has no such operator
— pure [ext] per BASELINE.json's dedup north star).

Scale design: component labels converge by min-label propagation
over the near-dup KEY GROUPS themselves, with no edge list: a round
is one window shuffle on the key (the group's min label) plus one
aggregate on the id (the min over its groups) — O(diameter) rounds,
each checkpointed to truncate the lineage, the convergence count
observed in that same job (`session.checkpoint`). State per round is
one row per (id, key) membership; a hot key is one skewed window
partition, as the star window of `_star_edges` is. For pathological
diameters switch to the large-star/small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14).

The interval join turns an O(|L|·|R|) nested-loop time-range join
into an equi-join on (key, time-bin) with bin width = window length:
each probe row lands in at most 2 bins, so the join is shuffled hash/
sort-merge on a compound key — the plan that survives 100 TB, guarded
in tests against nested-loop regression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gmt_dbt_spark.catalog import sql_over, table
from gmt_dbt_spark.registry import query
from gmt_dbt_spark.session import checkpoint


# Round budgets. Propagation needs O(diameter) rounds, so past
# CC_MAX_ITER it raises and points at star contraction, whose
# O(log² n) rounds STAR_MAX_ROUNDS bounds with a wide margin.
CC_MAX_ITER = 25
STAR_MAX_ROUNDS = 50


def group_components(members: DataFrame) -> DataFrame:
    """Min-label propagation over rows (id, groups), ``groups`` an array
    of keys: ids sharing a non-null key are connected. Returns (id,
    comp), comp = the smallest reachable id. A round explodes the keys,
    takes the min label over a window on each key (a NULL key windows
    on its own id: it groups nothing), then groups by id, collecting
    the keys back. Labels start at the id, so round 1 reads
    ``members`` directly. The round's checkpoint counts the labels it
    lowered; the loop stops on a round lowering none and raises with
    the counts past CC_MAX_ITER (then use `connected_components_star`)."""
    cur = members.select("id", F.col("id").alias("comp"), "groups")
    w = Window.partitionBy("g", F.when(F.col("g").isNull(), F.col("id")))
    lowered = []
    for _ in range(CC_MAX_ITER):
        # `prev` keeps the round's input label so the checkpoint job
        # itself can count the labels this round lowered
        cur, obs = checkpoint(
            cur.select("id", "comp", F.explode_outer("groups").alias("g"))
            .withColumn("m", F.min("comp").over(w))
            .groupBy("id")
            .agg(F.min("m").alias("comp"), F.min("comp").alias("prev"),
                 F.collect_list("g").alias("groups")),
            changed=F.count_if(F.col("comp") < F.col("prev")),
        )
        lowered.append(obs.changed)
        if obs.changed == 0:
            return cur.select("id", "comp")
    raise RuntimeError(f"connected_components did not converge in {CC_MAX_ITER} rounds "
                       f"(labels lowered per round: {lowered})")


def connected_components(
    nodes: DataFrame, edges: DataFrame, id_col: str = "id"
) -> DataFrame:
    """`group_components` over undirected (src, dst) edges: each edge
    is a 2-member group keyed by (least, greatest), self-loops
    dropped; a node on no edge is a singleton. Returns (id, comp)."""
    e = edges.filter(F.col("src") != F.col("dst"))
    key = F.struct(F.least("src", "dst"), F.greatest("src", "dst")).alias("g")
    ends = e.select(F.explode(F.array("src", "dst")).alias("id"), key)
    groups = ends.groupBy("id").agg(F.collect_list("g").alias("groups"))
    return group_components(nodes.select(F.col(id_col).alias("id")).join(groups, "id", "left"))


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the high-diameter complement to
    `connected_components`: label propagation needs O(diameter)
    rounds, while star operations contract the graph toward a forest
    of depth-1 stars in O(log² n) rounds REGARDLESS of diameter (a
    60-node chain converges in ~6 rounds where propagation needs 59).

    large-star (per node u): every strictly-larger neighbor re-points
    to min(Γ(u) ∪ {u}).  small-star (per larger endpoint u of each
    edge): u and its smaller neighbors all re-point to the minimum.
    Both are one groupBy-min + one rejoin — the same key-partitioned
    shuffle primitives as the propagation loop, so the 100 TB story
    is identical (state per round = current edge set, shuffled on
    node id; lineage truncated per round with localCheckpoint).
    Returns (id, comp) with comp = component-minimum node id.
    """
    e, obs = checkpoint(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        n=F.count(F.lit(1)),
    )

    def large_star(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        # point every edge from its larger endpoint to the smaller one
        pointed = cur.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = pointed.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
        relink = (
            pointed.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_link = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            relink.union(self_link)
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )

    for _ in range(STAR_MAX_ROUNDS):
        prev_n = obs.n
        nxt, obs = checkpoint(small_star(large_star(e)), n=F.count(F.lit(1)))
        # cheap gate first: a changed edge COUNT (observed by the
        # round's checkpoint job) proves non-convergence for free; the
        # exact two-sided exceptAll check (two shuffles) runs only when
        # counts match — so only the candidate-final rounds pay the
        # full set comparison (exactness preserved: equal counts with
        # different sets still fail the exceptAll test).
        changed = obs.n != prev_n or (
            nxt.exceptAll(e).limit(1).count() + e.exceptAll(nxt).limit(1).count()
        )
        e = nxt
        if not changed:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge in {STAR_MAX_ROUNDS} rounds"
        )

    # fixpoint reached: the edge set is a forest of depth-1 stars
    # (every edge points member → component minimum)
    pointed = e.select(
        F.greatest("u", "v").alias("id"), F.least("u", "v").alias("comp")
    ).groupBy("id").agg(F.min("comp").alias("comp"))
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(pointed, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    )


def _window_key(start: int):
    """md5 over the 5-token window at ``start`` — the cheap near-dup key
    (two staggered windows so prefix-sharing docs chain across keys),
    tagged with ``start`` so it groups only docs sharing it in the SAME
    window. NULL for an empty window (short or NULL text): no evidence."""
    win = F.slice(F.split(F.col("text"), " "), start, 5)
    return F.when(F.size(win) > 0, F.concat(F.lit(f"{start}:"), F.md5(F.concat_ws(" ", win))))


def _star_edges(keyed: DataFrame) -> DataFrame:
    """Per key group: min-id hub → every other member. Linear in
    group size (a q-member group yields q−1 edges, not q·(q−1)/2) —
    the property that keeps the edge set shuffle-able when a hot key
    collects thousands of near-identical documents."""
    w = Window.partitionBy("k")
    return (
        keyed.filter(F.col("k").isNotNull())
        .withColumn("src", F.min("doc_id").over(w))
        .filter(F.col("src") != F.col("doc_id"))
        .select("src", F.col("doc_id").alias("dst"))
    )


# Shared by dedup_clusters AND dedup_clusters_star: the two queries
# must stay label-identical (unit-test-pinned), so they verify against
# the SAME recursive transitive-closure CTE over the SAME keys.
_CLUSTERS_ORACLE = """
WITH RECURSIVE
w1 AS (SELECT doc_id, string_split(text,' ')[1:5] AS w FROM documents),
w2 AS (SELECT doc_id, string_split(text,' ')[6:10] AS w FROM documents),
e1 AS (SELECT MIN(doc_id) OVER (PARTITION BY md5(array_to_string(w,' '))) AS src,
              doc_id AS dst FROM w1 WHERE len(w) > 0),
e2 AS (SELECT MIN(doc_id) OVER (PARTITION BY md5(array_to_string(w,' '))) AS src,
              doc_id AS dst FROM w2 WHERE len(w) > 0),
edges AS (SELECT src, dst FROM e1 WHERE src <> dst
          UNION SELECT src, dst FROM e2 WHERE src <> dst),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
)
SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id
"""


def _cluster_edges(docs: DataFrame) -> DataFrame:
    k1, k2 = (docs.select("doc_id", _window_key(s).alias("k")) for s in (1, 6))
    return _star_edges(k1).union(_star_edges(k2)).distinct()


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTER assignment: documents sharing either of two
    staggered 5-token-window keys are connected, and every document
    is labeled with its component's min doc_id (singletons label
    themselves). Labels spread through the key groups directly
    (`group_components`), with no edge list. The oracle recomputes
    the same components via a recursive transitive-closure CTE —
    proving the iterative Spark loop equals the declarative
    fixpoint."""
    groups = F.array(_window_key(1), _window_key(6)).alias("groups")
    docs = table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"), groups)
    labels = group_components(docs)
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))


@query("dedup_clusters_star", oracle=_CLUSTERS_ORACLE)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_clusters` computed by the LARGE-STAR/SMALL-STAR
    contraction (`connected_components_star`) over star edges per key
    group — the algorithm to reach for when the pair graph has
    pathological diameter (propagation is O(diameter) rounds; star
    contraction is O(log² n) rounds regardless, Kiveris et al.
    SoCC'14). Same keys, same recursive-CTE oracle, and unit tests
    pin the two algorithms label-identical on the fixture plus a
    60-node chain the propagation loop refuses."""
    docs = table(spark, sf_dir, "documents")
    labels = connected_components_star(
        docs.select("doc_id"), _cluster_edges(docs), id_col="doc_id"
    )
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))


_KEEP_BEST_ORACLE = f"""
WITH labels AS ({_CLUSTERS_ORACLE}),
q AS (SELECT doc_id, length(text) AS n_chars FROM documents)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
       CAST(MIN(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS best_n_chars
FROM (
  SELECT l.doc_id, l.cluster_id, q.n_chars,
         ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                            ORDER BY q.n_chars DESC, l.doc_id) AS rn
  FROM labels l JOIN q USING (doc_id)
) r
GROUP BY cluster_id
"""


@query("pipeline_cluster_keep_best", oracle=_KEEP_BEST_ORACLE)
def pipeline_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step AFTER near-dup clustering in every curation pipeline:
    per duplicate cluster, KEEP the best member (longest text, ties to
    the lowest doc_id) and record the cluster's size — the policy that
    turns a component labeling into an actual keep/drop decision.

    Shape: cluster labels (min-label propagation over the staggered
    window-key groups — same plan as `dedup_clusters`) joined to a
    per-doc quality scalar, then ONE per-cluster aggregate where the
    argmax rides a lexicographic struct-max (max(struct(n_chars,
    -doc_id))) — no window over the full corpus, deterministic ties,
    exact integers end-to-end. Oracle = the recursive-CTE component
    fixpoint nested as a subquery + ROW_NUMBER argmax."""
    docs = table(spark, sf_dir, "documents")
    labels = dedup_clusters(spark, sf_dir)  # same labeling, one recipe
    q = docs.select("doc_id", F.length("text").alias("n_chars"))
    joined = labels.join(q, "doc_id")
    # ONE struct-max carries the whole argmax: n_chars maximized
    # first, then -doc_id (= lowest id on ties); both output columns
    # come from the same aggregate so they can never drift apart.
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            best.alias("__best"),
        )
        .select(
            "cluster_id",
            "n_members",
            (-F.col("__best.neg_id")).alias("kept_doc_id"),
            F.col("__best.n_chars").cast("bigint").alias("best_n_chars"),
        )
    )


_WINDOW_US = 60 * 60 * 1_000_000  # 60-minute interval, in microseconds


@query(
    "join_range_binned",
    oracle="""
SELECT a.event_id, COUNT(b.event_id) AS n_purchases
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') a
LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL '60 minutes'
GROUP BY a.event_id
""",
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join without a nested loop: purchases within 60 min
    after each click, same user. Both sides bin their timestamp by
    the window length; a qualifying purchase is always in the click's
    bin or the next, so the click side expands to 2 candidate bins
    (explode — bounded 2× blowup) and the join is a plain equi-join
    on (user_id, bin) + residual range filter. Plan-guarded: no
    BroadcastNestedLoopJoin at any size. Clicks with no purchase
    keep a 0 count via the left join."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("u_us"),
    )
    # integer division: exact binning (no float rounding at bin edges)
    c_bin = F.expr(f"t_us div {_WINDOW_US}")
    c = clicks.withColumn("bin", F.explode(F.array(c_bin, c_bin + F.lit(1))))
    p = purchases.withColumn("bin", F.expr(f"u_us div {_WINDOW_US}"))
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (c["bin"] == p["bin"])
        & (F.col("u_us") > F.col("t_us"))
        & (F.col("u_us") <= F.col("t_us") + F.lit(_WINDOW_US)),
        "left",
    )
    # the explode doubled each click; a click-with-no-match yields two
    # null rows and a matched purchase appears under exactly one bin,
    # so grouping by event_id and counting matches is exact.
    return joined.groupBy("event_id").agg(
        F.count("p_id").alias("n_purchases")
    )


_TRI_SQL = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 2
),
edges AS (
  SELECT DISTINCT a.sk AS s1, b.sk AS s2
  FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
)
SELECT COUNT(*) AS n_triangles,
       (SELECT COUNT(*) FROM edges) AS n_edges
FROM edges e1
JOIN edges e2 ON e1.s2 = e2.s1
JOIN edges e3 ON e1.s1 = e3.s1 AND e2.s2 = e3.s2
"""


@query("graph_triangles", oracle=_TRI_SQL)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the supplier co-supply graph (edge = two
    suppliers sharing a part) — the standard relational formulation:
    ordered edges (s1 < s2, each triangle counted once) self-joined
    twice. No graph library: the three equi-joins shuffle on node
    ids, so the plan scales like any fact⋈fact join and AQE handles
    skewed hub nodes. Edge generation is bounded by restricting to
    small parts (p_size ≤ 2) — the per-part pair blowup is the real
    scale hazard in co-occurrence graphs, and the restriction models
    the frequency-capping every production pipeline applies before
    pair expansion.

    r10 optimization pass (guide §3.3 plan truncation): Spark does
    not materialize SQL CTEs — the `edges` CTE re-expanded FOUR
    times (e1/e2/e3 + the scalar count), each expansion replaying
    the lineitem⋈part scan, the per-part pair join, and the distinct
    (12 parquet scans, 25 exchanges in the old plan). The edge list
    (two ints/row) is now localCheckpoint'd once and the triangle
    join + edge count read it: 0 parquet scans in the final plan,
    same values (the oracle SQL is unchanged)."""
    ps = sql_over(
        spark,
        sf_dir,
        ["lineitem", "part"],
        """SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_size <= 2""",
    )
    a, b = ps.alias("a"), ps.alias("b")
    # the checkpoint job also counts the edges: the count sizes the
    # broadcast guard below AND is the query's n_edges output column,
    # so neither costs a job of its own
    edges, obs = checkpoint(
        a.join(b, (F.col("a.pk") == F.col("b.pk")) & (F.col("a.sk") < F.col("b.sk")))
        .select(F.col("a.sk").alias("s1"), F.col("b.sk").alias("s2"))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    # AQE coalesces the small distinct shuffle to ONE partition, and
    # the checkpoint keeps it — which would run the entire wedge
    # stream on one core. Re-spread the PROBE side to the session's
    # parallelism (scale-adaptive, not a constant; a 4 MB exchange).
    e1 = edges.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("s1").alias("x1"), F.col("s2").alias("x2")
    )
    e2 = edges.select(F.col("s1").alias("y1"), F.col("s2").alias("y2"))
    e3 = edges.select(F.col("s1").alias("z1"), F.col("s2").alias("z2"))
    # Broadcast the (16 B/row, frequency-capped) edge list into the
    # triangle probes: the WEDGE stream (paths of length 2 — orders
    # of magnitude larger than the edge list) then never exchanges
    # or sorts; it probes two hash relations inside one codegen
    # stage. Measured at sf0.1 (240 K edges, 20.2 M triangles),
    # back-to-back warm min-of-3: old 4-fold CTE plan 5.45 s;
    # checkpoint alone (AQE left the wedge SMJ + 1-partition stream)
    # 11.0; checkpoint + broadcasts + re-spread 4.27. The p_size ≤ 2
    # frequency cap is what bounds the edge list, the same cap that
    # bounds the pair blowup.
    #
    # The broadcast is SIZE-GUARDED by Spark's own broadcast budget,
    # spark.sql.autoBroadcastJoinThreshold, at 16 B per edge row: the
    # p_size cap bounds the edge list TODAY, but an unconditional
    # broadcast would OOM executors if the cap or the data
    # distribution changed. Past the guard (or with broadcasts
    # disabled, threshold ≤ 0) the wedge joins fall back to hinted
    # SHUFFLE_HASH — still sort-free, keyed on high-cardinality node
    # ids, identical pair semantics (pinned by test).
    budget = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if budget > 0 and obs.n * 16 <= budget:
        e2b, e3b = F.broadcast(e2), F.broadcast(e3)
    else:
        e2b, e3b = e2.hint("SHUFFLE_HASH"), e3.hint("SHUFFLE_HASH")
    tri = (
        e1.join(e2b, F.col("x2") == F.col("y1"))
        .join(
            e3b,
            (F.col("x1") == F.col("z1")) & (F.col("y2") == F.col("z2")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = spark.createDataFrame([(obs.n,)], "n_edges bigint")
    return tri.crossJoin(F.broadcast(n_edges))


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bidirectional customer⇄supplier purchase graph shared by
    `graph_pagerank` and `graph_bfs_levels`: distinct (customer,
    supplier) pairs from orders⋈lineitem plus their reverses,
    checkpointed once. Node ids are disambiguated by PARITY
    (customer = 2·key, supplier = 2·key+1)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)


@query(
    "graph_pagerank",
    oracle="""
WITH e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM e0
  UNION ALL
  SELECT dst AS src, src AS dst FROM e0
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
r1 AS (
  SELECT e.dst AS node,
         CAST(150000 + (85 * SUM(r.r // deg.d)) // 100 AS BIGINT) AS r
  FROM edges e JOIN r0 r ON r.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         CAST(150000 + (85 * SUM(r.r // deg.d)) // 100 AS BIGINT) AS r
  FROM edges e JOIN r1 r ON r.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         CAST(150000 + (85 * SUM(r.r // deg.d)) // 100 AS BIGINT) AS r
  FROM edges e JOIN r2 r ON r.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)
SELECT node, r AS rank_micro,
       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END
         AS node_type
FROM r3
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the REAL customer⇄supplier purchase graph
    (distinct (customer, supplier) pairs from orders⋈lineitem, made
    bidirectional so the walk has no dangling sinks) — the link-based
    quality weighting a web-corpus curation pipeline applies per
    domain. 3 Lloyd-style power iterations with damping 0.85.

    EXACT INTEGER arithmetic end-to-end (ranks in micro-units,
    contributions via bigint floor division, damping as 85·x÷100):
    that is what lets an ITERATIVE algorithm be fully ORACLE-HASHED —
    the DuckDB oracle unrolls the same three iterations as CTEs and
    every rank matches bit-exactly, where float PageRank would differ
    in the last ulp by reduction order. Scale shape per iteration:
    one equi-join on the rank key + one dst-keyed aggregate, both
    map-side combinable; edges/degrees are localCheckpoint'd once,
    rank lineage is truncated per round (the iterative-algorithm
    pitfall CC already documents). The bipartite node space is
    disambiguated by PARITY (customer = 2·key, supplier = 2·key+1) —
    bijective at ANY scale factor, unlike a fixed offset which TPC-H
    custkeys would collide with past SF≈7."""
    edges = _purchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # contribution-ready edge list: (src, dst, d) — checkpointed once,
    # reused by every iteration
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    ranks = deg.select("src", F.lit(1000000).cast("bigint").alias("r")).withColumnRenamed(
        "src", "node"
    )
    for _ in range(3):
        ranks = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", F.expr("r div d").alias("contrib"))
            .groupBy("dst")
            .agg(
                F.expr("CAST(150000 + (85 * SUM(contrib)) div 100 AS BIGINT)").alias(
                    "r"
                )
            )
            .withColumnRenamed("dst", "node")
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_micro"),
        F.when(F.col("node") % 2 == 1, "supplier")
        .otherwise("customer")
        .alias("node_type"),
    )


@query(
    "graph_bfs_levels",
    oracle="""
WITH e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM e0
  UNION ALL
  SELECT dst AS src, src AS dst FROM e0
),
l0 AS (SELECT CAST(2 AS BIGINT) AS node),
l1 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN l0 ON l0.node = e.src
  WHERE e.dst NOT IN (SELECT node FROM l0)
),
l2 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN l1 ON l1.node = e.src
  WHERE e.dst NOT IN (SELECT node FROM l0)
    AND e.dst NOT IN (SELECT node FROM l1)
),
l3 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN l2 ON l2.node = e.src
  WHERE e.dst NOT IN (SELECT node FROM l0)
    AND e.dst NOT IN (SELECT node FROM l1)
    AND e.dst NOT IN (SELECT node FROM l2)
)
SELECT node, 0 AS hop,
       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS node_type
FROM l0
UNION ALL SELECT node, 1,
       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END FROM l1
UNION ALL SELECT node, 2,
       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END FROM l2
UNION ALL SELECT node, 3,
       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END FROM l3
""",
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search over the purchase graph: exact hop
    distance (≤ 3) from customer #1 — 'who is in this account's
    2nd/3rd-degree supply neighborhood', the reachability primitive
    under fraud rings, recommendation halos, and blast-radius
    queries. Third iterative graph algorithm with a FULL HASH ORACLE
    (after pagerank and connected components): levels are SETS, so
    there is no arithmetic at all to drift — DuckDB unrolls the same
    frontier expansion as CTEs and must produce the identical node
    partition.

    Scale shape per level: frontier ⋈ edges (equi-join on node key)
    → distinct → anti-join against the visited set; frontier and
    visited are node-id lists (8 bytes/row), the edge table is
    checkpointed once, and each level's output is checkpointed to
    truncate lineage — the same O(diameter)-rounds discipline as
    dedup_clusters. BFS from a single source floods to the whole
    component in O(diameter) such rounds regardless of corpus
    size."""
    edges = _purchase_edges(spark, sf_dir)

    node_type = F.when(F.col("node") % 2 == 1, "supplier").otherwise("customer")
    frontier = spark.createDataFrame([(2,)], "node bigint").localCheckpoint(
        eager=True
    )
    visited = frontier
    out = frontier.select("node", F.lit(0).alias("hop"), node_type.alias("node_type"))
    for hop in (1, 2, 3):
        nxt = (
            edges.join(frontier, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint(eager=True)  # truncate per-level lineage
        )
        out = out.unionByName(
            nxt.select("node", F.lit(hop).alias("hop"), node_type.alias("node_type"))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return out
