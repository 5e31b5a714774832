"""Near-duplicate cluster assignment: connected components over pair edges.

The step after any pairwise dedup tier: near-dup PAIRS (from jaccard /
simhash / minhash) must become CLUSTERS so one canonical document per
component survives. Components are computed by iterative min-label
propagation — each round every vertex adopts the smallest label among
itself and its neighbors; at the fixpoint every component is labeled by
its minimum doc_id. The fixpoint is unique and order-independent, so
the result is deterministic and a DuckDB recursive CTE can replay it
value-exact.

Scale shape: each round is one join edges⋈labels + one min-aggregation
— all key-partitioned shuffles, no driver data; rounds needed = graph
diameter (near-dup components are overwhelmingly tiny cliques, so 2–3
rounds in practice; the loop caps at ``max_iters``). Every loop in this
module stages each generation (``stage.stage_frame``), so round k's plan
never re-derives rounds 1..k-1, and releases a superseded generation
once the next one has materialized. The CC, two-star and label
propagation convergence tests read scalars that the staging job itself
observed (``stage.stage_observed``), so those rounds run no separate
count/collect job. For planet-scale graphs swap the CC loop body for the
large-star/small-star variant — same interface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from ..stage import release, stage_frame, stage_observed


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iters: int = 10,
) -> DataFrame:
    """Label every vertex with its component's min id → (doc_id, cluster_id).

    ``vertices``: one column ``doc_id`` (singletons allowed — they come
    out as their own cluster). ``edges``: columns ``doc_a``/``doc_b``.

    Runs only staging jobs: the undirected edge list (carrying the
    round-1 labels) and every later label generation are staged, and
    the edge count and per-round convergence sum are observed by those
    same jobs. The result joins ``vertices`` with the final staged
    generation, so it is as cheap to re-read as its two inputs.
    """
    # Round 1 is fused into the edge staging, so max_iters <= 0 would
    # still run one round instead of returning identity labels — refuse
    # the degenerate value rather than change semantics silently.
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # The loop runs ONLY over vertices that have at least one edge. A
    # singleton never receives a message and never emits one, so its
    # label is constant (= its own id) through every round; singletons
    # are labeled by one left join AFTER the fixpoint. Exact: untouched
    # vertices cannot influence any touched vertex (messages flow only
    # along edges) and come out as their own cluster either way.
    #
    # Undirected: each edge row emits both directions (one pass over
    # ``edges``; a union of two projections would plan the upstream
    # pair-finding lineage twice), so every touched vertex v is the src
    # of deg(v) rows and the dst of deg(v) rows. Each row also carries
    # its src's round-1 label, min(src, min neighbor of src), from a
    # src-keyed window. Staged — the edge list joins against labels
    # every later round; without it each round recomputes the
    # pair-finding lineage from scratch.
    both_staged, seen = stage_observed(
        edges.select(
            F.inline(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            )
        ).withColumn(
            "cluster_id", F.least("src", F.min("dst").over(Window.partitionBy("src")))
        ),
        F.count(F.lit(1)).alias("n"),
        F.sum("cluster_id").alias("w"),
    )
    # Right-size the loop frames: the near-dup edge list is usually far
    # smaller than the corpus, and per-round task overhead at the
    # session's full shuffle width dominates the tiny joins (AQE cannot
    # coalesce under the staged frames here). ~100k edges per
    # partition, never above the session's shuffle width — so a truly
    # large graph keeps full parallelism.
    spark = vertices.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(width, seen["n"] // 100_000 + 1))
    both = both_staged.coalesce(parts)
    # Round k labels v with the min id within distance k of v. For
    # k >= 1 the (k+1)-ball of v is the union of its neighbors' k-balls
    # (v lies in each neighbor's 1-ball), so round k+1 is just the min
    # over v's in-edges of the src's round-k label: one dst-keyed
    # aggregation of (src label, dst) rows, no union with v's own label.
    #
    # Convergence: labels only decrease, so W = sum over vertices of
    # deg(v) * label(v) — the sum of the src labels over all edge rows,
    # and of cluster_id * deg over a generation — strictly decreases
    # until the fixpoint; equal W means no label moved. On an empty
    # edge set W is NULL both times, which ends the loop after round 2.
    old_w = seen["w"]
    msgs, labels = both, None
    for _ in range(max_iters - 1):  # round 1 rides on the edge staging
        new_labels, seen = stage_observed(
            msgs.groupBy(F.col("dst").alias("doc_id")).agg(
                F.min("cluster_id").alias("cluster_id"), F.count(F.lit(1)).alias("deg")
            ),
            F.sum(F.col("cluster_id") * F.col("deg")).alias("w"),
        )
        if labels is not None:
            release(labels)
        labels = new_labels
        if seen["w"] == old_w:
            break
        old_w = seen["w"]
        msgs = both.drop("cluster_id").join(
            labels.select(F.col("doc_id").alias("src"), "cluster_id"), "src"
        )
    if labels is None:  # max_iters == 1: the round-1 label of each src
        labels = both.groupBy(F.col("src").alias("doc_id")).agg(
            F.min("cluster_id").alias("cluster_id")
        )
    else:
        release(both_staged)
    # Singletons label themselves; touched vertices take the loop
    # fixpoint.
    return (
        vertices.join(labels.withColumnRenamed("cluster_id", "_cc"), "doc_id", "left")
        .select("doc_id", F.coalesce("_cc", F.col("doc_id")).alias("cluster_id"))
    )


def connected_components_twostar(
    vertices: DataFrame,
    edges: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """Large-star/small-star connected components → (doc_id, cluster_id).

    Same interface and same unique fixpoint as
    :func:`connected_components`, different iteration: alternating
    large-star (every vertex points its LARGER neighbors at the min of
    its neighborhood) and small-star (every vertex re-points its
    smaller neighbors and itself at their min) rounds, per Kiveris et
    al., "Connected Components in MapReduce and Beyond" (SOCC'14).
    Min-label propagation needs rounds = component diameter — fine for
    near-dup cliques (2-3), pathological for chain-shaped components;
    two-star contracts path graphs in O(log n) rounds, so it's the
    swap-in when components may be long and thin (e.g. transitive
    similarity chains). Each round is two join+min-agg passes over the
    edge list — key-partitioned shuffles only; the per-round distinct
    keeps the edge set from ballooning past the star graphs it
    converges to.
    """
    # stage_frame (not persist) every generation: each round
    # references the previous edge set several times (union with its
    # swap, plus the min side), so the LOGICAL plan doubles per round —
    # persist caches data but still canonicalizes the full lineage,
    # which stack-overflows Catalyst after ~8 rounds. Staging
    # truncates the plan to the materialized frame.
    #
    # Convergence state = (edge count, sum of u+v), observed by each
    # generation's staging job: a round that leaves the edge set
    # unchanged leaves both unchanged.
    probe = (F.count(F.lit(1)).alias("n"), F.sum(F.col("u") + F.col("v")).alias("s"))
    e, seen = stage_observed(
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        *probe,
    )
    state = (seen["n"], seen["s"])
    for _ in range(max_iters):
        # large-star: under each u, all neighbors (both directions);
        # larger neighbors re-attach to m = min(neighborhood ∪ {u})
        nbr = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        big = (
            nbr.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: smaller neighbors AND u itself re-attach to the
        # min of the smaller neighborhood
        nbr2 = big.unionByName(
            big.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        sm = nbr2.filter(F.col("v") < F.col("u"))
        m2 = sm.groupBy("u").agg(F.min("v").alias("mv"))
        new_e, seen = stage_observed(
            sm.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("mv").alias("v"))
            .unionByName(m2.select("u", F.col("mv").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            *probe,
        )
        release(e)
        e = new_e
        if (seen["n"], seen["s"]) == state:
            break
        state = (seen["n"], seen["s"])
    # fixpoint edge set is a union of stars rooted at component minima:
    # every vertex's label = min(itself, its min neighbor)
    min_nbr = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy("u")
        .agg(F.min("v").alias("mv"))
    )
    labels = (
        vertices.join(min_nbr, vertices.doc_id == min_nbr.u, "left")
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce("mv", F.col("doc_id"))).alias("cluster_id"),
        )
        .transform(stage_frame)
    )
    release(e)
    return labels


def pagerank_fixed_point(
    vertices: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**9,
    damp_pct: int = 85,
    until_stable: bool = False,
    max_iters: int = 50,
    tol_units: int = 10**6,
) -> DataFrame:
    """Fixed-iteration PageRank in integer fixed-point — centrality over
    a directed graph (``vertices``: ``id``; ``edges``: ``src``/``dst``),
    the ranking step retrieval / curation pipelines run over a k-NN or
    link graph.

    Determinism is the whole design: ranks live as BIGINT multiples of
    ``1/scale`` and every operation is integer (floor-div contribution
    splits, integer damping ``(damp·Σ)÷100``), so the per-vertex sums
    are associative — partitioning, shuffle width, and summation order
    can never drift a rank, and a SQL oracle replays the exact bits.
    Floating-point PageRank cannot make that guarantee (float sums
    reorder across partitions).

    Convention: contributions flow only along existing edges; a
    dangling vertex (no out-edges) contributes nothing — its mass
    evaporates rather than redistributing, the bounded-iteration
    variant of the standard lost-mass convention, identical on both
    engines. Fixed ``iters`` (not convergence-tested) keeps the plan
    static: each round is one edges⋈ranks join + one dst-keyed integer
    sum — the same key-partitioned shuffle pair any iterative graph
    algorithm pays, no driver data, no collect.

    ``until_stable=True`` is the production mode: iterate until
    ``max |Δrank| <= tol_units`` or ``max_iters``. The probe is one
    exact integer scalar per round, ``max(abs(new - old))`` over an
    id-keyed join of two consecutive generations, read by one collect
    per round (not a sampled heuristic). The stop rule is a
    TOLERANCE, not exact equality, because integer floor noise makes
    cyclic graphs oscillate by O(10^5) units forever — default
    ``tol_units=10^6`` is a 10^-3 rank tolerance at the default scale,
    reached in ~43 rounds on a 2-cycle. Each generation is staged in
    this mode (it is read twice: by the next round and by the probe),
    keeping the plan linear, and released once the probe has compared
    it with its successor. The registered
    oracle queries keep the fixed-``iters`` form — the iteration count
    of a converged run is data-dependent, which a static SQL oracle
    can't replay.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Materialize (edge, outdeg) once: the list is re-joined EVERY
    # round, and without truncation the (expensive) upstream graph
    # build would be recomputed per iteration inside one final plan.
    # stage_frame: localCheckpoint locally, parquet at cluster scale
    # (conf-selectable sink); its size is
    # |E| ≈ k·|V| rows of three longs — the standard materialization
    # every iterative graph algorithm pays.
    ed = edges.join(deg, "src").transform(stage_frame)
    base = (scale * (100 - damp_pct)) // 100

    # r16: the loop frame holds RECEIVERS only (vertices with ≥1
    # in-edge). A vertex with no in-edge has a CONSTANT rank — scale
    # before round 1, base ever after — so carrying it through the
    # loop joined |V| rows per round for a value the contribution pass
    # can coalesce in. Round 1 needs no ranks join at all (every
    # source's rank is the literal ``scale``); later rounds left-join
    # the receiver frame and default missing sources to ``base``.
    # Non-receivers take their constant in ONE final left join.
    # Bit-identical to the full-frame loop (verified frame-equal):
    # every contribution reads the same integer rank either way.
    def step(prev: DataFrame | None) -> DataFrame:
        if prev is None:
            contrib = ed.select(
                "dst", F.expr(f"CAST({scale} AS BIGINT) div outdeg").alias("c")
            )
        else:
            contrib = (
                ed.join(prev.withColumnRenamed("id", "src"), "src", "left")
                .select(
                    "dst",
                    F.expr(f"coalesce(r, CAST({base} AS BIGINT)) div outdeg").alias("c"),
                )
            )
        insum = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        return insum.select(
            F.col("dst").alias("id"),
            (F.lit(base) + F.expr(f"({damp_pct} * s) div 100")).cast("long").alias("r"),
        )

    ranks: DataFrame | None = None
    if until_stable:
        # Non-receivers move exactly once (scale → base, conceptually
        # in round 1) and are flat afterwards; fold that one movement
        # into the round-1 probe as a scalar so the receiver-frame
        # probe stays exact for any tolerance. Bounded: one count.
        n_nonrecv = vertices.join(
            ed.select(F.col("dst").alias("id")).distinct(), "id", "anti"
        ).count()
        for round_no in range(max_iters):
            new = step(ranks).transform(stage_frame)
            if ranks is None:
                recv_delta = (
                    new.agg(F.max(F.abs(F.col("r") - F.lit(scale))).alias("d"))
                    .collect()[0]["d"]
                )
                nonrecv_delta = (scale - base) if n_nonrecv else 0
            else:
                recv_delta = (
                    new.withColumnRenamed("r", "rn")
                    .join(ranks, "id")
                    .agg(F.max(F.abs(F.col("rn") - F.col("r"))).alias("d"))
                    .collect()[0]["d"]
                )
                nonrecv_delta = 0
                release(ranks)
            delta = max(
                [d for d in (recv_delta, nonrecv_delta) if d is not None],
                default=None,
            )
            ranks = new
            if delta is not None and delta <= tol_units:
                break
    else:
        for _ in range(iters):
            ranks = step(ranks)
    if ranks is None:  # iters == 0: every rank is the initial scale
        return vertices.select("id", F.lit(scale).cast("long").alias("pagerank"))
    return vertices.join(ranks, "id", "left").select(
        "id", F.coalesce("r", F.lit(base).cast("long")).alias("pagerank")
    )


def label_propagation_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    until_stable: bool = False,
    max_iters: int = 50,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al., 2007) with a
    deterministic total order — community detection over a similarity
    graph, fixed-iteration form → (id, community).

    Classic LPA is notoriously nondeterministic (random visit order,
    random tie-breaks); this form removes every source of drift so a
    SQL oracle replays it bit-exact: synchronous rounds (all updates
    read the PREVIOUS round's labels), each vertex adopting the most
    frequent label among its undirected neighbors with ties broken to
    the SMALLEST label (in-row mode over the sorted neighbor-label
    list — see the note above ``step``), isolated vertices keeping
    their label. Fixed ``iters`` keeps the plan static; per round one
    edges⋈labels equi-join + ONE dst-keyed aggregation —
    key-partitioned shuffles only. The undirected edge list is staged
    once and every label generation is staged, so the plan stays
    linear; a superseded generation is released once its successor
    has materialized.

    ``until_stable=True`` iterates until NO vertex changes label
    (labels are discrete, so exact stability is the right stop — unlike
    the PageRank tolerance) or ``max_iters`` (synchronous LPA can 2-cycle
    on bipartite structures; the cap is the standard guard). The count
    of changed vertices is observed by the job that stages each
    generation, so convergence costs no extra job. Registered oracles
    keep the fixed-``iters`` form — a converged run's round count is
    data-dependent, not SQL-replayable.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(stage_frame)
    )
    labels = vertices.select("id", F.col("id").alias("lbl"))

    # ONE dst-keyed aggregation per round. The winning label is the mode
    # of the neighbor multiset (tie → the SMALLEST label). collect_list
    # per dst is bounded by vertex degree (k-NN graphs: ~2k labels), and
    # the mode is one aggregate() walk over the SORTED list — the strict
    # '>' keeps the FIRST longest run, which in ascending order is
    # exactly the smallest label among tied counts, so the result is
    # bit-identical to the max(struct(n, -label)) idiom (verified
    # frame-equal on the fixtures). Integer-exact throughout.
    _mode_expr = (
        "aggregate(array_sort(_ls), "
        "named_struct('p', CAST(NULL AS BIGINT), 'r', 0, 'b', 0, "
        "'m', CAST(NULL AS BIGINT)), "
        "(a, x) -> named_struct('p', x, 'r', IF(x <=> a.p, a.r + 1, 1), "
        "'b', GREATEST(a.b, IF(x <=> a.p, a.r + 1, 1)), "
        "'m', IF(IF(x <=> a.p, a.r + 1, 1) > a.b, x, a.m)), a -> a.m)"
    )

    def step(prev: DataFrame) -> tuple[DataFrame, int]:
        """Next staged generation and how many labels it changed."""
        win = (
            und.join(prev.withColumnRenamed("id", "src").withColumnRenamed("lbl", "nlbl"), "src")
            .groupBy("dst")
            .agg(F.collect_list("nlbl").alias("_ls"))
            .select(F.col("dst").alias("id"), F.expr(_mode_expr).alias("wlbl"))
        )
        # Each generation references the previous one TWICE (the
        # neighbor count and the carry-over side), so an unstaged
        # lineage doubles per round (2^iters input scans). Staging the
        # |V|-row label table per round keeps the plan linear. The
        # change count is observed below the projection, where the old
        # and the new label are both still columns.
        obs = Observation()
        gen = (
            prev.join(win, "id", "left")
            .observe(obs, F.count_if(F.col("wlbl") != F.col("lbl")).alias("changed"))
            .select("id", F.coalesce("wlbl", "lbl").alias("lbl"))
            .transform(stage_frame)
        )
        release(prev)
        return gen, obs.get["changed"]

    for _ in range(max_iters if until_stable else iters):
        labels, changed = step(labels)
        if until_stable and changed == 0:
            break
    release(und)
    return labels.select("id", F.col("lbl").cast("long").alias("community"))


def kmeans_fixed_point(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    scale: int = 10**6,
) -> DataFrame:
    """Lloyd k-means over an embedding column in integer fixed-point —
    the canonical corpus-clustering step of a curation pipeline
    (topic bucketing, per-cluster sampling quotas, semantic sharding),
    → (vec_id, label, cluster, dist).

    Float k-means is nondeterministic on a cluster twice over: the
    centroid MEANS are float sums whose value drifts with partitioning
    and summation order, and a vector near-equidistant between two
    centroids can flip assignment on that drift. This form removes
    both: components are scaled to BIGINT (``round(x·scale)``), every
    distance is an exact integer (sum of squared int diffs, |x|≤2·10⁶
    per term × 64 dims ≈ 2.6·10¹⁴ ≪ 2⁶³), assignment ties break to the
    lowest centroid id via one ``least(struct(dist, cid))``, and the
    centroid update is ``floor(sum/count)`` on BIGINT sums — exact
    while |sum| < 2⁵³, i.e. through ~10⁹ vectors per cluster at this
    scale; past that, swap the division to DECIMAL(38). Same bits on
    any shuffle width, and a SQL oracle replays the run value-exact.

    Seeding: the ``k`` lowest vec_ids (the seeded-medoid convention of
    the IVF family, operators/similarity.py); production would use
    k-means‖ sampling — the iteration body is seeding-agnostic. An
    emptied cluster keeps its previous centroid (deterministic on both
    engines).

    Scale shape (the textbook broadcast-Lloyd): per round the
    assignment pass is MAP-SIDE ONLY — centroids ride into the plan as
    k literal arrays (k·dim longs, a bounded model parameter like the
    IVF codebooks), so there is no join and no shuffle; the update
    pass posexplodes to (cluster, pos) and hash-aggregates — one
    shuffle of k·dim cells with map-side partial sums. The per-round
    driver traffic is the k·dim centroid matrix, never data rows. The
    scaled-int projection materializes once (localCheckpoint — the
    parquet-staging point of a cluster run) because every round's two
    passes re-read it.

    ``rounds`` = number of assignment passes (rounds−1 centroid
    updates), fixed so the plan is static and a SQL oracle can replay
    it; a converged production variant would reuse the integer
    max-|Δcentroid| probe of :func:`pagerank_fixed_point`.
    """
    sv = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * scale).cast("long"),
        ).alias("s"),
    ).transform(stage_frame)

    # k×dim bounded model parameter — the same sanctioned collect
    # budget as the IVF codebooks (operators/similarity.py).
    cents = {
        cid: [int(v) for v in row["s"]]
        for cid, row in enumerate(sv.orderBy("vec_id").limit(k).collect())
    }

    def choose(model: dict[int, list[int]]):
        # Symbolic literal-matrix argmin — the pq_topk encode shape
        # (similarity.py): the centroid matrix rides in as ONE array
        # literal, each centroid's d2 is a FLAT unrolled integer sum
        # inside the per-centroid lambda (one interpreter dispatch per
        # centroid, not per element — the zip_with/aggregate HOF form
        # this replaced measured ~1.9x wall on the sf0.1 bench), and
        # array_min over (d, c) structs is the same lowest-cid
        # tie-break as least-of-structs. Exact integers throughout, so
        # the rewrite is bit-identical to the oracle's replay.
        cents_sorted = sorted(model.items())
        dim_ = len(cents_sorted[0][1])
        cws = "array(" + ",".join(
            "array(" + ",".join(f"CAST({v} AS BIGINT)" for v in c) + ")"
            for _, c in cents_sorted
        ) + ")"
        d2 = " + ".join(
            f"(element_at(s, {e + 1}) - element_at(cw, {e + 1}))"
            f" * (element_at(s, {e + 1}) - element_at(cw, {e + 1}))"
            for e in range(dim_)
        )
        return F.expr(
            f"array_min(transform({cws}, (cw, i) -> "
            f"named_struct('d', {d2}, 'c', CAST(i AS BIGINT))))"
        )

    for _ in range(rounds - 1):
        assigned = sv.withColumn("cluster", choose(cents)["c"])
        rows = (
            assigned.select("cluster", F.posexplode("s"))
            .groupBy("cluster", "pos")
            .agg(
                F.floor(F.sum("col") / F.count(F.lit(1))).cast("long").alias("v")
            )
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cid.setdefault(int(r["cluster"]), {})[int(r["pos"])] = int(r["v"])
        cents = {
            cid: (
                [by_cid[cid][p] for p in range(len(old))] if cid in by_cid else old
            )
            for cid, old in cents.items()
        }

    final = sv.withColumn("ch", choose(cents))
    return final.select(
        "vec_id",
        "label",
        F.col("ch.c").alias("cluster"),
        F.col("ch.d").alias("dist"),
    )


def bfs_hops_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    source: int,
    iters: int = 4,
) -> DataFrame:
    """Fixed-round breadth-first hop distances from one source over an
    undirected graph → (id, hops) with −1 for vertices unreached
    within ``iters`` rounds — the reachability / radius probe of the
    graph family (e.g. "how many hops of the similarity graph does a
    seed document influence").

    Pure integer min-propagation, so deterministic on any width: round
    i sets ``d(v) = least(d(v), min over in-neighbors u of d(u)+1)``
    (``least`` skips NULLs identically on both engines — an unreached
    vertex carries NULL until first touched). Fixed rounds keep the
    plan static for the SQL oracle; a production run iterates until
    the frontier empties (its size observed by each generation's
    staging job, as in :func:`connected_components`) and propagates
    only the CHANGED frontier — the delta optimization every Pregel
    implementation ships; the fixed-round form's per-round cost is one
    edges⋈dist equi-join + one dst-keyed integer min, key-partitioned
    shuffles only. Every generation is staged, which keeps the plan
    linear (each is read by both the join and the carry side), and
    released once its successor has materialized.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(stage_frame)
    )
    dist = vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(0)).otherwise(F.lit(None))
        .cast("long")
        .alias("d"),
    ).transform(stage_frame)
    for _ in range(iters):
        nb = (
            und.join(dist.withColumnRenamed("id", "src"), "src")
            .filter(F.col("d").isNotNull())
            .groupBy("dst")
            .agg(F.min(F.col("d") + 1).alias("nd"))
        )
        new_dist = (
            dist.join(nb.withColumnRenamed("dst", "id"), "id", "left")
            .select("id", F.least("d", "nd").alias("d"))
            .transform(stage_frame)
        )
        release(dist)
        dist = new_dist
    release(und)
    return dist.select("id", F.coalesce("d", F.lit(-1)).cast("long").alias("hops"))


def kcore_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    core_k: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected graph →
    (vec_id, in_core, core_deg): repeatedly drop vertices of degree
    < ``core_k`` with their incident edges; after ``rounds`` passes,
    a vertex is in-core iff it still carries an edge. The
    density-skeleton primitive of graph curation (the k-core is where
    communities, spam rings and near-dup hubs live; the periphery is
    what a sampler can safely thin).

    ``rounds`` is FIXED so the plan is static and a SQL oracle unrolls
    it; the true fixpoint needs ≤ diameter rounds — a converged variant
    would observe the edge count in each generation's staging job, as
    :func:`connected_components_twostar` does (stop when no edge is
    dropped).

    Scale shape: per round ONE degree aggregation (key = vertex id) and
    two semi-joins filtering the edge list on its own keys — the edge
    frame shrinks monotonically, and each generation is staged (and
    the superseded one released) so the lineage stays linear, exactly
    like the CC / LPA / PageRank iterations. Every
    quantity is an exact integer.
    """
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    und = both.distinct().transform(stage_frame)
    for _ in range(rounds):
        keep = (
            und.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= core_k)
            .select("src")
        )
        new_und = (
            und.join(keep, "src", "semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "semi")
            .transform(stage_frame)
        )
        release(und)
        und = new_und
    deg_f = und.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    return (
        vertices.join(deg_f, vertices["id"] == deg_f["src"], "left")
        .select(
            vertices["id"].alias("vec_id"),
            F.when(F.col("core_deg").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("in_core"),
            F.coalesce("core_deg", F.lit(0)).cast("long").alias("core_deg"),
        )
    )
