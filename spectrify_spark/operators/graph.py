"""Iterative graph algorithms over edge tables.

The reference engine has no graph surface (its core is a 3-stage ETL —
``/root/reference/spectrify/transform.py``); this module is part of the
north-star LLM-pipeline extension: link analysis over web-crawl-derived
corpora (host/domain authority for quality weighting) is a standard
curation signal, and its shape — an edge table orders of magnitude
larger than the node table, iterated joins — is exactly the workload
that separates a toy from a 100 TB engine.

Design (same discipline as ``dedup.connected_components``):

- state is always a distributed (node, value) DataFrame, never
  collected to the driver;
- the edge table is the reused, persisted side — each iteration joins
  ranks to edges on the SAME key, so a cluster run pre-partitions
  edges once (``repartition(src)``) and every iteration's shuffle
  reuses that layout;
- every round's state is checkpointed (:func:`~spectrify_spark.
  operators.dedup._truncate_lazy`): without lineage truncation the
  plan doubles per iteration and planning time becomes the bottleneck
  long before data size does.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from spectrify_spark.obs import span
from spectrify_spark.operators.dedup import _truncate_lazy

#: observation names must be unique within a single query execution;
#: a process-wide counter keeps two guarded edge builds composable
#: into one plan
_observe_counter = itertools.count()


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table.

    Uses the unnormalized convention (init rank 1.0, update
    ``(1 - d) + d * sum(in-contributions)``) so ranks are O(1)
    regardless of graph size — mean rank ~1 — which keeps rounded
    outputs comparable across scale factors.  By default dangling-node
    mass is NOT redistributed (the classic simplified formulation): a
    node with no out-edges contributes nothing, a node with no
    in-edges settles at ``1 - d``.  With
    ``redistribute_dangling=True`` each round spreads the summed rank
    of out-edge-less nodes uniformly — update becomes
    ``(1 - d) + d * (sum_in + dangling_mass / n_nodes)`` — the
    conventional web-crawl authority formulation (mass is conserved up
    to the damping leak).  Cost: ONE extra global aggregate per
    iteration (the dangling-rank sum, a 1-row DataFrame cross-joined
    back in as a broadcast — never collected per-round to the driver)
    plus a one-time node count.  Fixed ``iters`` (not
    convergence-tested) keeps the computation a deterministic,
    oracle-checkable function of the input.

    Scale shape per iteration: ranks ⋈ edges on ``src`` (both sides
    hash-partitioned on the join key; edges persisted so the big side
    is scanned from cache), one ``groupBy(dst)`` partial-aggregated
    sum, one left join back to the node spine so rank-less nodes keep
    the ``1 - d`` floor.  State is checkpointed every round — constant
    plan size, O(iters) total shuffles, nothing on the driver.

    Input: ``edges(src, dst)`` (duplicates allowed — deduped here;
    with ``weight`` set, duplicate (src, dst) rows SUM their weights).
    ``weight`` names an edge-weight column: each node splits its rank
    over out-edges proportionally to weight instead of uniformly —
    e.g. purchase quantity, link count, co-occurrence strength.
    Output: ``(id, rank)`` for every node appearing as src or dst.
    """
    # LAZY truncation throughout (r17 opt round, see _truncate_lazy):
    # no driver decision happens between rounds, so the whole
    # fixed-iteration computation rides the caller's single action;
    # each truncated frame is persisted at first computation, so the
    # multi-consumer frames (e, nodes, contrib_edges, each round's
    # ranks) are still computed once — the previous EXPLICIT persist
    # on top of an eager checkpoint double-cached the same blocks.
    if weight is None:
        e = _truncate_lazy(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
            .withColumn("__wt", F.lit(1.0))
        )
    else:
        e = _truncate_lazy(
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight).cast("double").alias("__wt"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("__wt").alias("__wt"))
        )
    nodes = _truncate_lazy(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.sum("__wt").alias("__outw"))
    # contribution edges: (src, dst, wt/total_out_weight) — precomputed
    # once so the per-iteration join carries one double instead of
    # recomputing the degree join every round (uniform weights reduce
    # this to the classic 1/outdeg)
    contrib_edges = _truncate_lazy(
        e.join(outdeg, "src").select(
            "src", "dst", (F.col("__wt") / F.col("__outw")).alias("__w")
        )
    )

    dangling = None
    n_nodes = None
    if redistribute_dangling:
        # nodes with zero out-edges; their per-round rank sum is the
        # redistributed mass.  One-time count (driver-side scalar, the
        # one action before the caller's) — the per-round sum stays a
        # 1-row DataFrame.
        dangling = _truncate_lazy(
            nodes.join(
                e.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
            )
        )
        n_nodes = nodes.count()

    ranks = nodes.select("id", F.lit(1.0).alias("rank"))
    for _ in range(iters):
        with span("graph", "pagerank_round"):
            sums = (
                contrib_edges.join(
                    ranks, contrib_edges["src"] == ranks["id"]
                )
                .select(F.col("dst").alias("id"), (F.col("rank") * F.col("__w")).alias("__c"))
                .groupBy("id")
                .agg(F.sum("__c").alias("__in"))
            )
            base = nodes.join(sums, "id", "left")
            if redistribute_dangling:
                dm = (
                    ranks.join(dangling, "id", "leftsemi")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
                )
                ranks = _truncate_lazy(
                    base.crossJoin(F.broadcast(dm)).select(
                        "id",
                        (
                            F.lit(1.0 - damping)
                            + F.lit(damping)
                            * (
                                F.coalesce(F.col("__in"), F.lit(0.0))
                                + F.col("__dm") / F.lit(float(n_nodes))
                            )
                        ).alias("rank"),
                    )
                )
            else:
                ranks = _truncate_lazy(
                    base.select(
                        "id",
                        (
                            F.lit(1.0 - damping)
                            + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                        ).alias("rank"),
                    )
                )
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS (Hyperlink-Induced Topic Search): hub scores for source
    nodes, authority scores for destination nodes, L1-normalized after
    every half-step so the fixed-iteration result is scale-free and
    oracle-checkable (unnormalized HITS grows without bound).

    On a bipartite graph (e.g. supplier -> part purchases) this is the
    classic dual ranking: a good hub buys many good parts, a good
    authority is bought by many good hubs — the complementary signal to
    :func:`pagerank`'s single-score walk.

    Scale shape per half-step: one edge⋈score join on the score key,
    one groupBy, one 1-row L1-total broadcast for the normalization —
    never a driver-side vector; scores checkpoint per round so the plan
    stays constant-size.

    Returns ``(id, kind, score)`` with kind in {'hub', 'authority'}.
    Raises ``ValueError`` unless ``iters >= 1`` (authority scores only
    exist after the first half-step).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # lazy truncation + no explicit persist: same reasoning as
    # :func:`pagerank` (r17 opt round) — the whole fixed-iteration
    # computation rides the caller's single action, and the lazily
    # checkpointed frames are persisted at first computation for their
    # two consumers per round.
    e = _truncate_lazy(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
    )

    def _l1_normalize(df: DataFrame, col: str) -> DataFrame:
        total = df.agg(F.sum(col).alias("__tot"))
        return df.crossJoin(F.broadcast(total)).select(
            "id", (F.col(col) / F.col("__tot")).alias(col)
        )

    hubs = _truncate_lazy(
        e.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.lit(1.0).alias("hub"))
    )
    auths = None
    for _ in range(iters):
        with span("graph", "hits_round"):
            raw_auth = (
                e.join(hubs, e["src"] == hubs["id"])
                .groupBy(e["dst"].alias("id"))
                .agg(F.sum("hub").alias("auth"))
            )
            auths = _truncate_lazy(_l1_normalize(raw_auth, "auth"))
            raw_hub = (
                e.join(auths, e["dst"] == auths["id"])
                .groupBy(e["src"].alias("id"))
                .agg(F.sum("auth").alias("hub"))
            )
            hubs = _truncate_lazy(_l1_normalize(raw_hub, "hub"))
    return hubs.select(
        "id", F.lit("hub").alias("kind"), F.col("hub").alias("score")
    ).unionByName(
        auths.select(
            "id", F.lit("authority").alias("kind"), F.col("auth").alias("score")
        )
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    persist: bool = True,
    assume_canonical: bool = False,
) -> DataFrame:
    """Global triangle count of an undirected graph.

    Input edges are treated as undirected (either orientation,
    duplicates allowed).  The computation uses the standard oriented
    enumeration: canonicalize every edge to ``a < b``, dedup, then
    count paths ``a-b-c`` with ``a < b < c`` whose closing edge
    ``(a, c)`` exists — each triangle is counted exactly once, at its
    lowest-id vertex.

    Scale shape: two equi-joins on node keys (wedge build + closing-
    edge semi join), no inequality-only joins — the ``a < b < c``
    orientation is a filter on top of the equi-join, so Catalyst
    shuffles on the join key and the cost is O(sum of deg^2 / 2) wedge
    rows, the same bound as the classic MapReduce node-iterator.  Hot
    nodes (celebrity vertices) dominate wedge generation; AQE skew
    splitting applies since both stages are plain shuffled equi-joins.
    Output: 1 row, ``n_triangles`` bigint.

    With ``persist=True`` (default) the canonical edge set and the
    oriented edge set are cached — each is consumed by two downstream
    stages, so without caching the input is scanned and deduped twice.
    The handles are internal, so CLEANUP IS CALLER-OWNED (same
    convention as ``dedup.near_dup_pairs_incremental``): call
    ``spark.catalog.clearCache()`` after collecting, or pass
    ``persist=False`` for one-shot use in a long-lived session and
    accept the recompute.

    ``assume_canonical=True`` (r17 opt round) skips the canonicalize +
    distinct pre-pass — one full shuffle of the edge set — when the
    caller guarantees the input is already ``src < dst`` and distinct
    (e.g. the output of :func:`cooccurrence_edges`).  Results are
    identical either way (pinned by test); the flag only removes a
    dedup of already-deduped data.
    """
    if assume_canonical:
        e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .filter(F.col("a") < F.col("b"))
            .distinct()
        )
    if persist:
        e.persist()
    # DEGREE orientation (node-iterator++): re-orient each edge from
    # its lower-(degree, id) endpoint toward the higher, then build
    # wedges at the LOW vertex.  Wedge count becomes
    # sum_u C(outdeg+(u), 2) with outdeg+ bounded by O(sqrt(m)) —
    # the O(m^1.5) bound that survives celebrity vertices, where the
    # plain id-orientation degrades toward sum deg(hot)^2.  Each
    # triangle is counted exactly once, at its minimum-(degree, id)
    # corner.
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("__deg").alias("__dega"))
    db = deg.select(F.col("id").alias("b"), F.col("__deg").alias("__degb"))
    a_first = (F.col("__dega") < F.col("__degb")) | (
        (F.col("__dega") == F.col("__degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    if persist:
        oriented.persist()
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # two out-edges of u give candidate pair (v1, v2); the closing edge
    # is looked up in CANONICAL (least, greatest) form
    wedges = (
        w1.join(w2, (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.v") < F.col("w2.v")))
        .select(
            F.least(F.col("w1.v"), F.col("w2.v")).alias("ca"),
            F.greatest(F.col("w1.v"), F.col("w2.v")).alias("cb"),
        )
    )
    closing = e.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tri = wedges.join(closing, ["ca", "cb"], "inner")
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the generic, topology-independent variant of
    ``dedup.connected_components``.

    Why a second algorithm: min-label propagation converges in
    O(component diameter) rounds, which is the right trade for the
    shallow clusters LSH emits, but a 100 TB web/link graph has weak
    components containing million-hop chains — propagation would need
    a million rounds.  Star contraction rewires edges instead of
    spreading labels and converges in O(log n) rounds on ANY topology
    (tools/cc_rehearsal.py measures a diameter-4096 chain: star
    finishes where propagation's round budget is the diameter itself).

    Per round, each star step is ONE groupBy + ONE equi-join keyed by
    node id — the same shuffle key every round, so a cluster run reuses
    the edge partitioning — and the state (the rewritten edge table) is
    lineage-truncated so the per-round plan stays constant-size.
    Convergence is detected by a one-pass (count, sum-of-hashes)
    signature of the edge set instead of an exact equality anti-join:
    the signature costs one aggregate over state already being
    materialized, and a collision (probability ~2^-64 per round) could
    only end the loop one round early on an almost-converged state.

    - large-star: every node's HIGHER-id neighbors are re-pointed at
      the minimum of its closed neighborhood;
    - small-star: every node's LOWER-or-equal-id neighbors (and the
      node itself) are re-pointed at that side's minimum.

    Both steps preserve connectivity; the fixpoint is a union of star
    graphs rooted at each component's minimum id.

    Input: undirected edge table (duplicates and self-loops tolerated;
    NULL endpoints dropped).  Output: ``(id, component)``, one row per
    distinct node appearing in ``edges``, ``component`` = the minimum
    node id in the component.  Node id type is preserved (any orderable
    type works; ordering follows Spark's comparison for that type).
    Raises ``ValueError`` if the round budget is exhausted before the
    fixpoint — mid-contraction labels are partial unions, and failing
    loud beats returning them silently.

    Incremental maintenance: the returned labels ARE the compressed
    state — contracting (previous star edges, i.e. ``id != component``
    rows re-read as edges, UNION the delta edges) equals a full
    recomputation over all raw edges (pinned by
    ``tests/test_graph.py::test_cc_incremental_star_forest_plus_delta``),
    so at 100 TB the raw edge set is scanned once ever; each increment
    contracts a node-sized forest plus the delta.

    ``shuffle_partitions`` sizes the working edge set with PLAN-LOCAL
    ``repartition(n, key)`` calls instead of touching the session's
    ``spark.sql.shuffle.partitions`` (a session-global mutation is
    visible to every concurrent query on a shared session for the
    duration of the loop — the r11/r12 review flag).  The explicit
    hash partitioning on the star key satisfies the groupBy/join
    clustering requirement, so each star step's aggregate and join run
    at ``n`` partitions WITHOUT extra Exchanges, and the per-round
    task count tracks the edge set (usually orders of magnitude
    smaller than the corpus that produced it) rather than the
    session's corpus-sized default.  Size it to edges/partition ~ a
    few hundred MB at cluster scale; leave None to inherit the
    session setting everywhere.
    """
    # materialize the (possibly expensive) upstream edge build ONCE;
    # the node spine and the working edge set both derive from it
    raw = _truncate_lazy(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).dropna()
    )
    # node set BEFORE the self-loop filter: a node whose only edge is a
    # self-loop is isolated, not absent
    nodes = _truncate_lazy(
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    e = _truncate_lazy(raw.filter(F.col("u") != F.col("v")).distinct())

    def _signature(frame: DataFrame) -> tuple:
        # decimal(38,0) accumulator: a long sum of 64-bit hashes
        # overflows under ANSI mode; decimal holds ~1e19 rows exactly
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _sized(frame: DataFrame, cols: list[str]) -> DataFrame:
        # plan-local shuffle sizing: hash-partition on the step's key
        # so the groupBy/join that follow reuse the partitioning (no
        # extra Exchange) at the requested width — never mutates the
        # session's shuffle.partitions
        if shuffle_partitions is None:
            return frame
        return frame.repartition(shuffle_partitions, *[F.col(c) for c in cols])

    def _large_star(frame: DataFrame) -> DataFrame:
        sym = _sized(
            frame.unionByName(
                frame.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ),
            ["u"],
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("u", "__mn").alias("__m"))
        )
        # no .distinct() here: duplicates cannot change any min
        # aggregate, and the small-star step that always follows ends
        # with the round's canonical distinct — one less shuffle/round
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def _small_star(frame: DataFrame) -> DataFrame:
        o = _sized(
            frame.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            ),
            ["u"],
        )
        # every neighbor here is < u, so min over the closed
        # neighborhood is just min(v)
        j = o.join(o.groupBy("u").agg(F.min("v").alias("__m")), "u")
        out = j.select(F.col("v").alias("u"), F.col("__m").alias("v")).unionByName(
            j.select("u", F.col("__m").alias("v"))
        )
        return _sized(
            out.filter(F.col("u") != F.col("v")), ["u", "v"]
        ).distinct()

    sig = _signature(e)
    converged = False
    # max_iters + 1: signature-based detection needs one extra
    # UNCHANGED round to observe the fixpoint, and that confirm
    # round should not count against the productive budget (a
    # graph converging exactly on round max_iters is converged)
    for _ in range(max_iters + 1):
        with span("graph", "cc_round"):
            e = _truncate_lazy(_small_star(_large_star(e)))
            new_sig = _signature(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # labels mid-contraction are NOT component labels; failing loud
        # beats silently returning partial unions (convergence is
        # O(log n) rounds, so a blown budget means something is wrong)
        raise ValueError(
            f"connected_components did not converge within {max_iters} "
            "rounds; raise max_iters (rounds grow ~log2 of the largest "
            "component, so 25 covers any realistic graph)"
        )
    # fixpoint state is (node -> root) star edges; the defensive min
    # costs one partial agg and keeps the contract one-row-per-node
    star = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    return nodes.join(star, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_count: int = 2,
    max_group_size: int | None = None,
    on_oversize: str = "raise",
) -> DataFrame:
    """Item co-occurrence edge table: items are adjacent when they
    appear together in >= ``min_count`` DISTINCT groups (orders,
    baskets, sessions, documents).

    Exploits the small-group shape instead of a self-join: ONE groupBy
    collects each group's distinct item set, ordered pairs (a < b)
    explode MAP-SIDE from the array (the quadratic is bounded per
    group — baskets hold a handful of items), and one pair-keyed count
    agg applies the threshold — two shuffles total.  Because pairs are
    generated from the per-group DISTINCT set, the count is per
    distinct group by construction: an item listed twice inside one
    group cannot fake a repeat co-occurrence, which the naive row-level
    self-join gets wrong.

    The per-row pair explode is quadratic in the group's DISTINCT item
    count, and it happens inside ONE row — a single pathological group
    (bot session, spam basket: 100k items -> ~5e9 structs) OOMs one
    task in a way AQE cannot split.  ``max_group_size`` guards this
    100 TB failure shape BEFORE the explode.  The guard is OPT-IN
    (``None`` default): a cap that silently changes results would
    violate the no-silent-caps rule, and a cap that raises by default
    turns a legitimate heavy-but-bounded run into a failing one — at
    production scale, SET IT (10_000 is a sane ceiling: ~5e7 pair
    structs in one row) after profiling group sizes with
    ``df.groupBy(group_col).agg(countDistinct(item_col))``:

    - ``on_oversize="raise"`` (default when a cap is set): any group
      whose distinct item set exceeds the cap fails the job with a
      clear error naming the group — no silent result change, no
      extra job.
    - ``on_oversize="drop"``: oversized groups are filtered out and
      COUNTED via ``DataFrame.observe`` (metric
      ``cooccurrence_oversized_groups``, reported on the same action —
      no second pass over the shuffle), per the no-silent-caps rule.

    Output: ``(src, dst)`` with ``src < dst``, one row per qualifying
    pair — the edge input shape of :func:`connected_components`,
    :func:`triangle_count`, and :func:`pagerank`.
    """
    if on_oversize not in ("raise", "drop"):
        raise ValueError(
            f"on_oversize must be 'raise' or 'drop', got {on_oversize!r}"
        )
    arr = df.groupBy(group_col).agg(
        F.collect_set(item_col).alias("__items")
    )
    if max_group_size is not None:
        oversized = F.size("__items") > F.lit(max_group_size)
        if on_oversize == "raise":
            # the filter on __guard forces per-row evaluation (an
            # unreferenced column would be pruned and never raise)
            arr = (
                arr.withColumn(
                    "__guard",
                    F.when(
                        oversized,
                        F.raise_error(
                            F.concat(
                                F.lit("cooccurrence_edges: group "),
                                F.col(group_col).cast("string"),
                                F.lit(" has "),
                                F.size("__items").cast("string"),
                                F.lit(
                                    " distinct items"
                                    f" > max_group_size={max_group_size};"
                                    " pre-filter bot/spam groups, raise the"
                                    " cap, or pass on_oversize='drop'"
                                ),
                            )
                        ),
                    ),
                )
                .filter(F.col("__guard").isNull())
                .drop("__guard")
            )
        else:
            arr = arr.observe(
                f"cooccurrence_oversized_{next(_observe_counter)}",
                F.sum(oversized.cast("long")).alias(
                    "cooccurrence_oversized_groups"
                ),
            ).filter(~oversized)
    return (
        arr.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("__items"),
                        lambda a: F.filter(
                            F.transform(
                                F.col("__items"),
                                lambda b: F.when(
                                    a < b,
                                    F.struct(a.alias("src"), b.alias("dst")),
                                ),
                            ),
                            lambda s: s.isNotNull(),
                        ),
                    )
                )
            ).alias("__p")
        )
        .select("__p.src", "__p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("src", "dst")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    max_degree: int | None = None,
    on_oversize: str = "raise",
) -> DataFrame:
    """Synchronous, DETERMINISTIC label-propagation communities
    (Raghavan et al. 2007, made reproducible): every node starts
    labeled with its own id; each round every node adopts the most
    frequent label among its NEIGHBORS, ties broken by the SMALLEST
    label; isolated nodes (and nodes whose neighbors all vanished)
    keep their current label.  Asynchronous/randomized LPA is the
    usual formulation but is run-order dependent — the synchronous
    min-tie variant gives identical output on every engine, which is
    what makes a full-value oracle (and cross-cluster reproducibility)
    possible.  Fixed ``iters`` bounds the cost and sidesteps sync
    LPA's known 2-cycle oscillation.

    Communities differ from connected components: a bridge edge
    joins two dense clusters into ONE component, but LPA keeps them
    apart — the signal used for domain clustering / near-dup group
    refinement at corpus scale.

    Per round: one labels->edges equi-join + one (node, label) count
    agg + one per-node window top-1 — all keyed on node id, same
    shuffle key every round; per-round state is lineage-truncated
    (the plan stays constant-size across iterations, the
    q_dedup_clusters discipline).  Output: ``(id, label)``, one row
    per distinct node in ``edges``.

    ``max_degree`` guards the celebrity-node shape (the r11/r12 review
    flag): the per-node top-1 vote window partitions by node id, so a
    node with 10^8 neighbors concentrates up to that many (label,
    count) rows in ONE window partition — a skew AQE cannot split.
    The guard measures degrees on the symmetrized edge set in one
    bounded pre-pass, then either fails loudly naming the hottest
    nodes (``on_oversize="raise"``, the default when a cap is set) or
    removes the over-degree nodes' INCOMING votes
    (``on_oversize="drop"``) — a dropped node keeps its own label via
    the coalesce path and still votes for its neighbors, and the
    output keeps one row per node either way, so no rows are silently
    lost.  ``None`` (default) disables the guard — same opt-in
    contract as :func:`cooccurrence_edges`.
    """
    from pyspark.sql import Window

    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if on_oversize not in ("raise", "drop"):
        raise ValueError(
            f"on_oversize must be 'raise' or 'drop', got {on_oversize!r}"
        )
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).dropna()
    sym = _truncate_lazy(
        raw.filter(F.col("u") != F.col("v"))
        .unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = _truncate_lazy(
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    if max_degree is not None:
        # one bounded pre-pass over the symmetric edges: degree = the
        # window-partition size the vote step will later build per node
        hot = (
            sym.groupBy("v")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") > F.lit(max_degree))
        )
        if on_oversize == "raise":
            sample = hot.orderBy(F.col("__deg").desc()).limit(5).collect()
            if sample:
                worst = ", ".join(
                    f"{r['v']!r}:{r['__deg']}" for r in sample
                )
                raise ValueError(
                    "label_propagation: node degree exceeds "
                    f"max_degree={max_degree} (hottest: {worst}) — the "
                    "per-node vote window cannot be split; pre-filter "
                    "hub nodes, raise the cap, or pass "
                    "on_oversize='drop'"
                )
        else:
            # drop only the votes INTO hot nodes: they keep their own
            # label via the coalesce path; all other nodes' votes are
            # untouched (hot nodes still VOTE for their neighbors)
            sym = _truncate_lazy(
                sym.join(hot.select("v"), "v", "left_anti")
            )
    labels = nodes.select("id", F.col("id").alias("label"))
    w = Window.partitionBy("id").orderBy(
        F.col("__c").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        with span("graph", "lpa_round"):
            votes = (
                sym.join(
                    labels.select(
                        F.col("id").alias("u"), F.col("label")
                    ),
                    "u",
                )
                .groupBy(F.col("v").alias("id"), "label")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            best = (
                votes.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") == 1)
                .select("id", F.col("label").alias("__new"))
            )
            labels = _truncate_lazy(
                labels.join(best, "id", "left").select(
                    "id", F.coalesce("__new", "label").alias("label")
                )
            )
    return labels
