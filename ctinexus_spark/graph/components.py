"""Distributed connected components (GraphFrames-free).

The per-document graphs of the KG pipeline are tiny and handled
in-batch (doc_kernel.analyze_doc, inside operators/fused.py). This operator covers
the *cross-document* graph cases the north_star's GraphFrames
connectedComponents would serve — e.g. global entity resolution over
similarity edges spanning the whole corpus — without the GraphFrames
dependency (not installable here).

Two algorithms, chosen by graph shape:

- `connected_components` — a partition-local union-find contraction
  pre-pass (contract_edges; one shuffle + one Arrow pass collapses
  all within-partition structure to min-rooted stars) followed by
  iterative minimum-label propagation ("hash-to-min"):
  label(v) ← min(label(v), min over neighbors). One join + one
  aggregation per round, O(cross-partition diameter) rounds after
  contraction. The right default for dedup/alias graphs (shallow
  components, tiny diameter).
- `connected_components_stars` — alternating large-star/small-star
  (Kiveris et al. 2014, "Connected Components in MapReduce and
  Beyond"): converges in O(log² n) rounds INDEPENDENT of diameter —
  the variant for adversarial long-chain graphs (linked-list-shaped
  near-dup chains) where O(diameter) rounds blow the budget.

Both truncate lineage periodically via barrier() — without it the
plan doubles per iteration and the job dies long before the data
does (SURVEY.md §7 hard-parts note) — and RAISE on non-convergence
rather than silently returning wrong components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ctinexus_spark.partitioning import barrier

CHECKPOINT_EVERY = 3


def _star_edges(batches, names: list[str]):
    """One partition's union-find: (node, local min root) per node seen.
    Module-level so the worker that unpickles the contraction imports
    ctinexus_spark (and so installs _zipimport)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
            ra, rb = find(a), find(b)
            if ra == rb:
                parent.setdefault(ra, ra)
                continue
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
            parent.setdefault(ra, ra)
    nodes = list(parent)
    CHUNK = 1 << 16
    for i in range(0, len(nodes), CHUNK):
        chunk = nodes[i : i + CHUNK]
        yield pd.DataFrame({names[0]: chunk, names[1]: [find(n) for n in chunk]})


def contract_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Partition-local union-find contraction — the classic two-phase
    CC pre-pass (GraphX/Stergiou-style): hash-partition the edge list
    on `src`, collapse each partition's subgraph to depth-1 stars
    rooted at the partition-local component MINIMUM, and emit exactly
    one (node, local_root) edge per distinct node seen in the
    partition (roots emit a self-loop, so no vertex leaves the graph).

    Connectivity-preserving: within a partition the star edges connect
    exactly the nodes union-find merged; a node appearing in several
    partitions carries one star edge per partition and stitches them
    back together globally. So components(contract(E)) ==
    components(E) over the same vertex set, while |output| <=
    |touched vertices| regardless of |E| and every surviving edge
    points "downhill" to a local minimum — one shuffle plus one Arrow
    pass that removes most of the label-propagation rounds the
    iterative phase would otherwise spend inside partitions.

    Memory is O(distinct nodes per partition) on the Python worker —
    the same class as any per-key aggregation at the configured
    shuffle parallelism; at 100 TB the shuffle partition count, not
    the corpus, sizes it.
    """
    two = edges.select(F.col(src), F.col(dst))
    names = two.columns

    # bare (AQE-coalescible) repartition DELIBERATELY: fewer, larger
    # partitions measured ~1.7x faster for this pass at bench scale
    # (dedup_clusters_cc 3.3s vs 5.2s with a pinned 2x-cores count) —
    # the per-partition union-find amortizes over bigger chunks and
    # the contracted output shrinks with partition count; at scale the
    # advisory-size coalescing yields healthy chunks either way.
    return two.repartition(F.col(src)).mapInPandas(lambda batches: _star_edges(batches, names), two.schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    check_every: int = 2,
    pre_contract: bool = True,
) -> DataFrame:
    """edges(src, dst) → (vertex, component) where component is the
    minimum vertex id reachable. Vertex ids must be orderable
    (numeric or string).

    Raises RuntimeError if the fixpoint is not reached within
    max_iterations — silently returning unconverged labels would hand
    large-diameter graphs wrong components with no signal.

    check_every batches propagation rounds between convergence checks:
    each check is a driver-synced action with a ~1 s latency floor at
    local scale (invariant to parallelism — it dominated the dedup
    funnel's 1→4 scaling), so checking every 2nd round halves the
    fixed cost for at most one no-op round of extra dataflow work.
    Labels are identical for any check_every (the check only decides
    when to STOP; a converged round is idempotent).

    pre_contract (default True, round 5) runs contract_edges first:
    one shuffle + one union-find Arrow pass collapses every
    within-partition structure to depth-1 min-rooted stars, so the
    iterative phase — whose per-round driver sync is the scaling
    floor — only spends rounds on CROSS-partition diameter (usually
    1-2 rounds) and joins <= |V| star edges instead of |E| raw ones.
    Labels are identical either way (contraction preserves components
    and the vertex set; tested). Set False to exercise raw min-label
    propagation, whose round count is the full graph diameter.
    """
    check_every = max(1, check_every)
    if pre_contract:
        edges = contract_edges(edges, src, dst)
        src, dst = edges.columns[0], edges.columns[1]
    # symmetric edge set WITH self-loops: the self-loop row delivers a
    # vertex's own previous label through the SAME join that delivers
    # its neighbors' labels, so each round references `labels` exactly
    # ONCE. (The previous own ∪ neighbors union referenced it twice —
    # harmless on a persisted round, but a check_every-skipped lazy
    # round got evaluated twice, turning the sync saving into real
    # serial work at low parallelism: measured 24 s vs 11.8 s for the
    # same CC at local[1] vs local[4].)
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .unionByName(e.select(F.col("a"), F.col("a").alias("b")))
        .unionByName(e.select(F.col("b").alias("a"), F.col("b")))
        .distinct()
        .persist()
    )
    # init = the FIRST propagation round folded into one aggregation:
    # label(v) = min(v, neighbors(v)) — with self-loops that is simply
    # min(b) per a; one driver sync cheaper than a real round
    labels = (
        sym.groupBy(F.col("a").alias("vertex"))
        .agg(F.min("b").alias("component"))
        .persist()
    )
    labels.count()
    pinned = labels  # the currently-persisted round frame (unpersist target)

    converged = False
    for it in range(max_iterations):
        # ONE join on b (self-loop row included), ONE aggregation: the
        # new min-label AND the convergence flag (`old` = the label the
        # self-loop row delivered) come out of the same groupBy — no
        # separate new-vs-old join, no second labels reference.
        flagged = (
            sym.join(labels.withColumnRenamed("vertex", "b"), "b")
            .groupBy(F.col("a").alias("vertex"))
            .agg(
                F.min("component").alias("component"),
                F.max(
                    F.when(F.col("b") == F.col("a"), F.col("component"))
                ).alias("old"),
            )
        )
        do_check = (it + 1) % check_every == 0 or it + 1 == max_iterations
        if not do_check:
            # skipped-check round: stay lazy — the next check's single
            # job materializes this round's join+agg together with its
            # own (the whole point: one driver sync per check_every
            # rounds of dataflow)
            labels = flagged.drop("old")
            continue
        # barrier (localCheckpoint), not persist, at EVERY check
        # (optimization round 6): the check has to materialize the
        # round either way, but a checkpointed round is already safe to
        # return — the final "materialize + localCheckpoint the result"
        # job that used to re-write the converged labels is gone (one
        # fewer job per CC call; the dedup funnel and global entity
        # resolution each pay this floor). Lineage truncation at every
        # check also subsumes the old every-3rd-check barrier cadence.
        flagged = barrier(flagged)

        changed = (
            flagged.filter(F.col("component") != F.col("old")).limit(1).count()
        )
        pinned.unpersist()
        pinned = flagged  # checkpointed round (unpersist is a no-op for it)
        labels = flagged.drop("old")
        if changed == 0:
            converged = True
            break

    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — graph diameter exceeds the round budget; raise "
            "max_iterations or switch to a doubling variant"
        )
    # labels is a projection over the checkpointed converged round — no
    # cache-manager entry leaks, no extra materialization job
    return labels.select("vertex", "component")


def connected_components_stars(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Large-star/small-star connected components — same contract as
    connected_components (vertex, component=min reachable id), but
    O(log² n) rounds regardless of graph diameter.

    Per round (edges kept canonical u > v, deduped):
    - large-star: every vertex u links its LARGER neighbors to
      m = min(N(u) ∪ {u}) — long chains fold toward local minima.
    - small-star: every vertex u links its smaller neighbors and
      itself to m = min(N(u)) — stars flatten to depth 1.
    The fixpoint is a star per component centered on its minimum;
    a converged round reproduces its input edge set exactly, which is
    the (checked) termination condition."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    vertices = (
        raw.select(F.col("u").alias("vertex"))
        .unionByName(raw.select(F.col("v").alias("vertex")))
        .distinct()
        .persist()
    )
    e = barrier(
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )

    converged = False
    for _ in range(max_iterations):
        # large-star over the symmetric view
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            # v > u ≥ m, so (v, m) is already canonical
            .select(F.col("v").alias("u"), m.alias("v"))
            .distinct()
        )
        # small-star on the down-directed canonical edges
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        out_u = mins2.select(F.col("u"), F.col("m").alias("v"))
        out_v = (
            large.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            # v > m (m is the group minimum), so (v, m) is canonical
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        new_e = barrier(out_u.unionByName(out_v).distinct())

        same = (
            new_e.join(e, ["u", "v"], "left_anti").limit(1).count() == 0
            and e.join(new_e, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        e = new_e
        if same:
            converged = True
            break

    if not converged:
        vertices.unpersist()
        raise RuntimeError(
            f"connected_components_stars did not converge in {max_iterations} "
            "rounds — unexpected for O(log² n) convergence; check the edge data"
        )
    # converged edges are (member, component_min) stars; vertices not
    # appearing as a member (component minima, isolated/self-loop
    # vertices) label themselves
    stars = e.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
    result = barrier(
        vertices.join(stars, "vertex", "left").select(
            "vertex", F.coalesce("component", "vertex").alias("component")
        )
    )
    vertices.unpersist()
    return result
