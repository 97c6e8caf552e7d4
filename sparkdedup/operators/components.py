"""Iterative hash-join connected components (tree hooking, FastSV style).

Each edge-touched node u carries a label f[u]: the id of its parent in
a forest whose roots are component members, with f[u] <= u throughout,
seeded with min(u, neighbours of u). One round (Shiloach-Vishkin as
simplified by FastSV, Zhang, Azad & Hu, SIAM PP'20) is two hash joins
and two min aggregates:

- gf[u] = f[f[u]]                        labels ⋈ labels (grandparent)
- m[u]  = min of gf[v] over u and its    edges ⋈ gf, groupBy node, min
          neighbours
- f'[u] = min(m[u], every m[w] with f[w] = u)

The second source is the hook: a node w lowers its *parent's* label, so
a whole tree is re-rooted in one round instead of one node at a time,
and gf halves every path. This is FastSV's update (its f[u] term is
implied: gf[u] <= f[u]). Labels only decrease, so an unchanged label-sum
is the fixpoint, where every tree is a star rooted at its component's
minimum id.

Bound: the minimum still moves at least one edge per round, so a
component converges within diameter + 1 rounds; hooking whole trees
makes the rounds grow with log n in practice. On a chain whose ids are
ordered against pointer jumping (smallest at the head, then descending)
this update takes 10 rounds at 256 links, 12 at 1024 and 16 at 20,000.

Every round localCheckpoints to truncate lineage (Catalyst never does
this for you — SURVEY.md §4), and the join keys are plain longs so AQE's
skew-join splitting handles mega-cluster label skew.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig


class ComponentsNotConverged(RuntimeError):
    """connected_components used all max_cc_iters rounds without reaching
    its fixpoint, so its labels are not the components."""


class CCRounds(int):
    """The number of rounds connected_components ran (the int value, so
    callers that only count rounds keep working), plus whether the last
    round reached the fixpoint and each round's driver wall time."""

    converged: bool
    seconds: tuple[float, ...]

    def __new__(cls, seconds, converged: bool):
        rounds = super().__new__(cls, len(seconds))
        rounds.seconds = tuple(seconds)
        rounds.converged = converged
        return rounds


def release_local_checkpoint(df: DataFrame) -> None:
    """Release a superseded localCheckpoint's storage blocks NOW.

    The JVM holds checkpointed RDDs strongly (they survive GC for the
    session's lifetime — r6 verdict nit #1 generalized), so iterative
    operators must drop their superseded rounds explicitly or a long
    session accumulates one block set per iteration per run. Only call
    once nothing will read the DataFrame again: a localCheckpoint has no
    lineage to recompute from."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass  # not a bare LogicalRDD (not checkpoint-backed) — nothing to do


def _checkpoint_keeping_partitioning(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager=False) that keeps df's hash partitioning.

    A checkpoint planned under AQE reports UnknownPartitioning (AQE may
    re-plan the shuffle that produced it), so every consumer would
    exchange it again. Planned without AQE it keeps hashpartitioning;
    the checkpoint's physical plan is fixed at this call, so AQE is
    switched off for the call only (the session conf is shared, so a
    query another thread plans meanwhile also runs without AQE)."""
    conf = df.sparkSession.conf
    key = "spark.sql.adaptive.enabled"
    aqe = conf.get(key)
    conf.set(key, "false")
    try:
        return df.localCheckpoint(eager=False)
    finally:
        conf.set(key, aqe)


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> sym(a, b): both directions plus a self-loop on
    every edge-touched node, distinct. The self-loop puts each node in
    its own neighbourhood, so one groupBy over sym sees u's own label
    next to its neighbours'."""
    def pair(a, b):
        return F.struct(F.col(a).alias("a"), F.col(b).alias("b"))

    return (
        edges.select(F.inline(F.array(pair("src", "dst"), pair("dst", "src"),
                                      pair("src", "src"), pair("dst", "dst"))))
        .distinct()
        # partition the static edge table by the per-round join key ONCE,
        # before the checkpoint pins it, so the edges-side exchange stays
        # out of the round loop — at scale that is the largest per-round
        # shuffle (edges >> labels)
        .repartition("b")
    )


def seed_labels(sym: DataFrame) -> DataFrame:
    """f[u] = min(u, neighbours of u) over the edge-touched nodes.

    Only edge-touched nodes are labelled: a node with no edges is its own
    component, so singletons — the vast majority of a dedup corpus — pay
    zero iteration cost and rejoin via one left join at the end. sym is
    symmetric, so grouping by b (its partitioning key) needs no
    exchange."""
    return (sym.groupBy("b").agg(F.min("a").alias("label"))
            .withColumnRenamed("b", "file_id"))


def initial_state(edges: DataFrame):
    """(sym, seed labels), both lazily checkpointed."""
    # eager=False everywhere in this operator: the next action that
    # touches the frame materializes the checkpoint as part of its own
    # job, so each round costs ONE blocking job (the convergence sum)
    # instead of two (checkpoint job + sum job)
    sym = _checkpoint_keeping_partitioning(symmetric_edges(edges))
    return sym, seed_labels(sym).localCheckpoint(eager=False)


def hook_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One round: labels(file_id, label) -> the lowered labels.

    gf[v] = f[f[v]] is one labels self-join; m[u], the min of gf over u
    and its neighbours, is sym ⋈ gf plus a groupBy(a) min, whose
    self-loop row also brings f[u] along. Every node then offers m[u] to
    itself and, as the hook, to its parent f[u]."""
    # labels has one row per file_id, but a checkpoint cannot tell the
    # optimizer so: without this aggregate its join estimate multiplies
    # the sizes of both labels sides, the checkpoint carries the product
    # into the next round, and the estimate's digits (and planning time)
    # double every round — past round ~15 planning took minutes. The
    # aggregate shares the exchange the join needs anyway.
    parent = (labels.groupBy("file_id").agg(F.min("label").alias("gf"))
              .withColumnRenamed("file_id", "label"))
    gf = labels.join(parent, "label").withColumnRenamed("file_id", "b")
    # min is a partial-aggregating HashAggregate, so the reduce side of
    # the exchange receives at most one row per key PER MAP TASK however
    # many rows share it (a hub node needs no salting); join-side skew
    # stays with AQE's skew-join splitting
    per_node = sym.join(gf, "b").groupBy("a").agg(
        F.min("gf").alias("m"),
        F.min(F.when(F.col("a") == F.col("b"), F.col("label"))).alias("f"))

    def offer(target):
        return F.struct(F.col(target).alias("file_id"), F.col("m").alias("label"))

    return (per_node.select(F.inline(F.array(offer("a"), offer("f"))))
            .groupBy("file_id").agg(F.min("label").alias("label")))


def _label_sum(labels: DataFrame):
    return labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).first()["s"]


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    cfg: DedupConfig,
) -> tuple[DataFrame, CCRounds]:
    """edges(src, dst) + nodes(file_id) -> clusters(file_id, cluster_id).

    cluster_id is the minimum file_id in the component. Returns
    (clusters_df, rounds); check rounds.converged: after max_cc_iters
    rounds without a fixpoint the clusters are not the components.
    """
    sym, labels = initial_state(edges)
    # computing the initial sum NOW also materializes the labels (and sym)
    # checkpoints in the same job
    prev_sum = _label_sum(labels)

    seconds = []
    converged = False
    for _ in range(cfg.max_cc_iters):
        t0 = time.perf_counter()
        new = hook_round(sym, labels).localCheckpoint(eager=False)
        # convergence: labels never increase, so the label-sum strictly
        # decreases until the fixpoint — one narrow aggregate per round
        # instead of a self-join compare; this action also materializes
        # the round's lazy checkpoint
        new_sum = _label_sum(new)
        seconds.append(round(time.perf_counter() - t0, 3))
        # the sum above materialized this round's checkpoint, so the
        # previous round's blocks are unreachable by any future plan —
        # release them instead of letting them pile up for the session
        release_local_checkpoint(labels)
        labels = new
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    release_local_checkpoint(sym)
    return _with_singletons(nodes, labels), CCRounds(seconds, converged)


def cluster_representatives(
    clusters: DataFrame,
    attrs: DataFrame,
    id_col: str = "file_id",
    cluster_col: str = "cluster_id",
    size_col: str = "n_tokens",
) -> DataFrame:
    """Pick one representative per cluster from a MATERIALIZED clusters
    table: the member with max `size_col`, ties broken by min id.
    Returns (id_col, cluster_col, is_rep).

    This is the production shape of the `cluster_rep_docs` gate query
    (which must recompute its closure inline to stay self-contained): one
    hash join against the attribute table, then the argmax as TWO
    partial-aggregated aggregations and a join back — no cluster-wide
    window, so a 10^8-member boilerplate mega-cluster partial-aggregates
    map-side instead of gathering into a single task.
    """
    j = clusters.select(id_col, cluster_col).join(
        attrs.select(id_col, size_col), id_col)
    best = j.groupBy(cluster_col).agg(F.max(size_col).alias("_mx"))
    rep = (j.join(best, cluster_col)
             .filter(F.col(size_col) == F.col("_mx"))
             .groupBy(cluster_col).agg(F.min(id_col).alias("_rep")))
    return (j.join(rep, cluster_col)
             .select(id_col, cluster_col,
                     (F.col(id_col) == F.col("_rep")).alias("is_rep")))


def _with_singletons(nodes: DataFrame, labels: DataFrame) -> DataFrame:
    """Re-attach edge-less nodes (their own cluster) to the converged
    labels of the edge-touched subgraph."""
    return (
        nodes.select("file_id")
        .join(labels, "file_id", "left")
        .select("file_id",
                F.coalesce("label", "file_id").alias("cluster_id"))
    )
