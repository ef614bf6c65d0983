"""Connected components over an edge list (iterative min-label propagation).

The transitive-closure primitive under duplicate-cluster formation
(plans/textpipe.py d10) and any entity-resolution pipeline: A~B, B~C =>
{A, B, C} share one component id (the minimum node id reachable).

Scale shape: each round is a keyed join (messages flow along edges) plus a
min-aggregate — two shuffles on node id, no driver-side data; rounds are
bounded by the graph diameter (tiny for dup graphs: chains of
near-identical docs). `localCheckpoint` truncates the per-round lineage so
plans stay flat. For diameters beyond the round budget the propagation
loop finishes exactly via :func:`connected_components_star` (large-star/
small-star contraction, O(log n) rounds) on the label quotient graph.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str = "a", dst: str = "b", max_rounds: int = 25
) -> DataFrame:
    """Return (node, component) for every node in `edges`; component is the
    minimum node id in the connected component. Edges are undirected."""
    # Checkpoint the DIRECTED edge list first, then build the symmetric
    # view from the checkpoint: both union branches and everything the loop
    # derives (labels, per-round messages) must descend from the
    # materialized edges, or the (possibly very expensive) upstream pair
    # generation re-runs once per union branch and again on labels' first
    # use.
    e = edges.selectExpr(f"{src} AS a", f"{dst} AS b").localCheckpoint(
        eager=True
    )
    sym = e.union(e.selectExpr("b AS a", "a AS b"))
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    # Pre-initialize so the for/else fallback can report a round count even
    # when max_rounds <= 0 skips the loop body entirely (previously an
    # unbound-name NameError inside the warning message).
    changed = -1

    def _lsig(df):
        # Order-free label-set signature (the star operator's discipline):
        # per-node labels only ever DECREASE, so the set changed iff the
        # hash-sum changed; a collision is caught by the exact join below.
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("node", "label").cast("decimal(38, 0)")).alias("h"),
        ).first()  # bounded: one aggregate row.

    sig_old = None
    for _ in range(max_rounds):
        msgs = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), "label"
        )
        # Lazy checkpoint: the signature below is the round's first
        # action and materializes it — one job per round, not two.
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        # Cheap signature per round (r16 optimization — was a per-round
        # join + count whose shuffle stages tripled the round's job
        # count); only when it matches, confirm exact set equality with
        # the one join that used to run every round.
        sig_new = _lsig(new_labels)
        if sig_new == sig_old:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()  # bounded: a scalar.
            )
        else:
            changed = -1
        labels, sig_old = new_labels, sig_new
        if changed == 0:
            break
    else:
        # Exhausted max_rounds without converging: labels are an upper
        # bound on the true components (some may still merge). Returning
        # them would be a silent wrong answer — warn, then finish EXACTLY
        # on the quotient graph: the partial labels define a coarser graph
        # (one node per current label, an edge where any original edge
        # crosses labels) that is usually tiny, and star contraction
        # closes it in O(log n) rounds regardless of remaining diameter.
        warnings.warn(
            f"connected_components did not converge within {max_rounds} "
            f"rounds ({changed if changed >= 0 else 'unknown'} labels still "
            "changing) — diameter exceeds "
            "the round budget; finishing exactly via large-star/small-star "
            "contraction on the label quotient graph.",
            RuntimeWarning,
            stacklevel=2,
        )
        la = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
        lb = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
        quotient = (
            e.join(la, "a")
            .join(lb, "b")
            .filter(F.col("la") != F.col("lb"))
            .select("la", "lb")
            .distinct()
        )
        qcomp = connected_components_star(quotient, src="la", dst="lb")
        labels = (
            labels.join(
                qcomp.withColumnRenamed("node", "label"), "label", "left"
            )
            # labels absent from the quotient were already fully merged
            .select(
                "node",
                F.coalesce("component", "label").alias("label"),
            )
        )
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via large-star/small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    the high-diameter companion to :func:`connected_components`.

    Min-label propagation needs O(diameter) rounds; web-scale dup graphs
    have long chains (template families), where diameter ~ n. Star
    contraction instead alternates two rewrites of the EDGE set until it
    reaches a fixed point of star graphs rooted at each component minimum:

    * large-star(u): every neighbor v > u re-attaches to
      m = min(N(u) + {u}) — emit (v, m);
    * small-star(u): over the canonical (a > b) edges grouped by a,
      m = min of the smaller neighbors — emit (b, m) for b != m and (a, m).

    Both halves preserve connectivity and the node set, strictly contract
    toward minima, and converge in O(log^2 n) rounds regardless of
    diameter. Per half-round cost: one keyed min-aggregate + one keyed
    join + one distinct — the same keyed-shuffle shape as one min-label
    round, just O(log^2 n) of them instead of O(n). High-degree hubs do
    NOT explode: large-star moves each hub edge once, to the hub's min.

    `stats["rounds"]`, when a dict is supplied, records the number of
    (large+small) iterations actually run — tests pin the O(log n)
    behavior with it.
    """
    # LAZY localCheckpoint throughout: the signature aggregate right after
    # is the round's first action, so ONE job materializes the checkpoint
    # AND computes the convergence signature (eager=True would spend a
    # separate materialization job per round — measurably half the
    # operator's driver round-trips, since the per-round data is KBs and
    # the cost is job latency).
    e = (
        edges.selectExpr(f"{src} AS a", f"{dst} AS b")
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    def _sig(df):
        # Order-free edge-set signature: count + hash-sum (decimal to dodge
        # ANSI long overflow). One tiny driver job.
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38, 0)")).alias("h"),
        ).first()  # bounded: one aggregate row.

    rounds = 0
    sig_old = _sig(e)
    wa = Window.partitionBy("a")
    for rounds in range(1, max_rounds + 1):
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # Each star half is a WINDOW over its own re-attachment key, not a
        # groupBy + self-join (r16 optimization): the per-key minimum
        # m = least(min(b) over a, a) lands on every neighborhood row in
        # the SAME shuffle that grouped it, so a round costs 3 exchanges
        # (two windows + the distinct) instead of 5 plus two join stages.
        # Emitted multiplicity differs only upstream of the final distinct,
        # which both consumers (the signature agg and the next round) sit
        # behind — the edge SET per round is unchanged.
        large = (
            sym.withColumn("m", F.least(F.min("b").over(wa), F.col("a")))
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        # small-star over the canonical (a > b) orientation: every smaller
        # neighbor and the center itself re-attach to the local minimum.
        cand = large.withColumn("m", F.min("b").over(wa))
        new_e = (
            cand.filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(cand.select("a", F.col("m").alias("b")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Cheap signature first (the previous round's is reused); this is
        # the round's ONLY job — it materializes the lazy checkpoint as a
        # side effect. Only when the signature matches, confirm true set
        # equality with one exceptAll (both sides are distinct, so equal
        # counts + empty difference => equal sets).
        sig_new = _sig(new_e)
        converged = sig_old == sig_new and new_e.exceptAll(e).isEmpty()
        e, sig_old = new_e, sig_new
        if converged:
            break
    else:
        warnings.warn(
            f"connected_components_star did not reach an edge fixed point "
            f"within {max_rounds} rounds; component ids may be split too "
            "fine. Increase max_rounds.",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
    # Fixed point is a union of stars (leaf -> component min). Self-loops
    # were filtered up front, so every input node sits in a component of
    # size >= 2 and appears in the star edges; roots label themselves.
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("label")).union(
        e.select(F.col("b").alias("node"), F.col("b").alias("label"))
    )
    return labels.groupBy("node").agg(F.min("label").alias("component"))
