"""Connected components / cluster assignment by priority label propagation.

Reference semantics (``lib/sequence_error.py:77-89`` + ``:59-71``): nodes
are visited in count-descending order; each unvisited node seeds a BFS
over *directed* edges; a node reachable from several seeds is assigned to
the cluster whose representative wins the deterministic tie-break.

Equivalence theorem (SURVEY.md §7 "hard parts", proven in
``tests/test_directional.py`` against the pure-Python oracle): because the
directional predicate count[a] >= 2*count[b]-1 makes counts non-increasing
along directed paths (strictly decreasing for counts >= 2), a node n's
final cluster seed is exactly

    argmax over { m : m ->* n } ∪ {n}  of priority(m),
    priority = (count desc, tie-break asc)

i.e. the best-priority node that *reaches* n. That is a pure fixpoint —
no sequential seeding loop — computed here as iterative label propagation
along directed edges: O(diameter) joins, each followed by
``localCheckpoint`` to truncate lineage (the Catalyst-inexpressible
fixpoint loop, SURVEY.md §4). This replaces the reference's mutable
cross-group result propagation (``lib/markdup_sam.py:196-199``) with
stateless joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pack(count_col, tb_col, fam_col):
    # priority order (count desc, tb asc) == min of struct(-count, tb);
    # tb (min doc_key per family) is unique, so the order is total.
    return F.struct(
        (-count_col).alias("nc"), tb_col.alias("tb"), fam_col.alias("fam")
    )


class CCNotConverged(RuntimeError):
    """Label propagation hit max_iters with labels still changing —
    the graft analog of the reference's drained-state hard assert
    (``lib/markdup_sam.py:208-212``): never silently emit inconsistent
    clusters."""


def propagate_labels(
    nodes: DataFrame,
    edges: DataFrame,
    max_iters: int = 25,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Fixpoint: label(n) = best-priority node among {m: m ->* n} ∪ {n}.

    nodes: (fam, fam_count, fam_tb). edges: directed (src, dst).
    Returns (labels, iterations): labels = (fam, cluster_id) where
    cluster_id is the seed family's norm_hash.

    ``num_partitions``: explicit partition width for the fixpoint working
    set (labels, edges, and each round's aggregation). The loop's data is
    the edge-touched families only, and each round is a chain of small
    sequential stage waves — when the working set is far smaller than
    ``spark.sql.shuffle.partitions``, per-task overhead dominates every
    round. The caller sizes this from the (already materialized) edge
    count; None keeps the session default (the right answer at scale).

    Convergence is O(log diameter), not O(diameter): each round combines
    (a) one edge hop (neighbor labels) with (b) pointer doubling — every
    node also adopts the label of its current label's node,
    lbl(n) <- min(lbl(n), lbl(lbl(n).fam)). Soundness: lbl(n).fam always
    *reaches* n (edges preserve it by definition; for doubling, if m
    reaches n and p reaches m then p reaches n), so the accelerated
    fixpoint equals the plain edge-hop fixpoint — a chain of length d
    converges in ~log2(d) rounds instead of d. Raises
    :class:`CCNotConverged` if max_iters rounds were not enough
    (2^max_iters-hop reach — unreachable in practice).
    """
    # localCheckpoint blocks have NO public release API (DataFrame
    # .unpersist only touches the SQL cache), and the ContextCleaner only
    # reclaims them after a JVM GC notices the RDD is unreachable — in a
    # long-lived session each pipeline run would strand its loop-internal
    # checkpoints (init labels, edge snapshot, every non-final round)
    # in executor storage. Record the persistent-RDD ids created by this
    # loop and free all but the final label table's before returning.
    # Caveat: assumes no concurrent persist() on this SparkContext during
    # the loop (the pipeline is single-threaded per run).
    _jsc = nodes.sparkSession.sparkContext._jsc
    _rdds_before = {int(i) for i in _jsc.getPersistentRDDs().keySet().toArray()}
    labels = nodes.select(
        F.col("fam"),
        _pack(F.col("fam_count"), F.col("fam_tb"), F.col("fam")).alias("lbl"),
    )
    if num_partitions is not None:
        labels = labels.repartition(num_partitions, "fam")
    # lazy: the blocks materialize inside round 0's single action instead
    # of a separate serial job barrier (r6 — the eager init job was ~1.7s
    # of the 3.6s labels stage at bench scale; round 0 consumes `labels`
    # twice, and a lazy localCheckpoint still computes its blocks once)
    labels = labels.localCheckpoint(eager=False)

    # the hop side is invariant across rounds: partition + sort it by src
    # ONCE and snapshot it as a LEAF (localCheckpoint -> LogicalRDD, which
    # preserves outputPartitioning/outputOrdering), so every round's hop
    # join shuffles and sorts only the (small) label delta side, never the
    # edge table again. A persist() would give the same *execution* (the
    # cache is substituted at planning time) but NOT the same *planning*:
    # each round's localCheckpoint eagerly plans its tree (toRdd), and
    # with a persisted-but-not-truncated edge table that tree still
    # contains the pipeline's entire upstream lineage — measured 2-3s of
    # driver-side Catalyst analysis PER ROUND at 20k docs (the dominant
    # labels-stage cost), growing with pipeline depth at scale. The leaf
    # cuts round planning to milliseconds. Blocks are freed by the
    # ContextCleaner when the loop's DataFrames are collected — there is
    # no unpersist() for checkpoint blocks, and the table is one narrow
    # (src, dst) pair per edge, the smallest table in the stage.
    edges_by_src = (
        (
            edges.repartition(num_partitions, "src")
            if num_partitions is not None
            else edges.repartition("src")
        )
        .sortWithinPartitions("src")
        .localCheckpoint(eager=False)
    )

    iters = 0
    converged = False
    try:
        for it in range(max_iters):
            iters += 1
            incoming = (
                edges_by_src.join(labels, edges_by_src.src == labels.fam)
                .select(F.col("dst").alias("fam"), F.col("lbl"))
            )
            upd = incoming
            if it > 0:
                # pointer doubling: adopt the label of the node my label
                # points at. Skipped in round 0 where every label is
                # self-pointing (doubling would be an identity self-join).
                doubled = (
                    labels.alias("x")
                    .join(labels.alias("y"), F.col("x.lbl.fam") == F.col("y.fam"))
                    .select(F.col("x.fam").alias("fam"), F.col("y.lbl").alias("lbl"))
                )
                upd = upd.unionByName(doubled)
            # improvements only ride the shuffle: the full label table is
            # the left join side (keeps its checkpoint partitioning), the
            # aggregated candidate minima are the delta side. ONE job per
            # round: the lazy localCheckpoint's blocks are materialized by
            # the same action that fetches the change flag.
            if num_partitions is not None:
                # land the agg on the labels' width: HashPartitioning(fam)
                # satisfies the agg's required distribution, so the agg
                # runs in place and the left join is co-partitioned — one
                # narrow exchange per round instead of agg-width + rewidth.
                # (Skipping map-side partial agg is free here: this branch
                # only fires when the working set is small.)
                upd = upd.repartition(num_partitions, "fam")
            best = upd.groupBy("fam").agg(F.min("lbl").alias("new_lbl"))
            new_labels = (
                labels.join(best, "fam", "left")
                .select(
                    "fam",
                    F.when(
                        F.col("new_lbl") < F.col("lbl"), F.col("new_lbl")
                    ).otherwise(F.col("lbl")).alias("lbl"),
                    F.coalesce(
                        F.col("new_lbl") < F.col("lbl"), F.lit(False)
                    ).alias("chg"),
                )
                .localCheckpoint(eager=False)
            )
            changed = new_labels.agg(F.max("chg")).collect()[0][0]
            labels = new_labels.select("fam", "lbl")
            if not changed:
                converged = True
                break
    finally:
        # free every checkpoint this loop created except the newest
        # (= the final label table — RDD ids are monotonic, so the last
        # persisted id among the loop's creations is the returned one);
        # on an exception nothing survives, free them all.
        _jmap = _jsc.getPersistentRDDs()
        _created = sorted(
            int(i) for i in _jmap.keySet().toArray() if int(i) not in _rdds_before
        )
        _keep = _created[-1] if (_created and converged) else None
        for _i in _created:
            if _i != _keep:
                _jmap.get(_i).unpersist(False)

    if not converged:
        raise CCNotConverged(
            f"label propagation did not converge in {max_iters} iterations"
        )
    return labels.select("fam", F.col("lbl.fam").alias("cluster_id")), iters
