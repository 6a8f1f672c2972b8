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
along directed edges: O(log diameter) rounds of joins, each ending in
an eager ``localCheckpoint`` that truncates lineage (the
Catalyst-inexpressible fixpoint loop, SURVEY.md §4). This replaces the
reference's mutable cross-group result propagation
(``lib/markdup_sam.py:196-199``) with stateless joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from umi_dedup_spark.session import parse_size_bytes

# Bytes of one label row (fam, struct(nc, tb, fam)) as an UnsafeRow: an
# 8-byte null bitset and two 8-byte slots, plus the nested struct's own
# row (8-byte bitset, three longs) = 56 bytes, rounded up to 64 for the
# broadcast hash relation's per-row overhead.
LABEL_ROW_BYTES = 64


def labels_fit_broadcast(spark: SparkSession, n_nodes: int) -> bool:
    """True when a label table of ``n_nodes`` rows fits the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (negative = disabled: the
    planner then chooses every join itself)."""
    threshold = parse_size_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    return n_nodes * LABEL_ROW_BYTES <= threshold


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
    nodes: DataFrame, edges: DataFrame, max_iters: int = 25
) -> tuple[DataFrame, int]:
    """Fixpoint: label(n) = best-priority node among {m: m ->* n} ∪ {n}.

    nodes: (fam, fam_count, fam_tb). edges: directed (src, dst).
    Returns (labels, iterations): labels = (fam, cluster_id) where
    cluster_id is the seed family's norm_hash.

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

    A round moves O(nodes) rows, never the edge table: the label table
    (one row per node, far smaller than the edges) is the broadcast build
    side of all three joins when it fits the session's broadcast
    threshold, so the edges are read in place from their checkpoint, and
    the per-node ``min`` aggregates map-side before its one shuffle. A
    checkpoint leaf reports ``UnknownPartitioning`` under AQE, so
    pre-partitioning the edges by src would not spare that shuffle.
    """
    spark = nodes.sparkSession
    # localCheckpoint blocks have NO public release API (DataFrame
    # .unpersist only touches the SQL cache), and the ContextCleaner only
    # reclaims them after a JVM GC notices the RDD is unreachable — in a
    # long-lived session each pipeline run would strand its loop-internal
    # checkpoints (init labels, every non-final round) in executor
    # storage. Record the persistent-RDD ids created by this loop and
    # free all but the final label table's before returning.
    # Caveat: assumes no concurrent persist() on this SparkContext during
    # the loop (the pipeline is single-threaded per run).
    _jsc = spark.sparkContext._jsc
    _rdds_before = {int(i) for i in _jsc.getPersistentRDDs().keySet().toArray()}

    # every checkpoint below is eager and carries an Observation: its
    # metrics arrive with the checkpoint's own job (on a LAZY checkpoint
    # an Observation silently reports zeros)
    init = Observation()
    labels = (
        nodes.select(
            F.col("fam"),
            _pack(F.col("fam_count"), F.col("fam_tb"), F.col("fam")).alias("lbl"),
        )
        .observe(init, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint(eager=True)
    )
    # decided once: labels never gain rows across rounds
    bcast = labels_fit_broadcast(spark, init.get["rows"])

    def lookup(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    iters = 0
    converged = False
    try:
        for it in range(max_iters):
            iters += 1
            hop_src = lookup(labels)
            incoming = edges.join(hop_src, edges.src == hop_src.fam).select(
                F.col("dst").alias("fam"), F.col("lbl")
            )
            if it == 0:
                # every label is self-pointing, so doubling would be an
                # identity self-join: each node offers its own label
                own = labels
            else:
                # pointer doubling: adopt the label of the node my label
                # points at. lbl(lbl(n).fam) <= lbl(n), so this also
                # offers every node a candidate no worse than its own.
                own = (
                    labels.alias("x")
                    .join(lookup(labels).alias("y"), F.col("x.lbl.fam") == F.col("y.fam"))
                    .select(F.col("x.fam").alias("fam"), F.col("y.lbl").alias("lbl"))
                )
            # every node has a candidate, so the improvement join is an
            # inner join that can build on the (broadcast) label table
            best = (
                incoming.unionByName(own)
                .groupBy("fam")
                .agg(F.min("lbl").alias("new_lbl"))
            )
            round_obs = Observation()
            labels = (
                best.join(lookup(labels), "fam")
                .select(
                    "fam",
                    F.col("new_lbl").alias("lbl"),
                    (F.col("new_lbl") < F.col("lbl")).alias("chg"),
                )
                .observe(round_obs, F.max("chg").alias("changed"))
                .drop("chg")
                .localCheckpoint(eager=True)
            )
            if not round_obs.get["changed"]:
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
