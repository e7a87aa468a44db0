"""Duplicate-cluster resolution: connected components over near-dup
pair edges.

The dedup operators (exact/minhash/simhash/jaccard/embedding) emit
PAIRS; deduplicating a corpus needs the transitive closure — if
A~B and B~C then A,B,C are one cluster with one kept representative.
This is the standard last stage of a pretraining dedup pipeline.

Algorithm: iterative min-label propagation (each node adopts the
smallest label among itself and its neighbors) PLUS a path-halving
pointer jump per round (each node then adopts its label's label) —
the DataFrame-native formulation of connected components with path
compression. Propagation alone converges in O(component diameter)
rounds; the jump lets the minimum travel exponentially (reach ~2^r
after r rounds), so convergence is O(log d) — on a 100 TB corpus the
round count, not per-round cost, is the wall-clock driver, and a
long chain topology (crawl-mirror chains) would otherwise stall the
job at O(d). Each round is two equi-joins + one aggregate on node
id; on a 1000-executor cluster that is three shuffles over |V| rows,
where V is only the nodes that appear in some pair (≪ corpus).

Lineage: labels are CHECKPOINTED each round, not persisted —
``persist`` keeps the full logical plan, which for an iterative
join grows exponentially with rounds (the plan tree alone OOMs the
driver around round ~15). Truncation is the standard Spark answer
for iterative algorithms (GraphX does the same): a reliable
``checkpoint`` when ``sparkContext.setCheckpointDir`` is configured
(fault-tolerant — set it to HDFS/object storage on a real cluster),
else ``localCheckpoint`` (single-node sessions; an executor loss
reruns the job, which for a deterministic CC is safe to retry).

Cited precedent: hash-min with pointer jumping from the MapReduce
connected-components family (Kiveris et al., "Connected Components
in MapReduce and Beyond" — public literature); path halving is the
classic union-find compression applied once per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.session import materialize

import threading

#: Per-THREAD round count of the most recent ``connected_components``
#: call — observability for the O(log d) claim only (tests + NOTES.md
#: rehearsals); reset to 0 at call entry so an exception mid-loop
#: can't leak a prior run's count. Read as ``clusters.LAST_ROUNDS``
#: (module __getattr__ below) or, per-call, as the ``cc_rounds``
#: attribute of the returned labels DataFrame.
_ROUNDS = threading.local()


def __getattr__(name: str) -> int:
    if name == "LAST_ROUNDS":
        return getattr(_ROUNDS, "value", 0)
    raise AttributeError(name)


def _truncate(df: DataFrame) -> DataFrame:
    """Cut lineage between iterations: reliable checkpoint when a
    checkpoint dir is configured, localCheckpoint otherwise.

    LAZY (eager=False): every round immediately runs a `changed`
    count over the result, which materializes the checkpoint — an
    eager truncate would run a whole extra job per round just to
    materialize it earlier."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in ``edges``;
    ``cluster_id`` is the component's minimum node id (stable,
    deterministic representative).

    Raises if ``max_iters`` rounds do not reach the fixpoint — a
    silent partial closure would under-merge clusters, which for
    dedup means silently KEEPING duplicates; fail loudly instead.
    """
    sym = materialize(
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        ).union(
            edges.select(
                F.col(dst_col).cast("long").alias("src"),
                F.col(src_col).cast("long").alias("dst"),
            )
        )
    )
    # one pass fewer: the identity initialization
    # labels(id)=id makes round 1's sym⋈labels join a no-op lookup —
    # fuse it: label₀ = min(id, min neighbor) is exactly the result
    # of round 1's propagation, computed with ONE aggregate over sym
    # and no join. The fixpoint (component-min labels) is unchanged —
    # hash-min converges from ANY in-component upper bound — so this
    # removes one full checkpoint+count round per CC call.
    labels = _truncate(
        sym.groupBy("src")
        .agg(F.min("dst").alias("_nbr"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("_nbr")).alias("label"),
        )
    )
    _ROUNDS.value = 0
    for rounds in range(1, max_iters + 1):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
            .select(F.col("src").alias("id"), "nbr_label")
        )
        prop = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_old"),
        )
        # path-halving pointer jump: label ← min(label, label(label)),
        # resolved against the PREVIOUS round's mapping so `prop` (not
        # yet checkpointed) is scanned once. Every label value is a
        # node id, so the mapping is total; labels only decrease, so
        # the jump stays inside the component and cannot cycle.
        jump = F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label")))
        # change detection is fused into the update join (a `_changed`
        # flag column) — counting it on the checkpointed result costs
        # one tiny job, vs a whole labels⋈labels join per round
        new_labels = _truncate(
            prop.join(
                labels.select(
                    F.col("id").alias("label"), F.col("label").alias("_ll")
                ),
                "label",
                "left",
            ).select(
                "id",
                jump.alias("label"),
                (jump < F.col("_old")).alias("_changed"),
            )
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            _ROUNDS.value = rounds
            sym.unpersist()
            out = labels.select("id", F.col("label").alias("cluster_id"))
            out.cc_rounds = rounds  # per-call channel, no shared state
            return out
    _ROUNDS.value = max_iters  # don't report a stale prior run's count
    sym.unpersist()  # a caller retrying with higher max_iters must
    # not accumulate one orphaned edge table per failed attempt
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        f"raise max_iters (component diameter exceeds it)"
    )


def cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    quality_col: str | None = None,
) -> DataFrame:
    """(doc_id, cluster_id, is_representative) over the WHOLE corpus:
    docs in no pair form singleton clusters of themselves. Filtering
    on ``is_representative`` is the dedup.

    Representative choice: by default the cluster's min doc id (free
    — it IS the cluster id). With ``quality_col``, the member with
    the HIGHEST quality wins (ties → lowest doc id) — the real
    pipeline shape: near-dup families keep the cleanest copy, not an
    arbitrary one. Cost: one ``max_by`` hash aggregate keyed on
    cluster_id (map-side combine, ~24 B/row shuffle carrying only
    (cluster, id, quality)) + one equi-join back — both partition on
    cluster_id, so at 100 TB the added stages reuse one shuffle
    exchange and never move document text.
    """
    cc = connected_components(pairs, src_col, dst_col)
    cols = [F.col(id_col).alias("doc_id")] + (
        [F.col(quality_col).alias("_q")] if quality_col else []
    )
    labeled = docs.select(*cols).join(
        cc.select(F.col("id").alias("doc_id"), "cluster_id"), "doc_id", "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    if quality_col is None:
        return labeled.withColumn(
            "is_representative", (F.col("doc_id") == F.col("cluster_id"))
        )
    best = labeled.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(_q, -doc_id))").alias("_rep")
    )
    return (
        labeled.join(best, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("_rep")).alias("is_representative"),
        )
    )
