"""Duplicate-cluster assignment: connected components over near-dup pairs.

Dedup pipelines need clusters, not pairs (keep one canonical doc per
component). This is iterative label propagation — the canonical min-id
of every node's component — expressed as pure DataFrame joins:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until fixpoint. Each iteration is one shuffle join + aggregate;
convergence takes O(component diameter) rounds (near-dup clusters are tiny,
so 2–4 in practice, with a hard cap). This is the engine's exemplar of an
iterative algorithm the SQL oracle expresses with a recursive CTE.

Scale notes: the edge list is pairs from the LSH candidates (bounded by the
bucket guards), labels is |nodes| rows; both are shuffled by id each round.
Intermediate labels are checkpointed every round so the lineage does not
grow unboundedly with iterations (the classic iterative-Spark pitfall).
With ``checkpoint_dir`` set the checkpoint is RELIABLE (written to the
fault-tolerant store, so a lost executor mid-iteration recovers); without
it the localCheckpoint fallback keeps blocks on executors — fast, but a
single executor loss makes the truncated lineage unrecoverable, so a real
cluster run over 10^12 rows must pass a directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import stage_cache

#: propagation rounds used by the most recent duplicate_clusters call in
#: this process — scale-soak telemetry (convergence must stay well under
#: max_iterations; see tools/soak.py)
LAST_ITERATIONS: int = 0


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 15,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """(id_a, id_b) undirected near-dup pairs → (doc_id, cluster_id) where
    cluster_id = min id in the connected component. Only nodes that appear
    in at least one pair are returned (singletons are their own cluster
    trivially).

    ``checkpoint_dir``: when given, per-round labels are reliably
    checkpointed there (``df.checkpoint()``) so the job survives executor
    loss mid-iteration; when None, the fast local fallback
    (``localCheckpoint``) is used — correct, but not fault-tolerant.

    Checkpoint hygiene: Spark never deletes superseded checkpoint files
    (cleanCheckpoints defaults to false), so without intervention a
    15-round run would leave 15 full label-table copies on the store. On
    a LOCAL checkpoint_dir the round-(r-1) files are deleted as soon as
    round r has materialized (only the latest checkpoint is referenced);
    on a remote store (hdfs://, s3://) the caller owns cleanup of the dir
    after consuming the result — documented, not silent. Each call scopes
    its checkpoints to a fresh ``run-<id>`` subdirectory (ADVICE r3:
    concurrent checkpointed jobs sharing one dir must never attribute —
    and later delete — each other's rdd-* files), and the context-global
    checkpoint dir this call sets is restored on EVERY exit path,
    including the unset case as far as the JVM API allows."""
    import glob
    import os
    import shutil
    import uuid

    sc = pairs.sparkSession.sparkContext
    prev_ckpt_dir = sc.getCheckpointDir() if checkpoint_dir is not None else None
    scoped_dir = None
    if checkpoint_dir is not None:
        scoped_dir = (checkpoint_dir.rstrip("/") + "/run-" + uuid.uuid4().hex)
        sc.setCheckpointDir(scoped_dir)
    is_local_ckpt = checkpoint_dir is not None and "://" not in checkpoint_dir
    ckpt_rounds: list = []

    def materialize(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        before = set(glob.glob(os.path.join(scoped_dir, "*", "rdd-*"))) \
            if is_local_ckpt else set()
        out = df.checkpoint(eager=True)
        if is_local_ckpt:
            after = set(glob.glob(os.path.join(scoped_dir, "*", "rdd-*")))
            ckpt_rounds.append(sorted(after - before))
            if len(ckpt_rounds) >= 2:
                # round r-1 is unreferenced once round r is materialized;
                # the LAST round's files stay (the returned frame reads them)
                for d in ckpt_rounds[-2]:
                    shutil.rmtree(d, ignore_errors=True)
        return out

    def _restore_checkpoint_dir() -> None:
        if checkpoint_dir is None:
            return
        if prev_ckpt_dir:
            sc.setCheckpointDir(prev_ckpt_dir)
            return
        try:  # no public unset API — clear the scala Option directly so
            # later unrelated df.checkpoint() calls cannot silently write
            # into (and depend on) this call's possibly-temporary dir.
            # Py4J access to a private[spark] var, verified against Spark
            # 4.1.2 (this repo's pin) — re-check the accessor name on any
            # Spark upgrade; on failure we WARN instead of silently keeping
            # the stale dir configured (ADVICE r4)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty())
        except Exception as exc:  # best effort; scoped run-dir still isolates
            import warnings
            warnings.warn(
                "duplicate_clusters could not restore the unset checkpoint "
                f"dir (private accessor failed: {exc!r}); later unrelated "
                "df.checkpoint() calls will keep writing under "
                f"{checkpoint_dir!r}", RuntimeWarning, stacklevel=2)

    # cut the (possibly expensive) pair-generation lineage out of the loop:
    # every iteration and every convergence count would otherwise recompute
    # it. Repartition by dst BEFORE caching: the per-round propagation join
    # keys on edges.dst, and a cached table's outputPartitioning satisfies
    # the join requirement — so the (large) edge table is shuffled ONCE at
    # build instead of once per round (distinct leaves it partitioned by
    # (src, dst), which every round's ensureRequirements re-exchanges).
    edges = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .union(pairs.select(F.col("id_b").alias("src"),
                                 F.col("id_a").alias("dst")))
             .distinct()
             .repartition(F.col("dst")))
    edges = stage_cache.persist("cluster_edges", edges)
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")))

    global LAST_ITERATIONS
    try:
        for i in range(max_iterations):
            LAST_ITERATIONS = i + 1
            neighbor_min = (edges.join(labels, edges.dst == labels.id)
                            .groupBy("src")
                            .agg(F.min("label").alias("nbr_label")))
            # path compression: each node also adopts its label's label
            # (pointer doubling) — without it, min propagation needs
            # O(component diameter) rounds and a 40-doc duplicate CHAIN
            # would blow the iteration cap; with it convergence is
            # O(log diameter).
            lbl2 = labels.select(F.col("id").alias("l_id"),
                                 F.col("label").alias("l_label"))
            compressed = (labels.join(lbl2, labels.label == lbl2.l_id, "left")
                          .select(labels.id, labels.label,
                                  F.coalesce(F.col("l_label"), F.col("label"))
                                  .alias("label2")))
            # ONE action per round: carry the old label through the
            # propagation join, checkpoint (materializes + truncates
            # lineage), then the convergence count is a filter over the
            # checkpointed rows — no second label-join/shuffle per round
            # (round-1 inefficiency).
            new_labels = (compressed.join(neighbor_min,
                                          compressed.id == neighbor_min.src,
                                          "left")
                          .select(compressed.id,
                                  F.col("label").alias("old_label"),
                                  F.least(F.col("label2"),
                                          F.coalesce(F.col("nbr_label"),
                                                     F.col("label")))
                                  .alias("label")))
            new_labels = materialize(new_labels)
            changed = new_labels.filter(
                F.col("label") != F.col("old_label")).count()
            labels = new_labels.select("id", "label")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"duplicate_clusters did not converge in {max_iterations} "
                f"iterations ({changed} labels still changing) — a "
                f"component's diameter exceeds the cap; raise max_iterations")
    finally:
        _restore_checkpoint_dir()  # every exit path, incl. non-convergence
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_id"))
