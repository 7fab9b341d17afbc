"""Transitive clustering: connected components over a links table.

Two algorithms, same fixed point (every record labelled with the
minimum id of its component — mismo's representative choice,
mismo/cluster/_connected_components.py:253-263):

* ``algorithm="naive"`` — min-label propagation, the direct semantic
  analogue of mismo/cluster/_connected_components.py:39-314.  Rounds ≈
  diameter of the largest component.  Kept as the test oracle.
* ``algorithm="star"`` (default) — alternating large-star/small-star
  (Kiveris et al. 2014, "Connected Components in MapReduce and
  Beyond"), O(log n) rounds and skew-safe: a hub node's edge list is
  rewritten toward the minimum, never gathered onto one reducer beyond
  a groupBy-min.  This is the scale path the north rule mandates.

Both iterate driver-side with a per-round checkpoint (``localCheckpoint``
or parquet when ``checkpoint_dir`` is given — the resumable variant),
cutting lineage exactly like mismo's per-round ``.cache()``
(mismo/cluster/_connected_components.py:207-209).  Convergence is
detected with one cheap pass per round (count + order-independent
xxhash64 sum of the edge set / label set).

Ids of any orderable type are clustered as they come — no factorize
to int64 codes first.  Both algorithms touch ids only through
``min``, ``least``, ``greatest``, ``<`` and ``!=``, which Spark defines
for every orderable type, and both converge with every node labelled
by the minimum id of its component — already mismo's canonical
representative, so there is nothing to decode or relabel.  The
reference factorizes ids to int64 first (mismo/_factorizer.py:12-152);
here that cost a mapping table, two encode joins, a decode join and a
relabel join per call on the pipeline's hot path (its record_id is the
page url), and ran slower end to end than clustering the url strings
directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mismo_spark.types.linkage import ID_L, ID_R

_U, _V = "u", "v"


def _chk(df: DataFrame, checkpoint_dir: str | None, tag: str) -> DataFrame:
    if checkpoint_dir is None:
        # lazy: the caller's very next action (convergence fingerprint /
        # update count) materializes the checkpoint — one job per round,
        # not two, while still cutting lineage
        return df.localCheckpoint(eager=False)
    path = f"{checkpoint_dir}/{tag}.parquet"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _set_fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(count, order-independent hash-sum) — one pass, used as the
    convergence check without a full set-difference."""
    hashed = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("__h"))
    row = hashed.agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(__h)").alias("h")
    ).collect()[0]
    return row["n"], row["h"] if row["h"] is not None else 0


def connected_components(
    links: DataFrame,
    records: DataFrame | None = None,
    *,
    max_iter: int = 50,
    algorithm: str = "star",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(record_id, component) — component is the minimum
    record_id of the component, of record_id's own type.  Ids may be of
    any orderable type (long, string, ...) and are clustered as they
    come: both algorithms only compare ids, and their fixed point
    already labels each component with its minimum id.

    ``records`` (optional, column ``record_id``) adds singleton
    components for unlinked records
    (mismo/cluster/_connected_components.py:305-314).  Without it every
    edge endpoint is emitted, a self-loop's endpoint included.

    Duplicate and self-loop edges are accepted and never change the
    labels (every aggregation is a min).  Self-loops are dropped up
    front; duplicates are not, since typical link tables are already
    unique and a dedup exchange over the whole edge relation would tax
    every caller.  What duplicates cost: under ``"star"`` they survive
    the first large-star pass and are gone after the first small-star
    ``distinct``; under ``"naive"`` the edge relation is checkpointed
    as given and re-joined every round, so they persist to the end.
    """
    edges = links.select(F.col(ID_L).alias(_U), F.col(ID_R).alias(_V))
    proper = edges.filter(F.col(_U) != F.col(_V))
    if algorithm == "star":
        labels = _cc_star(proper, max_iter, checkpoint_dir)
    elif algorithm == "naive":
        labels = _cc_naive(proper, max_iter, checkpoint_dir)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    base = (
        records.select("record_id")
        if records is not None
        # no records table: emit every edge endpoint, self-loops'
        # included (star labels omit roots — see _cc_star — so
        # completion is still needed)
        else edges.select(F.col(_U).alias("record_id"))
        .unionByName(edges.select(F.col(_V).alias("record_id")))
        .distinct()
    )
    out = labels.withColumnRenamed("id", "record_id")
    return base.join(out, "record_id", "left").select(
        "record_id",
        F.coalesce(F.col("component"), F.col("record_id")).alias("component"),
    )


def _cc_naive(edges: DataFrame, max_iter: int, checkpoint_dir: str | None) -> DataFrame:
    """Min-label propagation (semantics of
    mismo/cluster/_connected_components.py:203-263)."""
    nodes = edges.select(F.col(_U).alias("id")).unionByName(
        edges.select(F.col(_V).alias("id"))
    ).distinct()
    labels = _chk(nodes.withColumn("component", F.col("id")), checkpoint_dir, "naive_0")
    edges = _chk(edges, checkpoint_dir, "naive_edges")
    for i in range(max_iter):
        lby = labels.withColumnRenamed("id", _V).withColumnRenamed("component", "c_v")
        lbx = labels.withColumnRenamed("id", _U).withColumnRenamed("component", "c_u")
        cand = (
            edges.join(lby, _V).select(F.col(_U).alias("id"), F.col("c_v").alias("component"))
            .unionByName(
                edges.join(lbx, _U).select(F.col(_V).alias("id"), F.col("c_u").alias("component"))
            )
            .unionByName(labels)
        )
        new_labels = cand.groupBy("id").agg(F.min("component").alias("component"))
        new_labels = _chk(new_labels, checkpoint_dir, f"naive_{i + 1}")
        n_updates = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if n_updates == 0:
            break
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbour to
    min(Γ(u) ∪ {u}).  Halves long chains; never gathers a hub's
    neighbourhood beyond a groupBy-min.

    Two shuffles: the groupBy-min (map-side partial — this, not a
    window-min, is what keeps a hub's neighbourhood off a single
    task) and the neighbours side of the join; the mins side reuses
    the aggregation's partitioning.  No trailing distinct — min() is
    duplicate-insensitive and the round's closing distinct in
    ``_small_star`` dedups the union anyway, so a dedup shuffle
    mid-round would be pure overhead."""
    nbrs = edges.unionByName(
        edges.select(F.col(_V).alias(_U), F.col(_U).alias(_V))
    )
    mins = (
        nbrs.groupBy(_U)
        .agg(F.min(_V).alias("__mv"))
        .select(_U, F.least(F.col("__mv"), F.col(_U)).alias("m"))
    )
    return (
        nbrs.join(mins, _U)
        .filter(F.col(_V) > F.col(_U))
        .select(F.col(_V).alias(_U), F.col("m").alias(_V))
        .filter(F.col(_U) != F.col(_V))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u and its smaller neighbours N: connect N ∪ {u}
    to min(N).

    Shuffles: the skew-safe groupBy-min, the oriented side of the
    join, and the closing distinct that canonicalizes the round's
    edge set (also what the convergence fingerprint hashes)."""
    oriented = edges.select(
        F.greatest(_U, _V).alias(_U), F.least(_U, _V).alias(_V)
    ).filter(F.col(_U) != F.col(_V)).distinct()
    mins = oriented.groupBy(_U).agg(F.min(_V).alias("m"))
    to_small = (
        oriented.join(mins, _U)
        .select(F.col(_V).alias(_U), F.col("m").alias(_V))
    )
    to_center = mins.select(F.col(_U), F.col("m").alias(_V))
    return (
        to_small.unionByName(to_center)
        .filter(F.col(_U) != F.col(_V))
        .distinct()
    )


def _cc_star(edges: DataFrame, max_iter: int, checkpoint_dir: str | None) -> DataFrame:
    """Alternating large-star/small-star to fixed point; O(log n) rounds.

    Returns PARENT labels only — (id, component) for every non-root
    node; roots (= component minima) are absent and must be
    self-labelled by the caller's coalesce.  The caller always finishes
    with a left-join + coalesce against records/edge endpoints anyway,
    so emitting root rows here would cost an extra O(V) distinct +
    join for nothing."""
    from mismo_spark._util import RoundPartitions

    cur = _chk(edges, checkpoint_dir, "star_0")
    prev_fp = _set_fingerprint(cur, [_U, _V])
    # per-round exchanges over the (usually shrinking) edge relation:
    # clamp shuffle width to the live edge count the fingerprint pass
    # already measures (never above ambient — no-op at cluster scale)
    rp = RoundPartitions(edges.sparkSession)
    try:
        rp.adapt(prev_fp[0])
        for i in range(max_iter):
            cur = _chk(_small_star(_large_star(cur)), checkpoint_dir, f"star_{i + 1}")
            fp = _set_fingerprint(cur, [_U, _V])
            if fp == prev_fp:
                break
            prev_fp = fp
            rp.adapt(fp[0])
    finally:
        rp.restore()
    # fixed point: every edge is (child, root-min)
    return cur.groupBy(F.col(_U).alias("id")).agg(F.min(_V).alias("component"))
