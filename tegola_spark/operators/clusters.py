"""Duplicate-cluster resolution: connected components over near-dup
pair edges.

A training-data dedup pipeline ends with "keep one document per
duplicate CLUSTER", not per pair: the pair list from MinHash-LSH
(``dedup.minhash_lsh_pairs``) is a graph whose connected components
are the duplicate groups.  The reference engine has no analog (tile
pipelines don't cluster documents), so this is one of the
LLM-pipeline extras; the algorithm is the iterative min-label
propagation used by GraphX/GraphFrames ``connectedComponents``,
expressed in plain DataFrame ops so Catalyst/AQE plan each round.

100 TB posture:

- Each round is ONE shuffle: a propagate join (edge-sized) followed by
  a ``groupBy(id).min(label)`` with map-side partial aggregation.
  Rounds needed = graph diameter; LSH near-dup graphs are star/clique
  shaped (templated web duplicates collide in every band), so the loop
  converges in 2-4 rounds in practice.  For adversarial long-chain
  graphs the O(log n) large-star/small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC 2014) drops in
  behind the same interface.
- Only nodes that appear in at least one edge enter the loop;
  singletons (the vast majority of a real corpus) are attached with
  ``coalesce(label, id)`` at the end, so the iterated frame is sized
  by the DUPLICATE set, not the corpus.
- ``localCheckpoint()`` truncates lineage each round so the plan does
  not grow with iterations (the classic iterative-DataFrame trap), and
  the convergence probe counts CHANGED labels only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# label-propagation rounds: a component settles within its diameter
MAX_ITER = 50


def connected_components(edges: DataFrame) -> DataFrame:
    """Resolve connected components of the undirected graph given by
    ``edges`` (one row per edge, endpoint columns ``id_a``/``id_b``),
    in at most ``MAX_ITER`` label-propagation rounds.

    Returns one row per node that appears in an edge: ``(id,
    cluster_rep)`` where ``cluster_rep`` is the minimum node id in the
    component (deterministic representative).  Nodes with no edges are
    absent — callers attach them via ``coalesce`` (see
    :func:`dedup_clusters`).
    """
    sym = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    sym = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.dropDuplicates(["src", "dst"]).localCheckpoint()

    labels = (sym.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint())

    for _ in range(MAX_ITER):
        # label of src flows across each edge to dst; keeping the old
        # label in the union makes min monotone non-increasing, which
        # is what guarantees the fixpoint.
        prop = (sym.join(labels.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), "label"))
        new = (labels.unionByName(prop)
               .groupBy("id").agg(F.min("label").alias("label"))
               .localCheckpoint())
        changed = (new.withColumnRenamed("label", "new_label")
                   .join(labels, "id")
                   .where(F.col("new_label") != F.col("label"))
                   .limit(1).count())
        labels = new
        if changed == 0:
            break

    return labels.select("id", F.col("label").alias("cluster_rep"))


def dedup_clusters(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full-corpus cluster table: every node gets a ``cluster_rep``
    (its own id when it has no duplicates) and the component's
    ``cluster_size``.  Keeping ``doc_id == cluster_rep`` is the
    standard "retain one representative per duplicate group" dedup.
    """
    cc = connected_components(pairs)
    out = (nodes.select(F.col("doc_id").alias("id"))
           .join(cc, "id", "left")
           .select(F.col("id").alias("doc_id"),
                   F.coalesce("cluster_rep", "id").alias("cluster_rep")))
    w = Window.partitionBy("cluster_rep")
    return out.withColumn("cluster_size", F.count(F.lit(1)).over(w))
