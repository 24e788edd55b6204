"""Connected components over a candidate-pair graph — true duplicate
CLUSTERING.

minhash_lsh_dedup (operators/dedup.py) drops any doc that bands with a
smaller-id doc — a pair-wise approximation that under-collapses chains:
with candidate pairs (a,c) and (b,c), a<b<c, it keeps both a and b even
though all three are transitively one duplicate cluster. Connected
components assigns every doc the min id of its whole component
(cc_net / SlimPajama-style cluster collapse), at the cost of an iterative
job.

Algorithm: min-label propagation — each node repeatedly takes the minimum
label among itself and its neighbors until fixpoint; converges in
O(component diameter) rounds, each round ONE join + ONE groupBy. Labels
are materialized per round to truncate the growing lineage (a
production run on unreliable executors would use reliable checkpointing;
the loop itself is the standard large-scale CC shape — the driver holds
only the changed-count scalar, never the graph). Web-dup components are
shallow (near-clique blobs from shared boilerplate), so the diameter bound
is small in practice; max_iterations guards adversarial chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize, release_local_checkpoint


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iterations: int = 25
) -> DataFrame:
    """(node, cluster) for every node appearing in `edges` (undirected);
    cluster = min node id of the connected component.

    RAISES if the iteration cap is exhausted before fixpoint: returning
    partially-propagated labels would silently under-collapse clusters
    (a component with diameter > max_iterations would keep several
    cluster ids). Callers with genuinely deep graphs raise the cap — the
    failure must be loud, never a quietly-wrong dedup."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    sym = materialize(sym)
    # init = the result of one propagation round from the identity
    # labeling, computed as ONE aggregation (least(u, min(v)) per u) with
    # no join — a full round's work for the price of the node-distinct the
    # old identity init paid anyway (sym is symmetric, so every node
    # appears as u).
    labels = sym.groupBy(F.col("u").alias("node")).agg(
        F.least(F.col("u"), F.min("v")).alias("lbl")
    )
    prev_ckpt: DataFrame | None = None
    converged = False
    for _ in range(max_iterations):
        # hash-to-min round, 3 exchanges total: propagate each node's
        # label to its neighbors through ONE join, union the node's own
        # label (flagged, so the SAME aggregation also returns the
        # pre-round label for the convergence probe — no per-round
        # labels-vs-new join), take the min per node. The old form paid
        # two labels joins plus the neighbor aggregation per round.
        neigh = (
            sym.join(labels, sym.v == labels.node)
            .select(F.col("u").alias("node"), "lbl", F.lit(False).alias("_own"))
        )
        own = labels.select("node", "lbl", F.lit(True).alias("_own"))
        propagated = materialize(
            neigh.unionByName(own)
            .groupBy("node")
            .agg(
                F.min("lbl").alias("lbl"),
                F.max(F.when(F.col("_own"), F.col("lbl"))).alias("_prev"),
            )
        )
        # `propagated` is computed (materialize is eager): release the
        # prior round's label blocks so storage holds one label copy, not
        # one per round (same cleanup as the BPE trainer; the last round's
        # belongs to the caller's scope)
        if prev_ckpt is not None:
            release_local_checkpoint(prev_ckpt)
        prev_ckpt = propagated
        changed = propagated.where(F.col("lbl") != F.col("_prev")).limit(1).count()
        labels = propagated.select("node", "lbl")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (component diameter exceeds the cap); raise "
            "max_iterations — partial labels would under-collapse clusters"
        )
    return labels.select("node", F.col("lbl").alias("cluster"))


def dup_clusters(docs: DataFrame, candidates: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Every doc labeled with its duplicate-cluster id: connected components
    over the candidate pairs; docs in no pair form singleton clusters of
    themselves. Collapse = keep rows where cluster == id."""
    cc = connected_components(candidates)
    return docs.select(id_col).join(cc, docs[id_col] == cc.node, "left").select(
        id_col, F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster")
    )
