"""Clustering: threshold -> connected components -> entity_map.

The reference's ``deduper.cluster(scores, threshold=0.5)`` builds a graph
over pairs above threshold and clusters within connected components,
returning per-record cluster confidence
(mysql_example/mysql_example.py:269-271 [lib]). It holds the whole edge
list in driver memory — the scale bottleneck SURVEY §3 EP2 calls out. Here
components are computed distributively with alternating min-label
propagation over DataFrames (the two-phase large-star/small-star scheme of
Kiveris et al. 2014, "Connected Components in MapReduce and Beyond",
specialized to label propagation): O(log n) iterations in the worst case,
2-3 in practice because post-blocking components are tiny.

Conventions matching the reference:
  canon_id   = min(record_id) over the component (cluster[0] convention,
               mysql_example/mysql_example.py:45-50)
  confidence = mean score of a record's edges to co-members (dedupe's
               cluster score semantics [lib], same aggregation shape)
Singletons are their own cluster via the right-outer + coalesce pattern
(mysql_example/mysql_example.py:316-322).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None) -> DataFrame:
    """edges(id_a, id_b) -> (record_id, component) with component = min id
    reachable. Iterative DataFrame joins; every round truncates lineage
    (SURVEY §7 hard part (b)). Raises RuntimeError when labels still
    change in round ``max_iter`` — unconverged labels would silently
    split components. With ``checkpoint_dir`` set, rounds use
    reliable ``df.checkpoint()`` (replicated storage — survives executor
    loss on a real cluster); default is ``localCheckpoint`` (fastest, but
    an executor loss mid-iteration kills the job)."""
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if checkpoint_dir is not None else df.localCheckpoint(eager=True)

    # no .distinct() on the symmetrized edge list: min-label propagation is
    # idempotent under duplicate edges (min over a multiset), the pipeline
    # feeds already-distinct scored pairs, and the (id_a < id_b) pair
    # convention makes the two directed copies collision-free — the
    # distinct was a full shuffle + aggregate of the edge list buying
    # nothing (guide §2.4: a distinct on data that is already unique)
    sym = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # label[v] = min(v, min neighbor label); iterate to fixpoint
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("min_nbr"))
        .select(F.col("src").alias("id"), F.least(F.col("min_nbr"), F.col("src")).alias("label"))
    )
    labels = ckpt(labels)
    sym = ckpt(sym)
    for _ in range(max_iter):
        # propagate: candidate label for v = min over neighbors u of label[u]
        nbr = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .select(F.col("src").alias("id"), "nbr_label")
        )
        n1 = (
            labels.join(nbr, "id", "left")
            .select("id", F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"))
        )
        # pointer-jumping (label[v] <- label[label[v]], O(log d) rounds to
        # fixpoint) fused into the SAME plan: the lookup branch recomputes
        # the propagate join instead of materializing it, trading ~0.5x of
        # one edge-join for a whole checkpoint job per round — one
        # materialization per iteration instead of two
        jumped = (
            n1.alias("a")
            .join(n1.select(F.col("id").alias("label"), F.col("label").alias("label2")).alias("b"), "label", "left")
            .select("id", F.least(F.col("label"), F.coalesce(F.col("label2"), F.col("label"))).alias("label"))
        )
        # convergence flag rides THROUGH the checkpoint: the old label is
        # joined in BEFORE materialization, so the change test afterwards
        # is a scan of the checkpointed blocks — no extra join job per
        # round (was: a second shuffle join of new vs old labels)
        flagged = jumped.alias("n").join(labels.withColumnRenamed("label", "_old"), "id").select(
            "id", "label", (F.col("label") != F.col("_old")).alias("_chg")
        )
        new_labels = ckpt(flagged)
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge within max_iter={max_iter} rounds")
    return labels.select(F.col("id").alias("record_id"), F.col("label").alias("component"))


def refine_components(
    edges: DataFrame,
    comps: DataFrame,
    threshold: float,
    max_component: int = 2000,
    on_oversized=None,
) -> DataFrame:
    """Average-linkage HAC within each connected component, cut at
    distance 1-threshold — dedupe's hierarchical clustering semantics
    [lib] (deduper.cluster, mysql_example/mysql_example.py:269-271), which
    transitive closure alone lacks: a chain A~B~C with a weak A-C edge
    over-merges under pure CC (SURVEY §7 hard part (c)).

    Components are small post-blocking, so per-component HAC runs as
    applyInPandas (numpy, O(n^2) NN-chain, n capped); oversized components
    keep their CC assignment and are REPORTED through ``on_oversized``
    (count, max_size) — a silent skip would hide recall drift at scale.
    Returns (record_id, canon_id) with canon = min member id per refined
    cluster.

    Tie order: un-compared pairs initialize exactly at the cut, so ties
    are common; NN-chain resolves them deterministically (lowest argmin
    index / previous chain element) but in a different — equally valid —
    order than the removed r1 greedy loop. The flat-cut output is pinned
    by a tie-heavy regression fixture (tests/test_round3.py).
    """
    import numpy as np
    import pandas as pd

    cut = 1.0 - threshold

    if on_oversized is not None:
        big = (
            comps.groupBy("component")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_component)
            .agg(F.count("*").alias("k"), F.max("n").alias("mx"))
            .collect()[0]
        )
        if big["k"]:
            on_oversized(int(big["k"]), int(big["mx"]))

    # edges here must be ALL scored pairs (sub-threshold included): the
    # below-threshold scores are exactly the evidence that splits a weak
    # chain. Keep only pairs whose endpoints landed in the same component.
    ca = comps.select(F.col("record_id").alias("id_a"), F.col("component"))
    cb = comps.select(F.col("record_id").alias("id_b"), F.col("component").alias("_cb"))
    e = (
        edges.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(F.col("component") == F.col("_cb"))
        .select("component", "id_a", "id_b", "score")
    )

    def hac(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = sorted(set(pdf["id_a"]) | set(pdf["id_b"]))
        n = len(ids)
        if n > max_component or n <= 2:
            canon = min(ids)
            return pd.DataFrame({"record_id": ids, "canon_id": canon})
        pos = {r: i for i, r in enumerate(ids)}
        # un-compared pairs (blocking never produced them) carry no
        # evidence: initialize at the cut, not at 1.0 — only explicitly
        # low-scoring edges should pull clusters apart, otherwise sparse
        # blocking coverage over-splits large true clusters
        d = np.full((n, n), cut)
        np.fill_diagonal(d, 0.0)
        ia = pdf["id_a"].map(pos).to_numpy()
        ib = pdf["id_b"].map(pos).to_numpy()
        sv = 1.0 - pdf["score"].to_numpy(dtype=np.float64)
        d[ia, ib] = sv
        d[ib, ia] = sv
        labels = _avg_linkage_labels(d, cut)
        canon_of = {}
        for k, lab in enumerate(labels):
            canon_of[lab] = min(canon_of.get(lab, ids[k]), ids[k])
        return pd.DataFrame({"record_id": ids, "canon_id": [canon_of[lab] for lab in labels]})

    # Post-blocking components are overwhelmingly TINY (size 3-6), so a
    # per-component applyInPandas pays Spark's per-group machinery (Arrow
    # batch framing, plan-side group bookkeeping) thousands of times for
    # sub-millisecond numpy work (r6: measured ~10 s of the 34k-record
    # bench's 16 s clustering stage). Components are therefore HASHED INTO
    # BUCKETS — Spark sees a few hundred groups, and the per-component
    # loop runs as a plain pandas groupby inside each bucket. Per-component
    # results are bit-identical: hac() sees exactly the same rows either
    # way. Bucket count scales with parallelism (never fewer groups than
    # cores), and a component's rows always land in one bucket.
    n_buckets = max(e.sparkSession.sparkContext.defaultParallelism * 4, 64)

    def hac_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = [hac(grp) for _, grp in pdf.groupby("component", sort=False)]
        return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
            {"record_id": pd.Series(dtype=object), "canon_id": pd.Series(dtype=object)}
        )

    return (
        e.withColumn("_bucket", F.pmod(F.xxhash64("component"), F.lit(n_buckets)))
        .groupBy("_bucket")
        .applyInPandas(hac_bucket, "record_id string, canon_id string")
    )


def _avg_linkage_labels(d, cut: float):
    """Average-linkage HAC labels after cutting the dendrogram at ``cut``.

    Nearest-neighbor-chain algorithm (Müllner 2011): O(n^2) total with
    numpy row operations — the per-merge work is one vectorized row scan +
    one Lance-Williams row update, never an interpreted double loop.
    Average linkage is reducible, so NN-chain produces the exact greedy
    dendrogram; monotonicity means clusters-at-height-cut are simply the
    union-find closure of merges with height <= cut.
    """
    import numpy as np

    n = d.shape[0]
    dm = d.astype(np.float64).copy()
    np.fill_diagonal(dm, np.inf)
    size = np.ones(n)
    alive = np.ones(n, dtype=bool)
    parent = np.arange(n)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return int(x)

    chain: list[int] = []
    merges_left = n - 1
    while merges_left > 0:
        if not chain:
            chain.append(int(np.flatnonzero(alive)[0]))
        while True:
            a = chain[-1]
            row = dm[a]
            b = int(np.argmin(row))
            # prefer the previous chain element on ties (termination guard)
            if len(chain) >= 2 and row[chain[-2]] == row[b]:
                b = chain[-2]
            if len(chain) >= 2 and b == chain[-2]:
                h = dm[a, b]
                chain.pop()
                chain.pop()
                na, nb = size[a], size[b]
                merged = (dm[a] * na + dm[b] * nb) / (na + nb)
                dm[a] = merged
                dm[:, a] = merged
                dm[a, a] = np.inf
                dm[b, :] = np.inf
                dm[:, b] = np.inf
                alive[b] = False
                size[a] = na + nb
                if h <= cut:
                    parent[find(b)] = find(a)
                merges_left -= 1
                break
            chain.append(b)
    return np.array([find(i) for i in range(n)])


def entity_map(
    scored_pairs: DataFrame,
    records: DataFrame,
    threshold: float = 0.5,
    id_col: str = "conv_id",
    refine: bool = False,
    checkpoint_dir: str | None = None,
    max_component: int = 2000,
    on_oversized=None,
) -> DataFrame:
    """scored pairs + full record set -> (record_id, canon_id, cluster_score).

    Every record appears; unmatched records are their own canon
    (COALESCE(canon_id, donor_id), mysql_example/mysql_example.py:316-322).
    cluster_score for singletons is NULL (the reference leaves them out of
    entity_map entirely; we keep the row and null the score).
    """
    edges = scored_pairs.filter(F.col("score") >= threshold).select("id_a", "id_b", "score")
    comps = connected_components(edges.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir)
    if refine:
        all_scored = scored_pairs.select("id_a", "id_b", "score")
        refined = refine_components(
            all_scored, comps, threshold, max_component=max_component, on_oversized=on_oversized
        )
        comps = refined.select("record_id", F.col("canon_id").alias("component"))
        # lineage boundary: the refine subtree (applyInPandas over the
        # full scored-pairs join) is referenced THREE times downstream
        # (both endpoints of `within` + the final membership join);
        # composing it lazily triples the analyzed plan and every
        # subsequent driver-side analysis/stringify pass pays it.
        # comps is one slim row per record — truncate here. (Same
        # medicine as the CC rounds / match_new boundaries; PLANS.md.)
        if checkpoint_dir is not None:
            comps = comps.checkpoint(eager=True)
        else:
            comps = comps.localCheckpoint(eager=True)
    # confidence: mean incident edge score to co-members of the SAME final
    # cluster (matters under refinement, where an edge may cross clusters)
    ca = comps.select(F.col("record_id").alias("id_a"), F.col("component").alias("comp_a"))
    cb = comps.select(F.col("record_id").alias("id_b"), F.col("component").alias("comp_b"))
    within = edges.join(ca, "id_a").join(cb, "id_b").filter(F.col("comp_a") == F.col("comp_b"))
    # one reference to `within`, not two: exploding both endpoints keeps
    # the scored-pairs subtree in the plan ONCE (a union of two selects
    # doubles it — plan size, not data size, is the hazard here)
    inc = within.select(F.explode(F.array("id_a", "id_b")).alias("record_id"), "score")
    conf = inc.groupBy("record_id").agg(F.avg("score").alias("cluster_score"))
    clustered = comps.join(conf, "record_id", "left")
    return (
        records.select(F.col(id_col).alias("record_id"))
        .join(clustered, "record_id", "left")
        .select(
            "record_id",
            F.coalesce(F.col("component"), F.col("record_id")).alias("canon_id"),
            "cluster_score",
        )
    )
