"""Connected components over near-duplicate pair edges → dedup clusters.

The pair generators (minhash_lsh_pairs, ngram_jaccard_pairs,
simhash_near_duplicates, embedding_near_duplicates) emit EDGES; an actual
deduplication needs the transitive closure — if A~B and B~C, all three are
one cluster and exactly one survivor is kept. That closure is connected
components, computed here with the alternating **large-star / small-star**
algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
"Connected Components in MapReduce and Beyond", ACM SoCC 2014): each half-
iteration is one groupBy-min plus one join on the edge list, the edge set
only ever shrinks toward stars, and convergence is O(log n) rounds even on
pathological path graphs — unlike naive label propagation whose round count
is the graph DIAMETER (a 10^6-long chain of near-dups would need 10^6
shuffles; this needs ~20).

Scale shape (the 100 TB story):

* every half-iteration is ONE shuffle agg (min per node, map-side
  combinable) + ONE shuffle join on the node id — uniform keys, no
  broadcast of anything O(nodes);
* the edge set is re-staged to parquet between iterations (alternating
  directories) so the logical plan stays two operators deep instead of
  growing by two joins per round — same lineage-truncation lesson as the
  lake's parquet staging (sources/lake.py); no `.persist()` of O(edges)
  state in executor memory;
* convergence is detected with a constant-size signature aggregate
  (count + sum of xxhash64) and then PROVEN by the star test — at a true
  fixed point no edge target has an outgoing edge — so a signature
  collision can never return a half-contracted clustering.

Reference parity note: the CDC reference (debezium-connector-cockroachdb)
has no graph operator; this belongs to the training-data suite the Spark
engine adds on top (SURVEY.md §2 LLM-data operators).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import observed


def _symmetric(e: DataFrame) -> DataFrame:
    """Both orientations of an undirected edge list (u,v)."""
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _star(p: DataFrame, large: bool) -> DataFrame:
    """One large-star (large=True) or small-star half-iteration over the
    SYMMETRIC directed pair set ``p``.

    m(u) = min(Γ(u) ∪ {u}). Large-star links every neighbor v > u to
    m(u); small-star links every v ≤ u in Γ(u) ∪ {u} to m(u). Both
    preserve connectivity; alternating them contracts every component to
    a star centered at its minimum id (Kiveris et al. 2014, Thm 3)."""
    mins = p.groupBy("u").agg(F.min("v").alias("_mn"))
    m = F.least(F.col("u"), F.col("_mn"))
    j = p.join(mins, "u")
    if large:
        out = j.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), m.alias("v")
        )
    else:
        out = j.filter(F.col("v") < F.col("u")).select(
            F.col("v").alias("u"), m.alias("v")
        )
        # v = u itself is always in Γ(u) ∪ {u}: emit (u, m(u)) so a hub
        # node keeps its pointer to the running minimum
        out = out.unionByName(
            mins.select(F.col("u"), F.least(F.col("u"), F.col("_mn")).alias("v"))
        )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _contract_partitions(e: DataFrame) -> DataFrame:
    """Per-partition spanning-forest contraction (mapInArrow): each task
    runs a vectorized union-find over its own edge rows and emits only
    (root, node) forest edges — at most ``nodes_touched - n_local_trees``
    rows, never more than its input. Connectivity and the touched-node
    set are preserved exactly, and the final (node, min-reachable-id)
    mapping of :func:`connected_components` is invariant under any
    connectivity-preserving edge rewrite, so results cannot change.

    Why: the pair generators emit O(cluster_size²) edges per near-dup
    cluster (29M rows at the 10× organic corpus), but the star rounds
    only need connectivity. Contracting BEFORE the stage-0 parquet write
    and the round-1 join shrinks both from O(pairs) to O(nodes) (guide
    §2.3: decide with small rows — shuffle a proxy, not the payload;
    §1.2: fix the distributed algorithm first). Only the two long
    columns cross the Python boundary, as Arrow batches.

    Determinism under retries (guide §2.5): a re-run task sees the same
    partition of the same deterministic plan and the kernel is
    deterministic, so emitted edges reproduce; and even across DIFFERENT
    partitionings the final mapping is identical by the invariance
    argument above. Emits root first (root < node), preserving the u < v
    orientation contract for the oriented round-1 fast path. Rows may
    duplicate across partitions (two tasks can derive the same forest
    edge); the star rounds are duplicate-insensitive (min-agg + their
    own distinct)."""

    def contract(batches):
        import numpy as np
        import pyarrow as pa

        us, vs = [], []
        for b in batches:
            us.append(b.column(0).to_numpy(zero_copy_only=False))
            vs.append(b.column(1).to_numpy(zero_copy_only=False))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = inv[: len(u)], inv[len(u):]
        parent = np.arange(len(ids))
        # min-hook + full path compression, all vectorized; parent[x] <= x
        # is invariant so the pointer forest is acyclic and each outer
        # round halves tree heights -> O(log n) rounds
        while True:
            pu, pv = parent[ui], parent[vi]
            if bool((pu == pv).all()):
                break
            np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
            while True:
                pp = parent[parent]
                if bool((pp == parent).all()):
                    break
                parent = pp
        mask = parent != np.arange(len(ids))
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids[parent[mask]]), pa.array(ids[mask])], ["u", "v"]
        )

    return e.select("u", "v").mapInArrow(contract, "u long, v long")


def _large_star_oriented(e: DataFrame) -> DataFrame:
    """First large-star half-iteration specialized for an ORIENTED edge
    list (every row has u < v — the pair generators' natural output). On
    the symmetric set, large-star emits (v, m(u)) exactly for the
    neighbor pairs with v > u — which ARE the oriented rows — so the join
    probes the 1× oriented set instead of the 2× symmetric union with
    half its output discarded by the v > u filter. m(u) still aggregates
    over both orientations. Identical output to
    ``_star(_symmetric(e), large=True)``; round 1 is where the edge set
    is largest, so this is where the halving pays."""
    mins = (
        e.select(F.col("u").alias("n"), F.col("v").alias("c"))
        .unionByName(e.select(F.col("v").alias("n"), F.col("u").alias("c")))
        .groupBy("n")
        .agg(F.min("c").alias("_mn"))
    )
    m = F.least(F.col("n"), F.col("_mn"))
    return (
        e.join(mins, e["u"] == mins["n"])
        .select(F.col("v").alias("u"), m.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 25,
    scratch_dir: str | None = None,
    edges_distinct: bool = False,
    edges_oriented: bool = False,
    pre_contract: bool = False,
) -> DataFrame:
    """(node, component) for every node touched by ``edges`` — plus every
    row of ``nodes`` (optional: isolated nodes become their own singleton
    component). ``component`` is the MINIMUM node id reachable from
    ``node``, so the mapping is deterministic and join-ready as a
    canonical-survivor key.

    ``scratch_dir``: stage the shrinking edge set to parquet between
    iterations (alternating subdirectories) — required for real scale
    (bounded plan depth, spill-to-disk instead of pinned memory). When
    None, ``localCheckpoint`` truncates lineage instead (fine at test
    scale, executor-storage-backed). The FINAL staged directory of each
    call is read lazily by the returned DataFrame, so it cannot be
    removed here — callers own cleanup of ``scratch_dir`` once they are
    done with the result (repeated calls otherwise accumulate one final
    cc_* directory each; the non-final half is removed eagerly).

    ``max_iter`` bounds the alternating rounds; 25 covers > 10^7-node
    components (O(log n) convergence). Raises RuntimeError if the star
    fixed point is not reached — never returns a half-contracted result.

    ``edges_distinct``: callers that GUARANTEE one row per directed edge
    (e.g. minhash_lsh_pairs' first-matching-band emission) skip the
    defensive ``distinct()`` — at sf1.0 that is a 29M-group shuffle spent
    re-deduplicating an already-unique set (guide §2.4: a ``distinct`` on
    data that is already unique is an accidental exchange). The algorithm
    itself is correct on edge multisets (min-aggregation is duplicate-
    insensitive and every star round re-distincts), so the flag only
    changes round-1 input volume, never the result.

    ``edges_oriented``: callers that additionally guarantee src < dst on
    every row let round 1 run the specialized oriented large-star
    (:func:`_large_star_oriented` — identical output, half the join
    volume on the round where the edge set is largest).

    ``pre_contract``: run :func:`_contract_partitions` before staging —
    each input partition's edges are union-found locally and replaced by
    their spanning forest, so the stage-0 write and every star round
    operate on O(nodes) rows instead of O(pairs). Result-identical (see
    the kernel's docstring); it also subsumes the defensive distinct
    (contraction is duplicate-insensitive), so ``edges_distinct`` is
    implied."""
    import uuid

    spark = edges.sparkSession
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
    )
    if pre_contract:
        # pass 1: contract each scan partition's O(pairs) edges to its
        # local spanning forest. Because every cluster is spread across
        # all partitions, the per-partition forests overlap heavily
        # (measured: 9.2M pairs -> 1.18M forest edges over ~51k nodes at
        # the 10× corpus), so pass 2 co-locates each node's rows (one
        # narrow 16-byte/row exchange) and contracts again -> ~node-count
        # edges. The star rounds then start from O(nodes), not O(pairs).
        e = _contract_partitions(e)
        e = _contract_partitions(e.repartition(F.col("v")))
    elif not edges_distinct:
        e = e.distinct()

    # per-call staging token: the RETURNED DataFrame keeps reading the
    # final staged parquet lazily, so a later call reusing the same
    # alternating paths would silently corrupt a still-unconsumed result
    run_tag = uuid.uuid4().hex[:8]

    def _sig(df: DataFrame):
        # constant-size fixed-point signature; a (astronomically unlikely)
        # collision is caught by the star test below, never returned
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 2^63-magnitude hashes
            # overflows under ANSI mode on the second row
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _stage(df: DataFrame, i: int, with_sig: bool = False):
        """Stage the round's edge set; when ``with_sig``, the fixed-point
        signature RIDES the staging write via ``observe`` (the same
        rider pattern as the CDC pipeline's batch stats) instead of
        costing a separate per-round aggregation job. When the observe
        metrics are not posted (see ``session.observed``), it is recomputed
        from the staged parquet, which holds the identical rows."""
        sig = None
        if scratch_dir:
            path = os.path.join(scratch_dir, f"cc_{run_tag}_{i % 2}")
            if with_sig:
                obs = Observation()
                df = df.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
                )
            # snappy, not the session's zstd: this is transient
            # round-to-round scratch where encode CPU on the (largest,
            # round-0) edge set matters and archival ratio does not
            df.write.mode("overwrite").option("compression", "snappy").parquet(path)
            staged = spark.read.parquet(path)
            if with_sig:
                m = observed(obs, fallback=lambda: dict(zip(("n", "h"), _sig(staged))))
                sig = (m["n"], m["h"])
            return staged, sig
        staged = df.localCheckpoint(eager=True)
        # localCheckpoint's materialization isn't a DataFrame action, so
        # the observe rider isn't guaranteed there; compute directly
        # (test-scale path)
        if with_sig:
            sig = _sig(staged)
        return staged, sig

    e, sig0 = _stage(e, 0, with_sig=True)
    # round-1 convergence checking needs only the COUNT of the staged
    # input (emptiness short-circuit); the hash half of the signature is
    # first needed when comparing round 2 against round 1 — but since the
    # signature now rides the staging write for free, both halves are
    # collected here (the separate 29M-row scan this comment previously
    # guarded against no longer exists on any path).
    n0 = sig0[0]
    # seeding prev with the full round-0 signature lets an already-star
    # input converge after ONE round (sig equal -> star test proves it);
    # a multiset round-0 input hashes differently from its distinct'd
    # round-1 output, so it converges exactly as before
    prev = sig0
    converged = n0 == 0
    last = 0
    for i in range(1, max_iter + 1):
        # pre_contract output is oriented by construction (root < node)
        if i == 1 and (edges_oriented or pre_contract):
            big = _large_star_oriented(e)
        else:
            big = _star(_symmetric(e), large=True)
        e, cur = _stage(_star(_symmetric(big), large=False), i, with_sig=True)
        last = i
        if cur == prev:
            # signature says fixed point — PROVE star-shape: no edge
            # target may have an outgoing edge (targets are roots)
            non_star = (
                e.select(F.col("v").alias("u"))
                .join(e.select("u").distinct(), "u", "left_semi")
                .limit(1)
                .count()
            )
            if non_star == 0:
                converged = True
                break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    if scratch_dir:
        # the result reads only the FINAL staged dir; drop the other half
        # of the alternating pair so repeated calls don't accumulate disk
        import shutil

        shutil.rmtree(
            os.path.join(scratch_dir, f"cc_{run_tag}_{(last + 1) % 2}"),
            ignore_errors=True,
        )

    # at the star fixed point every edge is (member, root); roots map to
    # themselves, and optional isolated nodes are their own component
    member = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = member.unionByName(roots)
    if nodes is not None:
        nc = node_col or nodes.columns[0]
        iso = (
            nodes.select(F.col(nc).cast("long").alias("node"))
            .distinct()
            .join(out.select("node"), "node", "left_anti")
            .withColumn("component", F.col("node"))
        )
        out = out.unionByName(iso)
    return out


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    scratch_dir: str | None = None,
    edges_distinct: bool = False,
    edges_oriented: bool = False,
    pre_contract: bool = False,
) -> DataFrame:
    """Cluster every document by near-duplicate connectivity:
    (doc_id, component_id, is_canonical). ``component_id`` is the min
    doc id in the transitive near-dup cluster; ``is_canonical`` marks the
    one survivor per cluster (singletons are trivially canonical). Filter
    ``is_canonical`` to materialize the deduplicated corpus.
    ``edges_distinct`` forwards the caller's one-row-per-pair guarantee
    to :func:`connected_components` (skips the defensive distinct)."""
    comp = connected_components(
        pairs,
        src=src,
        dst=dst,
        nodes=docs.select(id_col),
        node_col=id_col,
        max_iter=max_iter,
        scratch_dir=scratch_dir,
        edges_distinct=edges_distinct,
        edges_oriented=edges_oriented,
        pre_contract=pre_contract,
    )
    return comp.select(
        F.col("node").alias(id_col),
        F.col("component").alias("component_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
