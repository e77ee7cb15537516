"""Connected-components URI canonicalization (SURVEY §4 custom job #1).

The reference sidesteps cross-document entity identity with record-local
URIs; the north_star requires canonicalizing mention URIs that refer to
the same entity (e.g. one author across thousands of pages). Entity-link
candidate pairs (operators/linking.py) form an edge list; each connected
component collapses to one canonical id (its minimum member).

Algorithm (connected_components), with B = `_DRIVER_MAX_ROWS`:
  1. collect: one job fetches at most B + 1 edges as Arrow
     (`limit(B + 1).toArrow()`);
  2. close on the driver: within B rows the driver process runs the
     contraction kernel (`_contract`, an exact closure by
     `_min_label_closure`) once over all edges — local closure of the
     whole edge list is global closure — and returns the labels as an
     Arrow local relation: no Python worker, nothing to checkpoint;
  3. over B edges: per input partition (no shuffle) a mapInArrow stage
     runs the same kernel and emits one STAR edge (node → local
     component min) per distinct node; the star is collected the same
     way and, within B rows, closed on the driver as in step 2;
  4. over B star rows, the distributed hash-to-min driver loop
     (`_connected_components_loop`) closes the star instead, one shuffle
     round per step, and raises if `max_iter` rounds do not converge.

`_min_label_closure` is exact at its fixpoint: it runs hook-at-parents
plus full pointer jumping until no label moves, with no pass cap (labels
only decrease, so it terminates; a random-order chain closes in
O(log n) rounds). semantic_clusters_arrow (operators/similarity.py)
shares it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# edge (or star) rows the driver collects and closes; above it the
# distributed loop runs. The kernel holds ~12 int64 words per row plus
# the Arrow node dictionary.
_DRIVER_MAX_ROWS = 1_000_000


def _min_label_closure(ru, rv, n: int):
    """Exact connected components of nodes 0..n-1 under edges (ru, rv):
    returns int64 labels with lab[i] = the smallest node in i's component.

    Each round hooks every edge's endpoints AND their current parents to
    the edge's smaller label, then pointer-jumps until lab[lab] == lab.
    A round that moves no label proves the fixpoint: every edge then has
    equal labels at both ends and every label is a root, so each
    component is one star rooted at its minimum."""
    import numpy as np

    lab = np.arange(n, dtype=np.int64)
    while True:
        lu, lv = lab[ru], lab[rv]
        m = np.minimum(lu, lv)
        new = lab.copy()
        for idx in (ru, rv, lu, lv):
            np.minimum.at(new, idx, m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def _contract(batches):
    """mapInArrow kernel: (src, dst) edges → one (src=node, dst=min node
    of its component) row per distinct node among the edges. Nodes are
    ranked by VALUE (Arrow's unsigned-byte string order == the JVM's
    UTF8String compare), so the label index is the minimum id."""
    import numpy as np
    import pyarrow as pa

    chunks = [pa.Table.from_batches([b]) for b in batches]
    if not chunks:
        return
    t = pa.concat_tables(chunks).combine_chunks()
    if t.num_rows == 0:
        return
    both = pa.concat_arrays([t.column("src").chunk(0), t.column("dst").chunk(0)])
    de = both.dictionary_encode()
    n = len(de.dictionary)
    codes = de.indices.to_numpy().astype(np.int64)
    sort_idx = pa.compute.sort_indices(de.dictionary)
    nodes = de.dictionary.take(sort_idx)
    rank = np.empty(n, dtype=np.int64)
    rank[sort_idx.to_numpy()] = np.arange(n)
    lab = _min_label_closure(rank[codes[: t.num_rows]], rank[codes[t.num_rows :]], n)
    yield pa.RecordBatch.from_arrays([nodes, nodes.take(pa.array(lab))], ["src", "dst"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """edge list → (node, component) with component = min node id of the
    component (ids compared as their natural type); callers may read it
    more than once.

    Within `_DRIVER_MAX_ROWS` edges the closure is one Spark job (the
    edge collect) and the labels come back as a local relation. Over it,
    the per-partition contraction keeps exactly the original
    components: every original edge (u, v) lies in some partition whose
    local closure links u and v through their shared local root, and
    every star edge lies within one original component. It emits
    |distinct nodes per partition| ≤ partitions × |V| rows instead of
    2|E| — for the dense near-dup pair graphs this engine closes
    (cliques from LSH buckets or IVF cells) it removes ~all of |E| — and
    a star within the budget closes on the driver. `max_iter` bounds
    only the over-budget fallback loop, which raises RuntimeError when
    it does not converge. Pinned equal to the pure loop on a random
    graph by tests/test_arrow_kernel_parity."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    node_t = e.schema["src"].dataType.simpleString()
    t = e.limit(_DRIVER_MAX_ROWS + 1).toArrow()
    if t.num_rows > _DRIVER_MAX_ROWS:
        star = e.mapInArrow(_contract, f"src {node_t}, dst {node_t}")
        t = star.limit(_DRIVER_MAX_ROWS + 1).toArrow()
        if t.num_rows > _DRIVER_MAX_ROWS:
            return _connected_components_loop(star, "src", "dst", max_iter)
    # close in the driver process; the labels reach the JVM as Arrow and
    # become a local relation, as in sources/checkpoint.local_frame
    import pyarrow as pa

    out = list(_contract(t.to_batches()))
    labels = pa.Table.from_batches(out) if out else t.slice(0, 0)
    return edges.sparkSession.createDataFrame(
        labels.rename_columns(["node", "component"]),
        schema=f"node {node_t}, component {node_t}",
    )


def _connected_components_loop(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """The distributed hash-to-min loop: label(v) ← min(label(v), min
    over neighbors label(u)), one groupBy shuffle per round, O(diameter)
    rounds. connected_components' over-budget fallback and its
    cross-check. Raises RuntimeError when round `max_iter` still moved a
    label, instead of returning unconverged labels."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # undirected: both directions once
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    und = und.localCheckpoint()
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und["dst"] == labels["node"])
            .groupBy(und["src"].alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (
                    F.col("nbr_min").isNotNull()
                    & (F.col("nbr_min") < F.col("component"))
                ).alias("_changed"),
            )
        )
        # LAZY checkpoint + convergence count = ONE execution per round:
        # the count materializes the checkpoint, the next round's join
        # reads the materialized RDD instead of re-running every prior
        # round's join through the un-persisted lineage (the old
        # checkpoint-every-3 cadence re-executed up to 1+2 earlier rounds
        # between truncations — measured 1.7× slower on a 60k-doc near-dup
        # graph). Lineage stays truncated, plans stay O(1) per round.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.where(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected components did not converge in max_iter={max_iter} "
        "rounds; raise max_iter"
    )


def canonicalize_uris(
    triples: DataFrame, components: DataFrame
) -> DataFrame:
    """Rewrite subj/obj through the (node → component) mapping: every URI
    in a component is replaced by the component's canonical member.

    Two left joins (subj, then obj-where-iri). The mapping is usually a
    small fraction of all URIs → broadcast when it fits, else sort-merge
    on the uri key."""
    m = components.select(
        F.col("node").alias("_uri"), F.col("component").alias("_canon")
    )
    out = (
        triples.join(m, triples["subj"] == m["_uri"], "left")
        .withColumn("subj", F.coalesce(F.col("_canon"), F.col("subj")))
        .drop("_uri", "_canon")
    )
    out = (
        out.join(m, (out["obj"] == m["_uri"]) & out["obj_is_iri"], "left")
        .withColumn("obj", F.coalesce(F.col("_canon"), F.col("obj")))
        .drop("_uri", "_canon")
    )
    return out
