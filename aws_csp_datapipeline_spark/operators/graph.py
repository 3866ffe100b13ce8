"""Graph operators over relational edge lists.

The reference has no graph surface; these cover the graph shapes a
large-scale data pipeline needs (entity-resolution components already
live in ``functions/dedup.neardup_groups``): edge derivation from a
fact table, triangle counting, degree profiles, and PageRank.

Everything is DataFrame-native — an edge list is just a two-column
relation, so triangle counting is two self-joins (Catalyst broadcasts
the smaller side automatically) and PageRank is a loop of
join+aggregate with ``localCheckpoint`` to truncate lineage. No RDDs,
no driver-side adjacency structures; at 100 TB the edge list stays
hash-partitioned on ``src`` across executors and every iteration is
one co-partitioned shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from aws_csp_datapipeline_spark import lifecycle


def _pin_edges(df: DataFrame) -> DataFrame:
    """Materialize an edge-scale frame with DISK_ONLY blocks.

    ``localCheckpoint`` defaults to deserialized on-heap storage
    (MEMORY_AND_DISK); at sf100 the symmetric co-supply edge list is
    ~900 M rows and 32 concurrent unroll buffers of multi-GiB
    deserialized partitions blew a 48 g heap (r12 measurement —
    SCALE.md "gr3/gr5 at sf100"). DISK_ONLY keeps the truncated
    lineage while storing serialized blocks straight to local disk:
    the iterative lanes' working set on the heap is then just the
    current shuffle, independent of graph size. Node-sized frames
    (ranks, drop sets, labels) keep the default level — they are two
    longs per node and belong in memory.

    Cluster note: ``localCheckpoint`` blocks are not replicated, so
    losing an executor mid-iteration kills the job. For multi-node
    runs set ``SPARK_GRAFT_CHECKPOINT_DIR`` to shared storage and the
    snapshots become RELIABLE checkpoints (``df.checkpoint`` — the
    GraphX discipline): replayable from any surviving executor, at
    the cost of a write to the shared filesystem per round. In local
    mode (one JVM) the failure domains coincide, so the cheaper
    local variant is the default. Reliable checkpoint files live
    until the app exits unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set."""
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=True)
    return lifecycle.checkpoint(df, storage_level=StorageLevel.DISK_ONLY)


def co_occurrence_edges(
    fact: DataFrame, group_col: str, node_col: str
) -> DataFrame:
    """Undirected unique edges between nodes sharing a group: the
    classic market-basket projection (suppliers co-supplying an order,
    authors co-signing a paper). Output columns ``src < dst``.

    The self-join is co-partitioned on ``group_col`` (one shuffle each
    side, same key); the DISTINCT folds the multi-group multiplicity
    before anything downstream sees it. Hot groups explode
    quadratically — at scale, cap or salt the heaviest groups first.
    """
    a = fact.select(
        F.col(group_col).alias("g"), F.col(node_col).alias("src")
    )
    b = fact.select(
        F.col(group_col).alias("g"), F.col(node_col).alias("dst")
    )
    return (
        a.join(b, "g")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def build_edge_artifact(
    fact: DataFrame,
    group_col: str,
    node_col: str,
    artifact_dir: str,
) -> dict:
    """Materialize ``co_occurrence_edges`` as a persisted CORPUS
    ARTIFACT: hash-clustered on ``src`` (each node's edges land in one
    file) and sorted (src, dst) within partitions, so downstream
    src-keyed joins read co-located runs and src-equality filters
    prune at the parquet row-group level (the SORTKEY analog,
    ``sources/layout.py``). Same lifecycle as the IVF index and the
    semdedup kept-state: the 600 M-row self-join + distinct is paid
    once per corpus, and every graph lane after that reads a
    two-long-column parquet — at sf100 the rebuild was ~95% of gr7's
    1,238 s (SCALE.md), which is exactly the cost this artifact
    retires. Returns (and writes) ``meta.json``."""
    import json
    import os

    edges = co_occurrence_edges(fact, group_col, node_col)
    (
        edges.repartition(F.col("src"))
        .sortWithinPartitions("src", "dst")
        .write.mode("overwrite")
        .parquet(os.path.join(artifact_dir, "edges"))
    )
    import pyarrow.parquet as pq

    edir = os.path.join(artifact_dir, "edges")
    n_edges = sum(
        pq.ParquetFile(os.path.join(edir, f)).metadata.num_rows
        for f in os.listdir(edir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    meta = {
        "group_col": group_col,
        "node_col": node_col,
        "n_edges": n_edges,
        "layout": "hash(src) clustered, sorted (src, dst)",
    }
    with open(os.path.join(artifact_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def load_edges(spark, artifact_dir: str) -> DataFrame:
    """Read a persisted edge artifact (see ``build_edge_artifact``)."""
    import os

    return spark.read.parquet(os.path.join(artifact_dir, "edges"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected edge list (``src < dst``
    canonical form), degree-ordered: every edge is re-oriented toward
    the higher (degree, id) endpoint, wedges are enumerated at their
    LOWEST-ranked vertex as ordered pairs of its out-neighbors, and a
    wedge closes against the canonical edge list. Each triangle is
    counted exactly once (its unique rank-minimum vertex owns the
    wedge; the (b1 < b2) id-order picks one of the two wedge
    enumerations; closure is the canonical {b1,b2} edge).

    Why the orientation (round 11): the id-ordered form
    (e1⋈e2 on the middle vertex) fans out d⁻(b)·d⁺(b) wedge rows per
    vertex — on the sf100 co-supply graph (454M edges, ~91%-complete
    1000-node replica blocks, mean degree ~900) that is ~2·10¹¹ rows
    and OOMed a 32-thread executor heap. Degree-ordering caps the
    out-degree at √(2E) (every out-neighbor has ≥ the vertex's
    degree), so wedge volume is O(E^1.5) worst-case and halves on
    near-regular graphs; all three joins are plain equi-joins AQE
    plans as spillable sort-merge at scale. The remaining cost is the
    TRIANGLE COUNT ITSELF: a near-complete co-occurrence graph holds
    ~10¹¹ triangles at sf100 and no exact enumerator dodges writing a
    row per closed wedge — that regime belongs to
    ``triangle_count_estimate`` (Doulion edge sampling), with this
    exact form as its small/sparse-scale oracle."""
    ends = edges.select(F.col("src").alias("v")).unionAll(
        edges.select(F.col("dst").alias("v"))
    )
    deg = ends.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    e = (
        edges.join(
            deg.select(F.col("v").alias("src"), F.col("d").alias("ds")), "src"
        ).join(
            deg.select(F.col("v").alias("dst"), F.col("d").alias("dd")), "dst"
        )
    )
    src_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    fwd = e.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )
    # The wedge self-join and the closure join are LARGE-both-sides
    # joins whose probe/output volume is the O(E^1.5) wedge set —
    # hint them to sort-merge explicitly: the session's global
    # shuffled-hash preference (SCALE.md "Join strategy") has no
    # build-side spill, and at sf100 the per-partition build of the
    # oriented edge list overflowed the executor heap (round-11
    # SparkOutOfMemoryError). SMJ spills both sides and streams the
    # fan-out; the tiny degree join above still broadcasts.
    w1 = fwd.select("a", F.col("b").alias("b1")).hint("merge")
    w2 = fwd.select("a", F.col("b").alias("b2"))
    wedges = w1.join(w2, "a").filter(F.col("b1") < F.col("b2"))
    closed = wedges.join(
        edges.select(
            F.col("src").alias("b1"), F.col("dst").alias("b2")
        ).hint("merge"),
        ["b1", "b2"],
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def triangle_count_estimate(
    edges: DataFrame, p_mille: int = 100
) -> DataFrame:
    """Doulion (Tsourakakis et al., KDD'09) triangle ESTIMATE for the
    dense regime exact enumeration can't afford: keep each edge with
    probability p = ``p_mille``/1000 via a DETERMINISTIC portable
    coin (md5 of "src_dst" — any engine reproduces the same sampled
    graph, which is how the driver oracle restates this lane), count
    triangles exactly on the sampled graph, scale by 1/p³. Unbiased;
    concentration improves with triangle count — precisely the dense
    regime where it's needed (the sf100 co-supply graph holds ~10¹¹
    triangles; at p=0.1 the sampled graph's wedge volume shrinks
    ~1000× below the exact form's).

    Returns one row: (n_sampled_triangles, est_triangles) with the
    integer scale-up (exact arithmetic on both engine sides)."""
    if not 1 <= p_mille <= 1000:
        # p_mille=0 would ZeroDivisionError in the exact-scale branch;
        # >1000 keeps every edge (coin is always <1000) yet scales by
        # (p/1000)^-3 < 1 — a silent underestimate, not a sample.
        raise ValueError(f"p_mille must be in [1, 1000], got {p_mille}")
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.col("src"), F.col("dst"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    sampled = edges.filter(coin < F.lit(p_mille))
    scale = (1000 // p_mille) ** 3 if 1000 % p_mille == 0 else None
    n = triangle_count(sampled).select(
        F.col("n_triangles").alias("n_sampled_triangles")
    )
    if scale is not None:
        est = F.col("n_sampled_triangles") * F.lit(scale)
    else:
        est = F.round(
            F.col("n_sampled_triangles") / F.lit((p_mille / 1000.0) ** 3)
        ).cast("long")
    return n.select(
        "n_sampled_triangles", est.cast("long").alias("est_triangles")
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree distribution of an undirected edge list: (degree,
    n_nodes). Two map-side-combinable aggregations — the first keyed
    on node, the second on degree (tiny)."""
    ends = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 12,
    broadcast_max_nodes: int = 30_000_000,
) -> DataFrame:
    """PageRank on an undirected edge list (each edge walked both
    ways). Returns (node, pr) with ranks summing to ~1.

    Iterative join+aggregate: the (src, dst, out_deg) relation is
    checkpointed once (DISK_ONLY — see ``_pin_edges``); each iteration
    scatters rank mass along edges and folds it per destination.
    ``localCheckpoint`` truncates lineage so the plan doesn't grow
    with the iteration count (the classic iterative-DataFrame trap).
    Undirected graphs have no dangling nodes, so no rank leak term.

    The rank vector is NODE-sized (two longs) while ``adj`` is
    EDGE-sized, so when ``n <= broadcast_max_nodes`` (~480 MB of rank
    rows) the per-iteration join broadcasts ranks: ``adj`` then
    streams straight from its checkpoint blocks every round and the
    only shuffle left is the map-side-combined partial sums of the
    groupBy (at most |nodes| keys per map partition). Without the
    hint, every iteration re-shuffled all of ``adj`` for a sort-merge
    join — ~15 GB of retained shuffle files PER ITERATION at sf100,
    which overran the disk before iteration 12 (r12 measurement,
    SCALE.md "gr3/gr5 at sf100"). The hint must be explicit: a
    checkpointed frame reports unknown size stats, so the 64 MB
    auto-broadcast threshold never fires on it. Beyond the node
    bound, the co-partitioned shuffle join is the correct regime and
    the caller should budget disk for it.
    """
    bi = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = bi.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    adj = _pin_edges(bi.join(deg, "src"))

    nodes = adj.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    small = n <= broadcast_max_nodes

    base = (1.0 - damping) / n
    for _ in range(iterations):
        r = F.broadcast(ranks) if small else ranks
        contribs = adj.join(r, adj.src == r.node).select(
            F.col("dst").alias("node"),
            (F.col("pr") / F.col("out_deg")).alias("c"),
        )
        prev = ranks
        ranks = (
            contribs.groupBy("node")
            .agg(F.sum("c").alias("mass"))
            .select(
                "node", (F.lit(base) + damping * F.col("mass")).alias("pr")
            )
        )
        ranks = lifecycle.checkpoint(ranks)
        lifecycle.release_checkpoint(prev)
    return ranks


def kcore(edges: DataFrame, k: int, max_iters: int = 50) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly remove
    nodes of degree < k (and their incident edges) until no such node
    remains; returns the surviving (node, degree) — degree measured
    INSIDE the core.

    The loop is driver-side control only (the fixpoint probe is a
    count of the to-drop set, shrinking each round); data stays
    distributed, each round is one aggregate + two anti-joins on the
    symmetric edge list, and ``localCheckpoint`` keeps the plan flat
    across rounds. Converges in O(peeling depth) rounds — small for
    real degree distributions."""
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    cur = _pin_edges(sym)
    for _ in range(max_iters):
        deg = cur.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
        drop = lifecycle.checkpoint(
            deg.filter(F.col("degree") < k).select("node"), eager=False
        )
        n_drop = drop.count()
        if n_drop == 0:
            lifecycle.release_checkpoint(drop)
            return deg
        # The to-drop set is node-sized while cur is edge-sized; the
        # fixpoint probe just paid for |drop|, so the broadcast
        # decision is free. Broadcasting both anti-join sides keeps
        # cur streaming from its checkpoint blocks instead of
        # re-shuffling the full edge list twice per peel round
        # (checkpointed frames report unknown stats, so the
        # auto-broadcast threshold never fires on its own).
        d = F.broadcast(drop) if n_drop <= 30_000_000 else drop
        prev = cur
        cur = _pin_edges(
            cur.join(d, "node", "left_anti")
            .join(d.withColumnRenamed("node", "nbr"), "nbr", "left_anti")
        )
        # The peel keeps only the newest snapshot: superseded rounds'
        # blocks (and the drop set the new one was cut with) are
        # dropped eagerly rather than waiting on the ContextCleaner, so
        # total footprint is O(|E|) disk, not O(rounds x |E|).
        lifecycle.release_checkpoint(prev)
        lifecycle.release_checkpoint(drop)
    return cur.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    broadcast_max_nodes: int = 30_000_000,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge list (canonical src<dst rows) — the classic
    near-linear community detector. Every node starts as its own
    label; each round it adopts the most frequent label among its
    NEIGHBORS, ties broken by the smallest label, updates applied
    synchronously. Fixed ``iterations`` plus the deterministic tie
    rule make the result reproducible across engines and
    parallelism (no of the classic LPA randomness), at the price of
    possible two-cycle oscillation on bipartite-ish structures —
    acceptable for a bounded-round governance view, and exactly
    reproducible by the SQL oracle either way.

    Returns (node, label) after the final round.

    Scale shape per round (the pagerank discipline): the (node,
    label) frame is NODE-sized, so when ``n <= broadcast_max_nodes``
    it broadcasts and the doubled edge list is never shuffled by the
    join; the per-node top-1 is a ``max_by`` HASH aggregate over the
    (node, label) counts — map-side-combinable on both grouping
    steps, so what crosses the wire is bounded by distinct keys per
    map partition, not by |E| — and ``max_by(label, (c, -label))``
    encodes exactly the count-desc/label-asc tie rule a sort-based
    row_number window would (labels are non-negative ids, so the
    negation can't overflow). Document-scale payloads never enter.
    Rounds chain lazily — callers wanting many rounds should
    localCheckpoint every few to bound lineage."""
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionByName(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    small = labels.count() <= broadcast_max_nodes

    for _ in range(iterations):
        lab = F.broadcast(labels) if small else labels
        nbr = und.join(
            lab.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = counts.groupBy("node").agg(
            F.expr("max_by(label, struct(c, -label))").alias("label")
        )
    return labels


def neighbor_minhash_signatures(
    edges: DataFrame, k: int = 24, hash: str = "xxhash64"
) -> DataFrame:
    """Per-node MinHash signature of the NEIGHBOR SET — (node, mh0..
    mh{k-1}) — the sketch that turns neighbor-set similarity into an
    equi-join problem (see ``neighbor_jaccard_estimate``).

    Shape: double the canonical src<dst edge list, hash each neighbor
    ONCE (k permutations are integer multiply-adds over that one base
    hash — dedup's ``_minhash_array`` family, same (a, b) constants),
    then ONE groupBy(node) with k map-side-combinable MIN aggregates.
    The shuffle carries (node, k longs) partials — never neighbor
    lists. At sf100 (908M directed edges, ~900 avg degree) this is
    one linear pass; the exact gr6 2-hop join is Σ deg(n)² ≈ 8·10¹¹
    rows on the same graph — the work bound this sketch exists to
    avoid.

    ``hash``: "xxhash64" (JVM-native scale path) or "portable"
    (md5-derived 31-bit base — any SQL engine reproduces the exact
    signature, which is how the driver oracle restates the lane)."""
    from aws_csp_datapipeline_spark.functions.dedup import (
        _MASK31,
        _perm_constants,
    )

    und = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).unionByName(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    if hash == "xxhash64":
        base = F.xxhash64(F.col("nbr").cast("string")).bitwiseAND(
            F.lit(_MASK31)
        )
    elif hash == "portable":
        base = (
            F.conv(
                F.substring(F.md5(F.col("nbr").cast("string")), 1, 8), 16, 10
            )
            .cast("long")
            .bitwiseAND(F.lit(_MASK31))
        )
    else:
        raise ValueError(f"unknown minhash base-hash family: {hash!r}")
    hashed = und.select("node", base.alias("h"))
    return hashed.groupBy("node").agg(
        *[
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(1 << 31))).alias(
                f"mh{j}"
            )
            for j, (a, b) in enumerate(_perm_constants(k))
        ]
    )


def neighbor_jaccard_estimate(
    edges: DataFrame,
    k: int = 24,
    bands: int = 8,
    rows_per_band: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """Banded-LSH ESTIMATE of neighbor-set Jaccard — the dense-regime
    lane for gr6 exactly as gr8 (Doulion) is for gr1: the exact 2-hop
    common-neighbor join is work-bound on near-complete graphs
    (Σ deg(n)², ~8·10¹¹ rows at sf100), while this sketch is one
    linear signature pass + a banded bucket join bounded by bucket
    populations (d3's LSH architecture applied to adjacency).

    Candidates: nodes agreeing on ALL ``rows_per_band`` signature
    slots of at least one band (s-curve threshold (1/bands)^(1/r)
    ≈ 0.44 at the 8×3 default — pairs above it are caught with
    P ≥ 1-(1-J^r)^b, i.e. ≥ 98.7% at J = 0.8, ≥ 99.97% at J = 0.9).
    Estimate: matching-slot fraction over the full k-signature —
    E[match] = J per slot, σ ≈ √(J(1-J)/k). DISTINCT de-dups pairs
    that collide in several bands BEFORE the estimate join.

    Returns (node_a, node_b, est_jaccard) for all candidate pairs,
    unrounded/unsorted — callers shape the report. Deterministic:
    fixed hash family, no RNG — the same corpus yields the same
    candidates and estimates on any engine (portable family) or any
    cluster layout (xxhash64)."""
    if k < bands * rows_per_band:
        raise ValueError(
            f"k={k} signature slots < bands*rows_per_band="
            f"{bands * rows_per_band}: bands would reuse slots"
        )
    sig = neighbor_minhash_signatures(edges, k=k, hash=hash)
    mh = [f"mh{j}" for j in range(k)]
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(mh[b * rows_per_band + r_])
                        for r_ in range(rows_per_band)
                    ],
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("node", F.explode(bands_arr).alias("bk")).select(
        "node", "bk.band", "bk.key"
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.node") < F.col("b.node"))
        .select(
            F.col("a.node").alias("node_a"), F.col("b.node").alias("node_b")
        )
        .distinct()
    )
    sa = sig.select(
        F.col("node").alias("node_a"),
        *[F.col(c).alias(f"a_{c}") for c in mh],
    )
    sb = sig.select(
        F.col("node").alias("node_b"),
        *[F.col(c).alias(f"b_{c}") for c in mh],
    )
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in mh
    )
    return (
        cand.join(sa, "node_a")
        .join(sb, "node_b")
        .select(
            "node_a",
            "node_b",
            (matches.cast("double") / F.lit(float(k))).alias("est_jaccard"),
        )
    )
