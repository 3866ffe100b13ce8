"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k for one query vector —
  the correctness baseline. A narrow projection + TakeOrderedAndProject:
  scales linearly, no shuffle of the vectors.
- ``knn_join``: exact k-NN for a (small, broadcast) probe set.
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets
  (deterministic planes), candidates from bucket equality (with
  multiprobe via all bands), exact re-rank within candidates.

Dot products run through ``F.zip_with`` + ``F.aggregate`` — JVM-side
array expressions, no Python. For 100-TB corpora the bucketed variant
turns all-pairs scoring into an equi-join keyed by (band, bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.parallelism import ensure_min_parallelism


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — fixed evaluation order so the oracle's
    sequential sum matches bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    """``dot`` as SQL text over the array expressions ``a`` and ``b``."""
    return f"aggregate(zip_with({a}, {b}, (e1, e2) -> e1 * e2), 0D, (acc, e) -> acc + e)"


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


_QUERY_VEC_MEMO = None  # WeakKeyDictionary[DataFrame, dict[key, vec]]


def query_vector(df: DataFrame, id_col: str, vec_col: str, vec_id) -> list[float]:
    """Fetch ONE parameter vector driver-side (a scalar parameter, not
    a data-path collect). Memoized per (DataFrame handle, key): with
    catalog.load_table returning a stable plan handle per session,
    repeat plan builds of the same query skip the filtered-scan job
    entirely (r13, VERDICT r12 item 9 — zero eager jobs at plan
    build). A fresh DataFrame always fetches fresh (weak identity
    key), so rewritten inputs are never served a stale parameter."""
    global _QUERY_VEC_MEMO
    if _QUERY_VEC_MEMO is None:
        import weakref

        _QUERY_VEC_MEMO = weakref.WeakKeyDictionary()
    per_df = _QUERY_VEC_MEMO.setdefault(df, {})
    key = (id_col, vec_col, vec_id)
    if key in per_df:
        return per_df[key]
    row = df.filter(F.col(id_col) == vec_id).select(vec_col).head()
    if row is None:
        raise KeyError(f"no vector with {id_col}={vec_id}")
    vec = [float(x) for x in row[0]]
    per_df[key] = vec
    return vec


def cosine_scores(
    df: DataFrame, vec_col: str, id_col: str, query: list[float]
) -> DataFrame:
    """(id, cos_sim) of every row against a literal query vector —
    the unranked form of ``cosine_topk`` for rankers that fuse or
    re-rank downstream. Narrow projection, no shuffle."""
    q = F.array(*[F.lit(float(x)) for x in query])
    return df.select(
        F.col(id_col),
        cosine(_as_double(F.col(vec_col)), q).alias("cos_sim"),
    )


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.
    Rounded before ordering so ties rank identically in the oracle."""
    q = F.array(*[F.lit(float(x)) for x in query])
    sim = F.round(cosine(_as_double(F.col(vec_col)), q), 4)
    return (
        df.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_join(
    probes: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Exact k-NN join: every probe row against the corpus, keep top-k
    per probe. Probe side is broadcast — the corpus never shuffles;
    ranking is a per-probe window over the scored join."""
    from pyspark.sql import Window

    p = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("pv")
    )
    # the corpus side carries ALL the dot-product work of the
    # broadcast join — make sure it is spread across cores
    c = ensure_min_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
        )
    )
    scored = (
        c.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("cv")), 4))
        .select("probe_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (numpy PCG64, fixed
    seed) — reproducible across runs and engines."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[float(v) for v in rng.standard_normal(dim)] for _ in range(n_planes)]


def auto_ivf_cells(n_rows: int, floor: int = 16, cap: int = 4096) -> int:
    """The IVF cell-count scale rule: ``n_cells ≈ √N`` (the classic
    inverted-file balance — per-probe scan cost n_probe·N/cells and
    quantizer-ranking cost ∝ cells are equalized at √N; FAISS's
    guideline for IVF index sizing). A FIXED cell count makes the
    per-probe scan a constant FRACTION of the corpus — linear growth
    per query, the d10 failure mode in probe form. ``floor=16`` keeps
    every corpus ≤ ~256 vectors on the historical 16-cell plan (so
    the sf0.01 attested output is unchanged); ``cap`` bounds the
    KMeans training cost and the broadcast centers table. Callers opt
    in explicitly: ``ivf_topk(..., n_cells=auto_ivf_cells(n))``."""
    import math

    return min(cap, max(floor, round(math.sqrt(n_rows))))


def ivf_topk(
    probes: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate k-NN: cluster the corpus into
    ``n_cells`` KMeans cells once, then each probe searches only its
    ``n_probe`` nearest cells — the classic coarse-quantizer index.

    At corpus scale the cell assignment is written once (partitioned
    by cell); a probe touches n_probe/n_cells of the data. Recall is
    tunable via n_probe. Deterministic: fixed KMeans seed (the
    quantizer training sample is seeded too). Falls back to brute
    force if pyspark.ml is unavailable.

    Scale shape: the quantizer is TRAINED on a bounded seeded sample
    (≥256 vectors per cell, the FAISS training guideline) rather than
    the full corpus — KMeans iterations over all N rows would make
    index BUILD quadratic-ish in corpus size for zero quantizer
    quality gain — then assignment (one pass) covers every row. Cell
    ranking against probes uses a literal centers array while it is
    small enough to codegen, and a broadcast crossJoin of the centers
    table beyond that (the expression tree, not the data, is the
    limit: 4096 cells × 64 dims ≈ 270k literal nodes).
    """
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError:  # pragma: no cover
        return knn_join(probes, corpus, vec_col, id_col, k)

    from pyspark.sql import Window

    c = ensure_min_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
        )
    ).withColumn("features", array_to_vector("cv"))
    train = c
    # 64 vectors per centroid, 10 Lloyd iterations: a COARSE quantizer
    # only routes probes to cells — n_probe absorbs center sloppiness
    # (recall floor unchanged, tests/test_approx_quality.py). The
    # previous 256/centroid × 20-iteration build was 8× the work for
    # no measured recall gain and dominated s5 at sf100: 2M vectors →
    # 1414 cells meant fitting k=1414 on a 362k sample, ~60 of the
    # 75 s run (SCALE.md "sf100 ANN/ER/dedup extension"). 64/centroid
    # stays well above the ~39/centroid underfit warning line FAISS
    # documents for IVF training.
    sample_target = max(10_000, 64 * n_cells)
    # knob statistic only (sampling fraction): take the caller's
    # parquet-footer hint when given so plan BUILD stays lazy —
    # counting here launches a hidden job per invocation
    # (catalog.table_row_count is the zero-job source)
    n_corpus = n_rows if n_rows is not None else c.count()
    if n_corpus > sample_target:
        train = c.sample(fraction=sample_target / n_corpus, seed=seed)
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="features", maxIter=max_iter
    ).fit(train)
    assigned = model.transform(c).select(
        "neighbor_id", "cv", F.col("prediction").alias("cell")
    )
    centers = [[float(x) for x in ctr] for ctr in model.clusterCenters()]

    p = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("pv")
    )
    # rank cells by the SAME metric KMeans assigned with (euclidean):
    # argmin |p-c|^2 = argmin (|c|^2 - 2 p·c), |p|^2 constant per probe
    if n_cells <= 64:
        # each probe ranks the (tiny, literal) center list
        center_lit = F.array(
            *[
                F.struct(
                    F.lit(i).alias("cell"),
                    F.array(*[F.lit(x) for x in ctr]).alias("ctr"),
                )
                for i, ctr in enumerate(centers)
            ]
        )
        ranked = p.select("probe_id", "pv", F.explode(center_lit).alias("c"))
    else:
        centers_df = p.sparkSession.createDataFrame(
            [(i, ctr) for i, ctr in enumerate(centers)],
            "cell int, ctr array<double>",
        ).select(F.struct("cell", "ctr").alias("c"))
        ranked = p.crossJoin(F.broadcast(centers_df))
    ranked = ranked.withColumn(
        "cdist",
        dot(F.col("c.ctr"), F.col("c.ctr")) - F.lit(2.0) * dot(F.col("pv"), F.col("c.ctr")),
    )
    wc = Window.partitionBy("probe_id").orderBy("cdist")
    pcells = (
        ranked.withColumn("__rc", F.row_number().over(wc))
        .filter(F.col("__rc") <= n_probe)
        .select("probe_id", "pv", F.col("c.cell").alias("cell"))
    )

    scored = (
        assigned.join(F.broadcast(pcells), "cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("pv"), F.col("cv")), 4))
        .select("probe_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def auto_lsh_planes(
    n_rows: int,
    n_tables: int = 6,
    target_bucket: int = 32,
    floor_bits: int = 4,
    cap_bits: int = 16,
) -> int:
    """The multi-table-LSH bucket-width scale rule: bits per table ≈
    log2(N / target_bucket), so expected bucket population — and with
    it the per-probe candidate volume — stays ~constant as the corpus
    grows. Fixed bits (the historical 4 → 16 buckets/table) make each
    bucket a constant FRACTION of the corpus: per-probe candidates
    grow linearly, the d10/IVF failure mode in banded form. Recall
    per true neighbor declines as bits grow (p^bits per table), which
    is the standard L-tables tradeoff — raise ``n_tables`` to buy it
    back; the OR-construction math is in ``lsh_tables``. ``floor_bits=4``
    keeps corpora ≤ ~512 vectors on the attested 24-plane plan.
    Returns ``n_tables * bits`` (the ``n_planes`` argument of
    ``lsh_topk``); callers opt in explicitly."""
    import math

    bits = floor_bits
    if n_rows > target_bucket:
        bits = min(cap_bits, max(floor_bits, math.ceil(math.log2(n_rows / target_bucket))))
    return n_tables * bits


def lsh_tables(vec: Column, planes: list[list[float]], n_tables: int) -> Column:
    """Multi-table LSH keys: split the planes into ``n_tables`` bands
    of sign bits; returns array<struct<table:int, bucket:long>>. A
    pair is a candidate if ANY table agrees — the standard L-tables
    OR-construction that trades candidate volume for recall."""
    bits_per = len(planes) // n_tables
    entries = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for i in range(bits_per):
            p = F.array(*[F.lit(x) for x in planes[t * bits_per + i]])
            bucket = bucket + F.when(
                dot(vec, p) > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        entries.append(
            F.struct(F.lit(t).alias("table"), bucket.alias("bucket"))
        )
    return F.array(*entries)


def lsh_topk(
    probes: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 3,
    n_planes: int = 24,
    n_tables: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate k-NN via multi-table hyperplane LSH: candidates
    from (table, bucket) equality in ANY of the L tables, exact
    cosine re-rank within candidates. With 6 tables × 4 bits, a
    neighbor at cos≈0.75 (sign-agreement p≈0.77/plane) is a candidate
    with P ≈ 1-(1-p^4)^6 ≈ 0.93. At scale the corpus is written
    bucketed by (table, bucket) once; probe joins are shuffle-free."""
    from pyspark.sql import Window

    planes = hyperplanes(dim, n_planes, seed)
    c = ensure_min_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
        )
    ).select(
        "neighbor_id", "cv", F.explode(lsh_tables(F.col("cv"), planes, n_tables)).alias("tb")
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("pv")
    ).select(
        "probe_id", "pv", F.explode(lsh_tables(F.col("pv"), planes, n_tables)).alias("tb")
    )
    cand = (
        c.join(F.broadcast(p), c.tb == p.tb)
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "pv", "neighbor_id", "cv")
        .distinct()
    )
    scored = cand.withColumn(
        "cos_sim", F.round(cosine(F.col("pv"), F.col("cv")), 4)
    ).select("probe_id", "neighbor_id", "cos_sim")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def auto_sign_bits(
    n_rows: int, target_cell: int = 64, floor: int = 6, cap: int = 14
) -> int:
    """The SemDeDup cell-count scale rule: pick the sign-bit width so
    the EXPECTED cell population stays near ``target_cell`` as the
    corpus grows — the paper's k ∝ N prescription (Abbas et al. 2023
    run 50k clusters on LAION-440M for the same reason). The in-cell
    comparison is quadratic per cell, so fixed cells make total pair
    work O(N²/cells): measured 154 s for d10 at sf10 (200k vectors in
    64 cells ⇒ ~312M dot products) vs ~linear once cells track N
    (SCALE.md "d10 cell-count scale rule"). ``floor=6`` holds every
    corpus up to exactly 4,096 vectors (2⁶ cells × 64 target) on the
    historical 6-bit plan — which covers the sf0.01 (200) and sf0.1
    (2,000) attested corpora bit-identically; at 4,097+ the bits grow
    and the kept set legitimately changes with them, so fixed-6-bit
    oracles (d10's SQL) are valid ONLY at those attested sizes.
    ``cap`` bounds the bits by embedding dimensionality. Callers opt in explicitly:
    ``semdedup_flags(..., sign_bits=auto_sign_bits(df.count()))`` —
    the count is a parquet-footer metadata read, the same corpus
    statistic a KMeans quantizer would need anyway."""
    import math

    if n_rows <= target_cell:
        return floor
    return min(cap, max(floor, math.ceil(math.log2(n_rows / target_cell))))


def auto_semdedup_quantizer(
    n_rows: int, target_cell: int = 64
) -> tuple[int, int]:
    """Quantizer selection for the semantic-dedup family as the corpus
    grows: returns ``(ivf_cells, sign_bits)`` for
    ``semdedup_flags``.

    * Up to the sign-bit cap (``auto_sign_bits`` cap 14 ⇒ 16,384
      cells ⇒ 1,048,576 vectors at target 64) the sign-bit quantizer
      alone holds cell population at ~``target_cell`` — returns
      ``(0, auto_sign_bits(n))``, bit-identical to every historically
      attested plan (sf0.01 … sf10 corpora are all ≤ 200k vectors).
    * Beyond the cap, sign bits stop scaling (leading-coordinate
      signs correlate on real embeddings, so extra bits add skew
      faster than discrimination — measured 12.7× d10 scaling at
      sf100, SCALE.md "d10 beyond the sign-bit cap") and the cell id
      switches to the paper's actual prescription: a sample-trained
      KMeans coarse cell (capped at 256 centers) COMPOSED with
      however many sign bits still separate the remainder: total
      cells = ivf_cells × 2^sign_bits ≈ N / target_cell, with KMeans
      carrying the data-adaptive part of the split and the sign bits
      the cheap residual part. The 256-center cap keeps BOTH quantizer
      costs bounded and in-plan: training is a seeded ≤65k-row sample
      (sub-second), and assignment is an argmin over a LITERAL
      broadcast centers array evaluated inside the corpus's single
      projection pass — no ML transform job, no assignment join, no
      extra shuffle. A first cut with k = √N (1,414 centers at sf100)
      spent more on training + a 2M-row assignment join than the
      smaller cells saved: 70 s vs the sign-bit path's 47 s; capping
      k at 256 and folding assignment into the plan is what actually
      beats it (SCALE.md)."""
    import math

    bits = auto_sign_bits(n_rows, target_cell=target_cell)
    if n_rows <= target_cell * (1 << 14):  # sign-bit cap not reached
        return 0, bits
    cells = min(256, auto_ivf_cells(n_rows))
    sub = max(0, math.ceil(math.log2(n_rows / target_cell / cells)))
    return cells, sub


def _ivf_model(
    df: DataFrame,
    vec_col: str,
    n_cells: int,
    seed: int = 42,
    n_rows: int | None = None,
):
    """Sample-trained KMeans model (same quantizer discipline as
    ``ivf_topk``: ≥256 vectors per cell seeded sample, fixed seed,
    bounded iterations). Returns None if pyspark.ml is unavailable —
    callers then keep the sign-bit-only cell id, which is strictly
    MORE complete (fewer cells only widen candidate scope).

    Assignment goes through ``model.transform`` IN the caller's own
    frame — the prediction is one JVM column transformer, so the
    composite cell id costs no assignment join and no extra shuffle.
    (Two rejected designs, both measured at sf100: a separate
    (id, cell) frame joined back — the join + transform job pushed
    d10 to 70 s vs the 47 s it was supposed to beat; and an in-plan
    argmin over a literal centers array via F.transform/F.aggregate —
    higher-order functions evaluate on the INTERPRETED expression
    path, and 16k interpreted flops/row on 2M rows did not finish in
    10 minutes. The ML transformer is compiled JVM code and the only
    per-row cost that scales with k that Spark executes efficiently
    here.)"""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError:  # pragma: no cover
        return None

    c = df.select(_as_double(F.col(vec_col)).alias("__qv")).withColumn(
        "__feat", array_to_vector("__qv")
    )
    sample_target = max(10_000, 256 * n_cells)
    n_corpus = n_rows if n_rows is not None else c.count()
    train = c
    if n_corpus > sample_target:
        train = c.sample(fraction=sample_target / n_corpus, seed=seed)
    return KMeans(
        k=n_cells, seed=seed, featuresCol="__feat", maxIter=10
    ).fit(train)


def _cells_and_units(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    sign_bits: int,
    ivf_cells: int = 0,
    seed: int = 42,
    n_rows: int | None = None,
    model=None,
) -> DataFrame:
    """(__id, __bucket, __u): sign-bit cell id plus the L2-normalized
    vector, persisted — the shared substrate of the semantic-dedup
    family. Pre-normalizing ONCE per row makes every per-pair
    comparison a single dot product (cosine on raw vectors would
    re-run both norm aggregates per candidate pair — 3x the
    pair-stage work; honest cold-cache A/B at sf1: 10.5 s -> 3.8 s
    for the full d10 query together with this persist). The norm is
    bound once per row via the single-element-array wrapper (same
    trick as dedup.word_shingles: a plain two-step select gets
    collapsed and the norm aggregate re-inlines per element).
    MEMORY_AND_DISK because the table feeds 2-3 consumers per query;
    released when the caller's ``lifecycle.scope()`` exits (outside
    one, at ``clearCache``). Built as one SQL statement over ``df``
    (two around a KMeans transform), read in its own scan layout: a
    width-8 round-robin spread here cost inc3 2 jobs and 72 tasks and
    d10 1 job and 43 tasks at sf0.1 on 4 cores, and measured no faster
    (BENCH_sf0.1_semdedup_spread.json)."""
    spark = df.sparkSession
    bucket = " + ".join(
        f"CASE WHEN element_at(__v, {i + 1}) > 0 THEN {1 << (sign_bits - 1 - i)} ELSE 0 END"
        for i in range(sign_bits)
    ) or "0"  # sign_bits == 0: all residual splitting to IVF
    bucket = f"CAST({bucket} AS BIGINT)"
    unit = (
        "element_at(transform(array(named_struct('v', __v, 'n', "
        f"sqrt({dot_sql('__v', '__v')}))), s -> transform(s.v, e -> e / s.n)), 1)"
    )
    src = (
        f"SELECT `{id_col}` AS __id,"
        f" transform(`{vec_col}`, x -> CAST(x AS DOUBLE)) AS __v FROM {{df}}"
    )
    if ivf_cells > 0:
        # composite cell id: KMeans coarse cell in the high bits, sign
        # bits in the low bits — the beyond-the-cap quantizer
        # (auto_semdedup_quantizer docstring). The prediction column
        # rides the SAME frame (model.transform), so assignment adds
        # no join and no shuffle; training reads a bounded sample.
        # Callers that need the trained centers afterwards (the
        # persisted-state artifact) pass a pre-trained ``model``.
        if model is None:
            model = _ivf_model(df, vec_col, ivf_cells, n_rows=n_rows)
        if model is not None:
            from pyspark.ml.functions import array_to_vector

            df = model.transform(
                lifecycle.sql(spark, src, df=df).withColumn("__feat", array_to_vector("__v"))
            )
            src = "SELECT * FROM {df}"
            bucket = f"CAST(prediction AS BIGINT) * CAST({1 << sign_bits} AS BIGINT) + {bucket}"
    return lifecycle.persist(
        lifecycle.sql(
            spark, f"SELECT __id, {bucket} AS __bucket, {unit} AS __u FROM ({src})", df=df
        )
    )


def _dup_ids_sql(base: str, threshold: float) -> str:
    """SQL text of the (__id) of every vector in ``base`` (__id,
    __bucket, __u) that has a LOWER-id cell-mate with cosine >=
    ``threshold`` — the single encoding of the semdedup drop rule,
    shared by the full pass and the kept-state builder (the
    containment invariant between them depends on the rules being
    identical)."""
    return f"""
    SELECT DISTINCT x.__xid AS __id
    FROM (SELECT __id AS __xid, __bucket AS __b, __u AS __xu FROM {base}) x
    JOIN (SELECT __id AS __yid, __bucket AS __b, __u AS __yu FROM {base}) y
      ON x.__b = y.__b
    WHERE y.__yid < x.__xid AND {dot_sql('x.__xu', 'y.__yu')} >= {float(threshold)!r}D"""


def _dup_ids(base: DataFrame, threshold: float) -> DataFrame:
    """``_dup_ids_sql`` over the frame ``base``."""
    return lifecycle.sql(base.sparkSession, _dup_ids_sql("{base}", threshold), base=base)


def semdedup_flags(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.45,
    sign_bits: int = 6,
    ivf_cells: int = 0,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): partition the corpus into coarse cells, compare
    embeddings only WITHIN a cell, and drop every vector that has a
    lower-id cell-mate with cosine >= ``threshold``. Returns one row
    per input vector: (``id_col``, bucket, kept).

    Cell assignment here is a deterministic sign-bit quantizer (the
    signs of the leading ``sign_bits`` coordinates), chosen because it
    is SQL-expressible (oracle-checkable) while having the same
    algebraic shape as the paper's KMeans coarse quantizer: swap
    ``bucket`` for an IVF cell id (see ``ivf_topk``'s quantizer) and
    nothing else in the plan changes. The point of the cell key is
    that the quadratic comparison becomes an equi-join on ``bucket``
    — O(sum of |cell|^2) candidate pairs instead of O(N^2) — and each
    cell's comparison co-locates under one shuffle of the (id,
    bucket, vector) projection. Document bodies never move; only the
    embedding column shuffles, and the dup-id set that joins back is
    a narrow (id) relation, orders smaller than the corpus.

    ``ivf_cells > 0`` composes a KMeans coarse cell into the high
    bits of the cell id (``auto_semdedup_quantizer``) — the scale
    path beyond the sign-bit cap (~1M vectors at target 64), where
    additional sign bits add skew faster than discrimination.

    Beyond the cap the plan also switches to two-phase
    collapse/expand (the er2 lesson applied to vectors): all quadratic
    in-cell work runs once per DISTINCT vector, because exact replicas
    decide themselves — an identical lower-id mate has cosine exactly
    1 (mathematically, not float-evaluated), so every non-minimal
    member of an identical-vector group is dropped and the group's
    minimal id survives iff its representative does in the
    distinct-vector semdedup keyed by group-min id. Replica-heavy
    corpora (every dedup corpus, by definition; the sf100 replicated
    corpus is 99.9% exact dups) pay the pair stage on the distinct
    count only — measured 47.0 s → 24.2 s for d10 at sf100 together
    with the composite quantizer (SCALE.md "d10 beyond the sign-bit
    cap"). The collapse is NOT applied below the cap: its extra
    groupBy + expand-join stages carry ~1.6 s of fixed plan overhead
    that measured LARGER than the pair work they save on every ≤200k
    corpus (sf0.1 0.84 → 2.4 s, sf10 3.1 → 5.0 s), and gating keeps
    every attested plan bit-identical. Zero-norm vectors are exempt
    from collapse (their cosine is NaN, which the drop rule treats as
    no-match, so identical zero vectors all survive — singleton
    groups preserve that). Assumes threshold <= 1 (above 1 nothing
    matches anything, including exact duplicates).
    """
    if ivf_cells <= 0:  # below the cap: the attested single-phase plan
        base = _cells_and_units(df, vec_col, id_col, sign_bits)
        return lifecycle.sql(
            df.sparkSession,
            f"""
            SELECT b.__id AS `{id_col}`, b.__bucket AS bucket, d.__dup IS NULL AS kept
            FROM {{base}} b
            LEFT JOIN (SELECT __id, true AS __dup FROM ({_dup_ids_sql("{base}", threshold)})) d
              ON b.__id = d.__id""",
            base=base,
        )

    recs_all = df.select(
        F.col(id_col).alias("__rid"), _as_double(F.col(vec_col)).alias("__vec")
    )
    # NULL embeddings bypass the collapse entirely: cosine with NULL is
    # NULL (never a match, same as the single-phase drop rule), the
    # equi-joins below are null-rejecting, and a NULL feature would
    # poison the KMeans fit/transform — so they re-enter at the end as
    # kept singletons, preserving the one-flag-row-per-record contract
    null_recs = recs_all.filter(F.col("__vec").isNull())
    recs = recs_all.filter(F.col("__vec").isNotNull()).withColumn(
        # zero-norm test via array_min/array_max (codegen-able native
        # collection expressions) — l2_norm's F.aggregate is a
        # higher-order function evaluated on the interpreted path,
        # which costs real time over the full corpus
        "__gk",
        F.when(
            (F.array_min(F.col("__vec")) == 0)
            & (F.array_max(F.col("__vec")) == 0),
            F.col("__rid"),
        ).otherwise(F.lit(-1).cast("long")),
    )
    # groupBy, not a window: map-side combine collapses replicas before
    # the shuffle, and there is no sort — a window over the 64-dim
    # array key sort-merges the full corpus by array comparisons
    # (measured: the window form gave back everything the collapse
    # saved at sf100)
    reps = recs.groupBy("__gk", "__vec").agg(F.min("__rid").alias("__rep"))
    base = _cells_and_units(reps, "__vec", "__rep", sign_bits, ivf_cells, n_rows=n_rows)
    dup_ids = _dup_ids(base, threshold).withColumn("__dup", F.lit(True))
    rep_flags = base.join(dup_ids, "__id", "left").select(
        F.col("__id").alias("__flagid"),
        F.col("__bucket").alias("bucket"),
        F.col("__dup").isNull().alias("__repkept"),
    )
    rep_map = reps.join(rep_flags, reps["__rep"] == rep_flags["__flagid"]).select(
        F.col("__gk").alias("__mgk"),
        F.col("__vec").alias("__mvec"),
        "__rep",
        "bucket",
        "__repkept",
    )
    # expand: replica-heavy corpora broadcast the tiny rep_map (AQE
    # sizes it); distinct-heavy corpora pay one co-partitioned join —
    # the honest price of the collapse, bounded by one extra shuffle
    expanded = recs.join(
        rep_map,
        (F.col("__gk") == F.col("__mgk")) & (F.col("__vec") == F.col("__mvec")),
    ).select(
        F.col("__rid").alias(id_col),
        "bucket",
        (F.col("__repkept") & (F.col("__rid") == F.col("__rep"))).alias("kept"),
    )
    return expanded.unionByName(
        null_recs.select(
            F.col("__rid").alias(id_col),
            # the sign-bit quantizer folds every NULL element to bit 0,
            # so a NULL vector's single-phase bucket is 0
            F.lit(0).cast("long").alias("bucket"),
            F.lit(True).alias("kept"),
        )
    )


def semdedup_kept_state(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.45,
    sign_bits: int = 6,
) -> DataFrame:
    """The carried state of day-over-day semantic dedup: the KEPT
    set's (id, cell, unit-vector) table — already deduplicated, so
    it grows slowly. A 100-TB pipeline computes this ONCE per full
    pass, persists it (write the three narrow columns, partitioned
    by cell), and feeds it to ``semdedup_incremental`` for every
    subsequent batch. Columns: (``id_col``, bucket, unit).

    Note: ``semdedup_incremental`` re-derives cell ids from the
    incoming vectors alone, which only the deterministic sign-bit
    quantizer supports — a kept-state built with ``ivf_cells > 0``
    would additionally need its KMeans centers persisted beside the
    state, so the incremental lane stays sign-bit-only (its corpora
    are per-batch, far below the cap by construction).

    Stays on the single-phase (no-collapse) plan: kept-state corpora
    sit below the sign-bit cap by construction, where the collapse's
    extra stages measure as pure overhead (see ``semdedup_flags``),
    and both functions must encode the identical drop rule for the
    flags/state containment invariant."""
    base = _cells_and_units(df, vec_col, id_col, sign_bits)
    return lifecycle.sql(
        df.sparkSession,
        f"""
        SELECT b.__id AS `{id_col}`, b.__bucket AS bucket, b.__u AS unit
        FROM {{base}} b LEFT ANTI JOIN ({_dup_ids_sql("{base}", threshold)}) d
          ON b.__id = d.__id""",
        base=base,
    )


def semdedup_incremental(
    kept_state: DataFrame,
    incoming: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.45,
    sign_bits: int = 6,
) -> DataFrame:
    """Incremental semantic dedup: admit each INCOMING vector iff no
    vector of ``kept_state`` (the persisted output of
    ``semdedup_kept_state`` — NOT the raw existing corpus) sits in
    its cell with cosine >= ``threshold``. Returns one row per
    incoming vector: (``id_col``, bucket, accepted).

    Because the caller passes the carried state, each increment pays
    |batch| x |kept-in-cell| single-dot comparisons — the existing
    corpus is never re-deduplicated or even re-read. Batch-internal
    near-duplicates are intentionally admitted together (each other's
    near-dups but nobody's in the kept set) and collapse on the next
    full ``semdedup_flags`` pass; note this is LOOSER than ``inc2``'s
    fingerprint path, where exact-equality keys make batch-internal
    min-id dedup a cheap same-aggregate side effect — near-dup
    admission within the batch would need the full pair join inc3
    exists to avoid.

    ``sign_bits`` MUST equal the quantizer config the state was built
    with (bucket ids are meaningless across configs): a production
    pipeline records ``auto_sign_bits(N)`` alongside the state at
    full-pass time and passes it here — the state, not the batch,
    owns the cell geometry until the next full pass rebuilds both."""
    inc = _cells_and_units(incoming, vec_col, id_col, sign_bits)
    return lifecycle.sql(
        incoming.sparkSession,
        f"""
        SELECT i.__id AS `{id_col}`, i.__bucket AS bucket, h.__hit IS NULL AS accepted
        FROM {{inc}} i
        LEFT JOIN (
          SELECT __id, true AS __hit FROM (
            SELECT DISTINCT q.__iid AS __id
            FROM (SELECT __id AS __iid, __bucket AS __b, __u AS __iu FROM {{inc}}) q
            JOIN (SELECT bucket AS __b, unit AS __ku FROM {{kept}}) k ON q.__b = k.__b
            WHERE {dot_sql('q.__iu', 'k.__ku')} >= {float(threshold)!r}D
          )
        ) h ON i.__id = h.__id""",
        inc=inc,
        kept=kept_state,
    )
