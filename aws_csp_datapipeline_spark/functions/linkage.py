"""Scale-safe blocking for entity resolution.

``er1_blocked_matches`` (plans/q_linkage.py) demonstrates classic
attribute blocking, whose FIXED (nation, segment) key makes in-block
candidate pairs grow quadratically with data size (measured: 9k pairs
at sf0.01 → 902k at sf0.1 → 90M at sf1, SCALE.md "er1 blocking
lesson"). This module is the scale path: positional pigeonhole
blocking with a frequency-aware sub-split, the same
candidate-generation architecture as MinHash-LSH banding
(functions/dedup.py) — explode a few deterministic keys per record,
equi-join on the key, exact-verify candidates — applied to
edit-distance matching on structured records (cf. the PassJoin /
Ed-Join partition-based family for edit-distance joins).

Two-phase architecture (the textbook ER pipeline at scale):

1. COLLAPSE exact duplicates: all lane construction, frequency
   splitting, candidate joins, and levenshtein verification run on
   DISTINCT (block, name) representatives. A duplicate-heavy corpus
   (the common case in web-scale entity data — and the measured case
   in the replicated .scratch/sf10 corpus, where every name appears
   100×) pays the expensive matching ONCE per distinct name, not once
   per record: without this, 100× duplication inflates the verify
   join's input ~10,000× and the old id-level formulation ground a
   13-minute sf10 stage (SCALE.md "er2 at sf10").
2. EXPAND back to record pairs: verified name-pairs equi-join to the
   record table on (block, name) twice; same-name record pairs come
   from a (block, name) self-equi-join at dist 0. Both joins emit
   each output pair exactly once — no distinct over the (possibly
   huge) record-pair set is ever needed, so this phase is
   OUTPUT-BOUND: its cost is the size of the answer, the lower bound
   for any correct implementation.

Key construction, for an edit budget of 2 SUBSTITUTIONS:

* Level 0: names only ever compare inside (block_cols..., length)
  — equal-length banding (a production variant widens to ±2 length
  bands for indels; see the recall contract below).
* Level 1: the 9-char discriminative suffix of the name is split into
  3 triples T0..T2; by pigeonhole, a pair with ≤2 substitutions has
  at least one untouched triple.
* Level 2: given the untouched triple t, the complementary 6 chars
  carry all ≤2 edits; their 3 bigrams B0..B2 again leave one
  untouched. Each name therefore emits 9 lane keys
  (block, length, t, T_t, j, B_j) — a pair with ≤2 substitutions
  collides on at least one.
* Frequency-aware split (the budget guard): lane-blocks bigger than
  ``cap`` would re-create the quadratic blow-up (low-entropy lanes —
  e.g. the all-zeros high-order digits of serial IDs — pin nothing).
  Oversized blocks re-pigeonhole the 4 still-unpinned complement
  chars: the name emits 4 sub-keys, each pinning one char; ≤2 subs
  leave ≥2 of the 4 untouched, so the collision guarantee SURVIVES
  the split — unlike a hash salt, which would drop cross-bucket pairs.

Recall contract: EXACT for pairs within 2 substitutions (verified
property: zero substitution pairs missed vs the quadratic er1 at
sf0.001/0.01/0.1, tests/test_linkage.py); identical-name pairs are
always emitted (phase-2 self-join — they need no blocking at all).
Pairs whose edit script needs an insert+delete (position shift) may
be missed — measured 2.6% of lev≤2 pairs at sf0.1, 0% at sf≤0.01;
the production extension for indel-heavy corpora is PassJoin's
shifted-segment probes (emit each triple also at ±shift positions),
which multiplies lanes by a constant and preserves the linear
candidate growth.

Cost shape at 100 TB: one distinct over (block, short-name) keys,
9-13 narrow key rows per DISTINCT name (measured candidate pairs:
6.0/record at sf0.01, 12.7/record at sf0.1 — vs the fixed-key er1's
6 → 60/record over the same step), one hash-agg for lane sizes, one
equi-join per side on the lane key, the banded levenshtein only on
surviving DISTINCT-name candidates, and output-bound expansion
joins. Every shuffle is keyed by short strings, never by record
payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.exprcache import cached_column
from aws_csp_datapipeline_spark.parallelism import shuffle_partitions

# Unit separator: cannot appear in the key fields it joins (documented
# caller contract — names containing \x1f would need a different sep).
_SEP = "\x1f"

# Unpinned complement positions per bigram index j (1-based): B_j pins
# comp[2j+1 .. 2j+2], the other four single chars re-pigeonhole
# oversized blocks.
_UNPINNED = {0: (3, 4, 5, 6), 1: (1, 2, 5, 6), 2: (1, 2, 3, 4)}


def _candidate_name_pairs(
    df: DataFrame,
    name_col: str,
    block_cols: list[str],
    cap: int,
) -> DataFrame:
    """Distinct candidate name pairs (block_cols..., name_a, name_b),
    name_a < name_b, from pigeonhole lanes over the DISTINCT
    (block, name) representatives of ``df`` (module docstring)."""
    names = df.select(*block_cols, name_col).distinct()
    # Spread the per-name lane construction (r12): the distinct's
    # output is bytes-tiny relative to its downstream ×9 lane
    # explosion, so AQE (rightly, by bytes) coalesces it — on the
    # single-row-group local extract to ONE partition, serializing
    # the lane substring/concat work (measured 1.4 s single-task at
    # sf0.1). An explicit round-robin spread of the pre-explosion
    # frame costs ≤1/9 of the adjacent unavoidable lane shuffle at
    # any scale and keeps the explosion parallel under any layout
    # (the _expand_to_ids precedent; explicit repartitions are exempt
    # from AQE re-coalescing).
    names = names.repartition(shuffle_partitions(df.sparkSession))

    # Shared lane-key sub-expressions (r13, guide §1.2 — the er3
    # treatment applied to the aligned lanes): the 9 lane structs
    # re-derived the block casts + length string 9×, the suffix
    # window per piece, and each complement per bigram/xs extract.
    # Two stacked projections below the explode compute the prefix +
    # suffix once, then the 3 triples + 3 complements from the
    # suffix; each lane key is then a 6-piece concat_ws of
    # precomputed columns and each xs entry a 1-char substring of a
    # precomputed complement. CollapseProject cannot re-inline them
    # (non-cheap aliases referenced more than once). Key bytes are
    # unchanged: concat_ws(s, concat_ws(s, blocks…, L), t, …) ==
    # concat_ws(s, blocks…, L, t, …) for non-null fields (the
    # all-NULL-block corner is a consistent key remap; candidates
    # are levenshtein-verified downstream regardless). The parsed
    # trees are memoized per (name_col, block_cols) — exprcache.
    _nm = f"`{name_col}`"
    _blocks_sql = ", ".join(f"cast(`{b}` as string)" for b in block_cols)
    ckey = (name_col, tuple(block_cols))
    shared1 = {
        "_g_pre": (
            f"concat_ws(chr(31), {_blocks_sql},"
            f" cast(length({_nm}) as string))"
        ),
        "_g_s": f"substring({_nm}, greatest(1, length({_nm}) - 8), 9)",
    }
    shared2 = {
        "_g_tr0": "substring(_g_s, 1, 3)",
        "_g_tr1": "substring(_g_s, 4, 3)",
        "_g_tr2": "substring(_g_s, 7, 3)",
        "_g_cp0": "substring(_g_s, 4, 6)",
        "_g_cp1": "concat(substring(_g_s, 1, 3), substring(_g_s, 7, 3))",
        "_g_cp2": "substring(_g_s, 1, 6)",
    }
    lane_sqls = []
    for t in range(3):
        for j in range(3):
            key = (
                f"concat_ws(chr(31), _g_pre, '{t}', _g_tr{t}, '{j}',"
                f" substring(_g_cp{t}, {2 * j + 1}, 2))"
            )
            xs = "array(" + ",".join(
                f"substring(_g_cp{t}, {u}, 1)" for u in _UNPINNED[j]
            ) + ")"
            lane_sqls.append(f"named_struct('k', {key}, 'xs', {xs})")

    def _shared_select(frame: DataFrame, sqls: dict, extra: list) -> DataFrame:
        return frame.select(
            *extra,
            *[
                cached_column(
                    ("er2_shared", alias, *ckey),
                    lambda s=sql, a=alias: F.expr(s).alias(a),
                )
                for alias, sql in sqls.items()
            ],
        )

    base = _shared_select(
        names, shared1, [*block_cols, F.col(name_col).alias("_n")]
    )
    base = _shared_select(base, shared2, [*block_cols, "_n", "_g_pre"])
    arr = cached_column(
        ("er2_lane_arr", *ckey),
        lambda: F.expr(f"array({', '.join(lane_sqls)})"),
    )
    laned = base.select(
        *block_cols, "_n", F.explode(arr).alias("l")
    ).select(
        *block_cols, "_n", F.col("l.k").alias("k"), F.col("l.xs").alias("xs")
    )

    # sizes counts DISTINCT NAMES per lane (not records): duplication
    # never triggers the split, only genuine name-space density does.
    # r12: the count comes from a WINDOW over the lane frame (one
    # hash shuffle on k) instead of the former groupBy + sort-merge
    # join back — the join shuffled the laned frame a second time and
    # sorted both sides for nothing a partition-local count needs
    # (guide §2.4 "remove shuffles outright"; the same one-pass shape
    # _shifted_candidate_name_pairs already used for its index sizes).
    from pyspark.sql import Window

    sized = laned.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("k"))
    )
    # Oversized lane-blocks emit 4 sub-keys (one per unpinned char),
    # small ones the lane key itself — frequency-aware, recall-safe.
    subkeys = F.array(
        *[
            F.concat(F.col("k"), F.lit(_SEP + str(i)), F.element_at("xs", i + 1))
            for i in range(4)
        ]
    )
    keyed = sized.select(
        *block_cols,
        "_n",
        F.explode(
            F.when(F.col("n") > cap, subkeys).otherwise(F.array(F.col("k")))
        ).alias("fk"),
    )
    # Join-strategy note: static size estimates cannot see the ×9
    # explode fan-out (the scan side is small, the lane relations are
    # not), so Catalyst's initial plan broadcast the self-join below —
    # on an id-level formulation at sf10 that built a 13.5M-row
    # broadcast and OOM'd the driver; shuffled-hash then OOM'd the
    # per-partition build map (no spill fallback — the session-level
    # SHJ caveat, session.py). merge (sort-merge) is the only strategy
    # here that degrades by spilling instead of failing, which is what
    # a frequency-blind operator must pick: this is the inverse of the
    # repo's "no broadcast hints on scaled inputs" rule, not an
    # exception to it.
    #
    # Exchange-reuse contract (r12): the two self-join sides must be
    # CANONICALLY IDENTICAL so the sorted lane exchange is computed
    # once and fed to both sides of the merge join (the round-11 plan
    # computed the whole scan→distinct→lanes→sizes pipeline TWICE —
    # zero ReusedExchange nodes — because the b side pruned the block
    # columns and carried asymmetric inferred IsNotNull constraints).
    # Both sides therefore project the SAME columns in the SAME order,
    # and the join condition includes the block columns: redundant for
    # correctness — fk equality already implies block equality, the
    # lane key embeds the \x1f-joined block values as its prefix — but
    # it keeps the constraint inference symmetric. Verified in the
    # committed plan: one lane subtree + ReusedExchange.
    # Both sides alias EVERY column (a pass-through AttributeReference
    # on one side vs an Alias on the other breaks plan canonical
    # equality, hence reuse).
    a = keyed.select(
        *[F.col(c).alias(f"_ra_{c}") for c in block_cols],
        F.col("_n").alias("name_a"),
        F.col("fk").alias("_ra_fk"),
    )
    b = keyed.select(
        *[F.col(c).alias(f"_rb_{c}") for c in block_cols],
        F.col("_n").alias("name_b"),
        F.col("fk").alias("_rb_fk"),
    )
    cond = [F.col("_ra_fk") == F.col("_rb_fk")] + [
        F.col(f"_ra_{c}") == F.col(f"_rb_{c}") for c in block_cols
    ]
    return (
        a.hint("merge")
        .join(b, cond)
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            *[F.col(f"_ra_{c}").alias(c) for c in block_cols],
            "name_a",
            "name_b",
        )
        .distinct()
    )


class IdPairBudgetExceeded(RuntimeError):
    """The id-level match output would exceed the caller's budget.

    Raised by the pre-flight guard in ``pigeonhole_matches`` /
    ``edit_complete_matches`` BEFORE the output-bound expansion runs:
    on a duplicate-heavy identity corpus the record-level pair list
    grows with the SQUARE of replication (the sf100 replica corpus
    emits ~15B id pairs — a 720 s / disk-filling run), so the failure
    mode must be a clear bounded error, not a disk fill. The message
    routes the caller to ``edit_match_stats`` (the count-only
    governance form, flat at 1000×) or to an explicit
    ``max_id_pairs=None`` opt-out when the expansion is intended."""


def _preflight_id_pair_budget(
    recs: DataFrame,
    name_col: str,
    block_cols: list[str],
    max_id_pairs: int,
    op: str,
    n_rows: int | None = None,
) -> None:
    """Cheap LOWER BOUND on the id-level output: identical-(block,
    name) groups alone contribute sum C(cnt, 2) distance-0 pairs
    (the dq13 histogram-product estimator's shape — one groupBy over
    (block, name), fingerprint-width shuffle, no name comparison).
    Near-name expansion only adds to this, so bound-exceeded here is
    definitive.

    Zero-job gate (ADVICE r10): when the caller supplies ``n_rows``
    (parquet footer count — ``catalog.table_row_count``), corpora
    where even ALL-pairs C(n, 2) fits the budget skip the aggregate
    job entirely — the quadratic regime is arithmetically impossible
    there, so the plan build stays lazy (the hidden-eager-action
    discipline this guard originally violated). Past the floor, the
    one small aggregate job is the price of a bounded failure mode
    on the quadratic-blowup regime."""
    if n_rows is not None and n_rows * (n_rows - 1) // 2 <= max_id_pairs:
        return
    lb = (
        recs.groupBy(*block_cols, name_col)
        .count()
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")
        )
        .collect()[0]["p"]
    )
    lb = int(lb or 0)
    if lb > max_id_pairs:
        raise IdPairBudgetExceeded(
            f"{op}: duplicate-name groups alone imply >= {lb:,} id-level "
            f"match pairs (budget {max_id_pairs:,}). This corpus is in the "
            "duplicate-heavy regime where the record-level expansion grows "
            "quadratically with replication. Use edit_match_stats (count-"
            "only governance ER — flat at any replication) or pass "
            "max_id_pairs=None / a larger budget if you really want the "
            "expanded pair list."
        )


def _expand_to_ids(
    recs: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    name_pairs: DataFrame,
) -> DataFrame:
    """Output-bound expansion: name-level pairs back to record-level
    (id_a < id_b, name_a, name_b [, carried cols]) via two equi-joins
    on (block, name). Each output pair is produced exactly once — an
    unordered id pair determines its name pair — so no record-level
    distinct is needed."""
    carried = [c for c in name_pairs.columns if c not in
               (*block_cols, "name_a", "name_b")]
    # Parallelism guard for the fan-out: the name-pair set is orders
    # of magnitude smaller than its record-pair expansion, so AQE
    # (rightly, by shuffle bytes) coalesces the distinct's exchange to
    # ~1 partition — and when Catalyst then broadcasts the record
    # side, the ENTIRE fan-out is produced serially by that one task
    # (measured at sf10: 1 task, 7+ min, 31 cores idle). An explicit
    # round-robin spread of the TINY side costs nothing at any scale
    # and parallelizes the output-bound phase under any join strategy;
    # explicit repartition counts are exempt from AQE re-coalescing.
    name_pairs = name_pairs.repartition(
        shuffle_partitions(name_pairs.sparkSession)
    )
    ra = recs.select(
        *[F.col(b).alias(f"_ba_{b}") for b in block_cols],
        F.col(name_col).alias("_na"),
        F.col(id_col).alias("_ia"),
    )
    rb = recs.select(
        *[F.col(b).alias(f"_bb_{b}") for b in block_cols],
        F.col(name_col).alias("_nb"),
        F.col(id_col).alias("_ib"),
    )
    joined = (
        name_pairs.join(
            ra,
            [F.col(f"_ba_{b}") == F.col(b) for b in block_cols]
            + [F.col("_na") == F.col("name_a")],
        )
        .join(
            rb,
            [F.col(f"_bb_{b}") == F.col(b) for b in block_cols]
            + [F.col("_nb") == F.col("name_b")],
        )
    )
    fwd = F.col("_ia") < F.col("_ib")
    return joined.select(
        F.least("_ia", "_ib").alias("id_a"),
        F.greatest("_ia", "_ib").alias("id_b"),
        F.when(fwd, F.col("name_a")).otherwise(F.col("name_b")).alias("name_a"),
        F.when(fwd, F.col("name_b")).otherwise(F.col("name_a")).alias("name_b"),
        *carried,
    )


def _same_name_pairs(
    recs: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
) -> DataFrame:
    """All (id_a < id_b) pairs of records sharing (block, name) —
    exact duplicates need no blocking; the self-equi-join is
    output-bound."""
    a = recs.select(
        *block_cols,
        F.col(name_col).alias("name_a"),
        F.col(id_col).alias("id_a"),
    )
    b = recs.select(
        *[F.col(c).alias(f"_b_{c}") for c in (*block_cols, name_col, id_col)]
    )
    return (
        a.join(
            b,
            [F.col(f"_b_{c}") == F.col(c) for c in block_cols]
            + [F.col(f"_b_{name_col}") == F.col("name_a")],
        )
        .filter(F.col("id_a") < F.col(f"_b_{id_col}"))
        .select(
            "id_a",
            F.col(f"_b_{id_col}").alias("id_b"),
            "name_a",
            F.col("name_a").alias("name_b"),
        )
    )


def pigeonhole_candidate_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    cap: int = 32,
) -> DataFrame:
    """Candidate pairs (id_a, id_b, name_a, name_b) for edit-distance
    matching under positional pigeonhole blocking (module docstring).
    Deterministic; callers verify with a banded ``levenshtein``.
    Identical-name pairs (trivially distance 0) are always candidates."""
    recs = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_nm"), *block_cols
    )
    npairs = _candidate_name_pairs(recs, "_nm", block_cols, cap)
    expanded = _expand_to_ids(recs, "_id", "_nm", block_cols, npairs)
    same = _same_name_pairs(recs, "_id", "_nm", block_cols)
    return expanded.unionByName(same)


def _shifted_candidate_name_pairs(
    df: DataFrame,
    name_col: str,
    block_cols: list[str],
    cap: int,
) -> DataFrame:
    """Indel-complete candidate name pairs (PassJoin-style shifted
    probes): every in-block pair within levenshtein 2 — substitutions
    AND insert/deletes — collides on at least one key.

    Construction (all on DISTINCT (block, name) representatives):

    * INDEX lanes: the 9-char suffix splits into 3 triples; key
      (block, t, triple). No length in the key — lev≤2 pairs may
      differ in length by up to 2.
    * PROBE lanes: each name also probes every (t, triple-content)
      it would present to a partner whose suffix window is displaced:
      the triple CONTENT is re-extracted at absolute offset δ ∈
      [-2, +2]. If lev(a,b) ≤ 2 then (partition a's suffix) some
      triple of a is untouched and appears in b end-anchored within
      displacement ≤ 2 (net length change to its right ≤ #edits) —
      so index(a) meets probe(b); the lemma applies symmetrically, so
      ordering the pair by name loses nothing.
    * Frequency-aware split (cap): an oversized level-1 lane
      re-pigeonholes the 6-char complement into parts — 3 bigrams for
      the contiguous complements (t=0,2); for t=1 the complement
      spans a seam, so its parts are bigram+single per region (4
      parts, seam never crossed — a seam-spanning part could be
      displaced DIFFERENTLY on each side). ≤2 edits leave ≥1 of 3
      (or ≥2 of 4) parts untouched, and the untouched part appears
      within ±2 of its canonical absolute position — probed
      accordingly. Recall survives the split exactly as in the
      aligned scheme.
    * SHORT lane: the suffix/probe arithmetic is clamp-free only for
      len ≥ 13, so every name with len ≤ 14 also shares one
      (block, short) lane — a pair outside the long path's guarantee
      has min len ≤ 12, hence both sides ≤ 14, hence collides there.

    Cost shape: 3 index + ~31 probe key rows per DISTINCT name at
    level 1 (probe keys enumerate candidate partner lengths × their
    displacement windows — on a fixed-length corpus all but ~7 die
    in the size join, which drops any probe key no index entry
    uses), one size aggregate and one equi-join per split level.
    The shift multiplier is the price of indel completeness — this
    is why er2 (substitution-exact, no shifts) remains the default
    and er3 the completeness lane; the measured budget numbers and
    their dense-serial ceiling are in the window comment below."""
    names = df.select(*block_cols, name_col).distinct()
    # Spread the ~37-lane-per-name explosion (r12): AQE coalesces the
    # distinct's bytes-tiny output — to ONE partition on the local
    # single-row-group extract — and the per-name probe-lane
    # construction (dozens of substring/concat_ws exprs) then ran
    # serially (measured 2.4 s single-task at sf0.1). The explicit
    # round-robin spread costs ≤1/37 of the adjacent lane shuffle at
    # any scale (the _expand_to_ids precedent).
    names = names.repartition(shuffle_partitions(df.sparkSession))
    name = F.col(name_col)
    ln = F.length(name)
    sstart = F.greatest(F.lit(1), ln - 8)  # suffix abs start (1-based)

    # complement parts per t: (s-coord start, width); seam-free by
    # construction (t=1 splits per region)
    parts_of = {
        0: [(4, 2), (6, 2), (8, 2)],
        1: [(1, 2), (3, 1), (7, 2), (9, 1)],
        2: [(1, 2), (3, 2), (5, 2)],
    }
    # SQL-text twins of the lane expressions: the level-1 lane arrays
    # (3 index + ~31 probe structs, each a concat_ws over block cols +
    # substrings) built Column-by-Column cost ~1.5 s of py4j BUILD
    # chatter per invocation; one generated SQL string parses JVM-side
    # into the identical tree (same fix as the split2/split3 variant
    # arrays below — SCALE.md "er3 build cost"). r13: the parsed tree
    # is additionally memoized per (name_col, block_cols) —
    # exprcache.cached_column — so repeat invocations skip the JVM
    # parse entirely (guide §5: driver-side plan build).
    _nm = f"`{name_col}`"
    _blocks_sql = ", ".join(f"cast(`{b}` as string)" for b in block_cols)
    _ln_sql = f"length({_nm})"
    _sstart_sql = f"greatest(1, {_ln_sql} - 8)"

    # Shared lane-key sub-expressions (r13, guide §1.2 per-task work):
    # the 37 lane keys re-derived the SAME pieces per key — the block
    # casts and partner-length string 37×, each 3-char content window
    # up to 4× (profiled: the lv1 explode stage summed 18.1 s of task
    # CPU at sf0.1, the pipeline's CPU center). Computing the 5
    # partner-length prefixes (one per Δ), the 9 reachable content
    # triples (one per absolute offset), and the short-lane key ONCE
    # per row in a projection BELOW the explode leaves each lane key
    # a 3-piece concat_ws of precomputed columns. CollapseProject
    # cannot re-inline them (non-cheap aliases referenced more than
    # once), so the sharing survives optimization — verified in the
    # committed plan (plans/r13). Key bytes are unchanged:
    # concat_ws(s, concat_ws(s, blocks..., L), t, c) ==
    # concat_ws(s, blocks..., L, t, c) for the non-null fields these
    # keys are built from (the all-NULL-block corner would map to a
    # "" prefix rather than a skipped field — a per-row-consistent
    # key remap that cannot lose a collision, and every candidate is
    # levenshtein-verified downstream regardless).
    def _cname(off: int) -> str:
        return f"_g_c{off}" if off >= 0 else f"_g_cm{-off}"

    # 'r' is the lane ROLE (0 = index, 1 = probe): r12 unified the
    # formerly separate index and probe lane frames into ONE exploded
    # frame so each level needs one shuffle (a window keyed on the
    # lane key) instead of a window on the index side plus a sizes
    # distinct plus a sort-merge join back onto the probe side — the
    # round-11 plan paid that join machinery twice (level 1 and 2) and
    # materialized four caches where two suffice (guide §2.4).
    def _lane_sql(k1: str, t: int, dl: int, r: int) -> str:
        return f"named_struct('k1', {k1}, 't', {t}, 'dl', {dl}, 'r', {r})"

    def _lane_key_sql(delta: int, t: int, off: int) -> str:
        return f"concat_ws(chr(31), _g_p{delta + 2}, '{t}', {_cname(off)})"

    # short lane: emitted in BOTH roles, one key per block (never split)
    _short_sql = (
        f"case when {_ln_sql} <= 14 then "
        f"array({_lane_sql('_g_ks', -1, 0, 0)}, "
        f"{_lane_sql('_g_ks', -1, 0, 1)}) end"
    )

    def laned(lane_sqls: list[str], content_offs: list[int]) -> DataFrame:
        shared_sqls = {
            f"_g_p{dlt + 2}": (
                f"concat_ws(chr(31), {_blocks_sql},"
                f" cast(({_ln_sql} - {dlt}) as string))"
            )
            for dlt in range(-2, 3)
        }
        for off in content_offs:
            shared_sqls[_cname(off)] = (
                f"substring({_nm}, greatest(1, {_sstart_sql} + {off - 1}), 3)"
            )
        shared_sqls["_g_ks"] = f"concat_ws(chr(31), {_blocks_sql}, 'S')"
        ckey = (name_col, tuple(block_cols))
        shared = names.select(
            *block_cols,
            name_col,
            *[
                cached_column(
                    ("er3_shared", alias, *ckey),
                    lambda s=sql, a=alias: F.expr(s).alias(a),
                )
                for alias, sql in shared_sqls.items()
            ],
        )
        # distinct: shifted probes often re-extract identical content
        # (e.g. inside digit runs) — identical keys add join rows, not
        # recall. Roles are part of the struct, so an index entry is
        # never folded into an identical-content probe entry.
        arr = cached_column(
            ("er3_lane_arr", *ckey),
            lambda: F.expr(
                f"array_distinct(concat(array({', '.join(lane_sqls)}), "
                f"coalesce({_short_sql}, array())))"
            ),
        )
        return shared.select(
            *block_cols, name_col, F.explode(arr).alias("l")
        ).select(
            *block_cols,
            name_col,
            F.col("l.k1").alias("k1"),
            F.col("l.t").alias("t"),
            F.col("l.dl").alias("dl"),
            F.col("l.r").alias("r"),
        )

    # Multi-match-aware probe windows (the PassJoin selection): every
    # key embeds the INDEX string's length, and a probe of b claims a
    # partner length M, fixing Δ = len(b) − M. An untouched region's
    # end-anchored displacement ρ is the net length change to its
    # right, the rest of the Δ budget (Δ − ρ) is spent to its left,
    # and each unit of either costs one edit: |ρ| + |Δ − ρ| ≤ 2. So
    # the probe window is 3 displacements at Δ=0, 2 at |Δ|=1, 3 at
    # |Δ|=2 — not a blanket ±2 — and a region ending at the string
    # end has ρ = 0 EXACTLY for every Δ (nothing to its right can
    # move end-anchored content). Two effects: cross-length keys
    # never meet an index entry unless that length exists (the sizes
    # join prunes them), and on a fixed-length corpus the interior
    # windows shrink 5 → 3. Measured on the dense-serial sf0.1
    # corpus, windows + the recursive split cut candidates 60.1 →
    # 40.8/name — only ~1.5× under the in-block quadratic (60),
    # because dense digit strings cap the selectivity any
    # shift-tolerant positional key can reach (a probe window of 3
    # on a 10-ary alphabet discriminates at best ~3.3× per pinned
    # char). That is the honest price of indel completeness here;
    # er2's aligned keys (6.0 → 12.7/name) remain the scale lane,
    # and the two-phase collapse keeps er3's cost constant across
    # replicated corpora regardless (see the registry docstring).
    RHO = {-2: (-2, -1, 0), -1: (-1, 0), 0: (-1, 0, 1),
           1: (0, 1), 2: (0, 1, 2)}

    def rhos_for(delta: int, end_coord: int):
        return (0,) if end_coord == 9 else RHO[delta]

    # index content = the triple at absolute offset 3t+1 (substring of
    # the suffix window == the same direct substring of the name, the
    # suffix never extends past position 9); probe content = the same
    # window re-extracted at offset 3t+1−ρ — so all 37 keys read from
    # the 9 shared content columns and the 5 shared Δ-prefixes.
    idx_lanes = [
        _lane_sql(_lane_key_sql(0, t, 3 * t + 1), t, 0, 0) for t in range(3)
    ]
    prb_lanes = [
        _lane_sql(_lane_key_sql(delta, t, 3 * t + 1 - rho), t, delta, 1)
        for t in range(3)
        for delta in range(-2, 3)
        for rho in rhos_for(delta, 3 * t + 3)
    ]
    content_offs = sorted(
        {3 * t + 1 for t in range(3)}
        | {
            3 * t + 1 - rho
            for t in range(3)
            for delta in range(-2, 3)
            for rho in rhos_for(delta, 3 * t + 3)
        }
    )
    # The split legs (small/over at two levels) each re-reference the
    # laned and level-2 frames; without a persist the whole
    # lane-construction subtree replays per leg (~6×) — measured 3×
    # wall-clock on the name phase. The frames are DISTINCT-NAME
    # sized (15k names × ~34 short rows here), so MEMORY_AND_DISK is
    # cheap; the result's first action populates them and the
    # caller's lifecycle scope frees them.
    from pyspark.sql import Window

    # ONE lane frame, ONE shuffle per level (r12): index and probe
    # lanes ride the same exploded frame (role column r), and the
    # INDEX lane size every split decision reads comes from a window
    # over the lane key counting index rows only. The inner
    # sizes-join's probe pruning (drop probe keys no index entry
    # uses) becomes the n >= 1 filter. Round 11 shipped a window on
    # the index frame PLUS a sizes distinct PLUS a sort-merge join
    # onto the probe frame, per level — two extra shuffles and two
    # sorts of lane-sized frames each time, and four caches where two
    # suffice. Window groups now buffer index+probe rows per hot key
    # (~×13 of the index-only window); both the old SMJ and
    # WindowExec buffer via the same spillable row-array, so the
    # degradation mode is unchanged.
    all1 = lifecycle.persist(
        laned(idx_lanes + prb_lanes, content_offs)
        .withColumn(
            "n",
            F.count(F.when(F.col("r") == 0, F.lit(1))).over(
                Window.partitionBy("k1")
            ),
        )
        .filter((F.col("r") == 0) | (F.col("n") >= 1))
    )

    # Single-char complement coords per (t, part) for the level-3
    # split: everything in t's complement the part didn't pin.
    comp_coords = {0: [4, 5, 6, 7, 8, 9], 1: [1, 2, 3, 7, 8, 9],
                   2: [1, 2, 3, 4, 5, 6]}

    def rest_coords(t: int, pi: int) -> list[int]:
        a, w = parts_of[t][pi]
        pinned = set(range(a, a + w))
        return [c for c in comp_coords[t] if c not in pinned]

    def split2(side: DataFrame):
        """Below-cap (or short) lanes keep k1 as the join key;
        oversized lanes emit level-2 keys (k1 + part id + part
        content, probed at the part's displacement window). The
        small/over decision reads the INDEX lane size carried on the
        cached frame, so it is consistent across a colliding pair.
        Role-aware single pass (r12): one variants array covers both
        roles — index rows (r=0, dl=0) match only their vrl=0, vd=0
        entries; probe rows their (vrl=1, vd=dl) window."""
        j = side
        small = j.filter((F.col("n") <= cap) | (F.col("t") < 0)).select(
            *block_cols, name_col, "r", F.col("k1").alias("fk")
        )
        # The (role, t, part, Δ, ρ) enumeration is DATA (a literal
        # array filtered per row), not a chain of hundreds of when()
        # branches: the when-chain form generated ~1.6 MB codegen
        # classes whose compilation dominated the whole name phase
        # (measured: a fixed ~20 s across every corpus size).
        variants = []
        for t in range(3):
            for pi, (a, w) in enumerate(parts_of[t]):
                variants.append((0, t, pi, a, w, 0, 0))
                for delta in range(-2, 3):
                    for rho in rhos_for(delta, a + w - 1):
                        variants.append((1, t, pi, a, w, delta, rho))
        # one F.expr per literal: building hundreds of literal structs
        # through individual Column calls costs ~100 py4j round-trips
        # per struct — measured 8-12 s of pure DataFrame BUILD time
        # per er3 invocation; a single SQL text parses JVM-side into
        # the identical tree (SCALE.md "er3 build cost").
        # The literal is a MAP keyed by the row's (role, t, Δ) rather
        # than one flat array FILTERED per row (r12): ArrayFilter over
        # ~100 structs × a 3-field predicate is interpreted
        # (higher-order functions are CodegenFallback) and ran on
        # EVERY over-cap lane row; GetMapValue scans ~18 int keys and
        # hands the transform only the rows that match. Same
        # enumeration, same emitted keys.
        from collections import defaultdict

        groups: dict[int, list] = defaultdict(list)
        for (rl, t, pi, a, w, d, r) in variants:
            groups[rl * 100 + t * 10 + (d + 2)].append((pi, a, w, r))
        # the variant table is static — memoize the parsed literal so
        # repeat invocations skip the JVM parse of the ~100-struct map
        # (r13, guide §5 driver-side plan build)
        lit = cached_column(
            ("er3_split2_map",),
            lambda: F.expr(
                "map(" + ",".join(
                    f"{key}, array(" + ",".join(
                        f"named_struct('vpi',{pi},'va',{a},'vw',{w},'vr',{r})"
                        for (pi, a, w, r) in vs
                    ) + ")"
                    for key, vs in groups.items()
                ) + ")"
            ),
        )
        row_key = (
            F.col("r") * 100 + F.col("t") * 10 + (F.col("dl") + 2)
        ).cast("int")
        mk = lambda x: F.struct(  # noqa: E731
            F.concat(
                F.col("k1"), F.lit(_SEP), x["vpi"].cast("string"), F.lit(_SEP),
                name.substr(
                    F.greatest(F.lit(1), sstart + x["va"] - x["vr"] - 1), x["vw"]
                ),
            ).alias("k2"),
            x["vpi"].alias("pi"),
        )
        arr = F.array_distinct(F.transform(F.element_at(lit, row_key), mk))
        lv2 = (
            j.filter((F.col("n") > cap) & (F.col("t") >= 0))
            .select(
                *block_cols, name_col, "r", "t", "dl",
                F.explode(arr).alias("l2"),
            )
            .select(
                *block_cols, name_col, "r", "t", "dl",
                F.col("l2.k2").alias("k2"), F.col("l2.pi").alias("pi"),
            )
        )
        return small, lv2

    s1, lv2 = split2(all1)
    all2 = lifecycle.persist(
        lv2.withColumn(
            "n2",
            F.count(F.when(F.col("r") == 0, F.lit(1))).over(
                Window.partitionBy("k2")
            ),
        )
        .filter((F.col("r") == 0) | (F.col("n2") >= 1))
    )

    def split3(lv2: DataFrame):
        """Level-3: a level-2 lane still over cap (low-entropy part
        content — e.g. the constant high-order digits of dense serial
        ids) re-pigeonholes each UNPINNED complement char: the index
        pins each at its exact position, the probe at the char's
        displacement window. ≤2 edits leave ≥2 of the ≥4 rest chars
        untouched, so the collision guarantee survives this split
        too. No level 4: leaf keys are emitted regardless, keeping
        recall; three pinned regions bound leaf lanes on every corpus
        measured. Role-aware single pass (r12), like split2."""
        j = lv2
        small = j.filter(F.col("n2") <= cap).select(
            *block_cols, name_col, "r", F.col("k2").alias("fk")
        )
        # same literal-array-of-variants trick as split2 (the
        # when-chain here was ~500 branches — the worst codegen
        # offender)
        variants = []
        for t in range(3):
            for pi in range(len(parts_of[t])):
                for c in rest_coords(t, pi):
                    variants.append((0, t, pi, c, 0, 0))
                    for delta in range(-2, 3):
                        for rho in rhos_for(delta, c):
                            variants.append((1, t, pi, c, delta, rho))
        # single-F.expr literal — same py4j-chatter fix and same
        # map-instead-of-filtered-array shape as split2 (this array
        # was ~500 structs × a 4-field interpreted predicate per
        # over-cap lv2 row — the worst HOF offender)
        from collections import defaultdict

        groups: dict[int, list] = defaultdict(list)
        for (rl, t, pi, c, d, r) in variants:
            groups[rl * 1000 + t * 100 + pi * 10 + (d + 2)].append((c, r))
        # static variant table — memoized parse, like split2's (r13;
        # this map was the worst offender at ~500 structs)
        lit = cached_column(
            ("er3_split3_map",),
            lambda: F.expr(
                "map(" + ",".join(
                    f"{key}, array(" + ",".join(
                        f"named_struct('vc',{c},'vr',{r})" for (c, r) in vs
                    ) + ")"
                    for key, vs in groups.items()
                ) + ")"
            ),
        )
        row_key = (
            F.col("r") * 1000 + F.col("t") * 100 + F.col("pi") * 10
            + (F.col("dl") + 2)
        ).cast("int")
        mk = lambda x: F.concat(  # noqa: E731
            F.col("k2"), F.lit(_SEP), x["vc"].cast("string"), F.lit(_SEP),
            name.substr(
                F.greatest(F.lit(1), sstart + x["vc"] - x["vr"] - 1), F.lit(1)
            ),
        )
        arr = F.array_distinct(F.transform(F.element_at(lit, row_key), mk))
        deep = j.filter(F.col("n2") > cap).select(
            *block_cols, name_col, "r", F.explode(arr).alias("fk")
        )
        return small, deep

    s2, lv3 = split3(all2)

    legs = s1.unionByName(s2).unionByName(lv3)
    a = legs.filter(F.col("r") == 0).select(
        *block_cols, F.col(name_col).alias("name_a"), "fk"
    )
    b = legs.filter(F.col("r") == 1).select(
        F.col(name_col).alias("name_b"), "fk"
    )
    return (
        a.hint("merge")
        .join(b, ["fk"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select(*block_cols, "name_a", "name_b")
        .distinct()
    )


def pigeonhole_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    cap: int = 32,
    max_dist: int = 2,
    max_id_pairs: int | None = 1_000_000_000,
    n_rows: int | None = None,
) -> DataFrame:
    """Verified matches (id_a, id_b, name_a, name_b, dist) with
    levenshtein ≤ ``max_dist``, verified at NAME level before the
    output-bound expansion — on a duplicate-heavy corpus the banded
    levenshtein runs once per distinct name pair, not once per record
    pair, and identical-name pairs skip it entirely (dist 0).

    ``max_id_pairs`` (default 1e9) is the duplicate-regime guard: a
    pre-flight lower bound on the id-level output raises
    ``IdPairBudgetExceeded`` instead of starting a quadratic,
    disk-filling expansion (None disables). Pass ``n_rows`` (parquet
    footer count) to skip the pre-flight's aggregate job when
    C(n_rows, 2) already fits the budget — keeps the plan build
    zero-job on corpora where the quadratic regime is impossible."""
    recs = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_nm"), *block_cols
    )
    if max_id_pairs is not None:
        _preflight_id_pair_budget(
            recs, "_nm", block_cols, max_id_pairs, "pigeonhole_matches",
            n_rows=n_rows,
        )
    verified = _candidate_name_pairs(recs, "_nm", block_cols, cap).withColumn(
        "dist", F.levenshtein("name_a", "name_b", max_dist)
    ).filter(F.col("dist").between(0, max_dist))
    expanded = _expand_to_ids(recs, "_id", "_nm", block_cols, verified)
    same = _same_name_pairs(recs, "_id", "_nm", block_cols).withColumn(
        "dist", F.lit(0)
    )
    return expanded.unionByName(same)


def edit_complete_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    cap: int = 32,
    max_dist: int = 2,
    max_id_pairs: int | None = 1_000_000_000,
    n_rows: int | None = None,
) -> DataFrame:
    """Like ``pigeonhole_matches`` but INDEL-COMPLETE: candidates come
    from ``_shifted_candidate_name_pairs`` (PassJoin-style shifted
    probes), so every in-block pair within levenshtein ``max_dist``
    — substitutions AND insert/deletes — is found. The two-phase
    collapse/expand architecture is unchanged: all shifted-probe work
    runs once per DISTINCT (block, name); the ×5-per-level shift
    multiplier is the documented price of completeness over
    ``pigeonhole_matches``. Only max_dist=2 is supported (the lane
    geometry — 3 segments, ±2 shifts — encodes the budget).

    ``max_id_pairs`` (default 1e9): same duplicate-regime pre-flight
    guard as ``pigeonhole_matches`` — raises ``IdPairBudgetExceeded``
    instead of a quadratic disk-filling expansion (None disables);
    same ``n_rows`` zero-job gate (footer count with C(n, 2) within
    budget skips the pre-flight aggregate)."""
    if max_dist != 2:
        raise ValueError("edit_complete_matches encodes max_dist=2 lanes")
    recs = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_nm"), *block_cols
    )
    if max_id_pairs is not None:
        _preflight_id_pair_budget(
            recs, "_nm", block_cols, max_id_pairs, "edit_complete_matches",
            n_rows=n_rows,
        )
    cand = _shifted_candidate_name_pairs(recs, "_nm", block_cols, cap)
    verified = cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b", max_dist)
    ).filter(F.col("dist").between(0, max_dist))
    expanded = _expand_to_ids(recs, "_id", "_nm", block_cols, verified)
    same = _same_name_pairs(recs, "_id", "_nm", block_cols).withColumn(
        "dist", F.lit(0)
    )
    return expanded.unionByName(same)


def edit_match_stats(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    cap: int = 32,
    max_dist: int = 2,
) -> DataFrame:
    """Per-block MATCH COUNTS (by edit distance, plus a total) without
    materializing a single id-level pair — the governance-report form
    of entity resolution a 100-TB pipeline actually runs, where the
    full pair list can be orders of magnitude larger than the corpus
    (39B pairs on the replicated sf100 corpus, SCALE.md "er2 at sf10").

    Counting instead of expanding: with the indel-complete candidate
    set (``_shifted_candidate_name_pairs``) verified at the DISTINCT
    (block, name) level, the number of record pairs a verified name
    pair (a, b) contributes is cnt(a) x cnt(b), and each duplicated
    name contributes C(cnt, 2) distance-0 pairs. Both are equi-joins
    against the distinct-name count table — the record-level fan-out
    (the one phase whose output grows with the SQUARE of replication)
    never happens. Output is one row per block that has at least one
    match: (block..., pairs_d0..pairs_d{max_dist}, pairs_total).

    Exactness: candidates are indel-COMPLETE for lev <= 2 (the er3
    lane geometry), so these counts equal the unlimited quadratic
    join's aggregate — the registered oracle compares against exactly
    that definition. Only max_dist=2 is supported (inherited from the
    lane geometry)."""
    if max_dist != 2:
        raise ValueError("edit_match_stats encodes max_dist=2 lanes")
    recs = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_nm"), *block_cols
    )
    name_counts = recs.groupBy(*block_cols, "_nm").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    cand = _shifted_candidate_name_pairs(recs, "_nm", block_cols, cap)
    # name_a < name_b => distinct names => dist >= 1
    verified = cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b", max_dist)
    ).filter(F.col("dist").between(1, max_dist))
    ca = name_counts.select(
        *[F.col(b).alias(f"_ba_{b}") for b in block_cols],
        F.col("_nm").alias("_na"),
        F.col("_cnt").alias("_cnt_a"),
    )
    cb = name_counts.select(
        *[F.col(b).alias(f"_bb_{b}") for b in block_cols],
        F.col("_nm").alias("_nb"),
        F.col("_cnt").alias("_cnt_b"),
    )
    cross = (
        verified.join(
            ca,
            [F.col(f"_ba_{b}") == F.col(b) for b in block_cols]
            + [F.col("_na") == F.col("name_a")],
        )
        .join(
            cb,
            [F.col(f"_bb_{b}") == F.col(b) for b in block_cols]
            + [F.col("_nb") == F.col("name_b")],
        )
        .select(
            *block_cols,
            "dist",
            (F.col("_cnt_a") * F.col("_cnt_b")).alias("pairs"),
        )
    )
    same = name_counts.filter(F.col("_cnt") > 1).select(
        *block_cols,
        F.lit(0).alias("dist"),
        (F.col("_cnt") * (F.col("_cnt") - 1) / 2).cast("long").alias("pairs"),
    )
    return (
        cross.unionByName(same)
        .groupBy(*block_cols)
        .agg(
            *[
                F.sum(F.when(F.col("dist") == d, F.col("pairs")).otherwise(0))
                .cast("long")
                .alias(f"pairs_d{d}")
                for d in range(max_dist + 1)
            ],
            F.sum("pairs").cast("long").alias("pairs_total"),
        )
    )
