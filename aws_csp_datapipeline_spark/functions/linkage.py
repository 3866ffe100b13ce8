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
from aws_csp_datapipeline_spark.parallelism import shuffle_partitions

# Lane keys join their fields with the unit separator chr(31), which
# cannot appear in the key fields it joins (documented caller
# contract — names containing \x1f would need a different sep).

# Unpinned complement positions per bigram index j (1-based): B_j pins
# comp[2j+1 .. 2j+2], the other four single chars re-pigeonhole
# oversized blocks.
_UNPINNED = {0: (3, 4, 5, 6), 1: (1, 2, 5, 6), 2: (1, 2, 3, 4)}


def _q(col: str) -> str:
    return f"`{col}`"


def _cols(cols, alias: str = "") -> str:
    """``a, b``, each renamed ``AS <alias><col>`` when ``alias`` is set."""
    return ", ".join(_q(c) + (f" AS {_q(alias + c)}" if alias else "") for c in cols)


def _spread_names_sql(frame: str, name_col: str, block_cols: list[str], spread: int) -> str:
    """The DISTINCT (block, name) representatives of ``frame``, spread
    round-robin over ``spread`` partitions. The distinct's output is
    bytes-tiny relative to the lane explosion above it, so AQE (rightly,
    by bytes) coalesces it — on the single-row-group local extract to
    ONE partition, serializing the per-name lane construction (measured
    1.4 s single-task for er2 and 2.4 s for er3 at sf0.1). The explicit
    spread costs ≤1/9 of the adjacent lane shuffle at any scale (the
    lanes explode ×9 for er2, ×37 for er3), and explicit repartitions
    are exempt from AQE re-coalescing (r12)."""
    return (
        f"(SELECT /*+ REPARTITION({spread}) */ * FROM"
        f" (SELECT DISTINCT {_cols(block_cols)}, {_q(name_col)} FROM {frame}))"
    )


def _candidate_name_pairs_sql(
    recs: str, name_col: str, block_cols: list[str], cap: int, spread: int
) -> str:
    """SQL text (a parenthesized subquery) of the distinct candidate
    name pairs (block_cols..., name_a, name_b), name_a < name_b, from
    pigeonhole lanes over the DISTINCT (block, name) representatives of
    ``recs`` (module docstring)."""
    nm, blocks = _q(name_col), _cols(block_cols)
    blocks_str = ", ".join(f"cast({_q(b)} as string)" for b in block_cols)
    # Shared lane-key sub-expressions (r13, guide §1.2): two stacked
    # projections below the explode compute the prefix + suffix once,
    # then the 3 triples + 3 complements from the suffix; each lane key
    # is a 6-piece concat_ws of precomputed columns and each xs entry a
    # 1-char substring of a precomputed complement. CollapseProject
    # cannot re-inline them (non-cheap aliases referenced more than
    # once). Key bytes equal the flat concat_ws of every field for
    # non-null fields (the all-NULL-block corner is a consistent key
    # remap; candidates are levenshtein-verified downstream regardless).
    lanes = []
    for t in range(3):
        for j in range(3):
            key = (
                f"concat_ws(chr(31), _g_pre, '{t}', _g_tr{t}, '{j}',"
                f" substring(_g_cp{t}, {2 * j + 1}, 2))"
            )
            xs = ", ".join(f"substring(_g_cp{t}, {u}, 1)" for u in _UNPINNED[j])
            lanes.append(f"named_struct('k', {key}, 'xs', array({xs}))")
    # Oversized lane-blocks emit 4 sub-keys (one per unpinned char),
    # small ones the lane key itself — frequency-aware, recall-safe.
    subkeys = ", ".join(
        f"concat(k, chr(31), '{i}', element_at(xs, {i + 1}))" for i in range(4)
    )
    # The lane size counts DISTINCT NAMES per lane (not records), so
    # duplication never triggers the split, only name-space density;
    # it comes from a WINDOW over the lane frame (one hash shuffle on
    # k), not a groupBy + join back that shuffled the lanes twice
    # (r12, guide §2.4).
    #
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
    # Exchange-reuse contract (r12): the two self-join sides are
    # CANONICALLY IDENTICAL (same columns, same order, every column
    # aliased) so the sorted lane exchange is computed once and feeds
    # both sides of the merge join; the block-column equalities are
    # redundant (the lane key embeds the block values) but keep the
    # inferred constraints symmetric.
    def side(s: str) -> str:
        return (
            f"(SELECT {_cols(block_cols, alias=f'_r{s}_')}, _n AS name_{s},"
            f" fk AS _r{s}_fk FROM {keyed}) {s}"
        )

    on = " AND ".join(
        ["a._ra_fk = b._rb_fk"]
        + [f"a.{_q('_ra_' + c)} = b.{_q('_rb_' + c)}" for c in block_cols]
    )
    picked = ", ".join(f"a.{_q('_ra_' + c)} AS {_q(c)}" for c in block_cols)
    keyed = f"""(
      SELECT {blocks}, _n,
             explode(CASE WHEN n > {cap} THEN array({subkeys}) ELSE array(k) END) AS fk
      FROM (
        SELECT *, count(1) OVER (PARTITION BY k) AS n
        FROM (
          SELECT {blocks}, _n, l.k AS k, l.xs AS xs
          FROM (
            SELECT {blocks}, _n, explode(array({', '.join(lanes)})) AS l
            FROM (
              SELECT {blocks}, _n, _g_pre,
                     substring(_g_s, 1, 3) AS _g_tr0,
                     substring(_g_s, 4, 3) AS _g_tr1,
                     substring(_g_s, 7, 3) AS _g_tr2,
                     substring(_g_s, 4, 6) AS _g_cp0,
                     concat(substring(_g_s, 1, 3), substring(_g_s, 7, 3)) AS _g_cp1,
                     substring(_g_s, 1, 6) AS _g_cp2
              FROM (
                SELECT {blocks}, {nm} AS _n,
                       concat_ws(chr(31), {blocks_str}, cast(length({nm}) as string)) AS _g_pre,
                       substring({nm}, greatest(1, length({nm}) - 8), 9) AS _g_s
                FROM {_spread_names_sql(recs, name_col, block_cols, spread)}
              )
            )
          )
        )
      )
    )"""
    return f"""(
      SELECT /*+ MERGE(a) */ DISTINCT {picked}, name_a, name_b
      FROM {side('a')} JOIN {side('b')} ON {on}
      WHERE name_a < name_b
    )"""


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


def _expand_sql(
    pairs: str,
    recs: str,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    carried: list[str],
    spread: int,
    pair_ids: tuple[str, str],
) -> str:
    """Output-bound expansion as SQL text: name-level ``pairs``
    (block_cols..., name_a, name_b, carried...) back to record-level
    (id_a < id_b named ``pair_ids``, name_a, name_b, carried...) via
    two equi-joins on (block, name) against ``recs``. Each output pair
    is produced exactly once — an unordered id pair determines its name
    pair — so no record-level distinct is needed."""
    # Parallelism guard for the fan-out: the name-pair set is orders
    # of magnitude smaller than its record-pair expansion, so AQE
    # (rightly, by shuffle bytes) coalesces the distinct's exchange to
    # ~1 partition — and when Catalyst then broadcasts the record
    # side, the ENTIRE fan-out is produced serially by that one task
    # (measured at sf10: 1 task, 7+ min, 31 cores idle). An explicit
    # round-robin spread of the TINY side costs nothing at any scale
    # and parallelizes the output-bound phase under any join strategy;
    # explicit repartition counts are exempt from AQE re-coalescing.
    def side(s: str) -> str:
        return (
            f"(SELECT {_cols(block_cols, alias=f'_b{s}_')}, {_q(name_col)} AS _n{s},"
            f" {_q(id_col)} AS _i{s} FROM {recs}) r{s}"
        )

    def on(s: str) -> str:
        return " AND ".join(
            [f"r{s}.{_q(f'_b{s}_{b}')} = p.{_q(b)}" for b in block_cols]
            + [f"r{s}._n{s} = p.name_{s}"]
        )

    extra = "".join(f", p.{_q(c)}" for c in carried)
    return f"""
    SELECT least(_ia, _ib) AS {_q(pair_ids[0])}, greatest(_ia, _ib) AS {_q(pair_ids[1])},
           CASE WHEN _ia < _ib THEN p.name_a ELSE p.name_b END AS name_a,
           CASE WHEN _ia < _ib THEN p.name_b ELSE p.name_a END AS name_b{extra}
    FROM (SELECT /*+ REPARTITION({spread}) */ * FROM {pairs}) p
    JOIN {side('a')} ON {on('a')}
    JOIN {side('b')} ON {on('b')}"""


def _same_name_sql(
    recs: str,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    dist: bool,
    pair_ids: tuple[str, str],
) -> str:
    """All (id_a < id_b) pairs of records sharing (block, name), as SQL
    text over ``recs`` with the id columns named ``pair_ids`` (and
    ``dist`` 0 when asked) — exact duplicates need no blocking; the
    self-equi-join is output-bound."""
    b_id = _q(f"_b_{id_col}")
    on = " AND ".join(
        [f"b.{_q('_b_' + c)} = a.{_q(c)}" for c in block_cols]
        + [f"b.{_q('_b_' + name_col)} = a.name_a"]
    )
    return f"""
    SELECT a.id_a AS {_q(pair_ids[0])}, b.{b_id} AS {_q(pair_ids[1])}, a.name_a,
           a.name_a AS name_b{', 0 AS dist' if dist else ''}
    FROM (SELECT {_cols(block_cols)}, {_q(name_col)} AS name_a, {_q(id_col)} AS id_a
          FROM {recs}) a
    JOIN (SELECT {_cols((*block_cols, name_col, id_col), alias='_b_')} FROM {recs}) b
      ON {on}
    WHERE a.id_a < b.{b_id}"""


def _records(df: DataFrame, id_col: str, name_col: str, block_cols: list[str]) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_nm"), *block_cols
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
    spark = df.sparkSession
    spread = shuffle_partitions(spark)
    return lifecycle.sql(
        spark,
        _expand_sql(
            _candidate_name_pairs_sql("{recs}", "_nm", block_cols, cap, spread),
            "{recs}", "_id", "_nm", block_cols, [], spread, ("id_a", "id_b"),
        )
        + " UNION ALL "
        + _same_name_sql("{recs}", "_id", "_nm", block_cols, False, ("id_a", "id_b")),
        recs=_records(df, id_col, name_col, block_cols),
    )


# Complement parts per index triple t for er3's level-2 split: (suffix
# coordinate start, width); seam-free by construction (t=1 splits per
# region).
_PARTS = {
    0: [(4, 2), (6, 2), (8, 2)],
    1: [(1, 2), (3, 1), (7, 2), (9, 1)],
    2: [(1, 2), (3, 2), (5, 2)],
}
# Single-char complement coords per t for the level-3 split.
_COMP_COORDS = {0: [4, 5, 6, 7, 8, 9], 1: [1, 2, 3, 7, 8, 9], 2: [1, 2, 3, 4, 5, 6]}
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
# window prunes them), and on a fixed-length corpus the interior
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
_RHO = {-2: (-2, -1, 0), -1: (-1, 0), 0: (-1, 0, 1), 1: (0, 1), 2: (0, 1, 2)}


def _rhos_for(delta: int, end_coord: int) -> tuple[int, ...]:
    return (0,) if end_coord == 9 else _RHO[delta]


def _map_sql(groups: dict[int, list[str]]) -> str:
    return "map(" + ", ".join(
        f"{key}, array({', '.join(vs)})" for key, vs in groups.items()
    ) + ")"


def _split2_map_sql() -> str:
    """The level-2 variant table: per row key (role, t, Δ) the parts
    (and their displacements) an oversized lane re-keys on. The
    (role, t, part, Δ, ρ) enumeration is DATA — a literal map looked up
    per row — not a chain of hundreds of when() branches: the
    when-chain form generated ~1.6 MB codegen classes whose
    compilation dominated the whole name phase (measured: a fixed
    ~20 s across every corpus size). A map keyed by the row's
    (role, t, Δ) rather than one flat array FILTERED per row (r12):
    ArrayFilter is interpreted (higher-order functions are
    CodegenFallback) and ran on EVERY over-cap lane row; GetMapValue
    hands the transform only the rows that match.

    Each variant is one int, (part * 10 + width) * 100 + (the part's
    offset from the suffix start + 10): a table of ~100 named structs
    took ~4× longer to analyse than this one of plain ints."""
    groups: dict[int, list[str]] = {}
    for t in range(3):
        for pi, (a, w) in enumerate(_PARTS[t]):
            variants = [(0, 0, 0)] + [
                (1, d, r) for d in range(-2, 3) for r in _rhos_for(d, a + w - 1)
            ]
            for rl, d, r in variants:
                groups.setdefault(rl * 100 + t * 10 + (d + 2), []).append(
                    str((pi * 10 + w) * 100 + (a - r - 1 + 10))
                )
    return _map_sql(groups)


def _split3_map_sql() -> str:
    """The level-3 variant table, keyed by (role, t, part, Δ): every
    complement char the part did not pin, at its displacement window
    (the same map shape as level 2; this table was the worst
    when-chain and HOF offender, ~500 entries). Each variant is one
    int, coord * 100 + (the char's offset from the suffix start + 10)."""
    groups: dict[int, list[str]] = {}
    for t in range(3):
        for pi, (a, w) in enumerate(_PARTS[t]):
            for c in (c for c in _COMP_COORDS[t] if not a <= c < a + w):
                variants = [(0, 0, 0)] + [
                    (1, d, r) for d in range(-2, 3) for r in _rhos_for(d, c)
                ]
                for rl, d, r in variants:
                    groups.setdefault(
                        rl * 1000 + t * 100 + pi * 10 + (d + 2), []
                    ).append(str(c * 100 + (c - r - 1 + 10)))
    return _map_sql(groups)


def _shifted_candidates(
    df: DataFrame,
    name_col: str,
    block_cols: list[str],
    cap: int,
) -> tuple[str, dict[str, DataFrame]]:
    """Indel-complete candidate name pairs (PassJoin-style shifted
    probes): every in-block pair within levenshtein 2 — substitutions
    AND insert/deletes — collides on at least one key. Returns the SQL
    text of the candidate pairs (a parenthesized subquery: block_cols...,
    name_a, name_b; name_a < name_b) and the persisted lane frames that
    text reads, to be bound by the caller's ``lifecycle.sql``.

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
    * Level 3: a level-2 lane still over cap (low-entropy part
      content — e.g. the constant high-order digits of dense serial
      ids) re-pigeonholes each UNPINNED complement char: the index
      pins each at its exact position, the probe at the char's
      displacement window. ≤2 edits leave ≥2 of the ≥4 rest chars
      untouched, so the collision guarantee survives this split too.
      No level 4: leaf keys are emitted regardless, keeping recall.
    * SHORT lane: the suffix/probe arithmetic is clamp-free only for
      len ≥ 13, so every name with len ≤ 14 also shares one
      (block, short) lane — a pair outside the long path's guarantee
      has min len ≤ 12, hence both sides ≤ 14, hence collides there.

    Cost shape: 3 index + ~31 probe key rows per DISTINCT name at
    level 1 (probe keys enumerate candidate partner lengths × their
    displacement windows — on a fixed-length corpus all but ~7 die
    at the size window, which drops any probe key no index entry
    uses), one window shuffle and one equi-join per split level.
    The shift multiplier is the price of indel completeness — this
    is why er2 (substitution-exact, no shifts) remains the default
    and er3 the completeness lane (``_RHO`` has the measured budget).

    Plan build: each persist boundary is ONE ``lifecycle.sql`` over
    SQL text with its input frame bound as a view, analysed once — the
    DataFrame-chain form issued ~3,400 py4j commands per er3 build, and
    each of its ~21 calls re-analysed the growing plan. The text nests
    subqueries rather than CTEs: a plan built from a WITH clause cost
    ~0.16 s to re-analyse under the caller's forcing aggregate, the
    nested one ~0.02 s."""
    spark = df.sparkSession
    nm, blocks = _q(name_col), _cols(block_cols)
    blocks_str = ", ".join(f"cast({_q(b)} as string)" for b in block_cols)
    ln = f"length({nm})"
    sstart = f"greatest(1, {ln} - 8)"  # suffix abs start (1-based)

    # Shared lane-key sub-expressions (r13, guide §1.2 per-task work):
    # the 5 partner-length prefixes (one per Δ), the reachable content
    # triples (one per absolute offset) and the short-lane key are
    # computed ONCE per row in a projection BELOW the explode, so each
    # of the ~37 lane keys is a 3-piece concat_ws of precomputed
    # columns (profiled before: the lv1 explode stage summed 18.1 s of
    # task CPU at sf0.1 re-deriving them per key). CollapseProject
    # cannot re-inline them (non-cheap aliases referenced more than
    # once). Key bytes equal the flat concat_ws of every field for
    # non-null fields (the all-NULL-block corner maps to a "" prefix —
    # a per-row-consistent key remap that cannot lose a collision,
    # and every candidate is levenshtein-verified downstream).
    def cname(off: int) -> str:
        return f"_g_c{off}" if off >= 0 else f"_g_cm{-off}"

    # 'r' is the lane ROLE (0 = index, 1 = probe): index and probe
    # lanes ride ONE exploded frame (r12), so each level needs one
    # shuffle (a window keyed on the lane key) instead of a window on
    # the index side plus a sizes distinct plus a sort-merge join onto
    # the probe side.
    def lane(k1: str, t: int, dl: int, r: int) -> str:
        return f"named_struct('k1', {k1}, 't', {t}, 'dl', {dl}, 'r', {r})"

    def lane_key(delta: int, t: int, off: int) -> str:
        return f"concat_ws(chr(31), _g_p{delta + 2}, '{t}', {cname(off)})"

    # index content = the triple at absolute offset 3t+1 (substring of
    # the suffix window == the same direct substring of the name, the
    # suffix never extends past position 9); probe content = the same
    # window re-extracted at offset 3t+1−ρ.
    lanes = [lane(lane_key(0, t, 3 * t + 1), t, 0, 0) for t in range(3)] + [
        lane(lane_key(delta, t, 3 * t + 1 - rho), t, delta, 1)
        for t in range(3)
        for delta in range(-2, 3)
        for rho in _rhos_for(delta, 3 * t + 3)
    ]
    offs = sorted(
        {3 * t + 1 for t in range(3)}
        | {
            3 * t + 1 - rho
            for t in range(3)
            for delta in range(-2, 3)
            for rho in _rhos_for(delta, 3 * t + 3)
        }
    )
    shared = ", ".join(
        [
            f"concat_ws(chr(31), {blocks_str}, cast(({ln} - {d}) as string)) AS _g_p{d + 2}"
            for d in range(-2, 3)
        ]
        + [f"substring({nm}, greatest(1, {sstart} + {off - 1}), 3) AS {cname(off)}" for off in offs]
        + [f"concat_ws(chr(31), {blocks_str}, 'S') AS _g_ks"]
    )
    # short lane: emitted in BOTH roles, one key per block (never split)
    short = f"case when {ln} <= 14 then array({lane('_g_ks', -1, 0, 0)}, {lane('_g_ks', -1, 0, 1)}) end"
    # Lane frames are persisted: the split legs (small/over at two
    # levels) each re-read the level-1 and level-2 frames, and without
    # a persist the whole lane-construction subtree replays per leg
    # (~6×; measured 3× wall-clock on the name phase). They are
    # DISTINCT-NAME sized, so MEMORY_AND_DISK is cheap; the result's
    # first action populates them and the caller's lifecycle scope
    # frees them.
    #
    # Each level's INDEX lane size — what every split decision reads —
    # is a window over the lane key counting index rows only, and
    # probe keys no index entry uses drop at n >= 1 (r12: this
    # replaced a sizes distinct plus a sort-merge join per level).
    # Distinct lanes: shifted probes often re-extract identical
    # content (e.g. inside digit runs) — identical keys add join rows,
    # not recall; the role is part of the struct, so an index entry is
    # never folded into an identical-content probe entry.
    all1 = lifecycle.persist(lifecycle.sql(spark, f"""
    SELECT * FROM (
      SELECT *, count(CASE WHEN r = 0 THEN 1 END) OVER (PARTITION BY k1) AS n
      FROM (
        SELECT {blocks}, {nm}, l.k1 AS k1, l.t AS t, l.dl AS dl, l.r AS r
        FROM (
          SELECT {blocks}, {nm},
                 explode(array_distinct(concat(array({', '.join(lanes)}),
                                               coalesce({short}, array())))) AS l
          FROM (
            SELECT {blocks}, {nm}, {shared}
            FROM {_spread_names_sql('{names}', name_col, block_cols, shuffle_partitions(spark))}
          )
        )
      )
    ) WHERE r = 0 OR n >= 1""", names=df))
    # Level 2: below-cap (or short) lanes keep k1 as the join key (leg
    # s1 of ``legs``); oversized lanes emit level-2 keys — k1 + part id
    # + part content, probed at the part's displacement window. Index
    # rows (r=0, dl=0) look up only their own variants, probe rows
    # their (Δ) window, so one map serves both roles.
    all2 = lifecycle.persist(lifecycle.sql(spark, f"""
    SELECT * FROM (
      SELECT *, count(CASE WHEN r = 0 THEN 1 END) OVER (PARTITION BY k2) AS n2
      FROM (
        SELECT {blocks}, {nm}, r, t, dl, l2.k2 AS k2, l2.pi AS pi
        FROM (
          SELECT {blocks}, {nm}, r, t, dl,
                 explode(array_distinct(transform(
                   element_at({_split2_map_sql()}, CAST(r * 100 + t * 10 + (dl + 2) AS INT)),
                   x -> named_struct(
                     'k2', concat(k1, chr(31), CAST(x div 1000 AS STRING), chr(31),
                                  substring({nm}, greatest(1, {sstart} + x % 100 - 10),
                                            CAST(x div 100 % 10 AS INT))),
                     'pi', CAST(x div 1000 AS INT))))) AS l2
          FROM {{all1}} WHERE n > {cap} AND t >= 0
        )
      )
    ) WHERE r = 0 OR n2 >= 1""", all1=all1))
    legs = f"""(
      SELECT {blocks}, {nm}, r, k1 AS fk FROM {{all1}} WHERE n <= {cap} OR t < 0
      UNION ALL
      SELECT {blocks}, {nm}, r, k2 AS fk FROM {{all2}} WHERE n2 <= {cap}
      UNION ALL
      SELECT {blocks}, {nm}, r,
             explode(array_distinct(transform(
               element_at({_split3_map_sql()},
                          CAST(r * 1000 + t * 100 + pi * 10 + (dl + 2) AS INT)),
               x -> concat(k2, chr(31), CAST(x div 100 AS STRING), chr(31),
                           substring({nm}, greatest(1, {sstart} + x % 100 - 10), 1))))) AS fk
      FROM {{all2}} WHERE n2 > {cap}
    )"""
    cand = f"""(
      SELECT /*+ MERGE(a) */ DISTINCT {', '.join(f'a.{_q(c)}' for c in block_cols)}, name_a, name_b
      FROM (SELECT {blocks}, {nm} AS name_a, fk FROM {legs} WHERE r = 0) a
      JOIN (SELECT {nm} AS name_b, fk FROM {legs} WHERE r = 1) b ON a.fk = b.fk
      WHERE name_a < name_b
    )"""
    return cand, {"all1": all1, "all2": all2}


def _shifted_candidate_name_pairs(
    df: DataFrame,
    name_col: str,
    block_cols: list[str],
    cap: int,
) -> DataFrame:
    """The candidate name pairs of ``_shifted_candidates`` as a frame."""
    cand, frames = _shifted_candidates(df, name_col, block_cols, cap)
    return lifecycle.sql(df.sparkSession, f"SELECT * FROM {cand}", **frames)


def pigeonhole_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    cap: int = 32,
    max_dist: int = 2,
    max_id_pairs: int | None = 1_000_000_000,
    n_rows: int | None = None,
    pair_ids: tuple[str, str] = ("id_a", "id_b"),
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
    zero-job on corpora where the quadratic regime is impossible.
    ``pair_ids`` names the two id columns: naming them in the text is
    free, while a ``select`` over the built plan re-analyses all of it
    (~0.13 s for er3's)."""
    recs = _records(df, id_col, name_col, block_cols)
    if max_id_pairs is not None:
        _preflight_id_pair_budget(
            recs, "_nm", block_cols, max_id_pairs, "pigeonhole_matches",
            n_rows=n_rows,
        )
    spark = df.sparkSession
    spread = shuffle_partitions(spark)
    cand = _candidate_name_pairs_sql("{recs}", "_nm", block_cols, cap, spread)
    return lifecycle.sql(
        spark,
        _expand_sql(
            _verified_sql(cand, 0, max_dist),
            "{recs}", "_id", "_nm", block_cols, ["dist"], spread, pair_ids,
        )
        + " UNION ALL "
        + _same_name_sql("{recs}", "_id", "_nm", block_cols, True, pair_ids),
        recs=recs,
    )


def _verified_sql(cand: str, lo: int, max_dist: int) -> str:
    """The candidate pairs ``cand`` with their banded levenshtein
    ``dist``, kept when it lies in [lo, max_dist] (a subquery text)."""
    return f"""(
      SELECT * FROM (SELECT *, levenshtein(name_a, name_b, {max_dist}) AS dist FROM {cand})
      WHERE dist BETWEEN {lo} AND {max_dist}
    )"""


def edit_complete_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    cap: int = 32,
    max_dist: int = 2,
    max_id_pairs: int | None = 1_000_000_000,
    n_rows: int | None = None,
    pair_ids: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Like ``pigeonhole_matches`` but INDEL-COMPLETE: candidates come
    from ``_shifted_candidates`` (PassJoin-style shifted probes), so
    every in-block pair within levenshtein ``max_dist`` — substitutions
    AND insert/deletes — is found. The two-phase collapse/expand
    architecture is unchanged: all shifted-probe work runs once per
    DISTINCT (block, name); the ×5-per-level shift multiplier is the
    documented price of completeness over ``pigeonhole_matches``. Only
    max_dist=2 is supported (the lane geometry — 3 segments, ±2 shifts
    — encodes the budget).

    ``max_id_pairs`` (default 1e9): same duplicate-regime pre-flight
    guard as ``pigeonhole_matches`` — raises ``IdPairBudgetExceeded``
    instead of a quadratic disk-filling expansion (None disables);
    same ``n_rows`` zero-job gate (footer count with C(n, 2) within
    budget skips the pre-flight aggregate) and ``pair_ids``."""
    if max_dist != 2:
        raise ValueError("edit_complete_matches encodes max_dist=2 lanes")
    recs = _records(df, id_col, name_col, block_cols)
    if max_id_pairs is not None:
        _preflight_id_pair_budget(
            recs, "_nm", block_cols, max_id_pairs, "edit_complete_matches",
            n_rows=n_rows,
        )
    spark = df.sparkSession
    cand, frames = _shifted_candidates(recs, "_nm", block_cols, cap)
    return lifecycle.sql(
        spark,
        _expand_sql(
            _verified_sql(cand, 0, max_dist),
            "{recs}", "_id", "_nm", block_cols, ["dist"], shuffle_partitions(spark), pair_ids,
        )
        + " UNION ALL "
        + _same_name_sql("{recs}", "_id", "_nm", block_cols, True, pair_ids),
        recs=recs,
        **frames,
    )


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
    set (``_shifted_candidates``) verified at the DISTINCT (block,
    name) level, the number of record pairs a verified name pair
    (a, b) contributes is cnt(a) x cnt(b), and each duplicated name
    contributes C(cnt, 2) distance-0 pairs. Both are equi-joins
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
    recs = _records(df, id_col, name_col, block_cols)
    cand, frames = _shifted_candidates(recs, "_nm", block_cols, cap)
    blocks = _cols(block_cols)
    name_counts = (
        f"(SELECT {blocks}, _nm, count(1) AS _cnt FROM {{recs}} GROUP BY {blocks}, _nm)"
    )

    def counts(s: str) -> str:
        return (
            f"(SELECT {_cols(block_cols, alias=f'_b{s}_')}, _nm AS _n{s},"
            f" _cnt AS _cnt_{s} FROM {name_counts}) c{s}"
        )

    def on(s: str) -> str:
        return " AND ".join(
            [f"c{s}.{_q(f'_b{s}_{b}')} = v.{_q(b)}" for b in block_cols]
            + [f"c{s}._n{s} = v.name_{s}"]
        )

    by_dist = ", ".join(
        f"CAST(sum(CASE WHEN dist = {d} THEN pairs ELSE 0 END) AS BIGINT) AS pairs_d{d}"
        for d in range(max_dist + 1)
    )
    # name_a < name_b => distinct names => dist >= 1
    return lifecycle.sql(
        df.sparkSession,
        f"""
    SELECT {blocks}, {by_dist}, CAST(sum(pairs) AS BIGINT) AS pairs_total
    FROM (
      SELECT {', '.join(f'v.{_q(b)}' for b in block_cols)}, v.dist,
             ca._cnt_a * cb._cnt_b AS pairs
      FROM {_verified_sql(cand, 1, max_dist)} v
      JOIN {counts('a')} ON {on('a')} JOIN {counts('b')} ON {on('b')}
      UNION ALL
      SELECT {blocks}, 0 AS dist, CAST(_cnt * (_cnt - 1) / 2 AS BIGINT) AS pairs
      FROM {name_counts} WHERE _cnt > 1
    )
    GROUP BY {blocks}""",
        recs=recs,
        **frames,
    )
