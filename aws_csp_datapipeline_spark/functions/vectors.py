"""Vector-column utilities for embedding pipelines: L2 normalization
and scalar (int8-range) quantization — pure array expressions, no
Python, oracle-expressible."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.functions.similarity import dot, _as_double


def l2_normalize(vec: Column, decimals: int = 4) -> Column:
    """Unit-L2 vector, elementwise-rounded so engines agree exactly.
    The norm is bound once through a single-element wrapper (same
    codegen trick as the shingle builder) instead of being
    re-evaluated per element."""
    v = _as_double(vec)
    return F.element_at(
        F.transform(
            F.array(F.sqrt(dot(v, v))),
            # + 0.0 folds IEEE -0.0 (from rounding tiny negatives)
            # into +0.0 so engines hash identically
            lambda nrm: F.transform(
                v, lambda x: F.round(x / nrm, decimals) + F.lit(0.0)
            ),
        ),
        1,
    )


def rademacher_signs(out_dim: int, in_dim: int) -> list[list[float]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix,
    seeded by md5(j:i) parity — no RNG state, so Spark plans and the
    DuckDB oracle can both embed the same literals and any executor
    can regenerate row j without coordination."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{j}:{i}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(vec: Column, signs: list[list[float]]) -> list[Column]:
    """Project a vector onto ``len(signs)`` Rademacher directions,
    scaled by 1/sqrt(k) so expected squared norm is preserved
    (Achlioptas 2003: ±1 entries satisfy the JL lemma).

    One narrow projection per row — k left-fold dot products against
    literal sign arrays, all JVM codegen, no shuffle. This is the
    100-TB pre-step that makes downstream ANN/dedup cheaper: 64-d
    float embeddings become k-d at 8× less compute per distance.
    Rounded at 4 decimals (+0.0 folds IEEE -0.0) per the repo float
    discipline."""
    v = _as_double(vec)
    k = len(signs)

    def _sign_arr(row) -> Column:
        # one parsed literal array per row: k×in_dim sign entries
        # through the Column API cost ~2 py4j round-trips each (~0.4 s
        # per plan build at 8×64)
        return F.expr("array(" + ",".join(f"{s!r}D" for s in row) + ")")

    return [
        (
            F.round(
                dot(v, _sign_arr(row)) / F.sqrt(F.lit(float(k))),
                4,
            )
            + F.lit(0.0)
        ).alias(f"p{j}")
        for j, row in enumerate(signs)
    ]


def quantize_uint8(vec: Column) -> Column:
    """Per-vector min-max scalar quantization to 0..255 ints — the
    4×-compression trick for ANN candidate storage. FLOOR keeps
    Spark/DuckDB cast semantics identical; the max element maps to
    255 via the epsilon-stretched scale."""
    v = _as_double(vec)
    mn = F.array_min(v)
    mx = F.array_max(v)
    rng = mx - mn
    return F.when(rng == 0, F.transform(v, lambda _: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.least(
                F.lit(255),
                F.floor((x - mn) * F.lit(255.999) / rng).cast("int"),
            ),
        )
    )
