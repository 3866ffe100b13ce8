"""One-shot audit for the IEEE -0.0 oracle hazard (CORRECTNESS_r11's
ml2 hash fail): run every oracle-paired registry query at sf0.01 and
flag

  (a) any float cell that is -0.0 on either engine (a live artifact —
      the driver's value hash is sign-of-zero sensitive even though
      tests/oracle.py folds it), and
  (b) any float cell that is exactly 0.0 on either engine in a column
      whose values can plausibly be signed (a latent site: the sign a
      given host lands on is summation-order dependent, so +0.0 here
      can be -0.0 on the driver's host).

Output: one line per flagged query with column names and which side
produced the zero. Fix = zero-fold (`+ 0` after ROUND in the oracle,
`+ F.lit(0.0)` on the Spark side) for rounded aggregates of centered
or signed quantities.

Run: python tools/audit_negzero.py [sf_dir]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, "/root/repo")


def zero_cells(rows, cols):
    """-> {col: {'neg': bool, 'pos': bool}} for exact-zero float cells."""
    out = {}
    for r in rows:
        for c, v in zip(cols, r):
            if isinstance(v, float) and v == 0.0 and not math.isnan(v):
                d = out.setdefault(c, {"neg": False, "pos": False})
                if math.copysign(1.0, v) < 0:
                    d["neg"] = True
                else:
                    d["pos"] = True
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from aws_csp_datapipeline_spark import lifecycle
    from aws_csp_datapipeline_spark.plans import registry
    from aws_csp_datapipeline_spark.session import get_spark
    from tests.oracle import duck_connection

    spark = get_spark(app_name="audit-negzero")
    con = duck_connection(sf_dir)
    flagged = 0
    specs = [s for s in registry.specs() if s.oracle is not None]
    for i, s in enumerate(specs):
        if s.oracle_sf_max is not None and s.oracle_sf_max < 0.01:
            continue
        try:
            with lifecycle.scope():
                sdf = s.fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(s.oracle)
            dcols = list(rel.columns)
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {s.name}: {type(e).__name__}: {e}", flush=True)
            continue
        sz = zero_cells(srows, scols)
        dz = zero_cells(drows, dcols)
        if sz or dz:
            flagged += 1
            neg = any(d["neg"] for d in list(sz.values()) + list(dz.values()))
            sign_split = any(
                c in sz and c in dz and (sz[c]["neg"] != dz[c]["neg"])
                for c in set(sz) & set(dz)
            )
            tag = "NEGZERO" if neg else "zero"
            tag += " SIGN-SPLIT" if sign_split else ""
            print(
                f"{tag} {s.name}: spark={sz} duck={dz}",
                flush=True,
            )
        if (i + 1) % 25 == 0:
            print(f"-- {i + 1}/{len(specs)} done", flush=True)
    print(f"DONE: {flagged} queries with exact-zero float cells", flush=True)


if __name__ == "__main__":
    main()
