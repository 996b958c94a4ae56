"""Property test for the cross-engine rounding contract: for ANY
double, Spark's `util.rnd` must equal the oracle-side
varchar→DECIMAL(38,8)→round chain in DuckDB — including the
adversarial case of values sitting exactly on a rounding half-boundary
(where plain round() provably diverges between the engines)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from sarfile_analyzer_ng_spark.util import rnd, sql_rnd


def _values() -> list[float]:
    rng = np.random.default_rng(42)
    vals = list(rng.uniform(-1e6, 1e6, 2000))
    vals += list(rng.uniform(-1, 1, 2000))
    # stay inside the contract's domain (util.RND_PARITY_MAX_SCALED):
    # |v|·10^4 < 2^53 → |v| < ~9e11
    vals += list(rng.uniform(-8e11, 8e11, 500))
    # adversarial: exact 5-decimal halves (38.37875-style), the case
    # that flipped q06 before the varchar-decimal fix
    vals += [round(x, 5) + 0.00005 for x in rng.uniform(-1000, 1000, 2000)]
    # sums of 2-decimal money (exact decimals at large magnitude)
    vals += [round(x, 2) for x in rng.uniform(1e7, 1e9, 500)]
    return [float(v) for v in vals]


def test_rnd_matches_duckdb_round_chain(spark):
    vals = _values()
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    from pyspark.sql import functions as F

    got = {
        r["i"]: (r["r4"], r["r2"])
        for r in sdf.select("i", rnd(F.col("x"), 4).alias("r4"),
                            rnd(F.col("x"), 2).alias("r2")).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(vals)), "x": vals}))
    expected = con.execute(
        f"SELECT i, {sql_rnd('x', 4)} AS r4, {sql_rnd('x', 2)} AS r2 FROM t"
    ).fetchall()
    mismatches = [
        (i, got[i], (r4, r2)) for i, r4, r2 in expected if got[i] != (r4, r2)
    ]
    assert not mismatches, mismatches[:5]


def test_registry_outputs_inside_rnd_parity_domain(spark):
    """The rnd/sql_rnd contract only holds while |value|·10^digits
    stays under 2^53 (util.RND_PARITY_MAX_SCALED): beyond it, DuckDB's
    DECIMAL→DOUBLE step can land an ulp off Spark's BigDecimal path.
    Execute every registry query at the largest local SF and assert
    every double column observes the domain (digits=4 is the tightest
    rounding any query uses), so new queries/SFs can't silently step
    outside the contract the whole oracle gate rests on."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sarfile_analyzer_ng_spark.queries import REGISTRY
    from sarfile_analyzer_ng_spark.util import RND_PARITY_MAX_SCALED, release

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    limit = RND_PARITY_MAX_SCALED / 10**4
    offenders = []
    for key, (fn, sql) in REGISTRY.items():
        if sql is None:
            continue
        df = fn(spark, sf_dir)
        dbl = [f.name for f in df.schema.fields
               if isinstance(f.dataType, T.DoubleType)]
        if not dbl:
            continue
        row = df.agg(
            *[F.max(F.abs(F.col(c))).alias(c) for c in dbl]
        ).first()
        release(spark)
        for c in dbl:
            if row[c] is not None and row[c] >= limit:
                offenders.append((key, c, row[c]))
    assert not offenders, offenders


def test_rnd_np_matches_spark_rnd_on_half_boundaries(spark):
    """The numpy kernel twin of util.rnd must agree with Spark's
    HALF_UP rounding exactly where np.round's half-to-even differs."""
    import numpy as np

    from pyspark.sql import functions as F

    from sarfile_analyzer_ng_spark.util import rnd, rnd_np

    vals = [0.76545, 2.5675, -0.76545, 0.12345678, 0.123456785,
            1 / 3, 0.5, 0.99995, -0.99995, 0.00005]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    want = [r["r"] for r in
            df.select(rnd(F.col("v"), 4).alias("r")).collect()]
    got = list(rnd_np(np.array(vals), 4))
    assert got == want
