"""``curation_batch``: ROADMAP-named curation registry keys, run in
registry order by one batch client, memos built cold inside the run.

The keys are the five scale-path keys (q82, q111, q132, q195, q213), the
key whose plan changes between builds (q119), two keys that train models
at build time (q85, q204) and the one key on ``events`` (q157). q121,
q139, q192 and q201 are left out to keep a run within the benchmark's
time budget; each shares its operator family with a kept key.

Each key is built (``REGISTRY[key](spark, dir)``, which may fire
model/probe jobs) and its result pulled to the driver; the batch wall
runs from the first build to the last result. Results are then checked,
untimed, against the key's DuckDB oracle with ``tools/check_oracle.py``'s
``normalize``/``compare``.
"""

from __future__ import annotations

import os
import time

from gen_tables import TABLES, write_tables

KEYS = ("q82", "q85", "q111", "q119", "q132", "q157", "q195", "q204", "q213")
# Oracles that take seconds in DuckDB on these tables; each run checks
# one of them (by seed), every other key's oracle every run.
SLOW_ORACLES = ("q111", "q82", "q204")
SIZES = dict(docs=200, vecs=250, n_events=5000)


def registry_keys() -> list[str]:
    from sarfile_analyzer_ng_spark.queries import REGISTRY

    keys = [k for k in REGISTRY if k.split("_", 1)[0] in KEYS]
    if len(keys) != len(KEYS):
        raise SystemExit(f"registry lacks some of {KEYS}: found {keys}")
    return keys


class CurationBatch:
    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark, self.tr, self.seed, self.work_dir = spark, tracer, seed, work_dir
        self.keys = registry_keys()
        self.results: dict[str, object] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.data_dir = ""
        self.input_bytes = 0
        self.batches = 0

    def _stage(self, batch: int) -> str:
        """A fresh copy of the inputs per batch: memo keys include the
        directory, so every batch builds its memos cold."""
        d = os.path.join(self.work_dir, f"tables{batch}")
        self.input_bytes = write_tables(d, self.seed, **SIZES)
        return d

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.data_dir = self._stage(0)
        t1 = time.perf_counter()
        self._warm()
        return {"generate_s": t1 - t0, "warm_s": time.perf_counter() - t1}

    def _warm(self) -> None:
        """Spawn the Python workers and JIT the common operators once
        (Arrow UDFs, shuffle aggregate, join, window) on a frame that
        shares nothing with the batch, so no memo is built early."""
        import pandas as pd
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = self.spark.range(2000).select((F.col("id") % 17).alias("k"), "id")

        def ident(batches):
            yield from batches

        def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.head(1)

        w = Window.partitionBy("k").orderBy("id")
        parts = [
            df.mapInPandas(ident, df.schema),
            df.groupBy("k").applyInPandas(per_group, df.schema),
            df.join(df.groupBy("k").agg(F.max("id").alias("m")), "k")
            .select("k", F.row_number().over(w).alias("id")),
        ]
        for part in parts:
            part.toPandas()

    def timed(self, seconds: float, on_op) -> list[tuple[str, float]]:
        from sarfile_analyzer_ng_spark.queries import REGISTRY

        lat = []
        t0 = time.perf_counter()
        while self.batches == 0 or time.perf_counter() - t0 < seconds:
            if self.batches:
                self.spark.catalog.clearCache()
                self.data_dir = self._stage(self.batches)
            for key in self.keys:
                fn = REGISTRY[key][0]
                short = key.split("_", 1)[0]
                self.attempted += 1
                with self.tr.span(f"op.{short}", f"b{self.batches}.{short}"):
                    s = time.perf_counter()
                    try:
                        with self.tr.span("queries.build"):
                            df = fn(self.spark, self.data_dir)
                        with self.tr.span("queries.exec", frame=df):
                            self.results[key] = df.toPandas()
                    except Exception as exc:  # a failed key is a measured outcome
                        self.failed += 1
                        self.errors.append(f"{key}: {type(exc).__name__}: {exc}")
                    lat.append((short, time.perf_counter() - s))
                on_op()
            self.batches += 1
        return lat

    def finish(self) -> dict:
        return {"oracle_checked": self._check(), "batches": self.batches,
                "registry_keys": len(self.keys), "input_bytes": self.input_bytes,
                "table_rows": SIZES}

    def store_stats(self) -> dict:
        return {"store.files_written": 0, "store.bytes_written": 0,
                "store.stored_bytes_per_raw_byte": 0}

    def _check(self) -> int:
        """Untimed oracle pass; returns the number of keys checked."""
        import duckdb
        from check_oracle import compare
        from sarfile_analyzer_ng_spark.queries import REGISTRY

        slow = SLOW_ORACLES[self.seed % len(SLOW_ORACLES)]
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        checked = 0
        for key, pdf in self.results.items():
            short = key.split("_", 1)[0]
            if short in SLOW_ORACLES and short != slow:
                continue
            checked += 1
            issues = compare(key, pdf, con.execute(REGISTRY[key][1]).df())
            if issues:
                self.failed += 1
                self.errors.append(f"{key}: " + " | ".join(issues))
        con.close()
        return checked
