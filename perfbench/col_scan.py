"""Workload ``col_scan``: the paper's bench table as a ``.col`` file, scanned
six ways.

The table comes from ``writer.generate_synthetic(variant="bench", seed)``
with the reference schema and encodings (id INT64 PLAIN, value INT64 DELTA,
score INT32 RLE, region STRING DICTIONARY). It is written once in set-up by
``colfile.write_col_rows`` as 20 row groups. The paper's table has 1M rows
in 50k-row groups; this one keeps the 20 groups at 100k rows, because a
warm full scan of even this size takes about 3 s on a 4-core box and the
whole benchmark has to fit its time budget.

Expected results are computed by Spark from the generated DataFrame before
the file is written, so they never pass through the decoder under test.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation, functions as F

from loop import Op, run_op
from runenv import PACKAGE

N_ROWS = 100_000
ROW_GROUPS = 20
VALUE_CUT = 50_000  # filtered_scan / driver_read: value gt 50000
SKIP_ID = N_ROWS // 10  # skip_scan: id lt N/10 keeps 2 of 20 row groups
COLUMNS = ("id", "value", "score", "region")
ENCODING_COLUMN = {"plain": "id", "delta": "value", "rle": "score", "dictionary": "region"}


def row_hash():
    """Order-insensitive per-row hash; summed, it fits a BIGINT for any
    table a .col file can hold (uint32 rows)."""
    return F.pmod(F.xxhash64(*COLUMNS), F.lit(1 << 32))


def compare(label: str, got, want) -> str | None:
    got, want = tuple(got), tuple(want)
    return None if got == want else f"{label}: got {got}, expected {want}"


def observed_scan(df) -> tuple[int, int]:
    """Materialize every row (noop sink) and observe count + hash sum."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(row_hash()).alias("hash")).write.format(
        "noop"
    ).mode("overwrite").save()
    got = obs.get
    return got["rows"], got["hash"]


def expected_results(table) -> dict:
    """Each op type's right answer, from the generated rows (a pandas frame
    with the COLUMNS and Spark's per-row hash ``h``)."""
    v, h = table["value"], table["h"]
    hi, low = v > VALUE_CUT, table["id"] < SKIP_ID
    groups = v.groupby(table["region"]).agg(["count", "sum", "min", "max"]).sort_index()
    return {
        "full_scan": (len(table), int(h.sum())),
        "filtered_scan": (int(hi.sum()), int(h[hi].sum())),
        "aggregate": (len(table), int(v.sum()), int(v.min()), int(v.max())),
        "group_by": [(str(k), *map(int, row)) for k, row in groups.iterrows()],
        "skip_scan": (int(low.sum()), int(v[low].sum())),
        "driver_read": (int(hi.sum()), int(v[hi].sum()), int(v[hi].min()), int(v[hi].max())),
    }


class ColScan:
    name = "col_scan"

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.path = os.path.join(work, "bench.col")

    def setup(self, tracer) -> list[Op]:
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.schema import (
            ColumnSchema,
            ColumnType,
            EncodingType,
            Schema,
        )
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import colfile, writer
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
            register_col_datasource,
        )

        spark = self.spark
        gen = writer.generate_synthetic(spark, N_ROWS, seed=self.seed, variant="bench")
        # one job: the rows to write plus each row's hash, computed by Spark
        table = gen.withColumn("h", row_hash()).toPandas()
        expected = expected_results(table)
        rows = list(table[list(COLUMNS)].itertuples(index=False, name=None))
        schema = Schema(
            [
                ColumnSchema("id", ColumnType.INT64, EncodingType.PLAIN),
                ColumnSchema("value", ColumnType.INT64, EncodingType.DELTA),
                ColumnSchema("score", ColumnType.INT32, EncodingType.RLE),
                ColumnSchema("region", ColumnType.STRING, EncodingType.DICTIONARY),
            ]
        )
        start = time.perf_counter()
        colfile.write_col_rows(rows, schema, self.path, N_ROWS // ROW_GROUPS)
        self.write_s = time.perf_counter() - start
        self.file_bytes = os.path.getsize(self.path)
        register_col_datasource(spark)

        ops = self._ops(expected)
        for i, op in enumerate(ops):  # warm-up: one untimed op of each type
            sample = run_op(op, -1 - i, tracer)
            if sample.error is not None:
                raise RuntimeError(f"warm-up {op.name}: {sample.error}")
        return ops

    def _ops(self, expected: dict) -> list[Op]:
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.query import (
            AggFunc,
            Predicate,
            QueryExecutor,
        )
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import colfile

        spark, path = self.spark, self.path

        def col(predicate: str | None = None):
            reader = spark.read.format("col")
            if predicate:
                reader = reader.option("predicate", predicate)
            return reader.load(path)

        def value_filter():
            return Predicate.parse("value", "gt", str(VALUE_CUT))

        def full_scan():
            return col().agg(F.count(F.lit(1)), F.sum(row_hash()))

        def filtered_scan():
            qe = QueryExecutor(spark, col(f"value gt {VALUE_CUT}")).add_filter(value_filter())
            return qe.execute_query()

        def aggregate():
            return QueryExecutor(spark, col()).set_aggregation(AggFunc.SUM, "value")

        def group_by():
            qe = QueryExecutor(spark, col()).set_aggregation(AggFunc.SUM, "value")
            return qe.set_group_by("region").execute_group_by()

        def skip_scan():
            return col(f"id lt {SKIP_ID}").agg(F.count(F.lit(1)), F.sum("value"))

        def driver_read():
            # the CLI `query` path: read_col with the zone-map predicate,
            # then QueryExecutor with the same filter
            src = colfile.read_col(spark, path, predicate=("value", "gt", VALUE_CUT))
            qe = QueryExecutor(spark, src).add_filter(value_filter())
            return qe.set_aggregation(AggFunc.SUM, "value")

        def first_row(df):
            return df.collect()[0]

        def agg_result(qe):
            r = qe.execute_aggregate()
            return (r.count, r.sum, r.min, r.max)

        builds = (
            (full_scan, first_row),
            (filtered_scan, observed_scan),
            (aggregate, agg_result),
            (group_by, lambda df: [tuple(r) for r in df.collect()]),
            (skip_scan, first_row),
            (driver_read, agg_result),
        )
        return [
            Op(build.__name__, build, action, self._checker(build.__name__, expected), self.file_bytes)
            for build, action in builds
        ]

    @staticmethod
    def _checker(name: str, expected: dict):
        return lambda got: compare(name, got, expected[name])

    def layer_metrics(self) -> dict:
        """Per-layer figures of the traced run. The ``col_datasource`` reader
        is replayed in the driver over this run's file: Spark calls
        ``read()`` in Python workers, where no driver-side wrapper sees it."""
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import colfile
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
            ColDataSource,
            ColDataSourceReader,
        )
        from tracing import rebind, restore

        meta = {"calls": 0, "s": 0.0}
        real = colfile.read_col_metadata

        def counted(path):
            start = time.perf_counter()
            try:
                return real(path)
            finally:
                meta["calls"] += 1
                meta["s"] += time.perf_counter() - start

        _, row_groups, _ = real(self.path)
        undo = rebind(real, counted, PACKAGE)
        try:
            # one load + scan per format("col") op type: full_scan,
            # filtered_scan, aggregate, group_by, skip_scan
            predicates = (None, f"value gt {VALUE_CUT}", None, None, f"id lt {SKIP_ID}")
            per_op = []
            for predicate in predicates:
                opts = {"path": self.path}
                if predicate:
                    opts["predicate"] = predicate
                meta.update(calls=0, s=0.0)
                ColDataSource(opts).schema()
                reader = ColDataSourceReader(opts)
                t0 = time.perf_counter()
                parts = reader.partitions()
                t1 = time.perf_counter()
                for part in parts:
                    for _ in reader.read(part):
                        pass
                t2 = time.perf_counter()
                per_op.append((meta["calls"], meta["s"], t1 - t0, t2 - t1, len(parts) / len(row_groups)))

            decode = {}
            for enc, column in ENCODING_COLUMN.items():
                ci = COLUMNS.index(column)
                reader = ColDataSourceReader({"path": self.path, "columns": column})
                nbytes, secs = 0, 0.0
                for part in reader.partitions():
                    t0 = time.perf_counter()
                    for _ in reader.read(part):
                        pass
                    secs += time.perf_counter() - t0
                    nbytes += row_groups[part.index].chunks[ci].total_size
                decode[enc] = nbytes / secs / 1e6
        finally:
            restore(undo)

        def mean(i):
            return sum(p[i] for p in per_op) / len(per_op)

        out = {
            "colfile.meta_reads_per_op": mean(0),
            "colfile.meta_read_ms": mean(1) * 1e3,
            "col_datasource.partitions_ms": mean(2) * 1e3,
            "col_datasource.read_ms": mean(3) * 1e3,
            "col_datasource.rowgroups_read_ratio": mean(4),
            "colfile.encode_ms": self.write_s * 1e3,
            "colfile.encode_mb_per_s": self.file_bytes / self.write_s / 1e6,
            "colfile.bytes_per_row": self.file_bytes / N_ROWS,
        }
        out.update({f"colfile.decode_mb_per_s.{enc}": v for enc, v in decode.items()})
        return out
