"""`.col` as a first-class Spark data source: ``spark.read.format("col")``.

Built on Spark 4's Python DataSource API (SPARK-44076). The source hands
Spark ONE InputPartition PER ROW GROUP: each executor runs
``colfile.read_col_rows`` on its row group, which seeks straight to the
projected column chunks and decodes only those — the reference's row-group
parallelism (cae/src/execution.cpp scan loop), but scheduled by Spark, so
a 10k-row-group file fans out across the cluster. ``colfile.read_col`` and
the stream reader use the same loop. Requirements:

- the path must be visible to executors (local FS here, shared storage on
  a real cluster — same contract as every file source),
- optional ``columns`` option ("a,b,c") prunes column chunks at decode
  time (Catalyst still prunes its own projection above),
- optional ``predicate`` option ("col op int", op ∈ eq/ne/lt/le/gt/ge)
  applies the reference's zone-map skipping per row group BEFORE any
  decode, and the exact residual filter is applied to surviving rows; an
  unknown op or name fails when the read is planned.

The source is complete across all four surfaces:

- batch read of a single ``.col`` file OR a directory of them
  (file × row-group input partitions),
- streaming read of a growing directory (``ColStreamReader``, same
  options),
- streaming write (``ColStreamWriter``: executor-parallel task files,
  driver rename-as-commit),
- plus the driver-side batch writer in ``colfile.write_col``.

Register once per session::

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )
    register_col_datasource(spark)
    df = spark.read.format("col").load("/path/data.col")
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def _read_options(options: dict) -> tuple[str, list[str] | None, tuple | None]:
    """(path, columns, predicate) of a ``format("col")`` read."""
    from .colfile import parse_predicate

    path = options.get("path")
    if not path:
        raise ValueError("format('col') needs .load(<path>)")
    cols = options.get("columns")
    columns = [c.strip() for c in cols.split(",")] if cols else None
    return path, columns, parse_predicate(options.get("predicate"))


def _col_files(path: str) -> list[str]:
    """The ``*.col`` files of a directory in sorted order, or the one file."""
    import os

    if not os.path.isdir(path):
        return [path]
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".col")]


class _RowGroupPartition(InputPartition):
    def __init__(self, index: int, file: str):
        self.index = index
        self.file = file


class ColDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path, self.columns, self.predicate = _read_options(options)

    def partitions(self):
        from .colfile import _skippable_row_groups, projection, read_col_metadata

        parts = []
        for fpath in _col_files(self.path):
            schema, row_groups, _ = read_col_metadata(fpath)
            projection(schema, self.columns, self.predicate)
            skips = _skippable_row_groups(row_groups, schema, self.predicate)
            parts += [_RowGroupPartition(i, fpath) for i, skip in enumerate(skips) if not skip]
        return parts

    def read(self, partition: _RowGroupPartition):
        # Runs on the executor: decode only this row group's projected chunks.
        from .colfile import read_col_rows

        yield from read_col_rows(partition.file, self.columns, self.predicate, partition.index)


class ColDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "col"

    def schema(self):
        from pyspark.sql import types as T

        from .colfile import projection, read_col_metadata

        path, columns, predicate = _read_options(self.options)
        files = _col_files(path)  # a directory's schema is its first file's
        if not files:
            raise FileNotFoundError(
                f"no .col files yet in {path}; schema cannot be inferred "
                "— write one file first or pass an explicit schema"
            )
        schema, _, _ = read_col_metadata(files[0])
        out, idxs = projection(schema, columns, predicate)
        return T.StructType(
            [schema.columns[ci].to_spark_field(nullable=False) for ci in idxs[: len(out)]]
        )

    def reader(self, schema) -> ColDataSourceReader:
        return ColDataSourceReader(dict(self.options))

    def simpleStreamReader(self, schema) -> "ColStreamReader":
        return ColStreamReader(dict(self.options))

    def streamWriter(self, schema, overwrite: bool) -> "ColStreamWriter":
        return ColStreamWriter(dict(self.options), schema)


class ColStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the source: a DIRECTORY of ``.col`` files is the
    stream; the offset is the count of files consumed in lexicographic
    order (files must be appended with monotonically sorting names —
    the same contract as Spark's own file stream source). Each
    micro-batch reads every newly arrived file; ``readBetweenOffsets``
    replays any committed range deterministically from the same sorted
    listing, which is what makes recovery exactly-once."""

    def __init__(self, options: dict):
        self.path, self.columns, self.predicate = _read_options(options)

    def initialOffset(self) -> dict:
        return {"files_consumed": 0}

    def _read_files(self, files: list[str]) -> list[tuple]:
        # the simple stream API prefetches on the driver and requires a
        # COPYABLE iterator (a generator cannot be pickled into the
        # prefetch cache) — materialize the batch
        from .colfile import read_col_rows

        return [r for f in files for r in read_col_rows(f, self.columns, self.predicate)]

    def read(self, start: dict):
        files = _col_files(self.path)
        return self._read_files(files[start["files_consumed"] :]), {"files_consumed": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _col_files(self.path)
        return self._read_files(files[start["files_consumed"] : end["files_consumed"]])

    def commit(self, end: dict) -> None:
        pass


def register_col_datasource(spark) -> None:
    """Idempotent per-session registration of the ``col`` format."""
    spark.dataSource.register(ColDataSource)


class _ColCommitMessage(WriterCommitMessage):
    def __init__(self, tmp_name: str | None):
        self.tmp_name = tmp_name


class ColStreamWriter(DataSourceStreamWriter):
    """Streaming SINK half: each task writes its partition of the
    micro-batch as its own ``.col`` file under a dotted temp name
    (invisible to the stream reader's ``*.col`` listing), and the
    driver-side ``commit`` renames the batch's temp files into final
    ``b<batch>_<i>.col`` names — rename-as-commit, so readers observe a
    batch atomically (all files or none) and a failed batch leaves only
    temp files for ``abort`` to sweep. Executor-parallel writes, unlike
    the driver-side interchange writer."""

    def __init__(self, options: dict, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("stream write format('col') needs .start(<dir>)")
        self.spark_schema = schema

    def write(self, iterator) -> _ColCommitMessage:
        import os
        import uuid

        from .colfile import schema_from_spark, write_col_rows

        rows = [tuple(r) for r in iterator]
        if not rows:
            return _ColCommitMessage(None)
        os.makedirs(self.path, exist_ok=True)
        tmp = f".tmp-{uuid.uuid4().hex}"
        write_col_rows(
            rows, schema_from_spark(self.spark_schema), os.path.join(self.path, tmp)
        )
        return _ColCommitMessage(tmp)

    def commit(self, messages, batchId: int) -> None:
        import os

        i = 0
        for m in messages:
            if m is None or m.tmp_name is None:
                continue
            os.replace(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, f"b{batchId:06d}_{i:03d}.col"),
            )
            i += 1

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and m.tmp_name is not None:
                tmp = os.path.join(self.path, m.tmp_name)
                if os.path.exists(tmp):
                    os.remove(tmp)
