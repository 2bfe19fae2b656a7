"""Round-trip + corruption tests for the .col compatibility format
(mirrors reference test_format.cpp / test_corruption.cpp fixtures F2)."""

from __future__ import annotations

import struct

import pytest

from pyspark.sql import types as T

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.schema import (
    ColumnType,
    EncodingType,
    Schema,
)
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import colfile


def _write(spark, tmp_path, name, schema, rows, **kw):
    path = str(tmp_path / name)
    df = spark.createDataFrame(rows, schema.to_spark())
    colfile.write_col(df, path, schema=schema, **kw)
    return path


def test_basic_roundtrip(spark, tmp_path):
    # format_basic fixture (FIXTURES.md F2): id INT64 {1..5}, value INT32
    schema = Schema().add("id", ColumnType.INT64).add("value", ColumnType.INT32)
    rows = [(i + 1, (i + 1) * 10) for i in range(5)]
    p = _write(spark, tmp_path, "basic.col", schema, rows)
    back = colfile.read_col(spark, p)
    assert sorted((r["id"], r["value"]) for r in back.collect()) == rows
    assert [f.dataType for f in back.schema.fields] == [T.LongType(), T.IntegerType()]


def test_all_encodings_roundtrip(spark, tmp_path):
    # rle_col {1,1,1,2,2,3,3,3,3}, delta_col {1000..1400}, dict_col regions,
    # plain_str_col (F2 fixtures)
    schema = (
        Schema()
        .add("rle_c", ColumnType.INT32, EncodingType.RLE)
        .add("delta_c", ColumnType.INT64, EncodingType.DELTA)
        .add("dict_c", ColumnType.STRING, EncodingType.DICTIONARY)
        .add("plain_s", ColumnType.STRING, EncodingType.PLAIN)
    )
    rle = [1, 1, 1, 2, 2, 3, 3, 3, 3]
    delta = [1000, 1100, 1200, 1300, 1400, 1350, -5, 0, 7]
    dicts = ["north", "south", "north", "east", "south", "north", "x", "y", "z"]
    plain = ["hello", "world", "test", "data", "", "a", "bb", "ccc", "dddd"]
    rows = list(zip(rle, delta, dicts, plain))
    p = _write(spark, tmp_path, "enc.col", schema, rows)
    got = sorted(tuple(r) for r in colfile.read_col(spark, p).collect())
    assert got == sorted(rows)


def test_multi_row_group_and_stats(spark, tmp_path):
    schema = Schema().add("value", ColumnType.INT64)
    vals = [10, 5, 30, 15, 25]
    p = _write(
        spark, tmp_path, "stats.col", schema, [(v,) for v in vals], rows_per_group=2
    )
    meta_schema, row_groups, total = colfile.read_col_metadata(p)
    assert total == 5
    assert len(row_groups) == 3  # 2+2+1
    # stats_col fixture expectation: min 5 max 30 overall
    mins = [rg.chunks[0].page_headers[0].min_value for rg in row_groups]
    maxs = [rg.chunks[0].page_headers[0].max_value for rg in row_groups]
    assert min(mins) == 5 and max(maxs) == 30
    back = sorted(r["value"] for r in colfile.read_col(spark, p).collect())
    assert back == sorted(vals)


def test_projection_reads_subset(spark, tmp_path):
    schema = (
        Schema()
        .add("a", ColumnType.INT64)
        .add("b", ColumnType.INT32)
        .add("c", ColumnType.STRING, EncodingType.DICTIONARY)
    )
    rows = [(i, i * 2, f"s{i % 3}") for i in range(100)]
    p = _write(spark, tmp_path, "proj.col", schema, rows)
    back = colfile.read_col(spark, p, columns=["c", "a"])
    assert back.columns == ["c", "a"]
    assert back.count() == 100


def test_col_to_parquet(spark, tmp_path):
    schema = Schema().add("id", ColumnType.INT64).add(
        "region", ColumnType.STRING, EncodingType.DICTIONARY
    )
    rows = [(i, ["n", "s"][i % 2]) for i in range(50)]
    p = _write(spark, tmp_path, "conv.col", schema, rows)
    out = str(tmp_path / "conv.parquet")
    colfile.col_to_parquet(spark, p, out)
    assert spark.read.parquet(out).count() == 50


def test_corruption_clean_errors(spark, tmp_path):
    # mirrors cae/tests/test_corruption.cpp cases
    small = tmp_path / "small.col"
    small.write_bytes(b"short")
    with pytest.raises(colfile.ColFormatError, match="too small"):
        colfile.read_col_metadata(str(small))

    bad_header = tmp_path / "badhdr.col"
    bad_header.write_bytes(b"XXXX" + b"\0" * 30)
    with pytest.raises(colfile.ColFormatError, match="header magic"):
        colfile.read_col_metadata(str(bad_header))

    schema = Schema().add("id", ColumnType.INT64)
    good = _write(spark, tmp_path, "good.col", schema, [(1,), (2,)])
    raw = open(good, "rb").read()

    bad_footer = tmp_path / "badfoot.col"
    bad_footer.write_bytes(raw[:-12] + b"XXXX" + raw[-8:])
    with pytest.raises(colfile.ColFormatError, match="footer magic"):
        colfile.read_col_metadata(str(bad_footer))

    bad_offset = tmp_path / "badoff.col"
    bad_offset.write_bytes(
        raw[:-12] + struct.pack("<IQ", colfile.FOOTER_MAGIC, 10**12)
    )
    with pytest.raises(colfile.ColFormatError, match="offset out of range"):
        colfile.read_col_metadata(str(bad_offset))


def test_truncated_varint_rejected():
    with pytest.raises(colfile.ColFormatError, match="truncated varint"):
        colfile._decode_varint(b"\xac", 0)  # continuation bit set, no next byte
    with pytest.raises(colfile.ColFormatError, match="continuation overflow"):
        colfile._decode_varint(b"\xff" * 11, 0)


def test_varint_zigzag_examples():
    # FORMAT.md example: 300 encodes as [0xAC, 0x02]
    assert colfile._encode_varint(300) == b"\xac\x02"
    assert colfile._decode_varint(b"\xac\x02", 0) == (300, 2)
    for n in (0, 1, -1, 2**31, -(2**31), 2**62, -(2**62)):
        assert colfile._zigzag_decode(colfile._zigzag_encode(n)) == n


def test_empty_table_roundtrip(spark, tmp_path):
    """Zero-row writes produce pages with NO stats block (FORMAT.md makes
    min/max conditional on their flags) and zero-value RLE pages decode to
    [] instead of raising 'truncated varint'."""
    schema = Schema().add("id", ColumnType.INT64).add("name", ColumnType.STRING)
    p = _write(spark, tmp_path, "empty.col", schema, [])
    assert colfile.read_col(spark, p).count() == 0
    _, row_groups, _ = colfile.read_col_metadata(p)
    for rg in row_groups:
        for chunk in rg.chunks:
            for ph in chunk.page_headers:
                assert not ph.has_stats

    assert colfile._decode_rle_ints(b"", 0) == []


def test_stats_block_is_conditional():
    """A header with has_stats=1 but has_min=0 must pack without the 8-byte
    min field (reference layout) and unpack back to min=None."""
    ph = colfile.PageHeader(
        uncompressed_size=8, compressed_size=8, num_values=1,
        encoding=colfile.EncodingType.PLAIN.value, has_stats=True,
        min_value=None, max_value=7, null_count=0,
    )
    buf = ph.pack()
    assert len(buf) == ph.packed_size == 14 + 1 + (1 + 8) + 4
    back, end = colfile.PageHeader.unpack(buf, 0)
    assert end == len(buf)
    assert back.min_value is None and back.max_value == 7


# ------------------------------------------------------- property-based codecs

try:
    from hypothesis import given, settings, strategies as st

    _HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HYPOTHESIS = False

if _HYPOTHESIS:
    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    i32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)

    @given(st.lists(i64, max_size=300))
    @settings(max_examples=60, deadline=None)
    def test_prop_rle_roundtrip(vals):
        buf = colfile._encode_rle_ints(vals)
        assert colfile._decode_rle_ints(buf, len(vals)) == vals

    @given(st.lists(i32, max_size=300))
    @settings(max_examples=60, deadline=None)
    def test_prop_delta_roundtrip_i32(vals):
        buf = colfile._encode_delta_ints(vals, 4)
        assert colfile._decode_delta_ints(buf, len(vals), 4) == vals

    @given(st.lists(i64, max_size=300))
    @settings(max_examples=60, deadline=None)
    def test_prop_delta_roundtrip_i64(vals):
        buf = colfile._encode_delta_ints(vals, 8)
        assert colfile._decode_delta_ints(buf, len(vals), 8) == vals

    @given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
    @settings(max_examples=200, deadline=None)
    def test_prop_zigzag_involution(v):
        assert colfile._zigzag_decode(colfile._zigzag_encode(v)) == v
        assert colfile._zigzag_encode(v) >= 0

    @given(st.lists(st.text(max_size=40), max_size=120))
    @settings(max_examples=40, deadline=None)
    def test_prop_dictionary_roundtrip(vals):
        buf = colfile._encode_dictionary_strings(vals)
        assert colfile._decode_dictionary_strings(buf, len(vals)) == vals

    @given(st.lists(st.text(max_size=40), max_size=120))
    @settings(max_examples=40, deadline=None)
    def test_prop_plain_strings_roundtrip(vals):
        buf = colfile._encode_plain_strings(vals)
        assert colfile._decode_plain_strings(buf, len(vals)) == vals

    @given(st.binary(max_size=60))
    @settings(max_examples=120, deadline=None)
    def test_prop_corrupt_pages_never_crash(junk):
        """Arbitrary bytes must produce ColFormatError (or decode), never
        an unhandled struct/index error — the corruption contract."""
        for fn in (
            lambda: colfile._decode_rle_ints(junk, 10),
            lambda: colfile._decode_delta_ints(junk, 10, 8),
            lambda: colfile._decode_plain_ints(junk, 10, 8),
            lambda: colfile._decode_plain_strings(junk, 10),
            lambda: colfile._decode_dictionary_strings(junk, 10),
        ):
            try:
                fn()
            except colfile.ColFormatError:
                pass


def test_zone_map_page_skipping(spark, tmp_path):
    """Mirror of Predicate::canSkipPage (execution.cpp:48-71): row groups
    whose stats exclude the predicate are never decoded, and results equal
    an unskipped read + filter for every op."""
    # decision-table parity with the reference implementation
    can = colfile.can_skip_page
    assert can(10, 20, "eq", 5) and can(10, 20, "eq", 25)
    assert not can(10, 20, "eq", 15)
    assert not can(10, 20, "ne", 15)
    assert can(10, 20, "lt", 10) and not can(10, 20, "lt", 11)
    assert can(10, 20, "le", 9) and not can(10, 20, "le", 10)
    assert can(10, 20, "gt", 20) and not can(10, 20, "gt", 19)
    assert can(10, 20, "ge", 21) and not can(10, 20, "ge", 20)
    assert not can(None, 20, "eq", 5)

    schema = Schema().add("id", ColumnType.INT64).add("value", ColumnType.INT64)
    # sorted values, 10 rows/group → disjoint [lo, hi] per group
    rows = [(i, i * 10) for i in range(100)]
    p = _write(spark, tmp_path, "zmap.col", schema, rows, rows_per_group=10)
    _, row_groups, _ = colfile.read_col_metadata(p)

    skips = colfile._skippable_row_groups(row_groups, schema, ("value", "eq", 555))
    assert sum(skips) == len(row_groups) - 1  # exactly one group survives

    got = colfile.read_col(spark, p, predicate=("value", "eq", 550)).collect()
    assert [(r["id"], r["value"]) for r in got] == [(55, 550)]
    # range op across a group boundary
    got2 = colfile.read_col(spark, p, columns=["id"], predicate=("value", "ge", 985)).collect()
    assert sorted(r["id"] for r in got2) == [99]
    assert got2[0].asDict().keys() == {"id"}  # predicate column dropped again
    # a bad op or name fails on the driver, before Spark runs
    with pytest.raises(ValueError, match="eq ne lt le gt ge"):
        colfile.read_col(spark, p, predicate=("value", "zz", 1))
    with pytest.raises(KeyError, match="column not found"):
        colfile.read_col(spark, p, predicate=("nope", "gt", 1))
    with pytest.raises(KeyError, match="column not found"):
        colfile.read_col(spark, p, columns=["id", "nope"])


def test_col_datasource_partition_per_row_group(spark, tmp_path):
    """format('col') reads executor-parallel: one input partition per row
    group, values identical to the written frame."""
    from pyspark.sql import functions as F

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import (
        colfile,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.writer import (
        generate_synthetic,
    )

    df = generate_synthetic(spark, 20_000, seed=11)
    path = str(tmp_path / "ds.col")
    colfile.write_col(df, path, rows_per_group=5_000)
    register_col_datasource(spark)
    back = spark.read.format("col").load(path)
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 20_000
    assert (
        back.agg(F.sum("value"), F.sum("id")).first()
        == df.agg(F.sum("value"), F.sum("id")).first()
    )


def test_col_datasource_zone_map_partition_pruning(spark, tmp_path):
    """With data sorted on the predicate column, the predicate option
    prunes row groups BEFORE planning: fewer input partitions, exact
    residual rows."""
    from pyspark.sql import functions as F

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import (
        colfile,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )

    df = spark.range(20_000).select(
        F.col("id").cast("long").alias("id"),
        (F.col("id") * 2).cast("long").alias("v"),
    )
    path = str(tmp_path / "sorted.col")
    colfile.write_col(df.orderBy("id"), path, rows_per_group=5_000)
    register_col_datasource(spark)
    pruned = (
        spark.read.format("col")
        .option("predicate", "id ge 15000")
        .load(path)
    )
    assert pruned.rdd.getNumPartitions() == 1  # 3 of 4 groups skipped
    assert pruned.count() == 5_000
    assert pruned.agg(F.min("id")).first()[0] == 15_000
    # projection option prunes decoded chunks and the output schema
    proj = (
        spark.read.format("col")
        .option("columns", "v")
        .option("predicate", "id ge 15000")
        .load(path)
    )
    assert proj.columns == ["v"]
    assert proj.agg(F.min("v")).first()[0] == 30_000


def test_col_datasource_error_contract(spark, tmp_path):
    """Clean failures: missing load path and malformed predicate specs."""
    import pytest

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import (
        colfile,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.writer import (
        generate_synthetic,
    )

    register_col_datasource(spark)
    path = str(tmp_path / "e.col")
    colfile.write_col(generate_synthetic(spark, 100, seed=3), path)

    with pytest.raises(Exception):  # load() never called -> no path option
        spark.read.format("col").schema("id long").load().collect()
    with pytest.raises(Exception):  # malformed predicate spec
        spark.read.format("col").option("predicate", "value gt").load(path).collect()
    with pytest.raises(Exception):  # unknown column in predicate
        spark.read.format("col").option("predicate", "nope gt 1").load(path).collect()
    with pytest.raises(Exception, match="eq ne lt le gt ge"):  # unknown op token
        spark.read.format("col").option("predicate", "value zz 1").load(path).collect()
    with pytest.raises(Exception, match="not an integer column"):
        spark.read.format("col").option("predicate", "region eq 1").load(path).collect()


def test_col_stream_source_matches_batch(spark, tmp_path):
    """readStream.format('col') over a directory of .col files equals the
    batch union of those files (counts and exact sums)."""
    from pyspark.sql import functions as F

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import (
        streaming as S,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import (
        colfile,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.writer import (
        generate_synthetic,
    )

    d = tmp_path / "stream"
    d.mkdir()
    df = generate_synthetic(spark, 6_000, seed=21)
    for i in range(3):
        part = df.where((F.col("id") >= i * 2_000) & (F.col("id") < (i + 1) * 2_000))
        colfile.write_col(part, str(d / f"b_{i:03d}.col"), rows_per_group=500)
    register_col_datasource(spark)
    sdf = spark.readStream.format("col").load(str(d))
    agg = sdf.groupBy("region").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")
    )
    got = {
        r["region"]: (r["n"], r["sv"])
        for r in S.run_to_memory(
            agg, output_mode="complete", shuffle_partitions=4
        ).collect()
    }
    exp = {
        r["region"]: (r["n"], r["sv"])
        for r in df.groupBy("region")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    assert got == exp

    # the columns and predicate options act on the stream as on the batch read
    for opt, val, n in (("predicate", "id lt 100", 100), ("columns", "value", 6_000)):
        stream = spark.readStream.format("col").option(opt, val).load(str(d))
        batch = spark.read.format("col").option(opt, val).load(str(d))
        assert stream.columns == batch.columns
        got_rows = S.run_to_memory(stream, output_mode="append").collect()
        want_rows = batch.collect()
        assert len(want_rows) == n
        assert sorted(map(tuple, got_rows)) == sorted(map(tuple, want_rows))


def test_col_stream_sink_roundtrip(spark, tmp_path):
    """Stream .col -> .col: read a directory stream, write through the
    streaming sink (rename-as-commit), batch-read the sink directory
    back — values identical, no temp files left behind."""
    import os

    from pyspark.sql import functions as F

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import (
        colfile,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.writer import (
        generate_synthetic,
    )

    src = tmp_path / "src"
    src.mkdir()
    df = generate_synthetic(spark, 4_000, seed=31).select("id", "value", "region")
    for i in range(2):
        part = df.where((F.col("id") >= i * 2_000) & (F.col("id") < (i + 1) * 2_000))
        colfile.write_col(part, str(src / f"in_{i:03d}.col"), rows_per_group=500)
    register_col_datasource(spark)
    out = str(tmp_path / "sink")
    q = (
        spark.readStream.format("col")
        .load(str(src))
        .writeStream.format("col")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]
    back = spark.read.format("col").load(out)
    assert (
        back.agg(F.count(F.lit(1)), F.sum("value"), F.sum("id")).first()
        == df.agg(F.count(F.lit(1)), F.sum("value"), F.sum("id")).first()
    )


def test_col_datasource_empty_dir_clear_error(spark, tmp_path):
    """Reading an existing-but-empty directory fails with a clear message,
    not an opaque IndexError from indexing an empty listing."""
    import pytest

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )

    empty = tmp_path / "empty_dir"
    empty.mkdir()
    register_col_datasource(spark)
    with pytest.raises(Exception, match="no .col files yet"):
        spark.read.format("col").load(str(empty)).collect()


def test_write_col_rejects_oversized_input(spark, tmp_path):
    """write_col bounds driver memory: inputs past max_rows raise instead
    of collecting the whole frame onto the driver."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import (
        colfile,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.col_datasource import (
        register_col_datasource,
    )

    register_col_datasource(spark)
    df = spark.range(0, 100)
    with pytest.raises(ValueError, match="exceeds 50 rows"):
        colfile.write_col(df, str(tmp_path / "cap.col"), max_rows=50)
    # at the cap it still writes fine
    colfile.write_col(df.limit(50), str(tmp_path / "ok.col"), max_rows=50)
    assert spark.read.format("col").load(str(tmp_path / "ok.col")).count() == 50
