"""Workload ``parquet_mix``: registry queries over parquet, no ``.col``.

One op is the registry builder call ``all_queries()[name](spark, sf_dir)``
plus a ``noop`` materialize that observes the row count and an
order-insensitive hash of the output. The op types are the ``bench.py``
queries except ``dedup_minhash_lsh``, plus ``dedup_ngram_jaccard``: the
``operators.dedup`` op in the mix is the inverted-index exact-Jaccard
engine, the one behind the heavy dedup walls. ``dedup_minhash_lsh`` is left
out because its first (warm-up) run alone costs about 7 s, which the
benchmark's time budget cannot carry on top of every other op.

The inputs are the sf0.01 test tables described in TESTDATA.md, copied byte
for byte into ``perfbench/data/sf0.01`` (only the tables these queries read)
so the run reads nothing outside the checkout.

Each op's result is checked against ``pins.json``: row counts and hashes
recorded by ``pin.py`` after the same queries matched their DuckDB oracles
(``workloads.all_oracles()``) at sf0.01.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Observation, functions as F

from loop import Op, run_op

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "pins.json")

QUERIES = (
    # the four reference shapes
    "parity_full_scan",
    "parity_filtered_scan",
    "parity_aggregate",
    "parity_group_by",
    # the bench.py extensions
    "tpch_q1",
    "join_multiway",
    "window_topk_per_group",
    "sort_top_k",
    "sim_topk_bruteforce",
    "text_quality",
    "stream_tumbling_window",
    # operators.dedup
    "dedup_ngram_jaccard",
)


def observe_all(df) -> dict:
    """Materialize ``df`` into the noop sink; return its row count and the
    sum of a per-row hash over every column (order-insensitive)."""
    row = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]), F.lit(1 << 32))
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(row).alias("hash")).write.format(
        "noop"
    ).mode("overwrite").save()
    got = obs.get
    return {"rows": got["rows"], "hash": got["hash"]}


def check_pin(name: str, got: dict, pins: dict) -> str | None:
    want = pins[name]
    if got == want:
        return None
    return f"{name}: got {got}, expected {want}"


class ParquetMix:
    name = "parquet_mix"

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark  # the seed only orders the ops (loop.Loop)

    def setup(self, tracer) -> list[Op]:
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import streaming
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog
        from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import all_queries
        from tracing import rebind, restore

        with open(PINS) as f:
            pins = json.load(f)
        builders = all_queries()
        spark = self.spark

        def op(name: str) -> Op:
            build = builders[name]
            return Op(
                name,
                lambda: build(spark, SF_DIR),
                observe_all,
                lambda got: check_pin(name, got, pins),
                0,
            )

        # Warm-up, one untimed op of each type, noting the input files each
        # op type reads (for scan_mb_per_s).
        seen: set[str] = set()

        def load_table(spark_, sf_dir, name, *args, **kwargs):
            seen.add(f"{name}.parquet")
            return real_load(spark_, sf_dir, name, *args, **kwargs)

        def events_stream(spark_, sf_dir, *args, **kwargs):
            seen.add("events.parquet")
            return real_events(spark_, sf_dir, *args, **kwargs)

        prefix = catalog.__name__.split(".")[0]
        real_load, real_events = catalog.load_table, streaming.events_stream
        undo = rebind(real_load, load_table, prefix) + rebind(real_events, events_stream, prefix)
        ops = []
        try:
            for i, name in enumerate(QUERIES):
                seen.clear()
                o = op(name)
                sample = run_op(o, -1 - i, tracer)
                if sample.error is not None:
                    raise RuntimeError(f"warm-up {name}: {sample.error}")
                o.input_bytes = sum(os.path.getsize(os.path.join(SF_DIR, f)) for f in seen)
                ops.append(o)
        finally:
            restore(undo)
        return ops
