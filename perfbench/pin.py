"""Record the row count and output hash of every ``parquet_mix`` op type
into ``pins.json``, the values the benchmark checks each op against.

Run it only after the same queries match their DuckDB oracles at sf0.01,
for example ``python tools/check_oracle.py <sf0.01 dir> <query> ...``, and
only over ``perfbench/data/sf0.01``. Each query runs twice and must give
the same pin both times.

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import sys

import runenv


def main() -> int:
    runenv.configure()
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import all_queries

    from parquet_mix import PINS, QUERIES, SF_DIR, observe_all

    spark = get_spark("perfbench-pin")
    try:
        registry = all_queries()
        pins = {}
        for name in QUERIES:
            first, second = (observe_all(registry[name](spark, SF_DIR)) for _ in range(2))
            if first != second:
                print(f"error: {name} is not deterministic: {first} vs {second}", file=sys.stderr)
                return 1
            pins[name] = first
            print(name, first, file=sys.stderr)
    finally:
        runenv.shutdown(spark)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
