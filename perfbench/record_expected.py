#!/usr/bin/env python3
"""Record the curation workload's expected results in expected.json.

Generates the benchmark tables, runs each curation query's registry
oracle on DuckDB over them, and stores the row count and the order-
insensitive hash that the benchmark's first warm-up pass compares
Spark's output to.
Re-run after changing ``gen.py``, the scale factor or the query set:

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from workloads import (  # noqa: E402
    CURATION, duckdb_views, frame_canonical, result_hash)


def main() -> None:
    from tajo_spark.queries.registry import all_queries

    queries = all_queries()
    with tempfile.TemporaryDirectory() as data:
        gen.write(data, run.SF)
        con = duckdb_views(data)
        out = {}
        for name in CURATION:
            out[name] = result_hash(
                frame_canonical(con.execute(queries[name].oracle).fetchdf()))
        con.close()
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({str(run.SF): out}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
