#!/usr/bin/env python
"""Write each query's formatted physical plan to plans/<ROUND>/<name>_<TAG>.txt.

    python scripts/dump_plans.py ROUND TAG [NAME...]

e.g. ``python scripts/dump_plans.py r18 before``. NAMEs default to
``bench.py``'s HEADLINE minus streaming queries, which have no batch
plan to format. Tables come from ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 tables in ``perfbench/data/sf0.1``). Building a frame is mostly
plan-only, but queries with in-function collects or driver loops (e.g.
quantile_bisect_exact's radix passes) run real jobs on the way, and
only the final frame's plan is written.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from glue_etl_pyspark_spark.registry import load_all  # noqa: E402
from glue_etl_pyspark_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    round_, tag = sys.argv[1], sys.argv[2]
    specs = load_all()
    names = sys.argv[3:] or [n for n in HEADLINE if specs[n].category != "streaming"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "data", "sf0.1"))
    out_dir = os.path.join(ROOT, "plans", round_)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
