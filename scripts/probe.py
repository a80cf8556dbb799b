#!/usr/bin/env python
"""Scale probe: run registry queries on an N-times clone of the fixture
and print where the time went.

    python scripts/probe.py NAME... [--scale N]

The clone of ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 tables in
``perfbench/data/sf0.1``) is built once as ``spark_graft_probe_x<N>/``
under ``$SPARK_GRAFT_PROBE_DIR`` (default ``/tmp``) and reused. Fact
tables hold N copies of every row; copy ``c`` adds ``c * KEY_SHIFT`` to
each key in ``FACT_KEYS``, so copies never share a key while the
order/lineitem join stays inside one copy. Dimension tables are
symlinked, so each customer, part and supplier owns N times the facts,
as in a deployment that grew N-fold. A different clone shape is a
code change here, not a switch.

Each query runs through its registry ``fn`` and a noop write, as in
``bench.py``, on ``get_spark()`` (cores from ``SPARK_GRAFT_CPUS``).
One JSON line per query follows: the wall time, the top stages by
executor run time and the layer metrics of
``perfbench/tracing.window_metrics`` (``driver.jobs``, ``exec.tasks``,
``exchange.*_mb``, ``plan.broadcast_joins`` ...) from one REST
snapshot.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import tracing  # noqa: E402
from bench import materialize  # noqa: E402
from glue_etl_pyspark_spark.io import TABLE_NAMES  # noqa: E402

# Keys shifted per copy. Every other table is a dimension and is linked.
FACT_KEYS = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
# Larger than every sf0.1 key (max 149,999); shifted keys stay below
# 2^31 up to 2,000 copies.
KEY_SHIFT = 1_000_000
TOP_STAGES = 4


def clone_dir(scale: int) -> str:
    root = os.environ.get("SPARK_GRAFT_PROBE_DIR", "/tmp")
    return os.path.join(root, f"spark_graft_probe_x{scale}")


def build_clone(src: str, scale: int, out: str) -> str:
    """Write the ``scale``-fold clone of ``src`` to ``out`` (tables
    already there are kept) and return ``out``."""
    import duckdb

    os.makedirs(out, exist_ok=True)
    link = f"{out}/region.parquet"
    if os.path.lexists(link) and os.readlink(link) != os.path.abspath(f"{src}/region.parquet"):
        sys.exit(f"probe: {out} is a clone of another fixture; remove it first")
    for t in TABLE_NAMES:
        dst = f"{out}/{t}.parquet"
        if os.path.lexists(dst):
            continue
        if t not in FACT_KEYS or scale == 1:
            os.symlink(os.path.abspath(f"{src}/{t}.parquet"), dst)
            continue
        shifted = ", ".join(f"{k} + c * {KEY_SHIFT} AS {k}" for k in FACT_KEYS[t])
        with duckdb.connect() as con:
            con.execute(
                f"COPY (SELECT t.* REPLACE ({shifted}) "
                f"FROM read_parquet('{src}/{t}.parquet') t, range({scale}) r(c)) "
                f"TO '{dst}.tmp' (FORMAT parquet)"
            )
        os.rename(f"{dst}.tmp", dst)  # a cut build leaves no half table
    return out


def _settled_snapshot(rest: tracing.SparkRest, lo: float) -> dict:
    """A REST snapshot taken once every job submitted since ``lo`` shows
    as ended; the status listener trails the action by a few ms."""
    for _ in range(50):
        snap = rest.snapshot()
        if all(j.get("completionTime") for j in snap["jobs"]
               if (tracing.parse_ts(j.get("submissionTime")) or 0) >= lo - 1e-3):
            return snap
        time.sleep(0.1)
    return snap


def probe(spark, spec, sf_dir: str) -> dict:
    """Run one query to a noop sink and report its wall time, top
    stages and layer metrics."""
    spark.catalog.clearCache()
    t0 = time.time()
    materialize(spec.fn(spark, sf_dir))
    t1 = time.time()
    snap = _settled_snapshot(tracing.SparkRest(spark), t0)
    stages = [s for s in snap["stages"] if s["status"] != "SKIPPED"
              and t0 - 1e-3 <= (tracing.parse_ts(s.get("submissionTime")) or 0) <= t1 + 1e-3]
    stages.sort(key=lambda s: -s["executorRunTime"])
    top = [{
        "stage": s["stageId"],
        "name": s["name"].split("\n")[0][:70],
        "tasks": s["numTasks"],
        "run_s": round(s["executorRunTime"] / 1e3, 2),
        "input_mb": round(s["inputBytes"] / tracing.MIB, 1),
        "shuffle_read_mb": round(s["shuffleReadBytes"] / tracing.MIB, 1),
        "shuffle_write_mb": round(s["shuffleWriteBytes"] / tracing.MIB, 1),
    } for s in stages[:TOP_STAGES]]
    layers = tracing.window_metrics(t0, t1, snap, None)
    return {
        "query": spec.name,
        "wall_s": round(t1 - t0, 2),
        "top_stages": top,
        "layers": {k: round(v, 3) for k, v in layers.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--scale", type=int, default=1)
    args = ap.parse_args()

    from glue_etl_pyspark_spark.registry import load_all
    from glue_etl_pyspark_spark.session import get_spark

    specs = load_all()
    unknown = [n for n in args.names if n not in specs]
    if unknown:
        sys.exit(f"probe: unknown queries {unknown}")
    src = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "data", "sf0.1"))
    sf_dir = build_clone(src, args.scale, clone_dir(args.scale))
    spark = get_spark(app_name="probe")
    spark.sparkContext.setLogLevel("ERROR")
    box = {"scale": args.scale, "cores": spark.sparkContext.defaultParallelism}
    for name in args.names:
        box["load1"] = round(os.getloadavg()[0], 2)
        print(json.dumps({**box, **probe(spark, specs[name], sf_dir)}), flush=True)


if __name__ == "__main__":
    main()
