"""scripts/probe.py keeps working: its clone keeps row counts, key
disjointness and FK joins, and its trace reads the session's jobs."""

from __future__ import annotations

import importlib.util
import pathlib

import duckdb
import pytest

SCALE = 2


@pytest.fixture(scope="module")
def probe():
    path = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "probe.py"
    spec = importlib.util.spec_from_file_location("probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def clone(probe, smoke_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("probe") / f"x{SCALE}")
    return probe.build_clone(smoke_dir, SCALE, out)


@pytest.fixture(scope="module")
def one():
    con = duckdb.connect()
    yield lambda sql: con.execute(sql).fetchone()[0]
    con.close()


def test_clone_copies_facts_with_disjoint_keys(probe, smoke_dir, clone, one):
    for t, keys in probe.FACT_KEYS.items():
        src, dst = f"read_parquet('{smoke_dir}/{t}.parquet')", f"read_parquet('{clone}/{t}.parquet')"
        assert one(f"SELECT count(*) FROM {dst}") == SCALE * one(f"SELECT count(*) FROM {src}"), t
        for k in keys:
            assert one(f"SELECT max({k}) FROM {src}") < probe.KEY_SHIFT, (t, k)
            n_src = one(f"SELECT count(DISTINCT {k}) FROM {src}")
            assert one(f"SELECT count(DISTINCT {k}) FROM {dst}") == SCALE * n_src, (t, k)
            # copy c holds exactly the source keys shifted by c * KEY_SHIFT
            stray = one(f"""SELECT count(*) FROM (
                SELECT DISTINCT {k} % {probe.KEY_SHIFT} AS k FROM {dst}
                EXCEPT SELECT DISTINCT {k} FROM {src})""")
            assert stray == 0, (t, k)


def test_clone_keeps_dimensions(probe, smoke_dir, clone, one):
    from glue_etl_pyspark_spark.io import TABLE_NAMES

    for t in set(TABLE_NAMES) - set(probe.FACT_KEYS):
        src, dst = f"read_parquet('{smoke_dir}/{t}.parquet')", f"read_parquet('{clone}/{t}.parquet')"
        assert one(f"SELECT count(*) FROM {dst}") == one(f"SELECT count(*) FROM {src}"), t
        assert one(f"SELECT count(*) FROM (FROM {dst} EXCEPT ALL FROM {src})") == 0, t


def test_clone_keeps_fk_joins(spark, smoke_dir, clone, one):
    from glue_etl_pyspark_spark.parity import check_query

    join = """SELECT count(*) FROM read_parquet('{0}/lineitem.parquet') l
              JOIN read_parquet('{0}/orders.parquet') o ON l_orderkey = o_orderkey"""
    assert one(join.format(clone)) == SCALE * one(join.format(smoke_dir))

    res = check_query(spark, clone, "join_multiway_revenue")
    assert res.ok, res.detail
    assert res.spark_rows > 0


def test_probe_reports_jobs(probe, spark, clone):
    from glue_etl_pyspark_spark.registry import load_all

    out = probe.probe(spark, load_all()["q1_pricing_summary"], clone)
    assert out["wall_s"] > 0
    assert out["helpers_cpu_s"] >= 0
    assert out["layers"]["driver.jobs"] >= 1
    assert out["top_stages"] and out["top_stages"][0]["tasks"] >= 1


def test_clone_is_shared_by_identical_fixtures(probe, smoke_dir, clone, tmp_path):
    """A second checkout whose fixture has the same bytes reuses the
    clone: it is matched by content, not by the link's path."""
    import shutil

    twin = tmp_path / "twin_fixture"
    twin.mkdir()
    for t in probe.TABLE_NAMES:
        shutil.copy(f"{smoke_dir}/{t}.parquet", twin / f"{t}.parquet")
    assert probe.build_clone(str(twin), SCALE, clone) == clone


def test_clone_of_another_scale_factor_exits(probe, sf_dir, clone):
    """Region and nation read back the same at every scale factor; the
    dimensions that grow with it still tell the fixtures apart."""
    with pytest.raises(SystemExit, match="clone of another fixture"):
        probe.build_clone(sf_dir, SCALE, clone)


def test_clone_linked_into_a_deleted_checkout_exits(probe, smoke_dir, tmp_path):
    import shutil

    gone = tmp_path / "gone_fixture"
    shutil.copytree(smoke_dir, gone)
    out = str(tmp_path / "orphan")
    probe.build_clone(str(gone), 1, out)
    shutil.rmtree(gone)
    with pytest.raises(SystemExit, match="clone of another fixture"):
        probe.build_clone(smoke_dir, 1, out)


def test_reaped_children_cpu_matches_os_times(probe):
    """helpers_cpu_s reads the same reaped-child CPU the kernel reports
    to the parent itself."""
    import os
    import subprocess
    import sys

    before, t0 = probe.reaped_children_cpu_s(os.getpid()), os.times()
    subprocess.run([sys.executable, "-c", "sum(range(3 * 10**7))"], check=True)
    after, t1 = probe.reaped_children_cpu_s(os.getpid()), os.times()
    own = t1.children_user + t1.children_system - t0.children_user - t0.children_system
    assert own > 0.1
    assert after - before == pytest.approx(own, abs=2 / probe.CLK_TCK)
