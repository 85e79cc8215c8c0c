from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from sql_data_warehouse_samples_spark.session import (
        build_session,
        default_parallelism,
    )

    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = build_session(
        app_name="sdw-spark-tests",
        # at most local[8], NOT local[32] (r13, VERDICT r12 item 9 —
        # pytest wall time): the suite runs at sf0.01/sf0.001 where almost every stage
        # is task-dispatch-bound, so fewer default partitions make the
        # e2e ledger/maintenance suites ~24% faster (test_round11: 173 s
        # at 32 → 132 s at 8; 4 cpus measured the same as 8, 16 halves
        # the win).  The handful of genuinely CPU-parallel tests (BPE
        # corpus trains) pay a bounded penalty (~+17 s total) against a
        # multi-minute suite-wide win.  Correctness is unaffected — the
        # spread/plan-lock tests only need parallelism ≥ 4.  Capped by
        # SPARK_GRAFT_CPUS / the CPUs this process may run on.
        master=f"local[{min(8, default_parallelism())}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh}",
        },
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.fixture
def objstore():
    """Simulate an object store over ``file://``: the scheme is treated as
    an object-store scheme (pointer commits become direct PUTs) and the
    Hadoop backend's rename raises, so any code path that still renames
    fails the test instead of silently depending on a primitive object
    stores don't have.  Patched in its own context, so a test's own
    ``monkeypatch.undo()`` leaves the simulation in place."""
    from sql_data_warehouse_samples_spark.operators import dirswap as D

    def _forbidden(self, src, dst):
        raise AssertionError(
            f"rename on simulated object store: {src} -> {dst}"
        )

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(D, "_OBJECT_STORE_SCHEMES", D._OBJECT_STORE_SCHEMES | {"file"})
        mp.setattr(D._HadoopFs, "rename_overwrite", _forbidden)
        yield
