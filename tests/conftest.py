import os

import pytest

from osm_chordify_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # one local core per CPU this host grants; shuffle partitions follow
    # the package's own rule
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    s = get_spark(app_name="tests", master=f"local[{cpus}]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"create view {t} as select * from '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
