from __future__ import annotations

import pytest

from hg_data_pipelines_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def reliable_cuts(spark, tmp_path):
    """Reliable lineage cuts for the rest of one test.

    Calling the fixture's value sets the session's checkpoint directory,
    so every ``cut_lineage`` writes a reliable checkpoint there, and
    returns that directory. Teardown clears it again: ``spark`` is
    session-scoped, and a directory left set would make every later
    test's cuts reliable.
    """
    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"

    def enable():
        sc.setCheckpointDir(str(ckpt))
        return ckpt

    yield enable
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))


@pytest.fixture(scope="session", autouse=True)
def landed_schema_is_inferred_schema():
    """``Pipeline.run`` re-reads each landed stage with the schema its write
    produced, inferring nothing. For every pipeline any test runs, check
    that schema against what Parquet inference returns for the same path."""
    from hg_data_pipelines_spark import jobs

    read = jobs.read_parquet

    def checked(spark, *paths, **kw):
        df = read(spark, *paths, **kw)
        inferred = spark.read.parquet(*paths).schema
        assert df.schema == inferred, (paths, df.schema, inferred)
        return df

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(jobs, "read_parquet", checked)
        yield


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
