import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from sparkkd.envtune import disable_thp

    disable_thp()

    s = (
        SparkSession.builder.master("local[8]")
        .appName("sparkkd-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf0001_fixtures():
    from sparkkd import synth

    return synth.ensure_fixtures("sf0.001")


@pytest.fixture
def force_group_splits(monkeypatch):
    """Returns force(): from then on the shared second-phase split planner
    (engine._split_heavy_cogroups, used by all six metric joins) splits
    every group it can — target 1, >= 2 candidate rows per subgroup.
    force() returns the per-planner-call list of whether the gsalt fan-out
    actually ran, so a test can prove it did not silently stay unsplit."""
    from sparkkd import engine

    orig = engine._split_heavy_cogroups
    fanned: list[bool] = []

    def planner(spark_, cand, corpus, part_rows, split_target, min_rows_per_split=64):
        c, p = orig(spark_, cand, corpus, part_rows, 1, min_rows_per_split=2)
        fanned.append("gsalt" in c.columns)
        return c, p

    def force() -> list[bool]:
        monkeypatch.setattr(engine, "_split_heavy_cogroups", planner)
        return fanned

    return force
