"""Session factory: environment switches parse every harmless spelling."""

import pytest

from xcrawl3r_spark.session import get_spark

SMJ = "spark.sql.join.preferSortMergeJoin"


@pytest.mark.parametrize("raw, want", [
    ("1", "true"), ("yes", "true"), ("TRUE", "true"), (" On ", "true"),
    ("0", "false"), ("no", "false"), ("", "false"), ("bogus", "false"),
])
def test_prefer_smj_env_any_spelling(spark, monkeypatch, raw, want):
    """A truthy spelling turns sort-merge joins on, anything else leaves
    the default; none of them fails the session start (Spark's boolean
    conf alone rejects ``1`` and ``yes``)."""
    before = spark.conf.get(SMJ)
    monkeypatch.setenv("XCRAWL3R_PREFER_SMJ", raw)
    try:
        # getOrCreate hands back the test session with the runtime conf
        # re-applied, exactly as a fresh session start would set it
        s = get_spark(app="xcrawl3r_spark_tests", master="local[4]",
                      shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": "4g"})
        assert s.conf.get(SMJ) == want
    finally:
        spark.conf.set(SMJ, before)


def test_env_flag_unset_is_false(monkeypatch):
    from xcrawl3r_spark.session import env_flag

    monkeypatch.delenv("XCRAWL3R_PREFER_SMJ", raising=False)
    assert env_flag("XCRAWL3R_PREFER_SMJ") is False
