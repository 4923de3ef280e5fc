"""``session.session_conf``: a scoped runtime-conf override restores every
key it touched, whether the key was set or unset before the block."""

from __future__ import annotations

import pytest

from bigdata_carprice_assignment_spark.session import session_conf

SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.graft.test.sessionConfProbe"


def _overrides(spark) -> dict[str, str]:
    before = spark.conf.get(SET_KEY)
    assert spark.conf.get(UNSET_KEY, None) is None
    return {SET_KEY: str(int(before) + 3), UNSET_KEY: "on"}


def test_session_conf_restores_set_and_unset_keys(spark):
    before = spark.conf.get(SET_KEY)
    confs = _overrides(spark)
    with session_conf(spark, confs):
        assert spark.conf.get(SET_KEY) == confs[SET_KEY]
        assert spark.conf.get(UNSET_KEY) == "on"
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


def test_session_conf_restores_when_body_raises(spark):
    before = spark.conf.get(SET_KEY)
    confs = _overrides(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with session_conf(spark, confs):
            assert spark.conf.get(UNSET_KEY) == "on"
            raise RuntimeError("boom")
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None
