"""Session-conf scoping (functions/scale.py): ``scoped_conf`` restores or
unsets on every exit path, and ``loop_shuffle_partitions`` applies the
size-adaptive loop rule inside its block only. Conf reads and writes
only — no Spark jobs."""

from __future__ import annotations

import pytest

from prefect_flow_arc_alto_to_json_spark.functions.scale import (
    loop_shuffle_partitions,
    scoped_conf,
)

SP = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def test_scoped_conf_restores_when_the_block_raises(spark):
    before = spark.conf.get(SP)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, SP, "3"):
            assert spark.conf.get(SP) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(SP) == before


def test_scoped_conf_unsets_a_key_that_was_never_set(spark):
    assert spark.conf.get(PROVIDER, None) is None
    with scoped_conf(spark, PROVIDER, "custom.Provider"):
        assert spark.conf.get(PROVIDER) == "custom.Provider"
    assert spark.conf.get(PROVIDER, None) is None
    assert PROVIDER not in spark.conf.getAll


def test_scoped_conf_none_does_nothing(spark):
    before = spark.conf.getAll
    with scoped_conf(spark, PROVIDER, None):
        assert spark.conf.getAll == before
    with scoped_conf(spark, SP, None):
        assert spark.conf.getAll == before
    assert spark.conf.getAll == before


def test_loop_shuffle_partitions_rule(spark):
    before = spark.conf.getAll
    current = int(spark.conf.get(SP))
    # small loop state: max(4, min(current, n // 50_000 + 4)) partitions
    for n in (0, 300, 50_000 * (current - 4)):
        with loop_shuffle_partitions(spark, n):
            assert int(spark.conf.get(SP)) == max(4, min(current, n // 50_000 + 4))
        assert spark.conf.getAll == before
    # large loop state: the session value stands
    with loop_shuffle_partitions(spark, 50_000 * current):
        assert spark.conf.getAll == before
    assert spark.conf.getAll == before
