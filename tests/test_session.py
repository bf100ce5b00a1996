"""``session.configure`` on a session whose confs cannot all be set."""

from __future__ import annotations

import pytest

from pyspark_excel_datasource_spark.session import (
    CRITICAL_CONFS,
    RUNTIME_CONFS,
    configure,
)


class _Conf:
    def __init__(self, refused: set[str]):
        self.refused = refused
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key in self.refused:
            raise RuntimeError(f"cannot modify the value of {key}")
        self.values[key] = value


class _Session:
    def __init__(self, refused: set[str]):
        self.conf = _Conf(refused)


def test_critical_confs_are_runtime_confs():
    assert CRITICAL_CONFS < set(RUNTIME_CONFS)


@pytest.mark.parametrize("key", sorted(CRITICAL_CONFS))
def test_refused_critical_conf_raises(key):
    with pytest.raises(RuntimeError, match=key) as err:
        configure(_Session({key}))
    assert "cannot modify" in str(err.value.__cause__)


def test_refused_tuning_confs_are_skipped():
    tuning = set(RUNTIME_CONFS) - CRITICAL_CONFS
    spark = _Session(tuning)
    assert configure(spark) is spark
    assert spark.conf.values == {k: RUNTIME_CONFS[k] for k in CRITICAL_CONFS}
