"""``build_session`` validates its environment knobs where it reads
them, naming the variable, instead of letting a malformed value
surface later as a Spark config parse error."""

from __future__ import annotations

import pytest

from kafka_jdbc_sink_connector_spark import session


@pytest.mark.parametrize("bad", ["", "64 k", "1.5m", "-64k", "64q", "k"])
def test_aqe_min_partition_rejects_malformed(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_AQE_MIN_PARTITION", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_AQE_MIN_PARTITION"):
        session.build_session()


@pytest.mark.parametrize("good", ["64k", "1m", "256K", "64kb", "1048576"])
def test_aqe_min_partition_accepts_byte_strings(monkeypatch, good):
    monkeypatch.setenv("SPARK_GRAFT_AQE_MIN_PARTITION", good)
    assert session._aqe_min_partition() == good.lower()


def test_aqe_min_partition_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_AQE_MIN_PARTITION", raising=False)
    assert session._aqe_min_partition() == "64k"
