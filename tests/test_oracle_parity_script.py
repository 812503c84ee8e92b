"""scripts/check_oracle_parity.py stops at the first lost JVM connection."""

from __future__ import annotations

import os
import sys

import pytest
from py4j.protocol import Py4JNetworkError

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

import check_oracle_parity  # noqa: E402


class _Rows:
    columns = ["x"]

    def collect(self):
        return [(1,)]


@pytest.mark.parametrize("lost", [
    Py4JNetworkError("An error occurred while trying to connect"),
    ConnectionRefusedError(111, "Connection refused"),
])
def test_lost_jvm_stops_the_run(capsys, lost):
    ran = []

    def ok(name):
        def q(spark, sf):
            ran.append(name)
            return _Rows()
        return q

    def dead(spark, sf):
        ran.append("dead")
        raise lost

    qs = {"first": ok("first"), "dead": dead, "later": ok("later"),
          "last": ok("last")}
    with pytest.raises(SystemExit) as exit_:
        check_oracle_parity.check_queries(None, None, qs, {}, list(qs), "sf")
    assert exit_.value.code == 2
    assert ran == ["first", "dead"]
    out = capsys.readouterr().out.splitlines()
    assert out[-1].startswith("ABORT dead: lost the Spark JVM")
    assert "2 later queries not run" in out[-1]


def test_sf_without_tables_stops_before_spark(tmp_path, monkeypatch, capsys):
    started = []
    monkeypatch.setattr("hdfs_with_pyspark_spark.session.get_spark",
                        lambda *a, **k: started.append(a))
    # importing the driver contract would load the whole registry
    monkeypatch.setitem(sys.modules, "__spark_entry__", None)
    monkeypatch.setattr(sys, "argv", ["check_oracle_parity.py",
                                      "--sf", str(tmp_path / "sf0.001")])
    with pytest.raises(SystemExit) as exit_:
        check_oracle_parity.main()
    assert exit_.value.code == 2
    assert started == []
    assert "region.parquet" in capsys.readouterr().err
