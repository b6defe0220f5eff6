"""Session factory configuration: bad SPARK_GRAFT_CONF_JSON fails with an
error that names the variable."""

from __future__ import annotations

import pytest

from firebase_realtime_database_backup_spark.session import get_spark


@pytest.mark.parametrize("value", ["[1, 2]", '"local[2]"', "42", "{not json"])
def test_conf_json_must_be_an_object(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CONF_JSON"):
        get_spark()
