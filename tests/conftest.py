import pyarrow.dataset as ds
import pytest

from firebase_realtime_database_backup_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    return get_spark(
        app_name="frdb-spark-tests",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


@pytest.fixture(scope="session")
def tree_dataset():
    """Turn a tree DataFrame into the `pyarrow.dataset.Dataset` that
    `sinks.writeback.writeback` reads."""
    return lambda df: ds.dataset(df.toArrow())
