import os
import sys

import pytest

# the repository root, so ``perfbench`` and the engine package import
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def spark():
    from firebase_realtime_database_backup_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests", shuffle_partitions=2)
    yield session
    session.stop()
