import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from console_log_parser_spark.session import get_spark
    s = get_spark(app="tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def small_dataset(tmp_path_factory):
    """Deterministic tokenized_logs + route_metadata parquet (300 docs)."""
    from console_log_parser_spark import datagen
    d = tmp_path_factory.mktemp("data")
    datagen.generate(str(d), n_docs=300)
    return str(d)
