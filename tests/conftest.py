import os
import shutil
import tempfile
from urllib.parse import urlparse

import pytest

from data_warehouse_etl_spark.lake import LakeTable
from data_warehouse_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def tmp_lake():
    d = tempfile.mkdtemp(prefix="lake-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
SF_CORRECT = "/root/testdata/sf0.01"


def files_by_bucket(table_dir):
    """bucket -> sorted data-file paths of the table's current manifest."""
    out = {}
    for f in LakeTable.load(table_dir).manifest.files:
        out.setdefault(f["bucket"], []).append(os.path.join(table_dir, f["path"]))
    return {b: sorted(p) for b, p in out.items()}


def scanned_files(df, table_dir):
    """The files of ``table_dir`` that df's scans read."""
    paths = {urlparse(u).path for u in df.inputFiles()}
    return sorted(p for p in paths if p.startswith(table_dir + os.sep))
