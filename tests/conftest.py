import os
import pathlib

import pytest

from geobuf_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
# the suite's inputs are small: a bounded driver heap keeps the test JVM
# (and the job subprocesses, which inherit the environment) from growing
# toward the 24g session default and out of the machine's memory
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
# checkout of the reference implementation, beside this repository
REFERENCE = pathlib.Path(__file__).resolve().parents[2] / "reference"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("geobuf_spark_tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def gb_decode(spark):
    """frames → their spark_codec.decode_features_fast rows, in order."""
    from geobuf_spark.codec import spark_codec

    def _decode(frames):
        df = spark.createDataFrame(
            [(bytearray(f),) for f in frames], "geobuf binary").coalesce(1)
        return spark_codec.decode_features_fast(df).collect()
    return _decode


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED


@pytest.fixture(scope="session")
def reference_file():
    """name → path of a file in the reference checkout's test_data/. The
    calling test skips, naming the file, when the reference checkout or
    the file is not present."""
    def _path(name: str) -> str:
        path = REFERENCE / "test_data" / name
        if not path.exists():
            pytest.skip(f"reference data file not present: {path}")
        return str(path)
    return _path
