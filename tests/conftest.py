from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from rippledb_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Small core/partition counts: correctness tests run on tiny data and
    # 32-way shuffles would just add latency.
    s = get_spark(app_name="rippledb_spark_tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def snapshot_layout():
    """Read back a persisted snapshot file by file: a function from the
    snapshot's root and a sort key to ``[(codecs, in_order)]``, one pair
    per parquet file — the codecs its column chunks report, and whether
    its stored rows are ascending on ``key`` (NULLs first, as Spark
    sorts). Partition columns live in the directory names, so ``key``
    names data columns only."""
    import pyarrow.parquet as pq

    def read(root, key: list[str]) -> list[tuple[set[str], bool]]:
        out = []
        for f in sorted(Path(root).rglob("*.parquet")):
            pf = pq.ParquetFile(f)
            md = pf.metadata
            codecs = {
                md.row_group(i).column(j).compression
                for i in range(md.num_row_groups)
                for j in range(md.num_columns)
            }
            rows = pf.read(columns=key).to_pylist()
            keys = [tuple((r[c] is not None, r[c] or "") for c in key) for r in rows]
            out.append((codecs, keys == sorted(keys)))
        return out

    return read
