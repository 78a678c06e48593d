import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multi_table_plugins_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mtp-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "table")


@pytest.fixture()
def fail_next_merge_many(monkeypatch):
    """Returns ``arm()``: once armed, the next
    ``lakehouse.multi_merge.merge_many`` call raises (one shot), so the
    ``apply_cdc_batch`` running it takes its per-table fallback."""
    from multi_table_plugins_spark.lakehouse import multi_merge

    orig = multi_merge.merge_many

    def arm() -> None:
        def once(*a, **kw):
            monkeypatch.setattr(multi_merge, "merge_many", orig)
            raise RuntimeError("injected one-job apply failure")

        monkeypatch.setattr(multi_merge, "merge_many", once)

    return arm
