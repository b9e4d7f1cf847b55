import sys

sys.path.insert(0, "/root/repo")

import numpy as np
import pytest

from cross_modal_multivector_search_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cmms-tests", shuffle_partitions=8)
    yield s
    s.stop()


def plan_text(df) -> str:
    """The physical plan Spark would run for ``df``."""
    return df._jdf.queryExecution().executedPlan().toString()


def is_in_task(df) -> bool:
    """A two-phase search plan that reranks inside the search task: no
    join and no window (the ``rerank.rerank`` path has both)."""
    plan = plan_text(df)
    return "Window" not in plan and "Join" not in plan


def assert_same_ranking(got, want):
    """Same (query_set_id, rank, data_set_id) rows and column types,
    scores within 1e-12."""
    assert got.columns == want.columns
    assert [f.dataType for f in got.schema] == \
        [f.dataType for f in want.schema]
    key = ["query_set_id", "rank"]
    a = got.toPandas().sort_values(key).reset_index(drop=True)
    b = want.toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) and len(a) == len(b)
    cols = ["query_set_id", "rank", "data_set_id"]
    assert (a[cols] == b[cols]).all().all()
    assert np.abs(a["score"] - b["score"]).max() <= 1e-12
