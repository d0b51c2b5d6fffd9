"""Plan contracts the optimizer and the query surface rely on.

- memoized handles (``queries._lazy_plan``) are immutable lazy plans:
  one object per (session, key), and never data (no cached relation,
  no checkpointed RDD under them);
- a Python UDF runs in exactly one ArrowEvalPython node. Without
  ``asNondeterministic`` on the ANN bucket/assignment UDFs, Catalyst's
  inferred ``isnotnull(join key)`` clones the UDF call into a pushed
  filter and the plan evaluates the same matmul twice.
"""

import os
import re
from collections import Counter

import pytest

from georeader_spark import queries as Q


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


#: memoized builder -> its key for a given sf_dir
MEMOS = {
    "_pq": (Q._pq, lambda sf: f"{sf}/events.parquet"),
    "_points": (Q._points, lambda sf: sf),
    "q_transform_crs": (Q.q_transform_crs, lambda sf: sf),
    "q_transform_crs_families": (Q.q_transform_crs_families, lambda sf: sf),
}


@pytest.fixture(scope="module")
def other_sf_dir(sf_dir, tmp_path_factory):
    """The same tables under a second path: a different memo key."""
    link = tmp_path_factory.mktemp("memo") / "sf"
    os.symlink(sf_dir, link)
    return str(link)


class TestHandleMemo:
    @pytest.mark.parametrize("name", sorted(MEMOS))
    def test_one_handle_per_session_and_key(self, spark, sf_dir, other_sf_dir, name):
        fn, key = MEMOS[name]
        a = fn(spark, key(sf_dir))
        assert fn(spark, key(sf_dir)) is a
        b = fn(spark, key(other_sf_dir))
        assert b is not a
        assert fn(spark, key(other_sf_dir)) is b

    @pytest.mark.parametrize("name", sorted(MEMOS))
    def test_handle_holds_no_data(self, spark, sf_dir, name):
        fn, key = MEMOS[name]
        plan = _optimized(fn(spark, key(sf_dir)))
        # .cache() surfaces as InMemoryRelation, a (local)checkpoint as
        # a LogicalRDD over the materialized blocks
        assert "InMemoryRelation" not in plan, plan[:2000]
        assert "LogicalRDD" not in plan, plan[:2000]

    def test_checkpoint_is_detected(self, spark, sf_dir):
        """Control: the LogicalRDD probe above is not vacuous."""
        cut = Q._points(spark, sf_dir).localCheckpoint(eager=False)
        assert "LogicalRDD" in _optimized(cut)


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize(
    "name,udfs",
    [
        # corpus and query sides each bucket once
        ("ann_lsh_topk", ["buckets_udf", "buckets_udf"]),
        # queries probe n lists, the corpus is assigned to one list
        ("ann_ivf_topk", ["one_udf", "probe_udf"]),
    ],
)
def test_one_arrow_eval_per_udf(spark, sf_dir, name, udfs):
    df = Q.REGISTRY[name][0](spark, sf_dir)
    df.collect()
    plan = _final_plan(df)
    nodes = re.findall(r"ArrowEvalPython \[(.*?)\], \[", plan)
    calls = [c for node in nodes for c in re.findall(r"\w+\(.*?\)#\d+", node)]
    # every UDF call (identified by its result id) is evaluated by one
    # node: a clone repeats the call id in a second node
    assert max(Counter(calls).values()) == 1, plan
    assert len(nodes) == len(udfs), plan
    assert sorted(c.split("(")[0] for c in calls) == udfs, plan


def test_flagship_plan_is_python_free_and_extracts_once(spark, tmp_path):
    """The flagship, in perfbench's shape (parquet pages, no
    repartition): no relation is a Python RDD, no Python UDF runs, and
    the html decode and the geotag regex each appear once in the
    executed plan. A second copy of either means it runs twice per row
    (codegen CSE does not share subtrees across CASE branches)."""
    from georeader_spark.pipeline import pages_pipeline
    from georeader_spark.sources.pages import pages

    path = str(tmp_path / "pages.parquet")
    pages(spark, 500).write.parquet(path)
    df = pages_pipeline(spark, pages_df=spark.read.parquet(path), repartition=False)
    assert sum(r["n_pages"] for r in df.collect()) > 0
    plan = _final_plan(df)
    assert "Scan ExistingRDD" not in plan, plan
    assert "LogicalRDD" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("StringDecode.decode(") == 1, plan
    assert plan.count("regexp_extract(") == 1, plan
