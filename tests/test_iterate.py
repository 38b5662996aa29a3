"""operators/iterate.py: the loop primitive checkpoints on its cadence,
tests convergence inside the checkpoint job, and keeps only the state it
returns; the registered iterative queries leave at most that state
behind after ``clearCache()``."""

import sys

import pytest
from pyspark.sql import functions as F

from finance_etl_spark import plans
from finance_etl_spark.operators.components import connected_components
from finance_etl_spark.operators.iterate import iterate

ITERATIVE = (
    "cur_dedup_components",
    "cur_dedup_survivors",
    "cur_entity_resolution",
    "graph_community_labelprop",
    "graph_components_star",
    "mm_image_dedup_clusters",
    "graph_pagerank_trade",
    "graph_kcore_peel",
    "graph_ktruss_peel2",
    "text_bpe_train_merges",
    "text_bpe_encode",
    "vec_kmeans_clusters",
    "vec_semantic_dedup",
    "vec_mmr_unrolled",
)


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _bump(seen):
    def step(state, i):
        seen.append(i)
        return state.withColumn("v", F.least(F.col("v") + 1, F.lit(3)))

    return step


def test_checkpoints_on_cadence_and_keeps_only_the_result(spark, count_jobs):
    seen = []
    before = _persistent(spark)
    init = spark.range(4).withColumn("v", F.lit(0))
    out, jobs = count_jobs(lambda: iterate(init, _bump(seen), 7, checkpoint_every=3))
    assert seen == list(range(7))
    assert jobs == 4  # init, rounds 3 and 6, and the last round
    assert len(_persistent(spark) - before) == 1
    assert {r.v for r in out.collect()} == {3}


@pytest.mark.parametrize(
    "until",
    [lambda: F.max("v"), lambda: (F.count(F.lit(1)), F.sum("v"))],
    ids=["column", "tuple"],
)
def test_until_is_observed_on_the_checkpoint_job(spark, count_jobs, until):
    seen = []
    before = _persistent(spark)
    init = spark.range(4).withColumn("v", F.lit(0))
    out, jobs = count_jobs(lambda: iterate(init, _bump(seen), 10, until=until()))
    # v: 0 -> 1 -> 2 -> 3 -> 3, the repeat ends the loop
    assert seen == [0, 1, 2, 3]
    assert jobs == 5  # one checkpoint each, no separate convergence job
    assert len(_persistent(spark) - before) == 1
    assert {r.v for r in out.collect()} == {3}


def test_step_returning_its_input_ends_the_loop(spark):
    seen = []
    bump = _bump(seen)
    init = spark.range(4).withColumn("v", F.lit(0))
    out = iterate(init, lambda s, i: s if i == 2 else bump(s, i), 10)
    assert seen == [0, 1]
    assert {r.v for r in out.collect()} == {2}


def test_unconverged_loop_leaves_nothing_behind(spark):
    before = _persistent(spark)
    path = spark.createDataFrame([(i, i + 1) for i in range(1, 10)], "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(path, max_rounds=1)
    assert _persistent(spark) - before == set()


def test_iterative_queries_leave_one_state_per_loop(spark, sf_dir, monkeypatch):
    """Built and sunk back to back in one session, each query leaves at
    most one persistent RDD per ``iterate`` call after clearCache()."""
    plans.all_queries()  # imports every plans module
    calls = []

    def counted(*args, **kwargs):
        calls.append(args[2])
        return iterate(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("finance_etl_spark.") and getattr(mod, "iterate", None) is iterate:
            monkeypatch.setattr(mod, "iterate", counted)
    left = {}
    for name in ITERATIVE:
        calls.clear()
        before = _persistent(spark)
        plans.get(name).build(spark, sf_dir).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        left[name] = (len(_persistent(spark) - before), len(calls))
    assert all(n_calls >= 1 for _, n_calls in left.values()), left
    assert all(n_left <= n_calls for n_left, n_calls in left.values()), left
