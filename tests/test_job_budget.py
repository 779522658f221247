"""Build-phase Spark job budget per bench headline entry, and the sink
budget of some of them, at sf0.001.

An entry's build is the call that returns its frame. The jobs it runs
are its construction-time work: checkpoints, bounded collects and
takes, and the AQE query stages under them. Parquet schema inference is
not among them once a table's file has been read in the process
(`sources/catalog.load_table`), so an entry without construction-time
actions builds with 0 jobs. Each entry builds once uncounted, like
bench.py's per-entry warm-up, then once counted by job group.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as ent
from bench import HEADLINE
from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import unpersist_all

SF = "/root/testdata/sf0.001"

# Jobs of one warm build, measured identically in 3 fresh processes on
# the tests' session (local[8]; dispatch tunes it to
# `session.tune_session`'s shuffle-partition count); entries not
# listed build with 0 jobs. Lower a budget when an entry sheds a job.
_BUILD_JOB_BUDGET = dict.fromkeys(HEADLINE, 0) | {
    "llm_lsh_candidate_pairs": 2,
    "llm_dedup_components": 4,
    "graph_pagerank": 9,
    "ml_logistic_regression_gd": 8,
    "graph_triangle_count": 4,
    "llm_semdedup_prune_scaled": 3,
    "ml_gbt_stumps": 2,
    "graph_label_propagation": 16,
    "graph_k_core": 23,
    "ml_gmm_em_1d": 8,
    "ml_random_forest_vote": 2,
    "ext_equiheight_histogram": 7,
}


def test_budget_names_exactly_the_headline():
    assert len(_BUILD_JOB_BUDGET) == len(HEADLINE) == len(set(HEADLINE))


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_build_job_budget(spark, count_jobs, name):
    build = ent.queries()[name]
    unpersist_all(spark)
    build(spark, SF)
    unpersist_all(spark)
    try:
        n = count_jobs(lambda: build(spark, SF))
    finally:
        unpersist_all(spark)
    assert n <= _BUILD_JOB_BUDGET[name]


# Sink jobs of a warm build's frame (noop write). For entries that
# return driver-side rows, one partition sorted in place runs one job,
# where a global orderBy over a multi-partition local frame ran three
# (range sampling, the shuffle, the write). The joins of the other two
# broadcast their small side up front (a measured edge count; a 3-row
# aggregate), so no shuffle is written and then read back locally.
_SINK_JOB_BUDGET = {
    "graph_k_core": 1,
    "graph_common_neighbors": 1,
    "graph_triangle_count": 7,
    "llm_semdedup_prune_scaled": 7,
}


@pytest.mark.parametrize("name", sorted(_SINK_JOB_BUDGET))
def test_sink_job_budget(spark, count_jobs, name):
    build = ent.queries()[name]
    unpersist_all(spark)
    try:
        df = build(spark, SF)
        n = count_jobs(lambda: df.write.format("noop").mode("overwrite").save())
    finally:
        unpersist_all(spark)
    assert n == _SINK_JOB_BUDGET[name]
