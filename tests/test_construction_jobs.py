"""Building a query again runs no Spark job.

Once a session has built a query, every fixed cost of building it
again — parquet schema inference above all — should be served from
what the session already knows. This pins that for the fixed-cost
query set: a later change that brings back a construction-time job
(a bare parquet read, an eager count, a barrier) fails here.

Streaming micro-batches are not counted: they run on the stream's
own threads, in the stream's ``runId`` job group, not the caller's.
"""

from __future__ import annotations

import pytest

from mozart_etl_spark import querybank

#: one query per querybank module and operator family: relational,
#: as-of join, events, text, streaming drain, corpus, simhash, KNN
QUERIES = (
    "select_project_filter",
    "customers_without_recent_orders",
    "asof_click_view",
    "events_funnel",
    "text_token_stats",
    "streaming_hourly_counts",
    "corpus_pii_scrub",
    "dedup_simhash",
    "knn_bruteforce_cosine",
)


@pytest.fixture(scope="module")
def built_once(spark, sf_dir):
    fns = querybank.queries()
    for name in QUERIES:
        fns[name](spark, sf_dir)
    return fns


@pytest.mark.parametrize("name", QUERIES)
def test_rebuilding_a_query_runs_no_job(spark, spark_jobs, sf_dir, built_once, name):
    df, jobs = spark_jobs(lambda: built_once[name](spark, sf_dir))
    assert jobs == 0
    assert df.columns
