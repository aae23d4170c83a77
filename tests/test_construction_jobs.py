"""Construction-job budget: the Spark jobs each registry query runs while
its plan is built — an eager collect, count, head or checkpoint — pinned
per query, counted by the query's own job group as
``tools/profile_queries.py`` counts them.  A new eager job in any
query's construction fails here, naming the query, and so does a job
the build starts outside its group (on a thread of its own, which
carries no job group), since no per-group count sees it."""

from __future__ import annotations

import shutil

from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
    register_views,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
    load_all,
)
from tests.conftest import TABLES
from tests.test_tick_footer_index import _jobs

# Jobs run while building each query at sf0.001, in registry order,
# cold session caches; every query not listed runs none.
BUDGET: dict[str, int] = {
    "q56_ngram_jaccard_pairs": 4,
    "q62_embedding_neardup": 1,
    "q64_ann_lsh_bucketed": 1,
    "q65_ann_ivf": 1,
    "q66_dedup_clusters": 9,
    "q70_dedup_survivors": 9,
    "q77_symbol_correlation": 1,
    "q95_simhash_pairs": 6,
    "q100_dup_rate_by_source": 1,
    "q101_lead_lag": 1,
    "q112_market_beta": 2,
    "q124_df_score": 1,
    "q126_rolling_active_users": 1,
    "q128_centroid_separation": 1,
    "q129_edit_distance_pairs": 6,
    "q159_containment_pairs": 4,
    "q160_simhash_wide_pairs": 4,
    "q166_containment_planted": 4,
    "q204_pq_recall_verdict": 7,
    "q210_stickiness": 1,
    "q226_incremental_dedup_survivors": 34,
    "q227_source_divergence": 1,
    "q230_eventid_gaps": 3,
    "q231_signup_conversion": 1,
    "q233_ingestion_drift": 2,
    "q236_jaccard_threshold_curve": 4,
    "q240_token_pmi": 1,
    "q241_near_dup_rate_by_source": 6,
    "q243_knn_eval": 1,
    "q244_streaming_dedup_verdict": 63,
    "q245_ivfpq_recall_verdict": 8,
    "q247_span_dedup": 1,
    "q248_bm25_topk": 1,
    "q249_ivfpq_pruned_verdict": 4,
    "q250_span_trim": 6,
    "q251_bpe_fertility": 3,
    "q253_ann_filtered_verdict": 7,
}


def _all_jobs(spark) -> int:
    """Jobs the scheduler has started in this session, in any group,
    read once the listener bus has delivered every event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.dagScheduler().numTotalJobs()


def test_construction_jobs_per_query(spark, sf_dir, tmp_path):
    """Build every registry query over a private copy of the fixture, so
    every session-cache key starts cold, after ``register_views`` has
    resolved each table (its schema inference is no query's), and
    compare each query's construction jobs with its pin, and its jobs
    in the group with all the jobs the scheduler ran meanwhile."""
    d = str(tmp_path)
    for t in TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    register_views(spark, d)
    wrong = []
    for name, q in load_all().items():
        before = _all_jobs(spark)
        n = _jobs(spark, lambda: q.fn(spark, d), f"{tmp_path.name}-construct-{name}")
        total = _all_jobs(spark) - before
        if n != BUDGET.get(name, 0):
            wrong.append(f"{name}: pinned {BUDGET.get(name, 0)} jobs, ran {n}")
        if total != n:
            wrong.append(f"{name}: {total - n} of {total} jobs ran outside its group")
    assert not wrong, "\n".join(wrong)
