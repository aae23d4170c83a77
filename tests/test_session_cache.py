"""session_cache: the verdicts' shared state rebuilds when its table is
regenerated in place and frees what it replaces, hits run no Spark job,
and build seconds count each build once."""

from __future__ import annotations

import gc
import shutil
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from low_latency_time_series_database_tsdb_for_market_data_spark import session_cache
from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.incremental import (  # noqa: E501
    corpus_band_rows,
    even_half_state,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.similarity import (  # noqa: E501
    PROBE_VEC_ID,
    _verdict_model,
)
from tests.test_tick_footer_index import _jobs


@pytest.fixture()
def own_sf_dir(tmp_path, sf_dir):
    """A private copy of the fixture's documents and embeddings, so every
    cache entry of the test starts cold and may be regenerated."""
    for t in ("documents", "embeddings"):
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    return str(tmp_path)


def _persisted(spark) -> set[int]:
    """Ids of the RDDs still persisted once garbage is collected on both
    sides: the builds' intermediate checkpoints are pinned only by frames
    that are garbage by now, and Spark lists persisted RDDs weakly."""
    gc.collect()
    spark._jvm.System.gc()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet()}


def _rdd_ids(*dfs) -> set[int]:
    return {df._jdf.queryExecution().analyzed().rdd().id() for df in dfs}


def _state_rows(st) -> tuple[int, int, int]:
    return st.texts.count(), st.bands.count(), st.members.count()


def test_cold_even_half_state_counts_each_build_once(spark, own_sf_dir):
    """even_half_state builds corpus_band_rows inside its own build; the
    two kinds' seconds must not both count the nested pass."""
    before = {k: session_cache.build_seconds(k) for k in ("corpus_bands", "even_half_state")}
    t0 = time.perf_counter()
    even_half_state(spark, own_sf_dir)
    wall = time.perf_counter() - t0
    spent = {k: session_cache.build_seconds(k) - v for k, v in before.items()}
    assert all(s > 0 for s in spent.values()), spent
    assert sum(spent.values()) <= wall


def test_even_half_state_pins_each_field_once(spark, own_sf_dir, monkeypatch):
    """The build pins bands and members already; the state keeps those
    checkpoints rather than checkpointing them again, so after a cold
    build and one count per field, before any GC, each field's rows are
    held by one persisted RDD: the state's bands and members RDDs are
    the build's own."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm import (
        incremental,
    )

    built = []
    real = incremental.dedup_state_build
    monkeypatch.setattr(incremental, "dedup_state_build",
                        lambda *a, **k: built.append(real(*a, **k)) or built[-1])
    state = even_half_state(spark, own_sf_dir)
    _state_rows(state)
    persisted = {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}
    (raw,) = built
    assert _rdd_ids(state.bands) == _rdd_ids(raw.bands)
    assert _rdd_ids(state.members) == _rdd_ids(raw.members)
    assert _rdd_ids(*state) <= persisted


def test_regenerated_tables_rebuild_and_free_checkpoints(spark, own_sf_dir):
    d = own_sf_dir
    bands = corpus_band_rows(spark, d)
    state = even_half_state(spark, d)
    model = _verdict_model(spark, d)
    old_state_rows = _state_rows(state)  # computes the lazy checkpoints

    # hits: the same objects, no Spark job
    again = []
    assert _jobs(spark, lambda: again.extend([
        corpus_band_rows(spark, d), even_half_state(spark, d), _verdict_model(spark, d),
    ]), "session-cache-hits") == 0
    assert again[0] is bands and again[1] is state and again[2] is model
    persisted = _persisted(spark)
    assert _rdd_ids(bands, *state) <= persisted

    # regenerate both tables in place: keep the first 300 rows, the probe
    # vector included; the writer drops the stale relations
    for t in ("documents", "embeddings"):
        path = f"{d}/{t}.parquet"
        pq.write_table(pq.read_table(path).slice(0, 300), path)
        session_cache.drop("relation", path)
    docs = pq.read_table(f"{d}/documents.parquet")
    vecs = pq.read_table(f"{d}/embeddings.parquet")
    assert PROBE_VEC_ID in vecs["vec_id"].to_pylist()

    new_bands = corpus_band_rows(spark, d)
    new_state = even_half_state(spark, d)
    new_model = _verdict_model(spark, d)
    assert new_bands is not bands and new_state is not state and new_model is not model
    assert {r.doc_id for r in new_bands.select("doc_id").distinct().collect()} == set(
        docs["doc_id"].to_pylist()
    )
    even = pc.sum(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0)).as_py()
    new_state_rows = _state_rows(new_state)
    assert new_state_rows[0] == even and new_state_rows != old_state_rows
    assert new_model["n_vectors"] == vecs.num_rows != model["n_vectors"]
    # the replaced checkpoints are freed although this test still holds
    # them, so the session holds no more persisted RDDs than before
    now = _persisted(spark)
    assert not _rdd_ids(bands, *state) & now
    assert len(now) <= len(persisted)

