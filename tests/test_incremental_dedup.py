"""Incremental dedup (operators/llm/incremental.py): folding a batch
into persisted state must equal a from-scratch dedup of the union —
including the bridge case (a new doc merging two existing clusters and
demoting a former survivor) and transitive chains through LOSERS (a new
exact copy of a non-canonical member still loses)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.incremental import (
    DedupState,
    dedup_state_apply,
    dedup_state_build,
    dedup_survivors,
    load_dedup_state,
    save_dedup_state,
)

_TX = " ".join(f"t{i}" for i in range(40))
_UY = (
    " ".join(f"t{i}" for i in range(20))
    + " "
    + " ".join(f"u{i}" for i in range(20, 40))
)
_VZ = " ".join(f"v{i}" for i in range(40))
# shares every _TX shingle plus _UY's tail shingles -> LSH-collides with
# BOTH clusters (verified deterministic: md5 minhash, fixed tokens)
_BRIDGE = _TX + " " + " ".join(f"u{i}" for i in range(20, 40))

_A = [
    (1, _TX + " xtail"),       # cluster 1 canonical
    (2, _TX + " xtail2"),      # near-dup of 1
    (3, _TX + " xtail"),       # exact dup of 1 (loser)
    (10, _UY + " ytail"),      # cluster 10 canonical
    (11, _UY + " ytail2"),     # near-dup of 10 (loser)
    (20, "completely unrelated singleton document about parquet footers"),
]

_B = [
    (100, _TX + " xtail2"),    # exact copy of LOSER 2 -> must lose
    (101, _UY + " ytail3"),    # near-dup of cluster 10 -> must lose
    (102, _VZ + " p"),         # new cluster canonical
    (103, _VZ + " q"),         # near-dup of 102 -> loses
    (104, "another unrelated singleton with its own vocabulary entirely"),
    (105, _BRIDGE),            # merges clusters 1 and 10 -> demotes 10
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _members_pdf(state: DedupState) -> pd.DataFrame:
    return (
        state.members.toPandas()
        .sort_values("doc_id", ignore_index=True)
    )


def test_incremental_equals_full_planted(spark):
    """apply(build(A), B) == build(A | B) row-for-row on the planted
    corpus, and the delta narrates the right events."""
    full = dedup_state_build(_df(spark, _A + _B), 8)
    state_a = dedup_state_build(_df(spark, _A), 8)
    state_ab, delta = dedup_state_apply(state_a, _df(spark, _B), 8)

    assert _members_pdf(state_ab).equals(_members_pdf(full))
    surv = sorted(r.doc_id for r in dedup_survivors(state_ab).collect())
    assert surv == sorted(r.doc_id for r in dedup_survivors(full).collect())
    # the bridge merged both old clusters under canonical 1
    assert surv == [1, 20, 102, 104]

    d = delta.toPandas().set_index("doc_id")
    assert d.loc[100, "status"] == "duplicate"      # via a loser's text
    assert d.loc[101, "status"] == "duplicate"
    assert d.loc[102, "status"] == "survivor"
    assert d.loc[103, "status"] == "duplicate"
    assert d.loc[104, "status"] == "survivor"
    assert d.loc[105, "status"] == "duplicate"
    assert d.loc[10, "status"] == "demoted"          # former survivor
    assert d.loc[10, "cluster_id"] == 1


def test_incremental_equals_full_template_stress(spark):
    """200 docs from 30 templates (near-dup tails + exact copies),
    split 150/50 across the batch boundary arbitrarily: survivors and
    full member->cluster maps must match the from-scratch run."""
    rows = []
    for i in range(200):
        tpl = i % 30
        base = " ".join(f"w{tpl}_{j}" for j in range(40))
        if i % 7 == 0 and i >= 30:       # exact copy of the template head
            text = base + " tail0"
        else:
            text = base + f" tail{i % 5}"
        rows.append((i, text))
    a, b = rows[:150], rows[150:]
    full = dedup_state_build(_df(spark, a + b), 8)
    state_a = dedup_state_build(_df(spark, a), 8)
    state_ab, _ = dedup_state_apply(state_a, _df(spark, b), 8)
    assert _members_pdf(state_ab).equals(_members_pdf(full))


def test_incremental_state_roundtrip(spark, tmp_path):
    """save -> load -> apply equals apply on the in-memory state, so
    the nightly-batch persistence path is the tested path."""
    state_a = dedup_state_build(_df(spark, _A), 8)
    save_dedup_state(state_a, str(tmp_path / "state"))
    loaded = load_dedup_state(spark, str(tmp_path / "state"))
    mem_ab, _ = dedup_state_apply(state_a, _df(spark, _B), 8)
    disk_ab, _ = dedup_state_apply(loaded, _df(spark, _B), 8)
    assert _members_pdf(disk_ab).equals(_members_pdf(mem_ab))


def test_incremental_strict_cap_raises_on_hot_bucket(spark):
    """A batch pushing a touched bucket past the cap fails loudly
    (the truncation orders could differ between incremental and full,
    so the fold refuses to guess)."""
    import pytest

    base = " ".join(f"h{j}" for j in range(40))
    a = [(i, f"{base} tail{i}") for i in range(3)]
    b = [(100 + i, f"{base} tail{100 + i}") for i in range(3)]
    state = dedup_state_build(_df(spark, a), 8)
    with pytest.raises(RuntimeError, match="exceeds max_bucket"):
        dedup_state_apply(state, _df(spark, b), 8, max_bucket=4)
    # two state docs and two batch docs in one bucket: the guard reads
    # the state's 2 members off 2 x 2 collision rows, so a cap of 4
    # holds and a cap of 3 trips
    state = dedup_state_build(_df(spark, a[:2]), 8)
    st, _ = dedup_state_apply(state, _df(spark, b[:2]), 8, max_bucket=4)
    assert [r.doc_id for r in dedup_survivors(st).collect()] == [0]
    with pytest.raises(RuntimeError, match="exceeds max_bucket"):
        dedup_state_apply(state, _df(spark, b[:2]), 8, max_bucket=3)


def test_bucketed_state_roundtrip_and_apply_equivalence(spark, tmp_path):
    """Round 11 (r10 verdict item #5): state saved as bucketed catalog
    tables must round-trip, and folding with broadcast_probe=False over
    the bucketed state must produce members identical to the default
    broadcast fold."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.incremental import (
        load_dedup_state_bucketed,
        save_dedup_state_bucketed,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.bucketing import (
        drop_table,
    )

    par = spark.sparkContext.defaultParallelism
    state = dedup_state_build(_df(spark, _A), par)
    try:
        save_dedup_state_bucketed(state, "t_dstate", n_buckets=4)
        loaded = load_dedup_state_bucketed(spark, "t_dstate")
        assert _members_pdf(loaded).equals(_members_pdf(state))

        ref, _ = dedup_state_apply(state, _df(spark, _B), par)
        got, _ = dedup_state_apply(
            loaded, _df(spark, _B), par, broadcast_probe=False
        )
        assert _members_pdf(got).equals(_members_pdf(ref))
    finally:
        for t in ("t_dstate_texts", "t_dstate_bands", "t_dstate_members"):
            drop_table(spark, t)


def test_bucketed_state_probe_join_no_state_exchange(spark, tmp_path):
    """Plan contract (r10 verdict item #5 'Done' clause): with
    broadcast disabled and broadcast_probe=False, the (band, band_key)
    probe against the BUCKETED state band table must shuffle ONLY the
    batch side — exactly one Exchange in the join plan, none above the
    bucketed state scan."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.dedup import (
        _exact_collapse,
        band_rows,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.incremental import (
        load_dedup_state_bucketed,
        save_dedup_state_bucketed,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.plans import (
        exchanges,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.bucketing import (
        drop_table,
    )

    par = spark.sparkContext.defaultParallelism
    state = dedup_state_build(_df(spark, _A), par)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        save_dedup_state_bucketed(state, "t_pstate", n_buckets=4)
        loaded = load_dedup_state_bucketed(spark, "t_pstate")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        reps_b, _ = _exact_collapse(_df(spark, _B))
        bands_b = band_rows(reps_b, par)
        sb = loaded.bands.select(
            F.col("doc_id").alias("old_id"), "band", "band_key"
        )
        probe = bands_b.join(sb, ["band", "band_key"]).select(
            "doc_id", "old_id"
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        # exactly ONE exchange keyed on the JOIN key (band, band_key):
        # the batch side shuffling into the 4-bucket layout; a second
        # would mean the corpus-sized state side shuffled too.  (The
        # batch pipeline's own upstream exchanges — fp window, doc_id
        # minhash agg — key on other columns and are batch-sized.)
        import re

        join_key_exchanges = re.findall(
            r"Exchange hashpartitioning\(band#", plan
        )
        assert len(join_key_exchanges) == 1, plan
        assert "SelectedBucketsCount: 4 out of 4" in plan, plan
        assert probe.count() > 0  # the planted near-dups really probe
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("t_pstate_texts", "t_pstate_bands", "t_pstate_members"):
            drop_table(spark, t)


def test_load_survivors_matches_state_survivors(spark, tmp_path):
    """Round-14 internals change: the members-only survivors read
    equals dedup_survivors over the fully loaded state."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.incremental import (
        load_survivors,
    )

    state = dedup_state_build(_df(spark, _A + _B), 8)
    save_dedup_state(state, str(tmp_path / "st"), target_files=1)
    want = sorted(
        r.doc_id
        for r in dedup_survivors(
            load_dedup_state(spark, str(tmp_path / "st"))
        ).collect()
    )
    got = sorted(
        r.doc_id
        for r in load_survivors(spark, str(tmp_path / "st")).collect()
    )
    assert got == want and got  # non-empty
