"""SemDeDup (similarity.semdedup_exact): planted-fixture behavior —
cross-cell pairs are NEVER compared — plus the q189 composition's
plan shape (cell-keyed pair join, no cartesian pair explosion)."""

from __future__ import annotations

from pyspark.sql import functions as F
import pytest

from product_etl_spark.operators.similarity import (
    _assign_exact_map,
    cosine_near_dup_pairs,
    semdedup_exact,
)


def _fixture(spark):
    """Two far-apart cells; vec 2 (cell 0) and vec 3 (cell 1) are a
    PERFECT cross-cell near-duplicate (cosine 1.0 — same direction,
    different magnitude, so L2 puts them in different cells); vec 4
    is a genuine in-cell near-dup of seed vec 0."""
    rows = [
        (0, [1.0, 0.0]),     # seed cell 0
        (1, [10.0, 0.0]),    # seed cell 1
        (2, [0.6, 0.8]),     # cell 0; cos(2,0)=0.6 < 0.95
        (3, [6.0, 8.0]),     # cell 1; cos(3,1)=0.6; cos(3,2)=1.0 (!)
        (4, [1.2, 0.01]),    # cell 0; cos(4,0)≈0.99997 -> pruned
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_cross_cell_near_dup_survives(spark):
    """cos(2,3) = 1.0 clears any threshold, but 2 and 3 sit in
    different IVF cells — SemDeDup must never compare them, so BOTH
    survive; the in-cell dup (4 of 0) is pruned."""
    out = {
        r["vec_id"]: (r["list_id"], r["kept"])
        for r in semdedup_exact(
            _fixture(spark), "embedding", "vec_id", n_cells=2, threshold=0.95
        ).collect()
    }
    assert out[2][0] == 0 and out[3][0] == 1  # the planted cell split
    assert out[2][1] == 1 and out[3][1] == 1  # cross-cell dup survives
    assert out[4] == (0, 0)                   # in-cell dup pruned
    assert out[0] == (0, 1) and out[1] == (1, 1)


def test_pair_join_is_cell_keyed_never_cartesian(spark):
    """The shuffle-shape contract: the pair join is keyed on the cell
    id (equi-join on _blk) — the executed plan must contain no
    cartesian/nested-loop pair explosion. (The one BroadcastNestedLoop
    in the ASSIGNMENT is the deliberate 1-row centroid broadcast and
    is excluded by planning the pair stage alone.)"""
    corpus = _fixture(spark)
    seeds = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("_cent"),
    )
    assigned = _assign_exact_map(
        corpus, seeds, "embedding", "vec_id", keep_emb=True
    )
    # materialize the assignment so the pair plan below contains ONLY
    # the pair join
    assigned = assigned.localCheckpoint(eager=True)
    pairs = cosine_near_dup_pairs(
        assigned, "embedding", "vec_id", "list_id", threshold=0.95
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_blk" in plan  # the equi-join key is the cell id
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 4)}  # never (2, 3), despite cos = 1.0


def test_semdedup_idempotent_on_survivors(spark):
    """Re-running SemDeDup over the kept set prunes nothing new when
    no in-cell near-dup remains (rerun-safety of the curation pass —
    same seeds survive, so the cell geometry is unchanged)."""
    corpus = _fixture(spark)
    first = semdedup_exact(
        corpus, "embedding", "vec_id", n_cells=2, threshold=0.95
    )
    kept_ids = [r["vec_id"] for r in first.filter("kept = 1").collect()]
    survivors = corpus.filter(F.col("vec_id").isin(kept_ids))
    second = semdedup_exact(
        survivors, "embedding", "vec_id", n_cells=2, threshold=0.95
    )
    assert second.filter("kept = 0").count() == 0


def _seed_centroids(spark, corpus, n_cells):
    """The semdedup_exact seed rule, materialized once so every batch
    shares the same cell geometry."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("vec_id"))
    return (
        corpus.orderBy(F.col("vec_id").asc())
        .limit(n_cells)
        .select(
            (F.row_number().over(w) - 1).alias("list_id"),
            F.col("embedding").alias("_cent"),
        )
        .localCheckpoint(eager=True)
    )


def test_incremental_ascending_ingest_equals_batch(spark, tmp_path):
    """Two ascending-id batches through the store reproduce
    semdedup_exact over the union: same kept ids, and the cross-cell
    perfect dup still survives."""
    from product_etl_spark.operators.similarity import (
        incremental_semdedup,
        semdedup_exact,
    )

    corpus = _fixture(spark)
    cents = _seed_centroids(spark, corpus, 2)
    store = str(tmp_path / "sem_store")

    b1 = corpus.filter(F.col("vec_id") <= 2)
    b2 = corpus.filter(F.col("vec_id") > 2)
    acc1, rej1 = incremental_semdedup(
        spark, b1, store, cents, threshold=0.95
    )
    acc2, rej2 = incremental_semdedup(
        spark, b2, store, cents, threshold=0.95
    )
    got_kept = sorted(
        [r["vec_id"] for r in acc1.collect()]
        + [r["vec_id"] for r in acc2.collect()]
    )
    want_kept = sorted(
        r["vec_id"]
        for r in semdedup_exact(
            corpus, "embedding", "vec_id", n_cells=2, threshold=0.95
        ).filter("kept = 1").collect()
    )
    assert got_kept == want_kept == [0, 1, 2, 3]
    rej = rej2.collect()
    assert [(r["vec_id"], r["matched_id"]) for r in rej] == [(4, 0)]
    assert rej[0]["cos_sim"] >= 0.95


def test_incremental_replay_is_idempotent(spark, tmp_path):
    """Re-ingesting a batch rejects every row against its OWN stored
    copy (cos 1.0) and appends nothing."""
    from product_etl_spark.operators.similarity import incremental_semdedup

    corpus = _fixture(spark)
    cents = _seed_centroids(spark, corpus, 2)
    store = str(tmp_path / "sem_store")

    acc1, _ = incremental_semdedup(spark, corpus, store, cents, threshold=0.95)
    n_stored = spark.read.parquet(store).count()
    assert n_stored == acc1.count() == 4

    acc2, rej2 = incremental_semdedup(
        spark, corpus, store, cents, threshold=0.95
    )
    assert acc2.count() == 0
    replays = {
        r["vec_id"]: (r["matched_id"], r["cos_sim"]) for r in rej2.collect()
    }
    for vid in (0, 1, 2, 3):
        assert replays[vid] == (vid, 1.0)  # self-collision
    assert spark.read.parquet(store).count() == n_stored


def test_incremental_store_is_cell_partitioned_and_erasable(spark, tmp_path):
    """RTBF through the cell-partitioned store: erase vec 0, its
    near-dup is accepted on the next ingest; a near-dup of a SURVIVOR
    is still rejected; the list_id layout survives the rewrite."""
    import os

    from product_etl_spark.operators.erasure import erase_from_stores
    from product_etl_spark.operators.similarity import incremental_semdedup

    corpus = _fixture(spark)
    cents = _seed_centroids(spark, corpus, 2)
    store = str(tmp_path / "sem_store")
    incremental_semdedup(spark, corpus, store, cents, threshold=0.95)
    assert any(e.startswith("list_id=") for e in os.listdir(store))

    erased = spark.createDataFrame([(0,)], "vec_id long")
    report = erase_from_stores(
        spark,
        erased,
        [{"path": store, "id_col": "vec_id", "partition_by": ["list_id"]}],
    )
    assert report[store] == 1
    assert any(e.startswith("list_id=") for e in os.listdir(store))

    probe = spark.createDataFrame(
        [(100, [1.0, 0.001]), (101, [9.8, 0.1])],
        "vec_id long, embedding array<float>",
    )
    acc, rej = incremental_semdedup(spark, probe, store, cents, threshold=0.95)
    assert [r["vec_id"] for r in acc.collect()] == [100]  # vec 0 forgotten
    got = rej.collect()
    assert [(r["vec_id"], r["matched_id"]) for r in got] == [(101, 1)]


def test_semdedup_degenerate_cell_guard(spark):
    """A planted degenerate cell (all vectors collapsing onto one
    list_id) must FAIL the job loudly before the O(cell^2) pair join
    when it exceeds max_cell_size — the loud-guard convention
    (interval_overlap_pairs, association_rules)
    — and run IDENTICALLY with the bound lifted."""
    import pytest

    # seed 1 is so far out that every non-seed vector argmins to
    # cell 0 -> cell 0 holds 4 of 5 vectors
    rows = [
        (0, [1.0, 0.0]),
        (1, [1000.0, 1000.0]),
        (2, [0.9, 0.1]),
        (3, [0.8, 0.2]),
        (4, [1.01, 0.001]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="pre-split the hot cell"):
        semdedup_exact(
            corpus, "embedding", "vec_id", n_cells=2, threshold=0.95,
            max_cell_size=3,
        ).collect()
    out = {
        r["vec_id"]: (r["list_id"], r["kept"])
        for r in semdedup_exact(
            corpus, "embedding", "vec_id", n_cells=2, threshold=0.95,
            max_cell_size=4,
        ).collect()
    }
    assert out[0] == (0, 1)          # lowest-id cellmate always kept
    assert out[1] == (1, 1)          # the far seed keeps its own cell
    # 2/3/4 all clear 0.95 against a lower-id cellmate -> pruned
    assert {k for k, v in out.items() if v == (0, 0)} == {2, 3, 4}
