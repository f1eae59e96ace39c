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
