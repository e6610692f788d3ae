"""The engine's one trained quantizer: ``similarity.lloyd_centers`` (a
driver-side Lloyd on a capped sample) trains the IVF cells, the PQ
codebooks and the SemDeDup blocker; ``similarity.nearest_cells``
assigns and routes.  No MLlib fit is left, and the faces that used one
stay within their job budget."""

from __future__ import annotations

import pathlib

import numpy as np
import pytest

from artemia_airflow_spark.operators.similarity import lloyd_centers

from conftest import SF_ORACLE

PKG = pathlib.Path(__file__).resolve().parent.parent / "artemia_airflow_spark"


def test_no_mllib_under_the_engine():
    """MLlib's KMeans was the second k-means implementation (and most
    of its faces' jobs); nothing under the package may import MLlib."""
    hits = [
        f"{f.relative_to(PKG)}:{n}"
        for f in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(f.read_text().splitlines(), start=1)
        if "pyspark.ml" in line
    ]
    assert hits == []


def _blobs():
    rng = np.random.RandomState(0)
    means = np.array([[10.0, 0.0], [0.0, 10.0], [-10.0, -10.0]])
    return means, np.concatenate(
        [m + rng.normal(scale=0.5, size=(40, 2)) for m in means]
    )


def test_lloyd_recovers_separated_blobs_and_is_seeded():
    """Three far blobs give one center each; the same seed gives the
    same centers; the caller's sample is not written (IVF-PQ reuses it
    for the residual codebooks)."""
    means, sample = _blobs()
    before = sample.copy()
    got = lloyd_centers(sample, 3, 42)
    # each blob mean has exactly one center within 0.5
    near = np.linalg.norm(got[:, None, :] - means[None, :, :], axis=2) < 0.5
    assert near.sum(0).tolist() == [1, 1, 1] and near.sum(1).tolist() == [1, 1, 1]
    assert np.array_equal(lloyd_centers(sample, 3, 42), got)
    assert np.array_equal(sample, before)


def test_lloyd_empty_cell_keeps_its_center():
    """Three centers drawn from two distinct points: two centers start
    on the same point, the higher-index one never wins a point (ties
    go to the lowest index) and must keep its position, not become
    the NaN mean of nothing."""
    p, q = [0.0, 0.0], [10.0, 10.0]
    sample = np.array([p, p, q, q])
    for seed in range(5):
        got = lloyd_centers(sample, 3, seed)
        rows = sorted(map(tuple, got.tolist()))
        assert rows in ([tuple(p), tuple(p), tuple(q)],
                        [tuple(p), tuple(q), tuple(q)]), (seed, rows)


def test_lloyd_rejects_a_sample_smaller_than_k():
    with pytest.raises(ValueError, match="needs >= k"):
        lloyd_centers(np.zeros((3, 4)), 4, 42)


@pytest.mark.parametrize(
    "face,budget",
    [("q_sim_ivf", 6), ("q_sim_ivf_pq", 12), ("q_dedup_semantic", 7)],
)
def test_trained_quantizer_faces_job_budget(spark, face, budget):
    """At sf0.01 the faces ran 23, 29 and 25 Spark jobs while MLlib's
    fit trained their cells; the driver-side Lloyd needs one sample
    collect instead.  The first run warms the scan-schema memo."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    run = lambda: entry.queries()[face](spark, SF_ORACLE).write.format(  # noqa: E731
        "noop").mode("overwrite").save()
    run()
    group = f"quantizer-jobs-{face}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(jobs) <= budget, (face, len(jobs))
