"""Bad inputs and empty ranges fail loudly instead of leaking NaN or
dropping work: zero-mass model-plane AVG falls back to the exact
plane, Lloyd fits reject non-finite vector sums, and histogram deletes
sum repeated delta values."""

from __future__ import annotations

import math

import numpy as np
import pytest

from deepdb_public_spark.engine import Engine
from deepdb_public_spark.operators.similarity import _lloyd_fit
from deepdb_public_spark.spn.ensemble import SPNEnsemble
from deepdb_public_spark.spn.leaves import Leaf
from deepdb_public_spark.spn.model import ModelPlaneUnsupported
from deepdb_public_spark.spn.trainer import train_spn_model
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def eng(spark):
    e = Engine(spark, SF_SMOKE)
    e.ensemble = SPNEnsemble(e.schema)
    e.ensemble.add_model(
        train_spn_model(e.catalog, e.schema, {"lineitem"}, 60_000)
    )
    return e


def test_zero_mass_avg_falls_back_to_exact(eng):
    """AVG over a range holding no model mass used to answer NaN; the
    model plane now refuses it and Engine.estimate asks the exact
    plane, whose answer (here SQL's NULL over no rows) comes back."""
    top = eng.catalog["lineitem"].agg({"l_extendedprice": "max"}).first()[0]
    sql = (
        "SELECT AVG(lineitem.l_extendedprice) AS a FROM lineitem "
        f"WHERE lineitem.l_extendedprice > {top + 1}"
    )
    with pytest.raises(ModelPlaneUnsupported, match="not-null mass"):
        eng.ensemble.aqp(eng.parse(sql))
    got = eng.estimate(sql)
    assert got == [r.asDict() for r in eng.query(sql).collect()]
    assert not any(
        isinstance(v, float) and math.isnan(v) for r in got for v in r.values()
    )
    # ranges with mass still answer on the model plane
    ok = eng.ensemble.aqp(
        eng.parse(
            "SELECT AVG(lineitem.l_extendedprice) AS a FROM lineitem "
            f"WHERE lineitem.l_extendedprice > {top / 2}"
        )
    )
    assert math.isfinite(ok[0]["a"])


def test_lloyd_fit_rejects_short_vectors(spark):
    """Vectors shorter than the seeds' dimension must stop the fit
    with an error, never come back as NaN centroids."""
    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0])]
        + [(i, [float(i), 1.0]) for i in range(2, 8)],
        "id long, v array<double>",
    )
    with pytest.raises(Exception):
        _lloyd_fit(vecs, 2, 2)


def test_lloyd_fit_rejects_nan_elements(spark):
    """A NaN element comes back as a NaN group sum; the fit
    raises before it spreads into the centroids."""
    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [float("nan"), 1.0])],
        "id long, v array<double>",
    )
    with pytest.raises(ValueError, match="non-finite vector sums"):
        _lloyd_fit(vecs, 2, 2)


def test_remove_counts_sums_repeated_values():
    """Repeated delta values remove the sum of their counts: the same
    histogram as removing them one call at a time, including a clamp
    to zero that only the combined count reaches."""
    values = np.array([1.0, 2.0, 3.0, 5.0])
    probs = np.array([0.1, 0.4, 0.3, 0.15])
    d_vals = np.array([2.0, 3.0, 2.0, 7.0, 3.0])
    d_cnts = np.array([5, 20, 7, 4, 15])

    once = Leaf(0, values, probs, 0.05)
    total = once.remove_counts(d_vals, d_cnts, 1.0, 200.0, scale=2.0)

    seq = Leaf(0, values, probs, 0.05)
    n = seq.remove_counts(np.array([]), np.array([]), 1.0, 200.0, scale=2.0)
    for v, c in zip(d_vals, d_cnts):
        n = seq.remove_counts(np.array([v]), np.array([c]), 0.0, n, scale=2.0)

    assert total == pytest.approx(n)
    np.testing.assert_array_equal(once.values, seq.values)
    np.testing.assert_allclose(once.probs, seq.probs)
    assert once.null_prob == pytest.approx(seq.null_prob)
    # 3.0 held 60 rows of mass: 40 or 30 alone leave some, 70 does not;
    # 2.0 loses 2 * (5 + 7) of its 80, 7.0 is not stored, NULL loses 2
    assert once.values.tolist() == [1.0, 2.0, 5.0]
    assert total == pytest.approx(20 + 56 + 30 + 8)
