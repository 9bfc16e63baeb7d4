"""SPN leaves: per-column histograms over distinct values (reference:
aqp_spn/aqp_leaves.py::IdentityNumericLeaf / Categorical, SURVEY.md §2
B1-B3, D4).

Both leaf kinds store (sorted unique values, probability masses,
null probability) as numpy arrays — the exact structure the reference
uses, which makes likelihood AND expectation of arbitrary per-value
transforms (identity, square, 1/max(x,1)) closed-form sums. Training
aggregates come from Spark `groupBy(col).count()`; a leaf is a few KB
regardless of data scale.
"""

from __future__ import annotations

import numpy as np

from .ranges import NominalRange, NullOnlyRange, NumericRange, Range


class Leaf:
    """Univariate histogram leaf. ``scope`` is a single column index."""

    kind = "leaf"

    def __init__(
        self,
        scope: int,
        values: np.ndarray,
        probs: np.ndarray,
        null_prob: float = 0.0,
    ) -> None:
        self.scope = [scope]
        self.values = np.asarray(values, dtype=np.float64)
        self.probs = np.asarray(probs, dtype=np.float64)
        self.null_prob = float(null_prob)

    # -- training ------------------------------------------------------
    @classmethod
    def fit(cls, scope: int, column: np.ndarray) -> "Leaf":
        """Fit from a raw column (NaN = NULL)."""
        col = np.asarray(column, dtype=np.float64)
        nulls = np.isnan(col)
        null_prob = float(nulls.mean()) if len(col) else 0.0
        vals, counts = np.unique(col[~nulls], return_counts=True)
        probs = counts / max(len(col), 1)
        return cls(scope, vals, probs, null_prob)

    # -- inference -----------------------------------------------------
    def _mask(self, rng: Range | None) -> tuple[np.ndarray, float]:
        """(mask over self.values, null mass included)."""
        if rng is None:
            return np.ones_like(self.values, dtype=bool), self.null_prob
        if isinstance(rng, NullOnlyRange):
            return np.zeros_like(self.values, dtype=bool), self.null_prob
        if isinstance(rng, NominalRange):
            mask = np.isin(self.values, np.asarray(rng.values, dtype=np.float64))
            return mask, self.null_prob if rng.include_null else 0.0
        mask = np.zeros_like(self.values, dtype=bool)
        for lo, hi, lo_incl, hi_incl in rng.intervals:
            m = np.ones_like(self.values, dtype=bool)
            if lo is not None and lo != -np.inf:
                m &= self.values >= lo if lo_incl else self.values > lo
            if hi is not None and hi != np.inf:
                m &= self.values <= hi if hi_incl else self.values < hi
            mask |= m
        return mask, self.null_prob if rng.include_null else 0.0

    def prob(self, rng: Range | None) -> float:
        """P(col in range) — unconstrained returns 1 (incl. null mass)."""
        if rng is None:
            return 1.0
        mask, null_mass = self._mask(rng)
        return float(self.probs[mask].sum() + null_mass)

    def expect(self, fn, rng: Range | None) -> float:
        """E[fn(col) * 1(col in range)]; NULLs contribute 0 (the
        reference's convention: features over NULL-augmented tuples
        vanish — aqp_leaves.py identity_expectation)."""
        mask, _ = self._mask(rng)
        if not mask.any():
            return 0.0
        return float((fn(self.values[mask]) * self.probs[mask]).sum())

    def compact(self, factor: float, min_keep: int = 100) -> None:
        """Post-sampling compression (reference: maqp.py
        ``post_sampling_factor``, default "10 10 5" — aqp_leaves
        compress the stored unique-value histogram after learning).

        Merges the sorted distinct values into ~len/factor equal-mass
        bins; each bin keeps its total mass and its mass-weighted MEAN
        value, so COUNT probabilities aggregate exactly at bin
        granularity and E[x] (SUM/AVG) is preserved EXACTLY; range
        boundaries falling inside a bin become approximate — the
        reference's size/accuracy tradeoff. No-op for leaves at or
        under ``min_keep`` distinct values, and for CATEGORICAL leaves
        (``leaf.categorical``): merged bin means are fractional, so
        exact-code matching (=, IN, LIKE, group-by axes, incremental
        deltas keyed on real codes) would silently return 0 — the
        reference likewise compresses only IdentityNumericLeaf, never
        Categorical.
        """
        n = len(self.values)
        if factor <= 1 or n <= min_keep or getattr(self, "categorical", False):
            return
        k = max(min_keep, int(np.ceil(n / factor)))
        cum = np.cumsum(self.probs)
        mass = cum[-1]
        if mass <= 0:
            return
        bins = np.minimum((cum / mass * k - 1e-12).astype(int), k - 1)
        w = np.bincount(bins, weights=self.probs, minlength=k)
        wv = np.bincount(bins, weights=self.probs * self.values, minlength=k)
        keep = w > 0
        self.values = wv[keep] / w[keep]
        self.probs = w[keep]

    # -- incremental update (reference D5: AQPSPN.add_dataset) ---------
    def absorb_counts(
        self,
        values: np.ndarray,
        counts: np.ndarray,
        null_count: float,
        prior_n: float,
        scale: float = 1.0,
    ) -> None:
        """Merge an exact histogram delta (value/count pairs from a
        Spark ``groupBy(col).count()``); each delta row counts as
        ``scale`` relative to the stored sample mass."""
        counts = np.asarray(counts, dtype=np.float64)
        n_new = (counts.sum() if len(counts) else 0.0) * scale + null_count * scale
        if n_new == 0:
            return
        total = prior_n + n_new
        # vectorized merge: both sides are sorted-unique, so each value
        # carries at most one stored and one delta addend — np.unique +
        # bincount reproduces the old dict merge bit-for-bit (stored
        # mass added before delta mass, ascending value order), without
        # the per-value Python dict/sort that dominated the m-plane
        # driver profile. Zero-mass entries drop as before (a prior_n=0
        # merge otherwise grows the histogram with dead values every
        # _mask scan pays for).
        all_vals = np.concatenate(
            [self.values, np.asarray(values, dtype=np.float64)]
        )
        all_mass = np.concatenate([self.probs * prior_n, counts * scale])
        uniq, inv = np.unique(all_vals, return_inverse=True)
        mass = np.bincount(inv, weights=all_mass, minlength=len(uniq))
        keep = mass > 0
        self.values = uniq[keep]
        self.probs = mass[keep] / total
        self.null_prob = (self.null_prob * prior_n + null_count * scale) / total

    def absorb(self, column: np.ndarray, prior_n: float, weight: float = 1.0) -> None:
        """Merge new rows into the histogram without retraining; each
        new row counts as ``weight`` (fractional when the delta is a
        sample drawn at a different rate than the training sample).

        A NEGATIVE weight deletes mass (see SPNModel.remove_dataset —
        beyond the reference, which supports inserts only): per-value
        masses clamp at zero, so deleting more of a value than the
        sample-scaled histogram holds removes the value outright
        instead of going negative. Probabilities renormalize over the
        REMAINING mass, which for positive weights is exactly the old
        (prior + new) / total arithmetic."""
        col = np.asarray(column, dtype=np.float64)
        if len(col) == 0:
            return
        nulls = np.isnan(col)
        vals, counts = np.unique(col[~nulls], return_counts=True)
        merged = {float(v): p * prior_n for v, p in zip(self.values, self.probs)}
        for v, c in zip(vals, counts):
            merged[float(v)] = max(0.0, merged.get(float(v), 0.0) + c * weight)
        null_mass = max(0.0, self.null_prob * prior_n + nulls.sum() * weight)
        items = sorted((v, m) for v, m in merged.items() if m > 0)
        total = sum(m for _, m in items) + null_mass
        if total <= 0:
            self.values = np.array([])
            self.probs = np.array([])
            self.null_prob = 0.0
            return
        self.values = np.array([v for v, _ in items])
        self.probs = np.array([m / total for _, m in items])
        self.null_prob = null_mass / total

    def remove_counts(
        self,
        values: np.ndarray,
        counts: np.ndarray,
        null_count: float,
        prior_n: float,
        scale: float = 1.0,
    ) -> float:
        """Subtract an exact histogram delta (value/count pairs from a
        Spark ``groupBy(col).count()`` over the DELETED rows) — the
        delete twin of absorb_counts, beyond the reference (the DeepDB
        paper lists deletes as future work). Masses clamp at zero;
        returns the remaining row mass so callers can update n_rows.

        Vectorized like absorb_counts: delta values locate their
        stored twin via searchsorted over the sorted-unique stored
        values (misses are ignored, as the old dict lookup did), and
        the remaining-mass total is a sequential cumsum in ascending
        value order — the exact summation order of the old
        sorted-items Python sum, so results are bit-identical.

        Repeated delta values are summed first: the fancy-index
        subtraction below would otherwise keep only the last of them.
        With counts >= 0 this equals removing them one after another,
        because the zero clamp then applies once either way."""
        mass = self.probs * prior_n
        vals, inv = np.unique(
            np.asarray(values, dtype=np.float64), return_inverse=True
        )
        cnts = np.zeros(len(vals))
        np.add.at(cnts, inv, np.asarray(counts, dtype=np.float64))
        if len(vals) and len(self.values):
            idx = np.searchsorted(self.values, vals)
            idx = np.minimum(idx, len(self.values) - 1)
            hit = self.values[idx] == vals
            hit_idx = idx[hit]
            mass[hit_idx] = np.maximum(
                0.0, mass[hit_idx] - cnts[hit] * scale
            )
        null_mass = max(0.0, self.null_prob * prior_n - null_count * scale)
        keep = mass > 0
        kept = mass[keep]
        total = (float(kept.cumsum()[-1]) if len(kept) else 0.0) + null_mass
        if total <= 0:
            self.values = np.array([])
            self.probs = np.array([])
            self.null_prob = 0.0
            return 0.0
        self.values = self.values[keep]
        self.probs = kept / total
        self.null_prob = null_mass / total
        return total
