"""Binary-segmentation change-point scoring as one Column expression.

Shared by the batch plan ``events_changepoint_binary`` and its streaming
twins, so both score a series through the same expression tree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def best_split() -> Column:
    """The best single split of the hourly-count series in the
    ``hrs``/``ns`` array columns (sorted by hour, at least two
    entries), as the struct
    ``(n_hours, split_hr, left_len, left_mean, right_mean, gain)``.

    Every split k in 1..L-1 gains S_k^2/k + (S-S_k)^2/(L-k) - S^2/L,
    each term a double built from exact int64 sums through one fixed
    IEEE expression tree; the argmax keeps the first strict maximum, so
    the earliest k wins ties.  One fold over k carries the prefix sum
    S_k and the best split so far: O(L) per row.  L and S are
    let-bound (``transform(array(…), p -> …)[0]``) so Catalyst
    evaluates them once per row however the projections collapse.
    """
    sk = "(a.sk + element_at(ns, k))"
    gain = (f"CAST({sk} AS DOUBLE) * {sk} / k"
            f" + CAST(p.S - {sk} AS DOUBLE) * (p.S - {sk}) / (p.L - k)"
            f" - CAST(p.S AS DOUBLE) * p.S / p.L")
    init = ("named_struct('sk', 0L, 'best', named_struct("
            "'g', CAST('-1e308' AS DOUBLE), 'k', 0L, 'sk', 0L))")
    step = (f"(a, k) -> named_struct('sk', {sk}, 'best',"
            f" IF({gain} > a.best.g,"
            f" named_struct('g', {gain}, 'k', CAST(k AS BIGINT), 'sk', {sk}),"
            f" a.best))")
    finish = ("a -> named_struct("
              "'n_hours', p.L,"
              " 'split_hr', element_at(hrs, CAST(a.best.k AS INT)),"
              " 'left_len', a.best.k,"
              " 'left_mean', round(CAST(a.best.sk AS DOUBLE) / a.best.k, 6),"
              " 'right_mean', round(CAST(p.S - a.best.sk AS DOUBLE)"
              " / (p.L - a.best.k), 6),"
              " 'gain', round(a.best.g, 6))")
    best = (f"aggregate(sequence(1, CAST(p.L - 1 AS INT)), {init}, {step},"
            f" {finish})")
    totals = ("named_struct('L', CAST(size(ns) AS BIGINT),"
              " 'S', aggregate(ns, 0L, (a, x) -> a + x))")
    return F.expr(f"transform(array({totals}), p -> {best})[0]")
