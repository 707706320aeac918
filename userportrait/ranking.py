"""Distributed exact global ranks and running sums.

``row_number() OVER (ORDER BY ...)`` and ``sum(w) OVER (ORDER BY ...)`` with
no PARTITION BY plan as ``Exchange SinglePartition`` and funnel every row
through one task. ``exact_prefix`` computes the same values with no
single-partition exchange over data, for one or more orderings of one frame:

  1. one quantile-sketch pass splits each ordering's lead value into ~npart
     range buckets, turned into literal bucket columns. The bounds only need
     to RESPECT the global order (rows in bucket i sort before rows in bucket
     i+1; equal lead values share a bucket): their accuracy affects balance,
     never correctness.
  2. one counting pass over the bucket columns, collected to the driver
     (``count()``, or ``sum(weight)``): <= npart^len(orderings) combo rows, a
     metadata aggregate, not data.
  3. exact global rank = literal prefix offset of the bucket + row_number()
     within the bucket (or the running ``sum(weight)``), hash-partitioned by
     bucket id and fully parallel; the in-bucket order ends in the unique
     tie-break, so the total order is strict.

``ntile`` turns a rank into an exact ``ntile(k)`` score with integral
arithmetic. The ops' DuckDB oracles keep the plain ``OVER (ORDER BY ...)``
forms, so the equivalence is re-proven on every differential run.

Skew note: a single lead value dominating the distribution degenerates to
one hot bucket (a rank over a near-constant lead is inherently serial in the
tie region); the unique tie-break bounds the damage to one bucket's window.
The same holds for a lead with few distinct values: ``sort_multikey_nulls``
buckets on ``c_nationkey``, so it gets at most 25 buckets, whatever
``npart`` asks for.

Every literal reaches the plan inside one SQL string per column: the bucket
column ``_b_<out>`` is ``0 + CAST(_s_<out> > <bound>D AS INT) + ...`` and its
prefix offset one ``element_at`` lookup into a ``bigint`` array literal.
Building the same expressions from ``Column`` nodes costs one py4j round trip
per node, about 300 nodes per ordering, which would dominate declaration
time, and an offset chain of one ``CASE WHEN`` branch per bucket would stay
in the executed plan.
Finite bounds are rendered with ``repr`` (shortest round-trip form), the
non-finite ones with an explicit cast, since ``infD`` does not parse. How a
bound is rendered never affects exactness: the counting pass and the ranking
pass evaluate the same monotone bucket expression.
"""

from __future__ import annotations

import math
from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _double_sql(x: float) -> str:
    """A SQL literal equal to the double ``x``, non-finite values included."""
    if math.isfinite(x):
        return f"{x!r}D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def ntile(rank_col: str, total: int, k: int) -> Column:
    """Exact ``ntile(k)`` (1..k, int) of the 1-based rank column ``rank_col``
    out of ``total`` rows: the first ``total % k`` buckets get
    ``total // k + 1`` rows. ``div``, not float division: float quotients
    truncate the wrong way near 2^53."""
    base, rem = divmod(total, k)
    big = (base + 1) * rem  # rows covered by the oversized buckets
    return F.expr(
        f"CAST(CASE WHEN `{rank_col}` <= {big} THEN (`{rank_col}` - 1) div {base + 1} + 1"
        f" ELSE {rem} + (`{rank_col}` - {big} - 1) div {max(base, 1)} + 1 END AS INT)"
    )


def exact_prefix(
    df: DataFrame,
    orderings: list[tuple[Column, list[Column], str]],
    weight: str | None = None,
    npart: int = 32,
    k: int | None = None,
) -> tuple[DataFrame, int]:
    """Append one exact global prefix column per ordering; return it with
    the total (row count, or ``sum(weight)``) as a driver integer.

    ``orderings``: (lead, order, out) triples. ``order`` is the full sort
    list and ends in a unique tie-break. ``lead`` is a non-null numeric
    Column in ASCENDING orientation that ``order`` sorts by first (negate a
    DESC key); it is materialized as the double column ``_s_<out>``, which
    ``order`` may name. ``out`` is the bigint column appended:
    ``row_number()`` in that order, or with ``weight`` (a column name) the
    inclusive running ``sum(weight)``. With ``k``, ``out`` is instead the
    exact ``ntile(k)`` of the rank, added right after the ordering's window,
    so the next ordering's shuffle carries the score, not the rank.

    Exact because the bucket bounds are literals and the input is
    deterministic: the collected counts and the executed rows see the same
    buckets, so no pin is needed. The frame is persisted for the two driver
    actions only; the returned lazy plan recomputes the input.
    """
    s_cols = [f"_s_{out}" for _, _, out in orderings]
    work = df.withColumns({s: lead.cast("double") for s, (lead, _, _) in zip(s_cols, orderings)})

    cached = work.persist()
    work = cached
    try:
        probs = [i / npart for i in range(1, npart)]
        all_bounds = work.approxQuantile(s_cols, probs, 1.0 / (4 * npart))
        cuts = [sorted(set(bounds)) for bounds in all_bounds]
        b_cols = [f"_b_{out}" for _, _, out in orderings]
        work = work.withColumns({
            b_col: F.expr(" + ".join(["0"] + [f"CAST(`{s_col}` > {_double_sql(c)} AS INT)" for c in cut]))
            for b_col, s_col, cut in zip(b_cols, s_cols, cuts)
        })

        grouped = work.groupBy(*b_cols)
        counted = grouped.count() if weight is None else grouped.agg(F.sum(weight).alias("count"))
        combos = counted.collect()
        total = sum(r["count"] for r in combos)

        helper = s_cols + b_cols
        for (_, order, out), b_col, cut in zip(orderings, b_cols, cuts):
            sizes = [0] * (len(cut) + 1)
            for r in combos:
                sizes[r[b_col]] += r["count"]
            starts = ", ".join(f"{o}L" for o in [0, *accumulate(sizes[:-1])])
            off_expr = F.expr(f"element_at(array({starts}), `{b_col}` + 1)")

            w = Window.partitionBy(b_col).orderBy(*order)
            if weight is None:
                step = F.row_number().over(w)
            else:
                step = F.sum(weight).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            rank = out if k is None else f"_r_{out}"
            work = work.withColumn(rank, (off_expr + step).cast("bigint"))
            if k is not None:
                work = work.withColumn(out, ntile(rank, total, k))
                helper.append(rank)
        return work.drop(*helper), total
    finally:
        cached.unpersist(blocking=False)


def exact_ntile_scores(
    df: DataFrame,
    orderings: list[tuple[Column, str, str]],
    k: int = 5,
    npart: int = 32,
) -> DataFrame:
    """Append one exact global ntile(k) score column per ordering.

    ``orderings``: (sort_value, tie_col, out_name) triples. ``sort_value`` is
    a Column in ASCENDING orientation (negate for DESC); ``tie_col`` a unique
    column name; ``out_name`` the int score column (1..k) to append.
    """
    prefix = [
        (value, [F.col(f"_s_{out}").asc(), F.col(tie).asc()], out)
        for value, tie, out in orderings
    ]
    return exact_prefix(df, prefix, npart=npart, k=k)[0]
