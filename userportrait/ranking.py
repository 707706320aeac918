"""Distributed exact global ranks and running sums.

``row_number() OVER (ORDER BY ...)`` and ``sum(w) OVER (ORDER BY ...)`` with
no PARTITION BY plan as ``Exchange SinglePartition`` and funnel every row
through one task. ``exact_prefix`` computes the same values with no
single-partition exchange over data, for one or more orderings of one frame,
with one driver action per call:

  1. each ordering's lead value gets a fixed integer cell ``_f_<out>`` on a
     data-independent grid of ``S`` cells per binade (a power-of-two range
     ``[2^e, 2^(e+1))``), and one ``stack``/``groupBy(ordering, cell)``
     aggregate, collected to the driver, returns every ordering's exact cell
     counts (and ``sum(weight)``): at most
     ``len(orderings) * min(n, S * binades spanned)`` rows, metadata, not data.
  2. the driver merges adjacent cells into <= npart range buckets of
     balanced row counts; the bucket column ``_b_<out>`` is
     ``0 + CAST(_f_<out> > <cut> AS INT) + ...`` over the bigint cell cuts,
     and each bucket's exact prefix offset and the total follow from the
     same counts.
  3. exact global rank = literal prefix offset of the bucket + row_number()
     within the bucket (or the running ``sum(weight)``), hash-partitioned by
     bucket id and fully parallel; the in-bucket order ends in the unique
     tie-break, so the total order is strict.

Exactness rests on one property: the cell is a deterministic, monotone
non-decreasing function of the lead in Spark's double order (``-0.0 ==
0.0``, NaN sorts above ``+inf``). Rows in bucket i then sort before rows in
bucket i+1, equal leads share a bucket, and the counting pass and the
ranking pass put every row in the same bucket. The cell uses exact
operations only: ``log2`` may be off by an ulp and may differ between
code paths, so it only picks the binade exponent ``e``; the mantissa step
``floor(a / pow(2, e) * S)`` is exact, and clamping it to ``2S`` makes an
exponent that is one too small or too large at a binade edge land on the
same cell (``2S`` at ``e - 1`` is ``S`` at ``e``; ``S - 1`` at ``e + 1`` is
``2S - 1`` at ``e``). Zero maps to cell 0, +-inf to the outermost cells,
NaN to the +inf cell. Nothing is cached: the input must be deterministic,
and the returned lazy plan evaluates it again.

``ntile`` turns a rank into an exact ``ntile(k)`` score with integral
arithmetic. The ops' DuckDB oracles keep the plain ``OVER (ORDER BY ...)``
forms, so the equivalence is re-proven on every differential run.

Skew note: a bucket is a run of whole cells, so a cell holding more than
1/npart of the rows makes one hot bucket. A single lead value dominating
the distribution does this (a rank over a near-constant lead is inherently
serial in the tie region), and so does a lead whose rows crowd into one
narrow relative band: a cell is 0.05-0.1% of the value wide, so one day of
epoch-second timestamps sits in a handful of cells. The result stays exact
and the unique tie-break bounds the damage to one bucket's window. A lead
with few distinct values gets at most that many buckets:
``sort_multikey_nulls`` buckets on ``c_nationkey``, so it gets at most 25,
whatever ``npart`` asks for.

Every literal reaches the plan inside one SQL string per column (the cell
and its two helper columns, the bucket sum, the offset as one
``element_at`` lookup into a ``bigint`` array literal). Building the same
expressions from ``Column`` nodes costs one py4j round trip per node,
about 300 nodes per ordering, which would dominate declaration time.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

S = 1024  # grid cells per binade; a cell is 1/S to 1/(2S) of its value wide


def _with_cells(df: DataFrame, cells: dict[str, str]) -> DataFrame:
    """Append the bigint grid cell of each ``{cell: double lead}`` column.
    The NaN-mapped lead ``_t`` and its binade exponent ``_e`` are helper
    columns, dropped again: each is read more than once, so Catalyst keeps
    it a column and the plan computes it once per lead."""
    df = df.withColumns({f"_t{c}": F.expr(f"nanvl(`{s}`, CAST('Infinity' AS DOUBLE))") for c, s in cells.items()})
    df = df.withColumns({f"_e{c}": F.expr(f"least(greatest(floor(log2(abs(`_t{c}`))), -1074), 1023)") for c in cells})
    df = df.withColumns({
        c: F.expr(f"CAST(signum(`_t{c}`) * (least(floor(abs(`_t{c}`) / pow(2, `_e{c}`) * {S}), {2 * S})"
                  f" + (`_e{c}` + 1074) * {S}) AS BIGINT)")
        for c in cells
    })
    return df.drop(*(f"_{h}{c}" for c in cells for h in "te"))


def _merge_cells(hist: list[tuple[int, int, int]], npart: int) -> tuple[list[int], list[int]]:
    """Merge adjacent ``(cell, rows, weight)`` entries, sorted by cell, into
    <= npart range buckets; return the cut cells (each bucket's last cell,
    the top bucket's omitted) and every bucket's weight sum.

    A bucket closes once it holds n/npart rows, or before a cell that would
    take it past 2n/npart: no bucket holds more than
    ``max(2n/npart, largest cell)`` rows, and all but the last hold n/npart
    rows or, with their successor, more than 2n/npart, so there are at most
    npart buckets."""
    lo = sum(rows for _, rows, _ in hist) / npart
    cuts, sums, held, last = [], [0], 0, None
    for cell, rows, weight in hist:
        if held and held + rows > 2 * lo:
            cuts.append(last)
            sums.append(0)
            held = 0
        held += rows
        sums[-1] += weight
        last = cell
        if held >= lo:
            cuts.append(cell)
            sums.append(0)
            held = 0
    if cuts and cuts[-1] == last:  # the last cell closed a bucket: no top bucket
        cuts.pop()
        sums.pop()
    return cuts, sums


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

    One driver action: the collect of the cells' exact counts. Nothing is
    cached, so ``df`` must be deterministic; the returned lazy plan
    evaluates it again.
    """
    s_cols = [f"_s_{out}" for _, _, out in orderings]
    f_cols = [f"_f_{out}" for _, _, out in orderings]
    b_cols = [f"_b_{out}" for _, _, out in orderings]
    work = df.withColumns({s: lead.cast("double") for s, (lead, _, _) in zip(s_cols, orderings)})
    work = _with_cells(work, dict(zip(f_cols, s_cols)))

    pairs = ", ".join(f"{i}, `{f}`" for i, f in enumerate(f_cols))
    cells = work.selectExpr(f"stack({len(f_cols)}, {pairs}) AS (o, cell)", f"`{weight}` AS w" if weight else "1L AS w")
    counted = cells.groupBy("o", "cell").agg(F.count("*").alias("n"), F.sum("w").alias("w"))
    hist = sorted(tuple(r) for r in counted.collect())

    merged = [_merge_cells([(c, n, w) for o, c, n, w in hist if o == i], npart) for i in range(len(orderings))]
    total = sum(merged[0][1])
    work = work.withColumns({
        b_col: F.expr(" + ".join(["0"] + [f"CAST(`{f_col}` > {c}L AS INT)" for c in cuts]))
        for b_col, f_col, (cuts, _) in zip(b_cols, f_cols, merged)
    }).drop(*f_cols)

    helper = s_cols + b_cols
    for (_, order, out), b_col, (_, sums) in zip(orderings, b_cols, merged):
        starts = ", ".join(f"{o}L" for o in [0, *accumulate(sums[:-1])])
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
