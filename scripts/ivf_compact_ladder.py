"""Measure sink_ivf_compact's claim at scale: after a week of streaming
triggers the index's latest version holds the base file plus one file per
batch in every touched cell, and the fold returns probe wall to
single-file-per-cell cost.

Emulates the post-week state directly (N appended index versions written
with the same assignment the stream ingest performs — the ladder measures
fold/probe economics, not the stream machinery, which the sf-fixture op
already grades), then times the SAME serving probe over the fragmented
version and over the folded one.

Usage:
    python scripts/ivf_compact_ladder.py [N_BATCHES] [sf_dir]
    # defaults: 16 /tmp/userportrait_corpus10
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from userportrait.session import get_spark  # noqa: E402


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/userportrait_corpus10"
    spark = get_spark("ivf-compact-ladder")

    from userportrait.catalog import load
    from userportrait.ops.llm_similarity import (
        _by_cell,
        _index_commit,
        _ivf_append_parts,
        _ivf_serve_probe,
        ivf_assign,
    )
    from userportrait.ops.scans import _snapshot_in_parts, _snapshot_manifest, _snapshot_read
    from userportrait.ops.streaming import ivf_fold_fragmented_cells

    t0 = time.perf_counter()
    root, cutoff, cent = _ivf_append_parts(spark, sf_dir)
    build_s = time.perf_counter() - t0

    e = load(spark, sf_dir).embeddings
    new = e.where(F.col("vec_id") > cutoff)
    lo, hi = new.agg(F.min("vec_id"), F.max("vec_id")).first()
    span = (hi - lo + 1) // n_batches + 1
    t0 = time.perf_counter()
    for i in range(n_batches):
        sl = new.where(
            (F.col("vec_id") >= lo + i * span) & (F.col("vec_id") < lo + (i + 1) * span)
        )
        assigned = sl.join(ivf_assign(sl, cent), "vec_id").select(
            "vec_id", "embedding", "cell"
        )
        _index_commit(spark, root, "append", {"cells": _by_cell(assigned)})
    ingest_s = time.perf_counter() - t0

    def nfiles() -> int:
        return sum(map(_snapshot_in_parts("cells"), _snapshot_manifest(root)["files"]))

    files_before = nfiles()
    view = _snapshot_read(spark, root, part="cells").select("vec_id", "embedding", "cell")

    def probe(back) -> tuple[float, int]:
        # warm twice, report the second run (the bench convention)
        for _ in range(2):
            t0 = time.perf_counter()
            n = _ivf_serve_probe(e, cent, back).count()
            wall = time.perf_counter() - t0
        return wall, n

    def scan_wall(back) -> float:
        # raw member-scan cost (file-open/footer overhead isolated from the
        # CPU-bound rescore): force a full read of every member row
        for _ in range(2):
            t0 = time.perf_counter()
            back.agg(F.sum("vec_id"), F.sum(F.size("embedding"))).collect()
            wall = time.perf_counter() - t0
        return wall

    scan_fanout_s = scan_wall(view)
    probe_fanout_s, n1 = probe(view)

    t0 = time.perf_counter()
    ivf_fold_fragmented_cells(spark, root, member_cols=("vec_id", "embedding"))
    fold_s = time.perf_counter() - t0
    files_after = nfiles()

    folded = _snapshot_read(spark, root, part="cells").select("vec_id", "embedding", "cell")
    scan_base_s = scan_wall(folded)
    probe_base_s, n2 = probe(folded)

    print(
        f"\nladder sf={sf_dir} n_batches={n_batches}\n"
        f"  base build            {build_s:8.1f} s\n"
        f"  ingest {n_batches:3d} versions    {ingest_s:8.1f} s\n"
        f"  serving files before  {files_before:8d}\n"
        f"  member scan fan-out   {scan_fanout_s:8.2f} s\n"
        f"  probe over fan-out    {probe_fanout_s:8.1f} s   ({n1} rows)\n"
        f"  fold (compaction)     {fold_s:8.1f} s\n"
        f"  serving files after   {files_after:8d}\n"
        f"  member scan base      {scan_base_s:8.2f} s\n"
        f"  probe over base       {probe_base_s:8.1f} s   ({n2} rows)\n"
        f"  probe rows agree:     {n1 == n2}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
