"""Measure sink_ivf_delete_kmeans's claim at scale: with a √n-cell trained
quantizer, purging a FIXED-SIZE erasure list costs O(touched-cell mass) —
request-sized — while the index build costs O(corpus). On the ~10-cell
label quantizer every erasure touches every cell; this rung shows where
the claim actually binds.

Per rung: build the kmeans index, time it; run the purge (one index
version: the erasure record plus the touched cells' survivors), time it;
report touched cells / total cells and touched member mass / corpus
mass. Across rungs (1x vs 10x corpus) the build wall should scale
with the corpus and the purge wall with the touched mass.

The erasure list is computed OUTSIDE the timed delete window and passed in
— the deployment shape (the request arrives externally as a ticket), and
the only honest timing: regenerating the fixture list inside the window
would add an O(corpus) md5 rank scan to the very measurement that exists
to show the purge does NOT scale with the corpus.

Usage:
    UP_IVF_KMEANS_K=141 python scripts/ivf_delete_ladder.py [sf_dir] [erase_n]
    # defaults: /tmp/userportrait_corpus10 (stage with scale_replica.py), 8
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from userportrait.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/userportrait_corpus10"
    erase_n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("ivf-delete-ladder")

    from userportrait.ops.llm_similarity import (
        IVF_KMEANS_K,
        _ivf_kmeans_delete,
        _ivf_kmeans_erasure,
        _write_ivf_kmeans_index,
    )
    from userportrait.ops.scans import _snapshot_read

    t0 = time.time()
    root = _write_ivf_kmeans_index(spark, sf_dir)
    build_wall = time.time() - t0

    back = _snapshot_read(spark, root, part="cells")
    n_corpus = back.count()
    erase = [r.vec_id for r in _ivf_kmeans_erasure(back, erase_n).collect()]
    touched = back.where(F.col("vec_id").isin(erase)).select("cell").distinct()
    n_touched_cells = touched.count()
    n_cells = back.select("cell").distinct().count()
    touched_mass = back.join(touched, "cell").count()

    t1 = time.time()
    _ivf_kmeans_delete(spark, root, erase)
    delete_wall = time.time() - t1

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "k": IVF_KMEANS_K,
                "erase_n": erase_n,
                "n_corpus": n_corpus,
                "n_cells": n_cells,
                "n_touched_cells": n_touched_cells,
                "touched_mass": touched_mass,
                "touched_mass_frac": round(touched_mass / n_corpus, 4),
                "build_wall_sec": round(build_wall, 2),
                "delete_wall_sec": round(delete_wall, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
