#!/usr/bin/env python3
"""Closed-loop benchmark of the userportrait engine.

    python3 perfbench/run.py --workload portrait_refresh --seed 1 --seconds 10 --trace 0

Run it from the repository root. One client drives ``local[<cores>]`` from
this process through the public ops of ``userportrait.registry.load_all_ops``
on tables that ``perfbench/gen.py`` builds from the seed; the program sees
only those tables. A run warms every op with one cold pass inside
``setup_s``, times a fixed amount of work (``round(--seconds / PASS_S)``
passes, at least one), checks every timed output against the registry's
DuckDB oracle, and prints one JSON object as its last line. ``--trace 1``
runs the timed passes once traced and once untraced and reports the
per-layer metrics of ``BENCHMARK.json`` instead of the end-to-end ones.

Workloads (why each exists is also in ``BENCHMARK.json``):

* ``portrait_refresh`` — the nightly batch. A pass runs ``tag_refresh_delta``,
  ``profile_assemble`` and ``tag_retention`` on the star schema and the four
  corpus-curation ops (clean, near-dedup, BM25 keywords, cosine kNN) on a
  fresh seeded shard of documents and embeddings, writing every result to
  parquet. The pass is one operation; its items are the customer profiles
  refreshed.
* ``audience_serve`` — a marketer's console: each pass is a seeded shuffle of
  five audience queries, each collected into this process. Each query is one
  operation and one item.

Which end-to-end metric each per-layer metric should move:

* ``session.*``, ``registry.*``, ``setup.warmup_s`` -> ``setup_s``, both workloads.
* ``ops.*.declare_s``, ``ops.*.jobs``, ``catalog.release_pins_s`` ->
  ``latency_p50_s`` and ``items_per_s``, mostly on ``audience_serve``.
* ``ops.*.execute_s``, ``spark.task_s``, ``spark.input_bytes``,
  ``spark.shuffle_write_bytes``, ``sink.*`` -> ``items_per_s`` on
  ``portrait_refresh``; ``sink.*`` cannot move ``audience_serve``, which writes nothing.
* ``ops.pipeline_ext.*``, ``ops.llm_*`` -> ``items_per_s`` on ``portrait_refresh`` only.
* ``spark.gc_s`` -> ``items_per_s`` and ``peak_rss_mb``; ``spark.failed_tasks`` -> ``run.failed_frac``.

Exit status: 0 when every timed output matched its oracle, 1 when an op
failed or mismatched (the JSON line is still printed), 2 when run outside
the repository root; a crash exits non-zero without a JSON line.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s — before the heavy imports

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Module of each benchmarked op, for the per-layer metric names.
OP_MODULES = {
    "tag_refresh_delta": "ops.curation",
    "profile_assemble": "ops.portrait",
    "tag_retention": "ops.portrait",
    "tag_crowd_select": "ops.portrait",
    "tag_audience_overlap": "ops.portrait",
    "tag_lookalike": "ops.portrait",
    "tag_segment_migration": "ops.portrait",
    "feat_point_in_time": "ops.portrait",
    "doc_clean_pipeline": "ops.pipeline_ext",
    "dedup_near_minhash": "ops.llm_dedup",
    "text_bm25_keywords": "ops.llm_text",
    "sim_cosine_knn": "ops.llm_similarity",
}
OP_METRICS = {"declare_s": "s", "execute_s": "s", "jobs": "count", "shuffle_bytes": "bytes"}


@dataclass(frozen=True)
class Workload:
    star_ops: tuple[str, ...]  # run on the seeded star schema
    corpus_ops: tuple[str, ...] = ()  # run on a fresh seeded corpus shard each pass
    write: bool = True  # True: a pass writes every result to parquet; False: each query is collected
    customers: int = 1_500  # star schema size: FIXTURES sf0.01
    docs: int = 200  # documents, and as many embeddings, per corpus shard

    @property
    def ops(self) -> tuple[str, ...]:
        return self.star_ops + self.corpus_ops


WORKLOADS = {
    "portrait_refresh": Workload(
        star_ops=("tag_refresh_delta", "profile_assemble", "tag_retention"),
        corpus_ops=("doc_clean_pipeline", "dedup_near_minhash", "text_bm25_keywords", "sim_cosine_knn"),
    ),
    "audience_serve": Workload(
        star_ops=("tag_crowd_select", "tag_audience_overlap", "tag_lookalike", "tag_segment_migration",
                  "feat_point_in_time"),
        write=False,
    ),
}
# One cold pass warms the JVM, the Python workers and Spark's code caches. In
# a six-pass probe of the refresh pass on a 4-vCPU VM, the second pass ran
# within the pass-to-pass spread of passes 3-6; a second warm-up pass would
# not fit the per-run time budget.
WARMUP_PASSES = 1
# Budgeted seconds of one warm pass of either workload on a 4-vCPU host: the
# timed work is round(--seconds / PASS_S) passes, at least one — a fixed
# amount of work, not a fixed duration.
PASS_S = 9.0
TINY = {"customers": 300, "docs": 100}  # --tiny: the self-test scale


@dataclass
class CallRecord:
    op: str
    sf_dir: str
    out: str | None
    declare_s: float = 0.0
    execute_s: float = 0.0
    release_s: float = 0.0
    pins: int = 0
    jobs: int = 0
    shuffle_bytes: int = 0
    result: tuple | None = None  # digest of a collected result
    error: str | None = None


@dataclass
class Window:
    latencies: list[float] = field(default_factory=list)  # one per operation
    items: list[int] = field(default_factory=list)
    calls: list[CallRecord] = field(default_factory=list)

    @property
    def elapsed(self) -> float:
        return sum(self.latencies)

    @property
    def items_per_s(self) -> float:
        return sum(self.items) / self.elapsed


class Bench:
    def __init__(self, args, wl: Workload, run_dir: str):
        self.args, self.wl, self.run_dir = args, wl, run_dir
        self.cache_dir = os.path.join(HERE, ".work", "inputs")
        self.gen_s = 0.0
        self.hashes: dict[str, str] = {}  # table set -> content hash, in first-use order
        self.spark = None

    # -- inputs -----------------------------------------------------------
    def _materialize(self, key: str, build) -> str:
        t = time.perf_counter()
        table_dir, digest, cached = gen.materialize(self.cache_dir, key, build)
        self.gen_s += time.perf_counter() - t
        if key not in self.hashes:
            self.hashes[key] = digest
            print(f"inputs {key}: sha256 {digest}{' (cached)' if cached else ''}", file=sys.stderr)
        return table_dir

    def star_dir(self) -> str:
        n, seed = self.wl.customers, self.args.seed
        return self._materialize(f"star-c{n}-s{seed}", lambda: gen.star_tables(gen.rng_for(seed, 0), n))

    def shard_dir(self, pass_no: int) -> str:
        n, seed = self.wl.docs, self.args.seed
        return self._materialize(
            f"corpus-d{n}-s{seed}-p{pass_no}",
            lambda: gen.corpus_tables(gen.rng_for(seed, 1, pass_no), n, n, id_offset=pass_no * n))

    def pass_calls(self, pass_no: int) -> list[tuple[str, str]]:
        """(op, sf_dir) of every call in pass ``pass_no``, inputs generated."""
        wl, star = self.wl, self.star_dir()
        if not wl.write:
            order = gen.rng_for(self.args.seed, 2, pass_no).permutation(len(wl.star_ops))
            return [(wl.star_ops[i], star) for i in order]
        calls = [(op, star) for op in wl.star_ops]
        if wl.corpus_ops:
            shard = self.shard_dir(pass_no)
            calls += [(op, shard) for op in wl.corpus_ops]
        return calls

    # -- one op call --------------------------------------------------------
    def call(self, op: str, sf_dir: str, out: str | None, tracer) -> CallRecord:
        spark, ops = self.spark, self.ops
        rec = CallRecord(op, sf_dir, out)
        span = tracer.span if tracer else (lambda *a, **k: nullcontext())
        if tracer:
            before = tracer.counters()
        try:
            with span(op, layer=OP_MODULES[op]):
                gid = tracer.new_job_group() if tracer else None
                t = time.perf_counter()
                with span("declare"):
                    df = ops[op].fn(spark, sf_dir)
                t1 = time.perf_counter()
                with span("write" if out else "collect"):
                    if out:
                        df.write.mode("overwrite").parquet(out)
                        rows = None
                    else:
                        cols, rows = df.columns, df.collect()
                t2 = time.perf_counter()
                with span("release_pins"):
                    rec.pins = self.release_pins()
                t3 = time.perf_counter()
            rec.declare_s, rec.execute_s, rec.release_s = t1 - t, t2 - t1, t3 - t2
            if rows is not None:
                rec.result = (cols, rows)
        except Exception:  # noqa: BLE001 — a failing op is counted, the run goes on
            rec.error = traceback.format_exc(limit=6)
            print(f"[FAIL] {op} on {sf_dir}:\n{rec.error}", file=sys.stderr)
            self.release_pins()
        if tracer:
            rec.jobs = tracer.job_count(gid) if gid else 0
            rec.shuffle_bytes = tracer.counters()["shuffle_write_bytes"] - before["shuffle_write_bytes"]
        return rec

    # -- passes and windows ------------------------------------------------
    def run_passes(self, first: int, count: int, tracer=None, keep_results: bool = True) -> Window:
        """Run passes [first, first + count). Input generation and result
        digesting happen between operations, off the clock."""
        from oracle import digest

        w = Window()
        for p in range(first, first + count):
            calls = self.pass_calls(p)
            with (tracer.span("pass", number=p) if tracer else nullcontext()):
                # A batch pass is one operation; each audience query is one.
                groups = [calls] if self.wl.write else [[c] for c in calls]
                for group in groups:
                    t = time.perf_counter()
                    recs = [self.call(op, sf_dir, self.out_dir(p, op), tracer) for op, sf_dir in group]
                    w.latencies.append(time.perf_counter() - t)
                    w.items.append(self.wl.customers if self.wl.write else 1)
                    for r in recs:
                        if r.result is not None:
                            r.result = digest(*r.result) if keep_results else None
                    w.calls.extend(recs)
        return w

    def out_dir(self, pass_no: int, op: str) -> str | None:
        return os.path.join(self.run_dir, "out", f"p{pass_no}", op) if self.wl.write else None

    # -- whole run ---------------------------------------------------------
    def run(self) -> dict:
        args, wl = self.args, self.wl
        self.star_dir()  # inputs exist before the clock starts

        t = time.perf_counter()
        from userportrait.catalog import release_pins
        from userportrait.registry import load_all_ops
        from userportrait.session import get_spark

        self.release_pins = release_pins
        import_s = time.perf_counter() - t
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t
        t = time.perf_counter()
        self.ops = load_all_ops()
        load_ops_s = time.perf_counter() - t

        t = time.perf_counter()
        gen_before = self.gen_s
        warm = self.run_passes(0, WARMUP_PASSES, keep_results=False)
        warmup_s = time.perf_counter() - t - (self.gen_s - gen_before)
        for r in warm.calls:
            if r.error:
                raise RuntimeError(f"warm-up call {r.op} failed")
        # Inputs for the first timed pass are built before the clock reads.
        first = WARMUP_PASSES
        self.pass_calls(first)
        setup_s = time.perf_counter() - T0 - self.gen_s

        n_passes = max(1, round(args.seconds / PASS_S))
        traced = spark_delta = None
        if args.trace:
            # Traced passes first, so the per-layer numbers describe the same
            # pass numbers as an untraced run's timed window. The untraced
            # passes after them are one JIT step further on, which makes the
            # reported overhead an upper bound.
            from spans import Tracer

            tracer = Tracer(self.spark)
            c0 = tracer.counters()
            with tracer.span(args.workload):
                traced = self.run_passes(first, n_passes, tracer)
            spark_delta = {k: v - c0[k] for k, v in tracer.counters().items()}
            trace_path = os.path.join(HERE, ".work", f"trace-{args.workload}-s{args.seed}.json")
            tracer.dump(trace_path)
            print(f"spans: {trace_path}", file=sys.stderr)
            first += n_passes
        timed = self.run_passes(first, n_passes)
        windows = [w for w in (traced, timed) if w is not None]

        peak_rss_mb = jvm_peak_rss_mb(self.spark)
        t_check = time.perf_counter()
        calls = [c for w in windows for c in w.calls]
        failed = self.check(calls)
        print(f"phases: get_spark {get_spark_s:.1f} s, warm-up {warmup_s:.1f} s, "
              f"timed {sum(w.elapsed for w in windows):.1f} s, check {time.perf_counter() - t_check:.1f} s",
              file=sys.stderr)
        print("operation seconds: warm-up " + " ".join(f"{x:.2f}" for x in warm.latencies)
              + " | timed " + " ".join(f"{x:.2f}" for x in timed.latencies), file=sys.stderr)
        print("timed calls (declare+execute s): " + ", ".join(
            f"{c.op} {c.declare_s:.2f}+{c.execute_s:.2f}" for c in timed.calls), file=sys.stderr)

        attempted = len(calls)
        failed_frac = failed / attempted
        print_drift(drift(timed, 1 if wl.write else len(wl.ops)), args.workload)
        print(f"inputs sha256 (all sets, in order): {combined_hash(list(self.hashes.values()))}; "
              f"generated in {self.gen_s:.3f} s (not in setup_s)", file=sys.stderr)

        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "items_per_s": timed.items_per_s,
                "latency_p50_s": statistics.median(timed.latencies),
            }
            print_summary(metrics, timed, failed_frac, peak_rss_mb)
        else:
            metrics = self.layer_metrics(traced, spark_delta)
            metrics.update({
                "peak_rss_mb": peak_rss_mb,
                "session.import_s": import_s,
                "session.get_spark_s": get_spark_s,
                "registry.load_all_ops_s": load_ops_s,
                "setup.warmup_s": warmup_s,
                "inputs.gen_s": self.gen_s,
                "run.failed_frac": failed_frac,
                "run.latency_samples": len(timed.latencies),
                "trace.untraced_items_per_s": timed.items_per_s,
                "trace.items_per_s": traced.items_per_s,
                "trace.overhead_frac": 1.0 - traced.items_per_s / timed.items_per_s,
            })
        return {"attempted": attempted, "failed": failed, "metrics": metrics}

    def layer_metrics(self, w: Window, spark_delta: dict) -> dict[str, float]:
        m: dict[str, float] = {}
        by_op: dict[str, list[CallRecord]] = {}
        for c in w.calls:
            by_op.setdefault(c.op, []).append(c)
        for op, module in OP_MODULES.items():
            recs = by_op.get(op, [])
            for k in OP_METRICS:
                m[f"{module}.{op}.{k}"] = statistics.median(getattr(r, k) for r in recs) if recs else 0
        sink_bytes = sink_files = 0
        for c in w.calls:
            if c.out and os.path.isdir(c.out):
                for f in os.listdir(c.out):
                    if f.startswith("part-"):
                        sink_files += 1
                        sink_bytes += os.path.getsize(os.path.join(c.out, f))
        m.update({
            "catalog.release_pins_s": sum(c.release_s for c in w.calls),
            "catalog.pins_released": sum(c.pins for c in w.calls),
            "sink.write_s": sum(c.execute_s for c in w.calls if c.out),
            "sink.bytes_written": sink_bytes,
            "sink.files_written": sink_files,
            "spark.tasks": spark_delta["tasks"],
            "spark.task_s": spark_delta["task_ms"] / 1000.0,
            "spark.input_bytes": spark_delta["input_bytes"],
            "spark.shuffle_write_bytes": spark_delta["shuffle_write_bytes"],
            "spark.gc_s": spark_delta["gc_ms"] / 1000.0,
            "spark.failed_tasks": spark_delta["failed_tasks"],
        })
        return m

    def check(self, calls: list[CallRecord]) -> int:
        """Compare every timed output with the DuckDB oracle; returns the
        number of failed or mismatched calls."""
        from oracle import oracle_digests, parquet_digest

        oracles = {op: self.ops[op].oracle for op in self.wl.ops}
        want = oracle_digests({(c.op, c.sf_dir) for c in calls}, oracles, os.cpu_count() or 1)
        failed = 0
        for c in calls:
            if c.error:
                failed += 1
                continue
            got = parquet_digest(c.out) if c.out else c.result
            exp = want[(c.op, c.sf_dir)]
            if got != exp:
                failed += 1
                print(f"[MISMATCH] {c.op} on {c.sf_dir}: columns {got[0]} vs {exp[0]}, "
                      f"rows {got[1]} vs {exp[1]}", file=sys.stderr)
        return failed

    def stop_spark(self) -> None:
        """Stop the session, if one started, and wait for the JVM (and its
        Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not in /proc status")


def drift(timed: Window, per_pass: int) -> tuple[float, float] | None:
    """items/s of the first and the last third of the timed passes, or None
    with fewer than three passes, whose thirds would hold different work."""
    def rate(sl: slice) -> float:
        return sum(timed.items[sl]) / sum(timed.latencies[sl])

    n = len(timed.latencies)
    k = n // per_pass // 3 * per_pass
    return (rate(slice(0, k)), rate(slice(n - k, n))) if k else None


def print_drift(thirds: tuple[float, float] | None, workload: str) -> None:
    if thirds is None:
        print(f"drift {workload}: n/a, fewer than 3 timed passes (raise --seconds to check)", file=sys.stderr)
        return
    with open("BENCHMARK.json") as f:
        bound = next(m["bound"] for m in json.load(f)["end_to_end"] if m["name"] == "items_per_s")
    first, last = thirds
    change = last / first - 1.0
    note = "WARNING: beyond the items_per_s bound" if abs(change) > bound else "ok"
    print(f"drift {workload}: first third {first:.4f}/s, last third {last:.4f}/s ({change:+.1%}; {note})",
          file=sys.stderr)


def combined_hash(hashes: list[str]) -> str:
    return hashlib.sha256("".join(hashes).encode()).hexdigest()


def print_summary(metrics: dict, timed: Window, failed_frac: float, peak_rss_mb: float) -> None:
    n = len(timed.latencies)
    p90 = (f"{statistics.quantiles(timed.latencies, n=10)[-1]:.4f} s" if n >= 100
           else f"n/a (needs 100 operations, run has {n})")
    print(f"setup_s        {metrics['setup_s']:.4f} s")
    print(f"items_per_s    {metrics['items_per_s']:.4f} 1/s")
    print(f"latency_p50_s  {metrics['latency_p50_s']:.4f} s ({n} operations)")
    print(f"latency_p90_s  {p90}")
    print(f"peak_rss_mb    {peak_rss_mb:.1f} MB (JVM VmHWM; per-layer, too noisy for a bound)")
    print(f"failed_frac    {failed_frac:.4f}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test scale (small tables)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "userportrait")):
        print("perfbench: userportrait/ not found; run from the repository root", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    if args.tiny:
        wl = dataclasses.replace(wl, **TINY)

    run_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    for sub in ("local", "tmp", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    gen.prune_cache(os.path.join(HERE, ".work", "inputs"), keep=48)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        # pandas-UDF workers import userportrait from the repository
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Keep every JVM's temp files (and no hsperfdata) inside the run dir.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "TZ": "UTC",
    })
    time.tzset()
    sys.path.insert(0, root)
    # A SIGTERM unwinds like an exception, so the cleanup below still runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, wl, run_dir)
    try:
        out = bench.run()
    finally:
        try:
            bench.stop_spark()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    correct = out["failed"] == 0
    units = metric_units()
    result = {
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


def metric_units() -> dict[str, str]:
    """Unit of every metric this benchmark reports."""
    units = {"setup_s": "s", "items_per_s": "1/s", "latency_p50_s": "s", "peak_rss_mb": "MB"}
    for op, module in OP_MODULES.items():
        for k, u in OP_METRICS.items():
            units[f"{module}.{op}.{k}"] = u
    units.update({
        "session.import_s": "s", "session.get_spark_s": "s", "registry.load_all_ops_s": "s",
        "setup.warmup_s": "s", "inputs.gen_s": "s",
        "catalog.release_pins_s": "s", "catalog.pins_released": "count",
        "sink.write_s": "s", "sink.bytes_written": "bytes", "sink.files_written": "count",
        "spark.tasks": "count", "spark.task_s": "s", "spark.input_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes", "spark.gc_s": "s", "spark.failed_tasks": "count",
        "run.failed_frac": "1", "run.latency_samples": "count",
        "trace.untraced_items_per_s": "1/s", "trace.items_per_s": "1/s", "trace.overhead_frac": "1",
    })
    return units


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
