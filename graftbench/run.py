"""Closed-loop benchmark of the pcap_to_parquet_spark engine.

    python3 graftbench/run.py --workload pcap_convert --seed 1 --seconds 14 --trace 0

One client runs one op at a time against a local Spark session sized
from the host (``SPARK_GRAFT_CPUS`` = the CPUs this process may use).
Inputs are generated from the seed and cached under ``.bench_cache/``.
After a fixed warm-up, ops run until ``--seconds`` have passed; then
every op's output is checked in DuckDB. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones).
``--perturb`` corrupts the first timed op's output before its check,
to show that a wrong answer is counted as failed.

Workloads (sizes and reasons are also in BENCHMARK.json):
- ``pcap_convert``: ``convert_pcap`` of a seeded capture to ZSTD
  Parquet: chunked read, vectorized decode, Arrow to Python workers,
  Parquet write; 2 Spark jobs per op.
- ``dedup``: ``q_dedup_clusters`` over a seeded corpus with planted
  near-duplicates: Jaccard self-join plus iterative connected
  components, ~30 short Spark jobs per op and no Python workers.
The traced pcap_convert run also runs the scan path, once per probe:
``spark.read.format("pcap")`` with a pushed-down filter, a 5-tuple flow
aggregate and ``talkers_census_from_flows``, checked like an op.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
KEEP_INPUTS = 4  # seeded inputs kept on disk; the least recently used go
PROBE_REPS = 2  # runs of each traced-only layer probe; the median is kept


def _die(msg: str) -> None:
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cached_input(kind: str, n: int, seed: int, make) -> str:  # type: ignore[no-untyped-def]
    """Directory holding the generated input for (kind, n, seed)."""
    d = os.path.join(CACHE, "inputs", f"{kind}-{n}-{seed}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(seed, n, tmp)
        os.replace(tmp, d)
    os.utime(d)
    kept = sorted(glob.glob(os.path.join(CACHE, "inputs", "*-*-*[0-9]")), key=os.path.getmtime)
    for stale in kept[:-KEEP_INPUTS]:
        shutil.rmtree(stale, ignore_errors=True)
    return d


def _cached_expected(d: str, key: str, compute) -> dict:  # type: ignore[no-untyped-def]
    """Expected digests for ``key``, computed once per input directory."""
    path = os.path.join(d, "expect.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    if key not in cache:
        cache[key] = compute()
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return cache[key]


def _bump_first(table, col: str):  # type: ignore[no-untyped-def]
    """``table`` with column ``col`` of its first row increased by one."""
    import pyarrow as pa

    v = table.column(col).combine_chunks()
    first = pa.array([v[0].as_py() + 1], v.type)
    return table.set_column(
        table.schema.get_field_index(col), col, pa.concat_arrays([first, v[1:]])
    )


class PcapConvert:
    """``convert_pcap`` of one seeded capture to ZSTD Parquet."""

    name = "pcap_convert"
    packets = 300_000  # ~42 MB: above the 16 MiB auto-chunk threshold
    # Op walls of fresh sessions (s): 9.9 2.5 2.4 | 2.2 2.1 2.0 2.0 2.2 1.8 ...
    # The first op starts the Python workers and loads the writer; the
    # next two still gain from JIT compilation. Later ops drift down a
    # few percent more, which a longer warm-up would cost run time for.
    warmup_ops = 3

    def __init__(self, seed: int) -> None:
        from graftbench import gen

        self.dir = _cached_input("capture", self.packets, seed, gen.make_capture)
        self.capture = os.path.join(self.dir, "capture.pcap")
        self.truth = os.path.join(self.dir, "truth.parquet")
        self.records = self.packets
        self.out_root = os.path.join(CACHE, "out", self.name)
        self.out_bytes = 0

    def expected(self, checker) -> dict:  # type: ignore[no-untyped-def]
        return _cached_expected(self.dir, self.name, lambda: checker.expect_packets(self.truth))

    def start(self, spark) -> None:  # type: ignore[no-untyped-def]
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)

    def op(self, spark, tracer, i: int) -> str:  # type: ignore[no-untyped-def]
        from pcap_to_parquet_spark.sources.pcap import convert_pcap

        out = os.path.join(self.out_root, f"op{i}")
        with tracer.span("sources+writer.convert_pcap"):
            convert_pcap(spark, self.capture, out)
        return out

    def discard(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def check(self, checker, out: str) -> dict:  # type: ignore[no-untyped-def]
        self.out_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(out, "*.parquet")))
        got = checker.packets(out)
        shutil.rmtree(out, ignore_errors=True)
        return got

    def perturb(self, out: str) -> str:
        import pyarrow.parquet as pq

        part = sorted(glob.glob(os.path.join(out, "*.parquet")))[0]
        pq.write_table(_bump_first(pq.read_table(part), "len"), part, compression="zstd")
        return out

    def scan(self, spark, tracer) -> dict:  # type: ignore[no-untyped-def]
        """The read path over the same capture: filtered DataSource scan,
        flow aggregate, endpoint census."""
        from pyspark.sql import functions as F

        from graftbench.checks import SCAN_FILTER
        from pcap_to_parquet_spark.operators.pcap_query import talkers_census_from_flows

        with tracer.span("pcap_query.flows"):
            flows = (
                spark.read.format("pcap").load(self.capture).filter(SCAN_FILTER)
                .groupBy("src_ip", "dst_ip", "protocol", "src_port", "dst_port")
                .agg(F.count(F.lit(1)).alias("n_packets"), F.sum("len").alias("n_bytes"))
                .localCheckpoint(eager=True)
            )
            flows_tbl = flows.toArrow()
        with tracer.span("pcap_query.census"):
            census_tbl = talkers_census_from_flows(flows).toArrow()
        return {"flows": flows_tbl, "census": census_tbl}

    def probe(self, spark, tracer, checker, p50: float, op_stats) -> tuple[dict, bool]:  # type: ignore[no-untyped-def]
        """Layer figures that need calls of their own; and whether the
        scan results matched their expected digests."""
        from graftbench.checks import SCAN_FILTER
        from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source
        from pcap_to_parquet_spark.sources.pcap_vec import decode_pcap_arrays

        register_pcap_source(spark)
        frame = spark.read.format("pcap").load(self.capture)
        filtered = frame.filter(SCAN_FILTER)

        def read() -> None:
            frame.write.format("noop").mode("overwrite").save()

        read()  # the first DataSource read of a session starts its workers
        read_s = statistics.median(_timed(tracer, "sources.read_noop", read))
        expected = _cached_expected(self.dir, "pcap_scan", lambda: checker.expect_scan(self.truth))
        scan_ok = True
        for _ in range(PROBE_REPS):
            got = checker.scan(self.scan(spark, tracer))
            if got != expected:
                print(f"graftbench: scan output differs: {got} != {expected}", file=sys.stderr)
                scan_ok = False
        with open(self.capture, "rb") as f:
            buf = f.read()
        t = time.time()
        decode_pcap_arrays(buf)
        decode_s = time.time() - t
        med = statistics.median
        return {
            "sources.read_s": (read_s, "s"),
            "sources.decode_s_per_mpkt": (decode_s / (self.records / 1e6), "s"),
            "sources.partitions": (frame.rdd.getNumPartitions(), "count"),
            "sources.pushdown_keep_frac": (filtered.count() / self.records, "frac"),
            "writer.write_s": (p50 - read_s, "s"),
            "out_bytes_per_rec": (self.out_bytes / self.records, "B"),
            "pcap_query.flows_s": (med(tracer.span_seconds("pcap_query.flows")), "s"),
            "pcap_query.census_s": (med(tracer.span_seconds("pcap_query.census")), "s"),
        }, scan_ok


class Dedup:
    """``q_dedup_clusters`` over one seeded corpus."""

    name = "dedup"
    docs = 2_000
    # Op walls of fresh sessions (s): 12.5 4.0 3.2 3.0 | 2.9 2.6 2.3 2.3 2.1 2.4 ...
    warmup_ops = 4

    def __init__(self, seed: int) -> None:
        from graftbench import gen

        self.dir = _cached_input("corpus", self.docs, seed, gen.make_corpus)
        self.records = self.docs

    def expected(self, checker) -> dict:  # type: ignore[no-untyped-def]
        from pcap_to_parquet_spark import ORACLES

        return _cached_expected(self.dir, self.name, lambda: checker.expect_labels(
            os.path.join(self.dir, "documents.parquet"), ORACLES["q_dedup_clusters"]
        ))

    def start(self, spark) -> None:  # type: ignore[no-untyped-def]
        pass

    def op(self, spark, tracer, i: int):  # type: ignore[no-untyped-def]
        from pcap_to_parquet_spark import QUERIES

        with tracer.span("llm.dedup_clusters"):
            return QUERIES["q_dedup_clusters"](spark, self.dir).toArrow()

    def discard(self, labels) -> None:  # type: ignore[no-untyped-def]
        pass

    def check(self, checker, labels) -> dict:  # type: ignore[no-untyped-def]
        return checker.labels(labels)

    def perturb(self, labels):  # type: ignore[no-untyped-def]
        return _bump_first(labels, "cluster_id")

    def probe(self, spark, tracer, checker, p50: float, op_stats) -> tuple[dict, bool]:  # type: ignore[no-untyped-def]
        from graftbench.spans import median
        from pcap_to_parquet_spark import QUERIES

        pairs, jobs = [], []

        def jaccard() -> None:
            pairs.append(QUERIES["q_ngram_jaccard"](spark, self.dir).toArrow().num_rows)

        jac = statistics.median(_timed(tracer, "llm.ngram_jaccard", jaccard, jobs))
        return {
            "llm.jaccard_s": (jac, "s"),
            "llm.components_s": (p50 - jac, "s"),
            "llm.components_jobs": (
                median([s["jobs"] for s in op_stats]) - statistics.median(jobs), "count"
            ),
            "llm.pairs_per_doc": (pairs[-1] / self.records, "count"),
        }, True


WORKLOADS = {w.name: w for w in (PcapConvert, Dedup)}
# units of the metrics the workloads' probes report; a layer that a
# workload does not use reads 0
PROBED = {
    "sources.read_s": "s", "sources.decode_s_per_mpkt": "s", "sources.partitions": "count",
    "sources.pushdown_keep_frac": "frac", "writer.write_s": "s", "out_bytes_per_rec": "B",
    "pcap_query.flows_s": "s", "pcap_query.census_s": "s", "llm.jaccard_s": "s",
    "llm.components_s": "s", "llm.components_jobs": "count", "llm.pairs_per_doc": "count",
}


def _timed(tracer, name: str, fn, jobs: list | None = None) -> list[float]:  # type: ignore[no-untyped-def]
    """Seconds of ``PROBE_REPS`` calls of ``fn``, each in its own span;
    each call's job count is appended to ``jobs`` when given."""
    secs = []
    for _ in range(PROBE_REPS):
        with tracer.span(name) as sp:
            fn()
        secs.append(sp["end"] - sp["start"])
        if jobs is not None:
            jobs.append(tracer.job_count(sp["id"]))
    return secs


def _session_env(cores: int) -> None:
    """Environment the engine's session is built from: host-sized, and
    every temporary file kept inside the checkout."""
    local = os.path.join(CACHE, "spark-local")
    tmp = os.path.join(CACHE, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "pyspark-shell",
    ])


def _stop_session(spark, tree, timeout: float = 30.0) -> None:  # type: ignore[no-untyped-def]
    """Stop Spark, then the JVM and its workers; wait until all have exited."""
    import signal

    from pyspark import SparkContext

    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    deadline = time.time() + timeout
    while True:
        kids = [p for p in tree.members() if p != tree.root]
        if not kids:
            return
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        for p in kids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def _tail(xs: list[float], beyond: int = 10) -> float:
    """The highest order statistic with ``beyond`` samples above it; with
    too few samples for one, the slowest sample."""
    s = sorted(xs)
    return s[len(s) - 1 - beyond] if len(s) > beyond else s[-1]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import pcap_to_parquet_spark.operators  # noqa: F401  (registers the queries)
        from pcap_to_parquet_spark.session import get_spark
    except ImportError as exc:
        _die(f"the engine package is not importable from {ROOT}: {exc}")
    if not pcap_to_parquet_spark.__file__.startswith(ROOT + os.sep):
        _die(f"the engine package must come from {ROOT}, not {pcap_to_parquet_spark.__file__}")
    from graftbench import spans
    from graftbench.checks import Checker

    t_proc = spans.process_start_epoch()
    t_imported = time.time()
    cores = len(os.sched_getaffinity(0))
    _session_env(cores)

    # inputs and expected results: outside setup_s
    t = time.time()
    wl = WORKLOADS[args.workload](args.seed)
    checker = Checker(os.path.join(CACHE, "tmp"))
    expected = wl.expected(checker)
    gen_s = time.time() - t

    tree = spans.ProcTree()
    tree.start()
    t0 = time.time()
    spark = get_spark("graftbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        build_s = time.time() - t0
        tracer = spans.Tracer(spark, enabled=False)
        wl.start(spark)
        t1 = time.time()
        for i in range(wl.warmup_ops):
            wl.discard(wl.op(spark, tracer, -1 - i))
        warmup_s = time.time() - t1
        setup_s = (t_imported - t_proc) + build_s + warmup_s

        # timed window: a closed loop; outputs are checked after it
        walls, traced, outputs = [], [], []
        cpu_jvm, cpu_py, op_stats = [], [], []
        workers_before = tree.workers_seen()
        steal0, total0 = spans.cpu_times()
        t_start = time.time()
        while not walls or time.time() - t_start < args.seconds:
            i = len(walls)
            # traced runs alternate traced and untraced ops to price the tracing
            tracer.enabled = bool(args.trace) and i % 2 == 0
            jvm0, py0 = tree.cpu_s()
            out = None
            try:
                with tracer.span("op") as sp:
                    out = wl.op(spark, tracer, i)
            except Exception:  # noqa: BLE001 - a failed op is counted; the loop goes on
                traceback.print_exc()
            walls.append(sp["end"] - sp["start"])
            traced.append(tracer.enabled)
            jvm1, py1 = tree.cpu_s()
            cpu_jvm.append(jvm1 - jvm0)
            cpu_py.append(py1 - py0)
            if tracer.enabled and out is not None:
                op_stats.append(tracer.op_stats(sp["id"], cores))
            outputs.append(out)
        window_s = sp["end"] - t_start
        steal1, total1 = spans.cpu_times()
        workers_spawned = len(tree.workers_seen() - workers_before)

        check_walls, ok = [], 0
        for k, out in enumerate(outputs):
            if out is None:
                continue
            if args.perturb and k == 0:
                out = wl.perturb(out)
            t = time.time()
            got = wl.check(checker, out)
            check_walls.append(time.time() - t)
            if got == expected:
                ok += 1
            else:
                print(f"graftbench: op {k} output differs: {got} != {expected}", file=sys.stderr)

        n = len(walls)
        p50 = statistics.median(walls)
        probe_ok = True
        if args.trace:
            tracer.enabled = True
            layer, probe_ok = wl.probe(spark, tracer, checker, p50, op_stats)
            tracer.write(os.path.join(CACHE, f"spans-{wl.name}-{args.seed}.json"))
    finally:
        _stop_session(spark, tree)
        tree.stop()

    print("graftbench: op walls (s):", " ".join(f"{w:.3f}" for w in walls), file=sys.stderr)
    first = statistics.median(walls[: n // 2]) if n > 1 else p50
    second = statistics.median(walls[n // 2 :])
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    print(
        f"steadiness {wl.name} seed={args.seed}: ops={n} op_p50_s={p50:.4f} "
        f"first_half_p50_s={first:.4f} second_half_p50_s={second:.4f} "
        f"drift={second / first - 1:+.1%} host.steal_frac={steal:.4f} "
        f"setup_s={setup_s:.3f} (build {build_s:.3f} + warm-up {warmup_s:.3f})"
    )

    if args.trace:
        med = spans.median

        def stat(key: str) -> float:
            return med([s[key] for s in op_stats])

        untraced = [w for w, tr in zip(walls, traced) if not tr]
        traced_w = [w for w, tr in zip(walls, traced) if tr]
        metrics = {
            "session.build_s": (build_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            **{k: (0, u) for k, u in PROBED.items()},
            **layer,
            "spark.jobs_per_op": (stat("jobs"), "count"),
            "spark.stages_per_op": (stat("stages"), "count"),
            "spark.tasks_per_op": (stat("tasks"), "count"),
            "spark.busy_frac": (stat("busy_frac"), "frac"),
            "spark.driver_gap_s": (stat("driver_gap_s"), "s"),
            "spark.task_skew": (stat("task_skew"), "ratio"),
            "spark.shuffle_bytes_per_rec": (stat("shuffle_bytes") / wl.records, "B"),
            "spark.spill_bytes": (stat("spill_bytes"), "B"),
            "spark.gc_frac": (stat("gc_frac"), "frac"),
            "pyworker.cpu_s": (med(cpu_py), "s"),
            "pyworker.spawned": (workers_spawned, "count"),
            "jvm.cpu_s": (med(cpu_jvm), "s"),
            "jvm.peak_rss_mb": (tree.jvm_peak_mb, "MB"),
            "peak_rss_mb": (tree.peak_mb, "MB"),
            "op_tail_s": (_tail(walls), "s"),
            "host.steal_frac": (steal, "frac"),
            "bench.gen_s": (gen_s, "s"),
            "bench.check_s": (med(check_walls), "s"),
            "bench.ops": (n, "count"),
            "trace.overhead_frac": (
                med(traced_w) / med(untraced) - 1 if untraced and traced_w else 0.0, "frac"
            ),
        }
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "records_per_s": (wl.records * n / window_s, "1/s"),
            "op_p50_s": (p50, "s"),
            "ok_frac": (ok / n, "frac"),
        }
    print(json.dumps({
        "correct": ok == n and probe_ok,
        "attempted": n,
        "failed": n - ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
