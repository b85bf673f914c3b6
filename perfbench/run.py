"""Seeded end-to-end benchmark of biobloom_spark's public operators.

    python3 perfbench/run.py --workload lang-web --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates the workload's pages from
the seed, writes them to parquet, starts a ``local[<cpus>]`` session
(several times, for ``setup_s``), repeats the workload's operator calls
for ``--seconds``, checks the outputs against the generator's ground truth
and prints one JSON object as the last line of stdout.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (and
writes the spans under ``.perfbench/spans/``).  Everything the run writes
stays under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

from spans import OP_COUNTERS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: name -> unit; the keys and order of BENCHMARK.json's lists
END_TO_END = {
    "pages_per_s": "pages/s",
    "setup_s": "s",
    "accuracy": "ratio",
    "ok_ops_frac": "ratio",
    "driver_peak_rss_mb": "MB",
}
OPS = (
    "bloom_build", "bloom_classify", "sketch_by_key", "mibf_build",
    "mibf_classify", "dedup", "progressive",
)
PER_LAYER = {
    **{
        f"{op}.{c}": u
        for op in OPS
        for c, u in {**OP_COUNTERS, "pages_per_s": "pages/s"}.items()
    },
    "bloom_classify.broadcast_bytes": "bytes",
    "mibf_classify.broadcast_bytes": "bytes",
    "mibf_build.saturation_rate": "ratio",
    "dedup.candidate_pairs": "count",
    "dedup.verified_per_candidate": "ratio",
    "progressive.first_iter_s": "s",
    "progressive.last_iter_s": "s",
    "kernel.frames_per_s": "1/s",
    "kernel.bloom_insert_per_s": "1/s",
    "kernel.bloom_probe_per_s": "1/s",
    "kernel.hll_update_per_s": "1/s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_s": "s",
}

SETUPS = 3  # sessions started per run; setup_s is their median
WARM_CALL_PAGES = 64
MIN_REPS = 2  # timed repetitions per run, at least


class Bench:
    """State of one run: the session, inputs, outputs and accounting."""

    def __init__(self, spark, tracer, dfs, inputs, seed: int, trace: bool):
        self.spark, self.tracer, self.dfs = spark, tracer, dfs
        self.truth, self.seed, self.trace = inputs.truth, seed, trace
        self.rows = {name: len(df) for name, df in inputs.tables.items()}
        self.traced_rep = False
        self.out: dict = {}
        self.layer: dict = {}
        self.attempted = self.failed = 0

    def op(self, name: str, rep: int, pages: int, fn):
        """One timed public-operator call over ``pages`` input pages; a
        raise counts as a failure."""
        self.attempted += 1
        try:
            return self.tracer.call(name, rep, pages, fn, self.traced_rep)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise


def _parse(argv):
    from pipelines import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_session(work: str, cpus: int):
    from biobloom_spark.session import get_spark

    spark = get_spark(
        "perfbench", cores=cpus, shuffle_partitions=cpus, driver_memory="2g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_call(spark) -> None:
    """One small library call that starts the Python workers."""
    from biobloom_spark.corpus import generate_corpus

    parts = spark.sparkContext.defaultParallelism
    generate_corpus(spark, WARM_CALL_PAGES, num_partitions=parts).count()


def _setup(work: str, cpus: int):
    """Start the session ``SETUPS`` times; keep the last one."""
    totals, starts, warms = [], [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _start_session(work, cpus)
        t1 = time.perf_counter()
        _warm_call(spark)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
        totals.append(t2 - t0)
    med = statistics.median
    return spark, med(totals), {"session.start_s": med(starts), "session.warmup_s": med(warms)}


def _peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of the Python driver and of the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024, jvm_kb / 1024


def _shutdown(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _layer_metrics(bench, rep_walls) -> dict:
    """Per-operator medians over the traced repetitions."""
    med = statistics.median
    out = dict.fromkeys(PER_LAYER, 0.0)
    by_op: dict[str, list] = {}
    for s in bench.tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    for op, spans in by_op.items():
        traced = [s for s in spans if s.traced]
        for c in OP_COUNTERS:
            if traced and c in traced[0].counters:
                out[f"{op}.{c}"] = med(s.counters[c] for s in traced)
        out[f"{op}.pages_per_s"] = med(s.pages / (s.end - s.start) for s in spans)
    out.update(bench.layer)
    traced = [w for k, w in rep_walls if k % 2]
    plain = [w for k, w in rep_walls if not k % 2]
    if traced and plain:
        out["trace.overhead_s"] = med(traced) - med(plain)
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    from pipelines import WORKLOADS
    import workloads as gen

    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    t_run = time.perf_counter()

    def log(msg: str) -> None:
        print(f"[{time.perf_counter() - t_run:7.2f}s] {msg}", file=sys.stderr, flush=True)

    try:
        inputs = wl.generate(args.seed)
        paths = gen.write_inputs(inputs, os.path.join(work, "data"))
        log(f"generated {inputs.pages} pages")
        spark, setup_s, session = _setup(work, cpus)
        log(f"set up {SETUPS} sessions, median {setup_s:.2f}s")

        dfs = {name: spark.read.parquet(p) for name, p in paths.items()}
        bench = Bench(spark, Tracer(spark), dfs, inputs, args.seed, bool(args.trace))
        # one untimed repetition compiles the plans the timed ones run (a
        # long-lived session pays this once); its calls count as attempted
        try:
            wl.rep(bench, -1)
        except Exception:
            pass  # counted in Bench.op
        bench.out, bench.layer = {}, {}
        bench.tracer.spans.clear()
        log("warm-up repetition done")
        # a repetition starts while it is expected to end within --seconds;
        # trace runs alternate untraced (even) and traced (odd) repetitions
        rep_walls = []
        t0 = time.perf_counter()
        k, last = 0, 0.0
        while k < MIN_REPS or time.perf_counter() - t0 + last <= args.seconds:
            bench.traced_rep = bool(args.trace and k % 2)
            n_spans = len(bench.tracer.spans)
            t_rep = time.perf_counter()
            try:
                wl.rep(bench, k)
                rep_walls.append(
                    (k, sum(s.end - s.start for s in bench.tracer.spans[n_spans:]))
                )
            except Exception:
                pass  # counted in Bench.op; the run goes on
            last = time.perf_counter() - t_rep
            k += 1
        log(f"measured {len(rep_walls)} of {k} repetitions: "
            f"{[round(w, 3) for _, w in rep_walls]}")
        checks = []
        try:
            checks = wl.checks(bench)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bench.attempted += 1
            bench.failed += 1
        for c in checks:
            bench.attempted += 1
            bench.failed += not c.ok
            print(f"check {c.name}: {'ok' if c.ok else 'FAILED'} ({c.detail})", file=sys.stderr)

        checked = sum(c.checked for c in checks)
        walls = [w for k, w in rep_walls if not (args.trace and k % 2)]
        if args.trace:
            from kernels import kernel_rates

            texts = max(inputs.tables.values(), key=len)["text"].head(2000)
            bench.layer.update(kernel_rates(texts))
            bench.layer.update(session)
            metrics = _layer_metrics(bench, rep_walls)
            os.makedirs(os.path.join(out_dir, "spans"), exist_ok=True)
            bench.tracer.write(
                os.path.join(out_dir, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            )
            units = PER_LAYER
        else:
            metrics = {
                "pages_per_s": inputs.pages / statistics.median(walls) if walls else 0.0,
                "setup_s": setup_s,
                "accuracy": sum(c.correct for c in checks) / checked if checked else 0.0,
                "ok_ops_frac": 1 - bench.failed / max(1, bench.attempted),
                "driver_peak_rss_mb": _peak_rss_mb(spark)[0],
            }
            units = END_TO_END
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {
                name: {"value": float(metrics[name]), "unit": unit}
                for name, unit in units.items()
            },
        }
        log("done; peak RSS python %.1f MB, jvm %.1f MB" % _peak_rss_mb(spark))
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "biobloom_spark")):
        sys.exit(f"{ROOT} holds no biobloom_spark package; run from a repository checkout")
    # everything the run and its JVM write stays in the working directory
    _tmp = os.path.join(os.getcwd(), ".perfbench", "tmp")
    os.makedirs(_tmp, exist_ok=True)
    os.environ["TMPDIR"] = _tmp
    os.environ["SPARK_LOCAL_DIRS"] = _tmp
    # every JVM spark-submit starts, its launcher included: no perf-data
    # files in the system temp dir, and Java temp files here too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={_tmp}"
    sys.path[:0] = [ROOT, HERE]
    sys.exit(main())
