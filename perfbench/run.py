#!/usr/bin/env python3
"""Driver-level benchmark of the quality-filter pipeline.

Run from the root of a checkout::

    python3 perfbench/run.py --workload web_fresh --seed 42 --seconds 12 --trace 0
    python3 -m pytest perfbench -q     # the benchmark's own smoke tests

One process starts one Spark session at ``local[nproc]``, warms it up, and
then calls ``driver.main([...])`` in a closed loop -- one call at a time --
for ``--seconds`` seconds. Every call runs the production flag set
``--mode web --buckets 16`` on a parquet corpus made from ``--seed``, and its
output is checked against a pure-Python reference (``reference.py``). The
last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The line before it is the run's full record: per-call samples, the ALU
calibration brackets, versions and sizes.

Workloads:

* ``web_fresh``: a full run into an empty output. Most docs reach the scrub,
  so the Python layers (``functions.*`` inside the fused UDF) do most of
  the work.
* ``web_resume_half``: ``--resume`` against an output whose manifest marks
  half the buckets done; that state is restored before every call, outside
  the timed region. Half the compute runs, and the post-write passes
  still scan the whole table.
* ``short_pages``: every text cut below the ``min_size`` gate, so no doc
  reaches the scrub; Arrow transfer, the bucketed write and the post-write
  passes dominate, and a scrub optimisation should change nothing. Not
  listed in ``BENCHMARK.json``: a run costs ~50 s, mostly JVM start and
  warm-up, and comparing two commits takes dozens of runs per workload.

The corpus is ``sources.synth`` at ``--seed`` (4,000 pages, 8 parquet
files). Set-up makes one full run to warm up -- and, for
``web_resume_half``, to make its starting state -- then three more untimed
calls, because call times keep falling for several calls while the JVM
compiles its hot paths.

End-to-end metrics (``--trace 0``), per workload:

* ``docs_per_s``: docs the call processed / wall time of the call (median).
* ``cpu_s_per_kdoc``: CPU seconds of the whole process tree (this Python,
  the JVM, the Python workers) per 1,000 processed docs (median).
* ``peak_rss_mb``: peak resident memory of that tree during the timed
  calls, as proportional set size, so pages the forked Python workers
  share count once.
* ``setup_s``: session start, corpus generation, reference decisions,
  state preparation and the warm-up driver calls.
* ``ops_ok_frac``: calls that returned and passed the output check / calls
  attempted. It stands in for the failed fraction, which is 0 on a healthy
  run; the failed calls are counted in ``failed``.

``--trace 1`` reports the per-layer metrics of ``layers.py`` instead.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import multiprocessing as mp
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

import corpus
import layers
import proctree
import reference

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "wikisource_latin_text_cleaner_spark"
WORK_DIR = ".perfbench-work"

WORKLOADS = ("web_fresh", "web_resume_half", "short_pages")
#: (name, unit, better) of every end-to-end metric, in report order
END_TO_END = (
    ("docs_per_s", "docs/s", "higher"),
    ("cpu_s_per_kdoc", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
    ("ops_ok_frac", "frac", "higher"),
)
N_DOCS = 4000
N_BUCKETS = 16
#: untimed calls after the first full run, before the timed loop
WARM_CALLS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=N_DOCS,
                   help="corpus size (smaller only for the smoke tests)")
    p.add_argument("--cores", type=int, default=0,
                   help="Spark local[cores]; 0 = every CPU of the box")
    return p.parse_args(argv)


def _alu(n: int) -> int:
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x


def calibrate(cores: int, n: int = 500_000) -> list[dict]:
    """Pure-ALU throughput the box delivers right now, at 1 and ``cores``
    processes; bracketing the runs with it tells a slow box from a slow
    program."""
    out = []
    for procs in sorted({1, cores}):
        with mp.get_context("spawn").Pool(procs) as pool:
            walls = []
            for _ in range(3):  # best of 3: the first may wait for workers to start
                t0 = time.perf_counter()
                pool.map(_alu, [n] * procs, chunksize=1)
                walls.append(time.perf_counter() - t0)
        out.append({"procs": procs, "mops": round(procs * n / min(walls) / 1e6, 2)})
    return out


@dataclass
class Call:
    """One timed ``driver.main`` call."""

    wall_s: float = 0.0
    cpu_s: float = 0.0
    mem_bytes: int = 0
    docs: int = 0
    problems: list = field(default_factory=list)
    traced: bool = False

    @property
    def ok(self) -> bool:
        return not self.problems


class Bench:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.n_docs = args.docs
        self.cores = args.cores or len(os.sched_getaffinity(0))
        self.work = work
        self.pages = os.path.join(work, "pages")
        self.out = os.path.join(work, "out")
        self.template = os.path.join(work, "template")
        self.resume = self.workload == "web_resume_half"
        self.n_buckets = N_BUCKETS
        self.run_buckets = (
            set(range(N_BUCKETS // 2, N_BUCKETS)) if self.resume
            else set(range(N_BUCKETS))
        )
        self.argv = ["--input", self.pages, "--output", self.out,
                     "--mode", "web", "--buckets", str(N_BUCKETS)]
        if self.resume:
            self.argv.append("--resume")
        self.spark = None
        self.texts: list = []
        self.expected = None
        self.setup_s = 0.0
        self.setup_phases: dict = {}

    # -- set-up -----------------------------------------------------------

    def _session(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        spark = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.ui.showConsoleProgress", "false")
            # the traced run reads the monitoring REST API; port 0 = any
            # free port, so concurrent runs do not collide
            .config("spark.ui.port", "0")
            .config("spark.local.dir", os.path.join(self.work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        t0 = time.perf_counter()

        def phase(name):
            self.setup_phases[name] = (time.perf_counter() - t0
                                       - sum(self.setup_phases.values()))

        rows = corpus.pages(self.n_docs, self.seed,
                            short=self.workload == "short_pages")
        corpus.write(self.pages, rows)
        self.texts = [r.text for r in rows]
        # the reference decisions are computed in another process while
        # the session starts and warms up
        with ProcessPoolExecutor(1, mp_context=mp.get_context("spawn")) as pool:
            decisions = pool.submit(reference.decide_all, self.texts)
            phase("corpus")
            self.spark = self._session()
            phase("session")
            # warm-up: a full run of the corpus, whose output web_resume_half
            # keeps as its starting state with half the buckets marked done,
            # then calls as timed: call times keep falling for several calls
            # while the JVM compiles its hot paths
            self._driver(["--input", self.pages, "--output", self.template,
                          "--mode", "web", "--buckets", str(N_BUCKETS)])
            if self.resume:
                self._mark_half_done()
            for _ in range(WARM_CALLS):
                self.prepare()
                self._driver(self.argv)
            phase("warm_up")
            self.expected = reference.expected([r.url for r in rows],
                                               decisions.result())
        phase("reference_wait")
        self.setup_s = time.perf_counter() - t0

    def _mark_half_done(self) -> None:
        """Keep only buckets [0, N/2) in the template's data and manifest,
        as a run stopped after committing them would leave it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in self.run_buckets:
            shutil.rmtree(os.path.join(self.template, "data", f"bucket={b}"),
                          ignore_errors=True)
        manifest = os.path.join(self.template, "_checkpoints")
        shutil.rmtree(manifest)
        os.makedirs(manifest)
        done = sorted(set(range(N_BUCKETS)) - self.run_buckets)
        pq.write_table(pa.table({
            "bucket": pa.array(done, pa.int32()),
            "n_buckets": pa.array([N_BUCKETS] * len(done), pa.int32()),
        }), os.path.join(manifest, "part-00000.parquet"))

    # -- timed calls ------------------------------------------------------

    def prepare(self) -> None:
        """Restore the workload's starting output state (untimed)."""
        shutil.rmtree(self.out, ignore_errors=True)
        if self.resume:
            shutil.copytree(self.template, self.out)

    @staticmethod
    def _driver(argv: list) -> dict:
        import driver

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = driver.main(argv)
        if rc != 0:
            raise RuntimeError(f"driver.main returned {rc}")
        lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
        return json.loads(lines[-1])

    def call(self, traced: bool = False) -> Call:
        self.prepare()
        c = Call(traced=traced)
        try:
            cpu0 = proctree.cpu_seconds()
            with proctree.MemoryPeak() as mem:
                t0 = time.perf_counter()
                line = self._driver(self.argv)
                c.wall_s = time.perf_counter() - t0
            c.cpu_s = proctree.cpu_seconds() - cpu0
            c.mem_bytes = mem.peak
            c.docs = line["docs_processed"]
            c.problems = reference.check(self.out, self.expected,
                                         self.run_buckets, line)
        except Exception:  # a failed call is counted, and the loop goes on
            traceback.print_exc()
            c.problems = [traceback.format_exc(limit=1).strip().splitlines()[-1]]
        return c

    def loop(self, seconds: float, on_traced=None) -> list:
        """Closed loop of driver calls for ``seconds``, at least one call.
        With ``on_traced``, every second call is a traced one, handed to it,
        and there are at least two calls."""
        calls = []
        min_calls = 1 if on_traced is None else 2
        t0 = time.perf_counter()
        while len(calls) < min_calls or time.perf_counter() - t0 < seconds:
            traced = on_traced is not None and len(calls) % 2 == 1
            group = f"perfbench-call-{len(calls)}"
            self.spark.sparkContext.setJobGroup(group, "driver call")
            c = self.call(traced)
            if traced and c.ok:
                on_traced(c, group)
            calls.append(c)
        return calls


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the box from /proc/stat: time the host
    gave this VM's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _median(values):
    return statistics.median(values) if values else None


def end_to_end(bench: Bench, calls: list) -> dict:
    ok = [c for c in calls if c.ok]
    values = {
        "docs_per_s": _median([c.docs / c.wall_s for c in ok]),
        "cpu_s_per_kdoc": _median([1000 * c.cpu_s / c.docs for c in ok]),
        "peak_rss_mb": max((c.mem_bytes for c in ok), default=0) / 2**20,
        "setup_s": bench.setup_s,
        "ops_ok_frac": len(ok) / len(calls),
    }
    return {name: {"value": values[name], "unit": unit} for name, unit, _ in END_TO_END}


def run(args, work: str) -> tuple[dict, dict]:
    bench = Bench(args, work)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cpus": bench.cores, "docs": args.docs, "buckets": N_BUCKETS,
              "calibration_mops": {"before": calibrate(bench.cores)}}
    try:
        bench.setup()
        import pyarrow
        import pyspark

        record["versions"] = {"spark": pyspark.__version__,
                              "pyarrow": pyarrow.__version__,
                              "python": sys.version.split()[0]}
        record["arrow_batch_size"] = int(bench.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        steal0 = _cpu_steal()
        if args.trace:
            tracer = layers.Tracer(bench)
            calls = bench.loop(args.seconds, on_traced=tracer.on_traced)
            metrics, problems = tracer.finish(calls, record)
        else:
            calls = bench.loop(args.seconds)
            metrics, problems = end_to_end(bench, calls), []
        steal1 = _cpu_steal()
        record["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    finally:
        if bench.spark is not None:
            bench.spark.stop()
    if args.trace:
        problems += layers.one_core_efficiency(bench, calls, metrics, record)
    record["calibration_mops"]["after"] = calibrate(bench.cores)
    record["setup_s"] = bench.setup_s
    record["setup_phases_s"] = bench.setup_phases
    record["calls"] = [
        {"wall_s": c.wall_s, "cpu_s": c.cpu_s, "peak_mb": c.mem_bytes / 2**20,
         "docs": c.docs, "traced": c.traced, "problems": c.problems}
        for c in calls
    ]
    record["problems"] = problems
    failed = sum(1 for c in calls if not c.ok)
    result = {
        "correct": failed == 0 and not problems,
        "attempted": len(calls),
        "failed": failed,
        "metrics": metrics,
    }
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "driver.py"))
            and os.path.isdir(os.path.join(ROOT, PACKAGE))):
        print(f"perfbench: {ROOT} has no driver.py or {PACKAGE}/; "
              "run it from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # the Python workers Spark forks import the package from the checkout
    # and hash strings alike in every run; temp and spill files stay inside
    # the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(os.environ["TMPDIR"])
    # every process started below -- the JVM, its Python daemon and workers,
    # the helper pools, the local[1] pass -- has ended before this returns,
    # also on an error path
    proctree.become_subreaper()
    try:
        record, result = run(args, work)
    finally:
        killed = proctree.stop_descendants()
        if killed:
            print(f"perfbench: killed {killed} process(es) that ignored SIGTERM",
                  file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    missing = [k for k, m in result["metrics"].items() if m["value"] is None]
    if missing:
        print(json.dumps(record), file=sys.stderr)
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
