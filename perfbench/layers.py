"""Per-layer metrics for ``run.py --trace 1``.

Every number comes from the benchmark's own calls into a layer's public
entry points, or from Spark's monitoring REST API; nothing inside the
program is patched or traced. Layers, and the end-to-end metric each should
move:

* ``functions.rules`` / ``scrub`` / ``classify`` / ``langid`` / ``pii``:
  1-core, in-process calls on the workload's own docs, in the order the
  fused UDF makes them; ``*_ms_per_doc`` is the stage's total time over all
  docs of the workload. Moves ``docs_per_s`` and ``cpu_s_per_kdoc`` fully
  on ``web_fresh``, about half on ``web_resume_half``, not on
  ``short_pages``. ``drop.<reason>`` and ``scrub.chars_removed_per_doc``
  are exact counts that a change must not move.
* ``functions.udfs``: the fused UDF body on pandas batches of the driver's
  Arrow batch size; ``assembly`` is fused minus the sum of its stages.
  Moves the same metrics as the stages.
* ``spark`` (Arrow/JVM/scheduler): the write stage of the traced driver
  calls, and the JVM's peak used heap, from the REST API. Busy, skew and ``eff_1_to_n`` move
  ``docs_per_s`` but not ``cpu_s_per_kdoc`` on ``web_fresh``; transfer
  moves both on ``short_pages``.
* ``operators.pipeline``, ``plans.checkpoints``, ``driver``: the driver's
  sequence of calls, made one by one right after a whole driver call;
  ``driver.accounted_frac`` is their sum over that call's wall time, and a
  run whose figure strays more than ``CLOSURE_TOL`` from 1 fails. Move
  ``docs_per_s`` on ``short_pages`` and ``web_resume_half``;
  ``completed_buckets_s`` only on ``web_resume_half``.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time
import urllib.request
from collections import Counter, defaultdict
from datetime import datetime

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER = (
    ("rules.index_ms_per_doc", "ms", "lower"),
    ("rules.extension_ms_per_doc", "ms", "lower"),
    ("scrub.content_ms_per_doc", "ms", "lower"),
    ("scrub.headings_ms_per_doc", "ms", "lower"),
    ("scrub.orthography_ms_per_doc", "ms", "lower"),
    ("scrub.final_ms_per_doc", "ms", "lower"),
    ("classify.ms_per_doc", "ms", "lower"),
    ("langid.ms_per_doc", "ms", "lower"),
    ("pii.ms_per_doc", "ms", "lower"),
    ("rules.scrub_reach_frac", "frac", "higher"),
    ("scrub.chars_removed_per_doc", "chars", "higher"),
    ("drop.min_size", "count", "lower"),
    ("drop.index_toc", "count", "lower"),
    ("drop.pre_clean_len", "count", "lower"),
    ("drop.post_clean_len", "count", "lower"),
    ("drop.word_count", "count", "lower"),
    ("drop.mean_word_len", "count", "lower"),
    ("drop.symbol_ratio", "count", "lower"),
    ("drop.stopword_ratio", "count", "lower"),
    ("drop.repetition", "count", "lower"),
    ("drop.langid", "count", "lower"),
    ("udfs.fused_ms_per_doc", "ms", "lower"),
    ("udfs.assembly_ms_per_doc", "ms", "lower"),
    ("spark.tasks", "count", "higher"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.core_busy_frac", "frac", "higher"),
    ("spark.python_busy_frac", "frac", "lower"),
    ("spark.transfer_ms_per_doc", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.jvm_heap_peak_mb", "MB", "lower"),
    ("spark.eff_1_to_n", "ratio", "higher"),
    ("pipeline.noop_s", "s", "lower"),
    ("pipeline.metrics_s", "s", "lower"),
    ("checkpoints.run_resumable_s", "s", "lower"),
    ("checkpoints.write_s", "s", "lower"),
    ("checkpoints.completed_buckets_s", "s", "lower"),
    ("checkpoints.read_output_s", "s", "lower"),
    ("checkpoints.buckets_run", "count", "lower"),
    ("checkpoints.bytes_written_per_doc", "bytes", "lower"),
    ("checkpoints.files_written", "count", "lower"),
    ("driver.wall_s", "s", "lower"),
    ("driver.read_input_s", "s", "lower"),
    ("driver.post_write_s", "s", "lower"),
    ("driver.rescans_s", "s", "lower"),
    ("driver.post_write_records_per_doc", "records", "lower"),
    ("driver.accounted_frac", "frac", "higher"),
)

STAGES = ("rules.index", "scrub.content", "scrub.headings", "scrub.orthography",
          "scrub.final", "rules.extension", "classify", "langid", "pii")
DROP_REASONS = tuple(n.split(".", 1)[1] for n, _, _ in PER_LAYER
                     if n.startswith("drop."))
#: decomposition repetitions; each is one driver call, then its steps one by
#: one, then a noop pass
REPS = 2
#: largest share of the driver's wall time the decomposition may leave
#: unexplained (or over-explain); the bound of docs_per_s
CLOSURE_TOL = 0.25


def _median(values):
    return statistics.median(values) if values else None


def _web_config():
    """The ``PipelineConfig`` that ``driver.main`` builds for ``--mode web``
    with every other flag at its default."""
    from wikisource_latin_text_cleaner_spark.functions import rules
    from wikisource_latin_text_cleaner_spark.operators.pipeline import PipelineConfig

    return PipelineConfig(extensions=rules.ExtensionConfig(), pii_scrub=True)


# -- functions.*: 1-core stage replay -------------------------------------

def stage_replay(texts: list, decisions: tuple) -> tuple[dict, dict, int]:
    """Run the fused UDF's per-document calls one by one, timing each.

    Returns (ns per stage, exact counts, docs whose replayed decision
    differs from the reference)."""
    from wikisource_latin_text_cleaner_spark.functions import (
        classify, langid, pii, rules, scrub,
    )

    import reference

    ext = rules.ExtensionConfig()
    clock = time.perf_counter_ns
    ns = dict.fromkeys(STAGES, 0)
    drops: Counter = Counter()
    reached = chars_removed = mismatches = 0
    for text, want in zip(texts, decisions):
        reasons, cleaned = [], ""
        if text is None:
            reasons = ["null_text"]
        elif len(text.encode("utf-8")) < reference.MIN_SIZE_BYTES:
            reasons = ["min_size"]
        else:
            t0 = clock()
            index = rules.looks_like_index(text)
            ns["rules.index"] += clock() - t0
            if index:
                reasons = ["index_toc"]
            else:
                reached += 1
                t0 = clock()
                s = scrub.stage_content(text)
                t1 = clock()
                s = scrub.stage_headings(s)
                t2 = clock()
                s = scrub.stage_orthography(s)
                t3 = clock()
                ns["scrub.content"] += t1 - t0
                ns["scrub.headings"] += t2 - t1
                ns["scrub.orthography"] += t3 - t2
                if len(s.strip()) < scrub.MIN_CLEAN_CHARS:
                    reasons = ["pre_clean_len"]
                else:
                    t0 = clock()
                    s = scrub.stage_final(s)
                    ns["scrub.final"] += clock() - t0
                    if len(s.strip()) < scrub.MIN_CLEAN_CHARS:
                        reasons = ["post_clean_len"]
                    else:
                        cleaned = s
                        t0 = clock()
                        reasons = rules.extension_reasons(s, ext)
                        ns["rules.extension"] += clock() - t0
                chars_removed += len(text) - len(s)
        keep = not reasons
        t0 = clock()
        classify.classify_document(text or "")
        t1 = clock()
        lang, _ = langid.predict(cleaned or "")
        t2 = clock()
        scrubbed, _ = pii.scrub_pii(cleaned or "")
        t3 = clock()
        ns["classify"] += t1 - t0
        ns["langid"] += t2 - t1
        ns["pii"] += t3 - t2
        if keep and lang not in reference.ALLOWED_LANGS:
            reasons.append("langid")
            keep = False
        if keep:
            cleaned = scrubbed
        drops.update(reasons)
        if (keep, tuple(reasons), cleaned) != tuple(want):
            mismatches += 1
    counts = {"reached": reached, "chars_removed": chars_removed, "drops": drops}
    return ns, counts, mismatches


def fused_replay(texts: list, decisions: tuple, batch: int) -> tuple[int, int]:
    """(ns in the fused UDF body, mismatching docs) over pandas batches."""
    import pandas as pd

    from wikisource_latin_text_cleaner_spark.functions import udfs

    cfg = _web_config()
    body = udfs.make_fused_udf(
        min_size_bytes=cfg.min_size_bytes, extensions=cfg.extensions,
        classify_on=cfg.classify, langid_on=cfg.langid,
        allowed_langs=tuple(cfg.allowed_langs),
        ppx_threshold=cfg.perplexity_threshold, pii_on=cfg.pii_scrub,
        rule_metrics=cfg.rule_metrics,
    ).func
    total = mismatches = 0
    for i in range(0, len(texts), batch):
        series = pd.Series(texts[i:i + batch], dtype=object)
        t0 = time.perf_counter_ns()
        out = body(series)
        total += time.perf_counter_ns() - t0
        for keep, reasons, clean, want in zip(
            out["keep"], out["drop_reasons"], out["clean_text"], decisions[i:i + batch]
        ):
            if (bool(keep), tuple(reasons), clean) != tuple(want):
                mismatches += 1
    return total, mismatches


# -- spark: monitoring REST API ---------------------------------------------

def _ts(value: str) -> datetime:
    return datetime.strptime(value, "%Y-%m-%dT%H:%M:%S.%fGMT")


class SparkRest:
    """Reads the live application's REST API (``spark.ui.enabled``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, group: str) -> list:
        """The group's jobs once the status store has caught up with them
        (it is fed asynchronously, after the action has returned)."""
        last = None
        for _ in range(100):
            jobs = sorted((j for j in self.get("jobs") if j.get("jobGroup") == group),
                          key=lambda j: j["jobId"])
            state = [(j["jobId"], j["status"], j["numCompletedTasks"]) for j in jobs]
            if jobs and state == last and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            last = state
            time.sleep(0.1)
        raise RuntimeError(f"jobs of {group} did not settle in the status store")

    def jvm_heap_peak_mb(self) -> float | None:
        """Peak JVM heap in use over the session, as Spark's executor
        heartbeats sampled it."""
        (drv,) = [e for e in self.get("executors") if e["id"] == "driver"]
        heap = drv.get("peakMemoryMetrics", {}).get("JVMHeapMemory")
        return None if heap is None else heap / 2**20

    def driver_call(self, group: str, docs: int) -> dict:
        """Write-stage and post-write figures of one driver call."""
        stages = []  # (job id, stage attempt)
        for job in self._settled_jobs(group):
            for sid in job["stageIds"]:
                for attempt in self.get(f"stages/{sid}"):
                    if attempt["status"] == "COMPLETE":
                        stages.append((job["jobId"], attempt))
        write_job, write = max(stages, key=lambda s: s[1]["outputRecords"])
        tasks = self.get(f"stages/{write['stageId']}/{write['attemptId']}"
                         "/taskList?length=100000")
        run_ms = [t["taskMetrics"]["executorRunTime"] for t in tasks]
        wall_ms = 1000 * (_ts(write["completionTime"])
                          - _ts(write["submissionTime"])).total_seconds()
        return {
            "docs": docs,
            "tasks": len(tasks),
            "task_skew": max(run_ms) / max(statistics.median(run_ms), 1),
            "run_ms": sum(run_ms),
            "wall_ms": wall_ms,
            "gc_ms": write["jvmGcTime"],
            "post_write_records": sum(
                a["inputRecords"] for job_id, a in stages if job_id > write_job),
        }


# -- operators.pipeline / plans.checkpoints / driver ------------------------

def decompose(bench) -> tuple[dict, list]:
    """Time the calls ``driver.main`` makes, one layer at a time, on the
    workload's prepared state, each pass right after a whole driver call
    that it is compared with. Returns (seconds lists and counts, problems)."""
    from pyspark.sql import functions as F

    import reference
    from wikisource_latin_text_cleaner_spark import catalog
    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        QualityFilterPipeline,
    )
    from wikisource_latin_text_cleaner_spark.plans import checkpoints

    spark, nb = bench.spark, bench.n_buckets
    pipe = QualityFilterPipeline(_web_config())
    t: dict = defaultdict(list)
    problems = []
    for _ in range(REPS):
        bench.prepare()
        t0 = time.perf_counter()
        bench._driver(bench.argv)
        t["driver"].append(time.perf_counter() - t0)
        bench.prepare()
        t0 = time.perf_counter()
        pages = catalog.read_table(spark, bench.pages)
        t["read_input"].append(time.perf_counter() - t0)
        for _ in range(3):
            t0 = time.perf_counter()
            checkpoints.completed_buckets(spark, bench.out, nb)
            t["completed_buckets"].append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        run = checkpoints.run_resumable(pipe.transform, pages, bench.out,
                                        n_buckets=nb, resume=bench.resume)
        t["run_resumable"].append(time.perf_counter() - t0)
        if set(run) != bench.run_buckets:
            problems.append(f"run_resumable ran {len(run)} buckets, "
                            f"expected {len(bench.run_buckets)}")
        problems += reference.check(bench.out, bench.expected, bench.run_buckets)
        files = []
        for b in run:
            d = os.path.join(bench.out, "data", f"bucket={b}")
            if os.path.isdir(d):  # a bucket no row hashes to has no directory
                files += [os.path.join(d, f) for f in os.listdir(d)
                          if f.endswith(".parquet")]
        t["buckets_run"].append(len(run))
        t["files"].append(len(files))
        t["bytes"].append(sum(os.path.getsize(f) for f in files))

        # the post-write passes, as driver.main makes them
        t0 = time.perf_counter()
        out = checkpoints.read_output(spark, bench.out)
        src = out.where(out.bucket.isin(run))
        t["read_output"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        catalog.append(pipe.metrics(src).withColumn("run_ts", F.lit("perfbench")),
                       os.path.join(bench.out, "metrics"))
        t["metrics"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        out.groupBy(out.keep.cast("string").alias("k")).count().collect()
        src.count()
        t["rescans"].append(time.perf_counter() - t0)

        # the frame run_resumable writes, forced through a noop sink
        bench.prepare()
        todo = (checkpoints.with_bucket(pages, nb)
                .where(F.col("bucket").isin(sorted(bench.run_buckets)))
                .drop("bucket"))
        t0 = time.perf_counter()
        checkpoints.with_bucket(pipe.transform(todo), nb).write.format(
            "noop").mode("overwrite").save()
        t["noop"].append(time.perf_counter() - t0)
    return t, problems


class Tracer:
    """Collects the per-layer figures of one ``--trace 1`` run."""

    def __init__(self, bench):
        self.bench = bench
        self.rest = SparkRest(bench.spark)
        self.calls: list = []

    def on_traced(self, call, group: str) -> None:
        self.calls.append(self.rest.driver_call(group, call.docs))

    def finish(self, calls: list, record: dict) -> tuple[dict, list]:
        bench = self.bench
        problems = []

        def dps(traced):
            return _median([c.docs / c.wall_s for c in calls
                            if c.ok and c.traced == traced])

        if dps(True) is not None and dps(False) is not None:
            record["tracing_overhead_docs_per_s"] = dps(True) - dps(False)
        if not self.calls:
            problems.append("no traced driver call succeeded")

        t0 = time.perf_counter()
        t, bad = decompose(bench)
        problems += bad
        t1 = time.perf_counter()
        ns, counts, stage_bad = stage_replay(bench.texts, bench.expected.decisions)
        batch = record["arrow_batch_size"]
        fused_ns, fused_bad = fused_replay(bench.texts, bench.expected.decisions, batch)
        record["trace_phases_s"] = {"decompose": t1 - t0,
                                    "replay": time.perf_counter() - t1}
        if stage_bad or fused_bad:
            problems.append(f"in-process replay differs from the reference on "
                            f"{stage_bad} (stages) / {fused_bad} (fused) docs")

        n = len(bench.texts)

        def per_doc_ms(ns_total):
            return ns_total / 1e6 / n

        fused_ms = per_doc_ms(fused_ns)
        m = {
            "rules.index_ms_per_doc": per_doc_ms(ns["rules.index"]),
            "rules.extension_ms_per_doc": per_doc_ms(ns["rules.extension"]),
            "scrub.content_ms_per_doc": per_doc_ms(ns["scrub.content"]),
            "scrub.headings_ms_per_doc": per_doc_ms(ns["scrub.headings"]),
            "scrub.orthography_ms_per_doc": per_doc_ms(ns["scrub.orthography"]),
            "scrub.final_ms_per_doc": per_doc_ms(ns["scrub.final"]),
            "classify.ms_per_doc": per_doc_ms(ns["classify"]),
            "langid.ms_per_doc": per_doc_ms(ns["langid"]),
            "pii.ms_per_doc": per_doc_ms(ns["pii"]),
            "rules.scrub_reach_frac": counts["reached"] / n,
            "scrub.chars_removed_per_doc": counts["chars_removed"] / n,
            **{f"drop.{r}": counts["drops"][r] for r in DROP_REASONS},
            "udfs.fused_ms_per_doc": fused_ms,
            "udfs.assembly_ms_per_doc": fused_ms - per_doc_ms(sum(ns.values())),
        }

        w = self.calls
        cores = bench.cores
        m.update({
            "spark.tasks": _median([c["tasks"] for c in w]),
            "spark.task_skew": _median([c["task_skew"] for c in w]),
            "spark.core_busy_frac": _median(
                [c["run_ms"] / (c["wall_ms"] * cores) for c in w]),
            "spark.python_busy_frac": _median(
                [fused_ms * c["docs"] / (c["wall_ms"] * cores) for c in w]),
            "spark.transfer_ms_per_doc": _median(
                [(c["run_ms"] - fused_ms * c["docs"]) / c["docs"] for c in w]),
            "spark.gc_ms": _median([c["gc_ms"] for c in w]),
            "spark.jvm_heap_peak_mb": self.rest.jvm_heap_peak_mb(),
            "driver.post_write_records_per_doc": _median(
                [c["post_write_records"] / c["docs"] for c in w]),
        })

        med = {k: _median(v) for k, v in t.items()}
        wall = _median([c.wall_s for c in calls if c.ok])
        docs = _median([c.docs for c in calls if c.ok])
        # each pass's steps, in the sequence driver.main makes them
        steps = [sum(x) for x in zip(t["read_input"], t["run_resumable"],
                                     t["read_output"], t["metrics"], t["rescans"])]
        m.update({
            "pipeline.noop_s": med["noop"],
            "pipeline.metrics_s": med["metrics"],
            "checkpoints.run_resumable_s": med["run_resumable"],
            "checkpoints.write_s": med["run_resumable"] - med["noop"],
            "checkpoints.completed_buckets_s": med["completed_buckets"],
            "checkpoints.read_output_s": med["read_output"],
            "checkpoints.buckets_run": med["buckets_run"],
            "checkpoints.bytes_written_per_doc": med["bytes"] / docs,
            "checkpoints.files_written": med["files"],
            "driver.wall_s": wall,
            "driver.post_write_s": _median(
                [d - r for d, r in zip(t["driver"], t["run_resumable"])]),
            "driver.rescans_s": med["rescans"],
            "driver.read_input_s": med["read_input"],
            "driver.accounted_frac": _median(
                [st / d for st, d in zip(steps, t["driver"])]),
        })
        accounted = m["driver.accounted_frac"]
        if abs(accounted - 1) > CLOSURE_TOL:
            problems.append(f"the driver's calls timed one by one account for "
                            f"{accounted:.2f} of its wall time")
        record["decomposition_s"] = dict(t)
        # spark.eff_1_to_n is filled in by one_core_efficiency
        return {k: {"value": m.get(k), "unit": unit} for k, unit, _ in PER_LAYER}, problems


def one_core_efficiency(bench, calls: list, metrics: dict, record: dict) -> list:
    """``spark.eff_1_to_n``: docs/s at ``local[cores]`` over ``cores`` times
    docs/s at ``local[1]``; the latter from this benchmark run as a
    subprocess on the same workload, seed and size, with the same warm-up.
    It times one call, to keep a traced run well under three minutes on a
    4-CPU box. Returns problems."""
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [sys.executable, os.path.join(here, "run.py"),
           "--workload", bench.workload, "--seed", str(bench.seed),
           "--seconds", "0", "--trace", "0", "--cores", "1",
           "--docs", str(bench.n_docs)]
    t0 = time.perf_counter()
    # its own process group, so a timeout also stops the JVM it starts
    proc = subprocess.Popen(cmd, cwd=os.path.dirname(here), text=True,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return ["local[1] pass timed out"]
    record["trace_phases_s"]["one_core"] = time.perf_counter() - t0
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"local[1] pass failed: {err.strip()[-500:]}"]
    one = json.loads(lines[-1])
    one_dps = one["metrics"]["docs_per_s"]["value"]
    n_dps = _median([c.docs / c.wall_s for c in calls if c.ok and not c.traced])
    metrics["spark.eff_1_to_n"]["value"] = n_dps / (bench.cores * one_dps)
    return [] if one["correct"] else ["local[1] pass failed its output check"]
