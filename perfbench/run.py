"""Extraction benchmark of record.

    python3 perfbench/run.py --workload synth_skew --seed 1 --seconds 20 --trace 0

Runs the extraction pipeline through its public API on a Spark session
built exactly as the CLI builds it (``build_session(master="local[N]")``,
N = the CPUs this process may use, no conf overrides), over a pages table
generated from ``--seed`` and read through ``sources.read_pages``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (README.md). The last stdout line is one JSON object; a failed
output check exits 1 without printing it, a missing program exits 2.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import time
from statistics import median

import pyarrow.parquet as pq

import inputs
import procs
import sparkstats
from check import (
    CHECKED_COLUMNS,
    check_articles,
    digest_of,
    record_md5,
    reference_digests,
    spark_md5_column,
    start_reference_digests,
)
from spans import (
    NoTracer,
    Tracer,
    cpu_scaling,
    layer_metrics,
    run_task_loop,
    traced_task_loop,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUP_SAMPLES = 2
MIB = float(1 << 20)
_T0 = time.perf_counter()


class CheckFailed(Exception):
    pass


def log(msg: str) -> None:
    """Progress on stderr, with seconds since the run started."""
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def scrub_env() -> None:
    """Shipped defaults: drop every program knob but the CPU count, and the
    SPARK_DRIVER_MEMORY override. Keep every scratch file in the checkout:
    Spark's local dirs, Python's temp files, the JVM's temp dir, and no JVM
    perf-data file in /tmp."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") and key != "SPARK_GRAFT_CPUS":
            del os.environ[key]
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    tempfile.tempdir = None


def check_canary() -> None:
    """The pinned canary digest (pins.json) against this program."""
    with open(os.path.join(HERE, "pins.json")) as fh:
        pinned = json.load(fh)["canary_digest"]
    got = digest_of(reference_digests(inputs.canary_rows(), 1).items())
    if got != pinned:
        raise CheckFailed(f"canary digest {got} differs from the pinned "
                          f"{pinned}: extraction output changed")


class Bench:
    """One run: the workload's input, the Spark session and the numbers."""

    def __init__(self, args, n_pages: int):
        self.args = args
        self.traced = args.trace == 1
        self.tracer = Tracer() if self.traced else NoTracer()
        self.nproc = len(os.sched_getaffinity(0))
        self.half = max(1, self.nproc // 2)
        self.master = f"local[{self.nproc}]"
        self.n_pages = n_pages
        self.cache = inputs.Cache(os.path.join(STATE, "cache"), args.workload,
                                  args.seed, n_pages, inputs.source_hash(ROOT))
        self.work = tempfile.mkdtemp(prefix="run-", dir=STATE)
        self.spark = None
        self.first_job = None  # (pages, partitions) -> None, set per workload
        self.metrics: dict[str, float] = {}
        self.units: list[dict] = []
        self.attempted = 0
        self.failed = 0

    # ---------------------------------------------------------------- session

    def build(self, master):
        from go_readability_spark.plans import build_session

        with self.tracer.span("build_session"):
            self.spark = build_session(master=master)
        self.spark.sparkContext.setLogLevel("ERROR")
        log(f"session built at {master}")

    def first_stage(self, tasks):
        """The first Python stage a job pays: the workload's own job over 8
        pages per task, one task per core, so every worker forks and imports
        the extraction modules and the JVM has run the job's plan once."""
        from go_readability_spark.sources import read_pages

        with self.tracer.span("first_stage"):
            pages = read_pages(self.spark, self.cache.pages).limit(8 * tasks)
            self.first_job(pages, tasks)
        log("first Python stage done")

    def warm_up(self) -> dict[str, int]:
        """One job over the table that starts no Python worker (url -> salt
        bucket, fetched as Arrow) before set-up is timed, so no set-up
        sample also pays most of the JVM's first class loading and JIT
        (~10 s on a 4-CPU host), which a warm sample does not."""
        from go_readability_spark.plans import with_salt
        from go_readability_spark.sources import read_pages

        with self.tracer.span("warm_up"):
            t = (with_salt(read_pages(self.spark, self.cache.pages))
                 .select("url", "salt").toArrow())
        log("JVM warmed up")
        return dict(zip(t.column("url").to_pylist(), t.column("salt").to_pylist()))

    def setup_samples(self):
        """Stop and rebuild the warmed session SETUP_SAMPLES times (the JVM
        stays up); each sample is build_session plus the first Python stage.
        The traced run, which reports no setup_s, takes one."""
        builds, firsts = [], []
        for _ in range(1 if self.traced else SETUP_SAMPLES):
            self.spark.stop()
            t0 = time.perf_counter()
            self.build(self.master)
            t1 = time.perf_counter()
            self.first_stage(self.nproc)
            builds.append(t1 - t0)
            firsts.append(time.perf_counter() - t1)
        self.metrics["setup_s"] = median([b + f for b, f in zip(builds, firsts)])
        self.metrics["session.build_s"] = median(builds)
        self.metrics["session.first_stage_s"] = median(firsts)

    def shutdown(self):
        """Stop Spark and the JVM, and wait until both have exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
            log("Spark stopped")

    def config(self) -> dict:
        from go_readability_spark.plans.extract import (
            DEFAULT_N_BUCKETS,
            default_extract_partitions,
        )

        conf = self.spark.conf
        return {
            "master": self.master,
            "extract_partitions": default_extract_partitions(
                self.spark, DEFAULT_N_BUCKETS),
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "arrow_batch_rows": conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"),
            "parquet_codec": conf.get("spark.sql.parquet.compression.codec"),
        }

    def start_reference(self, rows):
        """The cached reference digests, or start computing them. -> a
        function that returns them once ready."""
        ref = self.cache.load_reference()
        pending = None if ref is not None else start_reference_digests(
            rows, self.nproc)

        def wait() -> dict:
            nonlocal ref
            if ref is None:
                ref = pending()
                self.cache.save_reference(ref)
            log("reference digests ready")
            return ref

        return wait

    # ------------------------------------------------------------ measurement

    def measure(self, unit):
        """Set up, then run measured units back to back while another one is
        expected to end within --seconds of measuring (at least one)."""
        self.setup_samples()
        store = sparkstats.StatusStore(self.spark)
        spent = 0.0
        while not self.units or spent * (1 + 1 / len(self.units)) <= self.args.seconds:
            before = set(store.execution_ids())
            result = unit()
            spent += result["wall_s"]
            log(f"measured unit {len(self.units) + 1}: {result['wall_s']:.2f}s")
            result["executions"] = [i for i in store.execution_ids()
                                    if i not in before]
            self.units.append(result)
        self.metrics["docs_per_s"] = median(u["docs_per_s"] for u in self.units)
        if not self.traced:
            self.metrics["worker_peak_rss_mb"] = sparkstats.worker_peak_rss_mb(
                sparkstats.jvm_pid())

    def record_check(self, res):
        self.attempted += res.attempted
        self.failed += res.failed
        if not res.ok:
            raise CheckFailed("; ".join(res.problems))

    def spark_layers(self, extract_partitions):
        """Boundary and exchange metrics of the last unit's executions, read
        while its session is still up, and the scan's task count."""
        from go_readability_spark.sources import read_pages

        store = sparkstats.StatusStore(self.spark)
        jobs = [m for m in map(store.extraction_metrics,
                               self.units[-1]["executions"]) if m is not None]
        self.metrics.update(sparkstats.combine(jobs))
        if self.metrics["exchange.partitions"] != extract_partitions:
            raise RuntimeError(
                f"the measured exchange has {self.metrics['exchange.partitions']}"
                f" partitions, the shipped default is {extract_partitions}")
        self.metrics["sources.scan_tasks"] = (
            read_pages(self.spark, self.cache.pages).rdd.getNumPartitions())

    def process_layers(self, rows):
        """Stop Spark, then the per-document layers from in-process passes
        over the same table, and the host control."""
        self.shutdown()
        self.metrics["sources.input_mb"] = sum(len(r["html"]) for r in rows) / MIB
        # the first pass fills the parser's memo caches, as a reused Spark
        # worker's first tasks do; tracing overhead compares two warm passes
        loop_s = run_task_loop(rows)
        traced_s = traced_task_loop(rows, self.tracer)
        warm_s = run_task_loop(rows)
        log(f"in-process task loop {loop_s:.2f}s, traced {traced_s:.2f}s, "
            f"warm {warm_s:.2f}s")
        self.metrics.update(layer_metrics(self.tracer, loop_s, traced_s))
        self.metrics["trace.overhead_share"] = traced_s / warm_s - 1.0
        self.metrics["boundary.overhead_share"] = (
            1.0 - loop_s / self.metrics["python.run_s"])
        self.metrics["host.cpu_scaling"] = cpu_scaling(self.half, self.nproc)


# ------------------------------------------------------------------ workloads

SINK_METRICS = ("sink.first_leg_s", "sink.resume_leg_s",
                "sink.completed_buckets_s", "sink.buckets_skipped",
                "sink.resume_useful_share", "sink.output_mb",
                "sink.output_files", "sink.lineage_rows",
                "sink.stored_bytes_ratio")


def run_synth_skew(b: Bench) -> dict:
    """extract_pages over the seeded skew mix. The job's sink is a collect
    of (url, digest, has-error), so every committed row is checked."""
    from pyspark.sql import functions as F

    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import read_pages

    if not b.cache.has_pages():
        b.cache.publish_pages(inputs.pages_table(inputs.synth_rows(b.args.seed)))
    rows = inputs.read_rows(b.cache.pages, b.n_pages)
    # the reference pass runs in its own processes while the JVM starts;
    # neither is timed
    reference = b.start_reference(rows)
    b.build(b.master)
    b.warm_up()
    ref = reference()

    def job(pages, partitions=None):
        with b.tracer.span("extract_pages"):
            articles = extract_pages(pages, num_partitions=partitions)
        with b.tracer.span("collect"):
            return articles.select(
                "url", spark_md5_column(),
                F.col("error").isNotNull()).collect()

    def unit():
        t0 = time.perf_counter()
        with b.tracer.span("read_pages"):
            pages = read_pages(b.spark, b.cache.pages)
        got = job(pages)
        wall = time.perf_counter() - t0
        b.record_check(check_articles(ref, [tuple(r) for r in got]))
        return {"wall_s": wall, "docs_per_s": len(got) / wall}

    b.first_job = job
    b.measure(unit)
    cfg = b.config()
    if not b.traced:
        return cfg
    b.spark_layers(cfg["extract_partitions"])
    # scaling_eff: the same job on the same table on half the cores (at
    # local[1] the 200 tasks alone take 40-90 s, more than a run may)
    b.spark.stop()
    b.build(f"local[{b.half}]")
    b.first_stage(b.half)
    with b.tracer.span("scaling_half"):
        low = unit()
    b.metrics["scaling_eff"] = (b.metrics["docs_per_s"] / low["docs_per_s"]
                                / (b.nproc / b.half))
    b.process_layers(rows)
    # nothing is written on this workload, so the sink layer does no work
    b.metrics.update({k: 0.0 for k in SINK_METRICS})
    return cfg


def _lineage(files) -> dict[int, int]:
    """salt bucket -> rows_in over the given checkpoint files."""
    out: dict[int, int] = {}
    for path in files:
        t = pq.read_table(path, columns=["partition_key", "rows_in"])
        for k, n in zip(t.column("partition_key").to_pylist(),
                        t.column("rows_in").to_pylist()):
            out[int(k)] = out.get(int(k), 0) + n
    return out


def run_sink_resume(b: Bench) -> dict:
    """The shipped job: run_extraction_job with a checkpoint, into a parquet
    articles table. Untraced, one leg extracts every page from an empty
    checkpoint. Traced, a first leg extracts the pages of a seeded half of
    the salt buckets and a second leg resumes over all pages; it must skip
    exactly the first leg's buckets."""
    from pyspark.sql import functions as F

    from go_readability_spark.plans import run_extraction_job, with_salt
    from go_readability_spark.plans.extract import (
        DEFAULT_N_BUCKETS,
        completed_buckets,
    )
    from go_readability_spark.sources import pages_from_documents, read_pages

    b.build(b.master)
    if not b.cache.has_pages():
        docs_dir = os.path.join(b.work, "documents")
        os.makedirs(docs_dir)
        pq.write_table(inputs.documents_table(b.args.seed),
                       os.path.join(docs_dir, "documents.parquet"))
        pages = pages_from_documents(b.spark, docs_dir).toArrow()
        b.cache.publish_pages(pages.cast(inputs.PAGES_ARROW_SCHEMA))
    rows = inputs.read_rows(b.cache.pages, b.n_pages)
    reference = b.start_reference(rows)  # runs while the JVM warms up
    salt_of = b.warm_up()
    ref = reference()
    html_bytes = sum(len(r["html"]) for r in rows)
    rng = random.Random(f"perfbench-sink-half:{b.args.seed}")
    half = sorted(rng.sample(range(DEFAULT_N_BUCKETS), DEFAULT_N_BUCKETS // 2))
    all_buckets = set(salt_of.values())
    first_buckets = all_buckets & set(half) if b.traced else set()
    first_pages = sum(1 for s in salt_of.values() if s in first_buckets)

    def first_half():
        return (with_salt(read_pages(b.spark, b.cache.pages))
                .where(F.col("salt").isin(half)).drop("salt"))

    def leg(name, pages, out, ckpt) -> float:
        t0 = time.perf_counter()
        with b.tracer.span(name):
            run_extraction_job(pages, out, ckpt)
        return time.perf_counter() - t0


    def first_job(pages, partitions):
        warm = tempfile.mkdtemp(prefix="first-job-", dir=b.work)
        run_extraction_job(pages, os.path.join(warm, "articles"),
                           os.path.join(warm, "checkpoint"),
                           num_partitions=partitions)

    def unit():
        n = len(b.units)
        out = os.path.join(b.work, f"articles-{n}")
        ckpt = os.path.join(b.work, f"checkpoint-{n}")
        legs, done, skipped, verify_s = [], set(), None, 0.0
        if b.traced:
            legs.append(leg("run_extraction_job:first", first_half(), out, ckpt))
            done = set(glob.glob(os.path.join(ckpt, "*.parquet")))
            with b.tracer.span("completed_buckets"):
                c0 = time.perf_counter()
                skipped = completed_buckets(
                    b.spark, ckpt, verify_output_dir=out,
                    n_buckets=DEFAULT_N_BUCKETS).count()
                verify_s = time.perf_counter() - c0
        legs.append(leg("run_extraction_job", read_pages(b.spark, b.cache.pages),
                        out, ckpt))
        wall = sum(legs)

        last = set(glob.glob(os.path.join(ckpt, "*.parquet"))) - done
        leg1, leg2 = _lineage(done), _lineage(last)
        table = pq.read_table(out, columns=["url", *CHECKED_COLUMNS])
        got = [(r["url"], record_md5(r), r["error"] is not None)
               for r in table.to_pylist()]
        res = check_articles(ref, got)
        if set(leg1) != first_buckets:
            res.add(f"first leg completed {len(leg1)} buckets, "
                    f"expected {len(first_buckets)}")
        if set(leg2) != all_buckets - first_buckets:
            res.add(f"last leg extracted {len(set(leg2) & set(leg1))} buckets "
                    "the first leg had completed, and missed "
                    f"{len(all_buckets - set(leg1) - set(leg2))}")
        if skipped is not None and skipped != len(first_buckets):
            res.add(f"completed_buckets found {skipped} buckets, "
                    f"expected {len(first_buckets)}")
        b.record_check(res)
        files = [p for p in glob.glob(os.path.join(out, "*.parquet"))
                 if not os.path.basename(p).startswith((".", "_"))]
        out_bytes = sum(os.path.getsize(p) for p in files)
        return {
            "wall_s": wall, "docs_per_s": len(got) / wall,
            "sink.first_leg_s": legs[0], "sink.resume_leg_s": legs[-1],
            "sink.completed_buckets_s": verify_s,
            "sink.buckets_skipped": len(set(leg1) - set(leg2)),
            "sink.resume_useful_share": (
                (len(rows) - first_pages) / sum(leg2.values())),
            "sink.output_mb": out_bytes / MIB,
            "sink.output_files": len(files),
            "sink.lineage_rows": sum(pq.read_metadata(p).num_rows
                                     for p in done | last),
            "sink.stored_bytes_ratio": out_bytes / html_bytes,
        }

    b.first_job = first_job
    b.measure(unit)
    cfg = b.config()
    if not b.traced:
        return cfg
    b.metrics.update({k: b.units[-1][k] for k in SINK_METRICS})
    b.spark_layers(cfg["extract_partitions"])
    # scaling_eff needs another leg on half the cores, which with the two
    # legs would not fit in a run; measured on synth_skew only
    b.metrics["scaling_eff"] = 0.0
    b.process_layers(rows)
    return cfg


WORKLOADS = {
    "synth_skew": (run_synth_skew, inputs.SYNTH_PAGES),
    "sink_resume": (run_sink_resume, inputs.SHORT_PAGES),
}


# ---------------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "go_readability_spark",
                                       "__init__.py")):
        print(f"perfbench: the program (go_readability_spark/) is not in "
              f"{ROOT}; nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # from here on every exit, a SIGTERM too, passes the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    procs.become_subreaper()
    scrub_env()
    sys.path.insert(0, ROOT)

    run_workload, n_pages = WORKLOADS[args.workload]
    b = Bench(args, n_pages)
    try:
        check_canary()
        log("canary digest matches the pin")
        cfg = run_workload(b)
    except CheckFailed as exc:
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
        return 1
    finally:
        try:
            b.shutdown()
        finally:
            stopped = procs.stop_all()
            if stopped:
                log(f"stopped {len(stopped)} leftover processes")
            shutil.rmtree(b.work, ignore_errors=True)

    if b.traced:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        b.tracer.write(os.path.join(
            STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    b.metrics["committed_share"] = 1.0 - b.failed / b.attempted
    metrics = {m["name"]: {"value": float(b.metrics[m["name"]]), "unit": m["unit"]}
               for m in spec["per_layer" if b.traced else "end_to_end"]}
    print(f"perfbench {args.workload} seed={args.seed} units={len(b.units)} "
          + " ".join(f"{k}={v}" for k, v in cfg.items()))
    for name, m in metrics.items():
        print(f"  {name:34s} {m['value']:14.6g} {m['unit']}")
    print(json.dumps({"correct": True, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
