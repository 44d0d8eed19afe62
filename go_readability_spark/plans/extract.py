"""The extraction pipeline: Iceberg/parquet scan → salted repartition →
Arrow-batched mapInPandas extraction → sink, with per-bucket
checkpoint/lineage rows for resumability (SURVEY.md §3 'Spark lifecycle').

Design notes for 10^12-row scale:

* Column pruning is explicit: only (url, warc_ts, html) reach the shuffle;
  Catalyst pushes the projection into the parquet/Iceberg scan.
* Skew (host/size concentration in Common-Crawl) is defused by one
  deterministic repartition — the only shuffle in the job — keyed on the
  salt ``pmod(xxhash64(url), n_buckets)`` or on ``xxhash64(url)`` by the
  rule in _extraction_plan. Deterministic keys are what make retries and
  bucket-level resume sound.
* The extraction itself is partition-local: one ``mapInPandas`` call per
  partition, iterator form, so the compiled regexes and parser setup
  amortize across all Arrow batches of the partition (no per-row Python
  dispatch at the Spark boundary).
* Resume: completed salt buckets are recorded in a checkpoint table; a
  restart anti-joins pages against completed buckets. On a real cluster the
  checkpoint table is an Iceberg table with transactional appends; in this
  sandbox it is a parquet directory written atomically per task.
* Every task-side pyarrow write (atomic-sink bucket files, lineage rows)
  takes its schema from the Spark schemas in plans/schema.py, so the
  files read back with exactly the types Spark itself writes.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F, types as T

from .schema import ARTICLES_SCHEMA, CHECKPOINT_SCHEMA, SINK_STATS_SCHEMA

DEFAULT_N_BUCKETS = 256

# one full cyclic collection every this many finished tasks per worker
# (see _maybe_end_of_task_collect)
_GC_EVERY_TASKS = 8

_TIMESTAMP_COLUMNS = {f.name for f in ARTICLES_SCHEMA.fields
                      if isinstance(f.dataType, T.TimestampType)}


def _output_codec() -> str:
    """Parquet codec for task-side pyarrow writes (atomic sink, checkpoint
    lineage), kept in lockstep with the session-level
    spark.sql.parquet.compression.codec knob (plans/session.py). Local mode
    inherits the driver env; on a cluster ship it via spark.executorEnv."""
    return os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy")


def _utc_naive(dt):
    if dt is None:
        return None
    if dt.tzinfo is not None:
        return dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def extract_record(url, html_bytes):
    """Run the full readability extraction for one page; never raises.

    The parsed tree and the grab-attempt clone are torn down explicitly
    (dom.unlink_tree) before returning: the DOM is reference-cyclic, and
    leaving ~10^5 dead cyclic nodes per document to Python's generational
    GC caused repeated full collections that dominated per-doc latency
    (a measured 740 ms pause inside one clone). With explicit teardown
    the trees free by refcount and the cyclic collector stays idle."""
    from ..dom import parse_html, unlink_tree
    from ..readability import Parser, check_document

    out = {
        "url": url, "title": "", "byline": "", "content": "",
        "text_content": "", "length": 0, "excerpt": "", "site_name": "",
        "image": "", "favicon": "", "lang": "", "published_time": None,
        "modified_time": None, "readerable": None, "error": None,
    }
    doc = None
    art_node = None
    ps = Parser()
    try:
        doc = parse_html(html_bytes if html_bytes is not None else b"")
        out["readerable"] = check_document(doc)
        art = ps.parse_document(doc, url)
        art_node = art.node
        out.update(
            title=art.title, byline=art.byline, content=art.content,
            text_content=art.text_content, length=art.length,
            excerpt=art.excerpt, site_name=art.site_name, image=art.image,
            favicon=art.favicon, lang=art.language,
            published_time=_utc_naive(art.published_time),
            modified_time=_utc_naive(art.modified_time),
        )
    except Exception as exc:  # per-row error capture — never fail the task
        out["error"] = f"{type(exc).__name__}: {exc}"
    finally:
        # losing retry-sieve attempts keep whole document clones alive
        # (parser.attempts holds their article nodes) — tear down every
        # distinct attempt tree plus the winning clone and the source doc
        seen = []
        for node in [art_node, *(a for a, _ in ps.attempts if a is not None)]:
            if node is None:
                continue
            root = node
            while root.parent is not None:
                root = root.parent
            if all(root is not r for r in seen):
                seen.append(root)
        for root in seen:
            unlink_tree(root)
        if doc is not None:
            unlink_tree(doc)
    return out


def _maybe_end_of_task_collect():
    """Amortized end-of-task cyclic collection (r7, guide §4.5).

    extract_record tears every tree down explicitly, so the only cyclic
    garbage a task can leave is exception-path residue — small and
    bounded.  The old per-task ``gc.collect()`` safety net cost a
    measured 15-25 ms per task; one full sweep every ``_GC_EVERY_TASKS``
    tasks keeps the reused worker's residue bounded at ~1/8 the old
    per-task frequency cost.  Module-level counter: Python workers are
    single-threaded and reused across tasks (spark.python.worker.reuse),
    and this module ships to executors, so the state persists."""
    import gc

    global _tasks_finished
    _tasks_finished += 1
    if _tasks_finished % _GC_EVERY_TASKS == 0:
        gc.collect()


_tasks_finished = 0


def make_extractor(checkpoint_dir: str | None = None,
                   sink_dir: str | None = None):
    """Build the mapInPandas task function. Iterator form: per-partition
    setup runs once, then every Arrow batch streams through.

    Without ``sink_dir`` the task yields each batch's article frame as
    soon as it is extracted (ARTICLES_SCHEMA). With ``sink_dir`` it is the
    atomic sink's task (run_extraction_job_atomic): it publishes one
    parquet file per salt bucket and yields only the per-bucket stats
    rows (SINK_STATS_SCHEMA). With ``checkpoint_dir``, one lineage row per
    salt bucket lands after the task's output."""

    def extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import gc

        started = datetime.now(timezone.utc)
        bucket_stats: dict[str, list] = {}  # salt -> [rows_in, rows_out, errors, bytes_in]
        bucket_frames: dict[int, list] = {}

        # extract_record tears its trees down explicitly, so the cyclic
        # collector has nothing useful to do mid-partition — its full
        # gen-2 sweeps (triggered purely by allocation counts at this
        # node rate) were the single largest per-doc latency source.
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for pdf, salts in _extract_frames(batches, bucket_stats):
                if sink_dir is None:
                    yield pdf
                    continue
                for salt_val, group in pdf.groupby(salts, sort=False):
                    bucket_frames.setdefault(int(salt_val), []).append(group)
        finally:
            if gc_was_enabled:
                gc.enable()
                _maybe_end_of_task_collect()

        if sink_dir is not None:
            _publish_buckets(sink_dir, bucket_frames)
        if checkpoint_dir and bucket_stats:
            # strictly after the sink's data renames (see
            # run_extraction_job_atomic)
            _write_checkpoint_rows(checkpoint_dir, bucket_stats, started)
        if sink_dir is not None:
            yield _stats_frame(bucket_stats)

    return extract_batches


def _extract_frames(batches, bucket_stats):
    """The per-row extraction loop: yields (article frame, salts) per
    batch. Per-bucket stats accumulate only when the input carries a salt
    column; salts is then the batch's salt Series, else None."""
    import pandas as pd

    columns = ARTICLES_SCHEMA.fieldNames()
    for pdf in batches:
        data: dict[str, list] = {c: [] for c in columns}
        urls = pdf["url"].tolist()
        htmls = pdf["html"].tolist()
        warc = pdf["warc_ts"].tolist() if "warc_ts" in pdf.columns else [None] * len(urls)
        has_salt = "salt" in pdf.columns
        salts = pdf["salt"].tolist() if has_salt else None
        for i, (url, html) in enumerate(zip(urls, htmls)):
            rec = extract_record(url, html)
            rec["warc_ts"] = warc[i]
            for c in columns:
                data[c].append(rec[c])
            if has_salt:
                st = bucket_stats.setdefault(str(salts[i]), [0, 0, 0, 0])
                st[0] += 1
                st[1] += 0 if rec["error"] else 1
                st[2] += 1 if rec["error"] else 0
                st[3] += len(html) if html is not None else 0
        yield (article_frame(data),
               pd.Series(salts, dtype="int64") if has_salt else None)


def article_frame(data: dict[str, list]):
    """pandas frame of article columns (any subset of ARTICLES_SCHEMA's),
    with the dtypes Arrow maps onto the Spark types: datetime64 for the
    timestamps, int32 for length."""
    import pandas as pd

    return pd.DataFrame(
        {
            c: (
                pd.to_datetime(pd.Series(v, dtype="object"), errors="coerce")
                if c in _TIMESTAMP_COLUMNS
                else pd.Series(v, dtype="int32")
                if c == "length"
                else v
            )
            for c, v in data.items()
        }
    )


def _stats_frame(bucket_stats):
    """The atomic sink's per-bucket stats rows (SINK_STATS_SCHEMA)."""
    import pandas as pd

    return pd.DataFrame([(int(k), *map(int, v)) for k, v in bucket_stats.items()],
                        columns=SINK_STATS_SCHEMA.fieldNames())


def _write_checkpoint_rows(checkpoint_dir, bucket_stats, started):
    """Append one lineage row per completed salt bucket. Atomic per task:
    written to a unique file name, so concurrent tasks never collide.
    (Production: Iceberg transactional append — same rows, same schema.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    try:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        attempt = (ctx.attemptNumber() + 1) if ctx is not None else 1
    except Exception:
        attempt = 1

    n = len(bucket_stats)
    finished = datetime.now(timezone.utc)
    counts = [[int(x) for x in col] for col in zip(*bucket_stats.values())]
    columns = [list(bucket_stats), [attempt] * n, ["done"] * n, *counts,
               [started] * n, [finished] * n]
    table = pa.table(dict(zip(CHECKPOINT_SCHEMA.fieldNames(), columns)),
                     schema=to_arrow_schema(CHECKPOINT_SCHEMA))
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, f"ckpt-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, path, compression=_output_codec())


def _publish_buckets(output_dir, bucket_frames):
    """Write each salt bucket's articles to ``salt=<n>/part-<n>.parquet``:
    staged under a hidden name, then os.replace()d — atomic, so readers
    (including the resume verifier) never see partial data. Naive
    timestamps are written as UTC, the session time zone build_session
    sets, which is how Spark itself converts them on the other sink."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(ARTICLES_SCHEMA)
    sweep_horizon = time.time() - 3600
    for salt_val, frames in bucket_frames.items():
        bucket_dir = os.path.join(output_dir, f"salt={salt_val}")
        os.makedirs(bucket_dir, exist_ok=True)
        final = os.path.join(bucket_dir, f"part-{salt_val:05d}.parquet")
        # staging name MUST be dot-prefixed: Spark/parquet directory
        # listings ignore '.'/'_' files, so a kill mid-write (ENOSPC,
        # SIGKILL) leaves garbage that readers and the resume
        # verifier never see.  (A non-hidden '<final>.tmp-…' name
        # broke the 10M crawl-fetch resume: the truncated staging
        # file failed the whole output read.)  Stale tmps from dead
        # attempts are swept before this attempt writes its own —
        # but only ones older than an hour: a CONCURRENT attempt for
        # the same bucket (speculative or zombie task) may still be
        # writing its staging file, and unlinking it mid-write would
        # turn its os.replace into FileNotFoundError.  Younger tmps
        # are left alone; being dot-prefixed they are invisible to
        # readers and the resume verifier regardless.
        for stale in glob.glob(os.path.join(
                bucket_dir, f".part-{salt_val:05d}.parquet.tmp-*")):
            try:
                if os.path.getmtime(stale) < sweep_horizon:
                    os.remove(stale)
            except OSError:
                pass
        tmp = os.path.join(
            bucket_dir,
            f".part-{salt_val:05d}.parquet.tmp-{uuid.uuid4().hex}")
        table = pa.Table.from_pandas(pd.concat(frames, ignore_index=True),
                                     schema=schema, preserve_index=False)
        pq.write_table(table, tmp, compression=_output_codec())
        os.replace(tmp, final)  # atomic publish


def with_salt(pages: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    """Deterministic skew-defusing salt: pmod(xxhash64(url), n_buckets)."""
    return pages.withColumn("salt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)))


def default_extract_partitions(spark, n_buckets: int) -> int:
    """Default extraction partition count (r7, measured — guide §1.1).

    The r7 straggler hypothesis (per-doc cost varies ~20x on real
    pages, so 4x tasks-per-core should smooth the tail) was MEASURED
    AND REJECTED on this host: every Python-boundary task pays ~13 ms
    of serialized per-task protocol cost (mapInPandas identity over
    5000 rows: 0.74 s at 32 tasks, 2.04 s at 128, 4.7 s at 512, while
    the JVM-only twin is flat at 0.26 s — worker reuse confirmed
    active, so it is per-task handshake, not fork).  Finer partitions
    therefore LOSE below ~100 docs/task: the interleaved A/B measured
    32 partitions beating 128 by ~2x on all three extraction benches.
    The default stays the session's shuffle-partition setting, capped
    at ``n_buckets`` (the salt has only that many distinct values, so
    extra partitions sit empty), and never below one task per core."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    par = max(1, spark.sparkContext.defaultParallelism)
    return max(1, min(int(n_buckets), max(shuffle, par)))


def completed_buckets(spark, checkpoint_dir: str,
                      verify_output_dir: str | None = None,
                      n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame | None:
    """Salt buckets safe to skip on resume.

    With `verify_output_dir`, a bucket only counts as done if the articles
    actually present in the output agree with the checkpoint's rows_out —
    closing the failure window where a task wrote its lineage row but died
    before its output committed. The bucket is recomputed from the output's
    url column (xxhash64 is deterministic), so no schema change is needed.
    (Iceberg: both writes share one transaction and this check is free.)"""
    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return None
    try:
        ckpt = spark.read.schema(CHECKPOINT_SCHEMA).parquet(checkpoint_dir)
    except Exception:
        return None
    # max (not sum) per partition_key: retried/speculative attempts append
    # duplicate 'done' rows for the same bucket; summing would inflate
    # rows_out and break the verify comparison
    done = (
        ckpt.where(F.col("status") == "done")
        .groupBy(F.col("partition_key").cast("long").alias("salt"))
        .agg(F.max("rows_out").alias("rows_out"))
    )
    if not verify_output_dir:
        return done.select("salt")
    try:
        out = spark.read.parquet(verify_output_dir)
    except Exception:
        # no output at all -> nothing is truly done
        return None
    actual = (
        out.where(F.col("error").isNull())
        .groupBy(F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).alias("salt"))
        .agg(F.count("*").alias("actual_rows"))
    )
    # LEFT join: a bucket whose every page errored has rows_out == 0 and
    # no output rows at all — an inner join would drop it from `done`,
    # re-extracting it (and re-appending its error rows) on EVERY resume
    return (
        done.join(actual, "salt", "left")
        .where(F.col("rows_out") == F.coalesce(F.col("actual_rows"), F.lit(0)))
        .select("salt")
    )


def extraction_stage(pages: DataFrame, checkpoint_dir: str | None = None,
                     sink_dir: str | None = None) -> DataFrame:
    """The partition-local extraction stage over (url, warc_ts, html[,
    salt]) rows: one mapInPandas running the make_extractor task loop,
    with no exchange of its own. Its rows are ARTICLES_SCHEMA, or the
    atomic sink's per-bucket stats (SINK_STATS_SCHEMA) with ``sink_dir``."""
    schema = SINK_STATS_SCHEMA if sink_dir else ARTICLES_SCHEMA
    return pages.mapInPandas(make_extractor(checkpoint_dir, sink_dir),
                             schema=schema)


def _extraction_plan(pages, n_buckets, num_partitions, checkpoint_dir,
                     resume, verify_output_dir, sink_dir=None) -> DataFrame:
    """The one extraction plan, behind extract_pages and
    run_extraction_job_atomic:

    pages → select(url, warc_ts, html)          # column pruning to the scan
          → withColumn(salt, pmod(xxhash64(url), B))
          → [left_anti join completed buckets]  # resume (broadcast — tiny)
          → repartition(P, key)                 # the one shuffle; defuses skew
          → extraction_stage                    # partition-local, Arrow batches

    The key is ``salt`` when each bucket must stay in one task — there is
    a checkpoint (it marks whole buckets done, so a bucket split across
    tasks could be half-recorded as complete) or the sink is the atomic
    one (one file per bucket). Otherwise it is ``xxhash64(url)``: n_buckets
    salt values hashed into P partitions leave measured row-count
    imbalance (guide §2.5: use 20-100x more distinct keys than partitions;
    at n_buckets/P = 8 the per-task row counts ranged 15-69 around a mean
    of 31 on the fixture bench, max task 1.8s vs 0.97s mean), while the
    full-width hash spreads counts multinomially and stays retry-safe."""
    spark = pages.sparkSession
    df = with_salt(pages.select("url", "warc_ts", "html"), n_buckets)

    if resume and checkpoint_dir:
        done = completed_buckets(spark, checkpoint_dir,
                                 verify_output_dir=verify_output_dir,
                                 n_buckets=n_buckets)
        if done is not None:
            df = df.join(F.broadcast(done), "salt", "left_anti")

    if num_partitions is None:
        num_partitions = default_extract_partitions(spark, n_buckets)
    whole_buckets = bool(checkpoint_dir or sink_dir)
    key = F.col("salt") if whole_buckets else F.xxhash64(F.col("url"))
    return extraction_stage(df.repartition(num_partitions, key),
                            checkpoint_dir, sink_dir)


def extract_pages(
    pages: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    verify_output_dir: str | None = None,
) -> DataFrame:
    """Extract every page to an ARTICLES_SCHEMA row through the extraction
    plan (_extraction_plan); with ``checkpoint_dir`` each task also
    appends lineage rows and, with ``resume``, completed buckets are
    skipped (verified against ``verify_output_dir`` when given)."""
    return _extraction_plan(pages, n_buckets, num_partitions, checkpoint_dir,
                            resume, verify_output_dir)


def run_extraction_job_atomic(
    pages: DataFrame,
    output_dir: str,
    checkpoint_dir: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    num_partitions: int | None = None,
    resume: bool = True,
) -> int:
    """Task-committed variant of run_extraction_job: bucket data files
    publish atomically DURING the job, so a mid-job kill resumes at
    bucket granularity instead of redoing all uncommitted work (the
    plain-filesystem limit of the Spark-committer path, documented in
    BENCH/BASELINE.md round 3). This is the shape an Iceberg sink gives
    for free; here the atomicity unit is one bucket file + rename.

    The properties that make mid-job resume REAL on a plain filesystem
    (Spark's own committer only exposes output at job commit, so a
    mid-job kill loses everything):

    * each bucket's data file is staged and renamed into place, so
      readers never see partial data (_publish_buckets);
    * the file name is DETERMINISTIC per bucket and the salt-keyed
      exchange puts each bucket in exactly one task, so a retried /
      speculative / resumed task overwrites its own bucket instead of
      duplicating it — the write is idempotent;
    * the checkpoint lineage row lands strictly AFTER the bucket's data
      rename: a crash between the two leaves an orphan data file that
      the next attempt simply overwrites, never a 'done' row without
      visible data (the silent-loss window the verifier guards).

    Returns the number of buckets written this run (0 on a no-op
    resume)."""
    stats = _extraction_plan(pages, n_buckets, num_partitions, checkpoint_dir,
                             resume, verify_output_dir=output_dir,
                             sink_dir=output_dir)
    os.makedirs(output_dir, exist_ok=True)
    return stats.count()


def _is_remote_uri(path: str) -> bool:
    """True for scheme-qualified non-local paths (hdfs://, s3a://, ...).
    file:// and plain paths are local."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    return scheme not in ("", "file")


def run_extraction_job(
    pages: DataFrame,
    output_dir: str,
    checkpoint_dir: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    num_partitions: int | None = None,
    resume: bool = True,
    verify_output: bool = True,
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """Batch job: extract and append to a parquet (or Iceberg) articles table.

    `partition_by` (e.g. ("lang",)) hive-partitions the output — at 100 TB
    the downstream curation filters (language, crawl slice) then prune
    whole directories instead of scanning; resume verification reads the
    partitioned layout transparently.

    Resume verifies buckets against the actual output by default: the
    checkpoint lineage rows are written by the task OUTSIDE Spark's
    output-commit protocol, so a job that dies after the ckpt file lands
    but before the parquet commit would otherwise mark buckets 'done'
    whose rows were never written — a silent-data-loss window."""
    # A job killed mid-write leaves task-committed files under the
    # output's _temporary/ staging dir; the NEXT append job's commit
    # adopts them as its own output and duplicates every row the dead
    # job had task-committed (observed at the 1M kill+restart probe:
    # 1.68M rows for 1M urls). Iceberg's transactional commit makes
    # this moot; on a plain filesystem the stale staging dir must not
    # survive into the next attempt. Safe because one extraction job
    # owns an output dir at a time (the resume design's premise) — if
    # that premise is ever violated (two concurrent jobs appending to
    # one dir), this would delete the live job's staging; the loud log
    # below is the audit trail. The os.path/shutil cleanup only works
    # for LOCAL-filesystem outputs: for hdfs:///s3a:// URIs isdir() is
    # simply False and the hazard remains — those deployments must use
    # run_extraction_job_atomic (task-committed sink) or an Iceberg
    # table, whose commit protocols don't have the adoption bug.
    if not _is_remote_uri(output_dir):
        stale_staging = os.path.join(output_dir, "_temporary")
        if os.path.isdir(stale_staging):
            import logging
            import shutil

            logging.getLogger(__name__).warning(
                "run_extraction_job: removing stale staging dir %s left by a "
                "previous dead attempt (rows under it were task-committed but "
                "never job-committed; adopting them would duplicate output). "
                "If another extraction job is CURRENTLY writing to %s, this "
                "removal just broke it — one job owns an output dir at a time.",
                stale_staging, output_dir,
            )
            shutil.rmtree(stale_staging, ignore_errors=True)

    articles = extract_pages(
        pages,
        n_buckets=n_buckets,
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        verify_output_dir=output_dir if verify_output else None,
    )
    writer = articles.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(output_dir)
