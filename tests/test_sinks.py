"""Both extraction sinks write the same articles table: the Spark-committer
job (run_extraction_job) and the atomic task-committed sink
(run_extraction_job_atomic) read back as ARTICLES_SCHEMA with the same
values per url, and directories from the earlier tz-naive file layout
still read and resume."""

import glob
import os


def _to_tz_naive_layout(path):
    """Rewrite one parquet file the way the task-side writers used to lay
    it out: every timestamp column tz-naive (Spark reads it back as
    timestamp_ntz), every field nullable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.ParquetFile(path).read()
    old = pa.schema([
        pa.field(f.name, pa.timestamp("us") if pa.types.is_timestamp(f.type)
                 else f.type)
        for f in table.schema
    ])
    pq.write_table(table.cast(old), path)


def test_sinks_read_back_articles_schema_and_resume_old_layout(spark, tmp_path):
    from go_readability_spark.plans import run_extraction_job, run_extraction_job_atomic
    from go_readability_spark.plans.schema import ARTICLES_SCHEMA, PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    # the pipeline's sessions run in UTC (plans/session.py build_session)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        pages = spark.createDataFrame(synth_corpus_rows(24, seed=9, skew=True),
                                      schema=PAGES_SCHEMA)
        job_out, job_ck = str(tmp_path / "job"), str(tmp_path / "job_ck")
        atomic_out, atomic_ck = str(tmp_path / "atomic"), str(tmp_path / "atomic_ck")
        kw = dict(n_buckets=8, num_partitions=4)
        run_extraction_job(pages, job_out, job_ck, **kw)
        assert run_extraction_job_atomic(pages, atomic_out, atomic_ck, **kw) > 0

        want = [(f.name, f.dataType) for f in ARTICLES_SCHEMA.fields]
        cols = ARTICLES_SCHEMA.fieldNames()

        def read_back(path):
            df = spark.read.parquet(path)
            got = [(f.name, f.dataType) for f in df.drop("salt").schema.fields]
            assert got == want, df.schema.simpleString()
            return {r["url"]: tuple(r) for r in df.select(*cols).collect()}

        job, atomic = read_back(job_out), read_back(atomic_out)
        assert len(job) == 24
        assert any(row[cols.index("published_time")] for row in job.values())
        assert job == atomic

        # both checkpoints and the atomic bucket files in the old layout
        bucket_files = sorted(glob.glob(os.path.join(atomic_out, "salt=*", "*.parquet")))
        for path in [*glob.glob(os.path.join(job_ck, "*.parquet")),
                     *glob.glob(os.path.join(atomic_ck, "*.parquet")),
                     *bucket_files]:
            _to_tz_naive_layout(path)
        old = spark.read.parquet(atomic_out)
        assert dict(old.dtypes)["warc_ts"] == "timestamp_ntz"
        assert sorted(r["url"] for r in old.select("url").collect()) == sorted(atomic)
        mtimes = {f: os.path.getmtime(f) for f in bucket_files}

        # resume over the old layout is a no-op on both sinks
        assert run_extraction_job_atomic(pages, atomic_out, atomic_ck, **kw) == 0
        assert {f: os.path.getmtime(f) for f in bucket_files} == mtimes
        run_extraction_job(pages, job_out, job_ck, **kw)
        assert spark.read.parquet(job_out).count() == 24
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
