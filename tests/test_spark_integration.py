"""Spark integration tests: distributed results == pure-layer results
byte-for-byte, checkpoint/resume idempotency, operator determinism."""

import os
import shutil
import tempfile

import pytest

from webpeel_spark.sources.corpus import generate_rows

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from webpeel_spark.session import get_spark

    s = get_spark("webpeel-tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = generate_rows(120, seed=42)
    data = [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).cache()


def _jobs_run_by(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted under a job
    group once the listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


_LINEAGE_COLS = ("url_hash_min", "url_hash_max", "row_count", "ok_count",
                 "error_count", "token_sum", "content_bytes",
                 "quality_bp_sum", "first_error")


def _assert_progress_equals_readback(spark, out_dir, num_buckets):
    """Every bucket's progress row (without ``completed_at_ts``) equals
    an aggregate read back from the committed output; a bucket with no
    committed rows has the zero-row progress row."""
    from pyspark.sql import functions as F

    from webpeel_spark.plans.checkpoint import read_progress

    progress = read_progress(spark, out_dir).select(
        "bucket", *_LINEAGE_COLS).collect()
    got = {r["bucket"]: tuple(r)[1:] for r in progress}
    assert len(progress) == len(got) == num_buckets
    want = {b: (None, None, 0, 0, 0, 0, 0, 0, None)
            for b in range(num_buckets)}
    data_dir = os.path.join(out_dir, "data")
    if os.path.isdir(data_dir) and any(
            name.startswith("bucket=") for name in os.listdir(data_dir)):
        error = F.col("status") == "error"
        for r in spark.read.parquet(data_dir).groupBy("bucket").agg(
                F.min(F.xxhash64("url")), F.max(F.xxhash64("url")),
                F.count("*"), F.count(F.when(F.col("status") == "ok", 1)),
                F.count(F.when(error, 1)), F.sum("token_estimate"),
                F.sum("content_len"),
                F.sum(F.round(F.col("quality") * 100, 0).cast("long")),
                F.min(F.when(error, F.concat_ws(" @ ", "error", "url")))
        ).collect():
            want[r["bucket"]] = tuple(r)[1:]
    assert got == want
    return got


def _assert_same_commit(spark, clean_dir, other_dir):
    """Both directories hold the same progress table up to commit
    timestamps, and the same output rows (url → fingerprint)."""
    from webpeel_spark.plans.checkpoint import read_progress

    def progress(d):
        table = read_progress(spark, d)
        cols = [c for c in table.columns if c != "completed_at_ts"]
        return {tuple(r) for r in table.select(*cols).collect()}

    def data(d):
        return {(r["url"], r["fingerprint"]) for r in spark.read
                .parquet(os.path.join(d, "data"))
                .select("url", "fingerprint").collect()}

    assert progress(other_dir) == progress(clean_dir)
    assert data(other_dir) == data(clean_dir)


class TestExtractOperator:
    def test_distributed_equals_local(self, spark, pages_df):
        """The mapInPandas stage must produce exactly what the pure layer
        produces per row — the vectorization is transparent."""
        from webpeel_spark.operators.extract import extract_pages
        from webpeel_spark.pure.pipeline import extract_page

        out = extract_pages(pages_df, num_partitions=4)
        got = {r["url"]: (r["fingerprint"], r["status"], r["word_count"])
               for r in out.collect()}

        rows = generate_rows(120, seed=42)
        assert len(got) == len(rows)
        for row in rows:
            local = extract_page(row["url"], row["html"])
            assert got[row["url"]] == (
                local["fingerprint"], local["status"], local["word_count"]
            ), f"distributed != local for {row['url']}"

    def test_schema_stable(self, spark, pages_df):
        from webpeel_spark.operators.extract import EXTRACT_SCHEMA, extract_pages

        out = extract_pages(pages_df.limit(5))
        assert out.schema == EXTRACT_SCHEMA

    def test_error_isolation(self, spark):
        """A row that breaks mid-pipeline yields an error row, not a task
        failure (truncated PDF magic → parse error)."""
        from webpeel_spark.operators.extract import extract_pages

        df = spark.createDataFrame(
            [("https://x.com/broken.pdf", b"%PDF-1.4 garbage with no structure")],
            "url string, html binary",
        )
        rows = extract_pages(df).collect()
        assert len(rows) == 1
        assert rows[0]["status"] in ("ok", "error")  # never raises


class TestCheckpoint:
    def test_resume_skips_completed(self, spark, pages_df):
        from webpeel_spark.plans.checkpoint import (
            completed_buckets, run_extraction_checkpointed,
        )

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_")
        try:
            s1 = run_extraction_checkpointed(
                spark, pages_df, out_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=2,
            )
            assert sorted(s1["processed_buckets"]) == [0, 1, 2, 3]
            assert s1["rows"] == 120
            assert completed_buckets(spark, out_dir, "r1") == [0, 1, 2, 3]

            # second run: everything already done → no work
            s2 = run_extraction_checkpointed(
                spark, pages_df, out_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=2,
            )
            assert s2["processed_buckets"] == []
            assert s2["skipped_buckets"] == [0, 1, 2, 3]

            # output parquet holds each url exactly once (idempotent)
            data = spark.read.parquet(os.path.join(out_dir, "data"))
            assert data.count() == 120
            assert data.select("url").distinct().count() == 120
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_changed_input_snapshot_reextracts(self, spark, pages_df):
        """Re-submitting the same run_id against a CHANGED input must not
        silently skip buckets extracted from the old snapshot (mixed
        lineage); they are reported stale and re-extracted."""
        from webpeel_spark.plans.checkpoint import run_extraction_checkpointed

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_snap_")
        try:
            run_extraction_checkpointed(
                spark, pages_df, out_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=4,
                input_snapshot_id="snap-A",
            )
            s2 = run_extraction_checkpointed(
                spark, pages_df.limit(60), out_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=4,
                input_snapshot_id="snap-B",
            )
            assert s2["stale_snapshot_buckets"] == [0, 1, 2, 3]
            assert s2["skipped_buckets"] == []
            assert sorted(s2["processed_buckets"]) == [0, 1, 2, 3]
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)


class TestCheckpointCrashConsistency:
    """The crash-consistency half of the north rule ("resumes
    idempotently"): a run killed between commit groups, then resumed,
    must leave EXACTLY the progress table and output an uninterrupted
    run leaves."""

    def test_crash_mid_run_then_resume_matches_uninterrupted(
            self, spark, pages_df, monkeypatch):
        import webpeel_spark.plans.checkpoint as ckpt

        clean_dir = tempfile.mkdtemp(prefix="wp_ckpt_clean_")
        crash_dir = tempfile.mkdtemp(prefix="wp_ckpt_crash_")
        try:
            s_clean = ckpt.run_extraction_checkpointed(
                spark, pages_df, clean_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=1,
                input_snapshot_id="snap-A",
            )
            assert s_clean["rows"] == 120

            # crash after the 2nd commit group (4 groups of 1 bucket):
            # each group builds its extraction batch function once
            real_make = ckpt._make_extract_fn
            calls = {"n": 0}

            def dying_make(options_tuple):
                calls["n"] += 1
                if calls["n"] == 3:
                    raise RuntimeError("simulated executor crash")
                return real_make(options_tuple)

            monkeypatch.setattr(ckpt, "_make_extract_fn", dying_make)
            with pytest.raises(RuntimeError, match="simulated executor crash"):
                ckpt.run_extraction_checkpointed(
                    spark, pages_df, crash_dir, run_id="r1",
                    num_buckets=4, buckets_per_commit=1,
                    input_snapshot_id="snap-A",
                )
            monkeypatch.setattr(ckpt, "_make_extract_fn", real_make)

            # exactly the two committed buckets survive the crash
            done = ckpt.completed_buckets(spark, crash_dir, "r1", "snap-A")
            assert len(done) == 2

            s_resume = ckpt.run_extraction_checkpointed(
                spark, pages_df, crash_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=1,
                input_snapshot_id="snap-A",
            )
            assert sorted(s_resume["skipped_buckets"]) == done
            assert sorted(done + s_resume["processed_buckets"]) == [0, 1, 2, 3]
            _assert_same_commit(spark, clean_dir, crash_dir)
        finally:
            shutil.rmtree(clean_dir, ignore_errors=True)
            shutil.rmtree(crash_dir, ignore_errors=True)

    def test_crash_between_data_write_and_progress_commit(
            self, spark, pages_df, monkeypatch):
        """A crash after a group's data write, before its progress file
        is renamed into place, leaves a ``_tmp-`` file that no reader
        sees; the resume re-extracts that group."""
        import glob

        import webpeel_spark.plans.checkpoint as ckpt

        kwargs = dict(num_buckets=4, buckets_per_commit=2,
                      input_snapshot_id="snap-A")
        clean_dir = tempfile.mkdtemp(prefix="wp_ckpt_clean_")
        crash_dir = tempfile.mkdtemp(prefix="wp_ckpt_kill_")
        try:
            ckpt.run_extraction_checkpointed(
                spark, pages_df, clean_dir, "r1", **kwargs)

            real_rename = ckpt._rename
            calls = {"n": 0}

            def dying_rename(fs, src, dst):
                calls["n"] += 1
                if calls["n"] == 2:  # the second group's progress file
                    raise RuntimeError("simulated crash before rename")
                real_rename(fs, src, dst)

            monkeypatch.setattr(ckpt, "_rename", dying_rename)
            with pytest.raises(RuntimeError, match="crash before rename"):
                ckpt.run_extraction_checkpointed(
                    spark, pages_df, crash_dir, "r1", **kwargs)
            monkeypatch.setattr(ckpt, "_rename", real_rename)

            progress_dir = ckpt._progress_path(crash_dir)
            assert len(glob.glob(os.path.join(progress_dir, "_tmp-*.parquet"))) == 1
            data_dir = os.path.join(crash_dir, "data")
            assert {"bucket=2", "bucket=3"} <= set(os.listdir(data_dir))
            assert ckpt.read_progress(spark, crash_dir).count() == 2
            assert ckpt.completed_buckets(
                spark, crash_dir, "r1", "snap-A") == [0, 1]

            s = ckpt.run_extraction_checkpointed(
                spark, pages_df, crash_dir, "r1", **kwargs)
            assert s["skipped_buckets"] == [0, 1]
            assert s["processed_buckets"] == [2, 3]
            assert len(glob.glob(os.path.join(progress_dir, "_tmp-*.parquet"))) == 1
            _assert_same_commit(spark, clean_dir, crash_dir)
        finally:
            shutil.rmtree(clean_dir, ignore_errors=True)
            shutil.rmtree(crash_dir, ignore_errors=True)

    def test_crash_between_data_file_moves(self, spark, pages_df,
                                           monkeypatch):
        """A crash after the first of the second group's file moves
        leaves the data directory readable and that group without
        progress; the resume re-extracts it, removes the crashed
        group's staging directory and equals an uninterrupted run."""
        import glob

        import webpeel_spark.plans.checkpoint as ckpt

        kwargs = dict(num_buckets=4, buckets_per_commit=2,
                      input_snapshot_id="snap-A")
        clean_dir = tempfile.mkdtemp(prefix="wp_ckpt_clean_")
        crash_dir = tempfile.mkdtemp(prefix="wp_ckpt_move_")
        try:
            ckpt.run_extraction_checkpointed(
                spark, pages_df, clean_dir, "r1", **kwargs)

            real_move = ckpt._move
            second_group = []

            def dying_move(fs, src, dst):
                if "/bucket=2/" in dst or "/bucket=3/" in dst:
                    second_group.append(dst)
                    if len(second_group) == 2:
                        raise RuntimeError("simulated crash between moves")
                real_move(fs, src, dst)

            monkeypatch.setattr(ckpt, "_move", dying_move)
            with pytest.raises(RuntimeError, match="crash between moves"):
                ckpt.run_extraction_checkpointed(
                    spark, pages_df, crash_dir, "r1", **kwargs)
            monkeypatch.setattr(ckpt, "_move", real_move)

            data_dir = os.path.join(crash_dir, "data")
            staging = glob.glob(os.path.join(data_dir, "_staging-*"))
            assert len(staging) == 1 and glob.glob(
                os.path.join(staging[0], "bucket=*", "*.parquet"))
            committed = spark.read.parquet(data_dir)
            urls = [r["url"] for r in committed.select("url").collect()]
            assert len(urls) == len(set(urls)) > 0
            assert ckpt.completed_buckets(
                spark, crash_dir, "r1", "snap-A") == [0, 1]

            s = ckpt.run_extraction_checkpointed(
                spark, pages_df, crash_dir, "r1", **kwargs)
            assert s["processed_buckets"] == [2, 3]
            assert not glob.glob(os.path.join(data_dir, "_staging-*"))
            assert spark.read.parquet(data_dir).count() == 120
            _assert_same_commit(spark, clean_dir, crash_dir)
        finally:
            shutil.rmtree(clean_dir, ignore_errors=True)
            shutil.rmtree(crash_dir, ignore_errors=True)

    def test_transient_error_retried_and_clean(self, spark, pages_df,
                                               monkeypatch):
        """retry_on_error=1: a transient status='error' row on the first
        attempt of a group is re-extracted; the committed progress table
        shows a clean run (the round-7 checkpoint_lineage guard)."""
        import webpeel_spark.plans.checkpoint as ckpt

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_retry_")
        real_make = ckpt._make_extract_fn
        victim = pages_df.select("url").orderBy("url").first()["url"]
        calls = {"n": 0}

        def flaky_make(options_tuple):
            calls["n"] += 1
            extract = real_make(options_tuple)
            if calls["n"] > 1:
                return extract

            def inject(batches):  # first attempt only: one error row
                for out in extract(batches):
                    hit = out["url"] == victim
                    out.loc[hit, "status"] = "error"
                    out.loc[hit, "error"] = "injected transient"
                    yield out
            return inject

        try:
            monkeypatch.setattr(ckpt, "_make_extract_fn", flaky_make)
            s = ckpt.run_extraction_checkpointed(
                spark, pages_df, out_dir, run_id="r1",
                num_buckets=2, buckets_per_commit=2, retry_on_error=1,
            )
            assert calls["n"] == 2  # one retry happened
            assert s["errors"] == 0
            progress = ckpt.read_progress(spark, out_dir)
            rows = progress.collect()
            assert all(r["error_count"] == 0 for r in rows)
            assert all(r["first_error"] is None for r in rows)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_persistent_error_lands_in_first_error(self, spark):
        """Without retries, a genuinely-broken document's message+url is
        recorded per bucket — never a bare count."""
        from webpeel_spark.plans.checkpoint import (
            read_progress, run_extraction_checkpointed,
        )

        df = spark.createDataFrame(
            [("https://x.com/broken.docx",
              b"PK\x03\x04 not a real zip file at all"),
             ("https://x.com/fine.html",
              b"<html><body><p>hello world page</p></body></html>")],
            "url string, html binary",
        )
        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_err_")
        try:
            run_extraction_checkpointed(
                spark, df, out_dir, run_id="r1",
                num_buckets=1, buckets_per_commit=1,
            )
            row = read_progress(spark, out_dir).collect()[0]
            assert row["error_count"] == 1
            assert row["first_error"] is not None
            assert "https://x.com/broken.docx" in row["first_error"]
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)


class TestDedupOperators:
    def test_exact_dedup_keeps_one(self, spark):
        from webpeel_spark.operators.dedup import exact_duplicate_groups

        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other text")],
            "doc_id long, text string",
        )
        groups = exact_duplicate_groups(df).collect()
        assert len(groups) == 1 and groups[0]["dup_count"] == 2
        assert groups[0]["doc_ids"] == [1, 2]
        assert groups[0]["omitted_ids"] == 0

    def test_minhash_finds_planted_near_dup(self, spark):
        from webpeel_spark.operators.dedup import minhash_near_duplicates

        base = ("the quick brown fox jumps over the lazy dog while the sun "
                "shines bright over the green hills and the river runs south")
        near = base.replace("bright", "brightly")
        far = "completely different words about spark partitions and shuffles here"
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], "doc_id long, text string"
        )
        pairs = minhash_near_duplicates(df, min_jaccard=0.5).collect()
        assert any(p["id_a"] == 1 and p["id_b"] == 2 for p in pairs)
        assert not any(3 in (p["id_a"], p["id_b"]) for p in pairs)

    def test_simhash_deterministic(self, spark):
        from webpeel_spark.operators.dedup import simhash_signatures

        df = spark.createDataFrame([(1, "hello world text")], "doc_id long, text string")
        a = simhash_signatures(df).collect()[0]["simhash"]
        b = simhash_signatures(df).collect()[0]["simhash"]
        assert a == b != 0


class TestSimilarity:
    def test_exact_topk_self_first(self, spark):
        from webpeel_spark.operators.similarity import cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id = 0").first()["embedding"]
        top = cosine_topk(emb, q, k=3).collect()
        assert top[0]["vec_id"] == 0
        assert top[0]["cosine"] == 1.0
        assert top[0]["cosine"] >= top[1]["cosine"] >= top[2]["cosine"]

    def test_lsh_contains_query(self, spark):
        from webpeel_spark.operators.similarity import srp_lsh_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id = 0").first()["embedding"]
        top = srp_lsh_topk(emb, q, k=3, bits=6)
        ids = [r["vec_id"] for r in top.collect()]
        assert ids[0] == 0  # query's own bucket always contains it


class TestSaltedAgg:
    def test_salted_equals_plain(self, spark, pages_df):
        """Skew-safe two-stage agg must equal the naive groupBy."""
        from pyspark.sql import functions as F

        from webpeel_spark.plans.partitioning import (
            find_hot_hosts, salted_host_agg, url_host,
        )

        hot = find_hot_hosts(pages_df, threshold_fraction=0.05)
        assert hot  # Zipf corpus has hot hosts
        salted = {
            (r["host"]): (r["docs"], r["bytes"])
            for r in salted_host_agg(
                pages_df,
                {"docs": ("count", "*"), "bytes": ("sum", F.length("html"))},
                hot,
            ).collect()
        }
        plain = {
            r["host"]: (r["docs"], r["bytes"])
            for r in pages_df.groupBy(url_host().alias("host"))
            .agg(F.count("*").alias("docs"), F.sum(F.length("html")).alias("bytes"))
            .collect()
        }
        assert salted == plain


class TestExplainPlans:
    def test_column_pruning_reaches_scan(self, spark, tmp_path):
        """Parquet scan under the extraction stage must read only url+html."""
        import re

        from webpeel_spark.operators.extract import extract_pages

        rows = generate_rows(20, seed=1)
        data = [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows]
        p = str(tmp_path / "pages.parquet")
        spark.createDataFrame(
            data, "url string, warc_ts timestamp, html binary, text string, lang string"
        ).write.parquet(p)

        df = spark.read.parquet(p)
        plan = extract_pages(df)._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"ReadSchema: ([^\n]+)", plan)
        assert m, plan
        assert "url" in m.group(1) and "html" in m.group(1)
        assert "warc_ts" not in m.group(1) and "lang" not in m.group(1)


class TestDeterministicAvg:
    """The lineage/rollup averages must be invariant to partitioning —
    round(avg(double), 4) was not (round-4 driver red at 32 cores,
    green at local[8]); deterministic_avg aggregates exact integers."""

    # 7×0.87 + 1×0.88: centisum 697 → 697·100/8 = 8712.5 basis points,
    # exactly ON the rounding boundary that avg(double) flips across
    BOUNDARY = [0.87] * 7 + [0.88]

    def test_partition_invariant(self, spark):
        from webpeel_spark.operators.extract import deterministic_avg

        F = pyspark.sql.functions
        vals = self.BOUNDARY * 3 + [0.13, 0.29, 0.41, 0.57] * 25
        rows = [(i % 3, v) for i, v in enumerate(vals)]
        results = set()
        for parts in (1, 2, 7, 32):
            df = spark.createDataFrame(
                rows, "g int, quality double").repartition(parts)
            out = (df.groupBy("g")
                   .agg(deterministic_avg("quality").alias("aq"))
                   .orderBy("g").collect())
            results.add(tuple(r["aq"] for r in out))
        assert len(results) == 1, results

    def test_boundary_value_and_duckdb_parity(self, spark):
        """The half-boundary rounds UP on both engines (Spark HALF_UP,
        DuckDB half-away-from-zero — same for positives)."""
        import duckdb

        import __spark_entry__ as entry
        from webpeel_spark.operators.extract import deterministic_avg

        df = spark.createDataFrame([(v,) for v in self.BOUNDARY],
                                   "quality double")
        [r] = df.agg(deterministic_avg("quality").alias("aq")).collect()
        assert r["aq"] == 0.8713

        sql = (f"SELECT {entry._det_avg_sql('q', 100)} AS aq FROM "
               f"(SELECT unnest($1::DOUBLE[]) AS q)")
        got = duckdb.execute(sql, [self.BOUNDARY]).fetchone()[0]
        assert got == r["aq"]


class TestCheckpointLineageIntegrity:
    """Single-source-of-truth lineage (progress computed by the writer
    that commits the output, equal to a read-back of it), empty-bucket
    completion, stale partition cleanup, and strict progress-table
    reads."""

    def test_empty_buckets_complete_and_skip_on_resume(self, spark):
        # 1 url → 63 of 64 buckets are empty; they must still get
        # zero-row progress rows (completed), or every resume re-runs
        # a full extraction job per empty bucket forever
        from webpeel_spark.plans.checkpoint import (
            completed_buckets, run_extraction_checkpointed,
        )

        df = spark.createDataFrame(
            [("https://x.com/a", b"<html><p>one page</p></html>")],
            "url string, html binary")
        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_empty_")
        try:
            s1 = run_extraction_checkpointed(
                spark, df, out_dir, run_id="r1",
                num_buckets=64, buckets_per_commit=64,
            )
            assert len(s1["processed_buckets"]) == 64
            assert s1["rows"] == 1
            assert completed_buckets(spark, out_dir, "r1") == list(range(64))
            s2 = run_extraction_checkpointed(
                spark, df, out_dir, run_id="r1",
                num_buckets=64, buckets_per_commit=64,
            )
            assert s2["processed_buckets"] == []
            assert s2["skipped_buckets"] == list(range(64))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_stale_partition_cleared_when_bucket_empties(self, spark,
                                                         pages_df):
        # snapshot A fills every bucket; snapshot B (1 url) leaves most
        # buckets empty — their OLD partition dirs must not survive as
        # mixed-lineage output (dynamic overwrite alone never deletes a
        # partition absent from the new data)
        from webpeel_spark.plans.checkpoint import (
            run_extraction_checkpointed,
        )

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_stale_")
        try:
            run_extraction_checkpointed(
                spark, pages_df, out_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=4,
                input_snapshot_id="snap-A",
            )
            one = pages_df.limit(1)
            run_extraction_checkpointed(
                spark, one, out_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=4,
                input_snapshot_id="snap-B",
            )
            data = spark.read.parquet(os.path.join(out_dir, "data"))
            assert data.count() == 1  # ONLY snapshot-B rows remain
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_read_progress_raises_on_corrupt_table(self, spark):
        # a corrupted progress table must raise, not masquerade as a
        # fresh run and silently discard all resume state
        from webpeel_spark.plans.checkpoint import (
            _progress_path, read_progress,
        )

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_corrupt_")
        try:
            assert read_progress(spark, out_dir) is None  # missing: None
            ppath = _progress_path(out_dir)
            os.makedirs(ppath)
            with open(os.path.join(ppath, "part-0000.parquet"), "wb") as f:
                f.write(b"this is not parquet")
            with pytest.raises(Exception):
                df = read_progress(spark, out_dir)
                assert df is not None
                df.collect()  # corruption may surface at read time
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_progress_row_count_matches_committed_output(self, spark,
                                                         pages_df):
        # the lineage row is computed by the writer of the committed
        # parquet — the two cannot diverge; recompute directly and compare
        from pyspark.sql import functions as F

        from webpeel_spark.plans.checkpoint import (
            read_progress, run_extraction_checkpointed,
        )

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_src_")
        try:
            run_extraction_checkpointed(
                spark, pages_df, out_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=2,
            )
            prog = {int(r["bucket"]): (int(r["row_count"]),
                                       int(r["token_sum"]),
                                       int(r["quality_bp_sum"]))
                    for r in read_progress(spark, out_dir).collect()}
            direct = {int(r["bucket"]): (int(r["n"]), int(r["t"]),
                                         int(r["q"]))
                      for r in spark.read.parquet(
                          os.path.join(out_dir, "data"))
                      .groupBy("bucket")
                      .agg(F.count("*").alias("n"),
                           F.sum("token_estimate").alias("t"),
                           F.sum(F.round(F.col("quality") * 100, 0)
                                 .cast("long")).alias("q"))
                      .collect()}
            assert prog == direct
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_observed_lineage_equals_readback(self, spark, pages_df):
        """Mixed corpus, then with a persistent error row; the written
        columns (computed without chunks) equal a chunked extraction's."""
        from webpeel_spark.operators.extract import extract_pages
        from webpeel_spark.plans.checkpoint import run_extraction_checkpointed

        broken = spark.createDataFrame(
            [("https://x.com/broken.docx", b"PK\x03\x04 not a real zip")],
            "url string, html binary")
        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_obs_")
        try:
            first_errors = {}
            for name, pages in (
                    ("mixed", pages_df),
                    ("errors", pages_df.select("url", "html").union(broken))):
                d = os.path.join(out_dir, name)
                run_extraction_checkpointed(
                    spark, pages, d, run_id="r1",
                    num_buckets=4, buckets_per_commit=2)
                got = _assert_progress_equals_readback(spark, d, 4)
                assert sum(v[2] for v in got.values()) == pages.count()
                first_errors[name] = [v[8] for v in got.values() if v[8]]
            assert first_errors["mixed"] == []
            assert len(first_errors["errors"]) == 1
            assert first_errors["errors"][0].endswith(" @ https://x.com/broken.docx")

            chunked = extract_pages(pages_df).drop("chunks")
            written = spark.read.parquet(os.path.join(out_dir, "mixed", "data"))
            assert {r["url"]: r for r in written.select(*chunked.columns).collect()} \
                == {r["url"]: r for r in chunked.collect()}
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_observed_lineage_equals_readback_over_exchange(self, spark,
                                                            pages_df):
        """num_partitions puts an AQE exchange below the writer, which
        stays in the result stage: the writer UDF is the root of the
        final plan, above every exchange, so the collect takes exactly
        one attempt's lineage per partition."""
        from webpeel_spark.plans.checkpoint import run_extraction_checkpointed

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_obsx_")
        try:
            run_extraction_checkpointed(
                spark, pages_df, out_dir, run_id="r1",
                num_buckets=4, buckets_per_commit=2, num_partitions=3)
            # the last SQL execution is the second group's writer job
            runs = spark._jsparkSession.sharedState().statusStore() \
                .executionsList()
            final = runs.apply(runs.size() - 1).physicalPlanDescription() \
                .split("== Initial Plan ==")[0].split("\n\n")[0]
            nodes = [line.split("(")[0].strip(" +-*")
                     for line in final.splitlines()[1:]]
            # below AQE's query-stage markers
            body = [n for n in nodes[nodes.index("== Final Plan ==") + 1:]
                    if not n.endswith("QueryStage")]
            assert body[0] == "MapInPandas", final
            assert "Exchange" in body[1:], final
            _assert_progress_equals_readback(spark, out_dir, 4)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_observed_lineage_equals_readback_after_task_failure(self,
                                                                 spark):
        """A task fails its first attempt after it wrote rows to its
        staging files (own session on ``local[2,2]``: two tries per
        task); its retry commits the same lineage a read-back sees, no
        url twice, and no file of the failed attempt."""
        import glob
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = """
import os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
import webpeel_spark.plans.checkpoint as ckpt
from webpeel_spark.sources.corpus import generate_rows

spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
real_make = ckpt._make_extract_fn
failed_dir = sys.argv[2]

def flaky_make(options_tuple):
    extract = real_make(options_tuple)

    def fail_first_attempt(batches):
        ctx = TaskContext.get()
        for i, pdf in enumerate(extract(batches)):
            if i == 2 and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                open(os.path.join(failed_dir, str(ctx.taskAttemptId())), "w").close()
                raise RuntimeError("injected first-attempt failure")
            yield pdf
    return fail_first_attempt

ckpt._make_extract_fn = flaky_make
rows = generate_rows(120, seed=42)
pages = spark.createDataFrame([(r["url"], r["html"]) for r in rows],
                              "url string, html binary")
sc = spark.sparkContext
sc.setJobGroup("ckpt", "ckpt")
ckpt.run_extraction_checkpointed(spark, pages, sys.argv[1], "r1",
                                 num_buckets=4, buckets_per_commit=2)
sc._jsc.sc().listenerBus().waitUntilEmpty()
tracker = sc.statusTracker()
print("failed tasks:", sum(
    tracker.getStageInfo(stage).numFailedTasks
    for job in tracker.getJobIdsForGroup("ckpt")
    for stage in tracker.getJobInfo(job).stageIds))
spark.stop()
"""
        root = tempfile.mkdtemp(prefix="wp_ckpt_retry_task_")
        out_dir, failed_dir = (os.path.join(root, d) for d in ("out", "failed"))
        os.makedirs(failed_dir)
        try:
            proc = subprocess.run(
                [sys.executable, "-c", script, out_dir, failed_dir], cwd=repo,
                capture_output=True, text=True, timeout=600,
                env={**os.environ, "PYTHONPATH": repo})
            assert proc.returncode == 0, proc.stderr[-3000:]
            # one failed first attempt per commit group
            assert "failed tasks: 2" in proc.stdout, proc.stdout
            got = _assert_progress_equals_readback(spark, out_dir, 4)
            assert sum(v[2] for v in got.values()) == 120
            data = spark.read.parquet(os.path.join(out_dir, "data"))
            assert data.select("url").distinct().count() == 120
            failed = os.listdir(failed_dir)
            committed = {os.path.basename(f) for f in glob.glob(
                os.path.join(out_dir, "data", "*", "*"))}
            assert len(failed) == 2
            assert not committed & {f"part-{t}.parquet" for t in failed}
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def test_quality_bp_matches_spark_round(self, spark):
        """The writer's per-row ``quality_bp`` (HALF_UP of the exact
        double ``quality*100``) equals Spark's
        ``CAST(round(quality * 100, 0) AS BIGINT)``: on the golden
        corpus's qualities, on k/200 for k = 0..200, and on the
        neighbours of every .5 tie, both of the quality and of the
        product."""
        import json
        import math

        from tests.golden_tools import GOLDEN_PATH
        from webpeel_spark.plans.checkpoint import _quality_bp

        with open(GOLDEN_PATH) as f:
            qualities = {r["quality"] for r in json.load(f).values()}
        qualities |= {k / 200 for k in range(201)}
        for k in range(100):
            tie = k + 0.5
            for q in (tie / 100, *(math.nextafter(tie, d) / 100
                                   for d in (-math.inf, math.inf))):
                qualities |= {q, math.nextafter(q, -math.inf),
                              math.nextafter(q, math.inf)}
        got = {q: _quality_bp(q) for q in qualities}
        want = {r["q"]: r["bp"] for r in spark.createDataFrame(
            [(q,) for q in qualities], "q double").selectExpr(
                "q", "CAST(round(q * 100, 0) AS BIGINT) AS bp").collect()}
        assert got == want
        # the tie neighbours round to both sides
        assert {got[math.nextafter(0.125, d)] for d in (-1, 2)} == {12, 13}

    def test_all_empty_group_commits_zero_rows(self, spark):
        """An all-empty group, from in-memory and from file-backed
        input, commits zero-row progress rows and does not block."""
        import threading

        from webpeel_spark.plans.checkpoint import run_extraction_checkpointed

        schema = "url string, html binary"
        root = tempfile.mkdtemp(prefix="wp_ckpt_allempty_")
        try:
            src = os.path.join(root, "in")
            spark.createDataFrame([], schema).write.parquet(src)
            inputs = {"memory": spark.createDataFrame([], schema),
                      "file": spark.read.schema(schema).parquet(src)}
            for name, pages in inputs.items():
                d = os.path.join(root, name)
                box = {}
                run = threading.Thread(daemon=True, target=lambda: box.update(
                    summary=run_extraction_checkpointed(
                        spark, pages, d, run_id="r1",
                        num_buckets=4, buckets_per_commit=2)))
                run.start()
                run.join(300)
                assert not run.is_alive(), f"{name}: commit still blocked"
                assert box["summary"]["processed_buckets"] == [0, 1, 2, 3]
                assert box["summary"]["rows"] == 0
                _assert_progress_equals_readback(spark, d, 4)
        finally:
            shutil.rmtree(root, ignore_errors=True)


def test_per_page_udtf_isolates_row_explosion(spark):
    """Per-row isolation covers the ROW-EXPLOSION too, not just the
    parse call: a page whose item-mapping raises (malformed item dict)
    drops that page's rows; every other page still emits.  The
    per-operator copies this helper replaced guarded only the parse,
    so one bad item failed the whole Spark task."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from webpeel_spark.operators.extract import _per_page_udtf

    schema = StructType([
        StructField("url", StringType(), False),
        StructField("n", LongType(), False),
    ])

    def factory():
        def rows(url, html):
            if "poison" in url:
                raise KeyError("text")  # malformed item mid-explosion
            return [(url, len(html))]
        return rows

    df = spark.createDataFrame(
        [("https://a.com/1", b"<p>a</p>"),
         ("https://b.com/poison", b"<p>b</p>"),
         ("https://c.com/3", b"<p>c</p>")],
        "url string, html binary")
    got = sorted(r["url"] for r in
                 _per_page_udtf(df, schema, factory).collect())
    assert got == ["https://a.com/1", "https://c.com/3"]


class TestCheckpointCommitPath:
    """A commit group is one Spark job: progress rows are a parquet file
    the driver writes, the resume state is one read of the progress
    table, and the default snapshot id survives a fresh read of the
    same files."""

    def test_driver_progress_file_matches_row_frame(self, spark):
        from webpeel_spark.plans.checkpoint import (
            PROGRESS_SCHEMA, _append_progress, read_progress,
        )

        rows = [
            ("r1", "snap-A", 0, -7, 9, 3, 2, 1, 120, 4096, 250, 1.5,
             "boom @ https://x.com/a"),
            ("r1", "snap-A", 1, None, None, 0, 0, 0, 0, 0, 0, 1.5, None),
        ]
        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_file_")
        try:
            # a fresh directory: no progress, and no Spark job to say so
            assert _jobs_run_by(
                spark, lambda: read_progress(spark, out_dir)) == (None, 0)
            ref = spark.createDataFrame(rows, PROGRESS_SCHEMA)
            _append_progress(spark, out_dir,
                             [dict(zip(ref.columns, r)) for r in rows])
            got = read_progress(spark, out_dir)
            assert got.schema == ref.schema
            assert sorted(got.collect()) == sorted(ref.collect())
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_one_job_per_group_and_one_per_resume(self, spark):
        """A fresh run of G commit groups runs G Spark jobs (each
        group's write; lineage and progress add none), and a no-op
        resume runs one (the progress read)."""
        from webpeel_spark.plans.checkpoint import run_extraction_checkpointed

        schema = "url string, html binary"
        root = tempfile.mkdtemp(prefix="wp_ckpt_jobs_")
        try:
            src = os.path.join(root, "in")
            spark.createDataFrame(
                [(r["url"], r["html"]) for r in generate_rows(48, seed=3)],
                schema).write.parquet(src)
            out_dir = os.path.join(root, "out")

            def run():
                return run_extraction_checkpointed(
                    spark, spark.read.schema(schema).parquet(src), out_dir,
                    run_id="r1", num_buckets=6, buckets_per_commit=2)

            first, jobs = _jobs_run_by(spark, run)
            assert first["processed_buckets"] == list(range(6))
            assert jobs == 3
            resume, jobs = _jobs_run_by(spark, run)
            assert resume["skipped_buckets"] == list(range(6))
            assert jobs == 1
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def test_staging_dir_is_invisible_and_cleared(self, spark, pages_df):
        """A staging directory left by a crashed run, holding a valid
        data file, is skipped by readers of the data and of the
        progress table, and the next run deletes it."""
        import glob

        from webpeel_spark.plans.checkpoint import (
            read_progress, run_extraction_checkpointed,
        )

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_staging_")
        try:
            def run():
                return run_extraction_checkpointed(
                    spark, pages_df, out_dir, "r1", num_buckets=2,
                    buckets_per_commit=2, input_snapshot_id="snap-A")

            run()
            data_dir = os.path.join(out_dir, "data")
            planted = os.path.join(data_dir, "_staging-x", "bucket=0")
            os.makedirs(planted)
            shutil.copy(glob.glob(os.path.join(data_dir, "bucket=0", "*"))[0],
                        os.path.join(planted, "part-0.parquet"))
            assert spark.read.parquet(data_dir).count() == 120
            assert read_progress(spark, out_dir).count() == 2
            assert run()["processed_buckets"] == []
            assert not os.path.exists(os.path.join(data_dir, "_staging-x"))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_resume_state_on_mixed_snapshot_table(self, spark):
        from pyspark.sql import functions as F

        from webpeel_spark.plans.checkpoint import (
            PROGRESS_SCHEMA, _progress_path, completed_buckets,
            read_progress, stale_buckets,
        )

        def row(run_id, snap, bucket):
            return (run_id, snap, bucket, None, None, 0, 0, 0, 0, 0, 0,
                    0.0, None)

        # r1: buckets 0-3 under A, 1-2 again under B, 5 under B only,
        # 9 under a NULL snapshot; r2: buckets 0 and 7 under B
        commits = [
            [row("r1", "A", b) for b in range(4)],
            [row("r1", "B", 1), row("r1", "B", 2), row("r1", "B", 5)],
            [row("r1", None, 9), row("r2", "B", 0), row("r2", "B", 7)],
        ]

        def ref_completed(out_dir, run_id, snap=None):
            flt = read_progress(spark, out_dir).filter(
                F.col("run_id") == run_id)
            if snap is not None:
                flt = flt.filter(F.col("input_snapshot_id") == snap)
            return sorted(r["bucket"] for r in
                          flt.select("bucket").distinct().collect())

        def ref_stale(out_dir, run_id, snap):
            return sorted(
                r["bucket"] for r in read_progress(spark, out_dir)
                .filter((F.col("run_id") == run_id)
                        & (F.col("input_snapshot_id") != snap))
                .select("bucket").distinct().collect())

        out_dir = tempfile.mkdtemp(prefix="wp_ckpt_state_")
        try:
            assert completed_buckets(spark, out_dir, "r1") == []
            assert stale_buckets(spark, out_dir, "r1", "A") == []
            for rows in commits:
                spark.createDataFrame(rows, PROGRESS_SCHEMA).coalesce(1) \
                    .write.mode("append").parquet(_progress_path(out_dir))

            assert completed_buckets(spark, out_dir, "r1") == [0, 1, 2, 3, 5, 9]
            assert completed_buckets(spark, out_dir, "r1", "A") == [0, 1, 2, 3]
            assert completed_buckets(spark, out_dir, "r1", "B") == [1, 2, 5]
            assert stale_buckets(spark, out_dir, "r1", "A") == [1, 2, 5]
            assert stale_buckets(spark, out_dir, "r1", "B") == [0, 1, 2, 3]
            for run_id in ("r1", "r2", "r3"):
                assert completed_buckets(spark, out_dir, run_id) == \
                    ref_completed(out_dir, run_id)
                for snap in ("A", "B", "C"):
                    assert completed_buckets(
                        spark, out_dir, run_id, snap) == \
                        ref_completed(out_dir, run_id, snap)
                    assert stale_buckets(spark, out_dir, run_id, snap) == \
                        ref_stale(out_dir, run_id, snap)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_default_snapshot_id_is_stable_across_fresh_reads(self, spark):
        from webpeel_spark.plans.checkpoint import (
            _input_snapshot_id, run_extraction_checkpointed,
        )

        rows = generate_rows(24, seed=7)
        root = tempfile.mkdtemp(prefix="wp_ckpt_snapid_")
        try:
            dirs = [os.path.join(root, name) for name in ("in1", "in2")]
            frame = spark.createDataFrame(
                [(r["url"], r["html"]) for r in rows],
                "url string, html binary")
            for d in dirs:
                frame.write.parquet(d)
            first, again = (spark.read.parquet(dirs[0]) for _ in range(2))
            assert _input_snapshot_id(first) == _input_snapshot_id(again)
            # same schema and rows, other files
            assert _input_snapshot_id(first) != _input_snapshot_id(
                spark.read.parquet(dirs[1]))
            # no files: other rows of the same schema and plan shape
            # must not resume this frame's run
            assert _input_snapshot_id(frame) != _input_snapshot_id(
                spark.createDataFrame(
                    [(r["url"], r["html"]) for r in rows[:12]],
                    "url string, html binary"))

            out_dir = os.path.join(root, "out")
            s1 = run_extraction_checkpointed(
                spark, first, out_dir, run_id="r1",
                num_buckets=2, buckets_per_commit=2)
            assert s1["rows"] == 24
            s2 = run_extraction_checkpointed(
                spark, spark.read.parquet(dirs[0]), out_dir, run_id="r1",
                num_buckets=2, buckets_per_commit=2)
            assert s2["input_snapshot_id"] == s1["input_snapshot_id"]
            assert s2["processed_buckets"] == []
            assert s2["skipped_buckets"] == [0, 1]
        finally:
            shutil.rmtree(root, ignore_errors=True)


class TestWorkerZipRescan:
    """webpeel_spark installs its stat-keyed zipimporter rescan inside
    the Python workers that import it (the guard must see
    ``pyspark.worker``: ``pyspark.daemon`` runs as ``__main__``), and
    nowhere else."""

    def test_installed_in_worker(self, spark):
        import sys

        def probe(batches):
            import zipimport

            import pandas as pd

            import webpeel_spark  # noqa: F401 — installs the patch

            method = zipimport.zipimporter.invalidate_caches
            for _ in batches:
                pass
            yield pd.DataFrame({
                "installed": [getattr(method, "_stat_keyed", False)]})

        got = spark.range(0, 2, 1, 2).mapInPandas(
            probe, "installed boolean").collect()
        want = sys.version_info < (3, 13)
        assert [r["installed"] for r in got] == [want, want]

    def test_installed_in_simhash_worker(self):
        """The simhash pandas_udf, whose function is pickled by value and
        imports nothing of webpeel_spark on its own, installs it in a
        fresh worker (own ``local[1]`` session, so no earlier task has
        imported the package there)."""
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = """
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from webpeel_spark.operators.dedup import _make_simhash_udf

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())

@pandas_udf("boolean")
def stat_keyed(h: pd.Series) -> pd.Series:
    import zipimport
    method = zipimport.zipimporter.invalidate_caches
    return pd.Series([getattr(method, "_stat_keyed", False)] * len(h))

df = spark.createDataFrame([("a b c",), ("d e",)], "text string")
got = df.select(stat_keyed(_make_simhash_udf()("text"))).collect()
print("stat_keyed:", sorted({r[0] for r in got}))
spark.stop()
"""
        proc = subprocess.run(
            [sys.executable, "-c", script], cwd=repo, capture_output=True,
            text=True, timeout=600, env={**os.environ, "PYTHONPATH": repo})
        assert proc.returncode == 0, proc.stderr[-3000:]
        want = sys.version_info < (3, 13)
        assert f"stat_keyed: [{want}]" in proc.stdout, proc.stdout

    def test_noop_on_python_313(self, monkeypatch):
        import sys
        import types
        import zipimport

        import webpeel_spark

        original = zipimport.zipimporter.invalidate_caches
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
        monkeypatch.setitem(sys.modules, "pyspark.worker",
                            types.ModuleType("pyspark.worker"))
        monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        webpeel_spark._skip_unchanged_zip_rescans()
        assert zipimport.zipimporter.invalidate_caches is original
