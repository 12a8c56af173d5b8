"""Structured Streaming extraction: incremental file processing with
exactly-once checkpointing, plus stateful change tracking."""

import os

import pytest


@pytest.fixture(scope="module")
def spark():
    from webpeel_spark.session import get_spark

    s = get_spark(app_name="test-streaming", cores=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _write_batch(path: str, n: int, seed: int) -> None:
    from webpeel_spark.sources.corpus import write_corpus_parquet

    write_corpus_parquet(path, n, seed=seed)


def test_stream_extraction_incremental(spark, tmp_path):
    from webpeel_spark.streaming.extract_stream import stream_extraction

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(str(inp / "batch0.parquet"), 30, seed=1)
    q = stream_extraction(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 == 30
    assert set(first.select("status").distinct().toPandas()["status"]) <= {"ok", "error"}

    # second batch lands; resume processes ONLY the new file
    _write_batch(str(inp / "batch1.parquet"), 20, seed=2)
    q2 = stream_extraction(spark, str(inp), out, ckpt)
    q2.awaitTermination(120)
    combined = spark.read.parquet(out)
    assert combined.count() == 50  # 30 + 20, batch0 not reprocessed
    # output urls == union of input urls (inputs may share urls across
    # seeds; what matters is each FILE was processed exactly once)
    in_urls = (spark.read.parquet(str(inp)).select("url").distinct().count())
    assert combined.select("url").distinct().count() == in_urls

    # third run with NO new input → no duplicates
    q3 = stream_extraction(spark, str(inp), out, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 50


def test_stream_extraction_matches_batch(spark, tmp_path):
    from webpeel_spark.operators.extract import extract_pages
    from webpeel_spark.streaming.extract_stream import stream_extraction

    inp = tmp_path / "in"
    inp.mkdir()
    _write_batch(str(inp / "b.parquet"), 25, seed=3)
    out = str(tmp_path / "out")
    q = stream_extraction(spark, str(inp), out, str(tmp_path / "ck"))
    q.awaitTermination(120)

    stream_fp = {
        r["url"]: r["fingerprint"]
        for r in spark.read.parquet(out).select("url", "fingerprint").collect()
    }
    batch_df = spark.read.parquet(str(inp / "b.parquet")).select("url", "html")
    batch_fp = {
        r["url"]: r["fingerprint"]
        for r in extract_pages(batch_df).select("url", "fingerprint").collect()
    }
    assert stream_fp == batch_fp  # streaming output byte-identical to batch


def test_extracted_stream_skips_chunking(spark, tmp_path):
    """Both stream sinks drop ``chunks``, so the stream's UDF does not
    chunk; every other envelope field still matches the batch run."""
    from webpeel_spark.operators.extract import extract_pages
    from webpeel_spark.streaming.extract_stream import extracted_stream

    path = str(tmp_path / "b.parquet")
    _write_batch(path, 25, seed=3)
    pages = spark.read.parquet(path)
    cols = ["url", "fingerprint", "token_estimate", "chunks"]
    streamed = {r["url"]: r for r in
                extracted_stream(pages).select(*cols).collect()}
    batch = {r["url"]: r for r in
             extract_pages(pages.select("url", "html")).select(*cols).collect()}
    assert streamed.keys() == batch.keys()
    assert any(r["chunks"] for r in batch.values())
    for url, r in streamed.items():
        assert r["chunks"] == [], url
        assert r["fingerprint"] == batch[url]["fingerprint"], url
        assert r["token_estimate"] == batch[url]["token_estimate"], url


def test_stream_change_tracking_stateful(spark, tmp_path):
    """applyInPandasWithState change tracking: first batch emits
    'added' per url; a second batch with edited pages emits
    'changed'/'unchanged' against state restored from the stream
    checkpoint across a restart."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    from webpeel_spark.streaming.extract_stream import (
        stream_change_tracking,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(str(inp / "b0.parquet"), 24, seed=5)
    q = stream_change_tracking(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    assert first.count() == 24
    assert set(first.select("change").distinct().toPandas()["change"]) \
        == {"added"}

    # second batch: SAME pages, a third of them edited inside the body
    t = pq.read_table(str(inp / "b0.parquet"))
    htmls, urls = t["html"].to_pylist(), t["url"].to_pylist()
    edited = set()
    for i in range(0, len(htmls), 3):
        if b"content" in (htmls[i] or b"") and not urls[i].endswith(
                (".pdf", ".docx")):
            htmls[i] = htmls[i].replace(b"content", b"content-v2")
            edited.add(urls[i])
    t2 = t.set_column(t.schema.get_field_index("html"), "html",
                      pa.array(htmls, pa.binary()))
    pq.write_table(t2, str(inp / "b1.parquet"))

    q2 = stream_change_tracking(spark, str(inp), out, ckpt)
    q2.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 48
    second = [r for r in rows if r["change"] != "added"]
    assert len(second) == 24
    changed = {r["url"] for r in second if r["change"] == "changed"}
    unchanged = {r["url"] for r in second if r["change"] == "unchanged"}
    assert changed and unchanged
    # every edit that lands in extracted content is detected, nothing else
    assert changed <= edited
    for r in second:
        if r["change"] == "changed":
            assert r["fingerprint_old"] != r["fingerprint_new"]
        else:
            assert r["fingerprint_old"] == r["fingerprint_new"]


def test_stream_change_tracking_rocksdb_equivalent(spark, tmp_path):
    """The RocksDB state store (the documented 10^12-url configuration,
    selected via get_spark(state_store="rocksdb") / soak --rocksdb) is
    a provider swap, not a semantics change: the same two-snapshot
    change-tracking flow must emit byte-identical rows under RocksDB
    and under the default in-memory HDFS-backed store."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from webpeel_spark.streaming.extract_stream import (
        stream_change_tracking,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    _write_batch(str(inp / "b0.parquet"), 18, seed=11)
    t = pq.read_table(str(inp / "b0.parquet"))
    htmls, urls = t["html"].to_pylist(), t["url"].to_pylist()
    for i in range(0, len(htmls), 3):
        if b"content" in (htmls[i] or b"") and not urls[i].endswith(
                (".pdf", ".docx")):
            htmls[i] = htmls[i].replace(b"content", b"content-v2")
    t2 = t.set_column(t.schema.get_field_index("html"), "html",
                      pa.array(htmls, pa.binary()))

    def run(tag: str) -> list:
        base = tmp_path / tag
        sin = base / "in"
        sin.mkdir(parents=True)
        pq.write_table(t, str(sin / "b0.parquet"))
        q = stream_change_tracking(spark, str(sin), str(base / "out"),
                                   str(base / "ck"))
        q.awaitTermination(120)
        pq.write_table(t2, str(sin / "b1.parquet"))
        q2 = stream_change_tracking(spark, str(sin), str(base / "out"),
                                    str(base / "ck"))
        q2.awaitTermination(120)
        return sorted(
            spark.read.parquet(str(base / "out")).collect(),
            key=lambda r: (r["url"], r["change"], r["fingerprint_new"]))

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    default_rows = run("hdfs_store")
    prev = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(
            conf_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        rocksdb_rows = run("rocksdb_store")
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)

    assert rocksdb_rows == default_rows
    labels = {r["change"] for r in rocksdb_rows}
    assert labels == {"added", "changed", "unchanged"}


def test_get_spark_rejects_unknown_state_store():
    import pytest as _pytest

    from webpeel_spark.session import get_spark

    with _pytest.raises(ValueError, match="unknown state_store"):
        get_spark(state_store="bogus")


def _snapshot_table(src_path: str, day: str, urls_keep=None, edit=False):
    """Corpus rows as a PAGES_SCHEMA arrow table stamped at ``day``."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(src_path)
    urls = t["url"].to_pylist()
    htmls = t["html"].to_pylist()
    rows = [(u, h) for u, h in zip(urls, htmls)
            if urls_keep is None or u in urls_keep]
    if edit:
        rows = [(u, h.replace(b"content", b"content-v2")
                 if h and b"content" in h else h) for u, h in rows]
    ts = datetime.datetime.fromisoformat(day + "T12:00:00")
    n = len(rows)
    return pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([ts] * n, pa.timestamp("us")),
        "html": pa.array([r[1] for r in rows], pa.binary()),
        "text": pa.array([None] * n, pa.string()),
        "lang": pa.array([None] * n, pa.string()),
    })


def test_stream_change_tracking_state_ttl(spark, tmp_path):
    """state_ttl: a url unseen for longer than the TTL is forgotten —
    its revisit emits 'added' again (not 'changed'), and keys with no
    further data are EVICTED via the event-time timeout, bounding
    state size.  Within the TTL, semantics are unchanged."""
    import pyarrow.parquet as pq

    from webpeel_spark.streaming.extract_stream import (
        stream_change_tracking,
    )

    src = tmp_path / "src.parquet"
    _write_batch(str(src), 12, seed=9)
    all_urls = set(pq.read_table(str(src))["url"].to_pylist())
    half = set(sorted(all_urls)[: len(all_urls) // 2])

    inp = tmp_path / "in"
    inp.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run():
        q = stream_change_tracking(spark, str(inp), out, ck,
                                   state_ttl="30 days")
        q.awaitTermination(120)
        return q

    # day 1: every url added
    pq.write_table(_snapshot_table(str(src), "2024-01-01"),
                   str(inp / "b0.parquet"))
    run()
    r0 = spark.read.parquet(out).collect()
    assert {r["change"] for r in r0} == {"added"}
    n = len(r0)

    # day 10 (< TTL): only HALF the urls return, edited — they are
    # 'changed'/'unchanged' exactly as without TTL
    pq.write_table(_snapshot_table(str(src), "2024-01-10",
                                   urls_keep=half, edit=True),
                   str(inp / "b1.parquet"))
    run()
    mid = [r for r in spark.read.parquet(out).collect()
           if r["warc_ts"].month == 1 and r["warc_ts"].day == 10]
    assert len(mid) == len(half)
    assert {r["change"] for r in mid} <= {"changed", "unchanged"}

    # day 60, same half again: gap since day 10 is 50d > TTL, so the
    # revisit is 'added' again (the in-function last-seen rule — the
    # eviction timeout for these keys hadn't fired yet: event-time
    # timeouts run one micro-batch AFTER the watermark advances, and
    # each availableNow run here is a single batch)
    pq.write_table(_snapshot_table(str(src), "2024-02-29",
                                   urls_keep=half),
                   str(inp / "b2.parquet"))
    run()
    late = [r for r in spark.read.parquet(out).collect()
            if r["warc_ts"].month == 2]
    assert len(late) == len(half)
    assert {r["change"] for r in late} == {"added"}

    # day 61, one url: this batch runs with the watermark already at
    # ~day 60, far past the OTHER half's day-1+TTL timeout — those
    # keys (no data since day 1) fire hasTimedOut and are evicted:
    # state row count drops to exactly the still-live half.  (The
    # numRowsRemoved progress counter stays 0 for user-initiated
    # state.remove() in applyInPandasWithState — numRowsTotal is the
    # reliable signal.)  The single revisited url is 1 day past its
    # day-60 sighting: within TTL, so plain 'unchanged'.
    probe = sorted(half)[0]
    pq.write_table(_snapshot_table(str(src), "2024-03-01",
                                   urls_keep={probe}),
                   str(inp / "b3.parquet"))
    q = run()
    last = [r for r in spark.read.parquet(out).collect()
            if r["warc_ts"].month == 3]
    assert [r["change"] for r in last] == ["unchanged"]
    totals = [op["numRowsTotal"] for p in q.recentProgress
              for op in (p.get("stateOperators") or [])]
    assert totals and totals[-1] == len(half)  # past-TTL keys evicted


def test_stream_change_tracking_no_ttl_unchanged(spark, tmp_path):
    """Default path (state_ttl=None) still uses NoTimeout and never
    forgets: a 59-day gap revisit is 'unchanged', not 'added'."""
    import pyarrow.parquet as pq

    from webpeel_spark.streaming.extract_stream import (
        stream_change_tracking,
    )

    src = tmp_path / "src.parquet"
    _write_batch(str(src), 8, seed=13)
    inp = tmp_path / "in"
    inp.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    pq.write_table(_snapshot_table(str(src), "2024-01-01"),
                   str(inp / "b0.parquet"))
    q = stream_change_tracking(spark, str(inp), out, ck)
    q.awaitTermination(120)
    pq.write_table(_snapshot_table(str(src), "2024-02-29"),
                   str(inp / "b1.parquet"))
    q = stream_change_tracking(spark, str(inp), out, ck)
    q.awaitTermination(120)
    late = [r for r in spark.read.parquet(out).collect()
            if r["warc_ts"].month == 2]
    assert late and {r["change"] for r in late} == {"unchanged"}


def test_stream_change_tracking_ttl_rocksdb(spark, tmp_path):
    """The FULL 10^12-url configuration in one flow: RocksDB state
    store + event-time TTL eviction.  The prior two tests cover each
    half separately; this one pins that EventTimeTimeout firing,
    state.remove() eviction, and the past-TTL re-add rule behave
    identically under RocksDBStateStoreProvider — byte-identical
    output rows vs the default HDFS-backed store, and the RocksDB
    run's numRowsTotal drops to the live-key count after eviction."""
    import pyarrow.parquet as pq

    from webpeel_spark.streaming.extract_stream import (
        stream_change_tracking,
    )

    src = tmp_path / "src.parquet"
    _write_batch(str(src), 10, seed=17)
    all_urls = set(pq.read_table(str(src))["url"].to_pylist())
    half = set(sorted(all_urls)[: len(all_urls) // 2])
    probe = sorted(half)[0]

    def run_flow(tag: str):
        """day1 all urls; day60 half (past 30d TTL → re-add); day61
        one url (batch whose watermark evicts the day-1-only keys)."""
        base = tmp_path / tag
        sin = base / "in"
        sin.mkdir(parents=True)
        out, ck = str(base / "out"), str(base / "ck")
        last_q = None
        for day, keep in (("2024-01-01", None), ("2024-02-29", half),
                          ("2024-03-01", {probe})):
            pq.write_table(_snapshot_table(str(src), day,
                                           urls_keep=keep),
                           str(sin / f"b{day}.parquet"))
            last_q = stream_change_tracking(spark, sin.as_posix(), out,
                                            ck, state_ttl="30 days")
            last_q.awaitTermination(120)
        rows = sorted(spark.read.parquet(out).collect(),
                      key=lambda r: (r["warc_ts"], r["url"]))
        return rows, last_q

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    default_rows, _ = run_flow("hdfs_ttl")
    prev = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(
            conf_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        rocksdb_rows, rq = run_flow("rocksdb_ttl")
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)

    assert rocksdb_rows == default_rows
    # day-60 revisits are past the TTL: re-added, not changed
    feb = [r for r in rocksdb_rows if r["warc_ts"].month == 2]
    assert len(feb) == len(half)
    assert {r["change"] for r in feb} == {"added"}
    # eviction fired under RocksDB: only the still-live keys remain
    totals = [op["numRowsTotal"] for p in rq.recentProgress
              for op in (p.get("stateOperators") or [])]
    assert totals and totals[-1] == len(half)


def test_stream_change_tracking_out_of_order_dropped(spark, tmp_path):
    """A late file whose rows PREDATE the stored last-seen must not
    regress state: the old sighting is dropped (per-batch sort only
    orders within one micro-batch), so it emits nothing, and a later
    re-sighting of the CURRENT fingerprint is 'unchanged' — not the
    spurious 'changed' a regressed fingerprint would produce."""
    import pyarrow.parquet as pq

    from webpeel_spark.streaming.extract_stream import (
        stream_change_tracking,
    )

    src = tmp_path / "src.parquet"
    _write_batch(str(src), 8, seed=21)
    inp = tmp_path / "in"
    inp.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run():
        q = stream_change_tracking(spark, str(inp), out, ck)
        q.awaitTermination(120)

    # batch 0: day 10 — every url added with fingerprint(v1)
    pq.write_table(_snapshot_table(str(src), "2024-01-10"),
                   str(inp / "b0.parquet"))
    run()
    # batch 1: day 1 lands LATE, with edited (different) content — if
    # sequenced it would emit 'changed' with inverted old/new and
    # store the old fingerprint
    pq.write_table(_snapshot_table(str(src), "2024-01-01", edit=True),
                   str(inp / "b1.parquet"))
    run()
    rows = spark.read.parquet(out).collect()
    assert not [r for r in rows if r["warc_ts"].day == 1]  # dropped
    # batch 2: day 11 re-sights the day-10 content — 'unchanged'
    # proves state still holds fingerprint(v1), not the late v-edited
    pq.write_table(_snapshot_table(str(src), "2024-01-11"),
                   str(inp / "b2.parquet"))
    run()
    last = [r for r in spark.read.parquet(out).collect()
            if r["warc_ts"].day == 11]
    assert last and {r["change"] for r in last} == {"unchanged"}


def test_stream_change_tracking_null_warc_ts_excluded(spark, tmp_path):
    """Rows with NULL warc_ts are excluded up front: an event-time-
    keyed tracker cannot sequence a sighting with no event time (and
    pd.NaT decodes to -2^63, which would silently trip the
    out-of-order guard or schedule an immediate eviction).  They emit
    nothing and leave state untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from webpeel_spark.streaming.extract_stream import (
        stream_change_tracking,
    )

    src = tmp_path / "src.parquet"
    _write_batch(str(src), 8, seed=29)
    inp = tmp_path / "in"
    inp.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run():
        q = stream_change_tracking(spark, str(inp), out, ck,
                                   state_ttl="30 days")
        q.awaitTermination(120)

    pq.write_table(_snapshot_table(str(src), "2024-01-01"),
                   str(inp / "b0.parquet"))
    run()
    n = spark.read.parquet(out).count()

    # b1: same urls, EDITED html, warc_ts all NULL — excluded, so no
    # rows are emitted and the stored fingerprints stay at v1
    t = _snapshot_table(str(src), "2024-01-02", edit=True)
    t = t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts",
                     pa.array([None] * t.num_rows, pa.timestamp("us")))
    pq.write_table(t, str(inp / "b1.parquet"))
    run()
    assert spark.read.parquet(out).count() == n

    # b2: original html at day 3 — 'unchanged' against v1 proves the
    # null-ts edit never touched state
    pq.write_table(_snapshot_table(str(src), "2024-01-03"),
                   str(inp / "b2.parquet"))
    run()
    last = [r for r in spark.read.parquet(out).collect()
            if r["warc_ts"] is not None and r["warc_ts"].day == 3]
    assert last and {r["change"] for r in last} == {"unchanged"}


# ── pure state-machine differential (no Spark) ──────────────────────
# make_change_tracker is module-level precisely so the transition
# logic can be driven with a fake GroupState and compared against a
# sequential oracle model under hypothesis — the integration tests
# above pin the engine plumbing (watermark, timeouts, checkpoints);
# these pin the semantics exhaustively.


class _FakeGroupState:
    """Just enough of pyspark's GroupState for make_change_tracker."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.timeout_ts = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts

    def getCurrentWatermarkMs(self):
        return 0


def _drive_tracker(batches, ttl_ms):
    """Feed (ts_ms, fp) batches through make_change_tracker with a
    fake state; return [(change, old, new, ts_ms), ...]."""
    import pandas as pd

    from webpeel_spark.streaming.extract_stream import make_change_tracker

    track = make_change_tracker(ttl_ms)
    state = _FakeGroupState()
    out = []
    for batch in batches:
        if not batch:
            continue
        pdf = pd.DataFrame({
            "url": ["u"] * len(batch),
            "warc_ts": pd.to_datetime([ts for ts, _ in batch], unit="ms"),
            "fingerprint": [fp for _, fp in batch],
        })
        for res in track(("u",), iter([pdf]), state):
            for r in res.itertuples(index=False):
                out.append((r.change, r.fingerprint_old, r.fingerprint_new,
                            int(r.warc_ts.value // 1_000_000)))
    return out, state


def _oracle_model(batches, ttl_ms):
    """Sequential reference model of the documented semantics: within
    a batch events replay in event-time order; rows older than the
    stored last-seen are dropped; a gap > ttl re-adds."""
    prev, prev_ts, out = None, None, []
    for batch in batches:
        for ts, fp in sorted(batch):
            if prev_ts is not None and ts < prev_ts:
                continue
            p = prev
            if ttl_ms is not None and p is not None and ts - prev_ts > ttl_ms:
                p = None
            change = ("added" if p is None
                      else "changed" if fp != p else "unchanged")
            out.append((change, p, fp, ts))
            prev, prev_ts = fp, ts
    return out, prev, prev_ts


def _batches_strategy():
    from hypothesis import strategies as st

    fp = st.sampled_from(["fpA", "fpB", "fpC"])
    ts = st.integers(min_value=0, max_value=5000)

    def unique_ts(batch):
        seen = set()
        keep = []
        for t, f in batch:
            if t not in seen:  # ties within one batch sort unstably
                seen.add(t)
                keep.append((t, f))
        return keep

    batch = st.lists(st.tuples(ts, fp), max_size=6).map(unique_ts)
    return st.lists(batch, max_size=6)


def test_change_tracker_matches_oracle_model():
    from hypothesis import given, settings

    @settings(max_examples=300, deadline=None)
    @given(batches=_batches_strategy(),
           ttl=__import__("hypothesis").strategies.sampled_from(
               [None, 1, 100, 1000]))
    def run(batches, ttl):
        got, state = _drive_tracker(batches, ttl)
        want, prev, prev_ts = _oracle_model(batches, ttl)
        assert got == want
        if want:  # final state = newest surviving sighting
            assert state.get == (prev, prev_ts)
            if ttl is not None:
                assert state.timeout_ts == max(prev_ts + ttl, 1)

    run()


def test_change_tracker_timeout_removes_state():
    from webpeel_spark.streaming.extract_stream import make_change_tracker

    track = make_change_tracker(1000)
    state = _FakeGroupState()
    state.update(("fpA", 42))
    state.hasTimedOut = True
    frames = list(track(("u",), iter([]), state))
    assert len(frames) == 1 and frames[0].empty
    assert not state.exists
