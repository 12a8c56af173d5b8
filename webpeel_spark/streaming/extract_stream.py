"""Structured Streaming ingestion for the extraction pipeline.

The reference's ``watch.ts`` polls a URL on an interval and
``change-tracking`` diffs sha256 fingerprints (pipeline.ts:1608-1616).
The batch-engine analog: new page files land in a directory (the
streaming face of a Common-Crawl-style table), Structured Streaming
picks them up incrementally, runs the SAME Arrow extraction UDF, and
appends results — the stream checkpoint gives exactly-once file
processing (the reference's "completed" map, crawl-checkpoint.ts:76-89,
for free from the engine).

Two entry points, each processing the current backlog and stopping
(``trigger(availableNow=True)``):

* ``stream_extraction``       — stateless map: pages → envelopes.
  ``mapInPandas`` is streaming-compatible, so the batch operator is
  reused verbatim; fingerprint column supports downstream change diffs.
* ``stream_change_tracking``  — stateful per-url change labels
  (``added``/``changed``/``unchanged``) across micro-batches.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

# lateness budget of stream_change_tracking's event-time watermark
LATE_DATA_WATERMARK = "1 hour"


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def extracted_stream(pages: DataFrame, options=None) -> DataFrame:
    """Extraction envelope stream — reuses the batch mapInPandas stage
    (stateless, so legal under streaming) with ``warc_ts`` carried
    through the UDF positionally (extraction is 1 row in → 1 row out,
    order-preserving), so downstream watermarked/event-time operators
    have their timestamp column without a post-extraction join."""
    from ..operators.extract import EXTRACT_SCHEMA, _make_extract_fn
    from ..pure.pipeline import DEFAULT_OPTIONS

    if options is None:
        options = DEFAULT_OPTIONS
    inner = _make_extract_fn(tuple(options))

    def with_ts(batches):
        for pdf in batches:
            ts = pdf["warc_ts"].reset_index(drop=True)
            for out in inner(iter([pdf])):
                out = out.reset_index(drop=True)
                out["warc_ts"] = ts[: len(out)]
                yield out

    from pyspark.sql.types import StructField, StructType, TimestampType

    schema = StructType(EXTRACT_SCHEMA.fields
                        + [StructField("warc_ts", TimestampType(), True)])
    return pages.select("url", "warc_ts", "html").mapInPandas(with_ts, schema)


def stream_extraction(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint_dir: str, options=None):
    """Start (or resume) the extraction stream → parquet sink; it
    processes the current backlog then stops — the incremental-batch
    mode a scheduled 10^12-row ingestion job would use."""
    pages = read_pages_stream(spark, input_dir)
    out = extracted_stream(pages, options).drop("chunks")
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


CHANGE_COLS = ["url", "change", "fingerprint_old", "fingerprint_new",
               "warc_ts"]


def make_change_tracker(ttl_ms: Optional[int]):
    """The per-url state machine behind ``stream_change_tracking``,
    module-level so the pure transition logic is unit/property-testable
    with a fake ``GroupState`` (tests/test_streaming.py runs it against
    a sequential oracle model under hypothesis) — the streaming
    integration tests then only need to pin the engine-side plumbing
    (watermark, timeouts, checkpoint).

    Semantics (documented in full on ``stream_change_tracking``):
    replay each micro-batch in event-time order; drop rows older than
    the stored last-seen; a gap > ``ttl_ms`` makes the next sighting
    ``added`` again; timed-out keys are removed."""

    def track(key, pdfs, state):
        import pandas as pd

        url = key[0]
        if state.hasTimedOut:
            # event-time watermark passed last_seen + TTL with no new
            # data for this url: forget it (state-size bound at 10^12)
            state.remove()
            yield pd.DataFrame([], columns=CHANGE_COLS)
            return
        prev, prev_ts = None, None
        if state.exists:
            # schema is (fingerprint, last_ts) — a pre-last_ts
            # checkpoint cannot reach here: Spark's state schema check
            # rejects the resume outright (start a fresh checkpoint
            # dir after a state-schema change)
            s = state.get
            prev, prev_ts = s[0], s[1]
        rows = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            # replay in event-time order so the state converges to the
            # newest fingerprint even if one micro-batch holds several
            batch = batch.sort_values("warc_ts")
            for _, row in batch.iterrows():
                ts_ms = int(row["warc_ts"].value // 1_000_000)
                if prev_ts is not None and ts_ms < prev_ts:
                    # out-of-order: a sighting OLDER than the stored
                    # last-seen arrived in a later micro-batch (sort
                    # only orders within one batch).  Sequencing it
                    # would regress the fingerprint and the TTL clock
                    # and emit an inverted old/new pair — history has
                    # already moved past it, so drop it.
                    continue
                if (ttl_ms is not None and prev is not None
                        and prev_ts is not None
                        and ts_ms - prev_ts > ttl_ms):
                    # unseen past the TTL: this sighting is a fresh add
                    # even if eviction hadn't fired yet (same-batch case)
                    prev = None
                fp = row["fingerprint"]
                if prev is None:
                    change = "added"
                elif fp != prev:
                    change = "changed"
                else:
                    change = "unchanged"
                rows.append((url, change, prev, fp, row["warc_ts"]))
                prev, prev_ts = fp, ts_ms
            state.update((prev, prev_ts))
            if ttl_ms is not None:
                # must stay ahead of the current watermark or Spark
                # rejects the timestamp (late data can put last_seen+TTL
                # behind it — such a key is due for eviction ASAP)
                state.setTimeoutTimestamp(
                    max(prev_ts + ttl_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(rows, columns=CHANGE_COLS)

    return track


def stream_change_tracking(spark: SparkSession, input_dir: str,
                           out_dir: str, checkpoint_dir: str,
                           options=None, state_ttl: Optional[str] = None):
    """Stateful change tracking: per-url fingerprint state across
    micro-batches via ``applyInPandasWithState`` — the streaming face
    of watch.ts polling (batch analog: operators/extract
    .change_detection).  First sighting of a url emits ``added``;
    re-extractions emit ``changed``/``unchanged`` against the
    fingerprint held in GroupState, which the stream checkpoint
    persists — a restart resumes with every url's last-seen
    fingerprint intact.

    State size is one fingerprint + last-seen timestamp per url — at
    10^12 urls this wants the RocksDB state store
    (``get_spark(state_store="rocksdb")``) plus ``state_ttl``, the
    watermark-based eviction that bounds state to urls seen within the
    TTL window.  ``state_ttl`` (a pandas-parsable duration, e.g.
    ``"30 days"``) has ONE semantic: a url unseen for longer than the
    TTL is forgotten — its state is evicted when the event-time
    watermark (which trails the stream maximum by
    ``LATE_DATA_WATERMARK``, one hour) passes last_seen + TTL, and a later
    revisit emits ``added`` again.  The revisit rule is enforced
    in-function from the stored last-seen timestamp, so it holds even
    when the revisit lands in the same micro-batch that would have
    fired the timeout; the GroupState timeout handles the pure
    eviction (keys with no further data), which is what actually
    bounds state size.  Labels match change_detection (``removed``
    cannot occur in an append-only stream: absence of new data for a
    url is not an event).

    Out-of-order rows are DROPPED, not sequenced: per-batch sorting
    orders rows within one micro-batch only, so a row whose
    ``warc_ts`` predates the stored last-seen (a late file landing
    after a newer snapshot was processed) cannot be placed in the
    change sequence without rewriting emitted history — and letting
    it through would regress the stored fingerprint and TTL clock and
    emit an inverted old/new pair.  Equal timestamps (re-delivery of
    the same snapshot) still flow through and compare as normal."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ttl_ms = None
    if state_ttl is not None:
        ttl_ms = int(pd.Timedelta(state_ttl).total_seconds() * 1000)
        if ttl_ms <= 0:
            raise ValueError(f"state_ttl must be positive: {state_ttl!r}")

    pages = read_pages_stream(spark, input_dir)
    # a sighting without an event time cannot be sequenced against the
    # per-url history (and pd.NaT would decode to -2^63, silently
    # tripping the out-of-order guard or scheduling an immediate
    # eviction): change tracking is event-time-keyed, so null warc_ts
    # rows are excluded up front
    envelopes = (extracted_stream(pages, options)
                 .where(F.col("warc_ts").isNotNull())
                 .select("url", "warc_ts", "fingerprint"))
    if ttl_ms is not None:
        # the watermark drives event-time timeouts; it trails the
        # stream's max warc_ts by LATE_DATA_WATERMARK (lateness budget)
        envelopes = envelopes.withWatermark("warc_ts", LATE_DATA_WATERMARK)

    changes = envelopes.groupBy("url").applyInPandasWithState(
        make_change_tracker(ttl_ms),
        outputStructType=("url string, change string, "
                          "fingerprint_old string, fingerprint_new string, "
                          "warc_ts timestamp"),
        stateStructType="fingerprint string, last_ts long",
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout if ttl_ms is not None
                     else GroupStateTimeout.NoTimeout),
    )
    return (
        changes.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
