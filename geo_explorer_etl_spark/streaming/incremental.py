"""Streaming & incremental operators (SURVEY.md §2.12 + extensions).

The reference has no streaming runtime — its incremental surface is a
daily changed-cube poll (I1), delete-then-append replace (I2), and
anti-join dimension growth (I3). Here the same semantics run as
Structured Streaming plans so a 100 TB deployment can ingest
continuously instead of re-polling:

- ``stream_events``        — file-source stream over an events
  directory; ``availableNow`` trigger = catch-up-then-stop, the
  streaming analog of the reference's per-date polling loop.
- ``tumbling_counts``      — watermarked event-time windows; late rows
  beyond the watermark are dropped deterministically.
- ``session_aggregates``   — native ``session_window`` gap sessions
  (the batch twin is ``sessionize_events`` in the catalog).
- ``run_to_memory``        — drive any streaming frame to completion
  synchronously for tests/oracles (memory sink + processAllAvailable).
- ``upsert_sink``          — foreachBatch writer applying
  replace-by-key semantics per micro-batch (I2 at stream cadence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Bootstrap schema for a stream started on an EMPTY directory, where
# there is no file to probe: the nano-stamped layout (ts as raw longs
# under the nanosAsLong conf), matching the conversion below.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch nanos
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(
    spark: SparkSession,
    events_dir: str,
    bootstrap_schema: T.StructType | None = None,
) -> DataFrame:
    """File-source stream of events, robust to the files' timestamp
    unit: nano-stamped generations arrive as raw longs and are
    converted with integer division exactly like the batch reader;
    micro-stamped generations arrive as a timestamp column already.

    The unit decision is frozen when the stream is BUILT, from the
    files present at that moment; a directory whose later files flip
    the timestamp unit mid-stream is unsupported (the micro-batch scan
    would reject them against the fixed schema). A directory that is
    still empty at build time bootstraps with ``bootstrap_schema`` when
    given, else ``EVENT_SCHEMA`` (the nano layout) — a cold start that
    expects micro-stamped files passes the timestamp-typed schema here,
    e.g. ``EVENT_SCHEMA`` with ``ts`` as ``TimestampType``; without it
    a micro-stamped first file would fail conversion against the frozen
    nano layout.
    """
    # Left ON for the session: streaming scans consult the conf at
    # query start (and per micro-batch), not at readStream build time.
    # The conf only changes behavior for NANOS columns, which would
    # otherwise be a hard error — safe as a session default.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Probe the physical layout with a batch read (file streams need an
    # explicit schema, and it must match what the files actually hold).
    try:
        probed = spark.read.parquet(events_dir).schema
    except Exception:  # no files yet: UNABLE_TO_INFER_SCHEMA / missing path
        probed = bootstrap_schema if bootstrap_schema is not None else EVENT_SCHEMA
    raw = spark.readStream.schema(probed).format("parquet").load(events_dir)
    ts_type = dict((f.name, f.dataType.simpleString()) for f in probed.fields).get("ts")
    if ts_type in ("bigint", "long"):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks/event-time windows require TIMESTAMP (LTZ). The
        # session timezone is pinned to UTC, so the NTZ wall-clock maps
        # 1:1 onto the same instant — no shift.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type. The watermark
    bounds state: at scale, state size = (#types × windows inside the
    watermark horizon), independent of stream length."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based), per user: count + value sum
    per session. State is closed (emitted) once the watermark passes
    the session end — bounded like the tumbling case."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming frame to completion synchronously (availableNow
    semantics): memory sink, processAllAvailable, stop. Returns the
    materialized result as a batch frame."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def upsert_sink(
    stream_df: DataFrame,
    checkpoint_dir: str,
    apply_batch,
):
    """foreachBatch upsert: each micro-batch is handed to
    ``apply_batch(df, epoch_id)`` — e.g. a TableStore replace keyed by
    product/partition — giving I2 replace semantics at stream cadence
    with exactly-once via the checkpoint + idempotent writes."""
    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def exactly_once_sink(
    stream_df: DataFrame,
    checkpoint_dir: str,
    store,
    table: str,
    stream_id: str,
):
    """Exactly-once micro-batch appends into a TableStore: foreachBatch
    is only at-least-once (a batch can replay after a failure), so each
    batch rides the store's manifest commit protocol via
    ``TableStore.append_epoch`` — the epoch ledger makes a replayed
    batch a no-op, the atomic manifest swap makes a half-published
    batch invisible until ``recover()`` rolls it forward, and readers
    keep snapshot isolation throughout."""
    return upsert_sink(
        stream_df,
        checkpoint_dir,
        lambda df, epoch_id: store.append_epoch(stream_id, epoch_id, table, df),
    )


def merge_sink(
    stream_df: DataFrame,
    checkpoint_dir: str,
    store,
    table: str,
    key_cols: list[str],
    stream_id: str,
):
    """Exactly-once micro-batch MERGE (upsert-by-key) into a
    TableStore: the epoch ledger skips a replayed batch outright, and
    a crash between merge and record converges because re-upserting
    the IDENTICAL batch is idempotent (same keys, same values). The
    native ``format("store")`` sink cannot carry merge — its commit
    hook runs in a session-less worker and MERGE needs joins against
    the current snapshot — so merge pipelines compose here, where
    foreachBatch has the driver session.

    A batch must carry ONE row per key: two rows for a key with a live
    target row make the merge ambiguous (``merge_rows`` raises and
    commits nothing). Deduplicate upstream, e.g. keep each key's
    latest event."""

    def apply(df: DataFrame, epoch_id: int) -> None:
        if int(epoch_id) <= int(store._epoch_ledger().get(stream_id, -1)):
            return  # replayed batch: already merged
        store.merge_rows(table, df, key_cols)
        store._record_epoch(stream_id, int(epoch_id))

    return upsert_sink(stream_df, checkpoint_dir, apply)


class ChangeFeedReader:
    """Incremental CHANGE-FEED consumer over a ``TableStore`` table —
    the availableNow-style source twin of ``read_changes`` (VERDICT r6
    directive #3's consumer wiring, the same poll-with-durable-cursor
    pattern as the reference's changed-cube loop, pipeline.py E3).

    Each ``poll()`` returns the deltas committed since the persisted
    cursor (or None when quiet) and — only after the caller's callback
    completes without raising — advances the cursor, written via the
    store's commit backend (CAS-versioned, object-store-safe). Crash
    between read and advance ⇒ the same window replays, so a consumer
    composing this with an idempotent apply (``append_epoch``, MERGE
    by key, ``apply_changes`` reconstruction) gets effective
    exactly-once; cursor durability means a NEW reader process resumes
    where the last one stopped. Cost per poll is proportional to the
    CHANGED files (manifest-history diff), never table size — the
    property that makes subscribing to a 100 TB table feasible.
    """

    def __init__(
        self, store, table: str, cursor_name: str, start_at: float | None = None
    ):
        """``start_at`` initializes a BRAND-NEW cursor (ignored once
        one exists): a fresh subscriber on a mature store passes
        ``time.time()`` to begin from now — without it the first poll
        replays since the epoch, which a store that ever ran
        ``vacuum(prune_history=True)`` (or vacuumed superseded files)
        rightly refuses."""
        from pathlib import Path

        self.store = store
        self.table = table
        self._dir = Path(store.root) / "_cursors"
        self._key = f"{cursor_name}.json"
        if start_at is not None and self.store._backend.read(
            self._dir, self._key
        ) is None:
            self.seek(start_at)

    def position(self) -> float:
        cur = self.store._backend.read(self._dir, self._key)
        return float(cur[1].get("ts", 0.0)) if cur else 0.0

    def seek(self, ts: float) -> None:
        """Force the durable cursor to ``ts`` (initialize a new
        subscriber, or deliberately rewind/skip — rewinding re-delivers
        windows, so pair with an idempotent apply)."""
        from geo_explorer_etl_spark.sources.commit import cas_update

        cas_update(
            self.store._backend, self._dir, self._key, lambda prior: {"ts": ts}
        )

    #: Watermark lag (seconds) subtracted from "now" when no explicit
    #: ``until`` is given: a commit's ``committed_at`` is stamped a
    #: beat before its history journal entry becomes listable, so a
    #: poll whose upper bound lands inside that window would advance
    #: the cursor past a commit it never saw — lost forever. The stamp
    #: →journal window is the final JSON write + two file creates
    #: (milliseconds); 2 s covers it with GC-pause headroom. An
    #: explicit ``until`` bypasses the lag (tests, bounded replays).
    WATERMARK_LAG_SECONDS = 2.0

    def poll(self, apply=None, until: float | None = None):
        """Read deltas since the cursor; when ``apply`` is given, call
        it with the delta frame and advance the cursor only on success
        (at-least-once delivery; pair with an idempotent apply for
        exactly-once). Without ``apply``, returns the frame and
        advances immediately (at-most-once). Returns the delta frame
        or None."""
        import time

        from geo_explorer_etl_spark.sources.commit import cas_update

        since = self.position()
        if until is None:
            until = time.time() - self.WATERMARK_LAG_SECONDS
        # HARD bound, not just the heuristic lag: if any partition's
        # CURRENT manifest has no journal entry yet (the writer is
        # between the manifest CAS and the journal append — a window
        # the wall-clock lag cannot bound under stalls), clamp the
        # poll below that commit so the cursor can never advance past
        # it. Missing INTERMEDIATE entries are benign (the pairwise
        # diff absorbs them into the successor's net delta); only the
        # latest commit's pending entry is hazardous.
        pending = self.store.journal_pending_floor(self.table)
        if pending is not None:
            until = min(until, pending - 1e-6)
        if until <= since:
            return None
        changes = self.store.read_changes(self.table, since, until)
        if changes is not None and apply is not None:
            apply(changes)

        def advance(prior):
            pos = float((prior or {}).get("ts", 0.0))
            if pos >= until:
                return None  # a concurrent poller got further: keep it
            return {"ts": until}

        cas_update(self.store._backend, self._dir, self._key, advance)
        return changes


def corpus_ingest_sink(
    stream_df: DataFrame,
    checkpoint_dir: str,
    store,
    stream_id: str,
    **ingest_kwargs,
):
    """Exactly-once STREAMING corpus ingest: each micro-batch runs the
    full ``ingest_corpus_batch`` pipeline (gates → doc dedup →
    optional line scrub → budget → corpus append → index appends).
    foreachBatch is only at-least-once, so the store's epoch ledger
    skips a replayed batch OUTRIGHT before the pipeline runs — the
    one composition rule the LINE index needs: a replayed batch whose
    lines already landed in ``DedupLineIndex`` would scrub its own
    documents empty (the ingest still converges through the corpus
    anti-join and the pre-scrub budget digest, pytest-pinned, but
    skipping is cheaper and keeps the per-batch report truthful). A
    crash mid-ingest re-runs the batch on replay and converges by the
    ingest's own crash contract; the epoch records only after the
    whole pipeline returns.

    PAIRING RULE (shared with every epoch-ledger sink, and fatal to
    get wrong here): ``stream_id`` names the (stream, CHECKPOINT)
    pairing — epoch ids are checkpoint-relative, so a RESET or
    deleted checkpoint restarts them at 0 and the old ledger
    high-water would make the skip below silently drop genuinely new
    batches. Resetting the checkpoint REQUIRES a new ``stream_id``;
    every skip warns with exactly this instruction so an operator
    who broke the pairing sees it in the logs instead of missing
    data."""
    import logging

    from geo_explorer_etl_spark.operators.corpus import ingest_corpus_batch

    log = logging.getLogger(__name__)

    def apply(df: DataFrame, epoch_id: int) -> None:
        recorded = int(store._epoch_ledger().get(stream_id, -1))
        if int(epoch_id) <= recorded:
            # logging, not warnings.warn: the per-callsite warning
            # registry would swallow the SECOND identical skip in one
            # driver process — exactly the re-run an operator does
            # while debugging missing data (review r13)
            log.warning(
                "corpus_ingest_sink(%r): skipping epoch %s <= recorded "
                "%s as a replay — if you RESET this stream's "
                "checkpoint, this is silent data loss: use a NEW "
                "stream_id with a fresh checkpoint (epoch ids are "
                "checkpoint-relative)",
                stream_id, epoch_id, recorded,
            )
            return
        ingest_corpus_batch(store, df, **ingest_kwargs)
        store._record_epoch(stream_id, int(epoch_id))

    return upsert_sink(stream_df, checkpoint_dir, apply)
