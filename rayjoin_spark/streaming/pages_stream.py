"""Structured Streaming ingestion of the pages table.

The reference is batch-only; the graft's "checkpoint-resumable" demand is
batch-restart (plans/checkpoint.py). This module adds the natural
streaming front-end anyway: archives arrive as micro-batches
(`stream_warc_ingest`), pages get geocoded (stateless column math —
streams fine) and aggregated into per-tile windowed counts
(`streaming_tile_counts`) with a watermark for late WARC timestamps.
Stateful operators (host sessionization, burst detection) and
watermark-bounded dedup ride the same streams; `ExactlyOnceParquetSink`
lands any of them exactly once through `foreachBatch` (epoch id +
idempotent sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rayjoin_spark.plans.scaling import GridSpec, Scaling
from rayjoin_spark.sources.pages import geocode_pages


def streaming_tile_counts(
    pages_stream: DataFrame,
    scaling: Scaling,
    grid: GridSpec,
    bbox: tuple[float, float, float, float],
    shift: int = 3,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """readStream(pages) -> geocode -> watermarked windowed tile counts."""
    from rayjoin_spark.operators.tiles import tile_of

    g = geocode_pages(pages_stream, *bbox)
    # same cell->tile convention as the batch tile_aggregate (one code
    # path for the tiling rule, so stream and batch tiles can't diverge)
    g = g.withColumn(
        "tile_x", tile_of(grid.cell_of(scaling.scale_x(F.col("x"))), shift)
    ).withColumn(
        "tile_y", tile_of(grid.cell_of(scaling.scale_y(F.col("y"))), shift)
    )
    return (
        g.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "tile_x", "tile_y")
        .agg(F.count("*").alias("n_pages"), F.approx_count_distinct("lang").alias("n_langs"))
    )


def sessionize_hosts(
    pages_stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Custom stateful operator: per-host visit sessionization with
    applyInPandasWithState (the arbitrary-state path Spark's built-in
    session_window cannot express when the per-session payload is custom).

    State per host: (session_start, last_ts, n_pages, n_bytes). A page
    whose warc_ts is more than `gap_seconds` past the last seen event
    closes the session and opens a new one; event-time timeout flushes a
    session once the watermark passes last_ts + gap. Emits one row per
    CLOSED session: (host, session_start, session_end, n_pages, n_bytes).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "host string, session_start timestamp, session_end timestamp, "
        "n_pages long, n_bytes long"
    )
    state_schema = "start long, last long, n_pages long, n_bytes long"

    def fn(key, pdfs, state: GroupState):
        (host,) = key
        closed = []
        if state.hasTimedOut:
            start, last, np_, nb = state.get
            closed.append((host, start, last, np_, nb))
            state.remove()
        else:
            rows = pd.concat(list(pdfs))
            ts = (rows["warc_ts"].astype("int64") // 1_000_000_000).sort_values()
            sizes = rows["n_bytes"].reindex(ts.index)
            if state.exists:
                start, last, np_, nb = state.get
            else:
                start = last = None
                np_, nb = 0, 0
            for t, sz in zip(ts, sizes):
                t = int(t)
                if last is not None and t - last > gap_seconds:
                    closed.append((host, start, last, np_, nb))
                    start, np_, nb = t, 0, 0
                if start is None:
                    start = t
                else:
                    # late-but-in-watermark event: extends the OPEN
                    # session backward, never moves the frontier back
                    # (a backward `last` would falsely split a continuous
                    # session on the next on-time event)
                    start = min(start, t)
                last = t if last is None else max(last, t)
                np_ += 1
                nb += int(sz)
            state.update((start, last, np_, nb))
            state.setTimeoutTimestamp((last + gap_seconds) * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "host": [c[0] for c in closed],
                    "session_start": pd.to_datetime([c[1] for c in closed], unit="s"),
                    "session_end": pd.to_datetime([c[2] for c in closed], unit="s"),
                    "n_pages": [c[3] for c in closed],
                    "n_bytes": [c[4] for c in closed],
                }
            )

    ev = pages_stream.select(
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host"),
        F.col("warc_ts"),
        # octet_length: BYTES, as the column name promises (F.length is a
        # character count and under-reports multibyte content ~3x for CJK)
        F.octet_length("text").cast("long").alias("n_bytes"),
    ).withWatermark("warc_ts", watermark)
    return ev.groupBy("host").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
    )


def dedup_pages_stream(
    pages_stream: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup: canonical content fingerprint (md5 of
    lowercased whitespace-collapsed text, same normalization as the
    batch `fingerprint` op) + dropDuplicatesWithinWatermark, so a page
    whose content was already seen within the watermark horizon is
    dropped across micro-batches. The watermark BOUNDS the dedup state
    (plain dropDuplicates on a stream grows state forever — the thing
    that kills a long-running 100-TB ingest); duplicates farther apart
    than the horizon are left to the batch dedup pass downstream."""
    from rayjoin_spark.functions.textops import fingerprint

    # the BATCH fingerprint op, verbatim — stream/batch dedup parity is
    # the contract, so the normalization must be the same code object
    return (
        fingerprint(pages_stream)
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


class ExactlyOnceParquetSink:
    """Idempotent epoch-keyed parquet sink for foreachBatch — the standard
    exactly-once pattern: Spark's checkpoint gives at-least-once epoch
    replay, and the sink makes replays no-ops.

    Each epoch writes to ``<dir>/epoch=<id>/`` then atomically drops a
    ``_COMMITTED`` marker (os.rename of a temp file — atomic on POSIX).
    A replayed epoch whose marker exists is skipped entirely; a crash
    mid-write leaves no marker, so the retry overwrites the partial
    output. Readers take committed epochs only (`read_committed`).
    """

    def __init__(self, out_dir: str):
        import os

        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)

    def _epoch_dir(self, epoch_id: int) -> str:
        import os

        return os.path.join(self.out_dir, f"epoch={epoch_id}")

    def committed(self, epoch_id: int) -> bool:
        import os

        return os.path.exists(os.path.join(self._epoch_dir(epoch_id), "_COMMITTED"))

    def __call__(self, df: DataFrame, epoch_id: int) -> None:
        import os

        if self.committed(epoch_id):  # replayed epoch: exactly-once no-op
            return
        d = self._epoch_dir(epoch_id)
        df.write.mode("overwrite").parquet(d)
        tmp = os.path.join(self.out_dir, f".commit-{epoch_id}.tmp")
        with open(tmp, "w") as f:
            f.write(str(epoch_id))
        os.rename(tmp, os.path.join(d, "_COMMITTED"))

    def read_committed(self, spark) -> DataFrame:
        import os

        dirs = [
            os.path.join(self.out_dir, d)
            for d in sorted(os.listdir(self.out_dir))
            if d.startswith("epoch=")
            and os.path.exists(os.path.join(self.out_dir, d, "_COMMITTED"))
        ]
        if not dirs:
            raise FileNotFoundError(f"no committed epochs under {self.out_dir}")
        return spark.read.parquet(*dirs)


def stream_warc_ingest(spark, path: str) -> DataFrame:
    """Streaming archive ingest: watch a directory for WARC files
    (``readStream.format("binaryFile")`` — new archives become
    micro-batches) and parse them into page rows (sources/warc.py; the
    parse is a stateless Arrow-batched mapInPandas, so it streams
    as-is). ``warc_ts`` is materialized as a real timestamp so the
    result composes with the watermarked aggregations above; compose
    with ExactlyOnceParquetSink for an exactly-once parquet landing zone
    — together that is the continuous-crawl front door: drop .warc.gz
    files in, get an idempotent pages table out.
    """
    from rayjoin_spark.sources.warc import parse_warc_blobs

    blobs = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .load(path)
    )
    parsed = parse_warc_blobs(blobs, "content")
    return parsed.withColumn("warc_ts", F.timestamp_seconds(F.col("ts_epoch")))


def stream_burst_detect(
    events_stream: DataFrame,
    bucket_us: int = 3_600_000_000,
    window: int = 6,
    factor: int = 3,
    min_history: int = 3,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of functions/eventops.burst_detect — same
    integer-exact rule (bucket bursts when n * trailing >= factor *
    prev_sum over the previous <= `window` OBSERVED buckets, >=
    min_history required), evaluated as buckets CLOSE: a bucket is
    finalized once the event-time watermark passes its end, so every
    in-watermark event is counted before the verdict and each bucket is
    emitted exactly once.

    State per event_type (applyInPandasWithState, event-time timeout):
    the open per-bucket counts still inside the watermark plus the
    trailing deque of the last `window` FINALIZED (bucket, count) pairs.
    Spark drops rows older than the watermark before the stateful
    operator, so pending buckets are always >= the watermark bucket and
    finalization order is monotone in bucket id — the trailing window
    matches the batch operator's bucket-ordered semantics exactly
    (parity pinned by test_streaming_burst_parity). Timeouts flush
    buckets whose close falls between data batches.

    Input: a stream with (ts timestamp, event_type string). Output rows
    mirror the batch operator: (event_type, bucket, n_events, prev_sum,
    trailing, burst).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "event_type string, bucket long, n_events long, prev_sum long, "
        "trailing long, burst boolean"
    )
    state_schema = (
        "pend_b array<long>, pend_n array<long>, "
        "trail_b array<long>, trail_n array<long>"
    )

    def fn(key, pdfs, state: GroupState):
        (etype,) = key
        if state.exists:
            pb, pn, tb, tn = state.get
            pend = dict(zip(pb, pn))
            trail = list(zip(tb, tn))
        else:
            pend, trail = {}, []
        if not state.hasTimedOut:
            for pdf in pdfs:
                # NaT would become INT64_MIN under astype and poison the
                # trailing deque with a garbage ancient bucket; drop null
                # timestamps explicitly (same policy as batch burst_detect)
                pdf = pdf[pdf["ts"].notna()]
                ns = pdf["ts"].astype("int64")
                us = ns // 1000
                b = (us - us % bucket_us) // bucket_us  # floor, exact
                for bb, cnt in b.value_counts().items():
                    bb = int(bb)
                    pend[bb] = pend.get(bb, 0) + int(cnt)
        wm_ms = state.getCurrentWatermarkMs()
        out = []
        for bb in sorted(pend):
            if (bb + 1) * bucket_us // 1000 > wm_ms:
                break  # this and all later buckets are still open
            n = pend.pop(bb)
            recent = trail[-window:]
            prev_sum = sum(x[1] for x in recent)
            trailing = len(recent)
            burst = bool(
                trailing >= min_history and n * trailing >= factor * prev_sum
            )
            out.append((etype, bb, n, prev_sum, trailing, burst))
            trail.append((bb, n))
            trail = trail[-window:]
        state.update(
            (
                sorted(pend.keys()),
                [pend[k] for k in sorted(pend.keys())],
                [b for b, _ in trail],
                [c for _, c in trail],
            )
        )
        if pend:
            # earliest pending close; > watermark by the loop invariant
            state.setTimeoutTimestamp(
                min((bb + 1) * bucket_us // 1000 for bb in pend)
            )
        if out:
            yield pd.DataFrame(
                {
                    "event_type": [o[0] for o in out],
                    "bucket": [o[1] for o in out],
                    "n_events": [o[2] for o in out],
                    "prev_sum": [o[3] for o in out],
                    "trailing": [o[4] for o in out],
                    "burst": [o[5] for o in out],
                }
            )

    ev = events_stream.select(
        F.col("ts").cast("timestamp").alias("ts"), F.col("event_type")
    ).withWatermark("ts", watermark)
    return ev.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
    )
