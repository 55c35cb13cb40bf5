"""Structured Streaming ingest — the carbon daemon analog.

The reference repo stores; its sibling (carbon) streams points into it
(reference: README.md:13 — "Graphite is composed of ... carbon - a Twisted
daemon that listens for time-series data").  Whisper's own semantics are
already streaming-shaped (SURVEY.md §2.4): per-point ingest with late-data
acceptance anywhere within retention (whisper.py:693-696), idempotent
last-write-wins slot overwrite, bounded state.

Spark mapping:

* source: any ``readStream`` (file/socket/kafka) of line-protocol or
  structured points
* sink: ``foreachBatch`` running WhisperStore.update_many — the SAME
  batch pipeline as offline ingest (align -> LWW dedup -> rollup cascade
  -> one append per batch), so batch/stream parity is by construction;
  a failed batch writes nothing, and its replay writes it whole
* watermark/late data: points older than maxRetention are dropped by the
  age-bucketing step itself — the store IS the watermark state, bounded
  by retention just like the ring buffer was.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..store import WhisperStore


def parse_line_protocol(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse the graphite/carbon plaintext protocol ``<metric> <value>
    <timestamp>`` (one point per line — the same shape whisper-update
    reads from argv/stdin, reference: bin/whisper-update.py:29-46).

    Returns (metric, ts, value, seq) rows; malformed lines are dropped.
    ``N`` or a missing timestamp means "now" and resolves per-batch.

    Tagged names (``name;key=value;...``) normalize to carbon's stored
    form — tags SORTED by key (carbon tags.py public behavior), so
    ``cpu;host=a;dc=x`` and ``cpu;dc=x;host=a`` land in one series, and
    seriesByTag/groupByTags see one canonical name.  Untagged names
    pass through untouched (the normalizer is a pure column expression,
    streaming-legal).
    """
    col = lines.columns[0]
    parts = F.split(F.trim(F.col(col)), r"\s+")
    # F.get is null-safe on short arrays (ANSI mode makes getItem throw)
    out = lines.select(
        F.get(parts, 0).alias("metric"),
        F.get(parts, 1).alias("_raw_value"),
        F.get(parts, 2).alias("_raw_ts"),
    )
    segs = F.split(F.col("metric"), ";")
    # sort by tag KEY (carbon's order), not the raw "key=value" string:
    # '=' sorts above digits, so prefix keys (a vs a1) would misorder
    sorted_tags = F.expr(
        "transform(array_sort(transform(slice(split(metric, ';'), 2, "
        "100000), kv -> struct(substring_index(kv, '=', 1) AS k, "
        "kv AS kv))), s -> s.kv)"
    )
    normalized = F.concat_ws(
        ";", F.get(segs, 0), F.array_join(sorted_tags, ";")
    )
    out = out.withColumn(
        "metric",
        F.when(F.col("metric").contains(";"), normalized)
        .otherwise(F.col("metric")),
    )
    now = F.unix_timestamp()
    return (
        # try_cast: malformed lines yield NULL (dropped below) instead of
        # failing the batch under ANSI mode
        out.withColumn("value", F.col("_raw_value").try_cast("double"))
        .withColumn(
            "ts",
            F.when(
                F.col("_raw_ts").isNull() | (F.col("_raw_ts") == "N"), now
            ).otherwise(F.col("_raw_ts").try_cast("long")),
        )
        .filter(F.col("metric").isNotNull() & F.col("value").isNotNull() & F.col("ts").isNotNull())
        # no arrival-order column in a text stream
        # (monotonically_increasing_id is unsupported on streaming DFs);
        # within-batch duplicate slots resolve by raw timestamp, matching
        # the reference's bulk path (whisper.py:806-808)
        .withColumn("seq", F.lit(0).cast("long"))
        .select("metric", "ts", "value", "seq")
    )


def start_ingest(
    stream: DataFrame,
    store: WhisperStore,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    now_fn=None,
):
    """Run a streaming DataFrame of points (metric, ts, value[, seq]) into
    a WhisperStore via foreachBatch.

    Exactly-once-per-batch: Structured Streaming replays a failed batch
    with the same batch_id.  update_many commits a batch with one append
    (points and rollups together), so a failed batch leaves no rows, and
    its last-write-wins append makes the replay idempotent at the slot
    level (same data -> same final slots), mirroring whisper's idempotent
    positional overwrite.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if "seq" not in batch_df.columns:
            batch_df = batch_df.withColumn("seq", F.lit(0).cast("long"))
        now = now_fn() if now_fn else None
        store.update_many(
            batch_df.select("metric", "ts", "value", "seq"), now=now
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
