"""Run a streaming query to completion over the data already present.

Every registry ``stream_*`` query and ``render_stream_once`` replay a
parquet table through Structured Streaming with the ``availableNow``
trigger: the query processes every file present at start, then stops.
The contract, in one place:

* a replay that does not finish within :data:`REPLAY_TIMEOUT_S` is
  stopped and raises :class:`TimeoutError` — never a partial result (a
  replay that fails raises its ``StreamingQueryException`` from the wait);
* a memory-sink replay drops its temp view after reading it, so no
  query-named table stays registered in the session (the returned frame
  keeps working: its resolved plan holds the sink itself).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

#: seconds a replay may run before it is stopped and reported as failed
REPLAY_TIMEOUT_S = 600


def parquet_source(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Streaming source over ``<sf_dir>/<table>.parquet`` with the batch
    read's schema (a file source needs one up front)."""
    from ..queries import load

    schema = load(spark, sf_dir, table).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def replay(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` with the availableNow trigger and wait for it;
    stop it and raise ``TimeoutError`` if it outlives the timeout."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(REPLAY_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming replay {q.name or q.id} did not finish within "
            f"{REPLAY_TIMEOUT_S}s"
        )
    return q


def replay_to_memory(df: DataFrame, name: str) -> DataFrame:
    """Replay the streaming ``df`` into an append-mode memory sink and
    return its rows as a batch frame; the sink's temp view is dropped."""
    spark = df.sparkSession
    view = f"{name}_{uuid.uuid4().hex[:8]}"
    writer = df.writeStream.format("memory").queryName(view).outputMode("append")
    try:
        replay(writer)
        return spark.table(view)
    finally:
        spark.catalog.dropTempView(view)
