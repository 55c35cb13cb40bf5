#!/usr/bin/env python
"""Decompose stream_render_composed wall-clock: chained streaming core
alone vs the full composed target (core + per-batch sumSeries/scale).
Run in a FRESH session each time (JIT lottery — see PERF.md round-11)."""
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from whisper_spark import queries as Q  # noqa: E402
from whisper_spark.queries import sec  # noqa: E402
from whisper_spark.session import get_spark  # noqa: E402
from whisper_spark.streaming.render import render_stream_once  # noqa: E402
from whisper_spark.streaming.replay import parquet_source, replay  # noqa: E402
from whisper_spark.streaming.rollup import chained_moving_average  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(
    app_name="profile_composed",
    extra_conf={
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
    },
)
Q.load(spark, sf_dir, "events").count()  # warmup listing/codegen


def mk_pts():
    src = parquet_source(spark, sf_dir, "events")
    return src.select(
        F.col("event_type").alias("metric"),
        sec(src, "ts").alias("ts"),
        F.col("value"),
        F.col("event_id").alias("seq"),
    )


which = sys.argv[1] if len(sys.argv) > 1 else "both"
for phase in (["core", "full"] if which == "both" else [which]):
    t0 = time.time()
    if phase == "core":
        agg = chained_moving_average(
            mk_pts(), 5, step_seconds=60, method="max", watermark_seconds=600
        )
        replay(
            agg.writeStream.format("noop")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="pc_core_"))
            .outputMode("append")
        )
    else:
        out = render_stream_once(
            spark,
            mk_pts(),
            "scale(sumSeries(movingAverage(*, 5)), 2)",
            tempfile.mkdtemp(prefix="pc_full_"),
            step_seconds=60,
            method="max",
            watermark_seconds=600,
        )
        out.select("ts", "value").write.format("noop").mode("overwrite").save()
    print(f"{phase}: {time.time() - t0:.3f} s", flush=True)
