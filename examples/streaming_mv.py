"""A Structured Streaming pipeline that keeps an incremental MV fresh.

The shape production jobs use: a file stream lands batches into a Delta
base table (jar-less log writer) inside ``foreachBatch``, and the SAME
micro-batch hook refreshes the aggregate MV from the base's change feed.
Because both the base append and the MV refresh are watermark-carrying
atomic commits, a crash between them is safe at every point:

- crash after the base append, before the refresh: the NEXT refresh
  folds the missed versions (the MV watermark says where to resume);
- replayed micro-batch: the base append is keyed by batch id via the
  stream's own checkpoint, and refresh_agg_mv no-ops when the watermark
  already covers the head.

Run: python examples/streaming_mv.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polars_incremental_spark import get_spark
from polars_incremental_spark.mv import create_agg_mv, refresh_agg_mv
from polars_incremental_spark.sinks.deltalog import (
    read_delta_fallback,
    write_delta_fallback,
)


def main() -> None:
    spark = get_spark("streaming-mv-demo")
    work = tempfile.mkdtemp(prefix="pis_stream_mv_")
    landing = os.path.join(work, "landing")
    base = os.path.join(work, "sales")
    mv = os.path.join(work, "revenue_by_region")
    os.makedirs(landing)

    # seed the base + MV
    write_delta_fallback(
        spark.createDataFrame(
            [("eu", 100), ("us", 200)], "region string, amount long"
        ),
        base,
    )
    create_agg_mv(spark, base, mv, group_cols=["region"], sum_cols=["amount"])

    def fold_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_delta_fallback(batch_df, base, mode="append")
        res = refresh_agg_mv(spark, base, mv)
        print(f"batch {batch_id}: refresh -> {res}")

    stream = (
        spark.readStream.schema("region string, amount long")
        .parquet(landing)
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        for i, rows in enumerate(
            [[("eu", 25), ("apac", 70)], [("us", 5), ("apac", 30)]]
        ):
            # the file stream lists the TOP level of `landing`, so each
            # batch must land as a file there (not a subdirectory)
            stage = os.path.join(work, f"stage{i}")
            spark.createDataFrame(
                rows, "region string, amount long"
            ).coalesce(1).write.parquet(stage)
            part = next(
                p for p in os.listdir(stage) if p.endswith(".parquet")
            )
            os.rename(
                os.path.join(stage, part),
                os.path.join(landing, f"batch{i}.parquet"),
            )
            time.sleep(3)
        deadline = time.time() + 30
        while time.time() < deadline:
            got = {
                r["region"]: r["sum_amount"]
                for r in read_delta_fallback(spark, mv).collect()
            }
            if got.get("apac") == 100 and got.get("us") == 205:
                break
            time.sleep(1)
        print("mv state:", got)
        assert got == {"eu": 125, "us": 205, "apac": 100}, got
        print("streaming MV converged to the exact aggregate")
    finally:
        stream.stop()
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
