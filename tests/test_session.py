"""get_spark's Arrow batch caps, observed from inside mapInPandas."""

from __future__ import annotations

from pyspark.sql import functions as F

from ragflow_spark.session import ARROW_MAX_BYTES_PER_BATCH

ROW_BYTES = 512 << 10


def test_arrow_batches_bounded_by_bytes(spark):
    """64 rows of 512 KiB in one partition stay under the 256-row cap,
    so only the byte cap can split them: every batch the Python worker
    receives holds at most the cap plus the row that crossed it."""

    def sizes(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"rows": [len(pdf)], "bytes": [int(pdf["b"].map(len).sum())]}
            )

    df = spark.range(64, numPartitions=1).select(
        F.expr(f"cast(repeat('x', {ROW_BYTES}) as binary)").alias("b")
    )
    got = df.mapInPandas(sizes, "rows long, bytes long").collect()
    assert sum(r.rows for r in got) == 64
    assert len(got) > 1
    assert max(r.bytes for r in got) <= ARROW_MAX_BYTES_PER_BATCH + ROW_BYTES
