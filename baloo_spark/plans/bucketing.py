"""Bucketed tables: shuffle-free co-located joins.

For dimension/fact pairs joined repeatedly on the same key, bucketing
pays the shuffle ONCE at write time: both tables are hash-partitioned
into the same number of buckets on the join key, so every subsequent
join reads matching buckets side by side — the executed plan has NO
Exchange on either side (asserted in tests/test_plans.py).

At 100 TB this is the difference between re-shuffling a fact table per
query and never shuffling it at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, keys, buckets: int = 32,
                   sort: bool = True) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table.

    Idempotent: drops a prior table AND its orphaned location (a
    dropped catalog entry does not clean files a failed run left
    behind; on a real deployment the catalog/metastore owns this).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    if wh:
        import shutil
        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on, how: str = "inner") -> DataFrame:
    """Join two same-bucketed tables — planned without any Exchange
    when bucket specs match."""
    on = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), on, how)
