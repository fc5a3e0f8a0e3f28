"""The reference's database example, Spark-first — into a REAL database.

Upstream's ``examples/database.py`` runs WordRamp -> sentence split ->
word count -> WordToDict -> ``DatabaseInsertIntersection`` upserting
(word, count) rows into SQL by primary key
(/root/reference/examples/database.py:47-76). Here the same pipeline is
a Structured Streaming query: the ``wordgen`` source emits sentences,
the counts aggregate incrementally, and every micro-batch MERGEs into a
SQL table through ``DbApiUpsertSink`` — ``INSERT ... ON CONFLICT DO
UPDATE`` over any DB-API driver, replay-idempotent via an in-database
batch ledger.

The demo uses stdlib SQLite (zero setup); point ``connection_factory``
at ``psycopg2.connect`` and the identical statements run on Postgres —
``docker compose up -d postgres`` provides one, matching the
reference's postgresql:// target.

Run: ``python examples/database_pipeline.py``
"""

from __future__ import annotations

# allow "python examples/<name>.py" from a source checkout without install
import os as _os
import sys as _sys

_sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

import functools
import sqlite3
import tempfile

from pyspark.sql import functions as F


def count_words_into_db(spark, db_path: str, n_sentences: int = 40):
    """wordgen stream -> split -> count -> MERGE into SQLite. Returns
    the sink (read the table back with sqlite3)."""
    from motorway_spark.sinks.dbapi import DbApiUpsertSink
    from motorway_spark.sources import register_sources
    from motorway_spark.streaming.runner import run_foreach_batch

    register_sources(spark)
    sink = DbApiUpsertSink(
        functools.partial(sqlite3.connect, db_path, timeout=30),
        table="word_counts",
        key_cols=["word"],
    )
    stream = (
        spark.readStream.format("sentences")
        .option("count", str(n_sentences))
        .load()
        .select(F.explode(F.split(F.col("sentence"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    # raises on a drain timeout instead of leaving a partial table
    with tempfile.TemporaryDirectory(prefix="wordcount_ckpt_") as ckpt:
        run_foreach_batch(stream, sink.foreach_batch(), ckpt, output_mode="update")
    return sink


def main() -> None:
    from motorway_spark.session import get_session

    spark = get_session("example-database", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    db = tempfile.mktemp(suffix=".db", prefix="wordcount_")
    try:
        count_words_into_db(spark, db)
        with sqlite3.connect(db) as conn:
            rows = conn.execute(
                "SELECT word, count FROM word_counts ORDER BY count DESC, word"
            ).fetchall()
        for word, count in rows[:10]:
            print(f"{word:>12}  {count}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
