"""Watermarked event-time windowed corpus stats: one function, run both
as a Structured Streaming query (readStream drained into a memory sink)
and as a batch aggregate, must agree on every finalized window."""

import glob
import os
import shutil
import time

import pandas as pd

from powershap_spark.operators.text import streaming_corpus_stats


def _write_doc_batch(spark, flat_dir, rows, name):
    """One parquet file per microbatch, staged beside the watched dir and
    copied into it with a distinct mtime so the file source's batch order
    is deterministic."""
    pdf = pd.DataFrame(
        [
            {
                "doc_id": i,
                "ts": pd.Timestamp(t),
                "lang": lang,
                "text": text,
            }
            for i, (t, lang, text) in enumerate(rows)
        ]
    )
    stage = os.path.join(os.path.dirname(flat_dir), f"stage_{name}")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(stage)
    os.makedirs(flat_dir, exist_ok=True)
    shutil.copy(
        glob.glob(os.path.join(stage, "*.parquet"))[0],
        os.path.join(flat_dir, f"{name}.parquet"),
    )
    time.sleep(1.05)


def test_streaming_corpus_stats_parity_and_late_merge(spark, tmp_path):
    """Watermarked windowed aggregation contract: (a) streamed result ==
    the SAME function run in batch mode, restricted to finalized windows
    (end <= final watermark) — cross-microbatch accumulation included;
    (b) the unfinalized last window is withheld in append mode; (c) an
    out-of-order row arriving within watermark_delay is guaranteed merged
    into its (already-open) window."""
    flat = str(tmp_path / "docs")
    batches = [
        [
            ("2024-01-01 00:10", "en", "the cat sat on the mat today fine"),
            ("2024-01-01 00:40", "de", "der hund ist gut und laut heute"),
        ],
        [
            ("2024-01-01 01:15", "en", "it is a fine day to code and ship"),
            # out-of-order WITHIN the 2h delay: lands back in window 0
            ("2024-01-01 00:20", "en", "you know that it is still early"),
        ],
        [
            ("2024-01-01 02:20", "de", "die katze und der hund sind da"),
            ("2024-01-01 03:05", "en", "that was the last one of the feed"),
        ],
    ]
    for i, rows in enumerate(batches):
        _write_doc_batch(spark, flat, rows, f"b{i}")

    schema = "doc_id long, ts timestamp, lang string, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out = streaming_corpus_stats(stream, "1 hour", "2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("corpus_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3  # really ran multi-batch
    got = (
        spark.sql("select * from corpus_stats")
        .toPandas()
        .sort_values(["window_start", "lang"])
        .reset_index(drop=True)
    )

    # batch mode of the SAME function on the full input
    batch_df = streaming_corpus_stats(
        spark.read.parquet(flat), "1 hour", "2 hours"
    ).toPandas()
    # final watermark = max event time (03:05) - 2h delay = 01:05: only
    # window [00:00, 01:00) is finalized and emitted
    expected = (
        batch_df[batch_df.window_end <= pd.Timestamp("2024-01-01 01:05")]
        .sort_values(["window_start", "lang"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected)

    # the late-merged row is inside the window-0 'en' aggregate
    w0en = got[(got.lang == "en") & (got.window_start == pd.Timestamp("2024-01-01"))]
    assert int(w0en.n_docs.iloc[0]) == 2

    # append mode withheld the open windows (01:00, 02:00, 03:00 starts)
    assert len(got) < len(batch_df)
    assert got.window_start.max() == pd.Timestamp("2024-01-01 00:00:00")
