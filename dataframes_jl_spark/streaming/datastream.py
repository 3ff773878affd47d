"""Streaming / out-of-core minibatch processing (reference
src/datastream.jl).

The reference's ``DataStream`` re-parses a CSV in ``nrows``-row chunks
on one machine (openstream src/datastream.jl:23-54, iteration :62-79)
and accumulates single-pass NA-skipping aggregates (streaming sum/prod/
mean src/datastream.jl:87-247). Spark-first this splits into two modes:

- **minibatch iteration** (``DataStream``): Arrow-batched
  ``toLocalIterator`` over any DataFrame — constant driver memory, the
  executors stream partitions on demand. This is the literal analog of
  the reference's chunk loop for driver-side consumption.
- **streaming aggregation** (``stream_aggregate``): Structured Streaming
  file source → incremental agg → memory/any sink. Spark maintains the
  accumulate-across-chunks state the reference hand-rolled; watermarks
  and event-time windows (absent in the reference) come free.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class DataStream:
    """Minibatch iterator over a DataFrame source (reference
    AbstractDataStream src/datastream.jl:8-21).

    Yields pandas DataFrames of ``nrows`` rows. Uses toLocalIterator
    (prefetching one partition at a time) — the driver never holds more
    than one partition + one chunk."""

    def __init__(self, df: DataFrame, nrows: int = 1000):
        self.df = df
        self.nrows = nrows

    def __iter__(self) -> Iterator[pd.DataFrame]:
        buf: list = []
        cols = self.df.columns
        for row in self.df.toLocalIterator(prefetchPartitions=True):
            buf.append(row)
            if len(buf) >= self.nrows:
                yield pd.DataFrame(buf, columns=cols)
                buf = []
        if buf:
            yield pd.DataFrame(buf, columns=cols)

    # single-pass streaming aggregates (reference src/datastream.jl:87-247):
    # in Spark these are just lazy aggregates — the partial/final split the
    # reference hand-implements per chunk is HashAggregate's partial mode.
    def colsums(self, cols: Sequence[str] | None = None) -> dict[str, float]:
        return self._agg(F.sum, cols)

    def colmeans(self, cols: Sequence[str] | None = None) -> dict[str, float]:
        return self._agg(F.avg, cols)

    def _agg(self, fn, cols):
        from ..functions.stats import numeric_cols

        cols = cols if cols is not None else numeric_cols(self.df)
        row = self.df.agg(*[fn(c).alias(c) for c in cols]).collect()[0]
        return {c: row[c] for c in cols}


def openstream(
    spark: SparkSession, path: str, nrows: int = 1000, **read_kwargs
) -> DataStream:
    """openstream(filename; nrows) (reference src/datastream.jl:23-54)."""
    from ..io.parquet import load_df
    from ..io.readtable import readtable

    if path.endswith(".parquet"):
        df = load_df(spark, path)
    else:
        df = readtable(spark, path, **read_kwargs)
    return DataStream(df, nrows)


def read_minibatch(ds: DataStream) -> pd.DataFrame | None:
    """read_minibatch (reference export src/DataFrames.jl:128): first
    chunk convenience."""
    return next(iter(ds), None)


def stream_aggregate(
    spark: SparkSession,
    path: str,
    schema: str,
    agg_exprs: dict[str, str],
    group_by: Sequence[str] = (),
    query_name: str = "stream_agg",
    fmt: str = "csv",
    max_files_per_trigger: int = 1,
):
    """Structured Streaming incremental aggregation over a file-source
    directory (reference streaming sum/prod/mean src/datastream.jl:87-247,
    distributed to executors).

    Returns the started StreamingQuery writing ``complete``-mode results
    to an in-memory table named ``query_name``. Callers poll
    ``spark.sql(f"SELECT * FROM {query_name}")`` or block with
    ``q.processAllAvailable()``.
    """
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if fmt == "csv":
        stream = reader.option("header", True).csv(path)
    elif fmt == "parquet":
        stream = reader.parquet(path)
    else:
        raise ValueError(f"unsupported stream format {fmt!r}")

    exprs = [F.expr(e).alias(name) for name, e in agg_exprs.items()]
    agg = (
        stream.groupBy(*group_by).agg(*exprs)
        if group_by
        else stream.agg(*exprs)
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 day",
    group_cols: Sequence[str] = ("event_type",),
):
    """Event-time tumbling/sliding window aggregation with a watermark —
    beyond-reference Structured Streaming surface (SURVEY §2.10 'Not
    present'), also valid on batch DataFrames (time-bucket rollup)."""
    w = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return src.groupBy(w.alias("win"), *group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        # decimal-exact sum: partition-order-independent double total
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *group_cols,
        "n",
        "total_value",
    )


def select_row(ds: DataStream, i: int):
    """Streaming ``select(ds, i)`` (reference src/datastream.jl:448-458):
    scan minibatches until global row ``i`` (0-based) in stream order —
    the same sequential-scan contract as the reference, driver-side by
    construction."""
    seen = 0
    for chunk in ds:
        if seen + len(chunk) > i:
            return chunk.iloc[i - seen]
        seen += len(chunk)
    return None


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
    how: str = "inner",
):
    """Event-time stream-stream join — beyond-reference Structured
    Streaming surface (SURVEY §2.10 'Not present').

    Joins each left row to right rows with the same key whose event time
    falls in ``[left_ts - max_lag, left_ts]``. Both sides get a
    watermark, and the time-interval condition bounds the join state the
    engine must buffer: a right row can be dropped from state once the
    left watermark passes ``right_ts + max_lag`` — without the interval
    condition the state would grow forever. Also valid on batch frames
    (the watermark is skipped), which is how the unit test proves
    stream/batch agreement.

    Column names of the two sides must be disjoint (rename before
    calling); the key equality is part of the join condition so both
    key columns survive, matching stream-stream join requirements.
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"rename overlapping columns before joining: {sorted(overlap)}")
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (l[left_key] == r[right_key])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {max_lag}"))
        & (r[right_ts] <= l[left_ts])
    )
    return l.join(r, cond, how)


def dedup_stream(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
):
    """Exactly-once ingest dedup — drop repeated deliveries of the same
    key (e.g. an event id re-sent by an at-least-once source).

    On a stream with ``ts_col``: ``dropDuplicatesWithinWatermark`` — the
    engine keeps per-key state only until the watermark passes, so state
    is bounded by the lateness budget instead of growing with the
    stream. On batch frames: plain ``dropDuplicates`` over the keys.
    """
    keys = list(keys)
    if df.isStreaming and ts_col is not None:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_once: bool = True,
):
    """Incremental exactly-once parquet sink.

    The file sink + checkpoint pair is the durable end of a streaming
    pipeline: offsets and the file-commit log live in ``checkpoint``,
    so a restart resumes exactly where the last successful batch ended
    and never double-writes (the sink's _spark_metadata commit log is
    what readers trust, not the bare directory listing). With
    ``trigger_once`` the query drains everything available and stops —
    the standard incremental-batch pattern: a 100 TB backfill and the
    nightly increment run the SAME code, cost scales with new data
    only.
    """
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def curate_stream(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    ts_col: str | None = None,
    watermark: str = "1 hour",
    redact: bool = True,
):
    """Streaming-safe corpus curation: Gopher + C4 page-rule filtering,
    PII redaction, and ingest dedup composed into one pipeline.

    Every quality rule is a stateless Column expression and the dedup
    is watermark-bounded, so the SAME call runs as a batch job over a
    backfill and as a ``readStream`` over the live feed — the
    batch/stream parity a production ingest needs (and what the
    agreement test pins).
    """
    from ..llm import c4_keep, gopher_pass
    from ..llm.text import redact_pii

    out = df.filter(
        gopher_pass(text_col, min_words=min_words) & c4_keep(text_col)
    )
    if redact:
        out = out.withColumn(text_col, redact_pii(F.col(text_col)))
    return dedup_stream(out, [id_col], ts_col=ts_col, watermark=watermark)
