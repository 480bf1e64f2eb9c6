"""Streaming surfaces.

The reference's "streaming" is chunked iteration over a bounded channel with
backpressure (`src/orc/read.clj:75,101-103`, `src/orc/json.clj:48-101`) — a
producer thread pushing numbered chunks to one consumer.  The Spark-native
equivalents:

* :func:`stream_decode` — Structured Streaming over the store's commit
  records: parts markers land under ``manifest/parts`` → each micro-batch
  decodes their parts through batch ``decode()`` → token rows flow to the
  sink, partitioned by ``_part_id``.  Backpressure = ``maxFilesPerTrigger``
  (the ``buf-size`` analog, `src/orc/read.clj:16`); each committed part is
  taken once, as the reference's consumer takes each numbered batch
  (`src/orc/read.clj:75,94`).  A marker is written after its part's chunk
  and manifest files, so a part is decoded only once it has committed, and
  a rewritten part (a new marker name) replaces its rows in the sink.
* :func:`windowed_event_counts` — event-time tumbling-window aggregation with
  a watermark for late data: the standard streaming-analytics surface the
  reference lacks entirely (SURVEY.md §2.3).
* :func:`stream_encode` — the ingest direction: token-table parquet files
  land → each micro-batch is planned from the files its source log names
  and encoded by the batch encode's zero-shuffle writer into the SAME
  chunks+manifest layout, so batch ``decode``/``verify`` work on a
  streaming-built store.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, functions as F


def _source_log_files(checkpoint: str, batch_id: int) -> list[str]:
    """File URIs the FileStreamSource assigned to ``batch_id``, from its
    commit log at ``<checkpoint>/sources/0/<batch_id>`` (header line ``v1``,
    then one JSON object per file).  Every ``compactInterval``-th batch
    (default 10) the source writes ``<batch_id>.compact`` instead, holding
    ALL entries so far, each tagged with its ``batchId``.  A missing or
    unreadable entry raises, naming the checkpoint: the log is the only
    record of what the batch holds, and a guess would drop or repeat
    rows."""
    import json

    from ..pipeline import pafs

    base = os.path.join(checkpoint, "sources", "0", str(int(batch_id)))
    compact = None
    text = pafs.read_text(base)
    if text is None:
        text = pafs.read_text(base + ".compact")
        compact = int(batch_id)
    if text is None:
        raise RuntimeError(
            f"checkpoint {checkpoint!r} has no source-log entry for batch "
            f"{batch_id} ({base!r})"
        )
    files = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("v"):
            continue
        try:
            entry = json.loads(line)
            if compact is not None and int(entry["batchId"]) != compact:
                continue
            files.append(entry["path"])
        except (ValueError, KeyError, TypeError) as e:
            raise RuntimeError(
                f"checkpoint {checkpoint!r}: unreadable source-log entry "
                f"for batch {batch_id}: {line[:200]!r} ({e})"
            ) from e
    return sorted(files)


def stream_decode(
    spark,
    out_dir: str,
    sink_dir: str,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Continuously decode the parts a store commits; returns the query.

    The stream tails the parts markers (``out_dir/manifest/parts``), the
    store's commit records: a part's marker is written after its chunk and
    manifest files, and a rewritten part gets a marker under a new name, so
    a part without a marker is never decoded and a rewritten one is decoded
    again.  Each micro-batch takes its marker files from the file source's
    own commit log (:func:`_source_log_files`; ``inputFiles()`` is empty
    inside foreachBatch), maps them to ``part_id``s and decodes each part
    with batch :func:`~clj_orc_spark.pipeline.decode.decode`.  The sink is
    partitioned by ``_part_id`` and each batch overwrites its parts'
    partitions, so a rewritten part replaces its rows and foreachBatch's
    at-least-once replays are idempotent.
    """
    from ..pipeline.decode import _part_label, decode
    from ..pipeline.encode import PARTS_DDL

    stream = (
        spark.readStream.schema(PARTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(os.path.join(out_dir, "manifest", "parts"))
    )
    checkpoint = os.path.join(sink_dir, "_checkpoint")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        pids = sorted({int(_part_label(f).split("=")[1])
                       for f in _source_log_files(checkpoint, batch_id)})
        if not pids:
            return
        sess = batch_df.sparkSession
        parts = [
            decode(sess, out_dir, part_ids=[p]).withColumn("_part_id",
                                                           F.lit(p))
            for p in pids
        ]
        (
            functools.reduce(DataFrame.union, parts)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_part_id")
            .parquet(sink_dir)
        )

    writer = stream.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_encode(
    spark,
    input_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 8,
    parts_per_batch: int | None = None,
    chunk_bytes: int | None = None,
    available_now: bool = True,
    selection: str = "size",
):
    """Structured-Streaming encode: new token-table files → encoded chunks.

    Each micro-batch is planned from the files its source log names
    (:func:`_source_log_files`; the Delta Lake shape — the commit log's
    files are the unit of work): their footers are LPT-packed into at most
    ``parts_per_batch`` (K) parts with ids ``batch_id * K + i``
    (``encode._rowgroup_plan``), then encoded by the batch encode's
    zero-shuffle writer and committed by its commit, one Spark job per
    micro-batch.  The plan depends only on the logged files, their footers
    and the pinned K, so a replayed batch (foreachBatch at-least-once)
    recomputes the SAME parts: its encode tasks replace each part's chunk
    file and manifest file, and the commit each part's marker, the streaming
    analog of the batch pipeline's per-partition lineage.  Output layout,
    manifest, decode and verify are identical to the batch path.
    """
    import json

    from ..pipeline import pafs
    from ..pipeline.encode import (
        DEFAULT_CHUNK_BYTES,
        DEFAULT_SCHEMA,
        ROLLUP_DDL,
        _commit_manifest,
        _rowgroup_plan,
        _schema_from_files,
        make_rowgroup_encoder,
        rowgroup_work_df,
        write_chunk_files,
    )

    cb = chunk_bytes or DEFAULT_CHUNK_BYTES
    # replay idempotency REQUIRES the same part_id namespace across
    # restarts: a replayed batch planned with a different k would write new
    # partitions instead of overwriting the committed ones.  Pin k in a
    # sidecar on first start, exactly like batch encode pins plan.json.
    meta_path = os.path.join(out_dir, "stream_meta.json")
    text = pafs.read_text(meta_path)
    if text is not None:
        pinned = json.loads(text)["parts_per_batch"]
        if parts_per_batch is not None and parts_per_batch != pinned:
            raise ValueError(
                f"out_dir was started with parts_per_batch={pinned}; a "
                f"restart must keep it (got {parts_per_batch})"
            )
        k = pinned
    else:
        k = parts_per_batch or spark.sparkContext.defaultParallelism
        pafs.write_text(meta_path, json.dumps({"parts_per_batch": k}))
    # the landing dir's schema is the token-table contract — never inferred
    # (inference crashes on the EMPTY landing dir a fresh ingest starts with)
    stream = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    checkpoint = os.path.join(out_dir, "_checkpoint")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        uris = _source_log_files(checkpoint, batch_id)
        if not uris:
            return
        # one landing location: one filesystem, fs-native unit paths
        fs, _ = pafs.resolve(uris[0])
        files = [pafs.resolve(u)[1] for u in uris]
        got = {tuple(t) for t in _schema_from_files(files, fs)}
        if not set(DEFAULT_SCHEMA) <= got:
            raise ValueError(
                f"stream_encode encodes the token-table schema "
                f"{list(DEFAULT_SCHEMA)}; {uris[0]!r} has {sorted(got)}"
            )
        plan = _rowgroup_plan(files, k, explicit=False, fs=fs)
        base = int(batch_id) * k
        parts = {base + i: units for i, units in enumerate(plan["parts"])}
        # a replay draws a new run_id: its files replace the batch's parts
        rollup = rowgroup_work_df(sess, parts, list(parts)).mapInArrow(
            write_chunk_files(make_rowgroup_encoder(cb, fs, selection),
                              out_dir),
            ROLLUP_DDL,
        )
        _commit_manifest(sess, out_dir, rollup, list(parts))

    writer = stream.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Event-time tumbling window counts with late-data watermark.

    Works on both a static DataFrame (tests/oracle parity) and a streaming
    one (``spark.readStream``) — same plan, Catalyst handles both.
    """
    # parquet timestamp[us] loads as TIMESTAMP_NTZ; watermarks need TIMESTAMP
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 3).alias("value_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            key_col,
            "cnt",
            "value_sum",
        )
    )


def stream_events_from_dir(
    spark, events_dir: str, sink_table: str = "windowed_counts",
    window: str = "1 hour", watermark: str = "2 hours",
):
    """readStream → windowed agg → in-memory sink (demo/test harness)."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    agg = windowed_event_counts(stream, window, watermark)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )
