"""Streaming CDC pipeline: the reference's receive loop, distributed.

The reference's event loop (main.go:66-136) maps onto Structured
Streaming like this (SURVEY.md §3.1):

- server-push receive loop  → micro-batch source (file dir here;
  ``format("kafka")`` on a cluster — same code path after ``load()``)
- LSN bookkeeping + standby acks (main.go:61-74,106) → checkpoint
  offset commits per micro-batch (at-least-once, resume on restart)
- parse + catalog + decode   → envelope parse + registry materialize
- Dump sink (main.go:429-445) → foreachBatch apply into a state table

State lives in a ``BucketedStateTable`` (streaming/state.py):
hash-bucketed immutable parquet versions, each committed with its
manifest by one atomic rename — per micro-batch only touched buckets
are rewritten (Delta-MERGE-shaped apply without Delta jars). It is the
engine's one state table: small snapshot-per-version tables (the
continuous rollup, write-audit-publish) are its ``n_buckets=1`` case.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_spark.catalog import normalize_event_time
from cdc_spark.cdc.envelope import parse_pgoutput_json, parse_wal2json
from cdc_spark.cdc.registry import SchemaRegistry
from cdc_spark.streaming.state import BucketedStateTable


class CdcStreamPipeline:
    """File/Kafka change-event stream → parse → merge into state.

    ``dialect``: 'wal2json' or 'pgoutput_json'. The source directory
    receives one JSON document per line; each micro-batch flows
    through the same apply_changes as the batch path — one code path
    for backfill and tail (deck slide 21/30 snapshotting semantics).

    State is a ``BucketedStateTable``: per micro-batch, only the hash
    buckets the batch's keys fall into are rewritten — apply cost is
    O(touched buckets), not O(state), matching the reference's
    continuous per-change apply loop (main.go:115-130) at scale.
    """

    def __init__(
        self,
        spark: SparkSession,
        registry: SchemaRegistry,
        schema: str,
        table: str,
        keys: Sequence[str],
        payload: Sequence[str],
        state_path: str,
        *,
        dialect: str = "wal2json",
        n_buckets: int = 16,
        cdf_path: str | None = None,
    ):
        self.spark = spark
        self.registry = registry
        self.schema = schema
        self.table = table
        self.keys = list(keys)
        self.payload = list(payload)
        self.state = BucketedStateTable(
            spark, state_path, self.keys, n_buckets=n_buckets
        )
        self.dialect = dialect
        self.aggregate = None
        # change-feed publication: when set, every micro-batch that
        # commits a new state version also appends that version's NET
        # change feed (version_diff of the two manifests — O(changed
        # buckets)) to this directory, stamped with the version. The
        # published log is a faithful reconstruction: replaying it
        # through latest-wins merge reproduces the state (gated in
        # st14). This is the outbound half of CDC — the engine is a
        # change PRODUCER for downstream consumers, not just a sink.
        self.cdf_path = cdf_path

    def attach_aggregate(self, agg_path, group_cols, measures, **kw):
        """Maintain a materialized per-group aggregate alongside the
        row state (``streaming/ivm_sink.py``): every micro-batch folds
        its delta into the aggregate in O(batch). Returns the
        :class:`IncrementalAggregate` for reading."""
        from cdc_spark.streaming.ivm_sink import IncrementalAggregate

        self.aggregate = IncrementalAggregate(
            self.state, agg_path, group_cols, measures, **kw
        )
        return self.aggregate

    def _parse(self, raw: DataFrame) -> DataFrame:
        if self.dialect == "wal2json":
            # file-stream order column: per-batch monotonic id; within a
            # batch files arrive in path order, giving replayable lsn
            parsed = parse_wal2json(raw, value_col="value")
        elif self.dialect == "pgoutput_json":
            parsed = parse_pgoutput_json(raw, value_col="value")
        else:
            raise ValueError(f"unknown dialect {self.dialect!r}")
        return parsed

    def apply_batch(self, raw_batch: DataFrame, epoch_id: int = 0) -> None:
        """foreachBatch body: parse → typed decode → incremental merge.

        Only the state buckets touched by this batch's keys are
        rewritten; untouched buckets are inherited by manifest
        reference (files no touched bucket lists are not opened)."""
        typed = self.registry.materialize(
            self._parse(raw_batch), self.schema, self.table
        )
        # epoch id recorded in the committed manifest → a replayed
        # micro-batch (crash between sink commit and checkpoint commit)
        # is recognized and skipped: exactly-once apply over the
        # at-least-once stream
        if self.aggregate is not None:
            self.aggregate.apply(typed, self.payload, batch_id=epoch_id)
        else:
            self.state.apply(typed, self.payload, batch_id=epoch_id)
        if self.cdf_path:
            self._publish_cdf()

    def _published_versions(self) -> set[int]:
        """Versions already durably published.

        Primary signal: a ``version=N`` dir carrying the committer's
        ``_SUCCESS`` marker (a torn tail write lacks it and is
        overwritten by the idempotent re-publish). Fallback when the
        marker convention is disabled (``mapreduce.fileoutputcommitter
        .marksuccessfuljobs=false``, common on object stores): a dir
        with committed ``part-*`` files and no in-flight
        ``_temporary`` staging counts as published — without the
        fallback every version would look unpublished, the whole feed
        history would rewrite each micro-batch, and the backfill
        would eventually raise on a vacuumed version."""
        out = set()
        try:
            names = os.listdir(self.cdf_path)
        except FileNotFoundError:
            return out
        for n in names:
            if not (n.startswith("version=") and n[8:].isdigit()):
                continue
            vdir = os.path.join(self.cdf_path, n)
            if os.path.exists(os.path.join(vdir, "_SUCCESS")):
                out.add(int(n[8:]))
                continue
            try:
                entries = os.listdir(vdir)
            except (FileNotFoundError, NotADirectoryError):
                continue
            if "_temporary" not in entries and any(
                e.startswith("part-") for e in entries
            ):
                out.add(int(n[8:]))
        return out

    def _publish_cdf(self) -> None:
        """Publish every state version not yet durably in the feed.

        Publication is NOT atomic with the state commit, so a crash
        can land between them; deriving the work list from what is
        actually on disk (rather than a remembered v_prev) makes the
        feed self-healing: on the next batch — or a restart whose
        replayed batch is an apply no-op — the missing versions are
        backfilled. Each version writes to its own ``version=N``
        partition directory with mode=overwrite, so a re-publish after
        a torn write is idempotent (no duplicate feed rows), and plain
        ``spark.read.parquet(cdf_path)`` still yields the ``version``
        column via partition discovery. Retention contract: the state
        versions needed for the diffs must not have been vacuumed past
        the publication lag (``vacuum(keep_last=...)`` ≥ the gap).
        """
        v_new = self.state.current_version()
        if v_new is None:
            return  # nothing committed yet
        last_pub = max(self._published_versions(), default=0)
        for v in range(last_pub + 1, v_new + 1):
            if v == 1:
                # first version: the whole snapshot is a create feed
                # (old images all null — nothing preceded it)
                snap = self.state.read(version=v)
                feed = snap.select(
                    F.lit("c").alias("op"),
                    *self.keys,
                    *self.payload,
                    *[
                        F.lit(None)
                        .cast(snap.schema[c].dataType)
                        .alias(f"old_{c}")
                        for c in self.payload
                    ],
                )
            else:
                feed = self.state.version_diff(v - 1, v, include_old=True)
            feed.write.mode("overwrite").parquet(
                os.path.join(self.cdf_path, f"version={v}")
            )

    def start(
        self,
        source_dir: str,
        checkpoint_dir: str,
        *,
        max_files_per_trigger: int | None = None,
    ):
        if self.cdf_path:
            # crash-then-idle recovery: if the last run committed state
            # versions whose publication never ran AND the checkpoint
            # already covers those batches (so no replay will retrigger
            # a publish), the feed would stay holed until the next data
            # batch — heal it up front
            self._publish_cdf()
        reader = (
            self.spark.readStream.format("text")
            .schema("value string")
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        raw = reader.load(source_dir)
        return (
            raw.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


# --- declarative streaming aggregations --------------------------------

def windowed_agg(
    stream: DataFrame,
    ts_col: str,
    window: str,
    slide: str | None = None,
    *,
    watermark: str = "1 hour",
    group_cols: Sequence[str] = (),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling/sliding window counts+sums with late-data watermark."""
    stream = normalize_event_time(stream, ts_col)
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win, *group_cols)
        .agg(F.count("*").alias("n"), F.sum(value_col).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            *group_cols,
            "n",
            "total_value",
        )
    )


def sessionized_counts(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    key_cols: Sequence[str],
    *,
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows (gap-merged) per key."""
    stream = normalize_event_time(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), *key_cols)
        .agg(F.count("*").alias("n_events"))
        .select(
            *key_cols,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    *,
    watermark: str = "1 hour",
) -> DataFrame:
    """At-least-once → effectively-once: drop duplicate keys within the
    watermark horizon (bounded state, unlike global dropDuplicates)."""
    stream = normalize_event_time(stream, ts_col)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
