"""Micro-batch pipeline (SURVEY.md §2.9 T1/T4, §7.1 M4).

The reference's driver loop is a pull-based micro-batch pipeline:
generator yields a ≤100-PR chunk → transform → load → next chunk
(main.py:871-895), with idempotent recovery via probe+delete per
`(repo, snapshot_date)` (main.py:829-839). Structured Streaming's
`foreachBatch` is the exact engine-native analog: bounded memory per
micro-batch, sink-side idempotence via the snapshot writer, and
checkpointed offsets replacing the reference's "re-run the whole day"
recovery story with exactly-once per batch.

Entry points:
- `run_batch`: the whole DAG as one batch job (connector scan →
  transform → dynamic-partition-overwrite load). The reference's
  `_main` shape.
- `stream_files`: the one file-landing stream skeleton (readStream →
  foreachBatch → checkpoint → availableNow) that `stream_landing` and
  the four document gates run on; its docstring holds the
  exactly-once argument they all rely on.
- `stream_landing`: enriched-PR JSON files land in a directory; each
  micro-batch is transformed and published to the four tables.
- `stream_github`: the same per-batch load behind the live GitHub
  source, with a continuous trigger.
"""

from __future__ import annotations

import datetime as _dt
import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..etl.transform import RAW_PR_SCHEMA, transform
from ..session import eager_checkpoint, persisted, release, run_concurrently
from ..sinks.snapshot import (
    PARTITION_COLS,
    SnapshotSink,
    publish_batch_partition,
    stamp,
)

# The landing-file schema of the four document gates.
DOC_SCHEMA = "doc_id long, text string"


def run_batch(
    spark: SparkSession,
    repos: list[str],
    api_url: str,
    sink_base: str,
    snapshot_date: str | _dt.date,
    per_page: int = 100,
    force: bool = False,
    token: str | None = None,
) -> SnapshotSink:
    """Full ETL for each repo: scan → transform → idempotent load.

    Mirrors the reference driver (main.py:829-895): skip a repo whose
    snapshot already exists unless `force` — with dynamic partition
    overwrite the skip is an optimization, not a correctness need.

    Concurrency: the repos' chains (skip probe → API scan → eager
    checkpoint → transform → `SnapshotSink.load` → release) are
    independent, so they run through `session.run_concurrently`, at
    most ``sc.defaultParallelism`` at a time. At this scale each chain
    is a handful of small fixed-cost jobs (five for a repo that is
    not skipped: the checkpoint and the four table writes), and
    overlapping them keeps the task slots busy where the reference's
    serial loop idles them.

    API concurrency: page and child fetches run inside scan tasks,
    each with up to `sources.github.CHILD_FETCH_WIDTH` requests in
    flight, so at most task slots × that width requests run however
    many chains run — plus each running chain's one first-page probe
    when its scan is planned on the driver. GitHub documents a
    secondary limit of 100 concurrent requests, so keep slots × width
    under it; ``requests_per_hour`` still governs the rate.

    Failure semantics: every repo's chain runs to the end even if
    another fails, and then the first failure in ``repos`` order is
    raised (the serial loop never attempted the repos after a failing
    one). The chains that succeeded have landed whole per-`(repo,
    date)` snapshots, so a non-forced re-run skips them and retries
    only the others. A chain that failed inside its load may have
    landed some of its tables, which `SnapshotSink.exists` reads as
    present: re-run that repo with ``force``, as with the serial loop.
    """
    from ..sources.github import register

    register(spark)
    sink = SnapshotSink(sink_base)

    def chain(repo: str) -> None:
        if not force and sink.exists(spark, repo, snapshot_date):
            return
        reader = (
            spark.read.format("github")
            .option("repo", repo)
            .option("url", api_url)
            .option("per_page", str(per_page))
            .option("state", "all")
        )
        if token:
            reader = reader.option("token", token)
        # One API scan feeds all four tables: without the checkpoint,
        # each table's write re-executes the whole custom-source read,
        # racing upstream changes into inconsistent tables and
        # multiplying the rate-limit spend. One job materializes it,
        # and with a session checkpoint dir it is reliable, so a lost
        # executor never re-calls the API.
        prs = eager_checkpoint(reader.load())
        try:
            sink.load(transform(prs, repo), repo, snapshot_date)
        finally:
            release(prs)

    run_concurrently(
        [functools.partial(chain, repo) for repo in repos],
        min(len(repos), spark.sparkContext.defaultParallelism),
    )
    return sink


def _make_batch_loader(sink_base: str, repo: str, snapshot_date: str | _dt.date):
    """foreachBatch body of the two snapshot streams: transform, stamp,
    and publish each table's `ingest_batch=N` partition. No take(1)
    guard — an empty frame under dynamic overwrite touches nothing."""

    def _load_batch(batch_df: DataFrame, batch_id: int) -> None:
        for name, df in transform(batch_df, repo).items():
            publish_batch_partition(
                stamp(df, repo, snapshot_date),
                os.path.join(sink_base, name),
                batch_id,
                *PARTITION_COLS,
            )

    return _load_batch


def _persisting(body):
    """``body`` with its micro-batch persisted for the call (the body's
    writes re-read it) and released after, raised or not. The stream
    thread inherits `start()`'s call site, which would name every job
    of the body `start at …`; it is cleared first, so the body's jobs
    carry their own call sites in the UI and the event log."""

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.sparkSession.sparkContext.setLocalProperty("callSite.short", None)
        with persisted(batch_df):
            body(batch_df, batch_id)

    return _run


def _batch_writer(stream: DataFrame, body, checkpoint_dir: str) -> DataStreamWriter:
    """The writer half every stream here shares: ``body(batch_df,
    batch_id)`` runs once per micro-batch under `_persisting`, with
    offsets checkpointed at ``checkpoint_dir``."""
    return (
        stream.writeStream.foreachBatch(_persisting(body))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def stream_files(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    body,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the one file-landing stream: JSON files of ``schema``
    landing in ``landing_dir``, each micro-batch handed to ``body``,
    `trigger(availableNow=True)` so the query drains the backlog and
    stops — the reference's chunked batch semantics with streaming
    machinery, the checkpoint being the resume point.
    `maxFilesPerTrigger` is the chunk-size knob (the reference's
    100-PR chunk, main.py:875). `stream_landing` and the four gates
    (streaming/{dedup,span,vector,pretrain}_gate.py) are this function
    with their own body.

    Exactly-once, on plain parquet: `foreachBatch` alone is
    at-least-once — a crash between a batch's writes and the checkpoint
    commit replays the batch under the same id. Every body therefore
    (1) writes only through `sinks.snapshot.publish_batch_partition` or
    a store append keyed by the same id, i.e. a dynamic overwrite of
    the batch's OWN `ingest_batch=N` partitions, so the replay
    republishes instead of double-appending; (2) masks its own
    partition out of every store it reads (`exclude_batch=N`, a
    partition-pruned filter), so a crashed attempt's half-published
    rows cannot flip the replay's verdicts; (3) writes its output
    table first and its stores after, so a visible output row's store
    rows either exist or are recreated bit-identically by the replay
    (the store writes only read frames the batch already computed and
    are independent of each other, so the dedup and pretrain gates run
    them concurrently through `session.run_concurrently` once the
    output is published, and release their persisted frames after the
    last one finished); and (4) validates every store it reads before
    the first write, so a missing or mis-keyed store fails before
    anything is published.
    A replayed batch N therefore recomputes the same rows and rewrites
    the same partitions."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (
        _batch_writer(reader.json(landing_dir), body, checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_landing(
    spark: SparkSession,
    landing_dir: str,
    repo: str,
    sink_base: str,
    snapshot_date: str | _dt.date,
    checkpoint_dir: str,
):
    """Streaming ingest of enriched-PR JSON files → four snapshot
    tables, one `ingest_batch` sub-partition per micro-batch (S7's
    streaming-insert analog); compaction
    (`sinks.snapshot.compact_snapshot`) later collapses the per-batch
    dirs."""
    query = stream_files(
        spark, landing_dir, RAW_PR_SCHEMA,
        _make_batch_loader(sink_base, repo, snapshot_date),
        checkpoint_dir,
    )
    return query, SnapshotSink(sink_base)


def stream_github(
    spark: SparkSession,
    repo: str,
    api_url: str,
    sink_base: str,
    snapshot_date: str | _dt.date,
    checkpoint_dir: str,
    token: str | None = None,
):
    """LIVE end-to-end ETL: streaming GitHub source → transform →
    per-batch append into the four snapshot tables.

    The full reference DAG as one continuous query: the source's
    PR-number cursor (sources.github.GithubStreamReader) resumes after
    a crash instead of refetching the day, and each batch is published
    the way `stream_files` publishes, so batch replay is idempotent —
    effective exactly-once end to end, strictly better than the
    reference's probe→delete→reload recovery. Run compaction
    (`sinks.snapshot.compact_snapshot`) when the date closes.
    """
    from ..sources.github import register

    register(spark)
    reader = (
        spark.readStream.format("github")
        .option("repo", repo)
        .option("url", api_url)
        .option("state", "all")
    )
    if token:
        reader = reader.option("token", token)
    loader = _make_batch_loader(sink_base, repo, snapshot_date)
    query = _batch_writer(reader.load(), loader, checkpoint_dir).start()
    return query, SnapshotSink(sink_base)
