"""Structured-Streaming bridge over append-only snapshot tables.

The CRAWL itself is deliberately batch-per-round (SURVEY.md §2.2: the
north rule demands exactly reproducible crawl ordering, which Structured
Streaming's micro-batch scheduling cannot pin), but its OUTPUT tables —
crawl_log, images, metrics — are append-only streams of committed rows,
and at 100 TB a downstream consumer (corpus annotation, pHash stats,
dashboarding) must not re-scan the whole table after every round. This
module turns such a table into a Structured Streaming source so each
round's new part files are processed EXACTLY ONCE: Spark's
FileStreamSource checkpoints the set of seen files, so a resumed job
picks up only what the frontier committed since the last trigger.

Scope (honest limits):
  * append-only tables ONLY — over their WHOLE history, not just the
    head. The file source sees every data file ever written, so
    tombstoned rows (merge-on-read tables: frontier, a seen table after
    ``forget``), compaction rewrites, and dirs orphaned by an overwrite
    would surface as phantom appends. ``stream_snapshot_table``
    therefore refuses a table unless every snapshot in its history is a
    plain append with no tombstones AND the committed version dirs on
    disk exactly equal the current snapshot's data_dirs (no ``*.del``,
    no orphans). A MoR/overwrite/``forget``/compaction commit AFTER a
    stream has started is NOT re-checked and corrupts that stream —
    the crawl's log/images/metrics tables never do this by
    construction.
  * file-commit granularity. Rows become visible to the stream when
    their part file lands (atomic rename), which is within the same
    round as the manifest commit; a crashed round's re-run re-writes
    byte-identical part files under the SAME names, which the source —
    having recorded the name — does not re-process: no duplicates.
    This exactly-once claim is scoped to tables written by the
    DETERMINISTIC writers (encodings/begin_external external writers,
    incl. metrics since round 4); the default Spark writer emits
    UUID part names, so a crashed-round re-run of such a table would
    surface as fresh appends.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

_VDIR = re.compile(r"^v\d{6}$")


def stream_snapshot_table(
    spark: SparkSession, path: str, schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """→ streaming DataFrame over a SnapshotTable's data files.

    ``schema`` is the table DDL (file sources require it up front —
    e.g. ``frontier.LOG_DDL``). ``max_files_per_trigger`` bounds a
    micro-batch for steady backpressure on a live crawl; leave None for
    availableNow/catch-up jobs."""
    from etlpy_spark.sources.catalog import SnapshotTable

    tbl = SnapshotTable(spark, path)
    cur = tbl.current_version()
    if cur is not None:
        # append-only must hold over the whole HISTORY: an overwrite or
        # compaction leaves the old vNNNNNN dirs on disk (rollback
        # support), and a previously-MoR table that was compacted has a
        # clean head — but data/* would still stream the stale dirs
        # (deleted rows resurface) plus the rewrite (duplicates)
        hist = tbl.history()
        for i, s in enumerate(hist):
            # an overwrite as the very FIRST snapshot initializes an empty
            # table — nothing before it to orphan; anywhere later it
            # supersedes data still on disk
            if s.delete_dirs or (s.mode != "append" and i > 0):
                raise ValueError(
                    f"{path} history has a {s.mode!r} / merge-on-read "
                    f"commit (v{s.version}): the file stream would "
                    "surface deleted or duplicated rows; stream tables "
                    "that are append-only over their whole history"
                )
        data_root = os.path.join(path, "data")
        on_disk = {
            d for d in os.listdir(data_root) if _VDIR.match(d)
        } if os.path.isdir(data_root) else set()
        committed = {os.path.basename(d) for d in tbl.snapshot(cur).data_dirs}
        if on_disk != committed:
            raise ValueError(
                f"{path} data/ does not match the committed snapshot "
                f"(orphans: {sorted(on_disk - committed)}, missing: "
                f"{sorted(committed - on_disk)}); refusing to stream"
            )
    rd = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        rd = rd.option("maxFilesPerTrigger", max_files_per_trigger)
    # data/v*[0-9] matches ONLY committed version dirs (v%06d), each a flat
    # dir of part files; any other dir beside them (vNNNNNN.del tombstones,
    # a stray staging dir) ends in a letter and falls outside the glob.
    # A part file lands by rename from a hidden .tmp-* name, which Spark's
    # file filter skips, so a live round never exposes a half-written file
    return rd.parquet(os.path.join(path, "data", "v*[0-9]"))


def process_increment(
    stream_df: DataFrame, sink_dir: str, checkpoint_dir: str,
    transform=None,
) -> None:
    """Run ONE exactly-once catch-up pass: apply ``transform`` (a
    DataFrame→DataFrame function, default identity) to every row
    appended since the last call with this ``checkpoint_dir``, appending
    the results to ``sink_dir`` as parquet, then stop. Each call
    processes only the NEW part files (FileStreamSource's checkpointed
    file log is the increment tracker) — the per-round pattern a
    100 TB-scale consumer runs after each crawl round instead of a full
    table re-scan. Idempotent under re-run: a crashed pass resumes from
    the checkpoint's write-ahead log."""
    out = transform(stream_df) if transform is not None else stream_df
    q = (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
