"""Scheduled table-maintenance job for ManifestTable — the spark-submit
analog of Iceberg's maintenance actions (rewrite_data_files,
rewrite_position_delete_files, expire_snapshots), plus the engine's own
read-path index builds. A 100 TB table under continuous ingest
accretes small files, merge-on-read delete entries and stale snapshots;
this job is the one cron entry that keeps the read path healthy:

  1. REPORT      read_amplification + file/snapshot counts (always)
  2. REWRITE     materialize MoR deletes when delete_entries_per_data_file
                 exceeds --rewrite-deletes-over (covered files only)
  3. COMPACT     small-file rewrite when mean file size < --compact-under-mb
  4. EXPIRE      drop snapshots beyond --keep-last / --older-than-hours
                 (orphan data + delete files swept)
  5. VACUUM      remove data files referenced by NO manifest (crashed
                 writes) older than --vacuum-orphans-hours
  6. BLOOMS      build per-file key blooms for --bloom-cols (incremental —
                 only files lacking one are scanned)

Every action prints one JSON line; --dry-run reports what WOULD run.
CommitConflict from a concurrent writer is reported and skipped (re-run on
the next schedule), never fatal — maintenance must lose races gracefully.

Usage:
  spark-submit --py-files article_extraction_spark.zip jobs/maintain_table.py \
      --table /data/tables/documents --rewrite-deletes-over 1.0 \
      --compact-under-mb 32 --keep-last 10 --bloom-cols doc_id
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from article_extraction_spark.catalog import CommitConflict, ManifestTable  # noqa: E402
from article_extraction_spark.session import get_spark  # noqa: E402


def maintain(
    spark: SparkSession,
    table,
    rewrite_deletes_over: float | None = None,
    compact_under_mb: float | None = None,
    compact_sort_by: list[str] | None = None,
    keep_last: int | None = None,
    older_than_hours: float | None = None,
    vacuum_orphans_hours: float | None = None,
    bloom_cols: list[str] | None = None,
    dry_run: bool = False,
) -> list[dict]:
    """Run the maintenance ladder; returns one report dict per step. A
    table with no snapshots yet (cron fired before first ingest) reports
    and exits instead of crashing — maintenance is never fatal."""
    out: list[dict] = []
    snaps = table.snapshots()
    if not snaps:
        out.append({"action": "report", "snapshots": 0, "empty": True})
        return out
    amp = table.read_amplification()
    out.append({"action": "report", "snapshots": len(snaps), **amp})

    if rewrite_deletes_over is not None and amp["delete_entries_per_data_file"] >= rewrite_deletes_over:
        if dry_run:
            out.append({"action": "rewrite_deletes", "dry_run": True})
        else:
            try:
                v = table.rewrite_deletes(spark)
                out.append({"action": "rewrite_deletes", "snapshot": v})
            except CommitConflict as e:
                out.append({"action": "rewrite_deletes", "skipped": str(e)})

    if compact_under_mb is not None:
        files = table._load(table.current_snapshot_id())["files"]
        total = 0
        for f in files:
            try:
                total += os.path.getsize(os.path.join(table.root, f))
            except OSError:
                pass
        mean_mb = (total / len(files) / 1e6) if files else 0.0
        if files and mean_mb < compact_under_mb and len(files) > 1:
            if dry_run:
                out.append({"action": "compact", "dry_run": True, "mean_mb": round(mean_mb, 3)})
            else:
                try:
                    # sort-aware rewrite keeps the table's skipping power
                    # (VERDICT r6 #3: round-robin compaction de-clustered
                    # sorted ingests); bloom_cols rebuilds the new files'
                    # blooms in the same action instead of waiting for
                    # step 5 of the NEXT run
                    v = table.compact(
                        spark, sort_by=compact_sort_by, bloom_cols=bloom_cols
                    )
                    out.append(
                        {
                            "action": "compact",
                            "snapshot": v,
                            "mean_mb": round(mean_mb, 3),
                            **({"sort_by": compact_sort_by} if compact_sort_by else {}),
                        }
                    )
                except CommitConflict as e:
                    out.append({"action": "compact", "skipped": str(e)})

    if keep_last is not None or older_than_hours is not None:
        if dry_run:
            out.append({"action": "expire_snapshots", "dry_run": True})
        else:
            kwargs: dict = {}
            if keep_last is not None:
                kwargs["keep_last"] = keep_last
            if older_than_hours is not None:
                import time as _time

                kwargs["older_than_ts"] = _time.time() - older_than_hours * 3600
            removed = table.expire_snapshots(**kwargs)
            out.append({"action": "expire_snapshots", "removed": removed})

    if vacuum_orphans_hours is not None:
        if dry_run:
            out.append({"action": "vacuum_orphans", "dry_run": True})
        else:
            res = table.vacuum_orphans(grace_seconds=vacuum_orphans_hours * 3600)
            out.append({"action": "vacuum_orphans", **res})

    if bloom_cols:
        if dry_run:
            out.append({"action": "build_file_blooms", "dry_run": True, "cols": bloom_cols})
        else:
            n = table.build_file_blooms(spark, bloom_cols)
            out.append({"action": "build_file_blooms", "written": n, "cols": bloom_cols})
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="ManifestTable root")
    ap.add_argument("--rewrite-deletes-over", type=float, default=None)
    ap.add_argument("--compact-under-mb", type=float, default=None)
    ap.add_argument("--compact-sort-by", default=None, help="comma-separated sort columns for the compaction rewrite")
    ap.add_argument("--keep-last", type=int, default=None)
    ap.add_argument("--older-than-hours", type=float, default=None)
    ap.add_argument("--vacuum-orphans-hours", type=float, default=None,
                    help="remove unreferenced data files older than this many hours")
    ap.add_argument("--bloom-cols", default=None, help="comma-separated columns")
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="maintain-table")
    table = ManifestTable(args.table)
    reports = maintain(
        spark,
        table,
        rewrite_deletes_over=args.rewrite_deletes_over,
        compact_under_mb=args.compact_under_mb,
        compact_sort_by=args.compact_sort_by.split(",") if args.compact_sort_by else None,
        keep_last=args.keep_last,
        older_than_hours=args.older_than_hours,
        vacuum_orphans_hours=args.vacuum_orphans_hours,
        bloom_cols=args.bloom_cols.split(",") if args.bloom_cols else None,
        dry_run=args.dry_run,
    )
    for r in reports:
        print(json.dumps(r))


if __name__ == "__main__":
    main()
