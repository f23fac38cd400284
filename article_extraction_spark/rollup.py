"""Incrementally-maintained rollups over the snapshot catalog — the
materialized-view-maintenance pattern (Iceberg/Delta ecosystems call it
incremental refresh).

A 100-TB curation pipeline keeps aggregate tables (per-domain doc
counts, per-source token sums, quality-score extrema) next to the raw
corpus; recomputing them from scratch after every ingest batch rescans
the world. ``IncrementalRollup`` instead consumes the CDC delta between
the last-refreshed source snapshot and the head
(``ManifestTable.read_incremental``, round 5), aggregates ONLY the new
rows, and folds the partials into the rollup table with a copy-on-write
MERGE. The maintenance cursor (the source snapshot the rollup now
reflects) rides on that same merge commit's manifest (``extra_meta``),
so state + cursor are ONE atomic commit: a crash between them is
impossible, and re-running a completed refresh is a no-op.

Soundness: the supported aggregates (count / sum / min / max, mean as
sum÷count at read time) are decomposable under APPEND-ONLY deltas, which
is exactly what read_incremental can express — compaction contributes
nothing, and a source merge/overwrite (rows rewritten in place) raises
there, which this module catches and answers with a FULL recompute
committed as an overwrite (cursor still atomic). Round 7 extends the
incremental path to MoR equality DELETES for count/sum rollups: the
removed rows (``read_incremental_changes``) fold as NEGATIVE partials,
and groups whose last row was deleted are tombstone-swept (count==0) so
the rollup still equals a full recompute row-for-row. min/max stay on
the full-recompute path under deletes — a deleted row may BE the
extremum, which no decomposable summary can recover.

Scale shape: the delta aggregation is one groupBy over new rows only;
the fold touches only affected keys (left-semi the rollup against the
partials' keys); the catalog merge rewrites only data files containing
an affected key. Nothing rescans the source table on the incremental
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import ManifestTable

_CURSOR_KEY = "rollup_source_snapshot"
_SWEEP_KEY = "rollup_needs_sweep"
_SUPPORTED = ("count", "sum", "min", "max")


def _agg_exprs(aggs: dict[str, tuple[str, str | None]]):
    exprs = []
    for out, (fn, col) in aggs.items():
        if fn == "count":
            exprs.append(F.count(F.lit(1)).alias(out))
        else:
            exprs.append(getattr(F, fn)(col).alias(out))
    return exprs


def _combine(old: str, new: str, fn: str):
    a, b = F.col(old), F.col(new)
    if fn in ("count", "sum"):
        combined = F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
    elif fn == "min":
        combined = F.least(a, b)  # least/greatest skip NULLs
    else:
        combined = F.greatest(a, b)
    # a key present on only one side keeps that side's value exactly
    return F.when(a.isNull(), b).when(b.isNull(), a).otherwise(combined)


def fold_partials(
    spark: SparkSession,
    rollup: ManifestTable,
    partial: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | None]],
    extra_meta: dict | None = None,
    sweep_flag: tuple[str, str] | None = None,
) -> int:
    """Fold already-aggregated partials into a rollup table: affected
    keys' existing rows outer-join the partials, per-aggregate combine,
    copy-on-write MERGE (``extra_meta`` rides the commit — the refresh
    cursor). Bootstrap (empty rollup) merges the partials directly.
    Returns the number of keys written.

    ``sweep_flag=(manifest_key, count_col)``: stamp ``manifest_key`` on
    the commit ONLY when the folded state actually contains
    ``count_col == 0`` rows (one limit-1 probe of the already-persisted
    fold — review r7 second pass: flagging unconditionally left the flag
    on the head whenever a delete emptied nothing, so every later
    refresh paid the heal scan the flag exists to avoid)."""
    if rollup.current_snapshot_id() is None:
        from pyspark import StorageLevel

        partial = partial.persist(StorageLevel.MEMORY_AND_DISK)
        n = partial.count()  # count the CACHED partial, then merge reuses it
        rollup.merge(spark, partial, keys, extra_meta=extra_meta)
        partial.unpersist(blocking=False)
        return n
    from pyspark import StorageLevel

    # ADVICE r5: no forced broadcast of the affected-key set — a large CDC
    # delta's keys can exceed broadcast limits on the 100-TB tables this
    # targets. AQE converts the semi join to broadcast at runtime when the
    # distinct key set IS small, so the hint bought nothing.
    existing = rollup.read(spark).join(
        partial.select(*keys).distinct(), keys, "left_semi"
    )
    renamed = partial
    for out in aggs:
        renamed = renamed.withColumnRenamed(out, f"__new_{out}")
    folded = existing.join(renamed, keys, "full_outer").select(
        *keys,
        *[_combine(out, f"__new_{out}", fn).alias(out) for out, (fn, _c) in aggs.items()],
    )
    # ADVICE r5: persist across the count + merge pair — without it the
    # full read+full_outer fold pipeline re-executed inside merge's write
    folded = folded.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = folded.count()
        if sweep_flag is not None and n:
            key, count_col = sweep_flag
            if folded.where(F.col(count_col) == 0).limit(1).count():
                extra_meta = dict(extra_meta or {})
                extra_meta[key] = True
        if n == 0:
            rollup.merge(
                spark,
                spark.createDataFrame([], rollup.read(spark).schema),
                keys,
                extra_meta=extra_meta,
            )
        else:
            rollup.merge(spark, folded, keys, extra_meta=extra_meta)
    finally:
        folded.unpersist(blocking=False)
    return n


class IncrementalRollup:
    """Maintains ``rollup`` = ``source.groupBy(keys).agg(aggs)``.

    ``aggs`` maps output column → ("count"|"sum"|"min"|"max", source
    column); the source column is ignored for "count" (row count). The
    rollup table's rows are exactly the full-recompute rows at the
    cursor snapshot — asserted by the invariant tests and the
    ``rollup_refresh`` oracle query."""

    def __init__(
        self,
        source: ManifestTable,
        rollup: ManifestTable,
        keys: list[str],
        aggs: dict[str, tuple[str, str | None]],
        prepare=None,
    ):
        """``prepare``: optional DataFrame→DataFrame projection applied to
        source rows BEFORE grouping, on both the full-recompute and the
        CDC-delta path — derived group keys / agg inputs (e.g. sketch
        registers) without materializing them in the source table. Must
        be deterministic and ROW-WISE: each output row derives from
        exactly one input row (1→N generators like the count-min cell
        explode are fine); anything that MIXES rows — joins, windows,
        aggregates — would break CDC-delta partial-aggregation
        correctness (round 6)."""
        if not keys:
            raise ValueError("rollup needs at least one group key")
        for out, (fn, col) in aggs.items():
            if fn not in _SUPPORTED:
                raise ValueError(f"unsupported aggregate {fn!r} for {out!r} (use {_SUPPORTED})")
            if fn != "count" and not col:
                raise ValueError(f"aggregate {fn!r} for {out!r} needs a source column")
            if out in keys:
                raise ValueError(f"aggregate output {out!r} collides with a group key")
        self.source = source
        self.rollup = rollup
        self.keys = list(keys)
        self.aggs = dict(aggs)
        self.prepare = prepare

    # -- cursor ---------------------------------------------------------------

    def cursor(self) -> int | None:
        """Source snapshot the rollup currently reflects: the nearest
        manifest on the rollup's parent chain carrying the cursor key.
        None → never
        refreshed (or history expired past every cursor) → full
        recompute."""
        try:
            v = self.rollup.current_snapshot_id()
            while v is not None:
                m = self.rollup._load(v)
                if _CURSOR_KEY in m:
                    return m[_CURSOR_KEY]
                v = m.get("parent")
        except FileNotFoundError:
            return None
        return None

    # -- aggregation pieces ---------------------------------------------------

    def _full_rows(self, spark: SparkSession, snapshot: int) -> DataFrame:
        rows = self.source.read(spark, snapshot_id=snapshot)
        if self.prepare is not None:
            rows = self.prepare(rows)
        return rows.groupBy(*self.keys).agg(*_agg_exprs(self.aggs))

    # -- refresh --------------------------------------------------------------

    def _delete_capable(self) -> str | None:
        """The name of a maintained row-count output when delete deltas
        are foldable, else None. count/sum are sign-decomposable (a
        deleted row folds as a negative partial); min/max are NOT — the
        deleted row may BE the extremum, and nothing short of a rescan
        can tell (the same reason HLL register maxima stay on the
        full-recompute path). The count output additionally identifies
        groups whose last row was deleted: a full recompute has NO row
        for them, so the fold must tombstone-sweep count==0 rows to keep
        the rows-equal-full-recompute invariant."""
        if any(fn not in ("count", "sum") for fn, _c in self.aggs.values()):
            return None
        for out, (fn, _c) in self.aggs.items():
            if fn == "count":
                return out
        return None

    def _sweep_needed(self) -> bool:
        """True when the rollup's parent chain carries an unswept
        delete-aware fold: the fold commit stamps ``_SWEEP_KEY`` in its
        manifest and the sweep's delete commit supersedes it, so a crash
        between the two leaves the flag on the chain above any newer
        cursor-less commits. Pure manifest reads — no Spark job (review
        r7: sweeping unconditionally scanned the whole rollup table on
        EVERY refresh of any count/sum rollup, including the maintained
        BM25 postings on every ingest). Folds only stamp the flag when
        zero-count rows actually exist, so a delete that empties nothing
        costs no later scans. Upgrade caveat: a fold committed by a
        pre-flag build that crashed before its sweep carries no flag —
        run one manual ``_sweep_tombstones`` when adopting (both the
        delete-aware fold and the flag shipped in the same round, so no
        such history exists in practice)."""
        try:
            v = self.rollup.current_snapshot_id()
            while v is not None:
                m = self.rollup._load(v)
                if m.get("operation") == "delete":
                    return False  # the sweep itself was the last word
                if _SWEEP_KEY in m:
                    return True
                if _CURSOR_KEY in m:
                    return False  # a newer clean fold supersedes
                v = m.get("parent")
        except FileNotFoundError:
            return False
        return False

    def _sweep_tombstones(self, spark: SparkSession, count_out: str) -> None:
        """Remove count==0 groups (MoR delete on the rollup). Runs after
        a delete-aware fold, and at refresh start ONLY when the manifest
        chain says a fold crashed before its sweep (zero-count rows are
        value-correct in between, merely present)."""
        if self.rollup.current_snapshot_id() is None:
            return
        dead = self.rollup.read(spark).where(F.col(count_out) == 0)
        if dead.limit(1).count():
            self.rollup.delete(spark, dead.select(*self.keys), self.keys)

    def refresh(self, spark: SparkSession) -> dict:
        """Bring the rollup up to the source head. Returns
        {"mode": "noop"|"incremental"|"full", "from", "to",
        "keys_updated"}.

        Delete-aware (round 7, VERDICT r6 #4): when the window contains
        MoR equality-delete snapshots and every aggregate is count/sum,
        the deleted rows fold as NEGATIVE partials
        (``read_incremental_changes``) — a maintained sketch or index
        over a table under delete churn no longer degenerates to full
        rebuilds. min/max (or a missing count output) still answer
        deletes with a full recompute; merge/overwrite/update and
        positional deletes always do."""
        head = self.source.current_snapshot_id()
        if head is None:
            return {"mode": "noop", "from": None, "to": None, "keys_updated": 0}
        count_out = self._delete_capable()
        if count_out is not None and self._sweep_needed():
            self._sweep_tombstones(spark, count_out)  # heal a crashed sweep
        cur = self.cursor()
        if cur == head:
            return {"mode": "noop", "from": cur, "to": head, "keys_updated": 0}

        delta = None
        deleted = None
        if cur is not None:
            try:
                delta = self.source.read_incremental(spark, cur, head)
            except ValueError:
                delta = None  # rewrite in source history
                if count_out is not None:
                    try:
                        delta, deleted = self.source.read_incremental_changes(
                            spark, cur, head
                        )
                    except ValueError:
                        delta = None  # true rewrite → full recompute

        if delta is None:
            rows = self._full_rows(spark, head)
            n = rows.count()
            self.rollup.overwrite(rows, extra_meta={_CURSOR_KEY: head})
            return {"mode": "full", "from": cur, "to": head, "keys_updated": n}

        if self.prepare is not None:
            delta = self.prepare(delta)
            if deleted is not None:
                deleted = self.prepare(deleted)
        partial = delta.groupBy(*self.keys).agg(*_agg_exprs(self.aggs))
        if deleted is not None:
            negative = (
                deleted.groupBy(*self.keys)
                .agg(*_agg_exprs(self.aggs))
                .select(*self.keys, *[(-F.col(out)).alias(out) for out in self.aggs])
            )
            partial = (
                partial.unionByName(negative)
                .groupBy(*self.keys)
                .agg(*[F.sum(out).alias(out) for out in self.aggs])
            )
        # fold: existing rows for AFFECTED keys only, outer-joined with the
        # partials, per-aggregate combine; an empty delta still advances
        # the cursor atomically via an empty merge (fold_partials)
        n = fold_partials(
            spark, self.rollup, partial, self.keys, self.aggs,
            extra_meta={_CURSOR_KEY: head},
            sweep_flag=(
                (_SWEEP_KEY, count_out)
                if deleted is not None and count_out is not None
                else None
            ),
        )
        if deleted is not None and count_out is not None and self._sweep_needed():
            self._sweep_tombstones(spark, count_out)
        return {"mode": "incremental", "from": cur, "to": head, "keys_updated": n}

