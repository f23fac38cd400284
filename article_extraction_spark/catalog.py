"""Iceberg-style table layer on a plain filesystem (SURVEY.md §7.4 risk 5:
"design the table layer behind a thin catalog adapter — Iceberg when jars
present, plain parquet + manifest table otherwise").

Semantics provided (the subset the engine relies on):

  * immutable data files + versioned JSON manifests — a snapshot is the
    manifest's file list; readers NEVER see a half-written commit
  * one commit point: ``ManifestTable._try_commit`` creates
    ``manifest-v{N+1}.json`` exclusively (``open(..., "x")``), so of two
    writers racing for the same N exactly one wins (Iceberg's optimistic
    concurrency). Every operation commits through it in one of two ways:

    - validated — ``merge``, ``update_where``, ``compact``,
      ``rewrite_deletes``, ``rollback``: one attempt against the head the
      operation planned on; losing raises CommitConflict (a rebase could
      resurrect rows the other writer changed — re-run the operation);
    - rebasing — ``append``, ``overwrite``, ``delete``,
      ``delete_positions_where``: each attempt re-plans against the new
      head, up to five attempts, then CommitConflict.

  * discard rule: an operation that wrote data or delete files and does
    not commit them deletes them (``discard_files``) before it raises.
  * time travel: ``read(spark, snapshot_id=k)``; every read resolves its
    snapshot through ``_snapshot`` and every walk of the parent chain goes
    through ``history``
  * one incremental read: ``read_incremental_changes`` returns the rows
    appended and deleted in a snapshot window (``changelog`` and the
    rollups build on it)
  * sidecars (per-commit ``_stats.json``/``_blooms.json``) are replaced
    whole through ``write_json_atomic``
  * one file-skipping planner: ``prune_files``/``read_pruned`` over the
    ``_stats.json`` min/max, plus the blooms for a point bound (lo == hi)
  * a local POSIX path only: the exclusive create and the ``os`` calls
    need one (SCALE.md §8)

On a cluster with Iceberg jars, swap this class for the real catalog — the
engine's call sites (append/overwrite/read/current_snapshot_id) map 1:1.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MANIFEST_RE = re.compile(r"manifest-v(\d+)\.json$")


class CommitConflict(Exception):
    """Another writer committed this version first — refresh and retry."""


def discard_files(root: str, files) -> None:
    """Best-effort removal of ``files`` (paths relative to ``root``): the
    one discard helper — data and delete files a commit did not take,
    a failed sidecar's temp."""
    for f in files:
        try:
            os.remove(os.path.join(root, f))
        except OSError:
            pass


def write_atomic(path: str, write, mode: str = "w") -> None:
    """Replace the file at ``path`` whole: ``write(fh)`` into a uniquely
    named temp file beside it, then ``os.replace``. A crash or a failed
    write leaves the previous file intact, readers see the old file or the
    new one, never a partial one, and concurrent writers never share a
    temp file. The dot prefix hides the temp file from Spark's parquet
    listing. The package's one atomic writer."""
    d, name = os.path.split(path)
    tmp = f".{name}.{uuid.uuid4().hex[:8]}"
    try:
        with open(os.path.join(d, tmp), mode) as fh:
            write(fh)
        os.replace(os.path.join(d, tmp), path)
    except BaseException:
        discard_files(d, [tmp])
        raise


def write_json_atomic(path: str, obj) -> None:
    """Replace the JSON file at ``path`` whole (``write_atomic``). Every
    sidecar of the table layer and of the indexes built on it is written
    here."""
    write_atomic(path, lambda fh: json.dump(obj, fh))


def _load_sidecar(path: str) -> dict:
    """A table sidecar's JSON, or {} when it is missing or unreadable —
    sidecars are optimizations: without one, every file is scanned."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


_STATS_NAME = "_stats.json"


def _stat_bound(v, tz: str | None = None):
    """Normalize a parquet footer statistic (or a user box bound) to a
    comparable float, or None for kinds pruning must not trust.

    Strings/bytes are deliberately excluded: parquet writers may truncate
    binary min/max (a truncated max can sort BELOW real rows, so pruning
    on it would silently drop matches). Numerics and bools are exact.
    ALL temporal kinds normalize to one scale — epoch MICROSECONDS
    (dates at midnight) — so a date box bound prunes a timestamp column
    and vice versa (review r6: day-ordinals vs micros compared on
    incomparable scales and dropped every matching file).

    ``tz``: IANA zone for interpreting NAIVE datetimes. Footer stats are
    UTC instants (Spark writes TIMESTAMP as UTC-adjusted micros), so the
    stats path always uses the default None = UTC; the read path passes
    the Spark session timezone for USER box bounds, because the residual
    ``between`` filter will interpret the same naive literals
    session-locally and pruning must agree with it (review r6)."""
    import calendar
    import datetime

    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            return v.timestamp() * 1e6
        if tz is not None:
            from zoneinfo import ZoneInfo

            return v.replace(tzinfo=ZoneInfo(tz)).timestamp() * 1e6
        return calendar.timegm(v.utctimetuple()) * 1e6 + v.microsecond
    if isinstance(v, datetime.date):
        # midnight, same zone rules as datetimes — one temporal scale
        return _stat_bound(datetime.datetime(v.year, v.month, v.day), tz)
    return None


def _temporal_kind(v) -> str | None:
    """Classify a stats/bound value: ``"ts"`` (datetime), ``"date"``
    (pure date), ``"num"`` (number/bool), None (unprunable kind)."""
    import datetime

    if isinstance(v, datetime.datetime):
        return "ts"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (bool, int, float)):
        return "num"
    return None


# Max |UTC offset| is 14 h (UTC+14, Line Islands). When a DATE column's
# UTC-midnight stats must be compared against a session-zone INSTANT
# (Spark casts the date column to timestamp at the session zone), the
# true instant lies within ±14 h of the stored stat — widen by this slop
# instead of guessing the zone's offset (ADVICE r6 high: guessing wrong
# silently dropped files whose range touched the box edge).
_TZ_SLOP_US = 14 * 3600 * 1e6


def _write_commit_stats(commit_dir: str, names: list[str]) -> None:
    """Record per-file, per-column min/max (Iceberg manifest column stats)
    as ``_stats.json`` INSIDE the commit dir. One stats file per commit —
    written by the single writer that owns the dir, so concurrent commits
    never race on shared state (the reason stats don't live in one
    table-level sidecar)."""
    import pyarrow.parquet as pq

    stats: dict[str, dict] = {}
    for name in names:
        md = pq.ParquetFile(os.path.join(commit_dir, name)).metadata
        fmin: dict[str, float] = {}
        fmax: dict[str, float] = {}
        fkind: dict[str, str] = {}
        dead: set[str] = set()
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                cname = col.path_in_schema
                if "." in cname or cname in dead:
                    continue  # nested columns: no flat box semantics
                st = col.statistics
                lo = hi = kind = None
                if st is not None and st.has_min_max:
                    lo, hi = _stat_bound(st.min), _stat_bound(st.max)
                    kind = _temporal_kind(st.min)
                if (
                    lo is None
                    or hi is None
                    or fkind.get(cname, kind) != kind  # kind flip across groups
                ):
                    # one group without trustworthy bounds poisons the
                    # whole file for this column (scan is always safe)
                    dead.add(cname)
                    fmin.pop(cname, None)
                    fmax.pop(cname, None)
                    fkind.pop(cname, None)
                    continue
                fmin[cname] = min(fmin.get(cname, lo), lo)
                fmax[cname] = max(fmax.get(cname, hi), hi)
                fkind[cname] = kind
        # "kind" (ADVICE r7 high): the temporal class of each column's
        # stats — the read path must compare date stats and timestamp
        # stats under DIFFERENT timezone rules (dates are tz-free, Spark
        # footer timestamps are UTC instants). Stats files written before
        # this key existed get NO temporal pruning (see prune_files).
        stats[name] = {"rows": md.num_rows, "min": fmin, "max": fmax, "kind": fkind}
    write_json_atomic(os.path.join(commit_dir, _STATS_NAME), stats)


class ManifestTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"manifest-v{version}.json")

    def snapshots(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            m = _MANIFEST_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def current_snapshot_id(self) -> int | None:
        versions = self.snapshots()
        return versions[-1] if versions else None

    def _load(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _snapshot(self, snapshot_id: int | None = None) -> tuple[int, dict, "T.StructType"]:
        """``(version, manifest, schema)`` of ``snapshot_id``, default the
        head: the table's one snapshot resolver. Raises FileNotFoundError
        for an empty table or an expired snapshot."""
        version = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if version is None:
            raise FileNotFoundError(f"no snapshots in {self.root}")
        manifest = self._load(version)
        return version, manifest, T.StructType.fromJson(json.loads(manifest["schema"]))

    def history(self, snapshot_id: int | None = None):
        """Yield the manifests from ``snapshot_id`` (default the head; none
        for an empty table) down its parent chain, newest first: the
        table's one chain walk. Raises FileNotFoundError when the chain
        reaches an expired snapshot."""
        version = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        while version is not None:
            manifest = self._load(version)
            yield manifest
            version = manifest.get("parent")

    def _referenced_files(self, versions) -> set[str]:
        """Every data and MoR delete file the manifests of ``versions``
        reference."""
        out: set[str] = set()
        for v in versions:
            m = self._load(v)
            out.update(m["files"])
            for e in m.get("deletes", []):
                out.update(e["files"])
        return out

    # -- commits --------------------------------------------------------------

    def _write_data(self, df: DataFrame) -> list[str]:
        commit_dir = f"data/commit-{uuid.uuid4().hex[:12]}"
        full = os.path.join(self.root, commit_dir)
        df.write.parquet(full)
        names = sorted(n for n in os.listdir(full) if n.endswith(".parquet"))
        try:
            _write_commit_stats(full, names)
        except Exception:
            # stats are a pruning optimization, never a commit precondition:
            # a file with no stats entry is always scanned (read_pruned)
            pass
        return [f"{commit_dir}/{name}" for name in names]

    # -- per-file key blooms (round 6: point-lookup file skipping) ------------
    #
    # Column min/max stats prune RANGE predicates but are useless for a
    # point lookup over unclustered data (every file's [min, max] straddles
    # any popular key domain). The Iceberg-puffin / parquet-bloom answer:
    # an opt-in maintenance pass stores one small bloom bitmap per (file,
    # column) beside the stats, and point bounds drop every file whose
    # bloom rejects the probe value. Hashing is md5 arithmetic (the
    # sketches.py convention) so the DRIVER probes in pure python and an
    # oracle engine can replay membership; bitmaps are built DISTRIBUTED
    # (one Spark pass over the target files, bit_or per (file, word)) and
    # only the ≤ m/64-word bitmaps come back to the driver.

    _BLOOMS_NAME = "_blooms.json"

    @staticmethod
    def _bloom_params(rows: int, bits_per_key: int) -> tuple[int, int]:
        # floor(x + 0.5), not round(): python round is banker's, which a
        # replaying SQL engine cannot express portably (HALF_UP can)
        import math

        m = 1 << max(6, math.ceil(math.log2(max(1, rows) * bits_per_key)))
        k = max(1, min(16, int(0.693 * m / max(1, rows) + 0.5)))
        return m, k

    @staticmethod
    def _bloom_positions_py(value, i: int, m: int) -> int:
        import hashlib

        h = hashlib.md5(f"{i}|{value}".encode()).hexdigest()
        return int(h[:8], 16) % m

    # bloom membership hashes the SPARK string cast of the column; the
    # driver probe must produce the identical string, which only holds for
    # types whose python str() matches it. bool is NOT bloomable even
    # though it subclasses int: str(True) = 'True' vs Spark 'true' — a
    # mismatch here is a bloom FALSE NEGATIVE, i.e. silent data loss
    # (review r6), so the build REJECTS other column types and the probe
    # SKIPS the bloom (safe: file scanned) for other value types.
    _BLOOMABLE_SPARK_TYPES = ("tinyint", "smallint", "int", "integer", "bigint", "long", "string")

    @staticmethod
    def _bloom_probe_str(value) -> str | None:
        if isinstance(value, bool):
            return None
        if isinstance(value, int):
            return str(value)
        if isinstance(value, str):
            return value
        return None

    def build_file_blooms(
        self,
        spark: SparkSession,
        cols: list[str],
        bits_per_key: int = 10,
        snapshot_id: int | None = None,
    ) -> int:
        """Maintenance pass: compute a bloom per (data file, col) for the
        snapshot's files that don't have one yet and store them in each
        commit dir's ``_blooms.json``. Sized per file from its row count
        (``_stats.json``; files without stats are counted). NULLs are not
        inserted — an equality probe never matches NULL. Returns the
        number of (file, col) blooms written. Like stats, blooms are an
        optimization: files without one are always scanned. Column types
        must be integer/string (``_BLOOMABLE_SPARK_TYPES`` — other casts'
        string forms can't be reproduced by the driver probe, which would
        mean false negatives, i.e. silent data loss)."""
        from pyspark.sql import functions as F

        from .operators.sketches import _hex_to_long

        _version, manifest, schema = self._snapshot(snapshot_id)
        for c in cols:
            kind = schema[c].dataType.simpleString()
            if kind not in self._BLOOMABLE_SPARK_TYPES:
                raise TypeError(
                    f"column {c!r} has type {kind!r} — blooms support only "
                    f"{self._BLOOMABLE_SPARK_TYPES} (probe string forms must "
                    "match Spark's cast exactly)"
                )
        by_dir: dict[str, list[str]] = {}
        for f in manifest["files"]:
            d, name = os.path.split(f)
            by_dir.setdefault(d, []).append(name)
        written = 0
        for d, names in by_dir.items():
            blooms_path = os.path.join(self.root, d, self._BLOOMS_NAME)
            blooms = _load_sidecar(blooms_path)
            # review r6: per-COLUMN work lists — a file already holding
            # this column's bloom is never rescanned for it
            col_todo = {
                c: [n for n in names if c not in blooms.get(n, {})] for c in cols
            }
            all_todo = sorted({n for ns in col_todo.values() for n in ns})
            if not all_todo:
                continue
            stats = _load_sidecar(os.path.join(self.root, d, _STATS_NAME))
            rows_by_name: dict[str, int] = {
                n: stats[n]["rows"]
                for n in all_todo
                if n in stats and "rows" in stats[n]
            }
            missing = [n for n in all_todo if n not in rows_by_name]
            if missing:
                counts = (
                    spark.read.schema(schema)
                    .parquet(*[os.path.join(self.root, d, n) for n in missing])
                    .withColumn("__f", F.input_file_name())
                    .groupBy("__f")
                    .count()
                    .collect()
                )
                for r in counts:
                    rows_by_name[os.path.basename(r["__f"])] = r["count"]
                for n in missing:
                    rows_by_name.setdefault(n, 0)
            params = {
                n: self._bloom_params(rows_by_name[n], bits_per_key) for n in all_todo
            }
            for col, todo in col_todo.items():
                if not todo:
                    continue
                k_max = max(params[n][1] for n in todo)
                pdf = spark.createDataFrame(
                    [(n, params[n][0], params[n][1]) for n in todo],
                    "__name string, __m long, __k int",
                )
                pos = (
                    spark.read.schema(schema)
                    .parquet(*[os.path.join(self.root, d, n) for n in todo])
                    .withColumn(
                        "__name", F.element_at(F.split(F.input_file_name(), "/"), -1)
                    )
                    .join(F.broadcast(pdf), "__name")
                    .where(F.col(col).isNotNull())
                    .select(
                        "__name", "__m", "__k",
                        F.col(col).cast("string").alias("__v"),
                    )
                    .select(
                        "__name", "__m",
                        F.explode(F.array(*[F.lit(i) for i in range(k_max)])).alias("__i"),
                        "__k", "__v",
                    )
                    .where(F.col("__i") < F.col("__k"))
                    .select(
                        "__name",
                        F.pmod(
                            _hex_to_long(
                                F.substring(
                                    F.md5(F.concat_ws("|", F.col("__i"), F.col("__v"))),
                                    1, 8,
                                )
                            ),
                            F.col("__m"),
                        ).alias("__pos"),
                    )
                )
                words = (
                    pos.select(
                        "__name",
                        (F.col("__pos") / 64).cast("long").alias("__w"),
                        F.expr("shiftleft(1L, cast(pmod(__pos, 64) as int))").alias("__mask"),
                    )
                    .groupBy("__name", "__w")
                    .agg(F.expr("bit_or(__mask)").alias("__bits"))
                    .collect()
                )
                per_file: dict[str, dict[str, int]] = {n: {} for n in todo}
                for r in words:
                    per_file[r["__name"]][str(r["__w"])] = r["__bits"]
                for n in todo:
                    m, k = params[n]
                    blooms.setdefault(n, {})[col] = {
                        "m": m, "k": k, "words": per_file[n],
                    }
                    written += 1
            write_json_atomic(blooms_path, blooms)
        return written

    def _try_commit(
        self,
        parent: int | None,
        operation: str,
        files: list[str],
        schema_json: str,
        deletes: list[dict] | None = None,
        extra_meta: dict | None = None,
    ) -> int | None:
        """The table's one commit point: create ``manifest-v{parent+1}.json``
        exclusively — a compare-and-swap on the head. Returns the new
        snapshot id, or None when another writer took that version.

        ``extra_meta`` rides on the manifest but may not override a
        manifest key; 'deletes' is reserved even when absent, since a
        foreign value under it would be read as MoR delete entries
        (review r5). The record is serialized BEFORE the create, so a
        value JSON cannot encode never leaves a truncated head behind."""
        version = (parent or 0) + 1
        manifest = {
            "snapshot_id": version,
            "parent": parent,
            "operation": operation,
            "files": files,
            "schema": schema_json,
            "ts": time.time(),
        }
        if deletes:
            manifest["deletes"] = deletes
        clash = set(extra_meta or ()) & (set(manifest) | {"deletes"})
        if clash:
            raise ValueError(
                f"extra_meta may not override reserved manifest keys: {sorted(clash)}"
            )
        manifest.update(extra_meta or {})
        payload = json.dumps(manifest)
        try:
            with open(self._manifest_path(version), "x") as fh:
                fh.write(payload)
        except FileExistsError:
            return None
        return version

    def _commit_validated(
        self,
        parent: int | None,
        operation: str,
        files: list[str],
        schema_json: str,
        new_files: list[str],
        deletes: list[dict] | None = None,
        extra_meta: dict | None = None,
    ) -> int:
        """One attempt against the head the operation planned on. Losing
        raises CommitConflict; ``new_files`` (the files this operation
        wrote) are discarded first — no manifest references them, and
        retry loops would otherwise leak a file set per conflict."""
        version = None
        try:
            version = self._try_commit(parent, operation, files, schema_json, deletes, extra_meta)
        finally:
            if version is None:
                discard_files(self.root, new_files)
        if version is None:
            raise CommitConflict(
                f"concurrent commit during {operation} — re-run against the new head"
            )
        return version

    def _commit_rebasing(self, operation: str, plan, new_files=(), retries: int = 5) -> int:
        """The shared retry loop: each attempt reads the head and commits
        ``plan(head)`` = (files, schema_json, deletes, extra_meta), which
        re-derives everything head-dependent — a retry re-applies the
        delta, never the stale snapshot. ``plan`` may raise CommitConflict
        to refuse a head it cannot rebase onto. ``new_files`` are
        discarded when the loop fails."""
        version = None
        try:
            for _ in range(retries):
                parent = self.current_snapshot_id()
                version = self._try_commit(parent, operation, *plan(parent))
                if version is not None:
                    return version
        finally:
            if version is None:
                discard_files(self.root, new_files)
        raise CommitConflict(f"could not commit {operation} after {retries} attempts")

    def _commit(
        self,
        new_files: list[str],
        operation: str,
        schema_json: str,
        retries: int = 5,
        extra_meta: dict | None = None,
    ) -> int:
        """Rebasing commit of data files this table wrote (append and
        overwrite); they are discarded if the loop gives up. An append
        keeps the head's files, its outstanding MoR delete entries (they
        cover only their ``applies_to``, never the new files) and widens
        the schema against it; an overwrite replaces the contents
        wholesale. Rebasing only the writer's OWN files means an append
        racing an overwrite cannot resurrect the pre-overwrite base, and
        widening per attempt means a retry cannot commit a schema that
        hides a column a concurrent commit added (review r5)."""

        def plan(parent):
            if operation != "append":
                return list(new_files), schema_json, None, extra_meta
            head = self._load(parent) if parent is not None else {}
            base = head.get("files", [])
            return (
                base + [p for p in new_files if p not in base],
                self._widened_schema_json(schema_json, parent),
                head.get("deletes"),
                extra_meta,
            )

        return self._commit_rebasing(operation, plan, new_files, retries)

    def append(self, df: DataFrame) -> int:
        return self._commit(self._write_data(df), "append", df.schema.json())

    def _widened_schema_json(self, new_schema_json: str, head: int | None) -> str:
        if head is None:
            return new_schema_json
        head_schema = self._snapshot(head)[2]
        new_schema = T.StructType.fromJson(json.loads(new_schema_json))
        by_name = {f.name: f for f in new_schema.fields}
        for f in head_schema.fields:
            other = by_name.get(f.name)
            if other is not None and other.dataType != f.dataType:
                raise ValueError(
                    f"append schema conflict on column {f.name!r}: table has "
                    f"{f.dataType.simpleString()}, incoming "
                    f"{other.dataType.simpleString()}"
                )
        merged = list(head_schema.fields) + [
            f for f in new_schema.fields
            if f.name not in {h.name for h in head_schema.fields}
        ]
        return T.StructType(merged).json()

    # -- history management (round 5) -----------------------------------------

    def expire_snapshots(
        self,
        keep_last: int = 5,
        older_than_ts: float | None = None,
    ) -> dict:
        """Iceberg-style snapshot expiry: delete old manifests and any data
        file no SURVIVING snapshot references, keeping history bounded for
        tables that commit often.

        A snapshot expires when it is NOT among the ``keep_last`` newest
        AND (when ``older_than_ts`` is given) its commit ts is older. The
        current head never expires.

        Like ``compact``, run this as the single maintenance job for the
        table (Iceberg's own expire_snapshots contract).

        Returns {"expired": [ids], "deleted_files": n, "kept": [ids]}."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the head always survives)")
        versions = self.snapshots()
        keep = set(versions[-keep_last:])
        expiring = []
        for v in versions:
            if v in keep:
                continue
            if older_than_ts is not None:
                if self._load(v).get("ts", 0.0) >= older_than_ts:
                    continue
            expiring.append(v)
        if not expiring:
            return {"expired": [], "deleted_files": 0, "kept": versions}

        surviving = [v for v in versions if v not in set(expiring)]
        # MoR delete files stay live while a surviving manifest references them
        dead_files = self._referenced_files(expiring) - self._referenced_files(surviving)

        deleted = 0
        for f in sorted(dead_files):
            try:
                os.remove(os.path.join(self.root, f))
                deleted += 1
            except OSError:
                pass
        # ADVICE r7 low: prune the removed files' _stats.json/_blooms.json
        # entries and drop commit dirs left holding only sidecar JSON —
        # otherwise frequent commits + scheduled expiry accrete unbounded
        # orphan metadata (stat/bloom entries for files that no longer
        # exist are never consulted, but never freed either).
        self._prune_sidecars({os.path.dirname(f) for f in dead_files})
        for v in expiring:
            try:
                os.remove(self._manifest_path(v))
            except OSError:
                pass
        return {"expired": expiring, "deleted_files": deleted, "kept": surviving}

    def _prune_sidecars(self, dirs: set[str]) -> None:
        """Drop _stats.json/_blooms.json entries for files no longer on
        disk in ``dirs`` and remove dirs left holding only sidecar/writer
        bookkeeping. Shared by expire_snapshots and vacuum_orphans."""
        for d in sorted(dirs):
            full_dir = os.path.join(self.root, d)
            if not os.path.isdir(full_dir):
                continue
            try:
                live = {n for n in os.listdir(full_dir) if n.endswith(".parquet")}
            except OSError:
                continue
            for sidecar in (_STATS_NAME, self._BLOOMS_NAME):
                path = os.path.join(full_dir, sidecar)
                if not os.path.exists(path):
                    continue
                try:
                    if not live:
                        os.remove(path)
                        continue
                    with open(path) as fh:
                        ent = json.load(fh)
                    kept_ent = {n: e for n, e in ent.items() if n in live}
                    if len(kept_ent) != len(ent):
                        write_json_atomic(path, kept_ent)
                except (OSError, ValueError):
                    pass  # sidecars are optimizations, never correctness
            if not live:
                # sweep writer bookkeeping (_SUCCESS, .crc shadows) so the
                # dir can go; anything unrecognized blocks rmdir (kept)
                for n in os.listdir(full_dir):
                    if n == "_SUCCESS" or (n.startswith(".") and n.endswith(".crc")):
                        try:
                            os.remove(os.path.join(full_dir, n))
                        except OSError:
                            pass
                try:
                    os.rmdir(full_dir)  # only succeeds when truly empty
                except OSError:
                    pass

    def rollback(self, snapshot_id: int) -> int:
        """Restore the table to ``snapshot_id``'s state as a NEW commit
        (Iceberg's rollback_to_snapshot): the head becomes a snapshot
        referencing the target's exact file list and delete entries, so
        the rollback is itself time-travelable and nothing is deleted —
        expire_snapshots later reclaims the rolled-back-over files if
        no surviving snapshot references them. CAS commit: a concurrent
        writer raises CommitConflict (a silent rebase would resurrect
        rows the other writer just changed)."""
        target = self._load(snapshot_id)  # FileNotFoundError if expired
        head = self.current_snapshot_id()
        if head == snapshot_id:
            return head
        return self._commit_validated(
            head, "rollback", list(target["files"]), target["schema"], [],
            target.get("deletes"), {"rolled_back_to": snapshot_id},
        )

    def vacuum_orphans(self, grace_seconds: float = 86400.0) -> dict:
        """Remove data files referenced by NO surviving manifest (Iceberg's
        remove_orphan_files): crashed writes — ``_write_data`` before a
        failed commit, compact/merge losers whose cleanup also died —
        leave full parquet files in commit dirs forever; expire_snapshots
        never touches them because it only walks manifests.

        ``grace_seconds`` (default 24 h) is the standard in-flight-writer
        guard: a CONCURRENT writer's files exist on disk before its
        manifest does, so only files older than the grace window are
        eligible. Never pass 0 on a live table. Sidecar entries for the
        removed files are pruned too. Returns
        ``{"removed": n, "scanned": n_disk, "referenced": n_refs}``."""
        referenced = self._referenced_files(self.snapshots())
        data_root = os.path.join(self.root, "data")
        cutoff = time.time() - grace_seconds
        removed = 0
        scanned = 0
        touched_dirs: set[str] = set()
        for dirpath, _dirs, names in os.walk(data_root):
            rel_dir = os.path.relpath(dirpath, self.root)
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                scanned += 1
                rel = os.path.join(rel_dir, n)
                if rel in referenced:
                    continue
                full = os.path.join(dirpath, n)
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue  # possibly an in-flight writer's file
                    os.remove(full)
                    removed += 1
                    touched_dirs.add(rel_dir)
                except OSError:
                    pass
        if touched_dirs:
            self._prune_sidecars(touched_dirs)
        return {"removed": removed, "scanned": scanned, "referenced": len(referenced)}

    def changelog(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Row-level CDC view (Iceberg's create_changelog_view analog,
        round 7): every row added or removed in ``(from, to]`` with a
        ``_change_type`` column ("insert" / "delete") — the shape
        downstream incremental consumers (rollups, indexes, replication)
        subscribe to. Built on ``read_incremental_changes``: appends
        contribute inserts, MoR equality deletes contribute deletes
        (computed against their own parent, so re-deletes don't
        double-emit); raises ValueError for rewrites a row-level delta
        cannot express (merge/overwrite/update, positional deletes)."""
        from pyspark.sql import functions as F

        added, deleted = self.read_incremental_changes(spark, from_snapshot, to_snapshot)
        out = added.withColumn("_change_type", F.lit("insert"))
        if deleted is None:
            return out
        return out.unionByName(deleted.withColumn("_change_type", F.lit("delete")))

    def read_incremental_changes(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        """CDC-style incremental scan (the Iceberg incremental-read
        analog) with row-level delete deltas: returns ``(added, deleted)``
        — the rows appended strictly after ``from_snapshot`` up to and
        including ``to_snapshot`` (default head), and the rows REMOVED by
        equality-delete snapshots in the same window, or None when the
        window holds no delete snapshot. Net table state = state(from) +
        added − deleted (as multisets), so downstream curation consumes
        only the delta instead of rescanning the table, and a
        sum-decomposable rollup stays incremental under MoR deletes.

        Walks the parent chain ``to → from`` (``history``). Every
        ``append`` contributes exactly the files it added over its parent
        (manifests carry full file lists, so the delta is a set diff);
        ``compact`` and ``rewrite_deletes`` are row-preserving and
        contribute nothing. Each delete snapshot's removed rows are
        computed against its OWN parent: the covered data files read
        through the parent's outstanding delete entries (bounded by
        ``applies_to``, never a table scan), inner-semi-joined with the
        new entry's key file. Deleting an already-deleted key therefore
        contributes nothing (no double subtraction), and a row appended
        and deleted inside the window appears once on each side.

        Raises ValueError when ``from`` is newer than or not an ancestor
        of ``to``, when the chain crosses expired history, and for
        rewrites a row-level delta cannot express: merge / overwrite /
        update, and POSITIONAL delete snapshots (their ordinals are
        relative to the physical file — Iceberg's changelog scan punts on
        them the same way).

        Both sides read with ``to``'s schema. Inside a valid window the
        schema only widens (append), so a column a file predates reads as
        NULL, exactly like a full read."""
        from functools import reduce

        from pyspark.sql import functions as F

        to, _head, schema = self._snapshot(to_snapshot)
        if from_snapshot > to:
            raise ValueError(f"from_snapshot {from_snapshot} is newer than {to}")

        def read(paths: list[str], file_schema: "T.StructType") -> DataFrame:
            return spark.read.schema(file_schema).parquet(
                *[os.path.join(self.root, p) for p in paths]
            )

        added: list[str] = []
        deleted_parts: list[DataFrame] = []
        chain = self.history(to)
        manifest = next(chain)
        while manifest["snapshot_id"] != from_snapshot:
            try:
                parent = next(chain)
            except StopIteration:
                raise ValueError(f"snapshot {from_snapshot} is not an ancestor of {to}") from None
            except FileNotFoundError as exc:
                raise ValueError(
                    f"cannot read incrementally across expired snapshot "
                    f"{os.path.basename(exc.filename)} (run from a surviving ancestor)"
                ) from exc
            op = manifest["operation"]
            if op == "append":
                base = set(parent["files"])
                added[:0] = [f for f in manifest["files"] if f not in base]
            elif op == "delete":
                parent_entries = {tuple(e["files"]) for e in parent.get("deletes", [])}
                for e in manifest.get("deletes", []):
                    if tuple(e["files"]) in parent_entries:
                        continue
                    if e.get("kind") == "position":
                        raise ValueError(
                            f"snapshot {manifest['snapshot_id']} holds a positional delete: "
                            "row ordinals cannot be re-keyed as a logical delta — "
                            "re-read the full table"
                        )
                    covered = self._read_with_deletes(
                        spark, {**parent, "files": e["applies_to"]}, schema
                    )
                    key_df = read(e["files"], T.StructType.fromJson(json.loads(e["schema"])))
                    deleted_parts.append(covered.join(F.broadcast(key_df), e["keys"], "left_semi"))
            elif op not in ("compact", "rewrite_deletes"):  # row-preserving rewrites pass
                raise ValueError(
                    f"snapshot {manifest['snapshot_id']} is {op!r}: a row-level incremental "
                    "read cannot express rewrites — re-read the full table"
                )
            manifest = parent
        added_df = read(added, schema) if added else spark.createDataFrame([], schema)
        deleted_df = reduce(DataFrame.unionByName, deleted_parts) if deleted_parts else None
        return added_df, deleted_df

    def overwrite(self, df: DataFrame, extra_meta: dict | None = None) -> int:
        return self._commit(
            self._write_data(df), "overwrite", df.schema.json(), extra_meta=extra_meta
        )

    def merge(
        self,
        spark: SparkSession,
        src: DataFrame,
        keys: list[str],
        extra_meta: dict | None = None,
    ) -> int:
        """Copy-on-write MERGE (Iceberg ``MERGE INTO ... WHEN MATCHED UPDATE
        SET * WHEN NOT MATCHED INSERT *``): only data files that CONTAIN a
        matched key are rewritten (their unmatched rows survive); untouched
        files carry over into the new snapshot by reference. A concurrent
        commit between planning and commit raises CommitConflict — the caller
        re-runs the merge against the new head (Iceberg's validation-failure
        semantics; a silent rebase could resurrect rows another writer
        deleted)."""
        from pyspark.sql import functions as F

        parent = self.current_snapshot_id()
        if parent is None:
            # still commit with merge's strict conflict contract: a racing
            # writer must surface as CommitConflict, never a silent rebase
            new_files = self._write_data(src)
            return self._commit_validated(
                parent, "merge", new_files, src.schema.json(), new_files, None, extra_meta
            )
        _parent, manifest, schema = self._snapshot(parent)
        key_df = src.select(*keys).distinct()

        # ONE pass over the whole table: tag rows with their source file,
        # find the files containing any matched key, carry those files'
        # unmatched rows forward; untouched files are reused by reference.
        # (The per-file probe-loop alternative issues O(n_files) sequential
        # driver jobs — linear latency in file count regardless of data.)
        # read through outstanding MoR deletes (round 5): survivors must
        # not resurrect deleted rows, and matched-file detection must see
        # the delete-applied view
        keep_files, rewrite = self._matched_file_split(
            spark, manifest, schema, "merge",
            lambda tagged: tagged.join(F.broadcast(key_df), keys, "left_semi"),
        )
        if rewrite:
            sub = {"files": rewrite, "deletes": manifest.get("deletes", [])}
            survivors = self._read_with_deletes(spark, sub, schema).join(
                F.broadcast(key_df), keys, "left_anti"
            )
        else:
            survivors = spark.createDataFrame([], schema)
        surviving_deletes = self._surviving_deletes(manifest, set(keep_files))
        # union even when nothing is rewritten so the committed schema is the
        # TABLE ∪ src schema: committing src's (possibly narrower) schema
        # would hide existing columns from every later read — silent data
        # loss Iceberg MERGE never produces. Parquet files lacking a schema
        # column read back as NULL, so widening is always safe.
        new_data = survivors.unionByName(src, allowMissingColumns=True)
        new_files = self._write_data(new_data)
        return self._commit_validated(
            parent, "merge", keep_files + new_files, new_data.schema.json(), new_files,
            surviving_deletes, extra_meta,
        )

    def update_where(
        self,
        spark: SparkSession,
        condition,
        set_exprs: dict,
        extra_meta: dict | None = None,
    ) -> int:
        """Copy-on-write ``UPDATE ... SET ... WHERE`` (the Delta/Iceberg
        UPDATE shape): ONLY data files containing at least one matching
        row are rewritten — matching rows get ``set_exprs`` applied,
        their file-mates carry unchanged, untouched files carry into the
        new snapshot by reference. Matching is evaluated on the
        delete-applied view, surviving MoR delete entries keep covering
        the untouched files, and the commit is validated exactly like
        ``merge`` (CommitConflict on a racing writer, never a silent
        rebase).

        ``condition``: Column or SQL string. ``set_exprs``: {column →
        Column | SQL string}; only EXISTING columns may be set, and each
        assignment is cast back to the column's declared type so the
        table schema never drifts. ``read_incremental_changes`` refuses to
        cross an ``update`` snapshot (row rewrites are inexpressible as a
        row-level delta) — same contract as merge/overwrite, so
        incrementally-maintained rollups fall back to a full recompute."""
        from pyspark.sql import functions as F

        parent, manifest, schema = self._snapshot()
        names = {f.name: f.dataType for f in schema.fields}
        bad = [c for c in set_exprs if c not in names]
        if bad:
            raise KeyError(f"update_where target column(s) {bad} not in table schema")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        sets = {
            c: (F.expr(e) if isinstance(e, str) else e).cast(names[c])
            for c, e in set_exprs.items()
        }

        keep_files, rewrite = self._matched_file_split(
            spark, manifest, schema, "update_where", lambda tagged: tagged.where(cond)
        )
        if not rewrite:
            return parent  # no row matches: the table is already the answer
        sub = {"files": rewrite, "deletes": manifest.get("deletes", [])}
        rows = self._read_with_deletes(spark, sub, schema)
        updated = rows.select(
            *[
                F.when(cond, sets[c]).otherwise(F.col(c)).alias(c) if c in sets else F.col(c)
                for c in rows.columns
            ]
        )
        surviving_deletes = self._surviving_deletes(manifest, set(keep_files))
        new_files = self._write_data(updated)
        return self._commit_validated(
            parent, "update", keep_files + new_files, manifest["schema"], new_files,
            surviving_deletes, extra_meta,
        )

    def _matched_file_split(
        self, spark: SparkSession, manifest: dict, schema, op: str, select_matches
    ) -> tuple[list[str], list[str]]:
        """Copy-on-write planning shared by merge and update_where (review
        r6 — the two hand-copied versions were already diverging): ONE
        tagged pass over the delete-applied view, ``select_matches``
        narrows it to matching rows, and the touched files are mapped
        back to manifest entries FAIL-CLOSED (a URI→relpath mismatch must
        never classify a matched file as untouched — that would leave its
        old rows alive). Returns (keep_files, rewrite_files)."""
        from urllib.parse import unquote, urlparse

        tagged = self._read_with_deletes(spark, manifest, schema, file_tag_col="_file")
        root_abs = os.path.abspath(self.root)
        matched_rel = {
            os.path.relpath(unquote(urlparse(r["_file"]).path), root_abs)
            for r in select_matches(tagged).select("_file").distinct().collect()
        }
        unknown = matched_rel - set(manifest["files"])
        if unknown:
            raise RuntimeError(
                f"{op} could not map {len(unknown)} scanned file path(s) back "
                f"to manifest entries (e.g. {sorted(unknown)[:2]}); refusing a "
                "potentially lossy rewrite"
            )
        keep = [f for f in manifest["files"] if f not in matched_rel]
        rewrite = [f for f in manifest["files"] if f in matched_rel]
        return keep, rewrite

    @staticmethod
    def _surviving_deletes(manifest: dict, keep_set: set) -> list[dict]:
        """Delete entries survive a rewrite only on the UNTOUCHED files:
        rewritten files are delete-applied, so their coverage drops."""
        out = []
        for e in manifest.get("deletes", []):
            cov = [f for f in e["applies_to"] if f in keep_set]
            if cov:
                out.append({**e, "applies_to": cov})
        return out

    # -- reads ----------------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> int:
        """Small-file compaction (round 3): rewrite the CURRENT snapshot's
        data into ~target_bytes files via a VALIDATED rewrite commit — the
        transactional rewrite Iceberg's rewrite_data_files performs. Old
        snapshots keep their original files (time travel intact); readers
        at the old snapshot are unaffected. The commit is conditional on
        the head still being the snapshot that was read: a concurrent
        commit in between raises CommitConflict (re-run compact against
        the new head) — a rebasing overwrite here would silently DROP the
        concurrent writer's rows (review r3). Returns the new snapshot id.

        Frequent small appends accrete small files — schedule this like
        any table-maintenance job.

        ``sort_by`` (VERDICT r6 #3): re-cluster during the rewrite
        (repartitionByRange + sortWithinPartitions) so a sorted-ingest or
        z-ordered table KEEPS its file-skipping power — a plain
        round-robin repartition scatters every key range across every
        output file, and one scheduled compaction silently turns
        read_pruned into a full scan. ``_stats.json`` for the new
        files is written by ``_write_data`` as always; pass ``bloom_cols``
        to rebuild per-file key blooms for the new files in the same
        maintenance action (blooms are sidecars: a crash before they're
        built only costs skipping, never correctness).

        ``zorder_by`` (mutually exclusive with ``sort_by``): multi-column
        re-clustering — rewrite in Morton z-value order (operators/zorder)
        so box predicates over SEVERAL columns keep skipping via the
        per-commit column stats; column domains are sampled from the
        snapshot in one aggregate pass (Delta OPTIMIZE ZORDER BY's shape)."""
        snap = self.current_snapshot_id()
        if snap is None:
            raise ValueError("cannot compact an empty table")
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        _snap, manifest, schema = self._snapshot(snap)
        for label, cols in (("sort_by", sort_by), ("zorder_by", zorder_by)):
            if cols:
                bad = [c for c in cols if c not in schema.names]
                if bad:
                    raise KeyError(f"compact {label} column(s) {bad} not in table schema")
        total = 0
        for f in manifest["files"]:
            try:
                total += os.path.getsize(os.path.join(self.root, f))
            except OSError:
                pass
        n_out = max(1, -(-total // target_bytes))
        df = self.read(spark, snapshot_id=snap)
        if sort_by:
            df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
        elif zorder_by:
            from .operators.zorder import zorder_clustered

            df = zorder_clustered(df, zorder_by, n_out)
        else:
            df = df.repartition(n_out)
        new_files = self._write_data(df)
        version = self._commit_validated(snap, "compact", new_files, manifest["schema"], new_files)
        if bloom_cols:
            self.build_file_blooms(spark, bloom_cols, snapshot_id=version)
        return version

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        _version, manifest, schema = self._snapshot(snapshot_id)
        if not manifest["files"]:
            return spark.createDataFrame([], schema)
        return self._read_with_deletes(spark, manifest, schema)

    def prune_files(
        self,
        box: dict[str, tuple],
        snapshot_id: int | None = None,
        tz: str | None = None,
    ) -> tuple[list[str], int]:
        """Scan planning (round 6): intersect a box predicate
        ``{col: (lo, hi)}`` with the per-commit ``_stats.json`` column
        stats and return ``(files_to_scan, total_files)`` — driver-side
        JSON reads, zero data files opened. A file is dropped only when a
        recorded column range provably misses the box; files without a
        stats entry (foreign writers, stats failure, pre-stats commits)
        or without bounds for a box column are always kept. Bounds may be
        numbers, dates or datetimes (see ``_stat_bound``). ``tz``: zone
        for naive datetime/date bounds — pass the Spark session timezone
        when the same bounds also feed a Spark filter (``read_pruned``
        does this automatically); None = UTC. A point bound (lo == hi)
        also drops files whose bloom rejects it, when its python type
        matches the column's (an int probe hashes "5"; the residual casts
        a string column and matches "05"). String points: blooms only."""
        _version, manifest, schema = self._snapshot(snapshot_id)
        return self._prune(manifest, schema, box, tz)

    def _prune(
        self, manifest: dict, schema: "T.StructType", box: dict[str, tuple], tz: str | None
    ) -> tuple[list[str], int]:
        """``prune_files`` over an already-resolved snapshot."""
        bounds = {}
        probes = {}
        for col, (lo, hi) in box.items():
            t = schema[col].dataType.simpleString() if col in schema.names else None
            if lo == hi and t in self._BLOOMABLE_SPARK_TYPES:
                s = self._bloom_probe_str(lo)
                if s is not None and (t == "string") == isinstance(lo, str):
                    probes[col] = s
            blo, bhi = _stat_bound(lo, tz), _stat_bound(hi, tz)
            if blo is None or bhi is None:
                if lo == hi:
                    continue  # a point of a stats-less kind: blooms only
                raise TypeError(
                    f"box bound for {col!r} is not a prunable kind "
                    "(number / bool / date / datetime)"
                )
            # both normalizations per bound: which one compares against a
            # file's stats depends on the COLUMN's recorded temporal kind
            # (ADVICE r7 high: date stats are tz-free UTC-midnight values,
            # but a session-zone bound was compared against them — a file
            # touching the box edge was wrongly dropped in non-UTC zones)
            bounds[col] = {
                "tz": (blo, bhi),
                "utc": (_stat_bound(lo, None), _stat_bound(hi, None)),
                "kinds": (_temporal_kind(lo), _temporal_kind(hi)),
            }
        files = manifest["files"]
        dir_stats: dict[str, dict] = {}
        dir_blooms: dict[str, dict] = {}
        keep = []
        for f in files:
            d, name = os.path.split(f)
            if d not in dir_stats:
                dir_stats[d] = _load_sidecar(os.path.join(self.root, d, _STATS_NAME))
            ent = dir_stats[d].get(name)
            drop = False
            if ent is not None:
                if ent.get("rows") == 0:
                    continue  # zero-row part files never match anything
                for col, b in bounds.items():
                    if col not in ent["min"]:
                        continue
                    cmp = self._stat_cmp_bounds(
                        ent.get("kind", {}).get(col), b
                    )
                    if cmp is None:
                        continue  # comparison rules unknowable — keep file
                    blo, bhi, slop = cmp
                    if (
                        ent["max"][col] + slop < blo
                        or ent["min"][col] - slop > bhi
                    ):
                        drop = True
                        break
            if not drop and probes:
                if d not in dir_blooms:
                    dir_blooms[d] = _load_sidecar(os.path.join(self.root, d, self._BLOOMS_NAME))
                drop = self._bloom_rejects(dir_blooms[d].get(name, {}), probes)
            if not drop:
                keep.append(f)
        return keep, len(files)

    @classmethod
    def _bloom_rejects(cls, blooms: dict, probes: dict[str, str]) -> bool:
        """True when one file's bloom for some probed column lacks the
        probe; a column without a bloom rejects nothing."""
        for col, pstr in probes.items():
            b = blooms.get(col, {"k": 0})
            for i in range(b["k"]):
                p = cls._bloom_positions_py(pstr, i, b["m"])
                if not (b["words"].get(str(p // 64), 0) >> (p % 64)) & 1:
                    return True
        return False

    @staticmethod
    def _stat_cmp_bounds(col_kind: str | None, b: dict) -> tuple | None:
        """Pick the (lo, hi, stat_slop) to compare a file's recorded stats
        against, given the column's recorded temporal kind and the user
        bound's kinds — or None when no sound comparison exists (the file
        is then kept; the residual filter stays exact either way).

        Rules mirror how Spark's residual filter evaluates the predicate:
        - date column vs date bound: DATE comparison, timezone-free on
          both sides → tz=None normalizations.
        - timestamp column vs any temporal bound: Spark interprets naive
          literals (and casts date literals) at the SESSION zone; footer
          stats are UTC instants → session-zone normalizations.
        - date column vs datetime bound: Spark casts the column to
          timestamp at the session zone (an instant the stored tz-free
          midnight can't pin down) → session-zone bound widened by the
          max UTC offset (``_TZ_SLOP_US``), still pruning files more
          than a day away from the box.
        - numeric column vs numeric bound: tz-independent, exact.
        - kind unrecorded (pre-r7 stats files) or temporal/numeric mix:
          no pruning on this column."""
        klo, khi = b["kinds"]
        if klo == "num" and khi == "num":
            if col_kind in (None, "num"):  # None = legacy file, numeric rules
                return (*b["tz"], 0.0)
            return None  # temporal column vs numeric bound: not comparable
        # at least one temporal bound side
        if col_kind == "date":
            if klo == "date" and khi == "date":
                return (*b["utc"], 0.0)
            return (*b["tz"], _TZ_SLOP_US)
        if col_kind == "ts":
            return (*b["tz"], 0.0)
        return None  # legacy stats: temporal rules unknowable

    def read_pruned(
        self,
        spark: SparkSession,
        box: dict[str, tuple],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Predicate read with file-level data skipping (the Iceberg scan
        path: manifest column stats prune the file list BEFORE any data
        file is opened, then the residual predicate applies within kept
        files — parquet row-group pushdown still applies under it).
        Point bounds also prune on the file blooms (``prune_files``).
        Outstanding MoR delete entries are applied exactly as in
        ``read``; restricting the file list never changes which entries
        cover a kept file. Equivalent to
        ``read(...).where(<box predicate>)`` by construction — pruning
        only drops files whose recorded ranges provably miss the box."""
        from pyspark.sql import functions as F

        _version, manifest, schema = self._snapshot(snapshot_id)
        # naive temporal bounds: the residual filter below interprets them
        # in the SESSION timezone, so pruning must too (review r6)
        session_tz = spark.conf.get("spark.sql.session.timeZone", None)
        keep, _total = self._prune(manifest, schema, box, session_tz)
        if not keep:
            return spark.createDataFrame([], schema)
        out = self._read_with_deletes(spark, {**manifest, "files": keep}, schema)
        for col, (lo, hi) in box.items():
            out = out.where(F.col(col).between(F.lit(lo), F.lit(hi)))
        return out

    def _read_with_deletes(
        self,
        spark: SparkSession,
        manifest: dict,
        schema: "T.StructType",
        file_tag_col: str | None = None,
        keep_position_cols: bool = False,
    ) -> DataFrame:
        """Snapshot read applying outstanding MoR delete entries (round 5,
        the Iceberg v2 equality-delete read path): data files are grouped
        by WHICH delete entries cover them (``applies_to``), each group
        anti-joins the covering entries' key sets (broadcast — equality
        deletes are small by construction; Iceberg readers hash-join them
        the same way), and the groups union back. Files appended after a
        delete carry no coverage, so re-inserted keys survive. ``compact``
        materializes deletes (it reads through this path and commits a
        manifest without delete entries)."""
        from pyspark.sql import functions as F

        def raw(paths: list[str], with_pos: bool = False) -> DataFrame:
            df = spark.read.schema(schema).parquet(
                *[os.path.join(self.root, p) for p in paths]
            )
            if file_tag_col:
                df = df.withColumn(file_tag_col, F.input_file_name())
            if with_pos:
                # _metadata resolves only against the scan relation — the
                # position keys must be attached HERE, before any join
                df = df.withColumn(
                    "__dfile",
                    F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
                ).withColumn("__dpos", F.col("_metadata.row_index"))
            return df

        deletes = manifest.get("deletes", [])
        if not deletes:
            return raw(manifest["files"], with_pos=keep_position_cols)
        applies = [set(e["applies_to"]) for e in deletes]
        groups: dict[tuple, list[str]] = {}
        for f in manifest["files"]:
            sig = tuple(i for i, s in enumerate(applies) if f in s)
            groups.setdefault(sig, []).append(f)
        key_dfs: dict[int, DataFrame] = {}
        out = None
        for sig, paths in groups.items():
            # positional entries (round 6, Iceberg v2's second delete kind)
            # anti-join on (file basename, row ordinal) — the keys come
            # from the hidden _metadata column, attached at the scan
            needs_pos = keep_position_cols or any(
                deletes[i].get("kind") == "position" for i in sig
            )
            df = raw(paths, with_pos=needs_pos)
            for i in sig:
                e = deletes[i]
                if i not in key_dfs:
                    kschema = T.StructType.fromJson(json.loads(e["schema"]))
                    key_dfs[i] = spark.read.schema(kschema).parquet(
                        *[os.path.join(self.root, p) for p in e["files"]]
                    )
                df = df.join(F.broadcast(key_dfs[i]), e["keys"], "left_anti")
            if needs_pos and not keep_position_cols:
                df = df.drop("__dfile", "__dpos")
            out = df if out is None else out.unionByName(df)
        return out

    def read_amplification(self, snapshot_id: int | None = None) -> dict:
        """MoR read-amplification metric (round 6, VERDICT r5 #6):
        equality-delete entries accumulate until something materializes
        them, and every covering entry is one more broadcast anti-join a
        reader of that data file pays. Pure manifest arithmetic (no
        Spark):

        * ``delete_entries_per_data_file`` — mean number of delete
          entries covering a data file (the headline number; 0.0 = fully
          materialized);
        * ``max_delete_entries_per_file`` — the worst reader's join count;
        * ``n_delete_entries`` / ``n_delete_files`` / ``covered_data_files``.
        """
        _snap, m, _schema = self._snapshot(snapshot_id)
        deletes = m.get("deletes", [])
        applies = [set(e["applies_to"]) for e in deletes]
        per_file = {f: sum(f in s for s in applies) for f in m["files"]}
        covered = sum(1 for n in per_file.values() if n > 0)
        return {
            "n_data_files": len(per_file),
            "n_delete_entries": len(deletes),
            "n_delete_files": sum(len(e["files"]) for e in deletes),
            "covered_data_files": covered,
            "delete_entries_per_data_file": (
                sum(per_file.values()) / len(per_file) if per_file else 0.0
            ),
            "max_delete_entries_per_file": max(per_file.values(), default=0),
        }

    def rewrite_deletes(self, spark: SparkSession) -> int:
        """Materialize outstanding equality deletes by rewriting ONLY the
        covered data files (the Iceberg ``rewrite_position_delete_files``
        maintenance analog): covered files are read through the
        delete-applied path and rewritten clean; UNcovered files are
        carried over untouched — unlike ``compact`` this never rewrites
        data no delete touches. Commits a ``rewrite_deletes`` snapshot
        with no delete entries (CAS on the head, CommitConflict on a
        concurrent commit — rerun against the new head). Old snapshots
        keep their delete entries and files (time travel intact; expiry
        reclaims them). Returns the new snapshot id (the current one if
        there was nothing to materialize)."""
        snap = self.current_snapshot_id()
        if snap is None:
            raise ValueError("cannot rewrite deletes on an empty table")
        _snap, m, schema = self._snapshot(snap)
        deletes = m.get("deletes", [])
        if not deletes:
            return snap
        applies = [set(e["applies_to"]) for e in deletes]
        covered = [f for f in m["files"] if any(f in s for s in applies)]
        untouched = [f for f in m["files"] if not any(f in s for s in applies)]
        if covered:
            cleaned = self._read_with_deletes(spark, {**m, "files": covered}, schema)
            new_files = self._write_data(cleaned)
        else:
            # delete entries that cover no file (committed onto an empty
            # table) are pure no-ops — drop them without touching data
            new_files = []
        return self._commit_validated(
            snap, "rewrite_deletes", untouched + new_files, m["schema"], new_files
        )

    def delete(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        keys: list[str],
        auto_rewrite_after: float | None = None,
    ) -> int:
        """Merge-on-read equality DELETE (Iceberg v2 pattern, round 5):
        write the distinct key tuples as a delete file and commit a
        ``delete`` snapshot whose entry applies to the data files present
        at commit time — NO data file is rewritten. Reads anti-join the
        keys out; a later append of the same key is a re-insert (the
        delete never covers new files); ``compact`` materializes all
        outstanding deletes. Rebase-and-retry like append: a retry
        recomputes ``applies_to`` against the new head, so the delete
        always covers exactly the data visible when it commits.
        ``read_incremental_changes`` returns the removed rows as its
        ``deleted`` half.

        ``auto_rewrite_after``: opt-in hygiene threshold — after the
        delete commits, if ``delete_entries_per_data_file`` (see
        read_amplification) reaches this value, outstanding deletes are
        materialized via ``rewrite_deletes`` and ITS snapshot id is
        returned; a CommitConflict during that maintenance step is
        swallowed (the delete itself is committed — rerun maintenance
        later), the delete commit is never at risk."""
        if not keys:
            raise ValueError("delete needs at least one key column")
        table_cols = self._snapshot()[2].names
        missing = [k for k in keys if k not in table_cols]
        if missing:
            raise KeyError(f"delete key column(s) {missing} not in table schema")
        key_rows = keys_df.select(*keys).distinct()
        delete_files = self._write_data(key_rows)
        entry_schema = key_rows.schema.json()

        def plan(parent):
            # applies_to is re-derived per attempt: the delete covers
            # exactly the data visible when it commits
            head = self._load(parent)
            entry = {
                "files": delete_files,
                "keys": list(keys),
                "schema": entry_schema,
                "applies_to": head["files"],
            }
            return head["files"], head["schema"], head.get("deletes", []) + [entry], None

        committed = self._commit_rebasing("delete", plan, delete_files)
        if auto_rewrite_after is not None:
            amp = self.read_amplification(committed)
            if amp["delete_entries_per_data_file"] >= auto_rewrite_after:
                try:
                    return self.rewrite_deletes(spark)
                except CommitConflict:
                    pass  # maintenance lost a race; the delete is committed
        return committed

    def delete_positions_where(self, spark: SparkSession, condition) -> int:
        """Merge-on-read POSITIONAL delete (round 6 — Iceberg v2's second
        delete kind): record (file basename, row ordinal) of every
        current row matching ``condition`` as a delete file, rewriting
        NO data. Positions come from the hidden ``_metadata.row_index``
        column, so this targets exact physical rows — including ONE of
        several fully identical rows, which equality deletes cannot
        express. The entry's ``applies_to`` is only the files that
        actually contain deleted positions (tighter than equality's
        all-visible coverage); matching is evaluated on the delete-
        applied view, so already-deleted rows are not re-deleted.
        Rewrites (merge/update/compact/rewrite_deletes) read through the
        delete-applied view and drop coverage with the rewritten files —
        positions never outlive the files they index. For the same
        reason positions cannot REBASE: a concurrent rewrite of a
        touched file raises CommitConflict (recompute against the new
        head) instead of silently dropping deletions.

        ``condition`` may reference ``_metadata.row_index`` and
        ``_metadata.file_name`` (file basename): the hidden metadata
        column does not resolve above the unioned delete-read, so the
        view shadows it with a real struct over the materialized keys.
        ``_metadata.file_path`` (a full-URI field this struct does not
        carry) fails loudly rather than silently diverging."""
        from pyspark.sql import functions as F

        head, manifest, schema = self._snapshot()
        if not manifest["files"]:
            return head
        from pyspark import StorageLevel

        cond = F.expr(condition) if isinstance(condition, str) else condition
        view = self._read_with_deletes(
            spark, manifest, schema, keep_position_cols=True
        )
        # shadow the hidden _metadata with a real struct over the
        # materialized keys: the hidden column does not resolve above the
        # Union the grouped delete-read produces (review r6, reproduced),
        # so conditions may reference _metadata.row_index /
        # _metadata.file_name (basename) uniformly on every path
        view = view.withColumn(
            "_metadata",
            F.struct(
                F.col("__dpos").alias("row_index"),
                F.col("__dfile").alias("file_name"),
            ),
        )
        matches = (
            view.where(cond)
            .select("__dfile", "__dpos")
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            touched = {r["__dfile"] for r in matches.select("__dfile").distinct().collect()}
            if not touched:
                return head
            delete_files = self._write_data(matches)
        finally:
            matches.unpersist(blocking=False)
        entry_schema = matches.schema.json()


        def plan(parent):
            head = self._load(parent)
            # positions index SPECIFIC physical files and cannot rebase: if
            # a concurrent rewrite replaced any touched file, committing
            # would silently drop those deletions (review r6) — equality
            # deletes rebase because their keys re-apply to any head
            if not touched <= {os.path.basename(f) for f in head["files"]}:
                raise CommitConflict(
                    "a concurrent rewrite replaced file(s) holding deleted "
                    "positions — recompute the positional delete against "
                    "the new head"
                )
            entry = {
                "kind": "position",
                "files": delete_files,
                "keys": ["__dfile", "__dpos"],
                "schema": entry_schema,
                "applies_to": [f for f in head["files"] if os.path.basename(f) in touched],
            }
            return head["files"], head["schema"], head.get("deletes", []) + [entry], None

        return self._commit_rebasing("delete", plan, delete_files)

    def diff(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: int | None = None,
        keys: list[str] | None = None,
        assume_unique_keys: bool = False,
    ) -> DataFrame:
        """Row-level diff between two snapshots: (change ∈ added/removed/
        changed, key columns, value columns) — added/changed rows carry
        the ``to`` side's values, removed rows the ``from`` side's.
        Unchanged rows are excluded.

        This is the COMPLEMENT of ``read_incremental_changes``: it compares
        materialized states, so it works across ANY operation mix
        (merge, overwrite, MoR delete, compact) at the cost of reading
        both snapshots — a full-outer join on the keys, NULL-safe struct
        comparison for change detection. ``keys`` must identify rows
        uniquely in both snapshots (duplicate keys raise);
        ``assume_unique_keys=True`` skips that guard's two extra
        aggregation passes when the caller already knows (review r5:
        each guard pass re-reads a full snapshot — meaningful on the
        large tables this layer targets)."""
        if not keys:
            raise ValueError("diff needs key columns")
        from pyspark.sql import functions as F

        a = self.read(spark, snapshot_id=from_snapshot)
        b = self.read(spark, snapshot_id=to_snapshot)
        val_cols = [c for c in b.columns if c not in keys]
        missing = [k for k in keys if k not in a.columns or k not in b.columns]
        if missing:
            raise KeyError(f"diff key column(s) {missing} absent from a snapshot")
        if not assume_unique_keys:
            for side, df in (("from", a), ("to", b)):
                dup = df.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
                if dup:
                    raise ValueError(f"diff keys are not unique in the {side} snapshot")
        # align the from-side struct to the to-side's value columns:
        # schema widening between the snapshots (append/merge widen-only)
        # reads as NULL on the old side, which the NULL-safe comparison
        # then treats as a real difference
        a_cols = set(a.columns)
        av = a.select(
            *keys,
            F.struct(
                *[
                    (F.col(c) if c in a_cols else F.lit(None).cast(b.schema[c].dataType)).alias(c)
                    for c in val_cols
                ]
            ).alias("__a"),
        )
        bv = b.select(*keys, F.struct(*val_cols).alias("__b"))
        j = av.join(bv, keys, "full_outer")
        change = (
            F.when(F.col("__a").isNull(), F.lit("added"))
            .when(F.col("__b").isNull(), F.lit("removed"))
            .when(~F.col("__a").eqNullSafe(F.col("__b")), F.lit("changed"))
        )
        picked = F.coalesce(F.col("__b"), F.col("__a"))
        return (
            j.withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(
                "change", *keys, *[picked.getField(c).alias(c) for c in val_cols]
            )
        )
