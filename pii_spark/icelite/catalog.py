"""icelite — a minimal Iceberg-style snapshot layer over Parquet.

No Iceberg runtime jars ship in this sandbox, so this module provides
the subset of Iceberg semantics the north rule needs — snapshot-based
commits, append/overwrite, time travel, and an atomic current-version
pointer — with the same shape a real catalog would have:

    table_dir/
      data/snap-<snapshot_id>/part-*.parquet   (one dir per commit)
      metadata/v<N>.json                       (snapshot manifest)
      metadata/version-hint.text               (current version, atomic)

A snapshot manifest lists the data directories that make up the table
at that version plus a free-form ``summary`` (used by the resume ledger
to record which partition-groups are already committed). Commits are
atomic via write-to-temp + os.rename of both the manifest and the
version hint, so a killed job never publishes a half-written snapshot —
the restart sees the last committed version (checkpoint resume).

The API is deliberately catalog-like (read/append/overwrite/snapshots)
so a real iceberg-spark-runtime can replace it behind the same calls.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    version: int
    snapshot_id: int
    parent_id: int | None
    operation: str
    data_dirs: list[str]
    summary: dict
    committed_at_ms: int
    schema: dict | None = None  # Spark StructType json (schema evolution)
    # per-data-dir column statistics {dir: {"rows": n, "cols": {col:
    # [min, max]}}} — the manifest-level pruning metadata (Iceberg's
    # min/max file stats): row-level ops skip dirs whose key range
    # cannot contain a probed value, without touching the data
    dir_stats: dict | None = None


class IceliteTable:
    def __init__(self, table_dir: str | Path):
        self.dir = Path(table_dir)
        self.meta = self.dir / "metadata"
        self.data = self.dir / "data"

    # ------------------------------------------------------------ read side

    def current_version(self) -> int | None:
        """Max of the hint and a manifest scan: the hint is a fast-path
        pointer, but under concurrent commits the last hint writer may
        not be the last manifest publisher, so the scan is authoritative
        (manifests are immutable and O_EXCL-published)."""
        versions = [
            int(p.stem[1:])
            for p in self.meta.glob("v*.json")
            if p.stem[1:].isdigit()
        ]
        scan = max(versions) if versions else None
        hint_path = self.meta / "version-hint.text"
        if hint_path.exists():
            try:
                hint = int(hint_path.read_text().strip())
            except ValueError:
                hint = None
            if hint is not None:
                return max(hint, scan) if scan is not None else hint
        return scan

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        version = version if version is not None else self.current_version()
        if version is None:
            return None
        path = self.meta / f"v{version}.json"
        if not path.exists():
            return None
        d = json.loads(path.read_text())
        return Snapshot(
            version=d["version"],
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            operation=d["operation"],
            data_dirs=d["data_dirs"],
            summary=d.get("summary", {}),
            committed_at_ms=d["committed_at_ms"],
            schema=d.get("schema"),
            dir_stats=d.get("dir_stats"),
        )

    def snapshots(self) -> list[Snapshot]:
        cur = self.current_version()
        if cur is None:
            return []
        # expired snapshots leave holes below the retention horizon
        return [
            s for v in range(1, cur + 1)
            if (s := self.snapshot(v)) is not None
        ]

    def version_as_of(self, ts_ms: int) -> int | None:
        """Timestamp time travel: the newest version committed at or
        before ``ts_ms`` (Iceberg's snapshot-as-of-time lookup)."""
        best = None
        for s in self.snapshots():
            if s.committed_at_ms <= ts_ms and (
                best is None or s.version > best
            ):
                best = s.version
        return best

    def history(self) -> list[dict]:
        """Commit log for observability: one entry per retained
        snapshot (version, operation, commit time, summary, dirs)."""
        return [
            {
                "version": s.version,
                "operation": s.operation,
                "committed_at_ms": s.committed_at_ms,
                "summary": s.summary,
                "n_data_dirs": len(s.data_dirs),
            }
            for s in self.snapshots()
        ]

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the table at a snapshot (time travel via ``version``;
        for as-of-timestamp reads resolve with ``version_as_of``).

        Schema evolution: the snapshot's manifest records the table
        schema at commit time, and the read pins it via
        ``spark.read.schema(...)`` — columns added by later appends
        come back as nulls in files written before them, and NO parquet
        footer merging happens (Iceberg's design: at 100 TB,
        ``mergeSchema`` reads every file's footer just to rediscover
        what the manifest already knows). Pre-schema manifests (older
        tables) fall back to mergeSchema."""
        snap = self.snapshot(version)
        if snap is None or not snap.data_dirs:
            raise FileNotFoundError(f"no snapshot for table {self.dir}")
        return self._read_dirs(spark, snap, snap.data_dirs)

    def exists(self) -> bool:
        return self.current_version() is not None

    # ----------------------------------------------------------- write side

    @staticmethod
    def _evolve(parent_schema: dict | None, new_schema: dict | None) -> dict | None:
        """Union a parent snapshot's schema with an appended frame's:
        new columns are added at the end; a type change on an existing
        column is refused (no implicit promotion — that's a rewrite,
        not an append)."""
        if new_schema is None:
            return parent_schema
        if parent_schema is None:
            return new_schema
        by_name = {f["name"]: f for f in parent_schema["fields"]}
        out = list(parent_schema["fields"])
        for f in new_schema["fields"]:
            old = by_name.get(f["name"])
            if old is None:
                out.append(f)
            elif old["type"] != f["type"]:
                raise ValueError(
                    f"schema evolution type conflict on column "
                    f"{f['name']!r}: {old['type']!r} vs {f['type']!r} — "
                    "type changes require an overwrite, not an append"
                )
        return {**parent_schema, "fields": out}

    def _commit(
        self,
        operation: str,
        new_dirs: list[str],
        summary: dict,
        require_parent_version: int | None = None,
        new_schema: dict | None = None,
        new_dir_stats: dict | None = None,
    ) -> Snapshot:
        """Optimistic-concurrency commit (ADVICE r1): the manifest is
        published with os.link (O_EXCL semantics — fails if the version
        already exists), so a committer that lost the race retries with
        a fresh parent instead of silently overwriting the winner's
        snapshot. Same protocol as Iceberg's atomic swap.

        ``require_parent_version`` makes the commit conditional (used by
        compact): if another snapshot landed since the caller read the
        table, retrying would silently DROP that snapshot's rows — fail
        instead and let the caller re-run on fresh state.

        ``new_dir_stats`` is keyed by the dirs written for this commit.
        A failed commit deletes them: no manifest references them, and
        expire_snapshots only reclaims dirs of expired manifests, so
        they would leak forever (ADVICE r3)."""
        def failed(msg: str) -> RuntimeError:
            for d in new_dir_stats or {}:
                shutil.rmtree(d, ignore_errors=True)
            return RuntimeError(msg)

        self.meta.mkdir(parents=True, exist_ok=True)
        for _ in range(64):
            parent = self.snapshot()
            if require_parent_version is not None and (
                parent is None or parent.version != require_parent_version
            ):
                raise failed(
                    f"concurrent commit on {self.dir}: expected parent "
                    f"v{require_parent_version}, found "
                    f"v{parent.version if parent else None} — re-read and "
                    "retry the operation"
                )
            if operation == "append" and parent is not None:
                data_dirs = parent.data_dirs + new_dirs
                schema = self._evolve(parent.schema, new_schema)
            else:
                data_dirs = new_dirs
                schema = new_schema or (parent.schema if parent else None)
            version = (parent.version if parent else 0) + 1
            # stats carry per dir: parent's entries for dirs that
            # survive into this snapshot, the writer's for new dirs;
            # dirs with no stats (legacy manifests) simply have none —
            # pruning treats them as always-candidates
            known = dict(parent.dir_stats or {}) if parent else {}
            known.update(new_dir_stats or {})
            dir_stats = {d: known[d] for d in data_dirs if d in known}
            snap = {
                "version": version,
                "snapshot_id": uuid.uuid4().int >> 96,
                "parent_id": parent.snapshot_id if parent else None,
                "operation": operation,
                "data_dirs": data_dirs,
                "summary": summary,
                "committed_at_ms": int(time.time() * 1000),
                "schema": schema,
                "dir_stats": dir_stats,
            }
            tmp = self.meta / f".v{version}.json.tmp-{uuid.uuid4().hex[:8]}"
            tmp.write_text(json.dumps(snap, indent=1))
            try:
                os.link(tmp, self.meta / f"v{version}.json")
            except FileExistsError:
                continue  # lost the race — re-read parent and retry
            finally:
                tmp.unlink()
            # hint is a fast-path pointer; current_version() scans too,
            # so a concurrent hint regression cannot hide this snapshot
            tmp_hint = self.meta / f".hint.tmp-{uuid.uuid4().hex[:8]}"
            tmp_hint.write_text(str(version))
            os.rename(tmp_hint, self.meta / "version-hint.text")
            return self.snapshot(version)
        raise failed(
            f"icelite commit contention: 64 retries exhausted on {self.dir}"
        )

    def _write_data(self, data: DataFrame | pa.Table) -> str:
        """Write one new data dir: a DataFrame through Spark (the only
        Spark action of a commit), a pyarrow Table as one file written
        on the driver (a few bookkeeping rows need no Spark job)."""
        snap_dir = self.data / f"snap-{uuid.uuid4().hex[:16]}"
        if isinstance(data, DataFrame):
            data.write.mode("overwrite").parquet(str(snap_dir))
        else:
            snap_dir.mkdir(parents=True)
            pq.write_table(data, str(snap_dir / "part-00000.parquet"))
        return str(snap_dir)

    # Iceberg-style string-stat truncation length: manifests must stay
    # small, so string bounds store a prefix, never full document text
    _STAT_STR_LEN = 16

    @classmethod
    def _truncate_bounds(cls, lo, hi):
        """Widen string bounds to prefix form so manifests never embed
        full values (Iceberg truncate(16)): the stored lower bound is a
        PREFIX of the true min (≤ min, still a valid lower bound); the
        stored upper bound is the truncated max with its last code
        point incremented (≥ any string sharing the prefix, a valid
        upper bound). An un-incrementable last char yields an unbounded
        (None) upper — pruning treats one-sided ranges correctly."""
        if isinstance(lo, str) and len(lo) > cls._STAT_STR_LEN:
            lo = lo[: cls._STAT_STR_LEN]
        if isinstance(hi, str) and len(hi) > cls._STAT_STR_LEN:
            prefix = hi[: cls._STAT_STR_LEN]
            last = prefix[-1]
            if ord(last) < 0x10FFFF:
                hi = prefix[:-1] + chr(ord(last) + 1)
            else:
                hi = None
        return lo, hi

    # arrow types of the Spark column types (string, integer, long,
    # double, float) whose min/max are JSON-stable and totally ordered
    _STAT_TYPES = {"string", "int32", "int64", "double", "float"}

    @staticmethod
    def _row_group_bounds(md, leaf: int):
        """(min, max) of parquet leaf column ``leaf`` in each row group
        of one file's footer ``md``, all-null groups skipped; None for a
        group the footer cannot bound: it holds values but no min/max
        (parquet-java omits them for values over 4 KB), or a NaN bound
        (NaN orders above every double, so pruning on it would skip a
        dir that matches)."""
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            st = group.column(leaf).statistics
            if (st is not None and st.has_null_count
                    and st.null_count == group.num_rows):
                continue
            if st is None or not st.has_min_max \
                    or st.min != st.min or st.max != st.max:
                yield None
            else:
                yield st.min, st.max

    @classmethod
    def _collect_dir_stats(cls, d: str) -> dict:
        """Row count and per-column min/max of one freshly written data
        dir, read on the driver from the parquet footers of its files
        (every row group) — no Spark job. Stat columns are the top-level
        string/int/long/double/float ones; a column some row group
        cannot bound (see _row_group_bounds) is stored as [None, None],
        which pruning treats as unbounded. Python orders the decoded
        strings by code point, which is UTF-8 byte order, Spark's string
        order. String bounds are truncated to prefix form (see
        _truncate_bounds) so manifests carry ≤17 chars per bound, never
        whole documents."""
        rows = 0
        bounds: dict[str, list] = {}
        for f in sorted(Path(d).glob("*.parquet")):
            md = pq.read_metadata(f)
            rows += md.num_rows
            # a nested leaf's path is dotted, so a dot-free path names a
            # top-level column (dotted top-level names get no stats)
            stat = {a.name for a in md.schema.to_arrow_schema()
                    if str(a.type) in cls._STAT_TYPES and "." not in a.name}
            for leaf in range(md.num_columns):
                c = md.schema.column(leaf).path
                if c in stat:
                    bounds.setdefault(c, []).extend(
                        cls._row_group_bounds(md, leaf))
        return {
            "rows": rows,
            "cols": {
                c: [None, None] if not rgs or None in rgs
                else list(cls._truncate_bounds(min(lo for lo, _ in rgs),
                                               max(hi for _, hi in rgs)))
                for c, rgs in bounds.items()
            },
        }

    @staticmethod
    def _schema_json(data: DataFrame | pa.Table) -> dict:
        if isinstance(data, DataFrame):
            return json.loads(data.schema.json())
        from pyspark.sql.pandas.types import from_arrow_schema

        return json.loads(from_arrow_schema(data.schema).json())

    def _written(self, data: DataFrame | pa.Table) -> dict:
        """Write one data dir: ``{dir: its manifest stats}``."""
        d = self._write_data(data)
        return {d: self._collect_dir_stats(d)}

    def append(self, df: DataFrame | pa.Table,
               summary: dict | None = None) -> Snapshot:
        stats = self._written(df)
        return self._commit("append", list(stats), summary or {},
                            new_schema=self._schema_json(df),
                            new_dir_stats=stats)

    def overwrite(self, df: DataFrame, summary: dict | None = None) -> Snapshot:
        stats = self._written(df)
        return self._commit("overwrite", list(stats), summary or {},
                            new_schema=self._schema_json(df),
                            new_dir_stats=stats)

    # ------------------------------------------------- row-level operations

    def _read_dirs(
        self, spark: SparkSession, snap: Snapshot, dirs: list[str]
    ) -> DataFrame:
        """Read a subset of a snapshot's data dirs with the snapshot's
        manifest schema pinned (same rules as read())."""
        if snap.schema is not None:
            from pyspark.sql.types import StructType

            return (
                spark.read.schema(StructType.fromJson(snap.schema))
                .parquet(*dirs)
            )
        return spark.read.option("mergeSchema", "true").parquet(*dirs)

    @staticmethod
    def _prune_candidate_dirs(
        snap: Snapshot, col: str, values: list
    ) -> list[str]:
        """Manifest-level pruning (Iceberg min/max file stats): a dir
        whose recorded [min, max] for ``col`` cannot contain ANY probe
        value is skipped with zero I/O. Dirs without stats (legacy
        manifests, or a non-stat column type) stay candidates — pruning
        is an optimization, never a correctness filter."""
        # NULL probe values can never equi-match any row (SQL NULL
        # semantics), so they neither keep nor prune a dir
        probes = [v for v in values if v is not None]

        def may_contain(rng) -> bool:
            if not rng:
                return True  # no stats → always a candidate
            lo, hi = rng
            for v in probes:
                try:
                    if (lo is None or lo <= v) and (hi is None or v <= hi):
                        return True
                except TypeError:
                    return True  # incomparable types → never prune
            return False

        return [
            d for d in snap.data_dirs
            if may_contain(
                ((snap.dir_stats or {}).get(d) or {}).get("cols", {})
                .get(col)
            )
        ]

    # probe-size cap for driver-side stats pruning: beyond this, the
    # key list is no longer "a handful of erasure requests" and the
    # full discovery scan is the right plan anyway
    _PRUNE_MAX_PROBE = 10_000

    def _matching_dirs(
        self,
        spark: SparkSession,
        snap: Snapshot,
        predicate: str | None = None,
        keys: list[str] | None = None,
        key_df: DataFrame | None = None,
        candidate_dirs: list[str] | None = None,
    ) -> tuple[set[str], int]:
        """Discovery scan for file-scoped CoW: returns (data dirs that
        hold at least one matching row, total matching rows) in ONE
        pass — matches selected by SQL ``predicate`` or by semi-join on
        ``key_df[keys]`` — using input_file_name() to attribute rows to
        files. ``candidate_dirs`` (from manifest stats pruning)
        restricts the scan; the result is exact within it. The scan
        itself is predicate-pushed and column-pruned."""
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F

        scan_dirs = (
            list(candidate_dirs)
            if candidate_dirs is not None else snap.data_dirs
        )
        if not scan_dirs:
            return set(), 0
        cur = self._read_dirs(spark, snap, scan_dirs)
        # ORDER MATTERS: input_file_name() is a nondeterministic
        # expression, and Catalyst refuses to push a filter below a
        # projection containing one — _f added before the filter left
        # PushedFilters empty and the discovery scan read every row
        # (plan-gated in tests/test_plan_quality.py). Filter first,
        # attribute files after; for the semi-join path _f is computed
        # in the scan stage and carried as data, so it stays correct
        # under any join strategy.
        if predicate is not None:
            hits = cur.filter(predicate).withColumn(
                "_f", F.input_file_name()
            )
        else:
            hits = cur.withColumn("_f", F.input_file_name()).join(
                key_df, keys, "left_semi"
            )
        row = hits.agg(
            F.count("*").alias("n"),
            F.collect_set("_f").alias("files"),
        ).collect()[0]
        dirs: set[str] = set()
        for f in row.files or []:
            p = Path(unquote(urlparse(f).path))
            dirs.add(str(p.parent))
        return {d for d in snap.data_dirs if d in dirs}, int(row.n)

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        keys: list[str],
        summary: dict | None = None,
    ) -> Snapshot:
        """Copy-on-write MERGE: rows of ``df`` replace current rows with
        matching ``keys``; unmatched rows are inserted. The crawl-update
        shape — a re-fetched url replaces its previous page.

        Semantics are one atomic snapshot: current ⟕anti df ∪ df.
        FILE-SCOPED copy-on-write (Iceberg CoW MERGE): one
        predicate-pushed discovery scan finds the data dirs that
        actually hold matched keys; ONLY those dirs are anti-joined and
        rewritten — untouched dirs carry their existing files into the
        new snapshot, so upserting a handful of re-crawled pages into a
        100 TB table rewrites the affected files, not the table. The
        conditional commit (parent pinned to the version read here)
        means a racing append is never silently dropped; the loser
        re-runs on fresh state. Old versions stay time-travelable until
        expiry."""
        parent = self.snapshot()
        if parent is None or not parent.data_dirs:
            stats = self._written(df)
            return self._commit("upsert", list(stats), summary or {},
                                new_schema=self._schema_json(df),
                                new_dir_stats=stats)
        # persist the input for the operation: probe collect, discovery
        # semi-join, survivor anti-join and the final write would
        # otherwise recompute an arbitrarily expensive upstream plan
        # (and a nondeterministic one could even desynchronize the
        # pruning probe from the joined keys) — review r4b
        df = df.persist()
        key_df = df.select(*keys).distinct().persist()
        # manifest stats pruning: for a single-column key with a small
        # probe set, skip dirs whose recorded range excludes every key
        # before any data is read
        cand = None
        if len(keys) == 1 and (parent.dir_stats or {}):
            probe = [r[0] for r in
                     key_df.limit(self._PRUNE_MAX_PROBE + 1).collect()]
            if len(probe) <= self._PRUNE_MAX_PROBE:
                cand = self._prune_candidate_dirs(parent, keys[0], probe)
        hit_dirs, _ = self._matching_dirs(spark, parent, keys=keys,
                                          key_df=key_df,
                                          candidate_dirs=cand)
        kept = [d for d in parent.data_dirs if d not in hit_dirs]
        stats: dict = {}
        try:
            if hit_dirs:
                survivors = self._read_dirs(
                    spark, parent, sorted(hit_dirs)
                ).join(key_df, keys, "left_anti")
                stats.update(self._written(survivors))
            stats.update(self._written(df))
            return self._commit(
                "upsert", kept + list(stats),
                summary or {"upsert_keys": keys,
                            "rewritten_dirs": len(hit_dirs),
                            "kept_dirs": len(kept)},
                require_parent_version=parent.version,
                # schema evolution: table schema ∪ upsert frame schema
                new_schema=self._evolve(parent.schema,
                                        self._schema_json(df)),
                new_dir_stats=stats,
            )
        finally:
            key_df.unpersist()
            df.unpersist()

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        summary: dict | None = None,
    ) -> tuple[Snapshot, int]:
        """Copy-on-write row-level DELETE — the right-to-be-forgotten
        operation a PII table must support: rows matching ``predicate``
        (a SQL boolean expression) are removed in ONE atomic snapshot;
        returns (snapshot, rows_deleted).

        FILE-SCOPED copy-on-write like upsert: one discovery scan
        (predicate pushed to the parquet reader where possible) finds
        the dirs holding matching rows and counts them; only those dirs
        are rewritten with the survivors — erasing a few urls from a
        100 TB table rewrites the files that contained them, nothing
        else. A predicate matching nothing commits nothing and returns
        (current snapshot, 0).

        Deleted rows remain readable in OLDER snapshots until
        expire_snapshots passes the retention horizon — run expiry
        after a legal-erasure delete to physically reclaim the bytes
        (the test pins this end-to-end). Conditional commit as in
        upsert: racing appends fail the delete loudly rather than being
        dropped."""
        parent = self.snapshot()
        if parent is None:
            raise FileNotFoundError(f"no snapshot in {self.dir}")
        hit_dirs, n_del = self._matching_dirs(spark, parent,
                                              predicate=predicate)
        if not hit_dirs:
            return parent, 0
        kept = [d for d in parent.data_dirs if d not in hit_dirs]
        # survivors = rows where the predicate is NOT TRUE. A bare
        # NOT(pred) loses NULL-predicate rows to three-valued logic
        # (they fail both pred and NOT pred — silent unaudited loss in
        # the erasure path, review r4b); coalesce pins NULL to "keep".
        survivors = self._read_dirs(spark, parent, sorted(hit_dirs)).filter(
            f"NOT coalesce(({predicate}), false)"
        )
        stats = self._written(survivors)
        snap = self._commit(
            "delete", kept + list(stats),
            summary or {"delete_predicate": predicate,
                        "rows_deleted": n_del,
                        "rewritten_dirs": len(hit_dirs),
                        "kept_dirs": len(kept)},
            require_parent_version=parent.version,
            new_schema=parent.schema,
            new_dir_stats=stats,
        )
        return snap, n_del

    def delete_keys(
        self,
        spark: SparkSession,
        col: str,
        values: list,
        summary: dict | None = None,
    ) -> tuple[Snapshot, int]:
        """Right-to-be-forgotten fast path: delete rows whose ``col``
        is in ``values``, with manifest min/max pruning deciding which
        dirs the discovery scan even opens — the plan an erasure
        request wants on a 100 TB table: prune by stats, scan the
        surviving candidates, rewrite only dirs that held a victim.
        Avoids SQL-string quoting entirely (the probe is a DataFrame
        semi-join, not an IN literal)."""
        parent = self.snapshot()
        if parent is None:
            raise FileNotFoundError(f"no snapshot in {self.dir}")
        # empty / all-None probe: nothing can match, and
        # createDataFrame([], [col]) on the legacy fallback throws
        # "can not infer schema from empty dataset" (ADVICE r4)
        values = [v for v in values if v is not None]
        if not values:
            return parent, 0
        cand = self._prune_candidate_dirs(parent, col, values)
        if not cand:
            return parent, 0
        field = {f["name"]: f["type"]
                 for f in (parent.schema or {}).get("fields", [])}.get(col)
        typ = {"string": "string", "long": "bigint", "integer": "int",
               "double": "double", "float": "float"}.get(field)
        if typ is not None:
            probe = spark.createDataFrame([(v,) for v in values],
                                          f"{col} {typ}")
        else:
            # legacy manifest without a schema, or a non-stat column
            # type (date/decimal/bool/...): let Spark infer the probe
            # type from the values; the equi-join coerces as needed
            probe = spark.createDataFrame([(v,) for v in values], [col])
        probe = probe.distinct()
        hit_dirs, n_del = self._matching_dirs(
            spark, parent, keys=[col], key_df=probe, candidate_dirs=cand
        )
        if not hit_dirs:
            return parent, 0
        kept = [d for d in parent.data_dirs if d not in hit_dirs]
        survivors = self._read_dirs(spark, parent, sorted(hit_dirs)).join(
            probe, [col], "left_anti"
        )
        stats = self._written(survivors)
        snap = self._commit(
            "delete", kept + list(stats),
            summary or {"delete_col": col,
                        "rows_deleted": n_del,
                        "rewritten_dirs": len(hit_dirs),
                        "kept_dirs": len(kept),
                        "pruned_dirs": len(parent.data_dirs) - len(cand)},
            require_parent_version=parent.version,
            new_schema=parent.schema,
            new_dir_stats=stats,
        )
        return snap, n_del

    # ------------------------------------------------------ maintenance

    def compact(
        self,
        spark: SparkSession,
        target_partitions: int = 1,
        summary: dict | None = None,
    ) -> Snapshot:
        """Small-file compaction (VERDICT r2 #7 — the 100 TB operational
        gap): rewrite the current snapshot's rows into ``target_partitions``
        large files as ONE new data dir and commit it as a replacing
        snapshot. Rows are identical; only the physical layout changes.
        Old snapshots stay readable (time travel) until expire_snapshots
        reclaims them, and the resume ledger is unaffected — expired
        summaries are carried by expiry, unexpired ones still live in
        their manifests.

        The commit is conditional on the parent version read here: an
        append racing with compaction must not be silently dropped, so
        the loser gets a RuntimeError and re-runs (Iceberg's
        validate-snapshot-id semantics)."""
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no snapshot to compact in {self.dir}")
        df = self.read(spark).repartition(max(1, target_partitions))
        stats = self._written(df)
        return self._commit(
            "compact",
            list(stats),
            summary or {"compacted_from_version": snap.version,
                        "compacted_dirs": len(snap.data_dirs)},
            require_parent_version=snap.version,
            new_schema=self._schema_json(df),
            new_dir_stats=stats,
        )

    def data_file_count(self, version: int | None = None) -> int:
        """Number of parquet data files in a snapshot (compaction
        observability)."""
        snap = self.snapshot(version)
        if snap is None:
            return 0
        return sum(
            1
            for d in snap.data_dirs
            for p in Path(d).glob("*.parquet")
        )

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Iceberg-style snapshot expiry: drop manifests older than the
        newest ``keep_last`` snapshots and delete data directories no
        retained snapshot references (only overwrites orphan dirs —
        appends accumulate). Returns the deleted data dirs. Time travel
        below the retention horizon stops working, by design.

        The expired snapshots' ledger summaries are CARRIED into
        metadata/ledger.json first: committed_groups() is the resume /
        exactly-once dedup ledger, and forgetting a committed group
        whose data rows remain in the table would make a resumed job
        reprocess and DUPLICATE it (review r2 finding)."""
        # single-expirer lock (O_EXCL): two racing expiries would
        # read-modify-write ledger.json and the loser's carry could drop
        # committed groups; fail loudly instead (review r2b)
        self.meta.mkdir(parents=True, exist_ok=True)
        lock = self.meta / ".expire.lock"
        self._acquire_expire_lock(lock)
        try:
            cur = self.current_version()
            if cur is None or keep_last < 1:
                return []
            cutoff = cur - keep_last + 1
            if cutoff <= 1:
                return []
            keep_dirs: set[str] = set()
            for v in range(cutoff, cur + 1):
                snap = self.snapshot(v)
                if snap:
                    keep_dirs.update(snap.data_dirs)
            # PASS 1 (read-only): collect expired summaries + dirs and
            # publish the carried ledger BEFORE deleting anything — a
            # crash mid-expiry must never forget a committed group
            # (that is the duplicate-reprocessing bug this file fixes)
            expired: list[Snapshot] = []
            for v in range(1, cutoff):
                snap = self.snapshot(v)
                if snap:
                    expired.append(snap)
            carry = self._ledger_carry()
            for snap in expired:
                for key, val in snap.summary.items():
                    carry.setdefault(key, [])
                    if val not in carry[key]:
                        carry[key].append(val)
            tmp = self.meta / f".ledger.tmp-{uuid.uuid4().hex[:8]}"
            tmp.write_text(json.dumps(carry, indent=1))
            os.rename(tmp, self.meta / "ledger.json")
            # PASS 2 (destructive): manifests, then orphaned data dirs
            removed: list[str] = []
            expired_dirs: set[str] = set()
            for snap in expired:
                expired_dirs.update(snap.data_dirs)
                manifest = self.meta / f"v{snap.version}.json"
                if manifest.exists():
                    manifest.unlink()
            for d in sorted(expired_dirs - keep_dirs):
                if Path(d).exists():
                    shutil.rmtree(d)
                    removed.append(d)
            return removed
        finally:
            self._release_expire_lock(lock)

    def gc_orphans(self, grace_s: float = 3600.0) -> list[str]:
        """Reclaim data directories referenced by NO manifest — the
        debris of a writer that crashed between _write_data and its
        commit (append/overwrite/upsert/delete all write data first,
        commit second, so a kill in that window leaks a full data dir
        that expire_snapshots will never touch: it only deletes dirs
        referenced by EXPIRED manifests).

        Safety: only dirs whose mtime is older than ``grace_s`` are
        removed — an in-flight writer's dir (written, commit pending)
        must never be swept, so size ``grace_s`` ABOVE the longest
        write-plus-commit window your jobs can have (the 1 h default
        suits the test/50 k-doc scale; a multi-hour 100 TB rewrite
        wants a day). Runs under the expire lock so a concurrent
        expiry's view of referenced dirs cannot change mid-sweep.
        Returns the deleted dirs."""
        if not self.data.exists():
            return []
        self.meta.mkdir(parents=True, exist_ok=True)
        lock = self.meta / ".expire.lock"
        self._acquire_expire_lock(lock)
        try:
            referenced: set[str] = set()
            for snap in self.snapshots():
                referenced.update(snap.data_dirs)
            removed: list[str] = []
            now = time.time()
            for d in sorted(self.data.iterdir()):
                if not d.is_dir() or str(d) in referenced:
                    continue
                if now - d.stat().st_mtime <= grace_s:
                    continue  # possibly a commit in flight
                shutil.rmtree(d, ignore_errors=True)
                removed.append(str(d))
            return removed
        finally:
            self._release_expire_lock(lock)

    # one hour: an expiry pass over even a huge table is minutes; a
    # lock this old belongs to a crashed process
    EXPIRE_LOCK_STALE_S = 3600.0

    def _acquire_expire_lock(self, lock: Path) -> None:
        """O_EXCL lock with crash recovery (ADVICE r2: a SIGKILL'd
        expiry left a permanent lock). The lock records pid + host +
        timestamp; an existing lock whose pid is provably dead (pid
        liveness is only checkable for a holder on THIS host — ADVICE
        r3: on a shared filesystem another host's pid space is
        invisible, so a foreign fresh lock must never be condemned by a
        local ProcessLookupError) or whose age exceeds
        EXPIRE_LOCK_STALE_S is taken over. Takeover is an atomic rename
        to a unique quarantine name — only one contender can win the
        rename — and the quarantined content is re-checked: if it turns
        out to be another process's FRESH lock (the read/rename race),
        it is restored and we fail as contention."""
        import socket

        payload = json.dumps({"pid": os.getpid(),
                              "host": socket.gethostname(),
                              "ts": time.time()})
        for attempt in (0, 1):
            # payload is made visible ATOMICALLY with acquisition
            # (write to temp + os.link = O_EXCL): a contender must never
            # observe a created-but-not-yet-written lock, which would be
            # indistinguishable from a stale pre-r3 empty lock (review
            # r3 finding)
            tmp = lock.with_name(f".expire.lock.tmp-{uuid.uuid4().hex[:8]}")
            tmp.write_text(payload)
            try:
                os.link(tmp, lock)
                return
            except FileExistsError:
                if attempt == 1 or not self._try_steal_stale_lock(lock):
                    raise RuntimeError(
                        f"another expire_snapshots is running on "
                        f"{self.dir} (live lock {lock})"
                    ) from None
            finally:
                tmp.unlink(missing_ok=True)

    def _release_expire_lock(self, lock: Path) -> None:
        """Release ONLY a lock we still own: if an expiry overran the
        staleness threshold and a second expiry legitimately took the
        lock over, unlinking blindly would delete the new holder's live
        lock (and a lock already gone would raise) — review r3."""
        import socket

        try:
            info = json.loads(lock.read_text())
            if int(info.get("pid", -1)) != os.getpid():
                return  # taken over — not ours to release
            if info.get("host", socket.gethostname()) \
                    != socket.gethostname():
                return  # same pid on another host — not ours
        except (OSError, ValueError):
            return  # gone or unreadable — nothing of ours to release
        lock.unlink(missing_ok=True)

    def _try_steal_stale_lock(self, lock: Path) -> bool:
        quarantine = lock.with_name(
            f".expire.lock.stale-{uuid.uuid4().hex[:8]}")
        try:
            os.rename(lock, quarantine)
        except FileNotFoundError:
            return True  # holder released it meanwhile — just retry
        import socket

        host = None
        try:
            info = json.loads(quarantine.read_text())
            pid, ts = int(info["pid"]), float(info["ts"])
            host = info.get("host")
        except (ValueError, KeyError, OSError):
            # unparseable (pre-r3 empty lock / torn write): age decides
            pid, ts = None, quarantine.stat().st_mtime
        # pid liveness is only meaningful on the holder's own host: a
        # fresh lock written by another host/container on a shared
        # filesystem would get ProcessLookupError HERE even though its
        # holder is alive (ADVICE r3) — for foreign or unknown hosts
        # age alone decides, same as the unparseable-pid case. host is
        # None for pre-r4 lock formats (written host-blind → assume
        # same host, preserving the r3 behavior).
        same_host = host is None or host == socket.gethostname()
        known_dead = False
        if pid is not None and same_host:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                known_dead = True
            except PermissionError:
                pass  # exists under another uid → alive
        fresh = time.time() - ts <= self.EXPIRE_LOCK_STALE_S
        # steal only when provably stale: locally-verified dead pid, or
        # too old. A fresh lock whose holder cannot be proven dead must
        # be restored, not stolen — age alone may condemn a lock, never
        # acquit a dead pid (review r3).
        if fresh and not known_dead:
            try:
                os.rename(quarantine, lock)
            except OSError:
                pass
            return False
        quarantine.unlink(missing_ok=True)
        return True

    def _ledger_carry(self) -> dict:
        path = self.meta / "ledger.json"
        if not path.exists():
            return {}
        try:
            return json.loads(path.read_text())
        except ValueError:
            return {}

    # ------------------------------------------------------------- ledger

    def committed_groups(self, key: str = "group") -> set:
        """Union of ``summary[key]`` values across committed snapshots
        PLUS the expiry carry file — the resume ledger: groups present
        here are never reprocessed, even after expire_snapshots dropped
        their manifests."""
        done = set(self._ledger_carry().get(key, []))
        for snap in self.snapshots():
            if key in snap.summary:
                done.add(snap.summary[key])
        return done
