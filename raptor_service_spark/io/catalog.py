"""Snapshot-versioned parquet tables — Iceberg table semantics, zero deps.

The north_rule requires Iceberg tables with snapshot-checkpoint resume and
per-partition lineage + metrics. This sandbox has no Iceberg runtime jars, so
this module implements the same SEMANTICS on plain parquet with an atomic
manifest-commit protocol (what Iceberg's metadata layer does, minus the
catalog service):

  table/
    data/<commit-uuid>/part-*.parquet     immutable data files
    _snapshots/v000001.json               manifest: data dirs, schema, row
                                          count, lineage props
    _snapshots/CURRENT                    atomic pointer (os.replace)

Like Iceberg's table metadata, each manifest carries the table schema as of
its snapshot and the commit's row count, so the catalog never re-reads
parquet for either: ``read`` applies the snapshot's schema (never infers),
``append`` takes the table schema from the current manifest, and the row
count is observed while the commit's own write runs. A commit therefore runs
only the jobs of its write, and ``read``, ``exists`` and ``snapshots`` run
none.

Operations map 1:1 to Iceberg:
  append        -> AppendFiles commit
  merge         -> MERGE INTO (copy-on-write; reference upsert pattern
                   /root/reference/repositories/chunk_repo_pg.py:16-35)
  delete_where  -> DELETE FROM ... WHERE (copy-on-write; reference
                   dataset_repo_pg.py:129-148)
  read(version) -> time travel / snapshot isolation
  snapshots     -> snapshot log with operation + row counts + properties
                   (per-partition lineage: each snapshot records the commit's
                   files, schema and row count — the resume checkpoint)

On a real cluster, swap this class for ``spark.table("catalog.db.tbl")`` +
Iceberg SQL; every caller only touches the four methods above.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# --------------------------------------------------------------------------
# Iceberg SQL twins
#
# The exact SQL each SnapshotCatalog operation runs on a real Iceberg
# deployment (catalog jars present). Each catalog method records its twin in
# the commit's props["iceberg_sql"], so every snapshot in the lineage log
# carries the statement a cluster-side run would have executed, and the swap
# from this parquet stand-in to `spark.sql(...)` is mechanical (golden-tested
# in tests/test_resume.py). `{staging}` denotes a temp view over the incoming
# DataFrame (df.createOrReplaceTempView).
# --------------------------------------------------------------------------


def iceberg_append_sql(table: str, staging: str = "_staging") -> str:
    return f"INSERT INTO {table} SELECT * FROM {staging}"


def iceberg_merge_sql(table: str, key_cols: list[str], staging: str = "_staging") -> str:
    on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def iceberg_insert_if_absent_sql(table: str, key_cols: list[str],
                                 staging: str = "_staging") -> str:
    on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def iceberg_delete_where_sql(table: str, predicate: str) -> str:
    return f"DELETE FROM {table} WHERE {predicate}"


def iceberg_delete_matching_sql(table: str, on: list[str],
                                extra_predicate: str | None = None,
                                staging: str = "_doomed_keys") -> str:
    exists = " AND ".join(f"k.{c} = t.{c}" for c in on)
    pred = f"EXISTS (SELECT 1 FROM {staging} k WHERE {exists})"
    if extra_predicate:
        pred = f"({extra_predicate}) AND {pred}"
    return f"DELETE FROM {table} t WHERE {pred}"


def iceberg_time_travel_sql(table: str, version: int) -> str:
    return f"SELECT * FROM {table} VERSION AS OF {version}"


def iceberg_compact_sql(table: str, target_file_bytes: int) -> str:
    return (
        "CALL system.rewrite_data_files(table => "
        f"'{table}', options => map('target-file-size-bytes', "
        f"'{target_file_bytes}'))"
    )


def iceberg_expire_snapshots_sql(table: str, keep_last: int) -> str:
    return (
        f"CALL system.expire_snapshots(table => '{table}', "
        f"retain_last => {keep_last})"
    )


def iceberg_rollback_sql(table: str, version: int) -> str:
    return (
        f"CALL system.rollback_to_snapshot('{table}', {version})"
    )


class SnapshotCatalog:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- internals
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snapdir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_snapshots")

    def _current_version(self, table: str) -> int:
        cur = os.path.join(self._snapdir(table), "CURRENT")
        if not os.path.exists(cur):
            return 0
        with open(cur) as f:
            return int(f.read().strip())

    def _manifest(self, table: str, version: int | None = None) -> dict:
        v = version if version is not None else self._current_version(table)
        if v == 0:
            return {"version": 0, "files": [], "operation": "none", "rows": 0, "props": {}}
        with open(os.path.join(self._snapdir(table), f"v{v:06d}.json")) as f:
            return json.load(f)

    def _schema(self, table: str, manifest: dict) -> StructType:
        """The table schema as of ``manifest``'s snapshot."""
        if "schema" not in manifest:
            raise ValueError(
                f"table {table} snapshot v{manifest['version']} has no schema "
                "in its manifest"
            )
        return StructType.fromJson(manifest["schema"])

    def _commit(self, table: str, files: list[str], operation: str,
                written: dict, props: dict | None = None) -> int:
        """Atomic snapshot commit: write manifest, then os.replace the pointer.

        A crash before the pointer flip leaves the table at the previous
        snapshot — readers never see partial writes (Iceberg's core guarantee).
        """
        snapdir = self._snapdir(table)
        os.makedirs(snapdir, exist_ok=True)
        v = self._current_version(table) + 1
        manifest = {
            "version": v,
            "parent": v - 1,
            "operation": operation,
            "files": files,
            **written,
            "props": props or {},
        }
        mpath = os.path.join(snapdir, f"v{v:06d}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        cur_tmp = os.path.join(snapdir, "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(v))
        os.replace(cur_tmp, os.path.join(snapdir, "CURRENT"))
        return v

    def _write_data(self, table: str, df: DataFrame) -> tuple[str, dict]:
        """Write ``df`` into a fresh data dir; returns the dir and what its
        manifest records of the write: ``rows_written`` and ``schema``.

        The row count is an Observation on the top node of the written plan,
        so it is taken in the write's own result stage (each partition's
        update applied once, task retries included) and costs no job."""
        commit_id = uuid.uuid4().hex[:12]
        path = os.path.join(self._tdir(table), "data", commit_id)
        rows = Observation()
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
        return path, {"rows_written": rows.get["n"], "schema": df.schema.jsonValue()}

    # ------------------------------------------------------------------ api
    def exists(self, table: str) -> bool:
        return self._current_version(table) > 0

    def append(self, table: str, df: DataFrame, props: dict | None = None,
               merge_schema: bool = False) -> int:
        """AppendFiles commit. With ``merge_schema`` the append may ADD
        columns (Iceberg add-column evolution): old data files stay as
        written and their rows read back NULL for the new columns; columns
        the append omits are filled with NULL. Without it, appends are
        normalized to the exact table schema (column order included)."""
        prev = self._manifest(table)
        if prev["files"]:
            schema = self._schema(table, prev)
            cols = [f.name for f in schema.fields]
            if merge_schema:
                types = {f.name: f.dataType for f in schema.fields}
                added = [c for c in df.columns if c not in cols]
                df = df.select(
                    *[
                        df[c] if c in df.columns
                        else F.lit(None).cast(types[c]).alias(c)
                        for c in cols
                    ],
                    *added,
                )
                if added:
                    props = {"schema_added_columns": added, **(props or {})}
            else:
                df = df.select(*cols)
        path, written = self._write_data(table, df)
        props = {"iceberg_sql": iceberg_append_sql(table), **(props or {})}
        return self._commit(table, prev["files"] + [path], "append", written, props)

    def overwrite(self, table: str, df: DataFrame, props: dict | None = None) -> int:
        path, written = self._write_data(table, df)
        return self._commit(table, [path], "overwrite", written, props)

    def read(self, table: str, version: int | None = None) -> DataFrame:
        m = self._manifest(table, version)
        if not m["files"]:
            raise FileNotFoundError(f"table {table} has no snapshot")
        # the snapshot's own schema, as Iceberg resolves it from table
        # metadata: files written before an added column read it back NULL
        return self.spark.read.schema(self._schema(table, m)).parquet(*m["files"])

    def merge(self, table: str, updates: DataFrame, key_cols: list[str],
              props: dict | None = None) -> int:
        """MERGE INTO: matched rows replaced by updates, unmatched inserted.

        Copy-on-write via left-anti join — the Spark-native expression of the
        reference's ON CONFLICT DO UPDATE (chunk_repo_pg.py:16-35).
        """
        if self.exists(table):
            cur = self.read(table)
            kept = cur.join(updates.select(*key_cols), key_cols, "left_anti")
            merged = kept.unionByName(updates.select(*cur.columns))
        else:
            merged = updates
        path, written = self._write_data(table, merged)
        props = {"iceberg_sql": iceberg_merge_sql(table, key_cols), **(props or {})}
        return self._commit(table, [path], "merge", written, props)

    def insert_if_absent(self, table: str, rows_df: DataFrame, key_cols: list[str],
                         props: dict | None = None) -> int:
        """ON CONFLICT DO NOTHING (reference tree_repo_pg.py:14-50)."""
        if self.exists(table):
            cur = self.read(table)
            new = rows_df.join(cur.select(*key_cols), key_cols, "left_anti")
            merged = cur.unionByName(new.select(*cur.columns))
        else:
            merged = rows_df
        path, written = self._write_data(table, merged)
        props = {"iceberg_sql": iceberg_insert_if_absent_sql(table, key_cols),
                 **(props or {})}
        return self._commit(table, [path], "insert_if_absent", written, props)

    def delete_where(self, table: str, predicate: str, props: dict | None = None) -> int:
        """DELETE FROM table WHERE predicate (copy-on-write; reference
        dataset cascade delete dataset_repo_pg.py:129-148).

        SQL DELETE removes rows where the predicate is TRUE; rows where it
        evaluates NULL (e.g. a three-valued comparison on a NULL column) are
        KEPT.  ``filter(NOT pred)`` would drop them too, so keep rows where
        the predicate is NULL or false — matching the recorded Iceberg twin."""
        cur = self.read(table)
        p = F.expr(predicate)
        kept = cur.filter(p.isNull() | ~p)
        path, written = self._write_data(table, kept)
        return self._commit(
            table, [path], "delete", written,
            {"predicate": predicate,
             "iceberg_sql": iceberg_delete_where_sql(table, predicate),
             **(props or {})},
        )

    def delete_matching(self, table: str, keys: DataFrame, on: list[str],
                        extra_predicate: str | None = None,
                        props: dict | None = None) -> int:
        """Join-based DELETE: drop rows whose ``on`` columns match a row of
        ``keys`` (AND ``extra_predicate`` if given).

        The Iceberg twin is ``DELETE FROM t WHERE EXISTS (SELECT 1 FROM keys
        ...)``. Unlike :meth:`delete_where` with a collected IN-list literal,
        the delete set here stays a DataFrame — at backfill scale an IN-list
        becomes a multi-MB SQL string with an O(list) parse, while this rides
        an anti-join Catalyst can broadcast (small batch) or shuffle (large
        backfill).
        """
        cur = self.read(table)
        k = keys.select(*on).dropDuplicates(on)
        if extra_predicate:
            # DELETE semantics: a row is doomed only when the predicate is
            # TRUE *and* a key matches.  Rows where the predicate is NULL are
            # kept (NULL is not TRUE), matching the Iceberg twin
            # ``DELETE FROM t WHERE (pred) AND EXISTS(...)``.
            p = F.expr(extra_predicate)
            scoped = cur.filter(p)
            kept = cur.filter(p.isNull() | ~p).unionByName(
                scoped.join(k, on, "left_anti")
            )
        else:
            kept = cur.join(k, on, "left_anti")
        path, written = self._write_data(table, kept)
        return self._commit(
            table, [path], "delete", written,
            {"iceberg_sql": iceberg_delete_matching_sql(table, on, extra_predicate),
             **(props or {})},
        )

    def snapshots(self, table: str) -> list[dict]:
        snapdir = self._snapdir(table)
        if not os.path.isdir(snapdir):
            return []
        out = []
        for name in sorted(os.listdir(snapdir)):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(snapdir, name)) as f:
                    out.append(json.load(f))
        return out

    def _data_files(self, dirs: list[str]) -> list[str]:
        out = []
        for d in dirs:
            if os.path.isdir(d):
                out += [
                    os.path.join(d, n)
                    for n in os.listdir(d)
                    if n.endswith(".parquet")
                ]
        return out

    def compact(self, table: str, target_file_bytes: int = 128 << 20,
                props: dict | None = None) -> int:
        """Bin-pack small files (Iceberg ``rewrite_data_files``).

        Long-lived tables accumulate one data dir per commit; at 100 TB the
        resulting small-file population dominates scan planning and open()
        overhead. Rewrites the CURRENT snapshot into ceil(total_bytes /
        target_file_bytes) files — rows unchanged, layout only; the commit
        is atomic, so concurrent readers see the old or new snapshot, never
        a mix. Older snapshots still time-travel to the pre-compaction
        layout until expired.
        """
        import math

        m = self._manifest(table)
        files = self._data_files(m["files"])
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total / target_file_bytes))
        df = self.read(table).repartition(n_out)
        path, written = self._write_data(table, df)
        return self._commit(
            table, [path], "compact", written,
            {"files_before": len(files), "files_after": n_out,
             "iceberg_sql": iceberg_compact_sql(table, target_file_bytes),
             **(props or {})},
        )

    def expire_snapshots(self, table: str, keep_last: int = 3) -> list[int]:
        """Drop snapshots older than the newest ``keep_last`` and delete the
        data dirs no retained snapshot references (Iceberg
        ``expire_snapshots``) — bounds metadata and storage growth; time
        travel stays available inside the retention window. Returns the
        expired version numbers."""
        import shutil

        cur = self._current_version(table)
        cutoff = cur - keep_last + 1
        retained_files: set[str] = set()
        expired: list[int] = []
        for s in self.snapshots(table):
            if s["version"] >= cutoff:
                retained_files.update(s["files"])
            else:
                expired.append(s["version"])
        for v in expired:
            os.remove(os.path.join(self._snapdir(table), f"v{v:06d}.json"))
        data_root = os.path.join(self._tdir(table), "data")
        if os.path.isdir(data_root):
            for name in os.listdir(data_root):
                d = os.path.join(data_root, name)
                if d not in retained_files:
                    shutil.rmtree(d)
        return expired

    def rollback(self, table: str, version: int) -> None:
        cur_tmp = os.path.join(self._snapdir(table), "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.replace(cur_tmp, os.path.join(self._snapdir(table), "CURRENT"))
