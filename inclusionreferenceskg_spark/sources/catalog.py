"""Table catalog: Iceberg-style partitioned tables with lineage manifests.

The production design targets Iceberg tables partitioned by
``(lang, bucket(url))``; no Iceberg runtime jar ships in this sandbox, so
this module provides the documented fallback (SURVEY §7.0): Parquet tables
with the identical logical schema and partition directory layout plus a
hand-written per-partition manifest under ``_lineage/`` — which the
checkpoint-resume path needs anyway.  The DataFrame-facing API is identical
either way (``writeTo(...).partitionedBy(lang, bucket(N, url))`` maps 1:1).

Manifest rows: ``(stage, partition, rows, checksum, wall_ms, written_at)``
— a resumed run reads the manifest and skips completed stages.
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_BUCKETS = 16

#: snapshot log entries are exactly v<N>.json — anything else in the
#: directory (editor temp, in-flight .tmp from _write_json, .DS_Store)
#: is ignored rather than crashing every later commit/read
_SNAP_RE = re.compile(r"^v(\d+)\.json$")


def _snapshot_version_files(d: str) -> list:
    """(version, filename) pairs of the well-formed snapshot files."""
    out = []
    for fn in os.listdir(d):
        m = _SNAP_RE.match(fn)
        if m:
            out.append((int(m.group(1)), fn))
    return sorted(out)


def _write_json(path: str, obj: dict) -> None:
    """Atomic metadata commit: dump to a temp file in the same directory
    and rename into place (atomic on POSIX), mirroring Iceberg's atomic
    metadata swap — a crash mid-dump can no longer leave a truncated
    manifest/snapshot that makes the table unreadable until manual
    repair.  fsync before the rename so the rename never publishes a
    file whose bytes are still in flight."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _norm(path: str) -> str:
    """Normalize a Spark file URI to a local filesystem path."""
    if path.startswith("file:"):
        path = path[5:]
        while path.startswith("//"):
            path = path[1:]
    return path


def _list_data_files(root: str) -> list:
    """Every parquet data file under ``root`` (recursive, sorted)."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(os.path.join(dirpath, fn))
    return sorted(out)


def _partition_cols(root: str, data_file: str) -> list:
    """Partition columns as laid out on disk under ``root`` (e.g.
    ``lang=en/url_bucket=3/part-0.parquet`` -> ``["lang", "url_bucket"]``)."""
    rel = os.path.relpath(data_file, root)
    return [seg.split("=", 1)[0]
            for seg in rel.split(os.sep)[:-1] if "=" in seg]


def with_bucket(df: DataFrame, url_col: str = "url",
                n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Stable hash bucket column (the bucket(url) transform)."""
    return df.withColumn(
        "url_bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)))


class Catalog:
    """A directory-backed table catalog with lineage manifests."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_lineage"), exist_ok=True)

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, "_lineage", f"{name}.json")

    def is_complete(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def write(self, name: str, df: DataFrame,
              partition_by: Sequence[str] = (),
              bucket_url: Optional[str] = None,
              n_buckets: int = DEFAULT_BUCKETS,
              mode: str = "overwrite",
              replaced_files: Optional[Sequence[str]] = None) -> DataFrame:
        """Write a stage table + manifest; returns the re-read DataFrame
        (cuts lineage like an Iceberg commit).  ``mode="append"`` is an
        Iceberg fast-append: the delta lands as new files under the same
        partition layout and the manifest is recommitted from the full
        table.  With ``replaced_files`` (the old files of partitions the
        recrawl path ``plans.checkpoint.run_upsert`` rewrites) it is the
        copy-on-write commit: those files drop out of the new snapshot's
        file list but stay on disk — shadowed, like ``compact`` — so every
        pre-upsert snapshot stays time-travelable (and ``rollback`` can
        undo a bad recrawl) until ``expire_snapshots`` vacuums them."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"Catalog.write mode must be 'overwrite' or "
                             f"'append', not {mode!r}")
        t0 = time.perf_counter()
        cols = list(partition_by)
        if bucket_url:
            df = with_bucket(df, bucket_url, n_buckets)
            cols.append("url_bucket")
        path = self.table_path(name)
        # compaction and copy-on-write appends shadow replaced files in
        # place (they stay on disk for time travel until
        # expire_snapshots), so an append's new table state is
        # METADATA-resolved: surviving files of the previous snapshot ∪
        # the files this write adds — never a raw directory listing,
        # which would double-count shadows
        prev_files = None
        if mode == "append":
            drop = {_norm(f) for f in (replaced_files or ())}
            prev_files = [f for f in self._latest_files(name)
                          if os.path.exists(f) and f not in drop]
        before = set(_list_data_files(path)) if prev_files is not None \
            else set()
        writer = df.write.mode(mode)
        if cols:
            writer = writer.partitionBy(*cols)
        writer.parquet(path)

        spark = df.sparkSession
        if prev_files is not None:
            cur_files = sorted(
                set(prev_files) | (set(_list_data_files(path)) - before))
        else:
            cur_files = _list_data_files(path)
        if cur_files:
            out = (spark.read.option("basePath", path).parquet(*cur_files))
        else:
            # a partitionBy write of ZERO rows leaves no part files (only
            # _SUCCESS) — commit an honest empty table with the writer's
            # schema instead of crashing (an upsert whose changed pages
            # produce no rows hits this)
            out = spark.createDataFrame([], df.schema)
        manifest = self._build_manifest(name, out, cols, t0)
        _write_json(self._manifest_path(name), manifest)
        self._commit_snapshot(name, manifest, mode, cur_files)
        return out

    def _build_manifest(self, name: str, out: DataFrame,
                        cols: Sequence[str], t0: float) -> dict:
        # one scan: per-partition row counts and per-partition XOR of row
        # hashes, folded on the driver (XOR is associative, so the fold
        # equals one table-wide bit_xor; no rows -> None, as bit_xor)
        hashable = [c for c, t in out.dtypes if not t.startswith("map")]
        groups = out.groupBy(*cols).agg(
            F.count("*").alias("rows"),
            F.expr("bit_xor(xxhash64({}))".format(
                ", ".join(f"`{c}`" for c in hashable))).alias("c")).collect()
        part_rows = [{"partition": "/".join(f"{c}={r[c]}" for c in cols),
                      "rows": r["rows"]} for r in groups]
        checksum = None
        for r in groups:
            if r["c"] is not None:
                checksum = r["c"] if checksum is None else checksum ^ r["c"]
        return {
            "stage": name,
            "partitions": part_rows,
            "rows": sum(p["rows"] for p in part_rows),
            "checksum": str(checksum),
            "wall_ms": int((time.perf_counter() - t0) * 1000),
        }

    # ------------------------------------------------ snapshot log
    # Iceberg-style time travel: every commit records the exact data-file
    # set, so a past snapshot is re-readable as long as its files survive.
    # Fast-appends keep all prior files; copy-on-write appends and
    # compact SHADOW the files they replace (on disk, out of the new
    # snapshot) until expire_snapshots vacuums them — full history either
    # way; only overwrite physically deletes files, so only it resets the
    # log.

    def _snapshot_dir(self, name: str) -> str:
        return os.path.join(self.root, "_lineage", f"{name}.snapshots")

    def _commit_snapshot(self, name: str, manifest: dict, mode: str,
                         files: Sequence[str]) -> None:
        # append/compact keep every prior file on disk (they merely
        # shadow the replaced ones), so history stays readable; only
        # overwrite physically deletes files (it wipes the directory), so
        # only it resets the snapshot log rather than leave dangling
        # versions
        d = self._snapshot_dir(name)
        if mode not in ("append", "compact") and os.path.isdir(d):
            for f in os.listdir(d):
                os.unlink(os.path.join(d, f))
        os.makedirs(d, exist_ok=True)
        versions = [v for v, _ in _snapshot_version_files(d)]
        version = (max(versions) + 1) if versions else 1
        snap = {
            "version": version,
            "rows": manifest["rows"],
            "checksum": manifest["checksum"],
            "files": sorted(_norm(f) for f in files),
        }
        _write_json(os.path.join(d, f"v{version}.json"), snap)

    def _snapshot_versions(self, name: str) -> list:
        d = self._snapshot_dir(name)
        if not os.path.isdir(d):
            return []
        return [v for v, _ in _snapshot_version_files(d)]

    def _snapshot(self, name: str, version: int) -> dict:
        with open(os.path.join(self._snapshot_dir(name),
                               f"v{version}.json")) as f:
            return json.load(f)

    def _latest_files(self, name: str) -> list:
        """Data files of the latest committed snapshot ([] if none)."""
        versions = self._snapshot_versions(name)
        if not versions:
            return []
        return [_norm(f) for f in self._snapshot(name, versions[-1])["files"]]

    def history(self, name: str) -> list:
        """Snapshot log (oldest first): [{version, rows, checksum}, ...]."""
        out = []
        for v in self._snapshot_versions(name):
            s = self._snapshot(name, v)
            out.append({k: s[k] for k in ("version", "rows", "checksum")})
        return out

    def read(self, spark: SparkSession, name: str,
             version: Optional[int] = None) -> DataFrame:
        """Read a stage table; ``version=k`` time-travels to snapshot k
        (partition columns recovered via basePath).

        The CURRENT state is resolved through the latest snapshot's file
        list, not a directory listing — after ``compact()`` the replaced
        small files are still on disk (shadowed, awaiting
        ``expire_snapshots``) and must not be double-read.  Files the
        latest snapshot lists but which are gone from disk (e.g. manual
        cleanup under the table dir; the upsert path itself never
        deletes, it only shadows) are skipped, matching the old
        directory-listing semantics.
        """
        if version is None:
            versions = self._snapshot_versions(name)
            if not versions:
                return spark.read.parquet(self.table_path(name))
            files = [f for f in self._latest_files(name)
                     if os.path.exists(f)]
            if not files:
                return spark.read.parquet(self.table_path(name))
            return (spark.read
                    .option("basePath", self.table_path(name))
                    .parquet(*files))
        snap = self._snapshot(name, version)
        return (spark.read
                .option("basePath", self.table_path(name))
                .parquet(*[_norm(f) for f in snap["files"]]))

    # ------------------------------------------- table maintenance
    def compact(self, spark: SparkSession, name: str,
                max_records_per_file: Optional[int] = None) -> dict:
        """Iceberg ``rewrite_data_files``: bin-pack each partition's
        small files (the debris of incremental fast-appends — at crawl
        scale thousands of tiny files per partition per day) into one
        right-sized file per partition, committed as a NEW snapshot.

        The replaced files are NOT deleted — they stay on disk so every
        prior snapshot remains time-travelable — they are merely dropped
        from the new snapshot's file list ("shadowed") until
        ``expire_snapshots`` garbage-collects them.  The rewrite is pure
        repartitioning: rows, schema, and the order-independent xxhash64
        checksum are asserted unchanged before the commit.
        """
        t0 = time.perf_counter()
        prev = self.manifest(name)
        path = self.table_path(name)
        old_files = [f for f in self._latest_files(name)
                     if os.path.exists(f)] or _list_data_files(path)
        if not old_files:  # zero-row table: nothing to rewrite
            return {"stage": name, "files_before": 0, "files_after": 0,
                    "rows": prev["rows"], "wall_ms": 0}
        cur = self.read(spark, name)
        cols = _partition_cols(path, old_files[0])
        before = set(_list_data_files(path))
        writer_df = (cur.repartition(*[F.col(c) for c in cols])
                     if cols else cur.coalesce(1))
        writer = writer_df.write.mode("append")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile",
                                   max_records_per_file)
        if cols:
            writer = writer.partitionBy(*cols)
        writer.parquet(path)
        new_files = sorted(set(_list_data_files(path)) - before)
        out = spark.read.option("basePath", path).parquet(*new_files)
        manifest = self._build_manifest(name, out, cols, t0)
        if (manifest["rows"] != prev["rows"]
                or manifest["checksum"] != prev["checksum"]):
            for f in new_files:  # abort: leave the table untouched
                os.unlink(f)
            raise RuntimeError(
                f"compact({name}): rewrite changed the table "
                f"(rows {prev['rows']}→{manifest['rows']}, checksum "
                f"{prev['checksum']}→{manifest['checksum']})")
        _write_json(self._manifest_path(name), manifest)
        self._commit_snapshot(name, manifest, "compact", new_files)
        return {"stage": name, "files_before": len(old_files),
                "files_after": len(new_files),
                "rows": manifest["rows"],
                "wall_ms": manifest["wall_ms"]}

    def rollback(self, spark: SparkSession, name: str,
                 version: int) -> dict:
        """Iceberg ``rollback_to_snapshot``: make snapshot ``version``
        current again by committing a NEW snapshot that points at the old
        file list — nothing is rewritten or deleted, and the rolled-back
        states stay in history (an operator error like a bad upsert is
        undone in O(metadata)).  Requires the target snapshot's files to
        still exist, i.e. not yet vacuumed by ``expire_snapshots``."""
        t0 = time.perf_counter()
        snap = self._snapshot(name, version)
        files = [_norm(f) for f in snap["files"]]
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise FileNotFoundError(
                f"rollback({name}, v{version}): {len(missing)} data "
                f"file(s) already expired, e.g. {missing[0]}")
        path = self.table_path(name)
        if files:
            out = spark.read.option("basePath", path).parquet(*files)
            cols = _partition_cols(path, files[0])
        else:
            out = self.read(spark, name).limit(0)
            cols = []
        manifest = self._build_manifest(name, out, cols, t0)
        _write_json(self._manifest_path(name), manifest)
        self._commit_snapshot(name, manifest, "compact", files)
        return {"stage": name, "restored_version": version,
                "new_version": self._snapshot_versions(name)[-1],
                "rows": manifest["rows"]}

    def expire_snapshots(self, name: str, keep_last: int = 1) -> dict:
        """Iceberg ``expire_snapshots`` + orphan-file vacuum: drop all
        but the newest ``keep_last`` snapshots and physically delete
        every data file no retained snapshot references.  This is the
        garbage-collection half of ``compact``/``upsert`` (which only
        shadow) and bounds the table's on-disk footprint under
        continuous fast-append + rewrite churn.

        Concurrency caveat (same as Iceberg's): a reader holding a
        DataFrame over a snapshot being expired fails at its next action
        once the files are unlinked — keep the retention window
        (``keep_last``) longer than the longest-running query."""
        versions = self._snapshot_versions(name)
        retained = versions[-keep_last:] if keep_last > 0 else []
        live = set()
        for v in retained:
            live.update(_norm(f) for f in self._snapshot(name, v)["files"])
        path = self.table_path(name)
        deleted = 0
        for f in _list_data_files(path):
            if f not in live:
                os.unlink(f)
                deleted += 1
        # prune now-empty partition directories (leaves _SUCCESS at root)
        for dirpath, _dirs, _files in os.walk(path, topdown=False):
            if dirpath != path and not os.listdir(dirpath):
                os.rmdir(dirpath)
        d = self._snapshot_dir(name)
        for v in versions:
            if v not in retained:
                os.unlink(os.path.join(d, f"v{v}.json"))
        return {"stage": name,
                "expired_snapshots": len(versions) - len(retained),
                "deleted_files": deleted}

    def manifest(self, name: str) -> dict:
        with open(self._manifest_path(name)) as f:
            return json.load(f)

    def committed_stages(self) -> list:
        """Names of every stage with a committed lineage manifest."""
        d = os.path.join(self.root, "_lineage")
        return [f[:-5] for f in os.listdir(d) if f.endswith(".json")]
