"""Iceberg-style snapshot/manifest layer over parquet.

No Iceberg runtime jar ships with this PySpark (SURVEY.md §7.2), so the
engine emulates the parts the north rule needs: snapshot commits, schema +
file manifests with per-file (≈ per-partition) row-count lineage, parent
chaining, and resume-from-checkpoint. The API is kept Catalog-shaped so a
real Iceberg catalog can be dropped in.

Layout:
    <root>/<table>/data/snap-<n>/part-*.parquet                (unpartitioned)
    <root>/<table>/data/snap-<n>/<col>=<v>/part-*.parquet      (partitioned)
    <root>/<table>/_snapshots/<n>.json        (written last = commit point)

Partitioned tables (``partition_by=[...]``) use hive-style directory
layout, so a plain ``load_table(...).where(col == v)`` scan gets Catalyst
partition pruning (PartitionFilters in the physical plan) for free, and
the manifest records per-file partition values plus per-file column
min/max from the parquet footers — ``select_files`` / ``load_table(...,
partition_filter=...)`` skip files at the manifest level without touching
data, which is what makes a resumed query over a 100 TB table read only
its time/space slice.

A stage is "done" iff a committed snapshot exists whose ``stage_key``
(stage name + parameter fingerprint + parent snapshot id) matches — that
makes resumed pipelines idempotent even if parameters change upstream.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _json_safe(v):
    """Footer statistics → JSON-storable scalar (dates/ts/bytes → str)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    return str(v)


def _partition_values(rel_path: str) -> dict:
    """Hive-style ``k=v`` path segments → {k: v} (values stay strings,
    exactly as written; '__HIVE_DEFAULT_PARTITION__' → None)."""
    from urllib.parse import unquote
    out = {}
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            v = unquote(v)
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return out


def _file_meta(fp: str, data_dir: str) -> dict:
    """Footer-derived lineage for one parquet file: row count, hive
    partition values, and per-column min/max across row groups."""
    import pyarrow.parquet as pq
    meta = pq.read_metadata(fp)
    stats: dict = {}
    undecidable: set = set()
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            cname = col.path_in_schema
            if "." in cname:      # nested leaves: skip, min/max not scalar
                continue
            if st is None or not st.has_min_max:
                # one stats-less row group makes the whole file's range
                # unknowable — a range from the other groups alone would
                # let stats_filter skip rows living in this group
                stats.pop(cname, None)
                undecidable.add(cname)
                continue
            if cname in undecidable:
                continue
            mn, mx = _json_safe(st.min), _json_safe(st.max)
            if cname in stats:
                prev = stats[cname]
                try:
                    mn = min(prev["min"], mn)
                    mx = max(prev["max"], mx)
                except TypeError:
                    # mixed decoded types across row groups (e.g. one
                    # group's bytes stat decodes as utf-8, another falls
                    # back to hex): keeping the earlier partial range
                    # would let stats_filter wrongly skip a file whose
                    # later groups match. Absent stats are treated as
                    # undecidable/kept, so drop the column entirely.
                    del stats[cname]
                    undecidable.add(cname)
                    continue
            stats[cname] = {"min": mn, "max": mx}
    return {"rows": meta.num_rows,
            "partition": _partition_values(os.path.relpath(fp, data_dir)),
            "stats": stats}


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- paths ------------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _snapdir(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_snapshots")

    # ---- snapshot bookkeeping ----------------------------------------------
    def snapshots(self, name: str) -> list[dict]:
        d = self._snapdir(name)
        if not os.path.isdir(d):
            return []
        out = []
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                try:
                    with open(os.path.join(d, fn)) as f:
                        out.append(json.load(f))
                except (json.JSONDecodeError, OSError):
                    continue  # torn write = uncommitted snapshot, ignored
        return sorted(out, key=lambda s: s["snapshot_id"])

    def latest_snapshot(self, name: str) -> dict | None:
        snaps = self.snapshots(name)
        return snaps[-1] if snaps else None

    def find_snapshot(self, name: str, stage_key: str) -> dict | None:
        for s in reversed(self.snapshots(name)):
            if s.get("stage_key") == stage_key:
                return s
        return None

    # ---- write / load -------------------------------------------------------
    def write_table(self, df: DataFrame, name: str, stage: str,
                    stage_key: str | None = None,
                    parent: dict | None = None,
                    metrics: dict | None = None,
                    partition_by: list[str] | None = None,
                    cluster_before_write: bool = True,
                    files_per_partition: int = 1,
                    zorder_by: list[str] | None = None,
                    zorder_files: int = 32) -> dict:
        """Commit a snapshot; with ``partition_by`` the data lands in
        hive-style partition directories (Catalyst partition pruning) and
        the manifest carries per-file partition values + column min/max
        (manifest-level file skipping).

        ``cluster_before_write`` repartitions by the partition columns
        first so each partition directory gets ``files_per_partition``
        files instead of one per upstream task — the small-files guard.
        ``files_per_partition > 1`` adds a deterministic sub-key
        (upstream partition id mod k) to the clustering so a partition
        directory's rows fan across k writer tasks: bigger scan
        parallelism for downstream stages, and the same lever that keeps
        one hot crawl-day from serializing on a single executor at
        100 TB."""
        snaps = self.snapshots(name)
        snap_id = (snaps[-1]["snapshot_id"] + 1) if snaps else 0
        data_dir = os.path.join(self._tdir(name), "data", f"snap-{snap_id}")
        t0 = time.perf_counter()
        writer = df
        if zorder_by:
            # Morton-cluster the layout so footer min/max stats prune
            # box queries at the manifest level (functions/zorder.py);
            # composes with hive partitioning — partition columns split
            # directories, the z-range splits files within the order
            from cartwright_spark.functions.zorder import zorder
            writer = zorder(df, list(zorder_by), n_files=zorder_files)
        elif partition_by and cluster_before_write:
            keys = [df[c] for c in partition_by]
            if files_per_partition > 1:
                from pyspark.sql import functions as F
                keys.append(F.pmod(F.spark_partition_id(),
                                   F.lit(files_per_partition)))
            writer = df.repartition(*keys)
        w = writer.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)
        wall = time.perf_counter() - t0

        # per-file lineage from footers: row count + partition values
        # (parsed from the hive path) + per-column min/max statistics
        files = []
        total = 0
        for fp in sorted(self._parquet_files(data_dir)):
            meta = _file_meta(fp, data_dir)
            entry = {"path": os.path.relpath(fp, self.root), **meta,
                     "bytes": os.path.getsize(fp)}
            files.append(entry)
            total += entry["rows"]

        manifest = {
            "snapshot_id": snap_id,
            "table": name,
            "stage": stage,
            "partition_by": list(partition_by or []),
            "zorder_by": list(zorder_by or []),
            "stage_key": stage_key or stage,
            "parent_snapshot": None if parent is None else parent["snapshot_id"],
            "parent_table": None if parent is None else parent["table"],
            "created_at": time.time(),
            "schema": df.schema.json(),
            "data_dir": os.path.relpath(data_dir, self.root),
            "files": files,
            "row_count": total,
            "write_wall_sec": wall,
            "metrics": metrics or {},
        }
        os.makedirs(self._snapdir(name), exist_ok=True)
        final = os.path.join(self._snapdir(name), f"{snap_id}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, final)  # atomic commit point
        return manifest

    def amend_metrics(self, name: str, snapshot_id: int,
                      metrics: dict) -> dict:
        """Merge metrics into an already-committed manifest (atomic rewrite).
        Used for wall-clock figures only known after the commit point —
        lineage fields are immutable."""
        final = os.path.join(self._snapdir(name), f"{snapshot_id}.json")
        with open(final) as f:
            manifest = json.load(f)
        manifest["metrics"].update(metrics)
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, final)
        return manifest

    def _parquet_files(self, data_dir: str) -> list[str]:
        out = []
        for d, _, fns in os.walk(data_dir):
            out.extend(os.path.join(d, fn) for fn in fns
                       if fn.endswith(".parquet"))
        return out

    def _snap(self, name: str, snapshot_id: int | None,
              as_of_ts: float | None = None) -> dict:
        if snapshot_id is not None and as_of_ts is not None:
            raise ValueError("pass snapshot_id OR as_of_ts, not both")
        if as_of_ts is not None:
            older = [s for s in self.snapshots(name)
                     if s.get("created_at", 0.0) <= as_of_ts]
            snap = older[-1] if older else None
        elif snapshot_id is None:
            snap = self.latest_snapshot(name)
        else:
            snap = next((s for s in self.snapshots(name)
                         if s["snapshot_id"] == snapshot_id), None)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for table {name}")
        return snap

    def expire_snapshots(self, name: str, keep_last: int = 1) -> list[int]:
        """Table maintenance: drop all but the newest ``keep_last``
        snapshots — manifests AND their data directories (each snapshot
        owns its own ``snap-<n>`` dir, so this is safe physical deletion,
        no reference counting). The 100 TB operational reality: every
        pipeline rerun commits a full new snapshot, so unexpired tables
        grow by one corpus per run. Returns the expired snapshot ids.
        Time travel to an expired snapshot then raises FileNotFoundError
        (same contract as real Iceberg's expire_snapshots)."""
        import shutil
        snaps = self.snapshots(name)
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (never expire HEAD)")
        expired = snaps[:-keep_last]
        for s in expired:
            shutil.rmtree(os.path.join(self.root, s["data_dir"]),
                          ignore_errors=True)
            try:
                os.remove(os.path.join(self._snapdir(name),
                                       f"{s['snapshot_id']}.json"))
            except FileNotFoundError:
                pass
        return [s["snapshot_id"] for s in expired]

    def select_files(self, name: str, snapshot_id: int | None = None,
                     partition_filter=None, stats_filter=None) -> list[dict]:
        """Manifest-level file pruning — no data or footer reads.

        ``partition_filter``: callable({col: str_value}) -> bool over the
        file's hive partition values. ``stats_filter``: callable({col:
        {"min","max"}}) -> bool over footer min/max (return True to KEEP;
        a conservative filter must keep files whose stats it can't
        decide). This is the resume path's skip list: a date-bounded
        re-run touches only matching files of a committed snapshot."""
        snap = self._snap(name, snapshot_id)
        files = snap["files"]
        if partition_filter is not None:
            files = [f for f in files
                     if partition_filter(f.get("partition", {}))]
        if stats_filter is not None:
            files = [f for f in files if stats_filter(f.get("stats", {}))]
        return files

    def load_table(self, spark: SparkSession, name: str,
                   snapshot_id: int | None = None,
                   partition_filter=None,
                   as_of_ts: float | None = None) -> DataFrame:
        """Read a committed snapshot from its manifest: the files it lists
        (cut down first by ``partition_filter`` when given) under the
        schema it records, so no footer schema-inference job runs. Hive
        partition columns are left out of that schema and discovered from
        the file paths (basePath), so they come back typed as a directory
        read types them and ``.where`` on them prunes in Catalyst. Time
        travel: ``snapshot_id`` pins an exact snapshot; ``as_of_ts``
        resolves the newest snapshot committed at or before that unix
        time (Iceberg's FOR TIMESTAMP AS OF)."""
        snap = self._snap(name, snapshot_id, as_of_ts=as_of_ts)
        data_dir = os.path.join(self.root, snap["data_dir"])
        schema = StructType([
            f for f in StructType.fromJson(json.loads(snap["schema"]))
            if f.name not in snap["partition_by"]])
        files = snap["files"] if partition_filter is None else \
            self.select_files(name, snap["snapshot_id"],
                              partition_filter=partition_filter)
        # empty selection: a 0-row read of every file keeps the schema
        df = spark.read.schema(schema).option("basePath", data_dir).parquet(
            *[os.path.join(self.root, f["path"])
              for f in files or snap["files"]])
        return df if files else df.limit(0)

    def lineage(self, name: str) -> list[dict]:
        """Manifest chain newest→oldest following parent pointers."""
        chain = []
        snap = self.latest_snapshot(name)
        while snap is not None:
            chain.append(snap)
            pt, ps = snap.get("parent_table"), snap.get("parent_snapshot")
            if pt is None:
                break
            snap = next((s for s in self.snapshots(pt)
                         if s["snapshot_id"] == ps), None)
        return chain
